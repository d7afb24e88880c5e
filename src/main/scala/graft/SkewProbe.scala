package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Adversarial-skew probe for the round-18 SHUFFLE_HASH join paths
  * (VERDICT r18 #7): the banded SimHash self-joins and the grid-bucket
  * partitioned interval joins trade sort-merge's spillable path for a
  * per-partition hash table, and the verdict asked for a hot-key
  * fixture proving (a) what the per-task BUILD memory actually is
  * under a degenerate key, (b) whether AQE's skew machinery can still
  * engage on these joins, and (c) that the star-compression guard
  * bounds the identical-signature blowup.
  *
  * Cases (all run from parquet like the gates, never cached):
  *
  *  - `simhash16_hot`: the sf corpus plus `hotN` VERBATIM-identical
  *    documents — every hot doc shares ONE 16-bit signature, so
  *    without a guard all of them land in the same four (band, nibble)
  *    groups of [[graft.dedup.Dedup.simhashPairs]]' banded self-join
  *    and expand ~hotN²/2 pairs into the distinct. The identical-class
  *    star guard (cap 1024 < hotN) sends only the class representative
  *    into the join — peak task memory is the evidence.
  *  - `simhash64_star` / `simhash64_clique`: the same hot class
  *    through [[graft.dedup.Dedup.simhash64Pairs]] with the default
  *    `identicalCliqueCap` (star guard ON: pair list LINEAR in the
  *    class) vs a cap above the class size (full clique: ~hotN²/2
  *    rows) — output row counts pin that the guard engages and what
  *    it saves.
  *  - `grid_hot_bucket`: a partitioned interval join whose RIGHT side
  *    piles `hotRight` rows into one grid bucket (one shuffle key).
  *    Run twice: with the session's default AQE skew thresholds (the
  *    hot partition is ~MBs, far below the 256 MB skew threshold — no
  *    split expected, and none needed), then with the thresholds
  *    forced low to prove OptimizeSkewedJoin CAN split this
  *    shuffled-hash join's ENSURE_REQUIREMENTS exchanges when a
  *    cluster-scale hot bucket crosses them (`skewEngaged` reads the
  *    final adaptive plan).
  *
  * Usage: graft.SkewProbe [passes=2] [hotN=3000] [hotRight=300000]
  * Output: one JSON line per (case, pass). */
object SkewProbe {
  def main(args: Array[String]): Unit = {
    val passes = if (args.length > 0) args(0).toInt else 2
    val hotN = if (args.length > 1) args(1).toInt else 3000
    val hotRight = if (args.length > 2) args(2).toInt else 300000
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.constraintPropagation.enabled", "false")
      .config("spark.shuffle.sort.bypassMergeThreshold", "0")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val lock = new Object
    var tasks = 0L; var taskMs = 0L; var maxTaskMs = 0L; var peakMem = 0L
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
        val m = e.taskMetrics
        if (m != null) {
          tasks += 1; taskMs += m.executorRunTime
          maxTaskMs = math.max(maxTaskMs, m.executorRunTime)
          peakMem = math.max(peakMem, m.peakExecutionMemory)
        }
      }
    })
    def reset(): Unit =
      lock.synchronized { tasks = 0; taskMs = 0; maxTaskMs = 0; peakMem = 0 }
    // the noop write runs its own QueryExecution; the listener hands us
    // the EXECUTED one, whose adaptive plan is final (isFinalPlan=true)
    // and carries any AQEShuffleRead skew-split annotations
    @volatile var lastPlan = ""
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit =
          lastPlan = qe.executedPlan.toString
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      })
    def run(tag: String, pass: Int, df: => DataFrame,
        extra: String = ""): Unit = {
      reset()
      val t0 = System.nanoTime()
      val d = df
      d.write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      // task-end events and the executed plan arrive on the async
      // listener bus: wait until it is empty
      org.apache.spark.sql.GraftExecBridge.drainListenerBus(spark.sparkContext)
      // the join's isSkewJoin marker renders as "(skew=true)"; a bare
      // "skew" substring also matches this probe's own fixture paths
      val skew = lastPlan.toLowerCase.contains("skew=true")
      val (t, tm, mx, pk) = lock.synchronized((tasks, taskMs, maxTaskMs, peakMem))
      // scalastyle:off println
      println(f"""{"probe":"skew","case":"$tag","pass":$pass,"wallSec":$wall%.2f,"tasks":$t,"taskSec":${tm / 1e3}%.2f,"maxTaskSec":${mx / 1e3}%.2f,"peakTaskMemMB":${pk / 1048576.0}%.1f,"skewEngaged":$skew$extra}""")
      // scalastyle:on println
    }

    // hot corpus: the sf documents plus hotN verbatim-identical docs
    val base = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    val hot = spark.range(hotN).select((col("id") + 10000000L).as("doc_id"),
      lit("the quick brown fox jumps over the lazy dog again and again tonight").as("text"))
    val corpusPath = "/tmp/graft_skew_corpus"
    base.unionByName(hot).write.mode("overwrite").parquet(corpusPath)
    val corpus = spark.read.parquet(corpusPath)
    val nDocs = corpus.count()

    // hot-bucket interval fixture: right side piles hotRight rows into
    // grid bucket 0 of one contig (plus a uniform spread so the bucket
    // is SKEWED, not merely the only key); left probes that bucket
    val right = spark.range(hotRight.toLong).select(
        lit("chr1").as("contig"),
        (col("id") % 900 + 1).as("pos_start"),
        (col("id") % 900 + 51).as("pos_end"))
      .unionByName(spark.range(hotRight.toLong / 10).select(
        lit("chr1").as("contig"),
        (col("id") * 1000 + 1).as("pos_start"),
        (col("id") * 1000 + 51).as("pos_end")))
    val left = spark.range(200).select(
      lit("chr1").as("contig"),
      (col("id") % 900 + 1).as("pos_start"),
      (col("id") % 900 + 31).as("pos_end"))
    val gridPathR = "/tmp/graft_skew_right"; val gridPathL = "/tmp/graft_skew_left"
    right.write.mode("overwrite").parquet(gridPathR)
    left.write.mode("overwrite").parquet(gridPathL)
    val rightP = spark.read.parquet(gridPathR)
    val leftP = spark.read.parquet(gridPathL)

    val hot16Rows = graft.dedup.Dedup
      .simhashPairs(corpus, "text", "doc_id").count()
    val starRows = graft.dedup.Dedup
      .simhash64Pairs(corpus, "text", "doc_id").count()
    val cliqueRows = graft.dedup.Dedup
      .simhash64Pairs(corpus, "text", "doc_id",
        identicalCliqueCap = hotN * 2).count()
    val gridRows = graft.ranges.Ranges.overlapPartitioned(leftP, rightP).count()

    for (p <- 1 to passes) {
      run("simhash16_hot", p,
        graft.dedup.Dedup.simhashPairs(corpus, "text", "doc_id"),
        s""","hotN":$hotN,"docs":$nDocs,"outRows":$hot16Rows""")
      run("simhash64_star", p,
        graft.dedup.Dedup.simhash64Pairs(corpus, "text", "doc_id"),
        s""","hotN":$hotN,"outRows":$starRows""")
      run("simhash64_clique", p,
        graft.dedup.Dedup.simhash64Pairs(corpus, "text", "doc_id",
          identicalCliqueCap = hotN * 2),
        s""","hotN":$hotN,"outRows":$cliqueRows""")
      run("grid_hot_bucket", p,
        graft.ranges.Ranges.overlapPartitioned(leftP, rightP),
        s""","hotRight":$hotRight,"outRows":$gridRows""")
    }
    // prove AQE's skew split CAN engage on the grid SHJ when a hot
    // bucket crosses the (lowered) thresholds — at cluster scale the
    // same mechanism fires at the default 256 MB threshold
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1m")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    run("grid_hot_bucket_lowthresh", passes,
      graft.ranges.Ranges.overlapPartitioned(leftP, rightP),
      s""","hotRight":$hotRight,"outRows":$gridRows""")
    spark.stop()
  }
}
