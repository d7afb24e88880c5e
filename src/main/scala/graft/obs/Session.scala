package graft.obs

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one session recipe of the tool mains (Bench, Verify, Profile,
  * Probe, Micro, Explain). Every setting is applied only when the conf
  * does not already carry it, so a standard `-Dspark.k=v` JVM option
  * overrides the recipe. */
object Session {
  /** `SPARK_GRAFT_CPUS`, else the calling main's own default. */
  def cores(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(default)

  def recipe(cores: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.adaptive.enabled" -> "true",
    // constraint propagation is quadratic in plan width and cost the
    // annotate pipeline ~2 s of planning time per invocation (optimizer +
    // AQE re-planning); every gate query is oracle-verified under it
    "spark.sql.constraintPropagation.enabled" -> "false",
    // with 32 reduce partitions the bypass-merge writer opens one file
    // per (map task x partition), ~45 executor-seconds of file handling
    // per annotate run at bench scale; 0 selects the tungsten-sort
    // writer, one spill file per map task
    "spark.shuffle.sort.bypassMergeThreshold" -> "0",
    // the annotate-family plans compile >100 whole-stage-codegen units;
    // the default 100-entry cache evicted and recompiled them every run
    "spark.sql.codegen.cache.maxEntries" -> "10000",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  /** `conf` with every recipe setting it does not carry yet. */
  def fill(conf: SparkConf, cores: Int): SparkConf = {
    recipe(cores).foreach { case (k, v) => conf.setIfMissing(k, v) }
    conf
  }

  def apply(defaultCores: Int, logLevel: String = "ERROR"): SparkSession = {
    // new SparkConf() loads the JVM's spark.* system properties
    val conf = fill(new SparkConf(), cores(defaultCores))
    val spark = SparkSession.builder().config(conf).getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
