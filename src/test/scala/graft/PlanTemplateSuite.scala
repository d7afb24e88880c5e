package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Coord, GraftConf, PlanTemplates}
import graft.vep.{Annotate, VepOptions}

/** Annotate plan templates ([[PlanTemplates]]) on file-backed inputs:
  * the first call against a context builds the plan, later calls bind
  * their own VCF into it. A hit must give exactly the rows of a
  * template-free build; anything construction reads — the VCF's
  * derivation, column names and field metadata, the context's
  * directory, the SQL confs, the options — must miss instead. */
class PlanTemplateSuite extends SparkSpec {

  private val root = tempDir("tpl")

  /** A context in the shape the fixture tables derive from. `salt`
    * moves the transcript, regulatory and motif keys, so two contexts
    * with one schema annotate differently. */
  private def writeContext(name: String, salt: Int): String = {
    val dir = s"$root/$name"
    spark.range(1, 3001).where("id % 2 = 0").selectExpr("id AS p_partkey")
      .write.parquet(s"$dir/part.parquet")
    spark.range(1 + salt, 11 + salt)
      .selectExpr("explode(array(id * 30, id * 30 + 10, id * 30 + 20)) AS s_suppkey")
      .write.parquet(s"$dir/supplier.parquet")
    spark.range(1, 15001).where(s"id % 10 = $salt % 10").selectExpr("id AS c_custkey")
      .write.parquet(s"$dir/customer.parquet")
    dir
  }

  private def writeVcf(name: String, from: Long, until: Long): String = {
    val dir = s"$root/$name"
    spark.range(from, until).selectExpr("id AS p_partkey").write.parquet(s"$dir/part.parquet")
    dir
  }

  private lazy val ctx = writeContext("ctx", 0)
  private lazy val ctx2 = writeContext("ctx2", 3)
  private lazy val vcfA = writeVcf("vcf_a", 1, 601)
  private lazy val vcfB = writeVcf("vcf_b", 601, 1201)

  private def annotate(vcf: DataFrame, dir: String,
      opts: VepOptions = VepOptions.Everything): DataFrame =
    Annotate.annotate(vcf, Tables.vepCache(spark, dir), Tables.transcripts(spark, dir),
      Tables.exons(spark, dir), Tables.siftContext(spark, dir),
      Tables.polyphenContext(spark, dir), Tables.regulatory(spark, dir),
      Tables.motifs(spark, dir), opts)

  private def vcf(dir: String): DataFrame = Tables.vcf(spark, dir)

  /** (rows, template hits) of one call. */
  private def run(df: => DataFrame): (Seq[String], Long) = {
    val h0 = PlanTemplates.hits.get()
    val d = df
    val hits = PlanTemplates.hits.get() - h0
    (d.collect().map(_.mkString("|")).sorted.toSeq, hits)
  }

  /** Builds (and so stores) the template without running it. */
  private def prime(): Unit = annotate(vcf(vcfA), ctx)

  /** Rows of a template-free build: every session cache dropped first. */
  private def fresh(df: => DataFrame): Seq[String] = {
    SparkEntry.invalidate(spark)
    val (rows, hits) = run(df)
    assert(hits == 0)
    rows
  }

  test("a second VCF binds into the template and matches a template-free build") {
    SparkEntry.invalidate(spark)
    val (rowsA, hitsA) = run(annotate(vcf(vcfA), ctx))
    assert(hitsA == 0 && PlanTemplates.stored(spark) == 1)
    val (rowsB, hitsB) = run(annotate(vcf(vcfB), ctx))
    assert(hitsB == 1, "same context, same VCF shape: the template must be reused")
    assert(rowsB.nonEmpty && rowsB.size == 600)
    assert(rowsB != rowsA, "the rebound plan must read the caller's VCF")
    assert(rowsB.exists(_.contains("|Transcript|")), "fixture must produce transcript entries")
    assert(rowsB == fresh(annotate(vcf(vcfB), ctx)))
  }

  test("another VCF derivation or schema builds fresh") {
    SparkEntry.invalidate(spark)
    prime()
    val filtered = () => annotate(vcf(vcfB).where(col("id") % 3 =!= 0), ctx)
    val (rowsF, hitsF) = run(filtered())
    assert(hitsF == 0)
    assert(rowsF.size == 400 && rowsF == fresh(filtered()))
    prime()
    val widened = () => annotate(vcf(vcfB).withColumn("qual", lit(30.0)), ctx)
    val (rowsW, hitsW) = run(widened())
    assert(hitsW == 0)
    assert(rowsW == fresh(widened()))

    // a rename and a coordinate tag differ from the stored template only
    // in what canonicalization erases: a column name, a field's metadata
    def provider(v: DataFrame): DataFrame =
      Annotate.annotateProviderFrame(v, Tables.vepCache(spark, ctx),
        Tables.transcripts(spark, ctx), Tables.exons(spark, ctx), Tables.siftContext(spark, ctx),
        Tables.polyphenContext(spark, ctx), Tables.regulatory(spark, ctx), Tables.motifs(spark, ctx))
    provider(vcf(vcfA).withColumn("qual", lit(30.0)))
    val renamed = () => provider(vcf(vcfB).withColumn("score", lit(30.0)))
    val (rowsR, hitsR) = run(renamed())
    assert(hitsR == 0)
    assert(renamed().columns.contains("score") && !renamed().columns.contains("qual"))
    assert(rowsR == fresh(renamed()))

    val tagged = (zeroBased: Boolean) => annotate(Coord.mark(vcf(vcfB), zeroBased), ctx)
    val oneBased = fresh(tagged(false))
    annotate(Coord.mark(vcf(vcfA), zeroBased = false), ctx)
    val (rowsZ, hitsZ) = run(tagged(true))
    assert(hitsZ == 0)
    // precondition: the tag moves the cache lookup, so a shared template would show
    assert(rowsZ != oneBased)
    assert(rowsZ == fresh(tagged(true)))
  }

  test("a same-schema context at another path never shares a template") {
    SparkEntry.invalidate(spark)
    val (rows1, _) = run(annotate(vcf(vcfB), ctx))
    // precondition: the two contexts canonicalize alike (path-blind V1
    // parquet) yet annotate differently, so a shared template would show
    assert(PlanTemplates.canonicalString(Tables.transcripts(spark, ctx).queryExecution.analyzed) ==
      PlanTemplates.canonicalString(Tables.transcripts(spark, ctx2).queryExecution.analyzed))
    val (rows2, hits2) = run(annotate(vcf(vcfB), ctx2))
    assert(hits2 == 0)
    assert(rows2 != rows1)
    assert(rows2 == fresh(annotate(vcf(vcfB), ctx2)))
  }

  test("changed SQL confs and options build fresh") {
    def missesAndMatches(set: () => Unit, unset: () => Unit,
        opts: VepOptions = VepOptions.Everything): Unit = {
      SparkEntry.invalidate(spark)
      prime()
      set()
      try {
        val (rows, hits) = run(annotate(vcf(vcfB), ctx, opts))
        assert(hits == 0)
        assert(rows == fresh(annotate(vcf(vcfB), ctx, opts)))
      } finally unset()
    }
    val limit = GraftConf.BroadcastBuildLimit
    // a 1-byte broadcast cap keeps every dim out of localization
    missesAndMatches(() => spark.conf.set(limit, "1"), () => spark.conf.unset(limit))
    val ansi = "spark.sql.ansi.enabled"
    val was = spark.conf.get(ansi)
    missesAndMatches(() => spark.conf.set(ansi, (!was.toBoolean).toString),
      () => spark.conf.set(ansi, was))
    missesAndMatches(() => (), () => (), VepOptions.Everything.copy(distance = 1000L))
  }

  test("in-memory inputs are never stored") {
    SparkEntry.invalidate(spark)
    val mem = vcf(vcfA).collect()
    val memVcf = () => spark.createDataFrame(java.util.Arrays.asList(mem: _*), vcf(vcfA).schema)
    val (rows1, hits1) = run(annotate(memVcf(), ctx))
    val (rows2, hits2) = run(annotate(memVcf(), ctx))
    assert(hits1 == 0 && hits2 == 0 && PlanTemplates.stored(spark) == 0)
    assert(rows1 == rows2 && rows1.size == 600)
  }

  test("invalidate drops the template; so does stopping the session") {
    SparkEntry.invalidate(spark)
    prime()
    assert(PlanTemplates.stored(spark) == 1)
    Annotate.invalidateDims(spark)
    assert(PlanTemplates.stored(spark) == 0)
    val h0 = PlanTemplates.hits.get()
    annotate(vcf(vcfB), ctx)
    assert(PlanTemplates.hits.get() == h0 && PlanTemplates.stored(spark) == 1)
    // a stopped session's template goes on the next access from any
    // session (the shared spec session is rebuilt for later suites)
    val old: SparkSession = spark
    old.stop()
    val next = SparkSpec.session
    assert(!(next eq old))
    assert(PlanTemplates.stored(old) == 1)
    val dir = ctx
    Annotate.annotate(Tables.vcf(next, vcfA), Tables.vepCache(next, dir),
      Tables.transcripts(next, dir), Tables.exons(next, dir), Tables.siftContext(next, dir),
      Tables.polyphenContext(next, dir), Tables.regulatory(next, dir), Tables.motifs(next, dir))
    assert(PlanTemplates.stored(old) == 0)
    assert(PlanTemplates.stored(next) == 1)
  }
}
