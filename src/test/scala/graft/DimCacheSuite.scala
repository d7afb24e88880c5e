package graft

import org.apache.spark.sql.functions._

import graft.vep.Annotate

/** The session dim cache must key on the PHYSICAL identity of every
  * file-backed leaf, not just the canonicalized plan: on Spark 4.1.2 a
  * V1 parquet LogicalRelation canonicalizes without its location, so
  * two same-schema reads of different directories render the same
  * canonical string (round-13 ADVICE, high). A collision here is a
  * wrong-answer bug — `localize` would return the OTHER directory's
  * collected rows. */
class DimCacheSuite extends SparkSpec {
  import spark.implicits._

  private def writeDir(tag: String): String = {
    val dir = tempDir(s"dim_$tag")
    Seq((tag, 1L), (tag + "_b", 2L)).toDF("name", "value")
      .write.mode("overwrite").parquet(dir)
    dir
  }

  test("same-schema dims from two dirs never share a cache entry") {
    val dirA = writeDir("alpha")
    val dirB = writeDir("beta")
    val a = spark.read.parquet(dirA)
    val b = spark.read.parquet(dirB)
    // same schema + same (empty) derivation → identical canonical plans
    assert(a.queryExecution.analyzed.canonicalized.toString ==
           b.queryExecution.analyzed.canonicalized.toString,
      "precondition: V1 parquet canonical plans are path-blind")
    val la = Annotate.localize(a).select("name").as[String].collect().sorted
    val lb = Annotate.localize(b).select("name").as[String].collect().sorted
    assert(la.toSeq == Seq("alpha", "alpha_b"))
    assert(lb.toSeq == Seq("beta", "beta_b"))
  }

  test("same dir + same derivation hits the cache (same Dataset back)") {
    val dir = writeDir("gamma")
    val d1 = Annotate.localize(spark.read.parquet(dir).filter(col("value") > 0))
    val d2 = Annotate.localize(spark.read.parquet(dir).filter(col("value") > 0))
    assert(d1 eq d2, "identical file-backed dim plans should share one localized copy")
  }

  test("a fresh session never reuses another session's localized dim") {
    val dir = writeDir("delta")
    val s2 = spark.newSession()
    val d1 = Annotate.localize(spark.read.parquet(dir))
    val d2 = Annotate.localize(s2.read.parquet(dir))
    assert(!(d1 eq d2), "sessions must not share cache entries")
    assert(d2.sparkSession eq s2)
  }

  test("invalidateDims drops a session's cache; next localize rebuilds") {
    // explicit eviction (round-14 ADVICE: weak keys can never collect
    // an entry whose cached frames reference the session)
    val dir = writeDir("epsilon")
    val d1 = Annotate.localize(spark.read.parquet(dir))
    Annotate.invalidateDims(spark)
    val d2 = Annotate.localize(spark.read.parquet(dir))
    assert(!(d1 eq d2), "invalidateDims must drop the cached localization")
    assert(d2.select("name").as[String].collect().sorted.toSeq ==
      Seq("epsilon", "epsilon_b"))
  }
}
