package graft

import org.apache.spark.sql.functions._
import graft.vep.Vep

/** DataSource V2 VCF reader: schema, parallel file partitions, and
  * chrom-equality pushdown into the line scanner. */
class SourcesSuite extends SparkSpec {
  import spark.implicits._

  private def writeVcf(path: String): Unit = {
    val df = Seq(
      ("chr0", 100L, 100L, 1L, "A", "G"),
      ("chr1", 200L, 200L, 2L, "C", "T"),
      ("chr0", 300L, 300L, 3L, "G", "GA"))
      .toDF("chrom", "start", "end", "id", "ref", "alt")
      .withColumn("vid", col("id"))
    Vep.toVcfLines(df, Seq("vid")).repartition(2)
      .write.mode("overwrite").text(path)
  }

  test("DSv2 VCF source reads written lines with the declared schema") {
    val path = tempDir("vcf_dsv2")
    writeVcf(path)
    val back = spark.read.format("graft.sources.VcfDataSource")
      .option("path", path).load()
    assert(back.columns.toSeq ==
      Seq("chrom", "start", "id", "ref", "alt", "qual", "filter", "info"))
    assert(back.count() == 3)
    val r = back.where($"id" === "3").collect().head
    assert(r.getString(0) == "chr0" && r.getLong(1) == 300L &&
      r.getString(4) == "GA" && r.getString(7) == "VID=3")
  }

  test("position-cache point lookup prunes partitions and pushes start") {
    import graft.sources.PositionCache
    // cache keys are Ensembl BARE names; the chr-prefixed PROBE is
    // normalized like the reference's KV exec strips the VCF side
    // (kv_cache/cache_exec.rs:565-569)
    val cache = Seq(
      ("0", 100L, 100L, "rs1", "A/G", 0.5),
      ("0", 200L, 200L, "rs2", "C/T", 0.1),
      ("1", 100L, 100L, "rs3", "G/A", 0.9))
      .toDF("chrom", "start", "end", "variation_name", "allele_string", "af")
    val path = tempDir("kvcache")
    PositionCache.write(cache, path)
    val hit = PositionCache.lookup(PositionCache.open(spark, path), "chr0", 200L)
    assert(hit.collect().map(_.getAs[String]("variation_name")).toSeq == Seq("rs2"))
    val plan = hit.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("= 0)"),
      s"partition pruning missing:\n$plan")
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(start,200)"),
      s"start pushdown missing:\n$plan")
    // batched probe: chr-prefixed keys hit the bare-named store
    val keys = Seq(("chr0", 100L), ("chr1", 100L)).toDF("chrom", "start")
    val got = PositionCache.lookupBatch(PositionCache.open(spark, path), keys)
      .collect().map(_.getAs[String]("variation_name")).toSet
    assert(got == Set("rs1", "rs3"))
  }

  test("writeVcf reports live progress and writes standalone shards") {
    val df = (1 to 500).map(i => ("1", i.toLong, i.toLong, s"v$i", "A", "G"))
      .toDF("chrom", "start", "end", "id", "ref", "alt")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val path = tempDir("vcf_progress")
    val total = Vep.writeVcf(
      Vep.toVcfLines(df.repartition(4), Seq()), path,
      Vep.vcfHeader(Seq()), onProgress = seen.add(_), pollMs = 10)
    assert(total == 500)
    val values = {
      import scala.jdk.CollectionConverters._
      seen.iterator().asScala.toVector
    }
    // the callback fired, monotonically, and ended on the exact count
    assert(values.nonEmpty && values.last == 500)
    assert(values.zip(values.tail).forall { case (a, b) => a <= b })
    // every shard is a standalone VCF: header first, then rows
    val shards = new java.io.File(path).listFiles().filter(_.getName.endsWith(".vcf"))
    assert(shards.length == 4)
    val rows = shards.map { f =>
      val lines = scala.io.Source.fromFile(f, "UTF-8").getLines().toVector
      assert(lines.head == "##fileformat=VCFv4.2", f.getName)
      assert(lines.exists(_.startsWith("#CHROM")))
      lines.count(!_.startsWith("#"))
    }.sum
    assert(rows == 500)
  }

  test("many-member BGZF survives a stream whose available() is 0") {
    import graft.sources.Bgzf
    // the failure mode the sniff routing exists for: the JDK's
    // GZIPInputStream silently STOPS at a gzip member boundary when
    // the underlying stream's available() returns 0 — on a BGZF file
    // (many-member by construction) that truncates rows instead of
    // erroring. Pin that the BlockInputStream route decodes EVERY
    // member under an adversarial available()==0 stream.
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new Bgzf.BlockOutputStream(bytes)
    val n = 3000
    for (i <- 0 until n) {
      out.write(s"chr1\t${i + 1}\tv$i\tA\tG\t.\tPASS\tVID=$i\n".getBytes("UTF-8"))
      out.flush() // one BGZF member per line: n-member file
    }
    out.close()
    val starved = new java.io.ByteArrayInputStream(bytes.toByteArray) {
      override def available(): Int = 0
    }
    val buf = new java.io.BufferedInputStream(starved, 131072)
    assert(Bgzf.sniffBgzf(buf), "BGZF member must sniff as BGZF")
    val reader = new java.io.BufferedReader(new java.io.InputStreamReader(
      new Bgzf.BlockInputStream(buf), "UTF-8"))
    var rows = 0
    var line = reader.readLine()
    while (line != null) { rows += 1; line = reader.readLine() }
    assert(rows == n, s"expected $n rows across $n BGZF members, got $rows")
    // contrast: a plain single-member gzip of the same text sniffs as
    // NOT BGZF (routes to GZIPInputStream)
    val plain = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(plain)
    gz.write("chr1\t1\tv0\tA\tG\t.\tPASS\tVID=0\n".getBytes("UTF-8")); gz.close()
    assert(!Bgzf.sniffBgzf(new java.io.BufferedInputStream(
      new java.io.ByteArrayInputStream(plain.toByteArray))))
  }

  test("position-cache write normalizes chr-prefixed chroms to bare keys") {
    import graft.sources.PositionCache
    // the reference strips at key ENCODING on both build and probe
    // (kv_cache/key_encoding.rs:61) — a chr-prefixed input frame must
    // still be hit by the bare-probing lookups
    val cache = Seq(
      ("chr7", 100L, "rs10"),
      ("12", 200L, "rs11"))
      .toDF("chrom", "start", "variation_name")
    val path = tempDir("kvcache_chr")
    PositionCache.write(cache, path)
    val stored = PositionCache.open(spark, path)
    assert(stored.select("chrom").distinct().collect().map(_.getString(0)).toSet
      == Set("7", "12"), "stored keys must be bare")
    assert(PositionCache.lookup(stored, "chr7", 100L)
      .collect().map(_.getAs[String]("variation_name")).toSeq == Seq("rs10"))
    val keys = Seq(("chr7", 100L), ("12", 200L)).toDF("chrom", "start")
    assert(PositionCache.lookupBatch(stored, keys)
      .collect().map(_.getAs[String]("variation_name")).toSet == Set("rs10", "rs11"))
  }

  test("chrom equality pushes into the reader (PushedFilters visible)") {
    val path = tempDir("vcf_dsv2")
    writeVcf(path)
    val filtered = spark.read.format("graft.sources.VcfDataSource")
      .option("path", path).load()
      .where($"chrom" === "chr0")
    assert(filtered.count() == 2)
    val scan = filtered.queryExecution.executedPlan.toString
    assert(scan.contains("chrom=chr0") || scan.contains("EqualTo(chrom,chr0)"),
      s"pushdown not visible in plan:\n$scan")
  }

  test("two conflicting chrom equalities return zero rows") {
    // only ONE chrom equality may be claimed as pushed; the second must
    // survive as a residual filter Spark re-applies, or this query
    // wrongly returns the chr0 rows (round-2/3 ADVICE)
    val path = tempDir("vcf_dsv2")
    writeVcf(path)
    val df = spark.read.format("graft.sources.VcfDataSource")
      .option("path", path).load()
      .where($"chrom" === "chr0" && $"chrom" === "chr1")
    assert(df.count() == 0)

    // contract-level check (the optimizer can fold the conflicting
    // conjunction before pushdown): of N chrom equalities exactly one
    // is claimed pushed, the rest come back as residual
    import org.apache.spark.sql.sources.EqualTo
    val builder = new graft.sources.VcfScanBuilder(path)
    val residual = builder.pushFilters(
      Array(EqualTo("chrom", "chr0"), EqualTo("chrom", "chr1")))
    assert(builder.pushedFilters().toSeq == Seq(EqualTo("chrom", "chr0")))
    assert(residual.toSeq == Seq(EqualTo("chrom", "chr1")))
  }

  test("chrom IN list pushes into the reader; extra predicates stay residual") {
    val path = tempDir("vcf_dsv2")
    writeVcf(path)
    val df = spark.read.format("graft.sources.VcfDataSource")
      .option("path", path).load()
      .where($"chrom".isin("chr0", "chr1"))
    assert(df.count() == 3)
    val one = spark.read.format("graft.sources.VcfDataSource")
      .option("path", path).load()
      .where($"chrom".isin("chr0", "chrX"))
    assert(one.count() == 2)
    // contract: one chrom predicate claimed (the IN), others residual
    import org.apache.spark.sql.sources.{EqualTo, In}
    val builder = new graft.sources.VcfScanBuilder(path)
    val residual = builder.pushFilters(
      Array(In("chrom", Array("chr0", "chr1")), EqualTo("chrom", "chr1")))
    assert(builder.pushedFilters().toSeq.collect {
      case In(a, vs) => (a, vs.toSeq) } == Seq(("chrom", Seq("chr0", "chr1"))))
    assert(residual.toSeq == Seq(EqualTo("chrom", "chr1")))
  }

  test("VCF scans are equal over path and chrom filter: equal ones share an exchange, others do not") {
    import graft.sources.VcfScan
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val path = tempDir("vcf_dsv2")
    writeVcf(path)
    assert(new VcfScan(path, Some(Set("chr0"))) == new VcfScan(path, Some(Set("chr0"))))
    assert(new VcfScan(path, Some(Set("chr0"))).hashCode ==
      new VcfScan(path, Some(Set("chr0"))).hashCode)
    assert(new VcfScan(path, Some(Set("chr0"))) != new VcfScan(path, Some(Set("chr1"))))
    assert(new VcfScan(path, Some(Set("chr0"))) != new VcfScan(path, None))
    assert(new VcfScan(path, None) != new VcfScan(path + "_x", None))
    def perRef(chrom: String) = spark.read.format("graft.sources.VcfDataSource")
      .option("path", path).load().where($"chrom" === chrom).groupBy("ref").count()
    def shape(df: org.apache.spark.sql.DataFrame) = {
      val n = df.collect().map(_.getLong(1)).sum
      val nodes = planNodes(df)
      (n, nodes.count { case s: BatchScanExec => s.scan.isInstanceOf[VcfScan]; case _ => false },
        nodes.count(_.isInstanceOf[ReusedExchangeExec]))
    }
    assert(shape(perRef("chr0").union(perRef("chr0"))) == ((4L, 1, 1)))
    assert(shape(perRef("chr0").union(perRef("chr1"))) == ((3L, 2, 0)))
  }
}
