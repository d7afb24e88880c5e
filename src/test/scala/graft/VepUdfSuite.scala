package graft

import graft.vep.{Allele, Vep}

/** The SQL scalar-UDF surface (`Vep.registerUdfs`, the reference's
  * scalar-function extension point): every registered name called
  * through `spark.sql` agrees with `Allele`'s Scala result. */
class VepUdfSuite extends SparkSpec {
  import spark.implicits._

  test("Vep.registerUdfs: all six SQL names match Allele on a two-row VCF") {
    Vep.registerUdfs(spark)
    // an SNV and a 2-bp deletion with its VCF anchor base
    Seq(("chr1", 100L, "A", "G", "A/G"), ("chr1", 200L, "ACG", "A", "CG/-"))
      .toDF("chrom", "start", "ref", "alt", "allele_string")
      .createOrReplaceTempView("vep_udf_vcf")
    val got = spark.sql(
      """SELECT start, ref, alt, allele_string,
        |  vep_norm_start(start, ref, alt), vep_norm_end(start, ref, alt),
        |  vep_ref(ref, alt), vep_alt(ref, alt),
        |  match_allele(ref, alt, allele_string),
        |  match_allele_relaxed(ref, alt, allele_string)
        |FROM vep_udf_vcf ORDER BY start""".stripMargin).collect()
    assert(got.length == 2)
    for (r <- got) {
      val (pos, ref, alt, as) = (r.getLong(0), r.getString(1), r.getString(2), r.getString(3))
      val (vr, va) = Allele.vcfToVepAllele(ref, alt)
      assert(r.getLong(4) == Allele.vepNormStart(pos, ref, alt), s"vep_norm_start $ref>$alt")
      assert(r.getLong(5) == Allele.vepNormEnd(pos, ref, alt), s"vep_norm_end $ref>$alt")
      assert(r.getString(6) == vr && r.getString(7) == va, s"vep_ref/vep_alt $ref>$alt")
      assert(r.getBoolean(8) == Allele.matches(ref, alt, as), s"match_allele $ref>$alt")
      assert(r.getBoolean(9) == Allele.matchesRelaxed(ref, alt, as),
        s"match_allele_relaxed $ref>$alt")
    }
    // the deletion really normalises: anchor base dropped, both alleles match
    val del = got(1)
    assert(del.getLong(4) == 201L && del.getLong(5) == 202L)
    assert(del.getString(6) == "CG" && del.getString(7) == "-")
    assert(got.forall(r => r.getBoolean(8) && r.getBoolean(9)))
  }
}
