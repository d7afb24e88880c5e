package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Coord
import graft.pileup.Pileup
import graft.ranges.Ranges

/** The `bio.coordinate_system_zero_based` tag across operator outputs
  * (reference: every provider stamps its output schema —
  * pileup/src/schema.rs:22-44, coordinate.rs:18) plus `depth()`'s
  * `zeroBased` argument (table_function.rs:97-109): a 0-based block run
  * is the 1-based run with both boundaries down one, per-base positions
  * go `[1..len]` → `[0..len)` (coverage.rs:291-301). */
class CoordPropagationSuite extends SparkSpec {
  import spark.implicits._

  private def reads: DataFrame =
    Seq(("chr1", 10L, 0, "5M", 60), ("chr1", 12L, 0, "5M", 60))
      .toDF("chrom", "start", "flags", "cigar", "mapping_quality")

  private def blocks(df: DataFrame): Seq[(String, Long, Long, Int)] =
    df.select($"contig", $"pos_start".cast("long"), $"pos_end".cast("long"), $"coverage")
      .as[(String, Long, Long, Int)].collect().sortBy(t => (t._1, t._2)).toSeq

  test("depth zeroBased=true shifts both block boundaries down one and tags the output") {
    val one = Pileup.depth(reads)
    val zero = Pileup.depth(reads, zeroBased = true)
    assert(blocks(one) == Seq(("chr1", 10L, 11L, 1), ("chr1", 12L, 14L, 2), ("chr1", 15L, 16L, 1)))
    assert(blocks(zero) == Seq(("chr1", 9L, 10L, 1), ("chr1", 11L, 13L, 2), ("chr1", 14L, 15L, 1)))
    assert(!Coord.isZeroBased(one, "pos_start"))
    assert(one.schema("pos_start").metadata.contains(Coord.MetadataKey),
      "1-based output still carries an explicit tag, like the reference schema")
    assert(Coord.isZeroBased(zero, "pos_start"))
  }

  test("depthPerBase zeroBased relabels [1..len] to [0..len) and tags pos") {
    val one = Pileup.depthPerBase(reads).select($"pos".cast("long")).as[Long].collect().sorted
    val zero = Pileup.depthPerBase(reads, zeroBased = true)
    val zpos = zero.select($"pos".cast("long")).as[Long].collect().sorted
    assert(zpos.toSeq == one.map(_ - 1).toSeq)
    assert(Coord.isZeroBased(zero, "pos"))
  }

  test("a zero-based-tagged reads frame normalizes on input (same blocks as 1-based reads)") {
    val zreads = Coord.mark(reads.withColumn("start", col("start") - 1L), zeroBased = true)
    assert(blocks(Pileup.depth(zreads)) == blocks(Pileup.depth(reads)),
      "0-based read starts walk CIGARs from start+1, like the reference provider")
  }

  test("depthPerBaseFull zeroBased shifts positions and tags pos") {
    val lens = Seq(("chr1", 20L)).toDF("chrom", "length")
    val one = Pileup.depthPerBaseFull(reads, lens)
      .select($"pos".cast("long")).as[Long].collect().sorted
    val zero = Pileup.depthPerBaseFull(reads, lens, zeroBased = true)
    assert(zero.select($"pos".cast("long")).as[Long].collect().sorted.toSeq ==
      one.map(_ - 1).toSeq)
    assert(one.toSeq == (1L to 20L))
    assert(Coord.isZeroBased(zero, "pos"))
  }

  // -- tag propagation through the sweep operators (VERDICT r13 #5) --

  private def iv(marked: Boolean): DataFrame = {
    val df = Seq(("chr1", 1L, 5L), ("chr1", 4L, 9L), ("chr1", 20L, 25L))
      .toDF("contig", "pos_start", "pos_end")
    if (marked) Coord.mark(df, zeroBased = true, "pos_start") else df
  }

  test("merge/cluster/complement/subtract carry the input's coordinate tag explicitly") {
    for (marked <- Seq(false, true)) {
      val in = iv(marked)
      val outs = Seq(
        "merge" -> Ranges.merge(in),
        "cluster" -> Ranges.cluster(in),
        "complement" -> Ranges.complement(in),
        "subtract" -> Ranges.subtract(in, iv(marked).where($"pos_start" > 10)))
      for ((name, out) <- outs) {
        assert(Coord.isZeroBased(out, "pos_start") == marked,
          s"$name should carry zeroBased=$marked")
        assert(out.schema("pos_start").metadata.contains(Coord.MetadataKey),
          s"$name output must be EXPLICITLY tagged")
      }
    }
  }

  test("the tag survives collection to parquet and back") {
    val dir = tempDir("coord_rt")
    Ranges.merge(iv(marked = true)).write.mode("overwrite").parquet(dir)
    assert(Coord.isZeroBased(spark.read.parquet(dir), "pos_start"))
  }
}
