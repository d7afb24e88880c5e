package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The output check accepts the library's outputs on a small seeded
  * ranges_probe input and rejects each of three perturbations of them:
  * a dropped row, a changed value and a duplicated row. */
object SelfTest {
  def main(argv: Array[String]): Unit = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.drop(2) -> v }.toMap
    val work = Paths.get(m("work")).toAbsolutePath
    val benchDir = Paths.get(m("bench-dir")).toAbsolutePath
    Files.createDirectories(work)
    val spark = Main.session(benchDir, work)
    val wl = new RangesProbe(work.resolve("inputs"), seed = 7L, scale = 0.01)
    wl.generate(spark)
    val expected = Oracle.run(benchDir.resolve("oracle.py").toString, wl.oracleRequest(spark), work)
    def accepted(df: DataFrame, op: Op): Boolean = {
      val o = Check.read(Check.digest(df, op.digest))
      expected.get(op.expectKey).contains((o.rows, o.hash))
    }
    val ops = wl.ops(spark, 0).map(op => op.name -> op).toMap
    val clean = ops.values.toSeq.sortBy(_.name).map(op => op.name -> accepted(op.build(), op))
    val overlap = ops("overlap"); val counts = ops("count_overlaps")
    val pairs = overlap.build()
    val oneRight = pairs.select("right_id").head().getLong(0)
    val cnt = counts.build()
    val oneId = cnt.select("id").head().getLong(0)
    val perturbed = Seq(
      "dropped_row" -> accepted(pairs.where(col("right_id") =!= oneRight), overlap),
      "changed_value" -> accepted(cnt.withColumn("count",
        when(col("id") === oneId, col("count") + 1).otherwise(col("count"))), counts),
      "duplicated_row" -> accepted(pairs.union(pairs.where(col("right_id") === oneRight)), overlap))
    spark.stop()
    for ((n, ok) <- clean) System.err.println(s"selftest: clean $n accepted=$ok")
    for ((n, ok) <- perturbed) System.err.println(s"selftest: perturbed $n accepted=$ok")
    val pass = clean.forall(_._2) && perturbed.forall(!_._2)
    val attempted = clean.size + perturbed.size
    val failed = clean.count(!_._2) + perturbed.count(_._2)
    println(s"""{"correct": $pass, "attempted": $attempted, "failed": $failed, "metrics": {}}""")
    if (!pass) sys.exit(1)
  }
}
