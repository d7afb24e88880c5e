package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** How an operator's output is reduced to (row count, order-independent
  * hash). The same reduction runs in Spark on every pass and in DuckDB
  * once per seed, so a pass is correct iff both pairs are equal. */
sealed trait Digest {
  /** Spark expressions computing the per-row hash of `df`. */
  def sparkRowHash(df: DataFrame): org.apache.spark.sql.Column
}

object Digest {
  val Modulus = 2147483647L
  val Multiplier = 1000003L

  /** Polynomial hash over integer-valued SQL expressions. The expression
    * text is valid in both Spark SQL and DuckDB; every term must be a
    * non-negative integer below 2^40 or NULL. */
  final case class Ints(exprs: Seq[String]) extends Digest {
    def sql: String = exprs.foldLeft("CAST(17 AS BIGINT)") { (acc, e) =>
      s"((($acc) * $Multiplier + COALESCE(CAST($e AS BIGINT), -1) + 2) % $Modulus)"
    }
    def sparkRowHash(df: DataFrame) = expr(sql)
  }

  /** md5 over every column rendered as text, columns in name order;
    * doubles are rounded to 1e-6 first so both engines render them the
    * same. */
  case object AllColumns extends Digest {
    def sparkRowHash(df: DataFrame) = {
      val parts = df.schema.fields.sortBy(_.name).map { f =>
        val c = col(s"`${f.name}`")
        val txt = f.dataType match {
          case DoubleType | FloatType => round(c * 1000000.0).cast("bigint").cast("string")
          case StringType => c
          case _ => c.cast("string")
        }
        coalesce(txt, lit("~"))
      }
      conv(substring(md5(concat_ws("|", parts.toIndexedSeq: _*)), 1, 8), 16, 10).cast("bigint")
    }
  }
}

final case class Outcome(rows: Long, hash: Long, extras: Seq[Double])

object Check {
  /** One Spark action: row count, hash sum and any extra sums. */
  def digest(df: DataFrame, d: Digest, extras: Seq[String] = Nil): DataFrame = {
    val cols = Seq(d.sparkRowHash(df).as("_h")) ++ extras.zipWithIndex.map { case (e, i) => expr(e).as(s"_x$i") }
    df.select(cols: _*).agg(count(lit(1)).as("n"),
      (Seq(coalesce(sum(col("_h")), lit(0L)).as("h")) ++
        extras.indices.map(i => coalesce(sum(col(s"_x$i")).cast("double"), lit(0.0)))): _*)
  }

  def read(digestDf: DataFrame): Outcome = {
    val r = digestDf.collect()(0)
    Outcome(r.getLong(0), r.getLong(1), (2 until r.length).map(r.getDouble))
  }
}

/** Expected digests computed by DuckDB in a child process (oracle.py).
  * A request lists views over the generated files, setup statements,
  * and one SQL per check; the reply maps each check to rows of
  * (group, count, hash). */
final case class OracleCheck(key: String, sql: String, digest: Digest, group: Option[String] = None)
final case class OracleRequest(views: Seq[(String, String)], setup: Seq[String], checks: Seq[OracleCheck])

object Oracle {
  private def jstr(s: String) = "\"" + Json.esc(s) + "\""

  def run(script: String, req: OracleRequest, workDir: java.nio.file.Path): Map[String, (Long, Long)] = {
    val reqPath = workDir.resolve("oracle_request.json")
    val outPath = workDir.resolve("oracle_reply.json")
    val checks = req.checks.map { c =>
      val (kind, exprs) = c.digest match {
        case i: Digest.Ints => ("ints", i.exprs)
        case Digest.AllColumns => ("all_columns", Nil)
      }
      s"""{"key":${jstr(c.key)},"sql":${jstr(c.sql)},"digest":${jstr(kind)},""" +
        s""""exprs":[${exprs.map(jstr).mkString(",")}],"group":${c.group.map(jstr).getOrElse("null")}}"""
    }
    val body = s"""{"views":{${req.views.map { case (k, v) => jstr(k) + ":" + jstr(v) }.mkString(",")}},""" +
      s""""setup":[${req.setup.map(jstr).mkString(",")}],"checks":[${checks.mkString(",")}],""" +
      s""""modulus":${Digest.Modulus},"multiplier":${Digest.Multiplier}}"""
    java.nio.file.Files.writeString(reqPath, body)
    val p = new ProcessBuilder("python3", script, reqPath.toString, outPath.toString)
      .redirectOutput(ProcessBuilder.Redirect.INHERIT)
      .redirectError(ProcessBuilder.Redirect.INHERIT).start()
    val code = try p.waitFor() finally if (p.isAlive) { p.destroyForcibly(); p.waitFor() }
    if (code != 0) throw new IllegalStateException(s"oracle exited with $code")
    // reply: one "key<TAB>group<TAB>count<TAB>hash" line per row
    scala.io.Source.fromFile(outPath.toFile).getLines().filter(_.nonEmpty).map { l =>
      val Array(k, g, n, h) = l.split("\t", -1)
      (if (g.isEmpty) k else s"$k:$g") -> (n.toLong, h.toLong)
    }.toMap
  }
}
