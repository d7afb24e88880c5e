package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)
  def sortedRows(df: DataFrame): Seq[Seq[Any]] =
    rows(df).sortBy(_.mkString(""))

  /** Blocks until every event posted so far reached the listeners. */
  def drainListenerBus(): Unit =
    org.apache.spark.sql.GraftExecBridge.drainListenerBus(spark.sparkContext)
}

object SparkSpec {
  private var live: SparkSession = _

  /** The shared session, rebuilt when a spec stopped the previous one
    * (the stopped-session eviction specs must stop a real context). */
  def session: SparkSession = synchronized {
    if (live == null || live.sparkContext.isStopped) {
      live = SparkSession.builder()
        .master("local[4]")
        .appName("graft-test")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      live.sparkContext.setLogLevel("WARN")
    }
    live
  }
}
