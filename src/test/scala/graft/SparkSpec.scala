package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs, and one place for their
  * on-disk fixtures. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)
  def sortedRows(df: DataFrame): Seq[Seq[Any]] =
    rows(df).sortBy(_.mkString(""))

  /** Every node of `df`'s executed plan, looking inside AQE's plan
    * and query stages; after an action that is AQE's final plan, the
    * only place a `ReusedExchangeExec` shows. */
  def planNodes(df: DataFrame): Seq[SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => q +: walk(q.plan)
      case other => other +: (other.children ++ other.subqueries).flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  /** Blocks until every event posted so far reached the listeners. */
  def drainListenerBus(): Unit =
    org.apache.spark.sql.GraftExecBridge.drainListenerBus(spark.sparkContext)

  private lazy val suiteRoot = SparkSpec.runRoot.resolve(getClass.getSimpleName)

  /** A fresh empty directory for one fixture, under this suite's
    * folder of the run's temp root; afterAll deletes the folder. */
  def tempDir(tag: String): String =
    Files.createTempDirectory(Files.createDirectories(suiteRoot), tag + "_").toString

  override def afterAll(): Unit =
    try SparkSpec.deleteTree(suiteRoot)
    finally super.afterAll()
}

object SparkSpec {
  private var live: SparkSession = _

  /** The run's temp root. Each suite deletes its own folder, then the
    * root once it is empty, so a run leaves nothing behind. */
  lazy val runRoot: Path = Files.createTempDirectory("graft_spec_")

  private def deleteTree(p: Path): Unit = {
    graft.core.Scratch.deleteTree(p)
    try Files.deleteIfExists(runRoot)
    catch { case _: java.nio.file.DirectoryNotEmptyException => }
  }

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
