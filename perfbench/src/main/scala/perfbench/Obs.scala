package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.SortMergeJoinExec

final case class TaskRec(group: String, stageId: Int, launchMs: Long, finishMs: Long,
    peakMem: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long)
final case class StageRec(group: String, stageId: Int, jobId: Int, submitMs: Long,
    completeMs: Long, tasks: Int)
final case class JobRec(group: String, jobId: Int, startMs: Long, endMs: Long)

/** Scheduler events of the benchmark's own jobs, keyed by job group.
  * Each operator call runs under its own group, so a pass's tasks,
  * stages and jobs are selected by group prefix. */
final class Recorder extends SparkListener {
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, (String, Int)]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val jobs = new ConcurrentLinkedQueue[JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(s => stageGroup.put(s, (g, e.jobId)))
    jobStart.put(e.jobId, (g, e.time))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val (g, t0) = Option(jobStart.remove(e.jobId)).getOrElse(("", e.time))
    jobs.add(JobRec(g, e.jobId, t0, e.time))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val (g, j) = Option(stageGroup.get(i.stageId)).getOrElse(("", -1))
    stages.add(StageRec(g, i.stageId, j, i.submissionTime.getOrElse(0L),
      i.completionTime.getOrElse(0L), i.numTasks))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = Option(stageGroup.get(e.stageId)).map(_._1).getOrElse("")
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null) tasks.add(TaskRec(g, e.stageId, info.launchTime, info.finishTime,
      m.peakExecutionMemory, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  def tasksOf(prefix: String): Seq[TaskRec] = tasks.asScala.filter(_.group.startsWith(prefix)).toSeq
  def stagesOf(prefix: String): Seq[StageRec] = stages.asScala.filter(_.group.startsWith(prefix)).toSeq
  def jobsOf(prefix: String): Seq[JobRec] = jobs.asScala.filter(_.group.startsWith(prefix)).toSeq
}

/** Counts whole-stage-codegen compile failures from the messages
  * Spark's code generator logs when janino rejects generated source. */
object CodegenFailures {
  private val count = new AtomicLong()
  def get: Long = count.get()

  def install(): Unit = {
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val name = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
    val app = new AbstractAppender("perfbench-codegen", null, null, true, Property.EMPTY_ARRAY) {
      override def append(ev: LogEvent): Unit =
        if (ev.getMessage.getFormattedMessage.contains("Failed to compile")) count.incrementAndGet()
    }
    app.start()
    LoggerContext.getContext(false).getLogger(name).asInstanceOf[Logger].addAppender(app)
  }
}

/** Shape of an executed plan, read after the action so adaptive
  * execution has settled its final stages. */
final case class PlanShape(exchanges: Int, smj: Int, intervalJoins: Int)

object PlanShape {
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: (other.children.flatMap(nodes) ++ other.subqueries.flatMap(nodes))
  }
  def of(p: SparkPlan): PlanShape = {
    val all = nodes(p)
    PlanShape(
      all.count(_.isInstanceOf[ShuffleExchangeLike]),
      all.count(_.isInstanceOf[SortMergeJoinExec]),
      all.count(_.nodeName.contains("IntervalJoin")))
  }
}

/** In-memory trace spans, written as JSONL when the run ends. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

final class Spans(val runId: String) {
  // maps System.nanoTime onto the epoch so scheduler timestamps (epoch
  // ms) and in-process spans share one clock
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private val spans = ArrayBuffer.empty[Span]
  private var next = 0

  def newId(): Int = { next += 1; next }
  def epochNs(nano: Long): Long = nano + epochOffsetNs

  /** Records a span bounded by System.nanoTime values; returns its id. */
  def add(parent: Int, name: String, startNano: Long, endNano: Long, id: Int = newId()): Int =
    addEpoch(parent, name, epochNs(startNano), epochNs(endNano), id)

  def addEpoch(parent: Int, name: String, startEpochNs: Long, endEpochNs: Long, id: Int = newId()): Int = {
    spans += Span(id, parent, name, startEpochNs, endEpochNs)
    id
  }

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    for (s <- spans) sb.append(
      s"""{"run":"${Json.esc(runId)}","id":${s.id},"parent":${s.parent},"name":"${Json.esc(s.name)}","start_ns":${s.startNs},"end_ns":${s.endNs}}""").append('\n')
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
}
