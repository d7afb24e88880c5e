package graft.obs

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftExecBridge, SparkSession}

/** One stage of a measured action: tasks run, tasks that read at least
  * one shuffle row ("fed"), rows read from input and from shuffle,
  * summed executor run time. */
final case class StageStat(id: Int, name: String, tasks: Int, fedTasks: Int,
    inputRows: Long, shuffleRows: Long, runSec: Double) {
  def json: Json.Raw = Json.obj("id" -> id, "name" -> name, "tasks" -> tasks,
    "fedTasks" -> fedTasks, "inputRows" -> inputRows, "shuffleRows" -> shuffleRows,
    "runSec" -> runSec)
}

/** One job on the action's timeline: start offset from its first job,
  * duration, and the gap since the latest earlier job ended. */
final case class JobSpan(id: Int, startSec: Double, durSec: Double, gapSec: Double,
    name: String) {
  def json: Json.Raw = Json.obj("id" -> id, "startSec" -> startSec, "durSec" -> durSec,
    "gapSec" -> gapSec, "name" -> name)
}

/** What one measured action did on the executors. Times in seconds;
  * `busyWall` is the wall covered by >= 1 running task, `jobWall` the
  * wall covered by >= 1 running job. `taskRunMs` holds every task's
  * executor run time (not rendered). */
final case class QueryProfile(wall: Double, jobs: Int, stages: Int, tasks: Int,
    taskSec: Double, cpuSec: Double, gcSec: Double, fetchSec: Double, shufWSec: Double,
    deserSec: Double, maxTaskSec: Double, peakTaskMemMB: Double, inputRows: Long,
    shuffleRows: Long, busyWall: Double, jobWall: Double, stageList: Seq[StageStat],
    jobList: Seq[JobSpan], taskRunMs: Seq[Long]) {
  def json: Json.Raw = Json.obj("wall" -> wall, "jobs" -> jobs, "stages" -> stages,
    "tasks" -> tasks, "taskSec" -> taskSec, "cpuSec" -> cpuSec, "gcSec" -> gcSec,
    "fetchSec" -> fetchSec, "shufWSec" -> shufWSec, "deserSec" -> deserSec,
    "maxTaskSec" -> maxTaskSec, "peakTaskMemMB" -> peakTaskMemMB, "inputRows" -> inputRows,
    "shuffleRows" -> shuffleRows, "busyWall" -> busyWall, "jobWall" -> jobWall,
    "stageList" -> stageList.map(_.json), "jobList" -> jobList.map(_.json))
}

/** The one query profile: a single listener per SparkContext that
  * attributes jobs, stages and tasks to the job group `measure` runs
  * its body under, and a synchronous drain of the listener bus before
  * the record is read — no sleep, and no event of an earlier or later
  * action lands in it. */
object Profiler {
  private final case class Task(stage: Int, launch: Long, finish: Long, runMs: Long,
      cpuNs: Long, gcMs: Long, fetchMs: Long, writeNs: Long, deserMs: Long, peakMem: Long,
      inRows: Long, shufRows: Long)

  private final class Acc {
    val stageNames = mutable.HashMap[Int, String]()
    val completed = mutable.HashSet[Int]()
    val jobStarts = mutable.HashMap[Int, (Long, String)]()
    val jobs = mutable.ArrayBuffer[(Int, Long, Long, String)]()
    val tasks = mutable.ArrayBuffer[Task]()
  }

  private final class Listener extends SparkListener {
    val groups = new ConcurrentHashMap[String, Acc]()
    val byStage = new ConcurrentHashMap[Int, Acc]()
    val byJob = new ConcurrentHashMap[Int, Acc]()

    override def onJobStart(e: SparkListenerJobStart): Unit =
      for (p <- Option(e.properties); g <- Option(p.getProperty(GroupKey));
           acc <- Option(groups.get(g))) acc.synchronized {
        byJob.put(e.jobId, acc)
        e.stageInfos.foreach { s =>
          byStage.put(s.stageId, acc)
          acc.stageNames(s.stageId) = s.name
        }
        acc.jobStarts(e.jobId) = (e.time, e.stageInfos.lastOption.map(_.name).getOrElse(""))
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(byJob.remove(e.jobId)).foreach(acc => acc.synchronized {
        acc.jobStarts.remove(e.jobId)
          .foreach { case (t0, n) => acc.jobs += ((e.jobId, t0, e.time, n)) }
      })
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(byStage.get(e.stageInfo.stageId))
        .foreach(acc => acc.synchronized(acc.completed += e.stageInfo.stageId))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(byStage.get(e.stageId)).foreach { acc =>
        val i = e.taskInfo
        val t = Option(e.taskMetrics).fold(Task(e.stageId, i.launchTime, i.finishTime,
            0, 0, 0, 0, 0, 0, 0, 0, 0)) { m =>
          Task(e.stageId, i.launchTime, i.finishTime, m.executorRunTime, m.executorCpuTime,
            m.jvmGCTime, m.shuffleReadMetrics.fetchWaitTime, m.shuffleWriteMetrics.writeTime,
            m.executorDeserializeTime, m.peakExecutionMemory, m.inputMetrics.recordsRead,
            m.shuffleReadMetrics.recordsRead)
        }
        acc.synchronized(acc.tasks += t)
      }
  }

  private val GroupKey = "spark.jobGroup.id"
  private val GroupProps = Seq(GroupKey, "spark.job.description", "spark.job.interruptOnCancel")
  private val seq = new AtomicLong()
  private var installed: Option[(SparkContext, Listener)] = None

  private def listener(sc: SparkContext): Listener = synchronized {
    installed.filter(_._1 eq sc).map(_._2).getOrElse {
      val l = new Listener
      sc.addSparkListener(l)
      installed = Some((sc, l))
      l
    }
  }

  /** Runs `body` under a fresh job group, drains the listener bus and
    * returns the body's value with the profile of exactly the jobs it
    * started (including jobs on helper threads that inherit the group).
    * `wall` times the body alone. A failing body still restores the
    * caller's job group before the failure propagates. */
  def measure[T](spark: SparkSession)(body: => T): (T, QueryProfile) = {
    val sc = spark.sparkContext
    val l = listener(sc)
    val group = s"graft-obs-${seq.incrementAndGet()}"
    val acc = new Acc
    l.groups.put(group, acc)
    val saved = GroupProps.map(k => k -> sc.getLocalProperty(k))
    sc.setJobGroup(group, group)
    val t0 = System.nanoTime()
    try {
      val v = body
      val wall = (System.nanoTime() - t0) / 1e9
      GraftExecBridge.drainListenerBus(sc)
      (v, acc.synchronized(record(acc, wall)))
    } finally {
      saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      l.groups.remove(group)
      l.byStage.values().removeIf(_ eq acc)
      l.byJob.values().removeIf(_ eq acc)
    }
  }

  /** Seconds covered by the union of [start, end] millisecond spans. */
  private def unionSec(spans: Seq[(Long, Long)]): Double = {
    var total = 0L; var curS = -1L; var curE = -1L
    for ((s, e) <- spans.sortBy(_._1)) {
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total / 1e3
  }

  private def record(acc: Acc, wall: Double): QueryProfile = {
    val ts = acc.tasks.toVector
    def sum(f: Task => Long): Long = ts.iterator.map(f).sum
    val byStage = ts.groupBy(_.stage)
    val stageList = (acc.completed ++ byStage.keySet).toSeq.sorted.map { id =>
      val st = byStage.getOrElse(id, Vector.empty)
      StageStat(id, acc.stageNames.getOrElse(id, ""), st.size, st.count(_.shufRows > 0),
        st.map(_.inRows).sum, st.map(_.shufRows).sum, st.map(_.runMs).sum / 1e3)
    }
    val jobs = acc.jobs.sortBy(_._2)
    val base = jobs.headOption.map(_._2).getOrElse(0L)
    var prevEnd = base
    val jobList = jobs.map { case (id, s, e, n) =>
      val span = JobSpan(id, (s - base) / 1e3, (e - s) / 1e3, (s - prevEnd) / 1e3, n)
      prevEnd = math.max(prevEnd, e)
      span
    }.toSeq
    QueryProfile(wall, jobs.size, stageList.size, ts.size, sum(_.runMs) / 1e3,
      sum(_.cpuNs) / 1e9, sum(_.gcMs) / 1e3, sum(_.fetchMs) / 1e3, sum(_.writeNs) / 1e9,
      sum(_.deserMs) / 1e3, ts.map(_.runMs).maxOption.getOrElse(0L) / 1e3,
      ts.map(_.peakMem).maxOption.getOrElse(0L) / 1048576.0, sum(_.inRows), sum(_.shufRows),
      unionSec(ts.map(t => (t.launch, t.finish))), unionSec(jobs.map(j => (j._2, j._3)).toSeq),
      stageList, jobList, ts.map(_.runMs))
  }
}
