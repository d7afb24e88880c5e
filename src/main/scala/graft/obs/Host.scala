package graft.obs

import java.lang.management.ManagementFactory

import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated}
import org.apache.spark.sql.{GraftExecBridge, SparkSession}
import org.apache.spark.storage.BroadcastBlockId

/** Host instruments shared by Bench and the scale probe: a two-phase
  * fixed-work calibration, /proc/stat busy and steal, process CPU, JIT,
  * JVM-GC and codegen counters, and the live-broadcast population with
  * a GC-and-wait reap between timed runs. */
final class Host(spark: SparkSession) {
  import Host._

  // live broadcast blocks: adds arrive as valid-level block updates,
  // ContextCleaner removals as StorageLevel.NONE updates
  private val live = collection.mutable.HashSet[Long]()
  spark.sparkContext.addSparkListener(new SparkListener {
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
      e.blockUpdatedInfo.blockId match {
        case b: BroadcastBlockId => live.synchronized {
          if (e.blockUpdatedInfo.storageLevel.isValid) live += b.broadcastId
          else live -= b.broadcastId
        }
        case _ =>
      }
  })

  /** Live broadcast blocks, counted after every posted event arrived. */
  def liveBroadcasts: Int = {
    GraftExecBridge.drainListenerBus(spark.sparkContext)
    live.synchronized(live.size)
  }

  /** Off-the-clock cleanup between timed runs: release what the last
    * run materialized, then GC until the ContextCleaner's async
    * broadcast removals stop making progress (or `timeoutSec` passes),
    * so run N does not pay run N-1's heap and block-manager work. */
  def reap(timeoutSec: Int = 5): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    val deadline = System.nanoTime() + timeoutSec * 1000000000L
    var n = liveBroadcasts
    var prev = -1
    while (n > 0 && n != prev && System.nanoTime() < deadline) {
      prev = n
      System.gc()
      Thread.sleep(150) // the cleaner thread's turn, not the listener bus's
      n = liveBroadcasts
    }
    if (n == 0 || prev < 0) System.gc()
  }

  // preallocated per-thread 4 MB arrays (32 x 4 MB > L3, so the walk is
  // bandwidth-bound; preallocated so hundreds of calibrations add no GC)
  private val calArrays = Array.fill(CalThreads)(new Array[Long](524288))

  /** Two-phase fixed-work calibration, (ALU seconds, memory seconds).
    * ALU: a register-only LCG, stretched by cpu-quota throttling.
    * Memory: strided walks over the preallocated arrays, stretched by a
    * co-tenant's memory-bandwidth contention, which shows no steal. Each
    * phase runs ~60-100 ms twice back to back and keeps the min: the
    * first run after an idle gap pays CPU frequency ramp-up, while real
    * contention stretches both. */
  def calibrate(): (Double, Double) = {
    val sink = new java.util.concurrent.atomic.AtomicLong()
    def run(body: Int => Long): Double = {
      val t0 = System.nanoTime()
      val ts = (0 until CalThreads).map { i =>
        val t = new Thread(() => sink.addAndGet(body(i)))
        t.start(); t
      }
      ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }
    def twice(body: Int => Long): Double = math.min(run(body), run(body))
    val alu = twice { i =>
      var x = 12345L + i; var n = 0
      while (n < 40000000) { x = x * 6364136223846793005L + 1442695040888963407L; n += 1 }
      x
    }
    val mem = twice { i =>
      val a = calArrays(i)
      var x = 0L; var r = 0
      while (r < 10) {
        var j = 0
        while (j < a.length) { a(j) = a(j) + j + i; j += 8 } // one touch per cache line
        var k = (i * 97) % 64
        while (k < a.length) { x += a(k); k += 512 }
        r += 1
      }
      x
    }
    (alu, mem)
  }

  /** JIT-warms the calibration and canary loops, so early runs are not
    * judged against interpreter-speed probes. */
  def warm(): Unit = {
    (1 to 3).foreach(_ => calibrate())
    graft.core.Canary.warm()
  }
}

object Host {
  private val CalThreads = 32
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans
  private val jitBean = ManagementFactory.getCompilationMXBean

  /** Counters at one instant; -1 where the platform lacks one. */
  final case class Snap(gcMs: Long, busyJiffies: Long, stealJiffies: Long, procCpuNs: Long,
      jitMs: Long, codegens: Long) {
    /** What happened between this snap and `end`. */
    def to(end: Snap): Delta = Delta(
      (end.gcMs - gcMs) / 1e3,
      if (stealJiffies >= 0) (end.stealJiffies - stealJiffies) / 100.0 else -1.0, // USER_HZ 100
      // external host CPU: host busy minus this process
      if (busyJiffies >= 0 && procCpuNs >= 0)
        math.max((end.busyJiffies - busyJiffies) / 100.0 - (end.procCpuNs - procCpuNs) / 1e9, 0)
      else -1.0,
      if (jitMs >= 0 && end.jitMs >= 0) (end.jitMs - jitMs) / 1e3 else -1.0,
      end.codegens - codegens)
  }

  /** JVM GC, host steal (a VM guest's CPU accounting includes host-stolen
    * cycles), external host CPU, JIT seconds and whole-stage-codegen
    * compiles over an interval. */
  final case class Delta(gcSec: Double, stealSec: Double, extCpuSec: Double, jitSec: Double,
      codegens: Long)

  def snap(): Snap = {
    var gc = 0L
    gcBeans.forEach(b => gc += math.max(b.getCollectionTime, 0))
    val (busy, steal) = procStat
    val cpu = ManagementFactory.getOperatingSystemMXBean match {
      case m: com.sun.management.OperatingSystemMXBean => m.getProcessCpuTime
      case _ => -1L
    }
    val jit = if (jitBean != null && jitBean.isCompilationTimeMonitoringSupported)
      jitBean.getTotalCompilationTime else -1L
    Snap(gc, busy, steal, cpu, jit,
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
  }

  /** (busy, steal) jiffies across all cpus from /proc/stat. */
  private def procStat: (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).map(_.trim.split("\\s+")).map { f =>
        def at(i: Int) = if (f.length > i) f(i).toLong else 0L
        (at(1) + at(2) + at(3) + at(6) + at(7), if (f.length > 8) f(8).toLong else -1L)
      }.getOrElse((-1L, -1L))
      finally src.close()
    } catch { case _: Exception => (-1L, -1L) }
}
