package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Benchmark runner: one JVM, one local[nproc] session, one closed-loop
  * client. Set-up generates the workload's inputs from the seed; the
  * oracle computes expected digests off the clock; then a cold pass and
  * warm passes for `--seconds` (at least four, the first a warm-up) run,
  * each operator call checked.
  *
  * Untraced runs (`--trace 0`) print the end-to-end metrics, traced runs
  * (`--trace 1`) the per-layer metrics, kernel microbenchmarks and a
  * JSONL span file. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, benchDir: Path, oracleDir: Option[Path], buildId: String, spans: Option[Path])

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      Paths.get(need("work")).toAbsolutePath, Paths.get(need("bench-dir")).toAbsolutePath,
      m.get("oracle-dir").map(Paths.get(_).toAbsolutePath), m.getOrElse("build-id", "dev"),
      m.get("spans").map(Paths.get(_).toAbsolutePath))
  }

  val cores: Int = Runtime.getRuntime.availableProcessors()

  def session(benchDir: Path, work: Path): SparkSession = {
    val b = SparkSession.builder().appName("perfbench")
    for (l <- Files.readAllLines(benchDir.resolve("session.conf")).asScala
         if l.trim.nonEmpty && !l.trim.startsWith("#")) {
      val Array(k, v) = l.split("=", 2)
      b.config(k.trim, v.trim.replace("${cores}", cores.toString).replace("${work}", work.toString))
    }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  /** (steal, total) jiffies of all CPUs from /proc/stat; zeros where it
    * is missing. Steal is time the host ran something else on our CPUs. */
  private def cpuJiffies: (Long, Long) = try {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.sum)
  } catch { case _: Exception => (0L, 0L) }
  private def compiles: Long = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Heap in use after a full GC. The second GC frees what Spark's
    * context cleaner released in between (broadcasts and shuffles whose
    * references the first GC cleared). */
  private def retainedHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** One operator call; t0..t3 are nanoTime marks of build, physical
    * planning and execution. */
  final case class OpStat(name: String, t0: Long, t1: Long, t2: Long, t3: Long,
      ok: Boolean, out: Outcome, shape: PlanShape, compiles: Long, compileS: Double, failures: Long) {
    def seconds: Double = (t3 - t0) / 1e9
    def build: Double = (t1 - t0) / 1e9
    def physical: Double = (t2 - t1) / 1e9
    def exec: Double = (t3 - t2) / 1e9
  }
  /** `spanS` is the time spent building the pass's spans (traced passes
    * only), the one piece of work a traced pass adds. */
  final case class PassStat(pass: Int, wall: Double, cpuS: Double, ops: Seq[OpStat],
      tasks: Seq[TaskRec], stages: Seq[StageRec], jobs: Seq[JobRec], heapMb: Double, gcS: Double, jitS: Double,
      spanS: Double, steal: Double)

  def main(argv: Array[String]): Unit = run(parse(argv))

  private def run(a: Args): Unit = {
    val tStart = System.nanoTime()
    Files.createDirectories(a.work)
    val spark = session(a.benchDir, a.work)
    val sessionS = (System.nanoTime() - tStart) / 1e9
    val sc = spark.sparkContext
    val rec = new Recorder
    sc.addSparkListener(rec)
    CodegenFailures.install()
    val wl = Workloads(a.workload, a.work.resolve("inputs"), a.seed)

    // set-up, repeated so its median is steady; the last copy is used
    val genS = (0 until 3).map { _ =>
      val t0 = System.nanoTime(); wl.generate(spark); (System.nanoTime() - t0) / 1e9
    }
    val setupS = sessionS + median(genS)
    System.err.println(f"perfbench: ${a.workload} seed ${a.seed}: session $sessionS%.2f s, generate ${genS.map(x => f"$x%.2f").mkString(" ")} s")

    // oracle replies are cached per workload inputs and build
    val cache = a.oracleDir.map(_.resolve(s"${a.workload}-${wl.oracleKey}-${a.buildId}.tsv"))
    val reply: Map[String, (Long, Long)] = cache.filter(Files.exists(_)) match {
      case Some(p) => readExpected(p)
      case None =>
        val t0 = System.nanoTime()
        val r = Oracle.run(a.benchDir.resolve("oracle.py").toString, wl.oracleRequest(spark), a.work)
        cache.foreach { p =>
          Files.createDirectories(p.getParent)
          val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
          Files.writeString(tmp, r.map { case (k, (n, h)) => s"$k\t$n\t$h" }.mkString("\n"))
          Files.move(tmp, p, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
        System.err.println(f"perfbench: oracle ${(System.nanoTime() - t0) / 1e9}%.2f s")
        r
    }
    val expected = wl.expected(spark, reply)

    val spans = new Spans(s"${a.workload}-${a.seed}-${ProcessHandle.current().pid()}")
    val wlStart = System.nanoTime()
    val wlSpan = spans.newId()
    var attempted = 0L
    var failed = 0L

    def runOp(op: Op, pass: Int, mode: String): OpStat = {
      val group = s"p$pass/${op.name}"
      sc.setJobGroup(group, op.name, interruptOnCancel = false)
      val c0 = compiles; val ct0 = CodeGenerator.compileTime; val f0 = CodegenFailures.get
      val t0 = System.nanoTime()
      var t1 = t0; var t2 = t0
      val (ok, out, shape) = try {
        val df = op.build()
        t1 = System.nanoTime()
        if (mode == "noop") {
          t2 = t1
          df.write.format("noop").mode("overwrite").save()
          (true, Outcome(0, 0, Nil), PlanShape(0, 0, 0))
        } else {
          val action = Check.digest(df, op.digest, op.extras)
          action.queryExecution.executedPlan
          t2 = System.nanoTime()
          val o = Check.read(action)
          val good = expected.get(op.expectKey).contains((o.rows, o.hash))
          if (!good) System.err.println(s"perfbench: CHECK FAILED ${op.name} pass $pass: got (${o.rows}, ${o.hash}) expected ${expected.get(op.expectKey)}")
          (good, o, PlanShape.of(action.queryExecution.executedPlan))
        }
      } catch {
        case e: Exception =>
          System.err.println(s"perfbench: ${op.name} pass $pass threw: $e")
          e.printStackTrace()
          if (t1 == t0) t1 = System.nanoTime()
          if (t2 == t0) t2 = t1
          (false, Outcome(0, 0, Nil), PlanShape(0, 0, 0))
      } finally sc.clearJobGroup()
      val t3 = System.nanoTime()
      if (mode != "noop") { attempted += 1; if (!ok) failed += 1 }
      OpStat(op.name, t0, t1, t2, t3, ok, out, shape,
        compiles - c0, (CodeGenerator.compileTime - ct0) / 1e9, CodegenFailures.get - f0)
    }

    def runPass(pass: Int): PassStat = {
      val gc0 = gcMs; val jit0 = jitMs; val cpu0 = osBean.getProcessCpuTime; val (st0, all0) = cpuJiffies
      val t0 = System.nanoTime()
      val ops = wl.ops(spark, pass).map(op => runOp(op, pass, "check"))
      val t1 = System.nanoTime()
      val cpu1 = osBean.getProcessCpuTime; val gc1 = gcMs; val jit1 = jitMs; val (st1, all1) = cpuJiffies
      val steal = if (all1 > all0) (st1 - st0).toDouble / (all1 - all0) else 0.0
      PerfbenchBridge.drainListeners(sc)
      val prefix = s"p$pass/"
      val jobs = rec.jobsOf(prefix); val stages = rec.stagesOf(prefix)
      val s0 = System.nanoTime()
      if (a.trace) addPassSpans(spans, wlSpan, pass, t0, t1, ops, jobs, stages)
      val spanS = (System.nanoTime() - s0) / 1e9
      val heap = retainedHeapMb()
      val wall = (t1 - t0) / 1e9
      System.err.println(f"perfbench: pass $pass wall $wall%.3f s steal ${steal * 100}%.1f%% heap $heap%.1f MB ops " +
        ops.map(o => f"${o.name}=${o.seconds}%.2f${if (o.ok) "" else "!"}").mkString(" "))
      PassStat(pass, wall, (cpu1 - cpu0) / 1e9, ops, rec.tasksOf(prefix), stages, jobs, heap,
        (gc1 - gc0) / 1e3, (jit1 - jit0) / 1e3, spanS, steal)
    }

    // every pass starts after a full GC, the cold one included
    System.gc()
    val cold = runPass(0)
    val passes = scala.collection.mutable.ArrayBuffer.empty[PassStat]
    val m0 = System.nanoTime()
    // pass times still fall over the first passes after the cold one, as
    // the JIT compiles more of the hot code; the first warm pass is left
    // out and the medians are taken over the rest, at least three
    while (passes.size < 4 || (System.nanoTime() - m0) / 1e9 < a.seconds)
      passes += runPass(passes.size + 1)
    val warm = passes.drop(1).toSeq

    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!a.trace) {
      metrics("setup_s") = (setupS, "s")
      metrics("cold_s") = (cold.wall, "s")
      metrics("wall_s") = (median(warm.map(_.wall)), "s")
      metrics("core_ms_per_row") = (median(warm.map(_.cpuS * 1000 / wl.inputRows)), "ms")
      metrics("peak_task_mem_mb") = (median(warm.map(p => p.tasks.map(_.peakMem).maxOption.getOrElse(0L) / 1048576.0)), "MB")
      metrics("retained_heap_mb") = (median(warm.map(_.heapMb)), "MB")
      metrics("ok_rate") = (1.0 - failed.toDouble / math.max(1L, attempted), "share")
    } else {
      val layer = Layers.fromPasses(warm, cores)
      val probes = wl.layerProbes(spark, (op, mode) => {
        val s = runOp(op, -1, mode)
        (s.seconds, s.out)
      })
      val kernels = Kernels.index(a.seed) match {
        case Some(m) => m
        case None =>
          System.err.println("perfbench: interval stabbers disagree on match counts; index.* withheld")
          failed += 1
          Map.empty[String, Double]
      }
      attempted += 1
      val all = layer ++ probes ++ kernels ++ Kernels.pileup(a.seed) ++ Kernels.bamDecode(a.seed) ++
        Kernels.allele(a.seed) ++ wl.layerSetup
      // the listener and the codegen appender run in untraced passes too
      // (peak task memory needs them), so building the spans is all the
      // tracing a pass adds
      val extra = Map(
        "trace.overhead" -> median(warm.map(p => p.spanS / p.wall)),
        "trace.op_share" -> median(warm.map(p => p.ops.map(_.seconds).sum / p.wall)),
        "bench.warm_passes" -> warm.size.toDouble,
        "checks.error_rate" -> failed.toDouble / math.max(1L, attempted))
      for ((name, unit) <- Layers.PerLayer) metrics(name) = ((all ++ extra).getOrElse(name, 0.0), unit)
      spans.add(0, s"workload:${a.workload}", wlStart, System.nanoTime(), wlSpan)
      a.spans.foreach { p => spans.write(p); System.err.println(s"perfbench: spans written to $p") }
    }
    spark.stop()
    val body = metrics.map { case (k, (v, u)) => s""""$k": {"value": ${Json.num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
  }

  /** A traced pass's spans: pass, op, its build / physical / exec phases,
    * then jobs under the phase that contains their start and stages under
    * their job. */
  private def addPassSpans(spans: Spans, parent: Int, pass: Int, t0: Long, t1: Long, ops: Seq[OpStat],
      jobs: Seq[JobRec], stages: Seq[StageRec]): Unit = {
    val passSpan = spans.add(parent, s"pass:$pass", t0, t1)
    val phases = ops.flatMap { o =>
      val op = spans.add(passSpan, s"op:${o.name}", o.t0, o.t3)
      Seq(("plans.build", o.t0, o.t1), ("plans.physical", o.t1, o.t2), ("exec", o.t2, o.t3))
        .map { case (n, s, e) => (spans.add(op, n, s, e), spans.epochNs(s), spans.epochNs(e)) }
    }
    val jobSpan = jobs.sortBy(_.startMs).map { j =>
      val startNs = j.startMs * 1000000L
      val within = phases.find { case (_, s, e) => s <= startNs && startNs <= e }.orElse(phases.lastOption)
      j.jobId -> spans.addEpoch(within.map(_._1).getOrElse(passSpan), s"job:${j.jobId}", startNs, j.endMs * 1000000L)
    }.toMap
    for (s <- stages.sortBy(_.submitMs))
      spans.addEpoch(jobSpan.getOrElse(s.jobId, passSpan), s"stage:${s.stageId}", s.submitMs * 1000000L, s.completeMs * 1000000L)
  }

  private def readExpected(p: Path): Map[String, (Long, Long)] =
    Files.readAllLines(p).asScala.filter(_.nonEmpty).map { l =>
      val Array(k, n, h) = l.split("\t"); k -> (n.toLong, h.toLong)
    }.toMap
}
