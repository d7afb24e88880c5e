package graft

import graft.obs.{Json, Profiler, Session}

/** Per-query profile runner: runs named [[SparkEntry.queries]] entries
  * `passes` times under the tool session recipe and prints one JSON line
  * per (query, pass): the planning-phase split (frame build, analysis,
  * optimization, physical planning, execution through the `noop` sink)
  * plus the effective session recipe and the query profile — jobs,
  * stages, tasks, executor time split, the per-stage list and the
  * per-job timeline. A query whose stage list
  * shows the same full-data row count N times recomputes a shared frame
  * N times.
  *
  * Usage: graft.Profile <sfDir> <passes> <query...>
  * Conf A/B: `tools/run_class.sh -Dspark.k=v graft.Profile ...`; thread
  * sampling: add `-XX:StartFlightRecording=filename=p.jfr`. */
object Profile {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val passes = args(1).toInt
    val spark = Session(32)
    // the effective recipe settings, so a -D override shows in the record
    val conf = Json.obj(Session.recipe(0).map { case (k, _) => k -> spark.conf.get(k) }: _*)
    for (pass <- 1 to passes; q <- args.drop(2)) {
      var t = System.nanoTime()
      def lap(): Double = { val now = System.nanoTime(); val s = (now - t) / 1e9; t = now; s }
      val (split, p) = Profiler.measure(spark) {
        val df = SparkEntry.queries(q)(spark, dir)
        val build = lap()
        df.queryExecution.assertAnalyzed()
        val analyze = lap()
        df.queryExecution.optimizedPlan
        val optimize = lap()
        df.queryExecution.executedPlan
        val physical = lap()
        df.write.format("noop").mode("overwrite").save()
        Seq("build" -> build, "analyze" -> analyze, "optimize" -> optimize,
          "physical" -> physical, "exec" -> lap())
      }
      Json.line(Seq("query" -> q, "pass" -> pass) ++ split ++
        Seq("conf" -> conf, "profile" -> p.json): _*)
    }
    spark.stop()
  }
}
