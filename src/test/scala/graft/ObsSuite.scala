package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

import graft.obs.{Host, Profiler, Session}

/** The tool harness: the query profile is scoped to its own action and
  * read after a synchronous listener-bus drain, and the session recipe
  * yields to settings already on the conf. */
class ObsSuite extends SparkSpec {

  test("back-to-back measures report only their own action's jobs and tasks") {
    val sc = spark.sparkContext
    // a slow listener on the shared queue holds the bus behind each
    // action's task events: a read that does not wait for the bus
    // misses them, or charges them to the next action
    val slow = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Thread.sleep(40)
    }
    sc.addSparkListener(slow)
    try {
      val (n, a) = Profiler.measure(spark)(sc.parallelize(1 to 100, 3).count())
      sc.parallelize(1 to 10, 4).count() // outside any measure
      val (_, b) = Profiler.measure(spark)(
        sc.parallelize(1 to 100, 5).map(x => (x % 7, x)).reduceByKey(_ + _, 2).count())
      assert(n == 100)
      assert((a.jobs, a.stages, a.tasks) == (1, 1, 3), a)
      assert(a.stageList.map(_.tasks) == Seq(3) && a.shuffleRows == 0)
      assert((b.jobs, b.stages, b.tasks) == (1, 2, 7), b)
      assert(b.stageList.map(_.tasks) == Seq(5, 2))
      assert(b.stageList.last.fedTasks == 2 && b.shuffleRows == b.stageList.last.shuffleRows)
      assert(b.jobList.size == 1 && b.busyWall > 0 && b.taskRunMs.size == 7)
    } finally sc.removeSparkListener(slow)
  }

  test("a failing body restores the caller's job group") {
    val sc = spark.sparkContext
    sc.setJobGroup("outer", "outer")
    try {
      intercept[org.apache.spark.SparkException] {
        Profiler.measure(spark)(sc.parallelize(Seq(0), 1).map(1 / _).count())
      }
      assert(sc.getLocalProperty("spark.jobGroup.id") == "outer")
    } finally sc.clearJobGroup()
  }

  test("the session recipe fills only settings the conf does not carry") {
    val recipe = Session.recipe(3).toMap
    assert(recipe("spark.master") == "local[3]" && recipe("spark.sql.shuffle.partitions") == "3")
    val conf = Session.fill(
      new org.apache.spark.SparkConf(false).set("spark.sql.adaptive.enabled", "false"), 3)
    assert(conf.get("spark.sql.adaptive.enabled") == "false")
    assert(conf.get("spark.sql.constraintPropagation.enabled") == "false")
  }

  test("host snapshots and the broadcast count read without error") {
    val d = Host.snap().to(Host.snap())
    assert(d.gcSec >= 0 && d.codegens >= 0)
    assert(new Host(spark).liveBroadcasts >= 0)
  }
}
