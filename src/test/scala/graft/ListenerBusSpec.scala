package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The listener-bus drain that Bench's task-skew counter reads behind:
  * after a drain, a listener has seen every task-end of the finished
  * job — no fixed sleep, no late events.
  */
class ListenerBusSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  test("drain: every task-end of a finished job is seen, job after job") {
    val sc = spark.sparkContext
    val group = "listener-bus-drain"
    // count only this test's tasks: stages are registered at job start,
    // which the bus delivers before any of the job's task-ends. The
    // listener is deliberately slow (a loaded host's bus lags the same
    // way), so the job returns while its task-ends are still queued and
    // only the drain can make the count exact.
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val taskEnds = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null && js.properties.getProperty("spark.jobGroup.id") == group)
          js.stageIds.foreach(stages.add)
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (stages.contains(te.stageId)) { Thread.sleep(5); taskEnds.incrementAndGet() }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "drain spec")
    try {
      (1 to 20).foreach { job =>
        val before = taskEnds.get()
        sc.parallelize(1 to 800, 8).map(_ * 2).count()
        org.apache.spark.GraftListenerBus.drain(sc)
        assert(taskEnds.get() - before == 8, s"job $job: task-ends seen after the drain")
      }
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
