package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession

/** Spark jobs run by a block of driver code, and the RDDs it cached. */
final case class JobProbe(jobs: Int, cachedRddNames: Seq[String], stdout: String)

object JobProbe {

  /** Runs `body` under a fresh job group with stdout captured; counts the
    * jobs started in that group and names every RDD that stored a block.
    * The listener bus is drained on both sides, never slept on.
    */
  def apply(spark: SparkSession, group: String)(body: => Unit): JobProbe = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val cachedRdds = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val rddNames = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null && js.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
      override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit =
        ss.stageInfo.rddInfos.foreach(i => rddNames.put(i.id, i.name))
      override def onBlockUpdated(bu: SparkListenerBlockUpdated): Unit =
        bu.blockUpdatedInfo.blockId match {
          case org.apache.spark.storage.RDDBlockId(rdd, _) if bu.blockUpdatedInfo.storageLevel.isValid =>
            cachedRdds.add(rdd)
          case _ =>
        }
    }
    org.apache.spark.GraftListenerBus.drain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    val buf = new java.io.ByteArrayOutputStream()
    try {
      Console.withOut(new java.io.PrintStream(buf, true, "UTF-8"))(body)
      org.apache.spark.GraftListenerBus.drain(sc)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    val names = cachedRdds.toArray.toSeq.map(id => rddNames.getOrDefault(id.asInstanceOf[Int], "?"))
    JobProbe(jobs.get, names, buf.toString("UTF-8"))
  }
}
