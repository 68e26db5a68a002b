package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Task counters of every Spark job that ran under one job group. */
final class GroupStats {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L // executor run time: the "core time" of a task
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L // shuffle read + shuffle write
  var spillBytes = 0L // disk bytes spilled
  var writtenBytes = 0L // output (file) bytes written
  val durationsMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]] // per stage

  def +=(o: GroupStats): Unit = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs
    gcMs += o.gcMs; shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
    writtenBytes += o.writtenBytes
    o.durationsMs.foreach { case (st, ds) => durationsMs.getOrElseUpdate(st, mutable.ArrayBuffer.empty) ++= ds }
  }

  /** max / median task duration of the stage with the most task time;
    * 0 when no task ran.
    */
  def taskSkew: Double =
    if (durationsMs.isEmpty) 0.0
    else {
      val ds = durationsMs.values.maxBy(_.sum)
      ds.max.toDouble / math.max(1.0, Stats.median(ds.map(_.toDouble).toSeq))
    }
}

/** The benchmark's one SparkListener. Tasks are keyed by the job group
  * their job was submitted under (a span name, or one untraced job's tag);
  * RDD block updates give the bytes held by persisted datasets.
  * Read it only after [[drain]].
  */
final class Probe(sc: SparkContext) extends SparkListener {
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val groups = mutable.HashMap.empty[String, GroupStats]
  private val blockBytes = mutable.HashMap.empty[String, Long]
  private var cachedBytes = 0L
  private var peakBytes = 0L

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(stageGroup(_) = g)
    groups.getOrElseUpdate(g, new GroupStats).jobs += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = groups.getOrElseUpdate(stageGroup.getOrElse(e.stageId, ""), new GroupStats)
    s.tasks += 1
    if (e.taskInfo != null)
      s.durationsMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.diskBytesSpilled
      s.writtenBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val id = info.blockId.name
      val now = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      cachedBytes += now - blockBytes.getOrElse(id, 0L)
      if (now == 0L) blockBytes.remove(id) else blockBytes(id) = now
      peakBytes = math.max(peakBytes, cachedBytes)
    }
  }

  /** Wait until every event posted so far has reached this listener. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Drain, then remove and return the counters of these groups, summed. */
  def take(gs: String*): GroupStats = {
    drain()
    synchronized {
      val out = new GroupStats
      gs.foreach(g => groups.remove(g).foreach(out += _))
      out
    }
  }

  /** Peak persisted-block bytes since the last [[forgetBlocks]]. Only
    * blocks updated in that window count, so call it once per job.
    */
  def cachePeak(): Long = { drain(); synchronized { peakBytes } }

  /** Forget all blocks (call after the measured job released its caches). */
  def forgetBlocks(): Unit = { drain(); synchronized { blockBytes.clear(); cachedBytes = 0L; peakBytes = 0L } }

  def close(): Unit = sc.removeSparkListener(this)
}
