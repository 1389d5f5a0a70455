package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work attributed to one phase of a run. */
final class SparkCounts {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var taskNs = 0L; var schedulerDelayMs = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
}

/**
 * Host counters for a run, split by phase ("setup" / "timed"). Spark work
 * is attributed through a local property set on every thread that submits
 * jobs, read back from each job's start event, so events that the listener
 * bus delivers late still land in the right phase. JVM counters come from
 * the GC and thread MXBeans at phase boundaries.
 */
final class Host(sc: SparkContext) extends SparkListener {
  import Host._
  private val stagePhase = new ConcurrentHashMap[Int, String]()
  private val byPhase = new ConcurrentHashMap[String, SparkCounts]()
  @volatile private var markerSeen = -1L

  sc.addSparkListener(this)

  def counts(phase: String): SparkCounts =
    byPhase.computeIfAbsent(phase, _ => new SparkCounts)

  /** Tag Spark work submitted from the calling thread with `phase`. */
  def enter(phase: String): Unit = sc.setLocalProperty(PhaseKey, phase)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val phase = Option(e.properties).map(_.getProperty(PhaseKey)).orNull
    if (phase != null && phase.startsWith(MarkerPrefix))
      return
    val p = if (phase == null) "other" else phase
    e.stageInfos.foreach(s => stagePhase.put(s.stageId, p))
    val c = counts(p)
    c.synchronized { c.jobs += 1; c.stages += e.stageInfos.count(_.numTasks > 0) }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val marker = Option(e.properties).map(_.getProperty(PhaseKey)).orNull
    if (marker != null && marker.startsWith(MarkerPrefix))
      markerSeen = marker.stripPrefix(MarkerPrefix).toLong
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val p = stagePhase.get(e.stageId)
    if (p == null) return
    val c = counts(p)
    val m = e.taskMetrics
    c.synchronized {
      c.tasks += 1
      if (m != null) {
        c.taskNs += m.executorRunTime * 1000000L
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.diskBytesSpilled
        c.schedulerDelayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
      }
    }
  }

  /** Block until the listener has seen every event posted before this call:
   *  submit a one-task marker job and wait for its stage to arrive (the bus
   *  delivers events to a listener in order). */
  def drain(): Unit = {
    val id = System.nanoTime()
    val prev = sc.getLocalProperty(PhaseKey)
    sc.setLocalProperty(PhaseKey, MarkerPrefix + id)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(PhaseKey, prev)
    val deadline = System.nanoTime() + 10000000000L
    while (markerSeen != id && System.nanoTime() < deadline) Thread.sleep(2)
  }
}

object Host {
  val PhaseKey = "perfbench.phase"
  private val MarkerPrefix = "marker:"

  /** Cumulative GC time (ms) across collectors. */
  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  private val threads =
    ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]

  /** Bytes allocated so far by each live thread. */
  def allocByThread: Map[Long, Long] = {
    val ids = threads.getAllThreadIds
    val bytes = threads.getThreadAllocatedBytes(ids)
    ids.indices.collect { case i if bytes(i) >= 0 => ids(i) -> bytes(i) }.toMap
  }

  /** Bytes allocated by the calling thread so far. */
  def allocCurrent: Long = threads.getCurrentThreadAllocatedBytes

  /** Bytes allocated between two snapshots; threads that ended in between
   *  are missing from `after` and must be added by the caller. */
  def allocBetween(before: Map[Long, Long], after: Map[Long, Long]): Long =
    after.iterator.map { case (t, b) => b - before.getOrElse(t, 0L) }.sum
}
