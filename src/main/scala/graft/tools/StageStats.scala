package graft.tools

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import graft.core.GraftRouteEvent

/**
 * Per-stage task statistics from the listener bus, shared by `Profile` and
 * the scale smokes: jobs started, successful tasks per stage, stage wall
 * time, summed executor run time, scheduler delay, shuffle read/write bytes,
 * spill bytes and GC time, plus the task-skew pair the smokes report and the
 * [[graft.core.GraftRouteEvent]]s posted in the window. `clear()` starts
 * a new window; `drain()` waits until the events of work already run have
 * arrived. `SPARK_GRAFT_STAGE_DETAIL=1` prints every skew-qualifying stage
 * to stderr.
 */
final class StageStats extends SparkListener {
  import StageStats._
  private val ends = new ConcurrentLinkedQueue[SparkListenerTaskEnd]()
  private val routeEvents = new ConcurrentLinkedQueue[GraftRouteEvent]()
  private val wallMs = new ConcurrentHashMap[Int, java.lang.Long]()
  private val markerStages = ConcurrentHashMap.newKeySet[Int]()
  private val markerJobs = new ConcurrentHashMap[Int, java.lang.Long]()
  @volatile private var markerSeen = -1L
  private val jobCount = new java.util.concurrent.atomic.AtomicInteger()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(MarkerKey))) match {
      case Some(id) =>
        markerJobs.put(e.jobId, id.toLong)
        e.stageIds.foreach(markerStages.add)
      case None => jobCount.incrementAndGet()
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(markerJobs.remove(e.jobId)).foreach(id => markerSeen = id)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskInfo != null && e.taskInfo.successful && !markerStages.contains(e.stageId))
      ends.add(e)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime if !markerStages.contains(i.stageId))
      wallMs.put(i.stageId, c - s)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case r: GraftRouteEvent => routeEvents.add(r)
    case _ =>
  }

  def clear(): Unit = { ends.clear(); wallMs.clear(); routeEvents.clear(); jobCount.set(0) }

  /** Jobs started in this window. */
  def jobs: Int = jobCount.get

  /** This window's route decisions, in posting order. */
  def routes: Seq[GraftRouteEvent] = routeEvents.asScala.toSeq

  /** Block until the listener has seen every event posted before this call:
   *  run a one-task marker job and wait for its end event (the bus delivers
   *  events to a listener in order). The marker's own tasks are not
   *  recorded. */
  def drain(sc: SparkContext): Unit = {
    val id = System.nanoTime()
    val prev = sc.getLocalProperty(MarkerKey)
    sc.setLocalProperty(MarkerKey, id.toString)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(MarkerKey, prev)
    val deadline = System.nanoTime() + 10000000000L
    while (markerSeen != id && System.nanoTime() < deadline) Thread.sleep(2)
  }

  private def byStage: Map[Int, Seq[SparkListenerTaskEnd]] =
    ends.asScala.toSeq.groupBy(_.stageId)

  /** Stages with at least one successful task in this window, by id. */
  def stages: Seq[Stage] = byStage.toSeq.sortBy(_._1).map { case (sid, es) =>
    val ms = es.flatMap(e => Option(e.taskMetrics))
    Stage(sid, es.size, Option(wallMs.get(sid)).fold(-1L)(_.longValue),
      ms.map(_.executorRunTime).sum,
      es.collect { case e if e.taskMetrics != null =>
        val m = e.taskMetrics
        math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
      }.sum,
      ms.map(_.shuffleReadMetrics.totalBytesRead).sum,
      ms.map(_.shuffleWriteMetrics.bytesWritten).sum,
      ms.map(_.diskBytesSpilled).sum,
      ms.map(_.jvmGCTime).sum)
  }

  /** [[StageStats.skew]] over this window's task durations. */
  def skew(): Skew = StageStats.skew(byStage.map { case (s, es) =>
    s -> es.map(_.taskInfo.duration) }, sys.env.get(DetailEnv).contains("1"))
}

object StageStats {
  private val MarkerKey = "stage_stats.marker"
  private val DetailEnv = "SPARK_GRAFT_STAGE_DETAIL"

  final case class Stage(id: Int, tasks: Int, wallMs: Long, taskMs: Long,
      schedulerDelayMs: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
      spillBytes: Long, gcMs: Long) {
    def json: String =
      s"""{"stage":$id,"tasks":$tasks,"wall_ms":$wallMs,"task_ms":$taskMs,""" +
        s""""scheduler_delay_ms":$schedulerDelayMs,"shuffle_read_bytes":$shuffleReadBytes,""" +
        s""""shuffle_write_bytes":$shuffleWriteBytes,"spill_bytes":$spillBytes,"gc_ms":$gcMs}"""
  }

  /** Worst max/median task-time ratio and its stage, over all qualifying
   *  stages and over MAJOR ones; 1.0 and stage -1 when none qualifies. */
  final case class Skew(worst: Double, worstStage: Int, major: Double, majorStage: Int)

  /** Skew over stages with enough, big-enough tasks to make it meaningful
   *  (≥8 tasks, median ≥200 ms), plus the same ratio restricted to MAJOR
   *  stages (≥5% of the window's total task time). A single GC pause in a
   *  0.5-s stage prints a 3-4× max/median ratio with zero data skew
   *  (measured: curate_report's heaviest stages run ratio ≤1.06 while a
   *  0.6-s-median stage hit 2.3× on one paused task); the straggler that
   *  matters at cluster scale is the one in a stage that carries weight. */
  def skew(durationsMs: Map[Int, Seq[Long]], detail: Boolean = false): Skew = {
    val totalMs = durationsMs.valuesIterator.flatMap(_.iterator.map(_.toDouble)).sum
    val ratios = durationsMs.toSeq.sortBy(_._1).flatMap { case (sid, ts) =>
      val ds = ts.map(_.toDouble).sorted
      if (ds.length < 8 || ds(ds.length / 2) < 200.0) None
      else {
        val med = ds(ds.length / 2)
        if (detail)
          System.err.println(f"[stages] stage $sid%4d tasks=${ds.length}%3d " +
            f"med=${med / 1e3}%6.2fs max=${ds.last / 1e3}%6.2fs ratio=${ds.last / med}%.2f")
        Some((ds.last / med, sid, ds.sum))
      }
    }
    val major = ratios.filter(_._3 >= 0.05 * totalMs)
    val (w, ws, _) = if (ratios.isEmpty) (1.0, -1, 0.0) else ratios.maxBy(_._1)
    val (m, ms, _) = if (major.isEmpty) (1.0, -1, 0.0) else major.maxBy(_._1)
    Skew(w, ws, m, ms)
  }
}
