package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Latency samples (ms) of one timed phase; traced operations of a traced
 *  run keep theirs apart. */
final class Samples {
  val reads = new ConcurrentLinkedQueue[Double]()
  val writes = new ConcurrentLinkedQueue[Double]()
  val tracedReads = new ConcurrentLinkedQueue[Double]()
  val answered = new AtomicLong(0) // reads answered; a batch of B counts B
  @volatile var wallS = 0.0
  def readMs: Seq[Double] = reads.asScala.toSeq
  def writeMs: Seq[Double] = writes.asScala.toSeq
}

/**
 * State of one benchmark run: the session, the seed, the clock, the tracer,
 * the host counters and the tallies of attempted and failed operations.
 * Workloads report their metrics through [[e2e]] and [[layer]].
 */
final class Run(val spark: SparkSession, val seed: Long, val seconds: Int,
    val traced: Boolean, val workDir: java.io.File) {
  val nproc: Int = Runtime.getRuntime.availableProcessors()
  val host = new Host(spark.sparkContext)
  var tracer = new Tracer(false)
  /** Bytes allocated by closed-loop client threads, which end before the
   *  phase's closing thread snapshot. */
  val clientAlloc = new AtomicLong(0)
  val attempted = new AtomicLong(0)
  val failed = new AtomicLong(0)
  private val failures = new ConcurrentLinkedQueue[String]()
  val e2e = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = scala.collection.mutable.LinkedHashMap.empty[String, Any]

  def fail(what: String): Unit = {
    failed.incrementAndGet()
    if (failures.size < 20) failures.add(what)
  }
  def failureLog: Seq[String] = failures.asScala.toSeq

  /** Time one operation into `s` (ms), counting it as attempted, and as
   *  failed when it throws or when `check` returns a message. Returns the
   *  operation's result, or None when it threw. */
  def timed[T](s: Samples, read: Boolean, kind: String)(body: => T)(
      check: T => Option[String]): Option[T] = {
    val sink = if (!read) s.writes else if (tracer.tracing) s.tracedReads else s.reads
    attempted.incrementAndGet()
    val t0 = System.nanoTime()
    val out = try Right(body) catch { case e: Throwable => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    out match {
      case Left(e) => fail(s"$kind threw ${e.getClass.getSimpleName}: ${e.getMessage}"); None
      case Right(v) =>
        sink.add(ms)
        check(v).foreach(m => fail(s"$kind: $m"))
        Some(v)
    }
  }

  /** Run `body` as phase `phase` on this thread, returning wall seconds. */
  def phase(name: String)(body: => Unit): Double = {
    host.enter(name)
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Closed loop: `clients` threads each issue their next operation as soon
   *  as the previous one returns, until `seconds` have passed. */
  def closedLoop(clients: Int, seconds: Double, phaseName: String)(
      op: (Int, Long) => Unit): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        host.enter(phaseName)
        val a0 = Host.allocCurrent
        var i = 0L
        while (System.nanoTime() < deadline) { op(c, i); i += 1 }
        clientAlloc.addAndGet(Host.allocCurrent - a0)
      }, s"perfbench-client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
  }

  def dirBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(c => dirBytes(c.getPath)).sum).getOrElse(0L)
  }
}
