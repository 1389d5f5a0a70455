package perfbench

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, render}

/**
 * Benchmark entry point:
 *
 *   Main --workload <serve|batch|mixed|curate> --seed <n> --seconds <s>
 *        --trace <0|1> --work <dir> [--spans <file>]
 *
 * Sets the workload up [[SetupReps]] times (set-up time is their median),
 * warms it, runs its timed phase, checks outputs and prints every metric by
 * name and unit. The last stdout line is one JSON object holding every
 * metric of the run. With --trace 1 every other operation of the timed
 * phase records spans around each call into a layer; the per-layer metrics
 * come from those spans, and the read latency of traced minus untraced
 * operations is the tracing overhead.
 */
object Main {
  val SetupReps = 3
  private var sparkStartS = 0.0

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts("trace") == "1"
    val workDir = new java.io.File(opts("work"))
    workDir.mkdirs()
    val nproc = Runtime.getRuntime.availableProcessors()
    val wl = Workload.byName(workload)

    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new java.io.File(workDir, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new java.io.File(workDir, "warehouse").getAbsolutePath)
      .config("spark.graft.ann.root", new java.io.File(workDir, "indexes").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val run = new Run(spark, seed, seconds, traced, workDir)
    sparkStartS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    try {
      if (!graft.core.Simd.enabled)
        run.fail("jdk.incubator.vector is not linked: this run measures the scalar fallback")
      execute(run, wl, workload, opts)
    } finally spark.stop()
  }

  private def execute(run: Run, wl: Workload, workload: String,
      opts: Map[String, String]): Unit = {
    run.tracer = new Tracer(run.traced)
    val gc0 = Host.gcMs; val a0 = Host.allocByThread
    val setups = (0 until SetupReps).map(_ => run.phase("setup")(wl.setup(run)))
    val gc1 = Host.gcMs; val a1 = Host.allocByThread
    val setupSpans = run.tracer.recorded
    run.tracer = new Tracer(false)
    val warmS = run.phase("warm")(wl.warm(run))

    val s = new Samples
    run.tracer = new Tracer(run.traced)
    val gc2 = Host.gcMs; val a2 = Host.allocByThread
    s.wallS = run.phase("timed")(wl.timed(run, s, run.seconds, "timed"))
    val gc3 = Host.gcMs; val a3 = Host.allocByThread
    val timedAlloc = Host.allocBetween(a2, a3) + run.clientAlloc.get()
    run.host.enter("finish")
    wl.finish(run, s)
    run.host.drain()

    // end-to-end metrics, from the untraced operations
    val e = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    val reads = s.readMs
    e("setup_s") = (Stats.median(setups), "s")
    e("qps") = (s.answered.get / s.wallS, "1/s")
    if (reads.nonEmpty) e("read_p50_ms") = (Stats.median(reads), "ms")
    Stats.percentile(reads, 0.90).foreach(v => e("read_p90_ms") = (v, "ms"))
    Stats.percentile(reads, 0.99).foreach(v => e("read_p99_ms") = (v, "ms"))
    val writes = s.writeMs
    if (writes.nonEmpty) e("write_p50_ms") = (Stats.median(writes), "ms")
    Stats.percentile(writes, 0.90).foreach(v => e("write_p90_ms") = (v, "ms"))
    e ++= run.e2e
    e("fail_frac") = (run.failed.get.toDouble / math.max(1L, run.attempted.get), "frac")

    val timedReads = s.reads.size + s.tracedReads.size
    val layers = if (run.traced) {
      val l = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
      layerMetrics(run, l, setupSpans ++ run.tracer.recorded)
      val sc = run.host.counts("setup"); val tc = run.host.counts("timed")
      def sparkLayer(phase: String, c: SparkCounts, per: Double): Unit = {
        l(s"spark.$phase.jobs") = (c.jobs / per, "count")
        l(s"spark.$phase.stages") = (c.stages / per, "count")
        l(s"spark.$phase.tasks") = (c.tasks / per, "count")
        l(s"spark.$phase.task_s") = (c.taskNs / 1e9 / per, "s")
        l(s"spark.$phase.scheduler_delay_s") = (c.schedulerDelayMs / 1e3 / per, "s")
        l(s"spark.$phase.shuffle_read_mb") = (c.shuffleRead / 1e6 / per, "MB")
        l(s"spark.$phase.shuffle_write_mb") = (c.shuffleWrite / 1e6 / per, "MB")
        l(s"spark.$phase.spill_mb") = (c.spill / 1e6 / per, "MB")
      }
      sparkLayer("setup", sc, SetupReps)
      sparkLayer("timed", tc, 1)
      l("spark.jobs_per_read") = (tc.jobs.toDouble / math.max(1, timedReads), "count")
      l("jvm.setup.gc_s") = ((gc1 - gc0) / 1e3 / SetupReps, "s")
      l("jvm.setup.alloc_mb") = (Host.allocBetween(a0, a1) / 1e6 / SetupReps, "MB")
      l("jvm.timed.gc_s") = ((gc3 - gc2) / 1e3, "s")
      l("jvm.timed.alloc_mb") = (timedAlloc / 1e6, "MB")
      val tReads = s.tracedReads.asScala.toSeq
      l("trace.overhead_read_p50_ms") =
        (if (reads.nonEmpty && tReads.nonEmpty) Stats.median(tReads) - Stats.median(reads) else 0.0, "ms")
      opts.get("spans").foreach(f => writeSpans(new java.io.File(f), setupSpans ++ run.tracer.recorded))
      l
    } else scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]

    e.foreach { case (k, (v, u)) => println(f"metric $k%-28s $v%14.4f $u") }
    layers.foreach { case (k, (v, u)) => println(f"layer  $k%-40s $v%14.4f $u") }
    if (run.traced) Kernels.Grid.foreach { case (n, d, ref) =>
      val v = layers(Kernels.key(n, d))._1
      println(f"kernel l2 batch n=$n%-5d d=$d%-5d $v%10.2f us   (reference M1 Pro NEON: $ref%6.0f us)")
    }
    run.failureLog.foreach(f => System.err.println(s"[perfbench] failed: $f"))
    val provenance = Map[String, Any](
      "workload" -> workload, "seed" -> run.seed, "seconds" -> run.seconds,
      "traced" -> run.traced, "nproc" -> run.nproc,
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "jdk" -> System.getProperty("java.version"),
      "spark" -> run.spark.version,
      "commit" -> opts.getOrElse("commit", ""), "source_sha256" -> opts.getOrElse("source", ""),
      "simd_enabled" -> graft.core.Simd.enabled,
      "setup_reps" -> SetupReps, "setup_s_each" -> setups.mkString(","),
      "warm_s" -> warmS, "spark_start_s" -> sparkStartS,
      "jvm_uptime_s" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3,
      "reads" -> reads.size, "writes" -> writes.size,
      "first_reads_ms" -> reads.take(40).map(x => f"$x%.1f").mkString(","),
      "attempted" -> run.attempted.get, "failed" -> run.failed.get) ++
      wl.sizes.map { case (k, v) => s"size.$k" -> v } ++ run.info
    println("provenance " + compact(render(provenance.map { case (k, v) => k -> v.toString })))
    val metrics = (e ++ layers).map { case (k, (v, u)) => k -> (("value" -> v) ~ ("unit" -> u)) }
    println(compact(render(
      ("correct" -> (run.failed.get == 0)) ~
      ("attempted" -> run.attempted.get) ~
      ("failed" -> run.failed.get) ~
      ("metrics" -> metrics.toMap))))
  }

  /** Per-layer metrics from the spans: the median call duration of each
   *  boundary; layers the workload does not reach read 0. */
  private def layerMetrics(run: Run, l: scala.collection.mutable.Map[String, (Double, String)],
      spans: Seq[Span]): Unit = {
    val agg = Tracer.aggregate(spans)
    def med(name: String, scale: Double): Double =
      agg.get(name).map(a => Stats.median(a.durations.map(_.toDouble)) / scale).getOrElse(0.0)
    l("core.graph_search_us") = (med("core.graph_search", 1e3), "us")
    Kernels.Grid.foreach { case (n, d, _) => l(Kernels.key(n, d)) = (Kernels.measure(run.seed, n, d), "us") }
    l("core.simd_enabled") = (if (graft.core.Simd.enabled) 1.0 else 0.0, "bool")
    l("index.search_hits_ms") = (med("index.search_hits", 1e6), "ms")
    l("index.search_table_s") = (med("index.search_table", 1e9), "s")
    Seq("serve", "batch", "mixed").foreach(w =>
      l(s"index.build_s.$w") = (med(s"index.build.$w", 1e9), "s"))
    l("index.delete_ms") = (med("index.delete", 1e6), "ms")
    l("index.bytes_on_disk") = run.layer.getOrElse("index.bytes_on_disk", (0.0, "B"))
    l("streaming.append_batch_ms") = (med("streaming.append_batch", 1e6), "ms")
    l("streaming.compact_s") = (med("streaming.compact", 1e9), "s")
    l("streaming.compactions") = run.layer.getOrElse("streaming.compactions", (0.0, "count"))
    l("plans.plan_ms") = (med("plans.plan", 1e6), "ms")
    l("plans.exec_ms") = (med("plans.exec", 1e6), "ms")
    l("plans.rewrite_fired_frac") = run.layer.getOrElse("plans.rewrite_fired_frac", (0.0, "frac"))
    l("plans.repeat_query_frac") = run.layer.getOrElse("plans.repeat_query_frac", (0.0, "frac"))
    l("search.hybrid_ms") = (med("search.hybrid", 1e6), "ms")
    l("functions.minhash_sig_s") = (med("functions.minhash_sig", 1e9), "s")
    l("text.jaccard_pairs_s") = (med("text.jaccard_pairs", 1e9), "s")
    l("text.cc_s") = (med("text.cc", 1e9), "s")
    l("text.curate_s") = (med("text.curate", 1e9), "s")
    l("text.dup_pairs") = run.layer.getOrElse("text.dup_pairs", (0.0, "count"))
    l("text.components") = run.layer.getOrElse("text.components", (0.0, "count"))
    println(f"span   ${"name"}%-26s ${"count"}%7s ${"total_ms"}%12s ${"self_ms"}%12s ${"p50_ms"}%10s")
    agg.toSeq.sortBy(_._1).foreach { case (n, a) =>
      println(f"span   $n%-26s ${a.count}%7d ${a.total / 1e6}%12.2f ${a.self / 1e6}%12.2f " +
        f"${Stats.median(a.durations.map(_.toDouble)) / 1e6}%10.3f")
    }
  }

  private def writeSpans(f: java.io.File, spans: Seq[Span]): Unit = {
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f)
    try {
      w.println("id,name,parent,op,start_ns,end_ns")
      spans.sortBy(_.start).foreach(s => w.println(s"${s.id},${s.name},${s.parent},${s.op},${s.start},${s.end}"))
    } finally w.close()
  }
}
