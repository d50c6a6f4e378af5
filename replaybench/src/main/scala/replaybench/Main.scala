package replaybench

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import java.util.{LinkedHashMap => JMap}
import scala.io.Source

/** Replay benchmark entry point (launched by run.py, which builds the
  * classpath):
  *
  *   replaybench.Main --workload backfill|tail|dedup --seed N --seconds S
  *                    --trace 0|1 --work DIR
  *
  * Prints a detail line (provenance, every named end-to-end metric with
  * its tail percentile and sample counts) and, last, one JSON object with
  * `correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
  * untraced, the per-layer metrics traced. */
object Main {

  /** The open-loop generator's own thread, reserved next to Spark's. */
  val GeneratorThreads = 1

  private val mapper = new ObjectMapper()
  private val t0 = System.nanoTime()

  /** Progress line on stderr, stamped with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[replaybench ${(System.nanoTime() - t0) / 1e9}%7.2f] $msg")

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String): String = args.getOrElse(k, usage(s"missing --$k"))
    val workload = Workloads.byName(arg("workload")).getOrElse(usage("unknown workload"))
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toInt
    val trace = arg("trace") == "1"
    val work = arg("work")

    val nproc = Runtime.getRuntime.availableProcessors
    val cores = nproc - GeneratorThreads
    if (cores < 1 || cores + GeneratorThreads > nproc) {
      System.err.println(s"refusing to start: $nproc CPUs cannot hold Spark and " +
        s"$GeneratorThreads generator thread")
      sys.exit(2)
    }
    // long enough for a job's call site to reach the CdcStream frame
    System.setProperty("spark.callstack.depth", "400")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"replaybench-${workload.name}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.locality.wait", "0")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .config("spark.hadoop.fs.file.impl", classOf[graft.lake.BareLocalFileSystem].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    log("session up")

    val ctx = Ctx(spark, seed, seconds, trace, work, cores)
    val r = new Result
    val tracer = if (trace) Some(new Tracer) else None
    tracer.foreach { t =>
      spark.sparkContext.addSparkListener(t)
      t.unpinCallSites(spark)
    }
    try {
      try workload.run(ctx, r, tracer)
      catch {
        case e: Exception =>
          e.printStackTrace()
          r.problems += s"run failed: $e"
      }
      log("run done")
      org.apache.spark.BenchBridge.drainListeners(spark.sparkContext)
      r.attempted = math.max(1, r.attempted)
      if (r.problems.nonEmpty) r.failed = r.attempted
      r.problems.foreach(p => System.err.println(s"[replaybench] INCORRECT: $p"))
      val e2e = endToEnd(r)
      val layer = tracer.map(perLayer(r, _)).getOrElse(Nil)
      println(mapper.writeValueAsString(detail(ctx, workload, r, e2e)))
      if (trace)
        tracer.get.spans.foreach(s => System.err.println(s"[span] $s"))
      val out = new JMap[String, Any]()
      out.put("correct", r.problems.isEmpty)
      out.put("attempted", r.attempted)
      out.put("failed", r.failed)
      val metrics = new JMap[String, Any]()
      val report: Seq[(String, Double, String)] =
        if (trace) layer.map { case (n, v) => (n, v, PerLayerUnits(n)) }
        else e2e.filter(_.gated).map(m => (m.name, m.value, m.unit))
      report.foreach { case (n, v, u) =>
        val m = new JMap[String, Any](); m.put("value", v); m.put("unit", u); metrics.put(n, m)
      }
      out.put("metrics", metrics)
      println(mapper.writeValueAsString(out))
    } finally spark.stop()
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"$msg\nusage: replaybench.Main --workload " +
      Workloads.all.map(_.name).mkString("|") + " --seed N --seconds S --trace 0|1 --work DIR")
    sys.exit(2)
  }

  /** One end-to-end metric; `gated` ones are in BENCHMARK.json. */
  final case class E2E(name: String, value: Double, unit: String, gated: Boolean,
                       percentile: Option[Double] = None, samples: Int = 0)

  def endToEnd(r: Result): Seq[E2E] = {
    def p50(name: String, xs: Seq[Double]) =
      E2E(name, if (xs.isEmpty) Double.NaN else Stats.median(xs), "s", gated = true,
        Some(50.0), xs.size)
    def tail(name: String, xs: Seq[Double], gated: Boolean) = Stats.tail(xs) match {
      case Some(t) => E2E(name, t.value, "s", gated, Some(t.percentile), t.samples)
      case None => E2E(name, Double.NaN, "s", gated, None, xs.size)
    }
    Seq(
      E2E("setup_s", Stats.median(r.setupS.toSeq), "s", gated = true, Some(50.0), r.setupS.size),
      E2E("events_per_s", if (r.applyS > 0) r.events / r.applyS else Double.NaN,
        "events/s", gated = true, samples = r.attempted),
      p50("batch_p50_s", r.batchS.toSeq),
      tail("batch_tail_s", r.batchS.toSeq, gated = false),
      p50("lag_p50_s", r.lagS.toSeq),
      tail("lag_tail_s", r.lagS.toSeq, gated = false),
      p50("read_p50_s", r.readS.toSeq),
      tail("read_tail_s", r.readS.toSeq, gated = false),
      E2E("failed_frac", r.failed.toDouble / math.max(1, r.attempted), "ratio",
        gated = false, samples = r.attempted),
      E2E("peak_rss_mb", peakRssMb, "MB", gated = true))
  }

  /** Peak resident set of this process (VmHWM). */
  def peakRssMb: Double = {
    val src = Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  val PerLayerUnits: Map[String, String] = {
    val generic = Seq("wall_s" -> "s", "busy_s" -> "s", "tasks" -> "count",
      "shuffle_write_bytes" -> "bytes", "spill_bytes" -> "bytes", "task_skew" -> "ratio")
    Attribution.Modules.flatMap(m => generic.map { case (k, u) => s"$m.$k" -> u }).toMap ++ Map(
      "sources.decode_s" -> "s",
      "streaming.trigger_overhead_s" -> "s",
      "streaming.wal_commit_s" -> "s",
      "streaming.backlog_chunks_max" -> "count",
      "spark.jobs_per_batch" -> "count",
      "lake.snapshot_s" -> "s",
      "lake.manifest_bytes" -> "bytes",
      "lake.live_files" -> "count",
      "lake.bytes_written_per_event" -> "bytes",
      "operators.replay.touched_bucket_frac" -> "ratio",
      "operators.replay.rows_written_per_row_changed" -> "ratio",
      "generator.late_s" -> "s",
      "trace.overhead_frac" -> "ratio",
      "trace.coverage" -> "ratio")
  }

  def perLayer(r: Result, t: Tracer): Seq[(String, Double)] = {
    val batches = r.batches.toSeq
    def medianOf(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val batchS = batches.map(_.triggerMs).sum / 1000.0
    // CdcStream's span is the whole batch; driver-side work outside every
    // job (planning, manifest and offset commits) is its self time
    val streamingSelfS = batches.map(b => b.triggerMs - t.coveredMs(b.startMs, b.commitMs)).sum / 1000.0
    val modules = t.moduleMetrics(Map(Attribution.Streaming -> streamingSelfS))
    val moduleWallS = modules.collect { case (n, v) if n.endsWith(".wall_s") => v }.sum
    val specific = Seq(
      "sources.decode_s" -> r.layer.getOrElse("sources.decode_s", 0.0),
      "streaming.trigger_overhead_s" ->
        medianOf(batches.map(b => (b.triggerMs - b.addBatchMs) / 1000.0)),
      "streaming.wal_commit_s" -> medianOf(batches.map(_.walCommitMs / 1000.0)),
      "streaming.backlog_chunks_max" -> r.backlogMax.toDouble,
      "spark.jobs_per_batch" -> t.jobCount.toDouble / math.max(1, batches.size),
      "lake.snapshot_s" -> r.layer.getOrElse("lake.snapshot_s", 0.0),
      "lake.manifest_bytes" -> r.layer.getOrElse("lake.manifest_bytes", 0.0),
      "lake.live_files" -> r.layer.getOrElse("lake.live_files", 0.0),
      "lake.bytes_written_per_event" -> t.bytesWritten.toDouble / math.max(1L, r.events),
      "operators.replay.touched_bucket_frac" ->
        r.layer.getOrElse("operators.replay.touched_bucket_frac", 0.0),
      "operators.replay.rows_written_per_row_changed" ->
        r.layer.getOrElse("operators.replay.rows_written_per_row_changed", 0.0),
      "generator.late_s" -> r.lateS.maxOption.getOrElse(0.0),
      "trace.overhead_frac" -> (t.callbackNs + r.probeNs) / 1e9 / math.max(1e-9, t.windowS),
      "trace.coverage" -> moduleWallS / math.max(1e-9, batchS))
    modules ++ specific
  }

  def detail(ctx: Ctx, w: Workload, r: Result, e2e: Seq[E2E]): JMap[String, Any] = {
    val d = new JMap[String, Any]()
    val prov = new JMap[String, Any]()
    prov.put("workload", w.name)
    prov.put("seed", ctx.seed)
    prov.put("seconds", ctx.seconds)
    prov.put("trace", ctx.trace)
    prov.put("nproc", Runtime.getRuntime.availableProcessors)
    prov.put("spark_cores", ctx.cores)
    prov.put("generator_threads", GeneratorThreads)
    prov.put("driver_heap_mb", Runtime.getRuntime.maxMemory / (1024 * 1024))
    prov.put("spark_version", ctx.spark.version)
    prov.put("git_commit", sys.env.getOrElse("REPLAYBENCH_GIT_COMMIT", "unknown"))
    prov.put("source_sha256", sys.env.getOrElse("REPLAYBENCH_SOURCE_SHA256", "unknown"))
    prov.put("tail_rate_events_per_s", Tail.Rate)
    prov.put("setup_rounds_s", r.setupS.mkString(","))
    prov.put("generator_late_max_s", r.lateS.maxOption.getOrElse(0.0))
    prov.put("warmup_s", r.warmupS)
    prov.put("batches_s", r.batchS.mkString(","))
    d.put("provenance", prov)
    val ms = new JMap[String, Any]()
    e2e.foreach { m =>
      val o = new JMap[String, Any]()
      o.put("value", if (m.value.isNaN) null else m.value)
      o.put("unit", m.unit)
      m.percentile.foreach(p => o.put("percentile", p))
      o.put("samples", m.samples)
      ms.put(m.name, o)
    }
    d.put("end_to_end", ms)
    if (r.problems.nonEmpty) d.put("problems", r.problems.mkString(" | "))
    d
  }
}
