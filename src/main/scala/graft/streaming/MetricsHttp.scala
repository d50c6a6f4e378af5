package graft.streaming

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.lake.LakeTable
import graft.obs.Phases

import java.net.InetSocketAddress

/** Pull-based metrics surface — the analog of the reference's Prometheus
  * exporter (`streamer/metrics.go:11-53`, served by `api.go`): a minimal
  * `/metrics` HTTP endpoint rendering the engine's counters in Prometheus
  * text exposition format 0.0.4.
  *
  * The source of truth stays where correctness needs it — snapshot
  * properties and the `_metrics` sidecar, committed ATOMICALLY with the
  * data (a scrape can never observe counters ahead of or behind the table
  * state they describe). This endpoint is a stateless read-through view:
  * each scrape re-reads the current manifests, so it can run in the driver
  * or in any sidecar process with filesystem access; nothing is buffered
  * and a crash loses nothing. Uses the JDK's built-in httpserver — zero
  * added dependencies.
  *
  * Exported families (labels: table, plus op/source/phase where applicable):
  *   graft_ops_total{table,op}            cumulative received DML ops (A3)
  *   graft_delete_miss_total{table}       drift alarm (W3 delete-affected-0)
  *   graft_lsn_high_watermark{table}      committed-LSN watermark (A1)
  *   graft_snapshot_version{table}        current snapshot version
  *   graft_commit_epoch{table,source}     per-(stream, mapping) epoch
  *   graft_data_files{table} / graft_data_bytes{table}
  *   graft_batch_phase_seconds_total{table,phase} /
  *   graft_batch_phase_count_total{table,phase}
  *                                        batch phases run in this JVM
  *                                        (graft.obs.Phases)
  *   graft_stream_batches_total           micro-batches reported (ProgressLog)
  *   graft_stream_trigger_seconds_total{phase}
  *                                        streaming trigger durations
  *   graft_codegen_compiles_total         generated-code compiles (Spark's
  *                                        CodegenMetrics)
  *   graft_candidate_pairs{op} / graft_colliding_buckets{op} /
  *   graft_bucket_max_occupancy_bound{op} candidate volume of the bucketed
  *                                        operators (Similarity)
  *
  * The phase, trigger and compile families are in-process counters: they
  * cover what this JVM ran since it started.
  */
object MetricsHttp {

  final case class Server(port: Int, underlying: HttpServer) {
    def stop(): Unit = underlying.stop(0)
  }

  private def esc(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n")

  // Per-table render cache keyed by snapshot version: a scrape re-reads
  // only the version listing (one directory list per table); the manifest
  // — whose size is O(data files) — is re-parsed only when the table
  // actually committed since the last scrape. Bounds scrape cost at fleet
  // scale (O(tables x scrape rate) manifest parses was the hot spot).
  private val blockCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, String)]()

  /** Render the current counters for `tables` (name -> lake root). */
  def render(spark: org.apache.spark.sql.SparkSession,
             tables: Map[String, String]): String = {
    val sb = new StringBuilder
    def mkLine(out: StringBuilder)(family: String,
                                   labels: Seq[(String, String)], v: String): Unit = {
      val ls = labels.map { case (k, x) => s"""$k="${esc(x)}"""" }.mkString(",")
      out.append(s"$family{$ls} $v\n")
    }
    sb.append("# TYPE graft_ops_total counter\n")
    sb.append("# TYPE graft_delete_miss_total counter\n")
    sb.append("# TYPE graft_lsn_high_watermark gauge\n")
    sb.append("# TYPE graft_snapshot_version gauge\n")
    sb.append("# TYPE graft_commit_epoch gauge\n")
    tables.toSeq.sortBy(_._1).foreach { case (name, root) =>
      try {
        val lake = LakeTable.load(spark, root)
        val version = lake.currentVersion
        val cached = blockCache.get(root)
        val block =
          if (cached != null && cached._1 == version) cached._2
          else {
            val out = new StringBuilder
            val line = mkLine(out) _
            val snap = lake.snapshot(version)
            val t = Seq("table" -> name)
            snap.properties.toSeq.sorted.foreach {
              case (k, v) if k.startsWith("metrics-ops-") =>
                line("graft_ops_total", t :+ ("op" -> k.stripPrefix("metrics-ops-")), v)
              case ("metrics-delete-miss", v) =>
                line("graft_delete_miss_total", t, v)
              case ("lsn-high-watermark", v) =>
                line("graft_lsn_high_watermark", t, v)
              case (k, v) if k.startsWith("commit-epoch") =>
                val src = k.stripPrefix("commit-epoch").stripPrefix("-")
                line("graft_commit_epoch",
                  t :+ ("source" -> (if (src.isEmpty) "default" else src)), v)
              case _ =>
            }
            line("graft_snapshot_version", t, snap.version.toString)
            line("graft_data_files", t, snap.files.size.toString)
            line("graft_data_bytes", t, snap.files.map(_.bytes).sum.toString)
            blockCache.put(root, (version, out.toString))
            out.toString
          }
        sb.append(block)
      } catch {
        case _: Exception =>
          mkLine(sb)("graft_table_scrape_error", Seq("table" -> name), "1")
      }
    }
    val phases = Phases.totals.toSeq.sortBy(_._1)
    val named = tables.map { case (name, root) => LakeTable.rootKey(root) -> name }
    sb.append("# TYPE graft_batch_phase_seconds_total counter\n")
    sb.append("# TYPE graft_batch_phase_count_total counter\n")
    for (((scope, phase), t) <- phases; name <- named.get(scope)) {
      val l = Seq("table" -> name, "phase" -> phase)
      mkLine(sb)("graft_batch_phase_seconds_total", l, t.seconds.toString)
      mkLine(sb)("graft_batch_phase_count_total", l, t.count.toString)
    }
    // every progress event reports triggerExecution: its count is the
    // number of micro-batches
    val trigger = phases.filter(_._1._1 == Phases.Stream)
    val batches = trigger.collectFirst { case ((_, "triggerExecution"), t) => t.count }
    sb.append("# TYPE graft_stream_batches_total counter\n")
    sb.append(s"graft_stream_batches_total ${batches.getOrElse(0L)}\n")
    sb.append("# TYPE graft_stream_trigger_seconds_total counter\n")
    trigger.foreach { case ((_, phase), t) =>
      mkLine(sb)("graft_stream_trigger_seconds_total", Seq("phase" -> phase),
        t.seconds.toString)
    }
    // Janino compiles of Spark's code generator in this JVM: a steady-state
    // batch whose generated classes all fit the codegen cache adds none,
    // so a count that climbs every batch is recompile churn
    sb.append("# TYPE graft_codegen_compiles_total counter\n")
    sb.append("graft_codegen_compiles_total " +
      s"${org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount}\n")
    // candidate-volume telemetry from the bucketed dedup/ANN operators
    // (Similarity.observeCandidates registry) — the 100 TB quadratic-blowup
    // alarm
    val occ = graft.operators.Similarity.observedOps.toSeq.sorted
    if (occ.nonEmpty) {
      sb.append("# TYPE graft_candidate_pairs gauge\n")
      sb.append("# TYPE graft_colliding_buckets gauge\n")
      sb.append("# TYPE graft_bucket_max_occupancy_bound gauge\n")
      occ.foreach { op =>
        graft.operators.Similarity.lastCandidateStats(op).foreach { s =>
          val l = Seq("op" -> op)
          mkLine(sb)("graft_candidate_pairs", l, s.candidatePairs.toString)
          mkLine(sb)("graft_colliding_buckets", l, s.collidingBuckets.toString)
          mkLine(sb)("graft_bucket_max_occupancy_bound", l,
            s.maxOccupancyBound.toString)
        }
      }
    }
    sb.toString
  }

  /** Serve GET /metrics on `port` (0 = ephemeral; the bound port is in the
    * returned handle). */
  def start(spark: org.apache.spark.sql.SparkSession,
            tables: Map[String, String],
            port: Int = 0): Server =
    startDynamic(spark, () => tables, port)

  /** Like [[start]] but the table map is re-resolved PER SCRAPE — for
    * deployments whose map file is live-reloadable (graft.Main), so a
    * table added mid-run appears on /metrics without a restart. */
  def startDynamic(spark: org.apache.spark.sql.SparkSession,
                   tables: () => Map[String, String],
                   port: Int = 0): Server = {
    val srv = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    srv.createContext("/metrics", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val body = render(spark, tables()).getBytes("UTF-8")
        ex.getResponseHeaders.add("Content-Type",
          "text/plain; version=0.0.4; charset=utf-8")
        ex.sendResponseHeaders(200, body.length)
        val os = ex.getResponseBody
        try os.write(body) finally os.close()
      }
    })
    srv.start()
    Server(srv.getAddress.getPort, srv)
  }
}
