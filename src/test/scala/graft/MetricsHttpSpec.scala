package graft

import graft.gen.Gen
import graft.lake.LakeTable
import graft.model.{TableMapping, TableMode, Transcripts}
import graft.operators.{History, LabelStore, Replay, SignatureStore}
import graft.streaming.{CdcStream, MetricsHttp}
import org.scalatest.funsuite.AnyFunSuite

/** The /metrics scrape endpoint: Prometheus text rendering of the
  * snapshot-committed counters (reference metrics.go analog). */
class MetricsHttpSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  test("scrape returns snapshot-consistent counters in exposition format") {
    val dir = SparkTestBase.tmpDir("methttp")
    val lake = LakeTable.create(spark, s"$dir/t", Transcripts.spec(numBuckets = 4))
    val cfg = Gen.Config(numEvents = 2000, numConvs = 20, seed = 21)
    Replay.applyBatch(lake, Gen.events(spark, cfg),
      TableMapping("transcripts", "transcripts"), 0)
    val props = lake.snapshot().properties

    val srv = MetricsHttp.start(spark, Map("transcripts" -> s"$dir/t"))
    try {
      val url = java.net.URI.create(s"http://127.0.0.1:${srv.port}/metrics")
      val resp = java.net.http.HttpClient.newHttpClient().send(
        java.net.http.HttpRequest.newBuilder(url).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 200)
      assert(resp.headers().firstValue("Content-Type").get.startsWith("text/plain"))
      val body = resp.body()
      // counters match the snapshot properties exactly (atomic truth)
      assert(body.contains(
        s"""graft_ops_total{table="transcripts",op="I"} ${props("metrics-ops-I")}"""),
        s"body:\n$body")
      assert(body.contains(
        s"""graft_lsn_high_watermark{table="transcripts"} ${props("lsn-high-watermark")}"""))
      assert(body.contains(
        s"""graft_commit_epoch{table="transcripts",source="default"} 0"""))
      assert(body.contains("""graft_snapshot_version{table="transcripts"} 2"""))
      assert(body.contains("graft_data_files{"))
      // a second batch moves the scrape, proving read-through (no caching)
      Replay.applyBatch(lake, Gen.events(spark, cfg.copy(seed = 22)),
        TableMapping("transcripts", "transcripts"), 1)
      val body2 = java.net.http.HttpClient.newHttpClient().send(
        java.net.http.HttpRequest.newBuilder(url).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString()).body()
      assert(body2.contains("""graft_snapshot_version{table="transcripts"} 3"""))
      assert(body2.contains(
        s"""graft_commit_epoch{table="transcripts",source="default"} 1"""))
    } finally srv.stop()
  }

  private def scrape(port: Int): String =
    java.net.http.HttpClient.newHttpClient().send(
      java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(s"http://127.0.0.1:$port/metrics")).GET().build(),
      java.net.http.HttpResponse.BodyHandlers.ofString()).body()

  private def batchesTotal(body: String): Long =
    body.linesIterator.collectFirst {
      case l if l.startsWith("graft_stream_batches_total ") => l.split(' ')(1).toLong
    }.getOrElse(fail(s"no graft_stream_batches_total in:\n$body"))

  private def compilesTotal(body: String): Long =
    body.linesIterator.collectFirst {
      case l if l.startsWith("graft_codegen_compiles_total ") => l.split(' ')(1).toLong
    }.getOrElse(fail(s"no graft_codegen_compiles_total in:\n$body"))

  test("batch phases and stream batches are on /metrics for every mode and companion") {
    val dir = SparkTestBase.tmpDir("metphase")
    val cfg = Gen.Config(numEvents = 600, numConvs = 12, seed = 24)
    val mapping = TableMapping("transcripts", "transcripts")
    val clone = LakeTable.create(spark, s"$dir/clone", Transcripts.spec(numBuckets = 4))
    val hist = LakeTable.create(spark, s"$dir/hist", Transcripts.spec(numBuckets = 4)
      .copy(schema = History.historySchema(Transcripts.schema)))
    Replay.applyBatch(clone, Gen.events(spark, cfg), mapping, 0)
    Replay.applyBatch(hist, Gen.events(spark, cfg),
      mapping.copy(mode = TableMode.History), 0)

    val tables = Seq("clone", "hist", "docs", "sigs", "labels")
      .map(t => t -> s"$dir/$t").toMap
    val srv = MetricsHttp.start(spark, tables)
    try {
      val body0 = scrape(srv.port)
      val before = batchesTotal(body0)
      // one WAL segment = one micro-batch through a route with both companions
      Gen.writeLog(spark, cfg, s"$dir/wal", 1)
      val docs = LakeTable.create(spark, s"$dir/docs", Transcripts.spec(numBuckets = 4))
      val sigs = LakeTable.create(spark, s"$dir/sigs", SignatureStore.spec(numBuckets = 4))
      val labels = LakeTable.create(spark, s"$dir/labels", LabelStore.spec(numBuckets = 4))
      CdcStream.runAvailable(spark, s"$dir/wal/seg-*", s"$dir/ckpt", Seq(
        CdcStream.Route(mapping, docs, signatures =
          Some(CdcStream.SignatureSink(sigs, labels = Some(labels))))))
      assert(labels.snapshot().properties("commit-epoch") == "0")

      // progress events reach the listener asynchronously
      val deadline = System.nanoTime() + 30L * 1000000000L
      var body = scrape(srv.port)
      while (batchesTotal(body) < before + 1 && System.nanoTime() < deadline) {
        Thread.sleep(50); body = scrape(srv.port)
      }
      assert(batchesTotal(body) == before + 1, s"body:\n$body")
      def count(table: String, phase: String): String =
        s"""graft_batch_phase_count_total{table="$table",phase="$phase"} 1"""
      for (t <- Seq("clone", "hist", "docs"); ph <- Seq("probe", "write", "commit"))
        assert(body.contains(count(t, ph)), s"body:\n$body")
      for ((t, ph) <- Seq("sigs" -> "stats", "labels" -> "touched", "labels" -> "fold",
                          "sigs" -> "commit", "labels" -> "commit"))
        assert(body.contains(count(t, ph)), s"body:\n$body")
      assert(body.contains("""graft_batch_phase_seconds_total{table="clone",phase="write"} """))
      assert(body.contains("""graft_stream_trigger_seconds_total{phase="addBatch"} """))
      // the compile counter renders and never decreases
      assert(compilesTotal(body) >= compilesTotal(body0), s"body:\n$body")
    } finally srv.stop()
  }

  test("candidate-volume telemetry registry is scrapeable") {
    // run one bucketed operator so its observation lands in the registry
    // (harvested async by the QueryExecutionListener — poll briefly)
    operators.Similarity.cosineDedup(spark, "/root/testdata/sf0.001").count()
    val deadline = System.nanoTime() + 10L * 1000000000L
    while (operators.Similarity.lastCandidateStats("embed_cosine_dedup").isEmpty &&
           System.nanoTime() < deadline) Thread.sleep(50)
    val stats = operators.Similarity.lastCandidateStats("embed_cosine_dedup")
      .getOrElse(fail("telemetry must record"))
    val srv = MetricsHttp.start(spark, Map.empty)
    try {
      val body = java.net.http.HttpClient.newHttpClient().send(
        java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://127.0.0.1:${srv.port}/metrics")).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString()).body()
      assert(body.contains(
        s"""graft_candidate_pairs{op="embed_cosine_dedup"} ${stats.candidatePairs}"""),
        s"body:\n$body")
      assert(body.contains(
        s"""graft_bucket_max_occupancy_bound{op="embed_cosine_dedup"} ${stats.maxOccupancyBound}"""))
      assert(body.contains(
        s"""graft_colliding_buckets{op="embed_cosine_dedup"} ${stats.collidingBuckets}"""))
    } finally srv.stop()
  }

  test("unreadable table renders a scrape error, not a failed scrape") {
    val srv = MetricsHttp.start(spark, Map("ghost" -> "/nonexistent/lake"))
    try {
      val resp = java.net.http.HttpClient.newHttpClient().send(
        java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://127.0.0.1:${srv.port}/metrics")).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 200)
      assert(resp.body().contains("""graft_table_scrape_error{table="ghost"} 1"""))
    } finally srv.stop()
  }
}
