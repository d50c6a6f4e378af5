package graft

import graft.gen.Gen
import graft.lake.LakeTable
import graft.model.{TableMapping, Transcripts}
import graft.streaming.Orchestrator
import graft.verify.Oracle
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** End-to-end orchestrator: map file -> auto initial full sync -> per-URL
  * streams -> converged multi-tenant table; restart and add-table-later
  * semantics (the reference's slot matrix,
  * `replicate_database.go:220-235`). */
class OrchestratorSpec extends AnyFunSuite {

  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("map file to converged multi-sid table, auto backfill, restart, new table") {
    val dir = SparkTestBase.tmpDir("orch")
    // two tenants, each with its own WAL directory (2 segments each)
    val cfgs = Map(
      "s0" -> Gen.Config(numEvents = 4000, numConvs = 40, seed = 101),
      "s1" -> Gen.Config(numEvents = 4000, numConvs = 40, seed = 202))
    cfgs.foreach { case (s, cfg) => Gen.writeLog(spark, cfg, s"$dir/wal-$s", 2) }

    // per-tenant source snapshot for the initial full sync: conversation
    // ids disjoint from the generator's (bf-*) so they must survive CDC
    def bfRows(s: String) = (0 until 5).map(i =>
      (s"bf-$s-$i", i, "user", s"backfill $s $i", null: String,
        java.sql.Timestamp.valueOf("2020-01-01 00:00:00")))
    val backfill = (table: String, sid: String) =>
      if (table == "transcripts")
        Some(bfRows(sid).toDF("conv_id", "turn_idx", "role", "text", "tool", "ts"))
      else None

    val mapJson =
      s"""{"databases":[{"name":"app",
         |  "urls":[{"url":"$dir/wal-s0/seg-*","sid":"s0"},
         |          {"url":"$dir/wal-s1/seg-*","sid":"s1"}],
         |  "tables":{"transcripts":{"type":"clone","target":"transcripts"}}}]}""".stripMargin
    Files.writeString(Paths.get(s"$dir/map.json"), mapJson)
    val sidSchema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("sid",
        org.apache.spark.sql.types.StringType, nullable = true)
        +: Transcripts.schema.fields)
    val specs = Map("transcripts" ->
      Transcripts.spec(numBuckets = 4, hasSid = true).copy(schema = sidSchema))

    // serve-path pacing: the published sync_rate/sync_burst knobs must
    // reach Backfill.initialSync (reference app.sync_rate token bucket) —
    // burst 2 on 5 rows/tenant forces multiple chunked commits
    val (rate0, burst0) = (graft.config.Knobs.syncRateRows,
      graft.config.Knobs.syncBurstRows)
    graft.config.Knobs.syncRateRows = 1000000L
    graft.config.Knobs.syncBurstRows = 2L
    try Orchestrator.runAvailable(spark, s"$dir/map.json", s"$dir/targets",
      specs, s"$dir/ckpt", backfill)
    finally {
      graft.config.Knobs.syncRateRows = rate0
      graft.config.Knobs.syncBurstRows = burst0
    }

    val lake = LakeTable.load(spark, s"$dir/targets/transcripts")
    assert(lake.snapshot().properties
      .get("full-sync-s0-chunks-done").exists(_.toInt >= 2),
      "paced initial sync must commit in multiple bucket-group chunks")
    val rows1 = lake.read().count()
    // backfill rows present, once, per tenant, with the CONFIG sid
    val bf = lake.read().filter(col("conv_id").startsWith("bf-"))
      .select("sid", "conv_id").collect()
    assert(bf.length == 10, s"expected 10 backfill rows, got ${bf.length}")
    assert(bf.forall(r => r.getString(1).startsWith(s"bf-${r.getString(0)}-")))

    // per-tenant CDC state equals the sequential oracle of that tenant's log
    val spec = specs("transcripts")
    cfgs.foreach { case (s, cfg) =>
      val localEvents = (0L until cfg.numEvents)
        .map(id => Gen.mkEvent(id, cfg).copy(sid = s))
      val want = Oracle.canonical(
        Oracle.replay(localEvents, spec, TableMapping("transcripts", "transcripts")),
        spec.schema.fieldNames.toSeq)
      val got = lake.read()
        .filter(col("sid") === s && !col("conv_id").startsWith("bf-"))
        .select(spec.schema.fieldNames.map(c => col(c).cast("string").as(c)).toIndexedSeq: _*)
        .collect().toSeq
        .map(r => spec.schema.fieldNames.toSeq.map(c => r.getAs[String](c)))
        .sortBy(_.map(v => if (v == null) "" else v).mkString("\u0001"))
      val wantRows = want.map(_._2)
      assert(got.size == wantRows.size, s"tenant $s rows: ${got.size} vs ${wantRows.size}")
      got.zip(wantRows).foreach { case (g, w) => assert(g == w, s"tenant $s:\n $g\n $w") }
    }

    // restart: nothing replays, nothing re-syncs (checkpoint + epoch + prop)
    val v1 = lake.currentVersion
    Orchestrator.runAvailable(spark, s"$dir/map.json", s"$dir/targets",
      specs, s"$dir/ckpt", backfill)
    assert(lake.read().count() == rows1, "restart must not duplicate rows")
    assert(LakeTable.load(spark, s"$dir/targets/transcripts")
      .read().filter(col("conv_id").startsWith("bf-")).count() == 10,
      "restart must not re-run the full sync")

    // add a table to the map on the EXISTING slot: only the new target is
    // synced (from its backfill snapshot); the old target is untouched
    val mapJson2 =
      s"""{"databases":[{"name":"app",
         |  "urls":[{"url":"$dir/wal-s0/seg-*","sid":"s0"},
         |          {"url":"$dir/wal-s1/seg-*","sid":"s1"}],
         |  "tables":{"transcripts":{"type":"clone","target":"transcripts"},
         |            "transcripts_b":{"type":"clone","target":"t2"}}}]}""".stripMargin
    Files.writeString(Paths.get(s"$dir/map.json"), mapJson2)
    val specs2 = specs + ("t2" ->
      Transcripts.spec("t2", numBuckets = 2, hasSid = true).copy(schema = sidSchema))
    val backfill2 = (table: String, sid: String) =>
      if (table == "transcripts_b") Some(bfRows(sid)
        .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")) else None
    Orchestrator.runAvailable(spark, s"$dir/map.json", s"$dir/targets",
      specs2, s"$dir/ckpt", backfill2)
    val t2 = LakeTable.load(spark, s"$dir/targets/t2")
    assert(t2.read().count() == 10, "new table synced from its snapshot")
    assert(t2.snapshot().properties.contains("full-sync-s0") &&
      t2.snapshot().properties.contains("full-sync-s1"))
    assert(LakeTable.load(spark, s"$dir/targets/transcripts").read().count() == rows1,
      "existing table untouched by the new-table sync")
  }

  test("mixed modes: one stream fans out to clone AND history targets") {
    val dir = SparkTestBase.tmpDir("orchmix")
    val cfg = Gen.Config(numEvents = 3000, numConvs = 30, seed = 401)
    Gen.writeLog(spark, cfg, s"$dir/wal", 2)
    val mapJson =
      s"""{"databases":[{"name":"app",
         |  "urls":[{"url":"$dir/wal/seg-*","sid":"s0"}],
         |  "tables":{"transcripts":{"type":"clone","target":"t_clone"},
         |            "transcripts_h":{"type":"history","target":"t_hist",
         |                             "partitions_regex":"transcripts"}}}]}""".stripMargin
    Files.writeString(Paths.get(s"$dir/map.json"), mapJson)
    // history spec WITHOUT kvsz columns: the orchestrator appends them
    val specs = Map(
      "t_clone" -> Transcripts.spec("t_clone", numBuckets = 4),
      "t_hist" -> Transcripts.spec("t_hist", numBuckets = 4))
    Orchestrator.runAvailable(spark, s"$dir/map.json", s"$dir/targets",
      specs, s"$dir/ckpt")

    val clone = LakeTable.load(spark, s"$dir/targets/t_clone")
    val hist = LakeTable.load(spark, s"$dir/targets/t_hist")
    assert(hist.schema.fieldNames.contains("kvsz_start"),
      "orchestrator must append validity columns to history targets")
    val localEvents = (0L until cfg.numEvents).map(id => Gen.mkEvent(id, cfg))
    val want = Oracle.replay(localEvents, specs("t_clone"),
      TableMapping("transcripts", "t_clone"))
    assert(clone.read().count() == want.size, "clone target converged")
    // history keeps every version: at least as many rows as live keys,
    // soft-deleted intervals present
    assert(hist.read().count() >= want.size)
    assert(hist.read().filter(col("kvsz_deleted")).count() > 0,
      "deletes must be soft (closed intervals), not dropped")
    // both targets advanced the same stream epoch independently
    assert(clone.snapshot().properties("commit-epoch-app-s0-transcripts").toLong >= 1)
    assert(hist.snapshot().properties("commit-epoch-app-s0-transcripts_h").toLong >= 1)
  }

  test("watched map: add AND remove a table across live drain cycles") {
    val dir = SparkTestBase.tmpDir("orchwatch")
    val cfg = Gen.Config(numEvents = 2000, numConvs = 20, seed = 601)
    // half the WAL now, half lands while watching
    Gen.writeSegments(spark, cfg, s"$dir/wal", 4, 0 until 2)
    def mapWith(tables: String): Unit = Files.writeString(Paths.get(s"$dir/map.json"),
      s"""{"databases":[{"name":"app",
         |  "urls":[{"url":"$dir/wal/seg-*","sid":"s0"}],
         |  "tables":{$tables}}]}""".stripMargin)
    mapWith(""""transcripts":{"type":"clone","target":"t_a"}""")
    val specs = Map(
      "t_a" -> Transcripts.spec("t_a", numBuckets = 4),
      "t_b" -> Transcripts.spec("t_b", numBuckets = 4))

    val phases = new java.util.concurrent.atomic.AtomicInteger(0)
    val watcher = new Thread(() => {
      Orchestrator.runWatched(spark, s"$dir/map.json", s"$dir/targets",
        specs, s"$dir/ckpt", pollMs = 100,
        until = () => phases.get() >= 99)
    })
    watcher.setDaemon(true)
    watcher.start()
    def await(cond: => Boolean, what: String): Unit = {
      val deadline = System.nanoTime() + 120L * 1000000000L
      while (!cond) {
        assert(System.nanoTime() < deadline, s"timeout: $what")
        Thread.sleep(200)
      }
    }
    await(LakeTable.exists(s"$dir/targets/t_a") &&
      LakeTable.load(spark, s"$dir/targets/t_a").snapshot().properties
        .getOrElse("commit-epoch-app-s0-transcripts", "-1").toLong >= 1,
      "initial table drained")
    val aRowsBeforeReload = LakeTable.load(spark, s"$dir/targets/t_a").read().count()

    // RELOAD: remove t_a's mapping, add t_b (same physical table), and land
    // the remaining WAL — all against the running watcher
    mapWith(""""transcripts_b":{"type":"clone","target":"t_b",
              | "partitions_regex":"transcripts"}""".stripMargin)
    Gen.writeSegments(spark, cfg, s"$dir/wal", 4, 2 until 4)
    await(LakeTable.exists(s"$dir/targets/t_b") &&
      LakeTable.load(spark, s"$dir/targets/t_b").snapshot().properties
        .getOrElse("commit-epoch-app-s0-transcripts_b", "-1").toLong >= 3,
      "added table drained the full WAL")
    phases.set(99)
    watcher.join(30000)
    assert(!watcher.isAlive, "watcher must stop on the until() signal")

    // removed table: routing stopped, target kept as-is (no further rows)
    val a = LakeTable.load(spark, s"$dir/targets/t_a")
    assert(a.read().count() == aRowsBeforeReload,
      "removed mapping must stop routing but keep the target")
    // added table: full converged state from the checkpointed stream —
    // batches 0-1 were consumed by cycles BEFORE t_b existed, so the
    // resume-not-replay contract costs it those events; the orchestrator
    // heals exactly this via the auto full sync on first attach. Here we
    // assert the stream half: batches 2-3 applied exactly once.
    val b = LakeTable.load(spark, s"$dir/targets/t_b")
    val localEvents = (1000L until cfg.numEvents).map(id => Gen.mkEvent(id, cfg))
    val want = Oracle.replay(localEvents, specs("t_b"),
      TableMapping("transcripts", "t_b"))
    assert(b.read().count() == want.size,
      s"added table must hold exactly the post-attach fold: ${b.read().count()} vs ${want.size}")
  }

  private def opCounts(lake: LakeTable): Map[String, Long] =
    lake.snapshot().properties.collect {
      case (k, v) if k.startsWith("metrics-ops-") =>
        k.stripPrefix("metrics-ops-") -> v.toLong
    }

  private def stateOf(lake: LakeTable): Seq[Seq[Any]] =
    lake.read().orderBy("conv_id", "turn_idx").collect().map(_.toSeq).toSeq

  test("legacy per-stream epoch key seeds the per-mapping key on upgrade") {
    val dir = SparkTestBase.tmpDir("orchlegacy")
    Gen.writeLog(spark, Gen.Config(numEvents = 2000, numConvs = 20, seed = 303),
      s"$dir/wal", 2, filesPerSegment = 1) // 2 files -> batches 0 and 1
    val mapJson =
      s"""{"databases":[{"name":"app",
         |  "urls":[{"url":"$dir/wal/seg-*","sid":"s0"}],
         |  "tables":{"transcripts":{"type":"clone","target":"transcripts"}}}]}""".stripMargin
    Files.writeString(Paths.get(s"$dir/map.json"), mapJson)
    val specs = Map("transcripts" -> Transcripts.spec(numBuckets = 4))
    Orchestrator.runAvailable(spark, s"$dir/map.json", s"$dir/targets",
      specs, s"$dir/ckpt")
    val lake = LakeTable.load(spark, s"$dir/targets/transcripts")
    val counts1 = opCounts(lake)
    val state1 = stateOf(lake)

    // simulate a PRE-RENAME deployment: rewrite the manifest so the epoch
    // lives under the legacy `commit-epoch-app-s0` key only
    val newKey = "commit-epoch-app-s0-transcripts"
    val snap = lake.snapshot()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    val legacySnap = snap.copy(version = snap.version + 1,
      properties = (snap.properties - newKey) +
        ("commit-epoch-app-s0" -> snap.properties(newKey)))
    Files.write(Paths.get(s"$dir/targets/transcripts/_meta/" +
      f"v${legacySnap.version}%020d.json"), mapper.writeValueAsBytes(legacySnap))
    // crash window: the last checkpoint commit is lost -> batch 1 redelivers
    // (the ChecksumFs .crc sidecar goes with it, as a real crash would
    // leave neither)
    Files.delete(Paths.get(s"$dir/ckpt/app-s0/commits/1"))
    Files.deleteIfExists(Paths.get(s"$dir/ckpt/app-s0/commits/.1.crc"))

    Orchestrator.runAvailable(spark, s"$dir/map.json", s"$dir/targets",
      specs, s"$dir/ckpt")
    val after = LakeTable.load(spark, s"$dir/targets/transcripts")
    assert(after.snapshot().properties.get(newKey).exists(_.toLong >= 1),
      "per-mapping epoch key must seed from the legacy key")
    assert(opCounts(after) == counts1,
      "the redelivered batch must be skipped via the seeded epoch — " +
        s"counters moved: ${counts1} -> ${opCounts(after)}")
    assert(stateOf(after) == state1)
  }

  test("vanished target under a live checkpoint: recreate + full re-sync, " +
    "surviving sibling protected by the lsn floor") {
    val dir = SparkTestBase.tmpDir("orchvanish")
    val cfg = Gen.Config(numEvents = 3000, numConvs = 30, seed = 404,
      sourceTables = Seq("t1", "t2"), evolveAtId = None)
    Gen.writeLog(spark, cfg, s"$dir/wal", 2, filesPerSegment = 1)
    val bf = (0 until 5).map(i => (s"bf-$i", i, "user", s"backfill $i",
      null: String, java.sql.Timestamp.valueOf("2020-01-01 00:00:00")))
    val backfill = (table: String, _: String) =>
      if (table == "t2") Some(bf.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts"))
      else None
    val mapJson =
      s"""{"databases":[{"name":"app",
         |  "urls":[{"url":"$dir/wal/seg-*","sid":"s0"}],
         |  "tables":{"t1":{"type":"clone","target":"t1"},
         |            "t2":{"type":"clone","target":"t2"}}}]}""".stripMargin
    Files.writeString(Paths.get(s"$dir/map.json"), mapJson)
    val specs = Map(
      "t1" -> Transcripts.spec(name = "t1", numBuckets = 4),
      "t2" -> Transcripts.spec(name = "t2", numBuckets = 4))
    Orchestrator.runAvailable(spark, s"$dir/map.json", s"$dir/targets",
      specs, s"$dir/ckpt", backfill)
    val t1a = LakeTable.load(spark, s"$dir/targets/t1")
    val t2a = LakeTable.load(spark, s"$dir/targets/t2")
    val (c1, s1) = (opCounts(t1a), stateOf(t1a))
    val s2 = stateOf(t2a)
    assert(s2.exists(_.head.toString.startsWith("bf-")))

    // the t2 target table vanishes (operator error / storage loss)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    rm(new java.io.File(s"$dir/targets/t2"))

    Orchestrator.runAvailable(spark, s"$dir/map.json", s"$dir/targets",
      specs, s"$dir/ckpt", backfill)
    val t1b = LakeTable.load(spark, s"$dir/targets/t1")
    val t2b = LakeTable.load(spark, s"$dir/targets/t2")
    assert(stateOf(t2b) == s2,
      "vanished target must be recreated: backfill re-synced + WAL replayed")
    assert(stateOf(t1b) == s1, "surviving sibling state must not change")
    assert(opCounts(t1b) == c1,
      "surviving sibling must not re-apply the replayed WAL (lsn floor): " +
        s"$c1 -> ${opCounts(t1b)}")
  }

  test("vanished target under a live checkpoint whose signature and label " +
    "tables survive: both companions converge on the recreated target") {
    import graft.operators.{LabelStore, SignatureStore}
    val dir = SparkTestBase.tmpDir("orchvanishcomp")
    Gen.writeLog(spark, Gen.Config(numEvents = 2000, numConvs = 20, seed = 406,
      evolveAtId = None), s"$dir/wal", 2, filesPerSegment = 1)
    val bf = (0 until 3).map(i => (s"bf-$i", i, "user", s"backfill $i",
      null: String, java.sql.Timestamp.valueOf("2020-01-01 00:00:00")))
    val backfill = (table: String, _: String) =>
      if (table == "transcripts")
        Some(bf.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts"))
      else None
    val mapJson =
      s"""{"databases":[{"name":"app",
         |  "urls":[{"url":"$dir/wal/seg-*","sid":"s0"}],
         |  "tables":{"transcripts":{"type":"clone","target":"transcripts",
         |    "signatures":true,"labels":true}}}]}""".stripMargin
    Files.writeString(Paths.get(s"$dir/map.json"), mapJson)
    val specs = Map("transcripts" -> Transcripts.spec(numBuckets = 4))
    def run(): Unit = Orchestrator.runAvailable(spark, s"$dir/map.json",
      s"$dir/targets", specs, s"$dir/ckpt", backfill)
    run()
    // the doc target vanishes; its signature and label tables do not
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    rm(new java.io.File(s"$dir/targets/transcripts"))
    run()

    def rows(t: LakeTable): Set[Seq[Any]] =
      t.read().collect().map(_.toSeq.map(v => if (v == null) null else v.toString)).toSet
    val docs = LakeTable.load(spark, s"$dir/targets/transcripts")
    assert(docs.read().count() > bf.size, "the WAL must replay into the recreated target")
    val sigCheck = LakeTable.create(spark, s"$dir/sig-check", SignatureStore.spec(numBuckets = 4))
    assert(SignatureStore.bootstrap(sigCheck, docs))
    assert(rows(LakeTable.load(spark, s"$dir/targets/transcripts_signatures")) ==
      rows(sigCheck), "signatures must equal their bootstrap off the final doc table")
    val lblCheck = LakeTable.create(spark, s"$dir/lbl-check", LabelStore.spec(numBuckets = 4))
    assert(LabelStore.bootstrap(lblCheck, sigCheck))
    assert(rows(LakeTable.load(spark, s"$dir/targets/transcripts_labels")) ==
      rows(lblCheck), "labels must equal their bootstrap off the final signatures")
  }

  test("missing checkpoint over an applied table: watermark resume, no loss, " +
    "no duplicate apply, no duplicate full sync") {
    val dir = SparkTestBase.tmpDir("orchnockpt")
    Gen.writeLog(spark, Gen.Config(numEvents = 3000, numConvs = 30, seed = 505),
      s"$dir/wal", 2, filesPerSegment = 1)
    val bf = (0 until 3).map(i => (s"bf-$i", i, "user", s"backfill $i",
      null: String, java.sql.Timestamp.valueOf("2020-01-01 00:00:00")))
    val backfill = (table: String, _: String) =>
      if (table == "transcripts")
        Some(bf.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts"))
      else None
    val mapJson =
      s"""{"databases":[{"name":"app",
         |  "urls":[{"url":"$dir/wal/seg-*","sid":"s0"}],
         |  "tables":{"transcripts":{"type":"clone","target":"transcripts"}}}]}""".stripMargin
    Files.writeString(Paths.get(s"$dir/map.json"), mapJson)
    val specs = Map("transcripts" -> Transcripts.spec(numBuckets = 4))
    Orchestrator.runAvailable(spark, s"$dir/map.json", s"$dir/targets",
      specs, s"$dir/ckpt", backfill)
    val lake = LakeTable.load(spark, s"$dir/targets/transcripts")
    val (c1, s1) = (opCounts(lake), stateOf(lake))

    // the checkpoint is lost; NEW events exist beyond the applied watermark
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    rm(new java.io.File(s"$dir/ckpt"))
    val fresh = Seq(
      graft.model.ChangeEvent(999999L, 0, "I", "transcripts", "s0", "none",
        Map.empty, Map("conv_id" -> "post-heal", "turn_idx" -> "0",
          "role" -> "user", "text" -> "new event")))
    fresh.toDS().toDF().coalesce(1).write.parquet(s"$dir/wal/seg-00002")

    Orchestrator.runAvailable(spark, s"$dir/map.json", s"$dir/targets",
      specs, s"$dir/ckpt", backfill)
    val after = LakeTable.load(spark, s"$dir/targets/transcripts")
    val rows = stateOf(after)
    assert(rows.exists(_.head == "post-heal"),
      "events past the applied watermark must apply (no loss)")
    assert(rows.filterNot(_.head == "post-heal") == s1,
      "already-applied state must not change (no duplicate apply)")
    assert(opCounts(after) == c1.updated("I", c1("I") + 1),
      "only the ONE new insert may move the counters: " +
        s"$c1 -> ${opCounts(after)}")
    assert(rows.count(_.head.toString.startsWith("bf-")) == bf.size,
      "full sync must NOT rerun (full-sync property survives healing)")

    // the floor is the table's PERSISTED applied watermark, not in-memory
    // route state: on a later start (checkpoint present, heal branch skipped) a newly
    // delivered segment carrying pre-floor lsns must still filter out —
    // the crash-mid-heal scenario where replay continues without the heal
    val floor = after.snapshot().properties
      .get("applied-ord-commit-epoch-app-s0-transcripts")
    assert(floor.exists(_.toLong > 0), s"heal floor must persist, got $floor")
    Seq(graft.model.ChangeEvent(5L, 0, "I", "transcripts", "s0", "none",
      Map.empty, Map("conv_id" -> "stale-lsn", "turn_idx" -> "0",
        "role" -> "user", "text" -> "pre-floor")))
      .toDS().toDF().coalesce(1).write.parquet(s"$dir/wal/seg-00003")
    Orchestrator.runAvailable(spark, s"$dir/map.json", s"$dir/targets",
      specs, s"$dir/ckpt", backfill)
    val rows2 = stateOf(LakeTable.load(spark, s"$dir/targets/transcripts"))
    assert(!rows2.exists(_.head == "stale-lsn"),
      "pre-floor lsns must stay filtered on every start (persisted floor)")
  }

  test("heal floor is (lsn, seq)-granular: one lsn straddling the applied " +
    "boundary loses no rows") {
    // multiple events share one lsn (seq orders them); if the applied
    // watermark covers (lsn=100, seq=0) only, a post-heal replay must still
    // apply (lsn=100, seq=1) — an lsn-granular floor would drop it
    val dir = SparkTestBase.tmpDir("orchseqfloor")
    def ev(lsn: Long, seq: Int, conv: String) =
      graft.model.ChangeEvent(lsn, seq, "I", "transcripts", "s0", "none",
        Map.empty, Map("conv_id" -> conv, "turn_idx" -> "0",
          "role" -> "user", "text" -> s"$conv text"))
    Seq(ev(100L, 0, "half1")).toDS().toDF().coalesce(1)
      .write.parquet(s"$dir/wal/seg-00000")
    val mapJson =
      s"""{"databases":[{"name":"app",
         |  "urls":[{"url":"$dir/wal/seg-*","sid":"s0"}],
         |  "tables":{"transcripts":{"type":"clone","target":"transcripts"}}}]}""".stripMargin
    Files.writeString(Paths.get(s"$dir/map.json"), mapJson)
    val specs = Map("transcripts" -> Transcripts.spec(numBuckets = 4))
    Orchestrator.runAvailable(spark, s"$dir/map.json", s"$dir/targets",
      specs, s"$dir/ckpt")
    val lake = LakeTable.load(spark, s"$dir/targets/transcripts")
    assert(lake.snapshot().properties
      .get("applied-ord-commit-epoch-app-s0-transcripts")
      .contains(((100L << 20) | 1L).toString),
      "applied-ord must record the event-granular watermark per route")

    // checkpoint lost; the SAME lsn's remaining seq arrives in a new segment
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    rm(new java.io.File(s"$dir/ckpt"))
    Seq(ev(100L, 1, "half2")).toDS().toDF().coalesce(1)
      .write.parquet(s"$dir/wal/seg-00001")
    Orchestrator.runAvailable(spark, s"$dir/map.json", s"$dir/targets",
      specs, s"$dir/ckpt")
    val convs = LakeTable.load(spark, s"$dir/targets/transcripts")
      .read().select("conv_id").collect().map(_.getString(0)).toSeq.sorted
    assert(convs == Seq("half1", "half2"),
      s"the straddling lsn's second half must apply exactly once: $convs")
    // the op counters prove half1 did NOT re-apply (2 inserts total)
    assert(LakeTable.load(spark, s"$dir/targets/transcripts")
      .snapshot().properties("metrics-ops-I") == "2")
  }

  test("heal floors are per MAPPING: a shared-target sibling's commit cannot " +
    "hide the other route's unapplied events") {
    // two mappings (t1, t2) of one stream share target X. Crash window:
    // batch 1 applied by route t1 only (its watermark advances past t2's
    // batch-1 events), checkpoint lost. The heal must floor each route on
    // ITS OWN applied-ord — a per-sid watermark would floor t2 at t1's
    // position and silently drop t2's batch-1 events.
    val dir = SparkTestBase.tmpDir("orchsharedheal")
    def ev(lsn: Long, table: String, conv: String) =
      graft.model.ChangeEvent(lsn, 0, "I", table, "s0", "none",
        Map.empty, Map("conv_id" -> conv, "turn_idx" -> "0",
          "role" -> "user", "text" -> s"$conv text"))
    Seq(ev(100L, "t1", "t1-a"), ev(101L, "t2", "t2-a")).toDS().toDF()
      .coalesce(1).write.parquet(s"$dir/wal/seg-00000")
    val mapJson =
      s"""{"databases":[{"name":"app",
         |  "urls":[{"url":"$dir/wal/seg-*","sid":"s0"}],
         |  "tables":{"t1":{"type":"clone","target":"X"},
         |            "t2":{"type":"clone","target":"X"}}}]}""".stripMargin
    Files.writeString(Paths.get(s"$dir/map.json"), mapJson)
    val specs = Map("X" -> Transcripts.spec(name = "X", numBuckets = 4))
    Orchestrator.runAvailable(spark, s"$dir/map.json", s"$dir/targets",
      specs, s"$dir/ckpt")
    val lake = LakeTable.load(spark, s"$dir/targets/X")
    assert(lake.read().count() == 2)

    // batch 1: t2's event sits at a LOWER ord than t1's; route t1 applies
    // it (direct call = crash before route t2's apply), checkpoint lost
    val seg1 = Seq(ev(200L, "t2", "t2-b"), ev(300L, "t1", "t1-b"))
    seg1.toDS().toDF().coalesce(1).write.parquet(s"$dir/wal/seg-00001")
    graft.operators.Replay.applyBatch(lake, seg1.toDS(),
      graft.model.TableMapping("t1", "X"), batchId = 1,
      epochKey = "commit-epoch-app-s0-t1")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    rm(new java.io.File(s"$dir/ckpt"))

    Orchestrator.runAvailable(spark, s"$dir/map.json", s"$dir/targets",
      specs, s"$dir/ckpt")
    val convs = LakeTable.load(spark, s"$dir/targets/X").read()
      .select("conv_id").collect().map(_.getString(0)).toSeq.sorted
    assert(convs == Seq("t1-a", "t1-b", "t2-a", "t2-b"),
      s"t2's unapplied batch-1 event must survive the heal: $convs")
    assert(LakeTable.load(spark, s"$dir/targets/X")
      .snapshot().properties("metrics-ops-I") == "4",
      "no event may apply twice across the heal")
  }

  test("live reload under a processing-time trigger: map change mid-stream, " +
    "no duplicates, no loss, added table syncs once") {
    val dir = SparkTestBase.tmpDir("orchlive")
    val cfg = Gen.Config(numEvents = 2000, numConvs = 20, seed = 606,
      sourceTables = Seq("t1", "t2"), evolveAtId = None)
    Gen.writeLog(spark, cfg, s"$dir/wal", 1, filesPerSegment = 1)
    val bf = Seq(("bf-0", 0, "user", "bf", null: String,
      java.sql.Timestamp.valueOf("2020-01-01 00:00:00")))
    val backfill = (table: String, _: String) =>
      if (table == "t2")
        Some(bf.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts"))
      else None
    def mapJson(tables: String) =
      s"""{"databases":[{"name":"app",
         |  "urls":[{"url":"$dir/wal/seg-*","sid":"s0"}],
         |  "tables":{$tables}}]}""".stripMargin
    Files.writeString(Paths.get(s"$dir/map.json"),
      mapJson(""""t1":{"type":"clone","target":"t1"}"""))
    val specs = Map(
      "t1" -> Transcripts.spec(name = "t1", numBuckets = 4),
      "t2" -> Transcripts.spec(name = "t2", numBuckets = 4))

    def await(what: String, timeoutMs: Long = 180000)(cond: => Boolean): Unit = {
      val deadline = System.nanoTime() + timeoutMs * 1000000L
      while (!cond) {
        if (System.nanoTime() > deadline) fail(s"timed out waiting for: $what")
        Thread.sleep(200)
      }
    }
    val expT1: Map[String, Long] = spark.read
      .schema(graft.model.ChangeEvent.schema).parquet(s"$dir/wal/seg-00000")
      .filter(col("source_table") === "t1").groupBy("op").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    val h = Orchestrator.runContinuous(spark, s"$dir/map.json", s"$dir/targets",
      specs, s"$dir/ckpt", backfill, pollMs = 100,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(100))
    try {
      await("t1 converged on seg0") {
        LakeTable.exists(s"$dir/targets/t1") &&
          opCounts(LakeTable.load(spark, s"$dir/targets/t1")) == expT1
      }
      assert(!LakeTable.exists(s"$dir/targets/t2"), "t2 not routed yet")

      // an INVALID map edit (half-written file) must not take the
      // deployment down: the watcher validates before stopping anything
      Files.writeString(Paths.get(s"$dir/map.json"), """{"databases": [{"na""")
      Thread.sleep(800) // give the watcher a few ticks on the bad file
      assert(h.current.forall(_.query.isActive),
        "streams must keep running across an invalid map edit")

      // a map that PARSES but cannot boot (unknown target: no TableSpec)
      // must also be rejected BEFORE anything stops — otherwise the watcher
      // stops the streams and retry-loops forever on the broken map
      Files.writeString(Paths.get(s"$dir/map.json"), mapJson(
        """"t1":{"type":"clone","target":"t1"},
          |            "ghost":{"type":"clone","target":"ghost"}""".stripMargin))
      Thread.sleep(800)
      assert(h.current.forall(_.query.isActive),
        "streams must keep running across an unbootable map edit")

      // reload mid-stream: the map gains t2 — no drain boundary
      Files.writeString(Paths.get(s"$dir/map.json"), mapJson(
        """"t1":{"type":"clone","target":"t1"},
          |            "t2":{"type":"clone","target":"t2"}""".stripMargin))
      await("t2 created + full-synced once") {
        LakeTable.exists(s"$dir/targets/t2") && {
          val t2 = LakeTable.load(spark, s"$dir/targets/t2")
          t2.snapshot().properties.contains("full-sync-s0") &&
            stateOf(t2).count(_.head == "bf-0") == 1
        }
      }

      // live WAL lands mid-stream for BOTH tables
      Seq(
        graft.model.ChangeEvent(999990L, 0, "I", "t1", "s0", "none", Map.empty,
          Map("conv_id" -> "live-1", "turn_idx" -> "0", "role" -> "user",
            "text" -> "x")),
        graft.model.ChangeEvent(999991L, 0, "I", "t2", "s0", "none", Map.empty,
          Map("conv_id" -> "live-2", "turn_idx" -> "0", "role" -> "user",
            "text" -> "y")))
        .toDS().toDF().coalesce(1).write.parquet(s"$dir/wal/seg-00001")
      await("post-reload WAL applied to both tables") {
        stateOf(LakeTable.load(spark, s"$dir/targets/t1")).exists(_.head == "live-1") &&
          stateOf(LakeTable.load(spark, s"$dir/targets/t2")).exists(_.head == "live-2")
      }
      // no duplicates on the pre-existing table: counters are EXACT even
      // across the restart (epoch-skip covers a redelivered batch)
      assert(opCounts(LakeTable.load(spark, s"$dir/targets/t1")) ==
        expT1.updated("I", expT1.getOrElse("I", 0L) + 1),
        "t1 counters must move by exactly the one live insert")
      // added table synced exactly once
      assert(stateOf(LakeTable.load(spark, s"$dir/targets/t2"))
        .count(_.head == "bf-0") == 1)
    } finally h.stop()
  }

  test("two mappings of ONE stream into one shared target: no epoch collision") {
    val dir = SparkTestBase.tmpDir("orchshared")
    val cfg = Gen.Config(numEvents = 2000, numConvs = 20, seed = 501)
    Gen.writeLog(spark, cfg, s"$dir/wal", 2)
    // the reference's consolidation shape: two table-map entries, one
    // target. The second mapping routes the same physical table via regex,
    // restricted to role='user' rows so the two mappings' contributions are
    // distinguishable. A shared epoch key would silently drop the second
    // mapping's events (its applyBatch would see batchId <= epoch).
    val mapJson =
      s"""{"databases":[{"name":"app",
         |  "urls":[{"url":"$dir/wal/seg-*","sid":"s0"}],
         |  "tables":{"transcripts":{"type":"clone","target":"both",
         |                           "filter":"role = 'assistant'"},
         |            "transcripts_alias":{"type":"clone","target":"both",
         |                                 "partitions_regex":"transcripts",
         |                                 "filter":"role = 'user'"}}}]}""".stripMargin
    Files.writeString(Paths.get(s"$dir/map.json"), mapJson)
    val specs = Map("both" -> Transcripts.spec("both", numBuckets = 4))
    Orchestrator.runAvailable(spark, s"$dir/map.json", s"$dir/targets",
      specs, s"$dir/ckpt")
    val lake = LakeTable.load(spark, s"$dir/targets/both")
    val props = lake.snapshot().properties
    assert(props("commit-epoch-app-s0-transcripts").toLong >= 1)
    assert(props("commit-epoch-app-s0-transcripts_alias").toLong >= 1)
    // BOTH mappings' rows are present — the second mapping was not dropped
    val roles = lake.read().select("role").distinct().collect().map(_.getString(0)).toSet
    assert(roles.contains("user") && roles.contains("assistant"),
      s"expected rows from both mappings, got roles=$roles")
  }

  test("continuous trigger: live concurrent fan-in converges, late WAL picked up") {
    val dir = SparkTestBase.tmpDir("orchlive")
    val cfgs = Map(
      "s0" -> Gen.Config(numEvents = 3000, numConvs = 30, seed = 301),
      "s1" -> Gen.Config(numEvents = 3000, numConvs = 30, seed = 302))
    // only half the WAL exists at start; the rest lands while live
    cfgs.foreach { case (s, cfg) => Gen.writeSegments(spark, cfg, s"$dir/wal-$s", 4, 0 until 2) }
    val mapJson =
      s"""{"databases":[{"name":"app",
         |  "urls":[{"url":"$dir/wal-s0/seg-*","sid":"s0"},
         |          {"url":"$dir/wal-s1/seg-*","sid":"s1"}],
         |  "tables":{"transcripts":{"type":"clone","target":"transcripts"}}}]}""".stripMargin
    Files.writeString(Paths.get(s"$dir/map.json"), mapJson)
    val sidSchema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("sid",
        org.apache.spark.sql.types.StringType, nullable = true)
        +: Transcripts.schema.fields)
    val specs = Map("transcripts" ->
      Transcripts.spec(numBuckets = 4, hasSid = true).copy(schema = sidSchema))

    val handles = Orchestrator.start(spark, graft.config.MapConfig.load(s"$dir/map.json"),
      s"$dir/targets", specs, s"$dir/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(200))
    try {
      val lake = LakeTable.load(spark, s"$dir/targets/transcripts")
      def epoch(k: String): Long =
        lake.snapshot().properties.getOrElse(k, "-1").toLong
      def await(cond: => Boolean, what: String): Unit = {
        val deadline = System.nanoTime() + 120L * 1000000000L
        while (!cond) {
          assert(System.nanoTime() < deadline, s"timeout waiting for $what")
          Thread.sleep(300)
        }
      }
      await(epoch("commit-epoch-app-s0-transcripts") >= 1 &&
        epoch("commit-epoch-app-s1-transcripts") >= 1,
        "first half applied by both live streams")
      cfgs.foreach { case (s, cfg) =>
        Gen.writeSegments(spark, cfg, s"$dir/wal-$s", 4, 2 until 4) }
      await(epoch("commit-epoch-app-s0-transcripts") >= 3 &&
        epoch("commit-epoch-app-s1-transcripts") >= 3,
        "late-landing WAL applied by both live streams")
    } finally handles.foreach(_.query.stop())

    val lake = LakeTable.load(spark, s"$dir/targets/transcripts")
    val spec = specs("transcripts")
    cfgs.foreach { case (s, cfg) =>
      val localEvents = (0L until cfg.numEvents)
        .map(id => Gen.mkEvent(id, cfg).copy(sid = s))
      val want = Oracle.canonical(
        Oracle.replay(localEvents, spec, TableMapping("transcripts", "transcripts")),
        spec.schema.fieldNames.toSeq)
      val got = lake.read().filter(col("sid") === s)
        .select(spec.schema.fieldNames.map(c => col(c).cast("string").as(c)).toIndexedSeq: _*)
        .collect().toSeq
        .map(r => spec.schema.fieldNames.toSeq.map(c => r.getAs[String](c)))
        .sortBy(_.map(v => if (v == null) "" else v).mkString("\u0001"))
      assert(got == want.map(_._2), s"tenant $s diverged under live fan-in")
    }
  }
}
