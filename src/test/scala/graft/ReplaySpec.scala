package graft

import graft.gen.Gen
import graft.lake.LakeTable
import graft.model._
import graft.operators.Replay
import graft.verify.Oracle
import graft.SparkTestBase.jobsOf
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** End-to-end batch replay vs the sequential oracle: the engine's final
  * table must equal the reference-semantics fold of the same event log —
  * per-turn text equality under stable (conv_id, turn_idx) ordering. */
class ReplaySpec extends AnyFunSuite {

  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** Read the lake table back as canonical (key, row-strings) pairs. */
  private def engineCanonical(lake: LakeTable, spec: TableSpec): Seq[(Seq[String], Seq[String])] = {
    val schema = lake.schema
    val df = lake.read()
    val asStrings = df.select(schema.fieldNames.map(c => col(c).cast("string").as(c)).toIndexedSeq: _*)
    val mergeKey = spec.mergeKey
    asStrings.collect().toSeq
      .map { r =>
        val m = schema.fieldNames.map(c => c -> r.getAs[String](c)).toMap
        (mergeKey.map(m), schema.fieldNames.toSeq.map(m))
      }
      .sortBy(_._1.map(s => if (s == null) "" else s).mkString("\u0001"))
  }

  private def oracleCanonical(events: Seq[ChangeEvent], spec: TableSpec,
                              mapping: TableMapping,
                              columns: Seq[String]): Seq[(Seq[String], Seq[String])] =
    Oracle.canonical(Oracle.replay(events, spec, mapping), columns)

  private def runAndCompare(cfg: Gen.Config, spec: TableSpec,
                            mapping: TableMapping,
                            nBatches: Int = 1): Unit = {
    val lake = LakeTable.create(spark, SparkTestBase.tmpDir("lake"), spec)
    val all = Gen.events(spark, cfg)
    val n = cfg.numEvents
    val per = math.max(1L, (n + nBatches - 1) / nBatches)
    (0 until nBatches).foreach { b =>
      val lo = b * per; val hi = math.min(n, lo + per)
      // batch slice by id range == lsn-contiguous (ordered replay)
      val batch = all.filter(e => (e.lsn - 1) * cfg.txnSize + e.seq >= lo &&
        (e.lsn - 1) * cfg.txnSize + e.seq < hi)
      Replay.applyBatch(lake, batch, mapping, batchId = b)
    }
    val localEvents = (0L until n).map(id => Gen.mkEvent(id, cfg))
    val want = oracleCanonical(localEvents, spec, mapping, spec.schema.fieldNames.toSeq)
    val got = engineCanonical(lake, spec)
    assert(got.size == want.size,
      s"row count: engine=${got.size} oracle=${want.size}")
    got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
      assert(g == w, s"row $i differs:\n engine=$g\n oracle=$w")
    }
  }

  private val mapping = TableMapping("transcripts", "transcripts")

  test("e2e: basic clone replay equals oracle (single batch)") {
    runAndCompare(Gen.Config(numEvents = 20000, numConvs = 200, seed = 1),
      Transcripts.spec(numBuckets = 8), mapping)
  }

  test("e2e: multi-batch ordered replay equals oracle") {
    runAndCompare(Gen.Config(numEvents = 20000, numConvs = 200, seed = 2),
      Transcripts.spec(numBuckets = 8), mapping, nBatches = 4)
  }

  test("e2e: hot-key skew (Zipf 4.0) equals oracle") {
    runAndCompare(
      Gen.Config(numEvents = 30000, numConvs = 50, skew = 4.0, seed = 3),
      Transcripts.spec(numBuckets = 8), mapping)
  }

  test("e2e: multi-sid fan-in (sid joins the merge key)") {
    runAndCompare(
      Gen.Config(numEvents = 20000, numConvs = 100, numSids = 4, seed = 4),
      Transcripts.spec(numBuckets = 8, hasSid = true)
        .copy(schema = Transcripts.schema.add("sid", "string")),
      mapping)
  }

  test("e2e: append mode drops deletes (30-append.robot analog)") {
    runAndCompare(Gen.Config(numEvents = 15000, numConvs = 150, seed = 5),
      Transcripts.spec(numBuckets = 8),
      mapping.copy(mode = TableMode.Append))
  }

  test("e2e: TOAST-heavy updates (unchanged columns keep target values)") {
    runAndCompare(
      Gen.Config(numEvents = 20000, numConvs = 100, pInsert = 0.3,
        pUpdate = 0.6, pToast = 0.7, seed = 6),
      Transcripts.spec(numBuckets = 8), mapping)
  }

  test("e2e: PK-update-heavy stream (old_kind K normalization)") {
    runAndCompare(
      Gen.Config(numEvents = 20000, numConvs = 100, pInsert = 0.4,
        pUpdate = 0.5, pPkUpdate = 0.5, seed = 7),
      Transcripts.spec(numBuckets = 8), mapping)
  }

  test("e2e: schema evolution mid-stream (R message adds tokens column)") {
    val cfg = Gen.Config(numEvents = 20000, numConvs = 100, seed = 8,
      evolveAtId = Some(10000L))
    val spec = Transcripts.spec(numBuckets = 8)
    val lake = LakeTable.create(spark, SparkTestBase.tmpDir("lake"), spec)
    // three batches: evolution happens inside batch 2
    val all = Gen.events(spark, cfg)
    def slice(lo: Long, hi: Long) = all.filter(e =>
      (e.lsn - 1) * cfg.txnSize + e.seq >= lo && (e.lsn - 1) * cfg.txnSize + e.seq < hi)
    Replay.applyBatch(lake, slice(0, 4000), mapping, 0)
    assert(Replay.templateBuilds(lake) == 1, "the first batch builds the table's merge plan")
    // a warm batch binds into the plan; the R message's schema rebuilds it once
    Replay.applyBatch(lake, slice(4000, 8000), mapping, 1)
    assert(Replay.templateBuilds(lake) == 1, "a warm batch builds no merge plan")
    Replay.applyBatch(lake, slice(8000, cfg.numEvents), mapping, 2)
    assert(Replay.templateBuilds(lake) == 2, "the evolving batch builds one merge plan")
    assert(lake.schema.fieldNames.contains("tokens"), "schema must evolve")
    // oracle over evolved schema
    val evolvedSpec = spec.copy(schema = lake.schema)
    val localEvents = (0L until cfg.numEvents).map(id => Gen.mkEvent(id, cfg))
      .filter(_.op != "R")
    val want = Oracle.canonical(
      Oracle.replay(localEvents, evolvedSpec, mapping),
      lake.schema.fieldNames.toSeq)
    val got = engineCanonical(lake, evolvedSpec)
    assert(got.size == want.size, s"engine=${got.size} oracle=${want.size}")
    got.zip(want).foreach { case (g, w) => assert(g == w, s"\n engine=$g\n oracle=$w") }
  }

  test("e2e: idempotent re-apply (same batchId skipped — exactly-once)") {
    val cfg = Gen.Config(numEvents = 5000, numConvs = 50, seed = 9)
    val spec = Transcripts.spec(numBuckets = 4)
    val lake = LakeTable.create(spark, SparkTestBase.tmpDir("lake"), spec)
    val events = Gen.events(spark, cfg)
    assert(Replay.applyBatch(lake, events, mapping, batchId = 0))
    val v1 = lake.currentVersion
    val rows1 = lake.read().count()
    assert(!Replay.applyBatch(lake, events, mapping, batchId = 0)) // replayed
    assert(lake.currentVersion == v1, "no new snapshot on replayed batch")
    assert(lake.read().count() == rows1, "no duplicate rows")
  }

  test("e2e: filter expression drops rows (CEL-filter analog)") {
    val cfg = Gen.Config(numEvents = 10000, numConvs = 100, seed = 10)
    val spec = Transcripts.spec(numBuckets = 4)
    val lake = LakeTable.create(spark, SparkTestBase.tmpDir("lake"), spec)
    val m = mapping.copy(filter = Some("role <> 'system'"))
    Replay.applyBatch(lake, Gen.events(spark, cfg), m, 0)
    val localEvents = (0L until cfg.numEvents).map(id => Gen.mkEvent(id, cfg))
    val want = Oracle.canonical(
      Oracle.replay(localEvents, spec, m,
        filterFn = Some(env => env.getOrElse("role", null) != "system")),
      spec.schema.fieldNames.toSeq)
    val got = engineCanonical(lake, spec)
    assert(got == want)
  }

  test("CEL-extension analogs in filter/set: regex, encoders, slicing") {
    // the reference's CEL env ships strings/math/lists/regex/encoder
    // extensions (cel.go:68-87); Spark SQL built-ins cover the surface —
    // prove the representative ones work through the env rewrite
    val cfg = Gen.Config(numEvents = 6000, numConvs = 60, seed = 41)
    val spec2 = TableSpec("t3", org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("conv_id", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("turn_idx", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("role_b64", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("text_head", org.apache.spark.sql.types.StringType))),
      keyCols = Seq("conv_id", "turn_idx"), bucketCols = Seq("conv_id"), numBuckets = 4)
    val lake = LakeTable.create(spark, SparkTestBase.tmpDir("lake"), spec2)
    val m = mapping.copy(
      filter = Some("regexp_like(text, '^t-c') AND length(conv_id) >= 3"),
      set = Some(Seq(
        "conv_id" -> "conv_id", "turn_idx" -> "turn_idx",
        "role_b64" -> "base64(cast(role as binary))",
        "text_head" -> "substring(text, 1, 4)")),
      sourceSchema = Some(Transcripts.schema))
    Replay.applyBatch(lake, Gen.events(spark, cfg), m, 0)

    def b64(s: String): String =
      java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
    val localEvents = (0L until cfg.numEvents).map(id => Gen.mkEvent(id, cfg))
    val want = Oracle.canonical(
      Oracle.replay(localEvents, spec2, m,
        filterFn = Some { env =>
          val t = env.getOrElse("text", null)
          // SQL 3-valued logic: NULL text (delete env) => NULL => fail-open keep
          t == null || (t.startsWith("t-c") && env.getOrElse("conv_id", "").length >= 3)
        },
        setFn = Some { v =>
          Map("conv_id" -> v.getOrElse("conv_id", null),
            "turn_idx" -> v.getOrElse("turn_idx", null),
            "role_b64" -> Option(v.getOrElse("role", null)).map(b64).orNull,
            "text_head" -> Option(v.getOrElse("text", null)).map(_.take(4)).orNull)
        }),
      spec2.schema.fieldNames.toSeq)
    assert(engineCanonical(lake, spec2) == want)
  }

  test("filter/set literals containing column names are NOT rewritten") {
    // 'tool' is BOTH a column of the env schema and a data value of `role`:
    // a text-level rewrite would corrupt the literal to '__env.tool' and
    // silently keep the rows it should drop. The structural rewrite
    // (parsed-tree attribute substitution) must leave literals alone.
    val cfg = Gen.Config(numEvents = 8000, numConvs = 80, seed = 23)
    val spec = Transcripts.spec(numBuckets = 4)
    val lake = LakeTable.create(spark, SparkTestBase.tmpDir("lake"), spec)
    val m = mapping.copy(filter = Some("role <> 'tool'"))
    Replay.applyBatch(lake, Gen.events(spark, cfg), m, 0)
    assert(lake.read().filter(col("role") === "tool").limit(1).count() == 0,
      "rows with role='tool' must have been dropped by the filter")
    val localEvents = (0L until cfg.numEvents).map(id => Gen.mkEvent(id, cfg))
    val want = Oracle.canonical(
      Oracle.replay(localEvents, spec, m,
        filterFn = Some(env => env.getOrElse("role", null) != "tool")),
      spec.schema.fieldNames.toSeq)
    assert(engineCanonical(lake, spec) == want)

    // set-expression literal: concat(role, '-text') keeps the '-text'
    // literal even though `text` is an env column
    val spec2 = TableSpec("t2", org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("conv_id", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("turn_idx", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("tag", org.apache.spark.sql.types.StringType))),
      keyCols = Seq("conv_id", "turn_idx"), bucketCols = Seq("conv_id"), numBuckets = 4)
    val lake2 = LakeTable.create(spark, SparkTestBase.tmpDir("lake"), spec2)
    val m2 = mapping.copy(set = Some(Seq(
      "conv_id" -> "conv_id", "turn_idx" -> "turn_idx",
      "tag" -> "concat(role, '-text')")),
      sourceSchema = Some(Transcripts.schema))
    Replay.applyBatch(lake2, Gen.events(spark, cfg), m2, 0)
    val tags = lake2.read().select("tag").distinct().collect().map(_.getString(0))
    assert(tags.nonEmpty && tags.forall(t => t == null || t.endsWith("-text")),
      s"set literal '-text' must survive: ${tags.take(5).mkString(",")}")
  }

  test("job-count guard: a small clone batch and a small History batch run fewer Spark jobs") {
    val events = Seq(
      ChangeEvent(1, 0, "I", "transcripts", "s0", "none", Map.empty, turn("c1", 0, "a")),
      ChangeEvent(1, 1, "I", "transcripts", "s0", "none", Map.empty, turn("c2", 0, "b")),
      ChangeEvent(2, 0, "U", "transcripts", "s0", "none", Map.empty, turn("c1", 0, "a2")),
      ChangeEvent(3, 0, "D", "transcripts", "s0", "K",
        Map("conv_id" -> "c2", "turn_idx" -> "0"), Map.empty),
      ChangeEvent(4, 0, "I", "transcripts", "s0", "none", Map.empty, turn("c3", 0, "c")))
    def jobsFor(mode: TableMode, schema: org.apache.spark.sql.types.StructType): Int = {
      val spec = Transcripts.spec(numBuckets = 2).copy(schema = schema)
      val lake = LakeTable.create(spark, SparkTestBase.tmpDir("jobs"), spec)
      val m = mapping.copy(mode = mode)
      Replay.applyBatch(lake, events.take(2).toDS(), m, 0) // warm: a non-empty target
      val n = jobsOf(assert(Replay.applyBatch(lake, events.drop(2).toDS(), m, 1)))
      assert(lake.snapshot().properties("commit-epoch") == "1")
      n
    }
    val clone = jobsFor(TableMode.Clone, Transcripts.schema)
    val history = jobsFor(TableMode.History,
      graft.operators.History.historySchema(Transcripts.schema))
    info(s"jobs per batch: clone $clone, history $history")
    // each batch is the probe's one pass, the merge's one exchange and
    // its write
    assert(clone < 4, s"clone batch ran $clone jobs")
    assert(history < 4, s"history batch ran $history jobs")
  }

  test("clone _metrics: each batch's merge outcomes are its own, delete misses accumulate") {
    val lake = LakeTable.create(spark, SparkTestBase.tmpDir("clonemet"),
      Transcripts.spec(numBuckets = 2))
    def key(c: String) = Map("conv_id" -> c, "turn_idx" -> "0")
    Replay.applyBatch(lake, Seq(
      ChangeEvent(1, 0, "I", "transcripts", "s0", "none", Map.empty, turn("c1", 0, "a")),
      ChangeEvent(1, 1, "I", "transcripts", "s0", "none", Map.empty, turn("c2", 0, "b")),
      ChangeEvent(1, 2, "I", "transcripts", "s0", "none", Map.empty, turn("c3", 0, "c")))
      .toDS(), mapping, 0)
    // an update and a delete of present keys
    Replay.applyBatch(lake, Seq(
      ChangeEvent(2, 0, "U", "transcripts", "s0", "none", Map.empty, turn("c1", 0, "a2")),
      ChangeEvent(3, 0, "D", "transcripts", "s0", "K", key("c2"), Map.empty))
      .toDS(), mapping, 1)
    // a delete and an update of absent keys
    Replay.applyBatch(lake, Seq(
      ChangeEvent(4, 0, "D", "transcripts", "s0", "K", key("c9"), Map.empty),
      ChangeEvent(5, 0, "U", "transcripts", "s0", "none", Map.empty, turn("c8", 0, "z")))
      .toDS(), mapping, 2)
    val merge = lake.metrics().collect().filter(_.getString(2) == "merge")
      .map(r => (r.getLong(0), r.getString(3)) -> r.getLong(4)).toMap
    val outcomes = Seq("inserted", "updated", "deleted", "delete_miss", "update_miss")
    Seq(Seq(3L, 0L, 0L, 0L, 0L), Seq(0L, 1L, 1L, 0L, 0L), Seq(0L, 0L, 0L, 1L, 1L))
      .zipWithIndex.foreach { case (want, b) =>
        assert(outcomes.map(o => merge.get((b.toLong, o))) == want.map(Some(_)),
          s"batch $b: $merge")
      }
    assert(lake.snapshot().properties("metrics-delete-miss") == "1")
    assert(lake.read().count() == 2)
  }

  test("two writers: a merge whose base a compaction replaced aborts, and its retry applies once") {
    // two handles on one root and no shared lock: a merge reads v2, the
    // other handle's compaction commits v3 replacing every file the merge
    // rewrites, and the merge's commit must not land on top of it
    val cfg = Gen.Config(numEvents = 4000, numConvs = 40, seed = 44)
    val spec = Transcripts.spec(numBuckets = 4)
    val root = SparkTestBase.tmpDir("two-writers")
    val merger = LakeTable.create(spark, root, spec)
    val compactor = LakeTable.load(spark, root)
    val all = Gen.events(spark, cfg)
    def slice(lo: Long, hi: Long) = all.filter(e =>
      (e.lsn - 1) * cfg.txnSize + e.seq >= lo && (e.lsn - 1) * cfg.txnSize + e.seq < hi)
    assert(Replay.applyBatch(merger, slice(0, 2000), mapping, 0))

    val base = merger.snapshot()
    val batch = slice(2000, 4000).toDF()
    val p = Replay.probe(base, batch, appendMode = false, batchId = 1)
    assert(compactor.compact(maxFilesPerBucket = 0) > 0)
    val e = intercept[IllegalStateException](Replay.mergeApply(merger, base, batch,
      appendMode = false, p.ci.get, p.touched, p.zones, 1, "commit-epoch"))
    assert(e.getMessage.contains("stale commit"), e.getMessage)
    assert(merger.snapshot().properties("commit-epoch") == "0")

    // the retry merges against the compacted snapshot: no row lost or doubled
    assert(Replay.applyBatch(merger, slice(2000, 4000), mapping, 1))
    val events = (0L until cfg.numEvents).map(id => Gen.mkEvent(id, cfg))
    assert(engineCanonical(merger, spec) ==
      oracleCanonical(events, spec, mapping, spec.schema.fieldNames.toSeq))
  }

  test("phases: a clone batch's jobs run under graft: descriptions and the caller's description comes back") {
    val sc = spark.sparkContext
    val lake = LakeTable.create(spark, SparkTestBase.tmpDir("phases"),
      Transcripts.spec(numBuckets = 4))
    val cfg = Gen.Config(numEvents = 4000, numConvs = 40, seed = 42)
    Replay.applyBatch(lake, Gen.events(spark, cfg), mapping, 0) // a non-empty target
    val group = s"phases-${java.util.UUID.randomUUID()}"
    val marker = s"$group-marker"
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val seenGroups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val g = e.properties.getProperty("spark.jobGroup.id")
        if (g != null) seenGroups.add(g)
        if (g == group)
          descs.add(String.valueOf(e.properties.getProperty("spark.job.description")))
      }
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            plans.add((s.description, s.physicalPlanDescription))
          case _ =>
        }
    }
    val scope = LakeTable.rootKey(lake.root)
    def phaseSeconds: Map[String, Double] = graft.obs.Phases.totals.collect {
      case ((`scope`, ph), t) => ph -> t.seconds }
    // a second stream's events, past batch 0's lsns (1-1000): the table
    // drops events at or below what it already applied
    val events = Gen.events(spark, cfg.copy(seed = 43))
      .withColumn("lsn", col("lsn") + 1000L).as[ChangeEvent]
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "outer")
      val (s0, t0) = (phaseSeconds, System.nanoTime())
      try {
        assert(Replay.applyBatch(lake, events, mapping, 1))
        val wall = (System.nanoTime() - t0) / 1e9
        val split = phaseSeconds.map { case (ph, s) => ph -> (s - s0.getOrElse(ph, 0.0)) }
        info(f"phases cover ${split.values.sum / wall * 100}%.1f%% of $wall%.3f s: " +
          split.toSeq.sorted.map { case (ph, s) => f"$ph $s%.3f s" }.mkString(", "))
        assert(sc.getLocalProperty("spark.job.description") == "outer")
      } finally sc.clearJobGroup()
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000L
      while (!seenGroups.contains(marker) && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      assert(seenGroups.contains(marker), "listener bus did not deliver the marker job")
      val d = descs.asScala.toSeq
      assert(d.nonEmpty && d.forall(_.startsWith("graft:")), d.mkString("\n"))
      val tableName = java.nio.file.Paths.get(lake.root).getFileName.toString
      val writePlans = plans.asScala.collect {
        case (desc, plan) if desc == s"graft:$tableName:write" => plan }.toSeq
      assert(writePlans.exists(_.contains("Window")), plans.asScala.map(_._1).mkString("\n"))
      // the writer's repartition by bucket meets the window pass's own
      // exchange on the bucket, and Spark plans one exchange for both
      writePlans.foreach { plan =>
        assert("""Exchange \(\d+\)""".r.findAllIn(plan).size == 1, plan) }
    } finally sc.removeSparkListener(listener)
  }

  private def turn(conv: String, idx: Int, text: String): Map[String, String] =
    Map("conv_id" -> conv, "turn_idx" -> idx.toString, "role" -> "user",
      "text" -> text, "tool" -> null, "ts" -> "2024-01-01 00:00:00")
}
