package graft

import graft.gen.Gen
import graft.lake.LakeTable
import graft.model.{ChangeEvent, TableMapping, TableMode, Transcripts}
import graft.operators.{History, Replay}
import graft.streaming.CdcStream
import graft.verify.Oracle
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Streaming ingestion: checkpoint resume, crash-window replay (lake commit
  * durable but checkpoint commit lost), and incremental WAL-segment arrival
  * — the f_resume fixture of FIXTURES.md §3 — plus multi-route streams,
  * whose root-disjoint route groups apply concurrently. */
class StreamSpec extends AnyFunSuite {

  lazy val spark = SparkTestBase.spark

  private val mapping = TableMapping("transcripts", "transcripts")

  private def compare(lake: LakeTable, cfg: Gen.Config, upToId: Long): Unit =
    compareTo(lake, (0L until upToId).map(id => Gen.mkEvent(id, cfg)), mapping)

  /** `lake` equals the sequential oracle replay of `events` under `m`. */
  private def compareTo(lake: LakeTable, events: Seq[ChangeEvent],
                        m: TableMapping): Unit = {
    val spec = Transcripts.spec()
    val want = Oracle.canonical(Oracle.replay(events, spec, m),
      lake.schema.fieldNames.toSeq)
    val schema = lake.schema
    val got = lake.read()
      .select(schema.fieldNames.map(c => col(c).cast("string").as(c)).toIndexedSeq: _*)
      .collect().toSeq
      .map { r =>
        val row = schema.fieldNames.map(c => c -> r.getAs[String](c)).toMap
        (spec.mergeKey.map(row), schema.fieldNames.toSeq.map(row))
      }
      .sortBy(_._1.map(s => if (s == null) "" else s).mkString(""))
    assert(got.size == want.size, s"rows: engine=${got.size} oracle=${want.size}")
    got.zip(want).foreach { case (g, w) => assert(g == w, s"\n engine=$g\n oracle=$w") }
  }

  test("stream: full replay via AvailableNow, resume, crash-window replay, late segments") {
    val cfg = Gen.Config(numEvents = 16000, numConvs = 150, seed = 21)
    val dir = SparkTestBase.tmpDir("stream")
    val logDir = s"$dir/wal"
    val logGlob = s"$dir/wal/seg-*" // file source needs the glob to descend
    val ckpt = s"$dir/ckpt"
    val segs = 8
    val perSeg = cfg.numEvents / segs

    // phase 1: first 4 WAL segments arrive, stream drains them
    Gen.writeSegments(spark, cfg, logDir, segs, 0 until 4)
    val lake = LakeTable.create(spark, s"$dir/transcripts", Transcripts.spec())
    CdcStream.runAvailable(spark, logGlob, ckpt, Seq(CdcStream.Route(mapping, lake)))
    compare(lake, cfg, 4L * perSeg)
    val epochAfter1 = lake.snapshot().properties("commit-epoch").toLong

    // phase 2: crash window — the lake commit survived but the stream's
    // checkpoint commit was lost; Spark replays the last batch on restart
    // and the epoch check must skip it (no dupes, no loss)
    val commitsDir = Paths.get(ckpt, "commits")
    val lastCommit = Files.list(commitsDir).iterator.asScala
      .filter(p => p.getFileName.toString.forall(_.isDigit))
      .toSeq.sortBy(_.getFileName.toString.toLong).last
    Files.delete(lastCommit)
    // the local ChecksumFs keeps a hidden .N.crc sibling; a real HDFS crash
    // would lose both, so drop it too
    Files.deleteIfExists(lastCommit.resolveSibling(s".${lastCommit.getFileName}.crc"))
    val v1 = lake.currentVersion
    CdcStream.runAvailable(spark, logGlob, ckpt, Seq(CdcStream.Route(mapping, lake)))
    assert(lake.snapshot().properties("commit-epoch").toLong == epochAfter1,
      "replayed batch must be skipped by the epoch check")
    assert(lake.currentVersion == v1, "no new snapshot from a replayed batch")
    compare(lake, cfg, 4L * perSeg)

    // phase 3: four more segments arrive; a fresh query on the same
    // checkpoint resumes past the applied offsets and drains only the rest
    Gen.writeSegments(spark, cfg, logDir, segs, 4 until 8)
    CdcStream.runAvailable(spark, logGlob, ckpt, Seq(CdcStream.Route(mapping, lake)))
    compare(lake, cfg, cfg.numEvents)
    assert(lake.snapshot().properties("commit-epoch").toLong > epochAfter1)
    // lineage recorded per batch
    assert(lake.snapshot().lineage.nonEmpty)
  }

  test("checkpoint: the stream's logs go through the session's file system, no .crc files") {
    val cfg = Gen.Config(numEvents = 2000, numConvs = 20, seed = 25)
    val dir = SparkTestBase.tmpDir("ckpt-crc")
    val ckpt = s"$dir/ckpt"
    Gen.writeSegments(spark, cfg, s"$dir/wal", 1, 0 until 1)
    val lake = LakeTable.create(spark, s"$dir/transcripts", Transcripts.spec())
    CdcStream.runAvailable(spark, s"$dir/wal/seg-*", ckpt, Seq(CdcStream.Route(mapping, lake)))
    assert(lake.snapshot().properties("commit-epoch") == "0")
    val files = Files.walk(Paths.get(ckpt)).iterator.asScala.filter(Files.isRegularFile(_))
      .map(p => Paths.get(ckpt).relativize(p).toString).toSeq
    assert(files.exists(_.startsWith("commits")), files.mkString(", "))
    assert(!files.exists(_.endsWith(".crc")), files.mkString(", "))
  }

  private def stampInOrder(segDirs: Seq[String]): Unit = {
    val base = System.currentTimeMillis()
    segDirs.zipWithIndex.foreach { case (d, i) =>
      Files.list(Paths.get(d)).iterator.asScala.foreach(f =>
        assert(f.toFile.setLastModified(base + i * 2000L), s"cannot stamp $f"))
    }
  }

  test("fork: carries the caller's Spark context, rethrows as thrown, cancels only its own jobs") {
    val sc = spark.sparkContext
    sc.setJobGroup("fork-spec", "fork-spec", interruptOnCancel = true)
    sc.setLocalProperty("streaming.sql.batchId", "7")
    try {
      val seen = CdcStream.fork(sc, "graft-test")(
        (sc.getLocalProperty("spark.jobGroup.id"),
          sc.getLocalProperty("streaming.sql.batchId"))).join()
      assert(seen == (("fork-spec", "7")))
      val boom = new IllegalArgumentException("boom")
      assert(intercept[IllegalArgumentException](
        CdcStream.fork(sc, "graft-test")(throw boom).join()) eq boom)

      // a hung job on one fork, a finite one on its sibling, same job group
      val hung = CdcStream.fork(sc, "graft-test")(
        sc.parallelize(1 to 2, 2).map { x => Thread.sleep(600000L); x }.collect())
      val sibling = CdcStream.fork(sc, "graft-test")(
        sc.parallelize(1 to 2, 2).map { x => Thread.sleep(3000L); x }.collect().sum)
      val deadline = System.currentTimeMillis() + 30000L
      while (sc.statusTracker.getJobIdsForGroup("fork-spec").length < 2 &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
      val t0 = System.nanoTime()
      hung.cancel()
      assert((System.nanoTime() - t0) / 1e9 < 20.0, "cancel must not wait for the hung job")
      assert(sibling.join() == 3, "the sibling's job in the same group runs on")
      while (sc.statusTracker.getActiveJobIds().nonEmpty &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(sc.statusTracker.getActiveJobIds().isEmpty, "the hung job was cancelled")
    } finally {
      sc.clearJobGroup()
      sc.setLocalProperty("streaming.sql.batchId", null)
    }
  }

  test("route groups: routes sharing any root (target or companion) stay together, in order") {
    val dir = SparkTestBase.tmpDir("groups")
    def t(n: String) = LakeTable.create(spark, s"$dir/$n", Transcripts.spec(numBuckets = 2))
    val (a, b, c, sig) = (t("a"), t("b"), t("c"), t("sig"))
    def r(src: String, lake: LakeTable, s: Option[LakeTable] = None,
          mode: TableMode = TableMode.Clone) =
      CdcStream.Route(TableMapping(src, "x", mode), lake,
        signatures = s.map(CdcStream.SignatureSink(_)))
    val routes = Seq(r("r0", a), r("r1", b), r("r2", c), r("r3", a, Some(sig)),
      r("r4", b, Some(sig)), r("r5", c, Some(sig), TableMode.History))
    def names(gs: Seq[Seq[CdcStream.Route]]) = gs.map(_.map(_.mapping.sourceTable))
    // r3 and r4 share the signature table, so a's and b's routes merge; a
    // History route writes no companion, so r5 stays with c alone
    assert(names(CdcStream.routeGroups(routes)) ==
      Seq(Seq("r0", "r1", "r3", "r4"), Seq("r2", "r5")))
    // one root spelled two ways is still one root
    assert(CdcStream.routeGroups(Seq(r("r0", a),
      r("r1", LakeTable.load(spark, s"$dir/./a")))).size == 1)
  }

  test("stream: a clone route and a History route on distinct roots apply concurrently") {
    val cfg = Gen.Config(numEvents = 8000, numConvs = 60, turnsPerConv = 8,
      pInsert = 0.4, pUpdate = 0.45, pPkUpdate = 0.1, seed = 23)
    val dir = SparkTestBase.tmpDir("stream-two")
    Gen.writeLog(spark, cfg, s"$dir/wal", 3)
    val clone = LakeTable.create(spark, s"$dir/clone", Transcripts.spec(numBuckets = 4))
    val histSpec = Transcripts.spec(numBuckets = 4)
      .copy(schema = History.historySchema(Transcripts.schema))
    val hist = LakeTable.create(spark, s"$dir/hist", histSpec)

    // job tags of every job, to see which route thread submitted it
    val tags = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
          .foreach(v => v.split(',').foreach(tags.add))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      CdcStream.runAvailable(spark, s"$dir/wal/seg-*", s"$dir/ckpt", Seq(
        CdcStream.Route(mapping, clone),
        CdcStream.Route(mapping.copy(mode = TableMode.History), hist)))

      compare(clone, cfg, cfg.numEvents)
      val payloadCols = Transcripts.schema.fieldNames.toSeq
      val want = Scd2Model.versions((0L until cfg.numEvents).map(Gen.mkEvent(_, cfg)),
        histSpec.mergeKey, payloadCols)
      val got = Scd2Model.lakeVersions(hist, histSpec.mergeKey, payloadCols)
      assert(got.size == want.size, s"versions: engine=${got.size} oracle=${want.size}")
      got.zip(want).foreach { case (g, w) => assert(g == w, s"\n engine=$g\n oracle=$w") }

      // each group ran its jobs on its own route thread (tag
      // graft-route-<batch>-<group>-<n>); listener events arrive late
      def groupsSeen = tags.asScala.filter(_.startsWith("graft-route-"))
        .map(_.split('-')(3)).toSet
      val deadline = System.currentTimeMillis() + 30000L
      while (groupsSeen != Set("0", "1") && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(groupsSeen == Set("0", "1"))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("stream: two sources into one target stay sequential, the later route wins") {
    val dir = SparkTestBase.tmpDir("stream-fanin")
    val keys = for (c <- 0 until 6; t <- 0 until 4) yield (f"c$c%03d", t)
    // every batch updates every key from both source tables; table b's
    // events carry the LOWER lsns, so only route order makes b win
    def events(table: String, batch: Int): Seq[ChangeEvent] =
      keys.zipWithIndex.map { case ((c, t), i) =>
        val lsn = batch * 1000L + (if (table == "b") 0L else 500L) + i + 1
        ChangeEvent(lsn, 0, if (batch == 0) "I" else "U", table, "s0", "none",
          Map.empty, Map("conv_id" -> c, "turn_idx" -> t.toString,
            "role" -> table, "text" -> s"$table-$batch-$i", "tool" -> null,
            "ts" -> "2024-01-01 00:00:00"))
      }
    import spark.implicits._
    val segs = (0 until 3).map { b =>
      val seg = f"$dir/wal/seg-$b%05d"
      (events("a", b) ++ events("b", b)).toDS().coalesce(1).write.parquet(seg)
      seg
    }
    stampInOrder(segs)
    val target = LakeTable.create(spark, s"$dir/t", Transcripts.spec(numBuckets = 2))
    val (ma, mb) = (TableMapping("a", "t"), TableMapping("b", "t"))
    CdcStream.runAvailable(spark, s"$dir/wal/seg-*", s"$dir/ckpt", Seq(
      CdcStream.Route(ma, target, epochKey = "epoch-a"),
      CdcStream.Route(mb, target, epochKey = "epoch-b")))
    // b rewrites every key after a in every batch: the table is b's replay
    compareTo(target, (0 until 3).flatMap(events("b", _)), mb)
    assert(target.read().filter(col("role") =!= "b").isEmpty)
    // and the commits alternate a, b in every batch
    val advanced = (2L to target.currentVersion).map { v =>
      val (prev, cur) = (target.snapshot(v - 1).properties, target.snapshot(v).properties)
      Seq("epoch-a", "epoch-b").filter(k => prev.get(k) != cur.get(k))
    }
    assert(advanced == Seq.fill(3)(Seq(Seq("epoch-a"), Seq("epoch-b"))).flatten)
  }

  test("stream: a failing route fails the batch with its own exception; its sibling commits and skips the replay") {
    val cfg = Gen.Config(numEvents = 4000, numConvs = 40, seed = 25)
    val dir = SparkTestBase.tmpDir("stream-fail")
    val (glob, ckpt) = (s"$dir/wal/seg-*", s"$dir/ckpt")
    Gen.writeSegments(spark, cfg, s"$dir/wal", 2, 0 until 1)
    val good = LakeTable.create(spark, s"$dir/good", Transcripts.spec(numBuckets = 4))
    val bad = LakeTable.create(spark, s"$dir/bad", Transcripts.spec(numBuckets = 4))
    def routes(m: TableMapping) =
      Seq(CdcStream.Route(mapping, good), CdcStream.Route(m, bad))
    // fails when the route's plan is built: the filter names no column
    val broken = mapping.copy(filter = Some("no_such_column > 0"))
    val own = intercept[Throwable](
      Replay.applyBatch(bad, Gen.events(spark, cfg), broken, 0)).getClass
    assert(bad.currentVersion == 1L, "the broken route fails before writing")

    val q = CdcStream.start(spark, glob, ckpt, routes(broken))
    val e = intercept[StreamingQueryException](q.awaitTermination())
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    // below Spark's own streaming wrappers: the route's exception as thrown
    assert(chain.exists(_.getClass == own), chain.map(_.getClass.getName).mkString(" <- "))
    assert(!chain.exists(t => t.isInstanceOf[java.util.concurrent.CompletionException] ||
      t.isInstanceOf[java.util.concurrent.ExecutionException]))
    assert(!Thread.getAllStackTraces.keySet.asScala.exists(t =>
      t.isAlive && t.getName.startsWith("graft-route")), "route threads left running")
    // the sibling group ran to its commit
    assert(good.snapshot().properties("commit-epoch") == "0")
    compare(good, cfg, cfg.numEvents / 2)
    val goodVersion = good.currentVersion

    // fixed route: the restart replays batch 0, which only `bad` applies
    CdcStream.runAvailable(spark, glob, ckpt, routes(mapping))
    assert(good.currentVersion == goodVersion, "sibling's epoch check skips the replay")
    compare(bad, cfg, cfg.numEvents / 2)
    compare(good, cfg, cfg.numEvents / 2)

    Gen.writeSegments(spark, cfg, s"$dir/wal", 2, 1 until 2)
    CdcStream.runAvailable(spark, glob, ckpt, routes(mapping))
    compare(good, cfg, cfg.numEvents)
    compare(bad, cfg, cfg.numEvents)
  }

  /** One self-contained pgoutput chunk of Gen `events` over the source
    * tables `srcs` (a Relation message per table, then one transaction per
    * lsn). */
  private def pgChunk(srcs: Seq[String], events: Seq[ChangeEvent]): Array[Byte] = {
    import graft.sources.PgOutput.Wire
    val cols = Transcripts.schema.fieldNames.toSeq
    val oids = Seq(25, 23, 25, 25, 25, 1114) // text int4 text text text timestamp
    def vals(m: Map[String, String]) = cols.map(c => m.get(c).flatMap(Option(_)))
    val rel = srcs.zipWithIndex.map { case (t, i) => t -> (i + 1) }.toMap
    Wire.chunk(rel.toSeq.sortBy(_._2).map { case (t, id) =>
      Wire.relation(id, "public", t, cols.zip(oids)) } ++
      events.groupBy(_.lsn).toSeq.sortBy(_._1).flatMap { case (lsn, es) =>
        Wire.begin(lsn, lsn.toInt) +: es.sortBy(_.seq).map { e =>
          val id = rel(e.source_table)
          e.op match {
            case "I" => Wire.insert(id, vals(e.after))
            case "U" => Wire.update(id, vals(e.after),
              oldKey = if (e.old_kind == "K") Some(('K', vals(e.before))) else None,
              toastAbsent = cols.indices.filterNot(i => e.after.contains(cols(i))).toSet)
            case "D" => Wire.delete(id, 'K', vals(e.before))
          }
        } :+ Wire.commit(lsn)
      })
  }

  test("stream: one batch carrying every event twice (two chunk files) equals the oracle") {
    // the server re-sends WAL whose commit it has not seen acknowledged,
    // and the tailer writes it into NEW chunk files, so one micro-batch can
    // carry two copies of an event: same (lsn, seq), same key. Over
    // preloaded targets, the clone merge must still write one row per key
    // and the History merge one version per event.
    import graft.sources.PgOutput
    val dir = SparkTestBase.tmpDir("stream-dup")
    val in = Files.createDirectories(Paths.get(s"$dir/in"))
    val base = Gen.Config(numEvents = Long.MaxValue, numConvs = 60, seed = 37)
    val preload = pgChunk(Seq("transcripts"),
      (0L until 600L).map(Gen.mkEvent(_, base.copy(pInsert = 0.9, pUpdate = 0.08))))
    val tail = pgChunk(Seq("transcripts"),
      (600L until 1400L).map(Gen.mkEvent(_, base.copy(pInsert = 0.3, pUpdate = 0.5))))
    val lake = LakeTable.create(spark, s"$dir/clone", Transcripts.spec(numBuckets = 8))
    val histSpec = Transcripts.spec(numBuckets = 8)
      .copy(schema = History.historySchema(Transcripts.schema))
    val hist = LakeTable.create(spark, s"$dir/hist", histSpec)
    val routes = Seq(CdcStream.Route(mapping, lake),
      CdcStream.Route(mapping.copy(mode = TableMode.History), hist))
    Files.write(in.resolve("chunk-00000.bin"), preload)
    CdcStream.runAvailable(spark, s"$in/chunk-*.bin", s"$dir/ckpt", routes, format = "pgoutput")
    Files.write(in.resolve("chunk-00001.bin"), tail)
    Files.write(in.resolve("chunk-00002.bin"), tail)
    CdcStream.runAvailable(spark, s"$in/chunk-*.bin", s"$dir/ckpt", routes,
      maxFilesPerTrigger = 2, format = "pgoutput")
    assert(lake.snapshot().properties("commit-epoch") == "1",
      "both copies must arrive in one batch")
    val events = PgOutput.decodeChunk(preload, "s0") ++ PgOutput.decodeChunk(tail, "s0")
    compareTo(lake, events, mapping)
    val payloadCols = Transcripts.schema.fieldNames.toSeq
    val want = Scd2Model.versions(events, histSpec.mergeKey, payloadCols)
    val got = Scd2Model.lakeVersions(hist, histSpec.mergeKey, payloadCols)
    assert(got.size == want.size, s"versions: engine=${got.size} oracle=${want.size}")
    got.zip(want).foreach { case (g, w) => assert(g == w, s"\n engine=$g\n oracle=$w") }
  }

  test("stream: a chunk re-sent in a later batch applies once (clone and History)") {
    // the re-send above with each copy in its own micro-batch: the second
    // batch carries only events both tables already applied, and each
    // table's applied watermark must drop every one of them
    import graft.sources.PgOutput
    val dir = SparkTestBase.tmpDir("stream-resend")
    val in = Files.createDirectories(Paths.get(s"$dir/in"))
    val base = Gen.Config(numEvents = Long.MaxValue, numConvs = 60, seed = 37)
    val preload = pgChunk(Seq("transcripts"),
      (0L until 600L).map(Gen.mkEvent(_, base.copy(pInsert = 0.9, pUpdate = 0.08))))
    val tail = pgChunk(Seq("transcripts"),
      (600L until 1400L).map(Gen.mkEvent(_, base.copy(pInsert = 0.3, pUpdate = 0.5))))
    val lake = LakeTable.create(spark, s"$dir/clone", Transcripts.spec(numBuckets = 8))
    val histSpec = Transcripts.spec(numBuckets = 8)
      .copy(schema = History.historySchema(Transcripts.schema))
    val hist = LakeTable.create(spark, s"$dir/hist", histSpec)
    val routes = Seq(CdcStream.Route(mapping, lake),
      CdcStream.Route(mapping.copy(mode = TableMode.History), hist))
    Files.write(in.resolve("chunk-00000.bin"), preload)
    Files.write(in.resolve("chunk-00001.bin"), tail)
    Files.write(in.resolve("chunk-00002.bin"), tail)
    CdcStream.runAvailable(spark, s"$in/chunk-*.bin", s"$dir/ckpt", routes,
      maxFilesPerTrigger = 1, format = "pgoutput")
    assert(lake.snapshot().properties("commit-epoch") == "2",
      "each chunk must arrive in its own batch")
    val events = PgOutput.decodeChunk(preload, "s0") ++ PgOutput.decodeChunk(tail, "s0")
    compareTo(lake, events, mapping)
    val payloadCols = Transcripts.schema.fieldNames.toSeq
    val want = Scd2Model.versions(events, histSpec.mergeKey, payloadCols)
    val got = Scd2Model.lakeVersions(hist, histSpec.mergeKey, payloadCols)
    assert(got.size == want.size, s"versions: engine=${got.size} oracle=${want.size}")
    got.zip(want).foreach { case (g, w) => assert(g == w, s"\n engine=$g\n oracle=$w") }
  }

  test("codegen: a sid-keyed route that stamps its sid compiles every plan") {
    // with a sid override the sid is a literal inside the merge key; a
    // generated class that fails to compile is logged as an error and its
    // stage falls back to interpreted code, so only the log shows it
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("codegen-errors", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.ERROR))
          errors.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = LogManager.getLogger(
      "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator").asInstanceOf[Logger]
    logger.addAppender(appender)
    val cfg = Gen.Config(numEvents = 2000, numConvs = 40, pPkUpdate = 0.1, seed = 31)
    val dir = SparkTestBase.tmpDir("stream-sid")
    val spec = Transcripts.spec(numBuckets = 4, hasSid = true)
      .copy(schema = Transcripts.schema.add("sid", "string"))
    val lake = LakeTable.create(spark, s"$dir/t", spec)
    try {
      Gen.writeLog(spark, cfg, s"$dir/wal", 2)
      CdcStream.runAvailable(spark, s"$dir/wal/seg-*", s"$dir/ckpt",
        Seq(CdcStream.Route(mapping, lake, sidOverride = Some("tenant-7"))))
    } finally logger.removeAppender(appender)
    assert(errors.isEmpty, errors.asScala.mkString("\n"))
    val want = Oracle.replay((0L until cfg.numEvents).map(id =>
      Gen.mkEvent(id, cfg).copy(sid = "tenant-7")), spec, mapping)
    assert(lake.read().count() == want.size)
    assert(lake.read().filter(col("sid") =!= "tenant-7").isEmpty)
  }

  test("codegen guard: warm tail-shaped batches compile no new code") {
    // a tail-shaped stream: self-contained pgoutput chunks carrying two
    // source tables, one routed to a clone table and one to a History
    // table; every compile Spark's code generator runs counts here
    import org.apache.spark.metrics.source.CodegenMetrics
    val dir = SparkTestBase.tmpDir("stream-codegen")
    val srcs = Seq("transcripts", "transcripts_audit")
    val base = Gen.Config(numEvents = Long.MaxValue, numConvs = 300, sourceTables = srcs,
      seed = 29)
    val preload = base.copy(pInsert = 0.9, pUpdate = 0.08)
    val tailCfg = base.copy(pInsert = 0.2, pUpdate = 0.6, pToast = 0.4)
    // chunk 0 preloads both targets; chunks 1-4 are 480 update-heavy events
    val ranges = (0L, 2400L) +: (0 until 4).map(k => (2400L + 480L * k, 2880L + 480L * k))
    val clone = LakeTable.create(spark, s"$dir/clone", Transcripts.spec(numBuckets = 16))
    val hist = LakeTable.create(spark, s"$dir/hist", Transcripts.spec(numBuckets = 16)
      .copy(schema = History.historySchema(Transcripts.schema)))
    val routes = Seq(
      CdcStream.Route(TableMapping("transcripts", "transcripts"), clone, sidOverride = Some("s0")),
      CdcStream.Route(TableMapping("transcripts_audit", "transcripts_audit",
        mode = TableMode.History), hist, sidOverride = Some("s0")))
    val in = Files.createDirectories(Paths.get(s"$dir/in"))
    val q = CdcStream.start(spark, s"$in/chunk-*.bin", s"$dir/ckpt", routes,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(50L),
      format = "pgoutput")
    val compiles = try ranges.zipWithIndex.map { case ((lo, hi), k) =>
      val cfg = if (k == 0) preload else tailCfg
      val f = in.resolve(f"chunk-$k%05d.bin")
      Files.write(f, pgChunk(srcs, (lo until hi).map(Gen.mkEvent(_, cfg))))
      require(f.toFile.setLastModified(System.currentTimeMillis() - 60000L + k))
      q.processAllAvailable()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    } finally q.stop()
    assert(clone.snapshot().properties("commit-epoch") == "4")
    assert(hist.snapshot().properties("commit-epoch") == "4")
    val perBatch = compiles.sliding(2).map { case Seq(a, b) => b - a }.toSeq
    info(s"compiles in batches 1-4: ${perBatch.mkString(", ")}")
    // batch 0 preloads, tail batches 1 and 2 warm the code cache; 3 and 4
    // must find every class there
    assert(perBatch.drop(2) == Seq(0L, 0L), s"compiles per batch: $perBatch")
  }
}
