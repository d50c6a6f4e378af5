package graft

import graft.config.MapConfig
import graft.lake.LakeTable
import graft.model.{ChangeEvent, TableMapping, TableMode, TableSpec, Transcripts}
import graft.operators.{Backfill, Replay, SignatureStore, Xf}
import graft.verify.Oracle
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Config loading (S6), initial full sync (S4), and the datatype matrix
  * (the analog of the reference's `50-datatypes.robot` 43-type suite). */
class CoverageSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  test("map config: parse + resolve to TableMappings (map.go defaults)") {
    val json =
      """{"databases":[{"name":"db1",
        |  "urls":[{"url":"wal/db1","sid":"s0"},{"url":"wal/db1b","sid":"s1"}],
        |  "tables":{
        |    "t1":{"type":"clone","target":"dest1","filter":"x > 1"},
        |    "t2":{"type":"append"},
        |    "t7":{"type":"history","partitions_regex":"t7_[0-9]+",
        |          "set":{"a":"upper(a)"}}}}]}""".stripMargin
    val db = MapConfig.parse(json).databases.head
    assert(db.urls.map(_.sid) == Seq("s0", "s1"))
    val ms = MapConfig.mappings(db)
    assert(ms.map(_.sourceTable) == Seq("t1", "t2", "t7"))
    val t1 = ms.head
    assert(t1.target == "dest1" && t1.mode == TableMode.Clone &&
      t1.filter.contains("x > 1"))
    assert(ms(1).target == "t2" && ms(1).mode == TableMode.Append)
    val t7 = ms(2)
    assert(t7.mode == TableMode.History && t7.matches("t7_3") && !t7.matches("t8_1"))
    assert(t7.set.contains(Seq("a" -> "upper(a)")))
  }

  test("initial full sync: intersect projection, sid injection, then CDC on top") {
    import spark.implicits._
    val dir = SparkTestBase.tmpDir("backfill")
    val spec = TableSpec("t",
      StructType(Seq(
        StructField("sid", StringType, nullable = true),
        StructField("k", LongType, nullable = false),
        StructField("v", StringType, nullable = true),
        StructField("extra", IntegerType, nullable = true))),
      keyCols = Seq("k"), bucketCols = Seq("k"), numBuckets = 4, hasSid = true)
    val lake = LakeTable.create(spark, s"$dir/t", spec)
    // source has v + a column the target lacks; target's `extra` is absent
    val src = Seq((1L, "a", "drop-me"), (2L, "b", "drop-me"))
      .toDF("k", "v", "not_in_target")
    Backfill.initialSync(lake, src, sid = Some("s0"), lsnFloor = 10L)

    val rows = lake.read().orderBy("k").collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq ==
      Seq(("s0", 1L, "a"), ("s0", 2L, "b")))
    assert(rows.forall(_.isNullAt(3))) // `extra` null-filled
    assert(lake.snapshot().properties("lsn-high-watermark") == "10")

    // streaming changes apply on top of the backfill
    val evs = Seq(
      ChangeEvent(11L, 0, "U", "t", "s0", "none", Map.empty,
        Map("k" -> "1", "v" -> "a2")),
      ChangeEvent(12L, 0, "D", "t", "s0", "none", Map("k" -> "2"), Map.empty))
      .toDS()
    Replay.applyBatch(lake, evs, TableMapping("t", "t"), batchId = 0)
    val after = lake.read().orderBy("k").collect()
    assert(after.length == 1)
    assert(after.head.getString(2) == "a2")
  }

  test("TOAST at reference size: 20KB value survives an omitting update (60-Toast analog)") {
    import spark.implicits._
    val spec = Transcripts.spec(numBuckets = 2)
    val lake = graft.lake.LakeTable.create(spark, SparkTestBase.tmpDir("toast"), spec)
    val big = ("lorem-" * 3500).take(20000) // 20 KB, like 60-Toast.robot
    val mapping = TableMapping("transcripts", "transcripts")
    val evs = Seq(
      ChangeEvent(1, 0, "I", "transcripts", "s0", "none", Map.empty,
        Map("conv_id" -> "c1", "turn_idx" -> "0", "role" -> "user",
          "text" -> big, "tool" -> null, "ts" -> "2024-01-01 00:00:00")),
      // unchanged-TOAST update: text omitted, role changes
      ChangeEvent(2, 0, "U", "transcripts", "s0", "none", Map.empty,
        Map("conv_id" -> "c1", "turn_idx" -> "0", "role" -> "assistant",
          "tool" -> null, "ts" -> "2024-01-01 00:00:01")))
    graft.operators.Replay.applyBatch(lake, spark.createDataset(evs), mapping, 0)
    val row = lake.read().collect().head
    assert(row.getAs[String]("text") == big, "20KB TOAST value must be kept")
    assert(row.getAs[String]("role") == "assistant")
  }

  test("schema-qualified routing: default schema public (71-schema analog)") {
    import spark.implicits._
    import graft.operators.Replay
    import org.apache.spark.sql.functions.col
    def hit(mappingTable: String, eventTable: String): Boolean = {
      val m = TableMapping(mappingTable, "t")
      val ev = ChangeEvent(1, 0, "I", eventTable, "s0", "none", Map.empty,
        Map("conv_id" -> "c", "turn_idx" -> "0"))
      val viaColumn = spark.createDataset(Seq(ev)).toDF()
        .filter(Replay.routeCond(m)).count() == 1
      assert(viaColumn == m.matches(eventTable),
        s"Column predicate and matches() disagree for $mappingTable vs $eventTable")
      viaColumn
    }
    assert(hit("events", "events"))
    assert(hit("events", "public.events")) // bare mapping routes public.x
    assert(hit("public.events", "events")) // and vice versa
    assert(hit("audit.events", "audit.events"))
    assert(!hit("audit.events", "events")) // different schema never routes
    assert(!hit("events", "audit.events"))

    // partitions regex applies to the SCHEMA-STRIPPED name with schema
    // equality required (mapping_table.go Match + splitSchema)
    def hitRx(mappingTable: String, rx: String, eventTable: String): Boolean = {
      val m = TableMapping(mappingTable, "t", partitionsRegex = Some(rx))
      val ev = ChangeEvent(1, 0, "I", eventTable, "s0", "none", Map.empty,
        Map("conv_id" -> "c", "turn_idx" -> "0"))
      val viaColumn = spark.createDataset(Seq(ev)).toDF()
        .filter(Replay.routeCond(m)).count() == 1
      assert(viaColumn == m.matches(eventTable),
        s"Column predicate and matches() disagree for $mappingTable/$rx vs $eventTable")
      viaColumn
    }
    assert(hitRx("events", "events_p[0-3]", "events_p1"))
    assert(hitRx("events", "events_p[0-3]", "public.events_p1"),
      "schema-qualified partition of a public mapping must route")
    assert(!hitRx("events", "events_p[0-3]", "audit.events_p1"),
      "a partition in another schema must NOT match a public mapping's regex")
    assert(hitRx("audit.events", "events_p[0-3]", "audit.events_p1"))
    assert(!hitRx("audit.events", "events_p[0-3]", "events_p1"))
  }

  test("replica-identity-full: update/delete keyed by the whole old tuple") {
    import spark.implicits._
    val dir = SparkTestBase.tmpDir("ridfull")
    val spec = TableSpec("t",
      StructType(Seq(
        StructField("k", LongType, nullable = false),
        StructField("v", StringType, nullable = true))),
      keyCols = Seq("k"), bucketCols = Seq("k"), numBuckets = 2)
    val lake = LakeTable.create(spark, s"$dir/t", spec)
    val evs = Seq(
      ChangeEvent(1L, 0, "I", "t", "s0", "none", Map.empty, Map("k" -> "1", "v" -> "a")),
      // old_kind O: the key comes from the whole old row; after omits k
      ChangeEvent(2L, 0, "U", "t", "s0", "O",
        Map("k" -> "1", "v" -> "a"), Map("v" -> "b")),
      // O-update on an absent key is a no-op (0 rows affected)
      ChangeEvent(3L, 0, "U", "t", "s0", "O",
        Map("k" -> "9", "v" -> "zzz"), Map("v" -> "never")))
      .toDS()
    Replay.applyBatch(lake, evs, TableMapping("t", "t"), 0)
    val rows = lake.read().collect()
    assert(rows.length == 1)
    assert(rows.head.getLong(0) == 1L && rows.head.getString(1) == "b")
  }

  test("type widening: R message widens int -> bigint before the merge") {
    import spark.implicits._
    val dir = SparkTestBase.tmpDir("widen")
    val spec = TableSpec("t",
      StructType(Seq(
        StructField("k", LongType, nullable = false),
        StructField("n", IntegerType, nullable = true))),
      keyCols = Seq("k"), bucketCols = Seq("k"), numBuckets = 2)
    val lake = LakeTable.create(spark, s"$dir/t", spec)
    Replay.applyBatch(lake,
      Seq(ChangeEvent(1L, 0, "I", "t", "s0", "none", Map.empty,
        Map("k" -> "1", "n" -> "41"))).toDS(),
      TableMapping("t", "t"), 0)
    // batch 1 carries the widening R message AND a value beyond int range
    Replay.applyBatch(lake,
      Seq(
        ChangeEvent(2L, 0, "R", "t", "s0", "none", Map.empty,
          Map("k" -> "bigint", "n" -> "bigint")),
        ChangeEvent(3L, 0, "I", "t", "s0", "none", Map.empty,
          Map("k" -> "2", "n" -> "9999999999"))).toDS(),
      TableMapping("t", "t"), 1)
    assert(lake.schema("n").dataType == LongType, "n must widen to bigint")
    val rows = lake.read().orderBy("k").collect()
    assert(rows.map(_.getLong(1)).toSeq == Seq(41L, 9999999999L),
      "pre-evolution files must re-read aligned (cast) to the widened schema")
  }

  test("multi-table fan-out: per-table epochs survive a mid-batch crash") {
    import spark.implicits._
    val dir = SparkTestBase.tmpDir("fanout")
    val spec = TableSpec("t",
      StructType(Seq(
        StructField("k", LongType, nullable = false),
        StructField("v", StringType, nullable = true))),
      keyCols = Seq("k"), bucketCols = Seq("k"), numBuckets = 2)
    val lakeA = LakeTable.create(spark, s"$dir/a", spec.copy(name = "a"))
    val lakeB = LakeTable.create(spark, s"$dir/b", spec.copy(name = "b"))
    val mapA = TableMapping("t", "a")
    val mapB = TableMapping("t", "b", mode = TableMode.Append)
    val batch0 = Seq(
      ChangeEvent(1L, 0, "I", "t", "s0", "none", Map.empty, Map("k" -> "1", "v" -> "a")),
      ChangeEvent(2L, 0, "D", "t", "s0", "none", Map("k" -> "1"), Map.empty))
      .toDS()
    // one foreachBatch fans out to A then B; "crash" after A's commit
    assert(Replay.applyBatch(lakeA, batch0, mapA, 0))
    // restart: batch 0 replays for BOTH routes — A skips (epoch), B applies
    assert(!Replay.applyBatch(lakeA, batch0, mapA, 0))
    assert(Replay.applyBatch(lakeB, batch0, mapB, 0))
    assert(lakeA.read().count() == 0) // clone: delete applied, not duplicated
    assert(lakeB.read().count() == 1) // append: delete dropped
    // next batch applies to both normally
    val batch1 = Seq(
      ChangeEvent(3L, 0, "I", "t", "s0", "none", Map.empty, Map("k" -> "2", "v" -> "b")))
      .toDS()
    assert(Replay.applyBatch(lakeA, batch1, mapA, 1))
    assert(Replay.applyBatch(lakeB, batch1, mapB, 1))
    assert(lakeA.read().collect().map(_.getLong(0)).toSeq == Seq(2L))
    assert(lakeB.read().orderBy("k").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(lakeA.snapshot().properties("commit-epoch") == "1")
    assert(lakeB.snapshot().properties("commit-epoch") == "1")
  }

  /** A stream over a parquet WAL into a doc table with both companions:
    * batch 0 preloads; then the first `crash` of batch 1's three commits
    * (doc, signatures, labels) land by direct calls — a process that died
    * after them, before the checkpoint — and the stream restarts on the
    * same checkpoint. With `resend`, batch 1's events arrive once more in a
    * later batch, after batch 2 changed the same docs, as WAL re-sent by the
    * server would. The doc table must equal the oracle, and each companion
    * its bootstrap off the final doc table. */
  private def companionRun(crash: Int, resend: Boolean): Unit = {
    import graft.operators.{LabelStore, SignatureStore}
    import graft.streaming.CdcStream
    import spark.implicits._
    val dir = SparkTestBase.tmpDir(s"companions-$crash-$resend")
    val spec = TableSpec("docs", StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("text", StringType, nullable = true))),
      keyCols = Seq("doc_id"), bucketCols = Seq("doc_id"), numBuckets = 2)
    val mapping = TableMapping("docs", "docs")
    // chain-shaped text: neighbouring docs share most words, so they cluster
    def ev(lsn: Long, op: String, id: Int, t: Int = 0): ChangeEvent = {
      val row = Map("doc_id" -> id.toString,
        "text" -> (t until t + 19).map(w => s"w$w").mkString(" "))
      if (op == "D") ChangeEvent(lsn, 0, op, "docs", "s0", "none", row - "text", Map.empty)
      else ChangeEvent(lsn, 0, op, "docs", "s0", "none", Map.empty, row)
    }
    val b0 = (0 until 8).map(i => ev(i + 1L, "I", i, i))
    val b1 = Seq(ev(10, "U", 3, 53), ev(11, "D", 5), ev(12, "I", 8, 8), ev(13, "I", 9, 1))
    val b2 = Seq(ev(20, "U", 3, 3), ev(21, "D", 9), ev(22, "I", 5, 6), ev(23, "U", 0, 2))
    val docs = LakeTable.create(spark, s"$dir/docs", spec)
    val sig = LakeTable.create(spark, s"$dir/sig", SignatureStore.spec(numBuckets = 2))
    val lbl = LakeTable.create(spark, s"$dir/lbl", LabelStore.spec(numBuckets = 2))
    val route = CdcStream.Route(mapping, docs,
      signatures = Some(CdcStream.SignatureSink(sig, labels = Some(lbl))))
    val t0 = System.currentTimeMillis() - 60000L
    def seg(i: Int, evs: Seq[ChangeEvent]): Unit = {
      val d = java.nio.file.Paths.get(f"$dir/wal/seg-$i%05d")
      evs.toDS().coalesce(1).write.parquet(d.toString)
      // the file source takes files in modification-time order
      java.nio.file.Files.list(d).forEach(f => f.toFile.setLastModified(t0 + i * 2000L))
    }
    def run(): Unit =
      CdcStream.runAvailable(spark, s"$dir/wal/seg-*", s"$dir/ckpt", Seq(route))
    seg(0, b0)
    run()
    (Seq(b1, b2) ++ (if (resend) Seq(b1) else Nil)).zipWithIndex.foreach {
      case (b, i) => seg(i + 1, b) }
    val crashed = b1.toDS()
    if (crash >= 1) assert(Replay.applyBatch(docs, crashed, mapping, 1))
    if (crash >= 2) assert(SignatureStore.applyBatch(sig, crashed, mapping, docs, batchId = 1))
    if (crash >= 3) assert(LabelStore.applyBatch(lbl, sig, crashed, mapping, docs, batchId = 1))
    run()

    val what = s"crash after $crash commits, resend $resend"
    val last = if (resend) "3" else "2"
    Seq(docs, sig, lbl).foreach(t =>
      assert(t.snapshot().properties("commit-epoch") == last, what))
    def rows(t: LakeTable): Set[Seq[Any]] =
      t.read().collect().map(_.toSeq.map(v => if (v == null) null else v.toString)).toSet
    val want = Oracle.replay(b0 ++ b1 ++ b2, spec, mapping).values
      .map(r => Seq(r("doc_id"), r("text"))).toSet
    assert(rows(docs) == want, what)
    val sigCheck = LakeTable.create(spark, s"$dir/sig-check", SignatureStore.spec(numBuckets = 2))
    assert(SignatureStore.bootstrap(sigCheck, docs))
    assert(rows(sig) == rows(sigCheck), what)
    val lblCheck = LakeTable.create(spark, s"$dir/lbl-check", LabelStore.spec(numBuckets = 2))
    assert(LabelStore.bootstrap(lblCheck, sigCheck))
    assert(rows(lbl) == rows(lblCheck), what)
    assert(rows(lbl).nonEmpty, "the fixture must cluster some docs")
  }

  test("re-send: a batch re-sent after a later one applies once to the doc, signature and label tables") {
    companionRun(crash = 0, resend = true)
  }

  test("crash matrix: a crash after the doc, signature or label commit, with and without a later re-send, replays to the oracle") {
    for (crash <- 1 to 3; resend <- Seq(false, true)) companionRun(crash, resend)
  }

  test("Catalyst fold over two batches equals the sequential oracle") {
    import spark.implicits._
    val cfg = graft.gen.Gen.Config(numEvents = 30000L, numConvs = 120,
      turnsPerConv = 8, skew = 2.5, pPkUpdate = 0.15, pToast = 0.3, numSids = 2)
    val events = graft.gen.Gen.events(spark, cfg)
    val mapping = TableMapping("transcripts", "transcripts")
    val spec = Transcripts.spec()
    val lake = LakeTable.create(spark, s"${SparkTestBase.tmpDir("fold2")}/t", spec)
    // two batches so cross-batch present/absent transitions are hit
    Replay.applyBatch(lake, events.filter(_.lsn <= 4000), mapping, 0)
    Replay.applyBatch(lake, events.filter(_.lsn > 4000), mapping, 1)
    val cols = spec.schema.fieldNames.toSeq
    val got = lake.read().select(cols.map(c => col(c).cast("string")): _*)
      .collect().map(r => cols.indices.map(r.getString).mkString("\u0001")).sorted.toSeq
    val local = (0L until cfg.numEvents).map(graft.gen.Gen.mkEvent(_, cfg))
    val want = Oracle.canonical(Oracle.replay(local, spec, mapping), cols)
      .map(_._2.mkString("\u0001")).sorted
    assert(got.nonEmpty && got == want)
  }

  test("property: each foldToXfDF row equals Xf.fold over the key's ops in ord order") {
    import org.scalacheck.{Gen => G, Prop, Test => Check}
    import spark.implicits._
    val payload = Seq("a", "b", "c")
    val keys = (0 until 12).map(i => s"k$i")
    // genuine NULLs ride as key -> null; an update omits its unchanged
    // (TOAST) columns; a PK-update splits into D(old key) + I(new key)
    val value = G.frequency(1 -> G.const(null: String), 3 -> G.alphaLowerStr.map(_.take(4)))
    def values(cs: Seq[String]) = G.listOfN(cs.size, value).map(cs.zip(_).toMap)
    val toasted = G.someOf(payload).flatMap(cs => values(cs.toSeq))
    val none = Map.empty[String, String]
    val event = for {
      k <- G.oneOf(keys)
      k2 <- G.oneOf(keys)
      full <- values(payload)
      part <- toasted
      ev <- G.frequency(
        3 -> G.const(("I", "none", none, full + ("k" -> k))),
        4 -> G.const(("U", "none", none, part + ("k" -> k))),
        2 -> G.const(("D", "K", Map("k" -> k), none)),
        2 -> G.const(("U", "K", Map("k" -> k), part + ("k" -> k2))))
    } yield ev
    val batch = G.choose(0, 300).flatMap(G.listOfN(_, event)).map(_.zipWithIndex.map {
      case ((op, oldKind, before, after), i) =>
        ChangeEvent(i / 3 + 1L, i % 3, op, "t", "s0", oldKind, before, after)
    })
    def keyOf(r: Row): List[String] = r.getSeq[String](r.fieldIndex("key")).toList
    def asMap(r: Row, c: String): Map[String, String] =
      Option(r.getMap[String, String](r.fieldIndex(c))).map(_.toMap).getOrElse(none)

    val prop = Prop.forAllNoShrink(batch) { evs =>
      val ops = Replay.normalizeDF(evs.toDS().toDF(), Seq("k"), appendMode = false)
      val want = ops.collect().toSeq
        .groupBy(keyOf)
        .map { case (k, rs) =>
          val run = rs.sortBy(_.getAs[Long]("ord"))
          k -> (run.map(_.getAs[Long]("lsn")).max,
            // the fold carries payload columns only; the merge takes the
            // key columns from the key itself
            Xf.fold(run.iterator.map(r =>
              (r.getAs[String]("op"), asMap(r, "after").filter(e => payload.contains(e._1))))))
        }
      val got = Replay.foldToXfDF(ops, payload).collect().map { r =>
        keyOf(r) -> (r.getAs[Long]("maxLsn"),
          Xf(r.getAs[Boolean]("absentExists"), asMap(r, "onAbsent"),
            r.getAs[Int]("presentKind"), asMap(r, "onPresent")))
      }.toMap
      Prop(got == want) :| (got.toSet diff want.toSet).mkString("differs: ", "; ", "")
    }
    val res = Check.check(Check.Parameters.default.withMinSuccessfulTests(20)
      .withInitialSeed(org.scalacheck.rng.Seed(20L)), prop)
    assert(res.passed, res.status)
  }

  test("property: the probe's touched buckets, zones and commit info equal the fold's") {
    import org.scalacheck.{Gen => G, Prop, Test => Check}
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val spec = TableSpec("t", StructType(Seq(
        StructField("sid", StringType), StructField("k", IntegerType),
        StructField("j", StringType), StructField("a", StringType))),
      keyCols = Seq("k", "j"), bucketCols = Seq("k", "j"), numBuckets = 4, hasSid = true)
    val snap = LakeTable.create(spark, SparkTestBase.tmpDir("probe"), spec).snapshot()
    val sigSnap = LakeTable.create(spark, SparkTestBase.tmpDir("probe-sig"),
      SignatureStore.spec(numBuckets = 4)).snapshot()
    val mergeKey = Seq("sid", "k", "j")
    val none = Map.empty[String, String]
    // key values include genuine NULLs (no zone may form over them)
    val k = G.frequency(1 -> G.const(null: String), 6 -> G.choose(0, 9).map(_.toString))
    val j = G.frequency(1 -> G.const(null: String), 6 -> G.oneOf("x", "y", "z"))
    val keyMap = for (kv <- k; jv <- j) yield Map("k" -> kv, "j" -> jv)
    val event = for {
      sid <- G.oneOf("s0", "s1")
      key <- keyMap
      key2 <- keyMap
      a <- G.alphaLowerStr.map(_.take(3))
      ev <- G.frequency(
        3 -> G.const(("I", "none", none, key + ("a" -> a))),
        3 -> G.const(("U", "none", none, key + ("a" -> a))),
        2 -> G.const(("U", "K", key, key2 + ("a" -> a))),
        2 -> G.const(("U", "O", key + ("a" -> "old"), key + ("a" -> a))),
        2 -> G.const(("D", "K", key, none)),
        1 -> G.const(("R", "none", none, Map("k" -> "int", "j" -> "string", "a" -> "string"))),
        1 -> G.const(("T", "none", none, none)))
    } yield (sid, ev)
    val batch = for {
      appendMode <- G.oneOf(false, true)
      evs <- G.choose(0, 60).flatMap(G.listOfN(_, event))
    } yield (appendMode, evs.zipWithIndex.map {
      case ((sid, (op, oldKind, before, after)), i) =>
        ChangeEvent(i / 4 + 1L, i % 4, op, "t", sid, oldKind, before, after)
    })

    val prop = Prop.forAllNoShrink(batch) { case (appendMode, evs) =>
      val df = evs.toDS().toDF()
      val p = Replay.probe(snap, df, appendMode, batchId = 3L)

      // touched buckets and zones from the keys the fold emits
      val keys = Replay.foldToXfDF(Replay.normalizeDF(df, mergeKey, appendMode), Seq("a"))
        .select(col("key").getItem(0).as("sid"), col("key").getItem(1).cast("int").as("k"),
          col("key").getItem(2).as("j"))
      val touched = keys.select(pmod(xxhash64(col("k"), col("j")), lit(4)).cast("int"))
        .distinct().collect().map(_.getInt(0)).toSet
      val bounds = keys.agg(count(lit(1)), mergeKey.flatMap(c => Seq(min(c), max(c),
        max(col(c).isNull.cast("int")))): _*).head()
      val zones = if (bounds.getLong(0) == 0L) Nil else mergeKey.zipWithIndex.flatMap {
        case (c, i) =>
          val at = 1 + 3 * i
          if (bounds.isNullAt(at + 2) || bounds.getInt(at + 2) != 0) None
          else Some(graft.lake.Zone(c, Some(bounds.get(at).toString),
            Some(bounds.get(at + 1).toString)))
      }

      // commit info from a plain per-(sid, op) aggregation of the DML events
      val stats = df.filter(col("op").isin("I", "U", "D")).groupBy("sid", "op")
        .agg(min("lsn"), max("lsn"), count(lit(1)), max(Replay.eventOrdCol))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toSeq
      val ci = if (stats.isEmpty) None else Some(Replay.CommitInfo(
        lineage = stats.groupBy(_._1).map { case (sid, ss) =>
          graft.lake.LineageEntry(sid, ss.map(_._3).min, ss.map(_._4).max, 3L, -1L)
        }.toSeq.sortBy(_.sid),
        opCounts = stats.groupBy(_._2).map { case (op, ss) => op -> ss.map(_._5).sum },
        maxOrd = stats.map(_._6).max,
        opRows = stats.sortBy(s => (s._1, s._2)).map(s => (3L, s._1, "op", s._2, s._5))))

      // the signature companion's probe of the same batch, keyed by the
      // doc_id of a one-column key and of the sid + multi-part key (the
      // length-prefixed encoding)
      val sigProps = Seq(Seq("k"), mergeKey).map { docKey =>
        val sp = Replay.probe(sigSnap, df, appendMode, batchId = 3L,
          SignatureStore.docKey(docKey))
        val ids = Replay.foldToXfDF(Replay.normalizeDF(df, docKey, appendMode), Seq("a"))
          .select(SignatureStore.docIdCol(docKey.indices.map(i =>
            element_at(col("key"), i + 1))).as("doc_id"))
        val sTouched = ids.select(pmod(xxhash64(col("doc_id")), lit(4)).cast("int"))
          .distinct().collect().map(_.getInt(0)).toSet
        val b = ids.agg(count(lit(1)), min("doc_id"), max("doc_id"),
          max(col("doc_id").isNull.cast("int"))).head()
        val sZones = if (b.getLong(0) == 0L || b.getInt(3) != 0) Nil
          else Seq(graft.lake.Zone("doc_id", Some(b.getString(1)), Some(b.getString(2))))
        val on = docKey.mkString("doc_id of (", ", ", ")")
        (Prop(sp.touched == sTouched) :| s"$on: touched ${sp.touched} vs fold $sTouched") &&
          (Prop(sp.zones == sZones) :| s"$on: zones ${sp.zones} vs fold $sZones") &&
          (Prop(sp.ci == ci) :| s"$on: commit info ${sp.ci} vs $ci")
      }

      (Prop(p.touched == touched) :| s"touched ${p.touched} vs fold $touched") &&
        (Prop(p.zones == zones) :| s"zones ${p.zones} vs fold $zones") &&
        (Prop(p.ci == ci) :| s"commit info ${p.ci} vs $ci") &&
        (Prop(p.hasR == evs.exists(_.op == "R")) :| "R detection") &&
        sigProps.reduce(_ && _)
    }
    val res = Check.check(Check.Parameters.default.withMinSuccessfulTests(25)
      .withInitialSeed(org.scalacheck.rng.Seed(7L)), prop)
    assert(res.passed, res.status)
  }

  test("watermark calibration guard: streaming result matches the batch-(N-2) model") {
    // The guard is not on the timed qWatermarkAgg path; this test keeps it
    // running on every sbt pass so a Spark-version watermark-propagation
    // change fails loudly here.
    val dir = "/root/testdata/sf0.001"
    val result = graft.verify.EventsCdc.qWatermarkAgg(spark, dir)
    graft.verify.EventsCdc.watermarkCalibrationGuard(spark,
      spark.read.parquet(s"$dir/events.parquet"), result)
  }

  test("datatype matrix: text-encoded values decode to the full type surface") {
    import spark.implicits._
    val dir = SparkTestBase.tmpDir("types")
    val spec = TableSpec("t5",
      StructType(Seq(
        StructField("k", LongType, nullable = false),
        StructField("c_small", ShortType),
        StructField("c_int", IntegerType),
        StructField("c_big", LongType),
        StructField("c_real", FloatType),
        StructField("c_double", DoubleType),
        StructField("c_num", DecimalType(38, 18)),
        StructField("c_bool", BooleanType),
        StructField("c_text", StringType),
        StructField("c_date", DateType),
        StructField("c_ts", TimestampNTZType),
        StructField("c_arr", ArrayType(IntegerType)),
        StructField("c_struct", StructType(Seq(
          StructField("r", DoubleType), StructField("i", DoubleType)))))),
      keyCols = Seq("k"), bucketCols = Seq("k"), numBuckets = 2)
    val lake = LakeTable.create(spark, s"$dir/t5", spec)

    val insert = ChangeEvent(1L, 0, "I", "t5", "s0", "none", Map.empty, Map(
      "k" -> "1", "c_small" -> "7", "c_int" -> "123456", "c_big" -> "9999999999",
      "c_real" -> "1.5", "c_double" -> "2.25", "c_num" -> "1234.5678",
      "c_bool" -> "true", "c_text" -> "hello", "c_date" -> "2024-02-29",
      "c_ts" -> "2024-01-01 12:34:56.789", "c_arr" -> "[1,2,3]",
      "c_struct" -> """{"r": 1.0, "i": -2.0}"""))
    // TOAST-ish update: only c_text and c_arr present; rest must persist
    val update = ChangeEvent(2L, 0, "U", "t5", "s0", "none", Map.empty, Map(
      "k" -> "1", "c_text" -> "world", "c_arr" -> "[4,5]"))
    Replay.applyBatch(lake, Seq(insert, update).toDS(), TableMapping("t5", "t5"), 0)

    val r = lake.read().collect().head
    assert(r.getShort(1) == 7.toShort)
    assert(r.getInt(2) == 123456)
    assert(r.getLong(3) == 9999999999L)
    assert(r.getFloat(4) == 1.5f)
    assert(r.getDouble(5) == 2.25)
    assert(r.getDecimal(6).compareTo(new java.math.BigDecimal("1234.5678")) == 0)
    assert(r.getBoolean(7))
    assert(r.getString(8) == "world")
    assert(r.getDate(9).toString == "2024-02-29")
    assert(r.getAs[java.time.LocalDateTime](10).toString == "2024-01-01T12:34:56.789")
    assert(r.getSeq[Int](11) == Seq(4, 5))
    val st = r.getStruct(12)
    assert(st.getDouble(0) == 1.0 && st.getDouble(1) == -2.0)
  }
}
