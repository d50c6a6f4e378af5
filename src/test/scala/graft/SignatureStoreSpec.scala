package graft

import graft.lake.LakeTable
import graft.model.{ChangeEvent, TableMapping, TableSpec}
import graft.operators.{SignatureStore, TextPipeline}
import graft.streaming.CdcStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The ingest half of incremental dedup: signatures maintained per applied
  * micro-batch by the CDC loop, and a delta batch deduped against corpus
  * SIGNATURES agreeing with the whole-corpus MinHash-LSH operator on
  * (corpus, delta) pairs. */
class SignatureStoreSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val docSpec = TableSpec("docs",
    StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = true),
      StructField("meta", StringType, nullable = true))),
    keyCols = Seq("doc_id"), bucketCols = Seq("doc_id"), numBuckets = 4)
  private val mapping = TableMapping("docs", "docs")

  private def iEv(lsn: Long, id: Long, text: String, meta: String = "m"): ChangeEvent =
    ChangeEvent(lsn, 0, "I", "docs", "s0", "none", Map.empty,
      Map("doc_id" -> id.toString) ++
        Option(text).map("text" -> _).toMap + ("meta" -> meta))
  private def uEv(lsn: Long, id: Long, kv: Map[String, String]): ChangeEvent =
    ChangeEvent(lsn, 0, "U", "docs", "s0", "none", Map.empty,
      Map("doc_id" -> id.toString) ++ kv)
  private def dEv(lsn: Long, id: Long): ChangeEvent =
    ChangeEvent(lsn, 0, "D", "docs", "s0", "none",
      Map("doc_id" -> id.toString), Map.empty)

  private def sigRows(sig: LakeTable): Map[String, (String, Any)] =
    sig.read().collect()
      .map(r => r.getString(0) -> (r.getString(1), r.get(SignatureStore.K + 1)))
      .toMap

  test("fold semantics: insert, TOAST-unchanged, text update, delete, reinsert") {
    val dir = SparkTestBase.tmpDir("sigstore")
    val docs = LakeTable.create(spark, s"$dir/docs", docSpec)
    val sig = LakeTable.create(spark, s"$dir/sigs", SignatureStore.spec())
    val t1 = (0 until 20).map(i => s"one$i").mkString(" ")
    val t3 = (0 until 20).map(i => s"three$i").mkString(" ")
    val t3b = (0 until 20).map(i => s"newthree$i").mkString(" ")

    def apply(b: Long, evs: Seq[ChangeEvent]): Unit = {
      graft.operators.Replay.applyBatch(docs, evs.toDS(), mapping, b)
      SignatureStore.applyBatch(sig, evs.toDS(), mapping, docs, batchId = b)
    }

    apply(0, Seq(iEv(1, 1, t1), iEv(2, 2, null), iEv(3, 3, t3)))
    val s0 = sigRows(sig)
    assert(s0.keySet == Set("1", "2", "3"))
    assert(s0("2")._1 == null, "NULL text keeps a row with NULL hashes")
    assert(s0("1")._1 != null && s0("3")._1 != null)

    // TOAST-ish update (text absent) keeps doc 1's hashes; text update
    // re-signs doc 3; delete drops doc 2
    apply(1, Seq(uEv(10, 1, Map("meta" -> "m2")),
      uEv(11, 3, Map("text" -> t3b)), dEv(12, 2)))
    val s1 = sigRows(sig)
    assert(s1.keySet == Set("1", "3"))
    assert(s1("1") == s0("1"), "unchanged-TOAST update must keep the signature")
    assert(s1("3") != s0("3"), "text update must re-sign")

    // idempotent replay: same batchId skips (no new snapshot)
    val v = sig.currentVersion
    SignatureStore.applyBatch(sig, Seq(dEv(12, 2)).toDS(), mapping, docs, batchId = 1)
    assert(sig.currentVersion == v, "replayed batch must be epoch-skipped")

    // reinsert after delete
    apply(2, Seq(iEv(20, 2, t1)))
    val s2 = sigRows(sig)
    assert(s2.keySet == Set("1", "2", "3"))
    assert(s2("2")._1 == s2("1")._1, "same text => same minhash h0")

    // signature rows mirror the doc table's live keys exactly
    val live = docs.read().select("doc_id").collect().map(_.getLong(0).toString).toSet
    assert(s2.keySet == live)
  }

  test("map-file opt-in: \"signatures\": true maintains a companion table") {
    import java.nio.file.{Files, Paths}
    val dir = SparkTestBase.tmpDir("sigmap")
    val t = (0 until 20).map(i => s"word$i").mkString(" ")
    Seq(iEv(1, 1, t), iEv(2, 2, t + " tail")).toDS().toDF()
      .coalesce(1).write.parquet(s"$dir/wal/seg-00000")
    val mapJson =
      s"""{"databases":[{"name":"app",
         |  "urls":[{"url":"$dir/wal/seg-*","sid":"s0"}],
         |  "tables":{"docs":{"type":"clone","target":"docs","signatures":true}}}]}""".stripMargin
    Files.writeString(Paths.get(s"$dir/map.json"), mapJson)
    graft.streaming.Orchestrator.runAvailable(spark, s"$dir/map.json",
      s"$dir/targets", Map("docs" -> docSpec), s"$dir/ckpt")
    val sig = LakeTable.load(spark, s"$dir/targets/docs_signatures")
    assert(sigRows(sig).keySet == Set("1", "2"),
      "the companion signatures table must track the streamed docs")
    // history mode + signatures is rejected loudly at start
    val badJson = mapJson.replace("\"clone\"", "\"history\"")
    Files.writeString(Paths.get(s"$dir/map2.json"), badJson)
    val ex = intercept[IllegalArgumentException] {
      graft.streaming.Orchestrator.runAvailable(spark, s"$dir/map2.json",
        s"$dir/targets2", Map("docs" -> docSpec), s"$dir/ckpt2")
    }
    assert(ex.getMessage.contains("history"))
  }

  test("crash between doc commit and sig commit replays only the missing half") {
    val dir = SparkTestBase.tmpDir("sigcrash")
    val docs = LakeTable.create(spark, s"$dir/docs", docSpec)
    val sig = LakeTable.create(spark, s"$dir/sigs", SignatureStore.spec())
    val t = (0 until 20).map(i => s"c$i").mkString(" ")
    val b0 = Seq(iEv(1, 1, t))
    val b1 = Seq(iEv(2, 2, t + " more"))
    // batch 0 lands on both
    graft.operators.Replay.applyBatch(docs, b0.toDS(), mapping, 0)
    SignatureStore.applyBatch(sig, b0.toDS(), mapping, docs, batchId = 0)
    // batch 1: CRASH between the two commits — doc applied, sig not
    graft.operators.Replay.applyBatch(docs, b1.toDS(), mapping, 1)
    assert(sigRows(sig).keySet == Set("1"))
    // restart redelivers batch 1 to both routes: doc side epoch-skips,
    // sig side applies — each route replays exactly its missing half
    assert(!graft.operators.Replay.applyBatch(docs, b1.toDS(), mapping, 1))
    assert(SignatureStore.applyBatch(sig, b1.toDS(), mapping, docs, batchId = 1))
    assert(sigRows(sig).keySet == Set("1", "2"))
    assert(docs.read().count() == 2)
  }

  test("multi-part doc ids are collision-free (length-prefixed encoding)") {
    import org.apache.spark.sql.functions.col
    // the classic separator-join collision: ("a<sep>b","c") vs ("a","b<sep>c")
    val sep = ""
    val ids = Seq((s"a${sep}b", "c"), ("a", s"b${sep}c"), ("a", null))
      .toDF("k1", "k2")
      .select(SignatureStore.docIdCol(Seq(col("k1"), col("k2"))).as("id"))
      .collect().map(_.getString(0))
    assert(ids.distinct.length == 3, s"doc ids must be distinct: ${ids.toSeq}")
    // single-column keys stay verbatim (the existing sig tables' shape)
    val one = Seq(Tuple1(42L)).toDF("k")
      .select(SignatureStore.docIdCol(Seq(col("k"))).as("id"))
      .head().getString(0)
    assert(one == "42")
  }

  test("missing checkpoint heal rebases the signature table's epoch too") {
    import java.nio.file.{Files, Paths}
    val dir = SparkTestBase.tmpDir("sigheal")
    val t = (0 until 20).map(i => s"h$i").mkString(" ")
    Seq(iEv(1, 1, t)).toDS().toDF().coalesce(1)
      .write.parquet(s"$dir/wal/seg-00000")
    val mapJson =
      s"""{"databases":[{"name":"app",
         |  "urls":[{"url":"$dir/wal/seg-*","sid":"s0"}],
         |  "tables":{"docs":{"type":"clone","target":"docs","signatures":true}}}]}""".stripMargin
    Files.writeString(Paths.get(s"$dir/map.json"), mapJson)
    val specs = Map("docs" -> docSpec)
    graft.streaming.Orchestrator.runAvailable(spark, s"$dir/map.json",
      s"$dir/targets", specs, s"$dir/ckpt")
    assert(sigRows(LakeTable.load(spark, s"$dir/targets/docs_signatures"))
      .keySet == Set("1"))
    // lose the checkpoint; new doc arrives: after healing, the SIGNATURE
    // table must also receive it (its epoch is ahead of the rebased doc
    // epoch and would otherwise skip every post-heal batch)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    rm(new java.io.File(s"$dir/ckpt"))
    Seq(iEv(999, 2, t + " new")).toDS().toDF().coalesce(1)
      .write.parquet(s"$dir/wal/seg-00001")
    graft.streaming.Orchestrator.runAvailable(spark, s"$dir/map.json",
      s"$dir/targets", specs, s"$dir/ckpt")
    assert(sigRows(LakeTable.load(spark, s"$dir/targets/docs_signatures"))
      .keySet == Set("1", "2"),
      "post-heal batches must reach the signature table")
  }

  test("heal floor gap: doc-committed/sig-missed batch re-signs via forced bootstrap") {
    // crash window: doc table commits batch 1, signature table does not,
    // checkpoint lost. The WAL replays from batch 0: the doc table drops
    // batch 1 at its own applied-ord, while the signature table, floored
    // at its own applied-ord (batch 0's), replays the batch it missed.
    import java.nio.file.{Files, Paths}
    val dir = SparkTestBase.tmpDir("siggap")
    val t = (0 until 20).map(i => s"g$i").mkString(" ")
    Seq(iEv(1, 1, t)).toDS().toDF().coalesce(1)
      .write.parquet(s"$dir/wal/seg-00000")
    val mapJson =
      s"""{"databases":[{"name":"app",
         |  "urls":[{"url":"$dir/wal/seg-*","sid":"s0"}],
         |  "tables":{"docs":{"type":"clone","target":"docs","signatures":true}}}]}""".stripMargin
    Files.writeString(Paths.get(s"$dir/map.json"), mapJson)
    val specs = Map("docs" -> docSpec)
    graft.streaming.Orchestrator.runAvailable(spark, s"$dir/map.json",
      s"$dir/targets", specs, s"$dir/ckpt")

    // batch 1 reaches the DOC table only (direct apply = crash before the
    // signature commit), then the checkpoint vanishes
    val seg1 = Seq(iEv(50, 2, t + " second"))
    seg1.toDS().toDF().coalesce(1).write.parquet(s"$dir/wal/seg-00001")
    val docLake = LakeTable.load(spark, s"$dir/targets/docs")
    graft.operators.Replay.applyBatch(docLake, seg1.toDS(), mapping,
      batchId = 1, epochKey = "commit-epoch-app-s0-docs")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    rm(new java.io.File(s"$dir/ckpt"))

    graft.streaming.Orchestrator.runAvailable(spark, s"$dir/map.json",
      s"$dir/targets", specs, s"$dir/ckpt")
    val sig = LakeTable.load(spark, s"$dir/targets/docs_signatures")
    val rows = sigRows(sig)
    assert(rows.keySet == Set("1", "2"),
      s"the doc-committed/sig-missed batch must be re-signed: ${rows.keySet}")
    assert(rows("2")._1 != null, "re-signed row must carry real hashes")
  }

  test("bootstrap: late opt-in and backfill rows get signed (full-sync analog)") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    val dir = SparkTestBase.tmpDir("sigboot")
    val t = (0 until 20).map(i => s"pre$i").mkString(" ")
    // the doc table EXISTS WITH DATA before signatures are ever enabled
    val docs = LakeTable.create(spark, s"$dir/targets/docs", docSpec)
    graft.operators.Replay.applyBatch(docs,
      Seq(iEv(1, 1, t)).toDS(), mapping, 0)
    // backfill provides additional pre-stream rows (never in the WAL)
    val backfill = (table: String, _: String) =>
      if (table == "docs") Some(Seq((99L, "backfilled content here", "m"))
        .toDF("doc_id", "text", "meta"))
      else None
    Seq(iEv(10, 2, t + " two")).toDS().toDF()
      .coalesce(1).write.parquet(s"$dir/wal/seg-00000")
    val mapJson =
      s"""{"databases":[{"name":"app",
         |  "urls":[{"url":"$dir/wal/seg-*","sid":"s0"}],
         |  "tables":{"docs":{"type":"clone","target":"docs","signatures":true}}}]}""".stripMargin
    Files.writeString(Paths.get(s"$dir/map.json"), mapJson)
    graft.streaming.Orchestrator.runAvailable(spark, s"$dir/map.json",
      s"$dir/targets", Map("docs" -> docSpec), s"$dir/ckpt", backfill)
    val sig = LakeTable.load(spark, s"$dir/targets/docs_signatures")
    assert(sigRows(sig).keySet == Set("1", "2", "99"),
      "signatures must cover pre-existing rows (1), backfill (99) AND the " +
        s"streamed batch (2): ${sigRows(sig).keySet}")
  }

  test("narrow-key batches zone-prune the signature merge; cap self-compacts") {
    val dir = SparkTestBase.tmpDir("sigzone")
    val docs = LakeTable.create(spark, s"$dir/docs", docSpec)
    // ONE bucket so every batch touches it: zone pruning (not bucket
    // pruning) must be what keeps earlier files un-rewritten
    val sig = LakeTable.create(spark, s"$dir/sigs",
      SignatureStore.spec(numBuckets = 1))
    def apply(b: Long, ids: Seq[Long]): Unit = {
      val evs = ids.map(id => iEv(b * 1000 + id, id,
        (0 until 15).map(j => s"t$id-$j").mkString(" ")))
      graft.operators.Replay.applyBatch(docs, evs.toDS(), mapping, b)
      SignatureStore.applyBatch(sig, evs.toDS(), mapping, docs, batchId = b)
    }
    // 9 disjoint narrow batches (3-digit ids keep string zones disjoint)
    (1 to 9).foreach(b => apply(b, (0 until 6).map(i => b * 100L + 10 + i)))
    val files9 = sig.snapshot().files.map(_.path)
    assert(files9.size == 9,
      s"each narrow batch must rewrite ONLY its own key range (zone " +
        s"pruning): expected 9 one-file-per-batch, got ${files9.size}")
    // default GRAFT_COMPACT_FILE_CAP = 8: the bucket is now past the cap,
    // so the next merge disables its zone pruning and rewrites the whole
    // bucket into O(1) files — inline self-compaction
    apply(10, (0 until 6).map(i => 1010L + i))
    val filesAfter = sig.snapshot().files
    assert(filesAfter.size <= 2,
      s"over-cap bucket must self-compact: ${filesAfter.size} files")
    // no loss through the whole sequence
    val rows = sigRows(sig)
    assert(rows.keySet.size == 60)
    assert(rows.values.forall(_._1 != null), "every doc re-signed correctly")
  }

  test("streamed ingest + incremental dedup == whole-corpus LSH on (corpus, delta)") {
    val dir = SparkTestBase.tmpDir("sigstream")
    val base = (0 until 100).map(i => s"tok$i").mkString(" ")
    val corpusTexts: Seq[(Long, String)] =
      (0L until 6L).map(i =>
        i -> (s"corpus doc $i " + (0 until 40).map(j => s"w$i-$j").mkString(" "))) ++
        Seq(6L -> base,
          7L -> base.replace("tok50 ", "changed50 ")) // near-dup pair 6-7
    val deltaTexts: Seq[(Long, String)] = Seq(
      100L -> base, // near-dup of corpus 6 (exact) and 7
      101L -> ("fresh unrelated content " + (0 until 40).map(j => s"u$j").mkString(" ")))

    // WAL: seg0 = corpus inserts (batch 0), seg1 = delta inserts (batch 1)
    corpusTexts.zipWithIndex.map { case ((id, t), i) => iEv(i + 1, id, t) }
      .toDS().toDF().coalesce(1).write.parquet(s"$dir/wal/seg-00000")
    val docs = LakeTable.create(spark, s"$dir/docs", docSpec)
    val sig = LakeTable.create(spark, s"$dir/sigs", SignatureStore.spec())
    val routes = Seq(CdcStream.Route(mapping, docs,
      signatures = Some(CdcStream.SignatureSink(sig))))
    CdcStream.runAvailable(spark, s"$dir/wal/seg-*", s"$dir/ckpt", routes)
    val corpusVersion = sig.currentVersion
    assert(sigRows(sig).keySet == corpusTexts.map(_._1.toString).toSet)

    // the delta batch arrives; the stream resumes from its checkpoint and
    // the signature table advances incrementally
    deltaTexts.zipWithIndex.map { case ((id, t), i) => iEv(100 + i, id, t) }
      .toDS().toDF().coalesce(1).write.parquet(s"$dir/wal/seg-00001")
    CdcStream.runAvailable(spark, s"$dir/wal/seg-*", s"$dir/ckpt", routes)
    assert(sigRows(sig).keySet ==
      (corpusTexts ++ deltaTexts).map(_._1.toString).toSet)

    // incremental dedup of the delta against the CORPUS-state signatures
    val corpusSigs = sig.read(version = corpusVersion)
    val delta = deltaTexts.toDF("doc_id", "text")
    val inc = TextPipeline.dedupAgainstSignatures(corpusSigs, delta)
      .collect().map(r => (r.getString(0).toLong, r.getLong(1))).toSet

    // ground truth: the whole-corpus MinHash-LSH operator restricted to
    // (corpus, delta) pairs
    val all = (corpusTexts ++ deltaTexts).map { case (id, t) =>
      (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    all.write.parquet(s"$dir/full/documents.parquet")
    val full = TextPipeline.dedupMinhashLsh(spark, s"$dir/full")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => a < 100 && b >= 100 }.toSet
    assert(inc == full,
      s"incremental (signatures-only) must agree with whole-corpus LSH on " +
        s"(corpus, delta) pairs: inc=$inc full=$full")
    assert(inc.contains((6L, 100L)), "the planted near-dup must be found")
  }
}
