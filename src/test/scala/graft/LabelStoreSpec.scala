package graft

import graft.lake.LakeTable
import graft.model.{ChangeEvent, TableMapping, TableSpec}
import graft.operators.{LabelStore, SignatureStore}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Cluster labels maintained BY the CDC ingest loop (X14 at steady
  * state): per applied micro-batch the label table folds forward through
  * the one label kernel (touched docs' old edges die, the members of their
  * clusters re-pair off the current signatures). The invariant — labels ==
  * connected components over the CURRENT signature-agreement pairs — is
  * re-checked from scratch after every batch via LabelStore.bootstrap
  * into a fresh table, on clique- and chain-shaped clusters. */
class LabelStoreSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val docSpec = TableSpec("docs",
    StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = true),
      StructField("meta", StringType, nullable = true))),
    keyCols = Seq("doc_id"), bucketCols = Seq("doc_id"), numBuckets = 4)
  private val mapping = TableMapping("docs", "docs")

  private def iEv(lsn: Long, id: Long, text: String): ChangeEvent =
    ChangeEvent(lsn, 0, "I", "docs", "s0", "none", Map.empty,
      Map("doc_id" -> id.toString, "text" -> text, "meta" -> "m"))
  private def uEv(lsn: Long, id: Long, kv: Map[String, String]): ChangeEvent =
    ChangeEvent(lsn, 0, "U", "docs", "s0", "none", Map.empty,
      Map("doc_id" -> id.toString) ++ kv)
  private def dEv(lsn: Long, id: Long): ChangeEvent =
    ChangeEvent(lsn, 0, "D", "docs", "s0", "none",
      Map("doc_id" -> id.toString), Map.empty)

  private def labelRows(t: LakeTable): Map[String, String] =
    t.read().collect().map(r => r.getString(0) -> r.getString(1)).toMap

  test("ingest-maintained labels: merge, migrate, toast, delete, replay") {
    val dir = SparkTestBase.tmpDir("lblstore")
    val docs = LakeTable.create(spark, s"$dir/docs", docSpec)
    val sig = LakeTable.create(spark, s"$dir/sigs", SignatureStore.spec())
    val lbl = LakeTable.create(spark, s"$dir/labels", LabelStore.spec())
    def txt(p: String) = (0 until 20).map(i => s"$p$i").mkString(" ")
    val (tA, tB, tC) = (txt("alpha"), txt("beta"), txt("gamma"))

    var checks = 0
    def invariant(): Unit = {
      checks += 1
      val fresh = LakeTable.create(spark, s"$dir/check$checks", LabelStore.spec())
      assert(LabelStore.bootstrap(fresh, sig))
      assert(labelRows(fresh) == labelRows(lbl),
        s"incremental fold diverged from from-scratch CC after check $checks")
    }
    def apply(b: Long, evs: Seq[ChangeEvent]): Unit = {
      graft.operators.Replay.applyBatch(docs, evs.toDS(), mapping, b)
      SignatureStore.applyBatch(sig, evs.toDS(), mapping, docs, batchId = b)
      LabelStore.applyBatch(lbl, sig, evs.toDS(), mapping, docs, batchId = b)
      invariant()
    }

    // inserts form a cluster; the unrelated doc stays an absent singleton
    apply(0, Seq(iEv(1, 1, tA), iEv(2, 2, tA), iEv(3, 3, tB)))
    assert(labelRows(lbl) == Map("1" -> "1", "2" -> "1"))

    // new near-dup merges in; a TEXT UPDATE migrates doc 2 out of its
    // cluster (old edges die with the old signature), leaving 1 pairless
    apply(1, Seq(iEv(10, 4, tB), uEv(11, 2, Map("text" -> tC))))
    assert(labelRows(lbl) == Map("3" -> "3", "4" -> "3"))

    // TOAST-ish meta-only update touches nothing; the delete shrinks
    // {3,4} and 3 drops out pairless
    apply(2, Seq(uEv(20, 1, Map("meta" -> "m2")), dEv(21, 4)))
    assert(labelRows(lbl) == Map.empty)

    // exactly-once: replaying the same batchId is epoch-skipped
    val v = lbl.currentVersion
    assert(!LabelStore.applyBatch(lbl, sig, Seq(dEv(21, 4)).toDS(), mapping,
      docs, batchId = 2))
    assert(lbl.currentVersion == v)

    // a new doc pairs against an EXISTING corpus signature (2's text
    // became tC back in batch 1 — the pair comes off the signature lake,
    // not this batch)
    apply(3, Seq(iEv(30, 5, tC)))
    assert(labelRows(lbl) == Map("2" -> "2", "5" -> "2"))

    // crash window: the signature half committed batch 4 but the label
    // half did not — the replay applies ONLY the label half
    val evs4 = Seq(iEv(40, 6, tC))
    graft.operators.Replay.applyBatch(docs, evs4.toDS(), mapping, 4)
    SignatureStore.applyBatch(sig, evs4.toDS(), mapping, docs, batchId = 4)
    assert(labelRows(lbl) == Map("2" -> "2", "5" -> "2"), "label half behind")
    assert(!SignatureStore.applyBatch(sig, evs4.toDS(), mapping, docs,
      batchId = 4), "signature half must epoch-skip the replay")
    assert(LabelStore.applyBatch(lbl, sig, evs4.toDS(), mapping, docs,
      batchId = 4))
    assert(labelRows(lbl) == Map("2" -> "2", "5" -> "2", "6" -> "2"))
    invariant()

    // a batch carrying only a meta-only update touches no doc: the label
    // table commits the epoch alone, its rows and applied watermark as
    // they were
    def appliedOrds = lbl.snapshot().properties.filter(_._1.startsWith("applied-ord-"))
    val (v5, ords5) = (lbl.currentVersion, appliedOrds)
    assert(ords5.nonEmpty)
    apply(5, Seq(uEv(50, 5, Map("meta" -> "m3"))))
    assert(lbl.currentVersion == v5 + 1)
    assert(lbl.snapshot().properties("commit-epoch") == "5")
    assert(appliedOrds == ords5)
    assert(labelRows(lbl) == Map("2" -> "2", "5" -> "2", "6" -> "2"))
  }

  test("cluster migration of the lexicographically-SMALLEST doc merges") {
    // regression: the merge kernel pairs touched docs against the whole
    // signature table; a symmetric (a < b)-deduped agreement join DROPS
    // every (touched, untouched) pair where the touched doc sorts FIRST —
    // so editing doc "1" into a cluster of untouched docs "5","9" left it
    // a singleton (hidden in other fixtures because deltas sorted last or
    // never changed cluster)
    val dir = SparkTestBase.tmpDir("lblmin")
    val docs = LakeTable.create(spark, s"$dir/docs", docSpec)
    val sig = LakeTable.create(spark, s"$dir/sigs", SignatureStore.spec())
    val lbl = LakeTable.create(spark, s"$dir/labels", LabelStore.spec())
    def txt(p: String) = (0 until 20).map(i => s"$p$i").mkString(" ")
    def apply(b: Long, evs: Seq[ChangeEvent]): Unit = {
      graft.operators.Replay.applyBatch(docs, evs.toDS(), mapping, b)
      SignatureStore.applyBatch(sig, evs.toDS(), mapping, docs, batchId = b)
      LabelStore.applyBatch(lbl, sig, evs.toDS(), mapping, docs, batchId = b)
    }
    apply(0, Seq(iEv(1, 1, txt("solo")), iEv(2, 5, txt("grp")),
      iEv(3, 9, txt("grp"))))
    assert(labelRows(lbl) == Map("5" -> "5", "9" -> "5"))
    apply(1, Seq(uEv(10, 1, Map("text" -> txt("grp")))))
    assert(labelRows(lbl) == Map("1" -> "1", "5" -> "1", "9" -> "1"),
      "the touched doc must merge even when it sorts before every " +
        "untouched member of its new cluster")
    // and the invariant check agrees with a from-scratch rebuild
    val fresh = LakeTable.create(spark, s"$dir/check", LabelStore.spec())
    assert(LabelStore.bootstrap(fresh, sig))
    assert(labelRows(fresh) == labelRows(lbl))
  }

  // chain-shaped text, as the replay benchmark's `dedup` workload writes it:
  // doc t reads words t..t+18, so neighbours share 18 words, docs a few
  // apart fewer, and every cluster is a chain with no shortcut around its
  // middle
  private def chain(t: Int): String = (t until t + 19).map(w => s"w$w").mkString(" ")

  private final class Chained(name: String, sigBuckets: Int = 16, lblBuckets: Int = 16) {
    val dir: String = SparkTestBase.tmpDir(name)
    val docs: LakeTable = LakeTable.create(spark, s"$dir/docs", docSpec)
    val sig: LakeTable = LakeTable.create(spark, s"$dir/sigs",
      SignatureStore.spec(numBuckets = sigBuckets))
    val lbl: LakeTable = LakeTable.create(spark, s"$dir/labels",
      LabelStore.spec(numBuckets = lblBuckets))
    private var checks = 0
    def apply(b: Long, evs: Seq[ChangeEvent]): Unit = {
      graft.operators.Replay.applyBatch(docs, evs.toDS(), mapping, b)
      SignatureStore.applyBatch(sig, evs.toDS(), mapping, docs, batchId = b)
      LabelStore.applyBatch(lbl, sig, evs.toDS(), mapping, docs, batchId = b)
      checks += 1
      val fresh = LakeTable.create(spark, s"$dir/check$checks", LabelStore.spec())
      assert(LabelStore.bootstrap(fresh, sig))
      assert(labelRows(lbl) == labelRows(fresh),
        s"batch $b: incremental fold diverged from the from-scratch CC")
    }
  }

  test("chained clusters: an edit in the middle splits the chain, an insert rejoins it") {
    // shrunk from a seeded chain run: 0..7 chain through 1 and 4; editing
    // 1 and 4 away splits it into {0} and {5, 7} (5 and 7 pair directly),
    // and the inserted 2 rejoins 0 with 5 — so 7 must follow 5 to label 0
    val c = new Chained("lblchain")
    c(0, Seq(0, 1, 4, 5, 7).map(t => iEv(t + 1, t, chain(t))))
    assert(labelRows(c.lbl) == Seq(0, 1, 4, 5, 7).map(t => t.toString -> "0").toMap)
    c(1, Seq(uEv(10, 1, Map("text" -> chain(51))),
      uEv(11, 4, Map("text" -> chain(54))), iEv(12, 2, chain(2))))
    // a delete in the middle splits the chain the other way
    c(2, Seq(dEv(20, 2)))
  }

  test("seeded insert/update/delete batches over chains keep labels == bootstrap") {
    // the signature and label lakes on equal, then on different bucket
    // counts: each lookup prunes by its own lake's buckets
    for ((sigBuckets, lblBuckets) <- Seq((16, 16), (5, 3))) {
      val c = new Chained("lblseeded", sigBuckets, lblBuckets)
      val rnd = new scala.util.Random(20261017L)
      val live = scala.collection.mutable.Set[Int]()
      var lsn = 0L
      def next(): Long = { lsn += 1; lsn }
      for (b <- 0L until 6L) {
        // per batch: ~12 ops over 3 chains of 16 docs; a key is touched at
        // most once per batch, so each batch's net effect is unambiguous
        val keys = rnd.shuffle((0 until 48).toList).take(12)
        val evs = keys.map { k =>
          val t = (k / 16) * 100 + k % 16
          if (!live(t)) { live += t; iEv(next(), t, chain(t)) }
          else if (rnd.nextInt(3) == 0) { live -= t; dEv(next(), t) }
          else uEv(next(), t, Map("text" ->
            chain(if (rnd.nextBoolean()) t else t + 50)))
        }
        c(b, evs)
      }
    }
  }

  test("job-count guard: a small warm label batch runs no more Spark jobs") {
    val c = new Chained("lbljobs")
    def phaseSplit(lake: LakeTable)(body: => Unit): String = {
      val scope = LakeTable.rootKey(lake.root)
      def secs = graft.obs.Phases.totals.collect { case ((`scope`, ph), t) => ph -> t.seconds }
      val (s0, t0) = (secs, System.nanoTime())
      body
      val wall = (System.nanoTime() - t0) / 1e9
      val split = secs.map { case (ph, s) => ph -> (s - s0.getOrElse(ph, 0.0)) }
      f"phases cover ${split.values.sum / wall * 100}%.1f%% of $wall%.3f s: " +
        split.toSeq.sorted.map { case (ph, s) => f"$ph $s%.3f s" }.mkString(", ")
    }
    // warm: two chains, then an edit that splits one
    c(0, (0 until 8).flatMap(t =>
      Seq(iEv(t + 1, t, chain(t)), iEv(t + 101, t + 100, chain(t + 100)))))
    c(1, Seq(uEv(200, 3, Map("text" -> chain(53))), dEv(201, 104), iEv(202, 20, chain(20))))
    val evs = Seq(uEv(300, 3, Map("text" -> chain(3))), dEv(301, 6), iEv(302, 8, chain(8)),
      uEv(303, 101, Map("meta" -> "m2")))
    graft.operators.Replay.applyBatch(c.docs, evs.toDS(), mapping, 2)
    val sigSplit = phaseSplit(c.sig)(
      assert(SignatureStore.applyBatch(c.sig, evs.toDS(), mapping, c.docs, batchId = 2)))
    var lblSplit = ""
    val n = SparkTestBase.jobsOf {
      lblSplit = phaseSplit(c.lbl)(
        assert(LabelStore.applyBatch(c.lbl, c.sig, evs.toDS(), mapping, c.docs, batchId = 2)))
    }
    info(s"signature batch: $sigSplit")
    info(s"label batch: $lblSplit; $n jobs")
    val fresh = LakeTable.create(spark, s"${c.dir}/check", LabelStore.spec())
    assert(LabelStore.bootstrap(fresh, c.sig))
    assert(labelRows(c.lbl) == labelRows(fresh))
    // the probe and the touched ids' collect, the fold's landings and
    // lookups, and the write: 36 jobs (38 when the batch's bookkeeping
    // was its own stats job over a cached touched set)
    assert(n <= 36, s"label batch ran $n jobs")
  }

  test("ingest-loop temp artifacts are batch-scoped, not JVM-lifetime") {
    // the kernels land pairs/labels parquet in temp dirs; the CDC loop
    // calls applyBatch once per micro-batch FOREVER, so those dirs must
    // die with the batch (driver-contract entries keep returning frames
    // that read their temp dirs and correctly use the exit-hook lifetime)
    val dir = SparkTestBase.tmpDir("lbltmp")
    val docs = LakeTable.create(spark, s"$dir/docs", docSpec)
    val sig = LakeTable.create(spark, s"$dir/sigs", SignatureStore.spec())
    val lbl = LakeTable.create(spark, s"$dir/labels", LabelStore.spec())
    def txt(p: String) = (0 until 20).map(i => s"$p$i").mkString(" ")
    def kernelTmp(): Set[String] = {
      val t = new java.io.File(System.getProperty("java.io.tmpdir"))
      Option(t.list()).getOrElse(Array.empty)
        .filter(n => Seq("graft-clusters", "graft-labels", "graft-delta",
          "graft-members", "graft-pairs", "graft-roots").exists(n.startsWith)).toSet
    }
    val before = kernelTmp()
    val evs = Seq(iEv(1, 1, txt("aa")), iEv(2, 2, txt("aa")))
    graft.operators.Replay.applyBatch(docs, evs.toDS(), mapping, 0)
    SignatureStore.applyBatch(sig, evs.toDS(), mapping, docs, batchId = 0)
    LabelStore.applyBatch(lbl, sig, evs.toDS(), mapping, docs, batchId = 0)
    assert(labelRows(lbl) == Map("1" -> "1", "2" -> "1"),
      "the batch must still fold correctly under the temp scope")
    assert(kernelTmp() == before,
      "applyBatch must not leave kernel temp dirs behind")
  }

  test("map-file opt-in: \"labels\": true maintains the cluster companion") {
    import java.nio.file.{Files, Paths}
    val dir = SparkTestBase.tmpDir("lblmap")
    val t = (0 until 20).map(i => s"word$i").mkString(" ")
    Seq(iEv(1, 1, t), iEv(2, 2, t + " tail"), iEv(3, 3, "unrelated " +
      (0 until 19).map(i => s"other$i").mkString(" ")))
      .toDS().toDF().coalesce(1).write.parquet(s"$dir/wal/seg-00000")
    val mapJson =
      s"""{"databases":[{"name":"app",
         |  "urls":[{"url":"$dir/wal/seg-*","sid":"s0"}],
         |  "tables":{"docs":{"type":"clone","target":"docs",
         |    "signatures":true,"labels":true}}}]}""".stripMargin
    Files.writeString(Paths.get(s"$dir/map.json"), mapJson)
    graft.streaming.Orchestrator.runAvailable(spark, s"$dir/map.json",
      s"$dir/targets", Map("docs" -> docSpec), s"$dir/ckpt")
    val lbl = LakeTable.load(spark, s"$dir/targets/docs_labels")
    assert(labelRows(lbl) == Map("1" -> "1", "2" -> "1"),
      "near-dup docs 1,2 must land in one cluster; 3 stays absent-singleton")
    // labels without signatures is rejected loudly at start
    val badJson = mapJson.replace("\"signatures\":true,", "")
    Files.writeString(Paths.get(s"$dir/map2.json"), badJson)
    val ex = intercept[IllegalArgumentException] {
      graft.streaming.Orchestrator.runAvailable(spark, s"$dir/map2.json",
        s"$dir/targets2", Map("docs" -> docSpec), s"$dir/ckpt2")
    }
    assert(ex.getMessage.contains("labels"))
  }
}
