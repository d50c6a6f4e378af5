package graft.operators

import graft.lake.{LakeTable, Snapshot}
import graft.model.{ChangeEvent, TableMapping, TableMode, TableSpec}
import graft.obs.Phases
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Duplicate-cluster labels maintained BY the CDC ingest loop — X14 at
  * steady state, riding the same micro-batches as the signature companion
  * (SURVEY §2.7 X14b/X14c): as each applied batch upserts the signature
  * table, the label table (doc_id -> cluster_id, rows for dup-involved
  * docs only; absence = singleton) folds forward through
  * [[TextPipeline.foldLabels]] — the one incremental label kernel, which
  * the driver-contract queries `dedup_clusters_incremental` and
  * `dedup_clusters_deletes` run on full frames. Here it runs on the lake:
  *
  *   - touched = every doc the batch deleted, inserted or text-changed
  *     (a touched doc's old edges die with its old signature; TOAST and
  *     meta-only updates are edge-neutral and filtered out);
  *   - the label and signature lookups it asks for are bucket- AND
  *     zone-pruned lake reads, each by its own lake's buckets;
  *   - its `pairsOf` is one asymmetric band probe of the whole signature
  *     table against the members' post-commit signatures.
  *
  * The kernel emits (doc_id, new, old) rows, so the write-set is a pure
  * new-vs-old filter — no full next-state table is materialized and no
  * corpus-sized join runs. The invariant it preserves: labels ==
  * connected components over ALL current signature-agreement pairs (the
  * D5 predicate) — LabelStoreSpec re-derives it from scratch after every
  * batch, on clique- and chain-shaped clusters.
  *
  * Per-batch cost: ONE probe of the batch (`Replay.probe`, as every
  * merge) and one `LakeTable.keysOf` aggregation per other lookup and for
  * the rewrite set. Corpus cost: TWO broadcast-semi label-table scans +
  * ONE signature band probe (no shuffle, cache, or temp write of anything
  * corpus-sized); corpus TEXT is never read. Each table's manifest is
  * resolved once per batch, and every read and the commit use that
  * snapshot. The write back into the label lake rewrites exactly the
  * CHANGED label rows into the bucket- and zone-pruned rewrite set of the
  * files holding them (`LakeTable.rewriteSet`, as every merge does).
  *
  * Exactly-once: the label table keeps its own `commit-epoch` and applied
  * watermark (`Replay.prelude`) on its own snapshot — a crash between
  * the signature commit and the label commit replays only the label half
  * (and the fold is idempotent: it recomputes from the already-committed
  * signature state), and a re-sent event applies once.
  */
object LabelStore {

  def schema: StructType = StructType(Seq(
    StructField("doc_id", StringType, nullable = false),
    StructField("cluster_id", StringType, nullable = false)))

  def spec(name: String = "labels", numBuckets: Int = 16): TableSpec =
    TableSpec(name, schema, keyCols = Seq("doc_id"), bucketCols = Seq("doc_id"),
      numBuckets = numBuckets)

  private def sigCols(s: DataFrame): DataFrame =
    s.select(col("doc_id") +:
      (0 until SignatureStore.K).map(k => col(s"h$k")): _*)

  /** Labels from scratch off the CURRENT signature table (one CC fixpoint
    * over its agreement pairs) — the bootstrap analog of
    * `SignatureStore.bootstrap`: covers labels enabled after the corpus
    * already ingested, or a vanished label table under a live checkpoint.
    * Records `labels-bootstrap = <signature snapshot version>` so it runs
    * once, and the signature snapshot's applied watermarks
    * (`Replay.appliedOrdsFrom`). Caller holds the label table's lock. */
  def bootstrap(labels: LakeTable, sig: LakeTable,
                force: Boolean = false): Boolean = {
    val lsnap = labels.snapshot()
    if (!force && lsnap.properties.contains("labels-bootstrap")) return false
    // every result lands in the lake before return — the kernels' temp
    // parquet must not outlive the call (the ingest loop runs forever)
    TextPipeline.scopedTmp {
    val ssnap = sig.snapshot()
    val sigs = sigCols(sig.readAt(ssnap))
    val lbl = TextPipeline.propagateLabels(sigs.sparkSession,
      TextPipeline.signatureAgreementPairs(sigs, sigs, "labels_bootstrap"))
    val rows = lbl.select(col("doc_id").cast("string").as("doc_id"),
        col("cluster_id").cast("string").as("cluster_id"))
      .withColumn("__bucket", LakeTable.bucketOf(lsnap))
    labels.commit(labels.writeDataFiles(rows, lsnap),
      lsnap.files.map(_.path).toSet,
      properties = Replay.appliedOrdsFrom(ssnap, lsnap) +
        ("labels-bootstrap" -> ssnap.version.toString), base = Some(lsnap))
    true
    }
  }

  /** Fold one applied micro-batch into the label table. MUST run after
    * `SignatureStore.applyBatch` committed the same batch (the fold reads
    * the POST-commit signature rows). The probe of its edge-changing
    * events yields the applied watermark (none: the epoch commits alone)
    * and the touched docs' label buckets and zone; every other lookup and
    * the rewrite set take theirs from `LakeTable.keysOf`. Returns true if
    * applied (false = epoch already covers batchId). */
  def applyBatch(labels: LakeTable, sig: LakeTable,
                 events: Dataset[ChangeEvent], mapping: TableMapping,
                 docLake: LakeTable, textCol: String = "text",
                 batchId: Long, epochKey: String = "commit-epoch"): Boolean = {
    val spark = events.sparkSession
    lazy val docSnap = docLake.snapshot()
    val (lsnap, batch) =
      Replay.prelude(labels, events, mapping, batchId, epochKey)(_ => docSnap.schema) match {
        case Some(b) => b
        case None => return false
      }
    // scope the kernel's temp parquet to this batch: everything lands in
    // the label lake before return, and the ingest loop calls this once
    // per micro-batch — without the scope, temp dirs accumulate until
    // JVM exit on a long-running orchestrator
    TextPipeline.scopedTmp {
    // a meta-only update to an existing row ('none' kind, no text in the
    // value map — the TOAST case) changes neither the doc's text nor its
    // existence under any key, so its edges are untouched; PK-updates
    // ('K'/'O' kinds) change existence under BOTH keys and always count
    val relevant = batch
      .filter(col("op").isin("I", "D") ||
        (col("op") === "U" &&
          (col("old_kind") =!= "none" ||
            map_contains_key(col("after"), textCol))))
    val appendMode = mapping.mode == TableMode.Append
    val keyOf = SignatureStore.docKey(docSnap.mergeKey)
    // the probe, and the touched docs (one row each): a batch-bounded id
    // set collected to the driver, so each later read of it is local
    val (p, touchedIds) = Phases.run(labels, "touched") {
      val p = Replay.probe(lsnap, relevant, appendMode, batchId, keyOf)
      p -> (if (p.ci.isEmpty) Nil
        else Replay.normalizeBy(relevant, appendMode, keyOf).select(col("key.doc_id"))
          .filter(col("doc_id").isNotNull).collect().map(_.getString(0)).distinct.toSeq)
    }
    if (p.ci.isEmpty) {
      labels.commit(Nil, Set.empty, properties = Map(epochKey -> batchId.toString))
      return true
    }
    import spark.implicits._
    val touched = touchedIds.toDF("doc_id")
    val ssnap = sig.snapshot()
    // batch-bounded lake lookup: "rows OF these docs" answered by a
    // bucket- AND zone-PRUNED read of the batch's snapshot followed by an
    // exact semi join: O(touched FILES) per call, never a full corpus scan
    def rowsOf(lake: LakeTable, snap: Snapshot)(ids: DataFrame): DataFrame = {
      val (buckets, zones) =
        if (ids eq touched) (p.touched, p.zones) else LakeTable.keysOf(snap, ids)
      lake.readAt(snap, Some(buckets), zones)
        .join(broadcast(ids), Seq("doc_id"), "left_semi")
    }
    val (diff, (buckets, zones)) = Phases.run(labels, "fold") {
      val rows = TextPipeline.foldLabels(spark, touched, rowsOf(labels, lsnap),
        labels.readAt(lsnap),
        // post-commit signatures: a deleted doc has none, an edited doc
        // re-pairs off its new one; the band probe over the whole
        // signature table is the fold's one corpus-signature pass
        ids => TextPipeline.agreementPairsAgainst(sigCols(sig.readAt(ssnap)),
          sigCols(rowsOf(sig, ssnap)(ids)), "labels_ingest"))
      // the write-set is a pure new-vs-current filter, LANDED once (the
      // fold's plan tree is deep and Catalyst re-plans the full tree per
      // action — the write path below runs several)
      val diff = TextPipeline.landTmp(
        rows.filter(!(col("cluster_id") <=> col("oc")))
          .select(col("doc_id"), col("cluster_id")), "graft-delta")
      (diff, LakeTable.keysOf(lsnap, diff))
    }
    // no changed label: nothing to write; else the write plan is built
    // inside the write phase
    val files = labels.rewriteSet(lsnap, buckets, zones)
    val written = if (buckets.isEmpty) Nil else labels.writeDataFiles(
      labels.scan(lsnap, files).join(diff.select("doc_id"), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("cluster_id"))
        .unionAll(diff.filter(col("cluster_id").isNotNull))
        .withColumn("__bucket", LakeTable.bucketOf(lsnap)), lsnap)
    labels.commit(written, files.map(_.path).toSet,
      properties = Map(epochKey -> batchId.toString,
        Replay.appliedOrd(lsnap, epochKey, p.ci.get.maxOrd)), base = Some(lsnap))
    true
    }
  }
}
