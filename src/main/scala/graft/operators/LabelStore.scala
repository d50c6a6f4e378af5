package graft.operators

import graft.lake.LakeTable
import graft.model.{ChangeEvent, TableMapping, TableMode, TableSpec}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Duplicate-cluster labels maintained BY the CDC ingest loop — X14 at
  * steady state, riding the same micro-batches as the signature companion
  * (SURVEY §2.7 X14b/X14c): as each applied batch upserts the signature
  * table, the label table (doc_id -> cluster_id, rows for dup-involved
  * docs only; absence = singleton) folds forward by composing two
  * DELTA-FORM kernels inlined in [[applyBatch]] (the full-table analogs,
  * [[TextPipeline.clustersAfterDeletes]] / [[TextPipeline.clustersAgainstLabels]],
  * serve the driver-contract queries):
  *
  *   1. delete kernel, over every doc the batch TOUCHED (deleted,
  *      inserted, or text-changed): a touched doc's OLD edges die —
  *      deletion obviously, but a text update equally (its pairs
  *      re-derive from the new signature) — so exactly the members of
  *      clusters that contained touched docs recompute their labels over
  *      the survivors' current signature pairs;
  *   2. merge kernel, with the touched docs' CURRENT pairs (one-pass
  *      inline band probe of the post-commit signature rows vs the whole
  *      signature table): endpoint roots resolve from the delete delta +
  *      pruned label lookups, the min-label fixpoint runs over the ROOT
  *      graph only, and merged-root members relabel via broadcast-semi
  *      label scans.
  *
  * Both kernels emit (doc_id, new, old) rows, so the write-set is a pure
  * new-vs-old filter — no full next-state table is materialized and no
  * corpus-sized join runs. The composition preserves the one invariant
  * the whole family speaks: labels == connected components over ALL
  * current signature-agreement pairs (the D5 predicate) — however
  * incrementally it got there (LabelStoreSpec re-derives it from scratch
  * after every batch).
  *
  * Per-batch corpus cost: TWO broadcast-semi label-table scans + ONE
  * signature band probe (no shuffle, cache, or temp write of anything
  * corpus-sized); all per-doc lookups are bucket- AND zone-pruned lake
  * reads; corpus TEXT is never read. The write back into the label lake
  * is a bucket- and zone-pruned merge of exactly the CHANGED label rows,
  * mirroring `SignatureStore.applyBatch`.
  *
  * Exactly-once: the label table keeps its own `commit-epoch` on its own
  * snapshot — a crash between the signature commit and the label commit
  * replays only the label half (and the fold is idempotent: it recomputes
  * from the already-committed signature state).
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
    * once. Caller holds the label table's lock. */
  def bootstrap(labels: LakeTable, sig: LakeTable,
                force: Boolean = false): Boolean = {
    val lsnap = labels.snapshot()
    if (!force && lsnap.properties.contains("labels-bootstrap")) return false
    // every result lands in the lake before return — the kernels' temp
    // parquet must not outlive the call (the ingest loop runs forever)
    TextPipeline.scopedTmp {
    val ssnap = sig.snapshot()
    val sigs = sigCols(sig.read())
    val lbl = TextPipeline.propagateLabels(sigs.sparkSession,
      TextPipeline.signatureAgreementPairs(sigs, sigs, "labels_bootstrap"))
    val rows = lbl.select(col("doc_id").cast("string").as("doc_id"),
        col("cluster_id").cast("string").as("cluster_id"))
      .withColumn("__bucket",
        pmod(xxhash64(col("doc_id")), lit(lsnap.numBuckets)))
    labels.commit(labels.writeDataFiles(rows, lsnap.currentSchemaId),
      lsnap.files.map(_.path).toSet,
      properties = Map("labels-bootstrap" -> ssnap.version.toString))
    true
    }
  }

  /** Fold one applied micro-batch into the label table. MUST run after
    * `SignatureStore.applyBatch` committed the same batch (the fold reads
    * the POST-commit signature rows). Returns true if applied (false =
    * epoch already covers batchId). */
  def applyBatch(labels: LakeTable, sig: LakeTable,
                 events: Dataset[ChangeEvent], mapping: TableMapping,
                 docLake: LakeTable, textCol: String = "text",
                 batchId: Long, epochKey: String = "commit-epoch"): Boolean = {
    val spark = events.sparkSession
    Replay.tuneSession(spark)
    val lsnap0 = labels.snapshot()
    val committed = lsnap0.properties.getOrElse(epochKey, "-1").toLong
    if (batchId <= committed) return false
    // scope the kernels' temp parquet to this batch: everything lands in
    // the label lake before return, and the ingest loop calls this once
    // per micro-batch — without the scope, temp dirs accumulate until
    // JVM exit on a long-running orchestrator
    TextPipeline.scopedTmp {
    val timing = sys.env.get("GRAFT_TIMING").contains("1")
    var t0 = System.nanoTime()
    def lap(tag: String): Unit = if (timing) {
      println(f"[labels] $tag: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      t0 = System.nanoTime()
    }
    val docSnap = docLake.snapshot()
    val mergeKey = (if (docSnap.hasSid) Seq("sid") else Nil) ++ docSnap.keyCols
    val envSchema = mapping.sourceSchema.getOrElse(docSnap.schema)
    val routed = events.filter(Replay.routeCond(mapping))
    // a meta-only update to an existing row ('none' kind, no text in the
    // value map — the TOAST case) changes neither the doc's text nor its
    // existence under any key, so its edges are untouched; PK-updates
    // ('K'/'O' kinds) change existence under BOTH keys and always count
    val relevant = Replay.filterTransform(routed, mapping, envSchema)
      .filter(col("op").isin("I", "D") ||
        (col("op") === "U" &&
          (col("old_kind") =!= "none" ||
            map_contains_key(col("after"), textCol))))
    val appendMode = mapping.mode == TableMode.Append
    val touched = Replay.normalizeDF(relevant.toDF(), mergeKey, appendMode)
      .select(SignatureStore.docIdCol((0 until mergeKey.length).map(i =>
        element_at(col("key"), i + 1))).as("doc_id"))
      .distinct().filter(col("doc_id").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      lap("touched-set")
      // ONE stats pass over the batch-bounded id set: emptiness check,
      // RAW doc_id hashes (per-lake buckets derive on the driver, so the
      // label and signature lakes share the same job even with different
      // bucket counts) and zone bounds — where the previous shape paid an
      // isEmpty job plus one stats job per pruned lookup of the same set.
      final case class IdStats(n: Long, hashes: Seq[Long], lo: String, hi: String)
      def statsOf(ids: DataFrame): IdStats = {
        val st = ids.agg(count(lit(1)).as("n"),
          collect_set(xxhash64(col("doc_id"))).as("hs"),
          min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx")).head()
        IdStats(st.getLong(0), st.getSeq[Long](1), st.getString(2), st.getString(3))
      }
      val tStats = statsOf(touched)
      if (tStats.n == 0L) {
        labels.commit(Nil, Set.empty,
          properties = Map(epochKey -> batchId.toString))
        return true
      }
      lap("touched-stats")
      val old = labels.read().select(col("doc_id"), col("cluster_id"))
      val sigsNow = sigCols(sig.read())
      // batch-bounded lake lookup: "rows OF these docs" answered by a
      // bucket- AND zone-PRUNED read (the same pruning the signature merge
      // uses) followed by an exact semi join — O(touched FILES) per call,
      // never a full corpus scan.
      def prunedRowsOf(lake: LakeTable, ids: DataFrame, st: IdStats): DataFrame = {
        val snap = lake.snapshot()
        val zones = Seq(graft.lake.Zone("doc_id",
          lo = Option(st.lo), hi = Option(st.hi)))
        val buckets = st.hashes
          .map(h => java.lang.Math.floorMod(h, snap.numBuckets)).toSet
        lake.read(buckets = Some(buckets), zones = zones)
          .join(broadcast(ids), Seq("doc_id"), "left_semi")
      }
      def sigRowsOf(ids: DataFrame, st: IdStats): DataFrame =
        sigCols(prunedRowsOf(sig, ids, st))
      def labelRowsOf(ids: DataFrame, st: IdStats): DataFrame =
        prunedRowsOf(labels, ids, st).select(col("doc_id"), col("cluster_id"))
      val pinned = scala.collection.mutable.ArrayBuffer[DataFrame]()
      def pin(df: DataFrame): DataFrame = {
        pinned += df
        df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      }
      try {

      // The whole fold below is DELTA-form: both kernels CONSTRUCT the set
      // of rows they change instead of materializing a full next-state
      // label table and discovering the change set by a corpus×corpus
      // FULL OUTER JOIN (which exchanges both sides — the one per-batch
      // corpus SHUFFLE this replaces). Per batch the label table is only
      // ever SCANNED (twice, broadcast-semi), the signature table is read
      // pruned except the one inherent band probe, and every join/cache/
      // temp artifact is O(batch ∪ touched clusters).

      // Every frame below carries `oc` — the doc's CURRENT (pre-batch)
      // label — alongside its proposed new label, so the final write-set
      // is a pure filter (no re-read of the label table to diff against).

      // ---- delete kernel, delta form: the only rows it can change are
      // members (incl. the touched docs themselves) of old clusters
      // containing a touched doc
      val touchedCl = labelRowsOf(touched, tStats).select("cluster_id").distinct()
      val oldMembers = pin(old
        .join(broadcast(touchedCl), Seq("cluster_id"), "left_semi"))
      // survivors re-pair off POST-commit signatures; a touched doc
      // (deleted OR text-changed) leaves first — the merge kernel re-adds
      // it off its new signature's pairs
      val survivors = oldMembers
        .join(broadcast(touched), Seq("doc_id"), "left_anti").select("doc_id")
      val memberSigs = pin(sigRowsOf(survivors, statsOf(survivors)))
      val sub = TextPipeline.propagateLabels(spark, TextPipeline
        .signatureAgreementPairs(memberSigs, memberSigs, "labels_ingest_del"),
        bounded = true)
      // every old member's post-delete row (oc = its pre-batch label);
      // NULL cluster_id = removed (deleted, touched, or left pairless —
      // absent docs read as singletons). LANDED, not persisted: it is a
      // batch-bounded hub frame referenced by four later actions, and a
      // persist leaves every one of them re-PLANNING its full producing
      // tree (label scan + CC + joins) — the land makes them replan from
      // a constant-size scan leaf (same rationale as propagateLabels).
      val delDelta = TextPipeline.landTmp(oldMembers
        .select(col("doc_id"), col("cluster_id").as("oc"))
        .join(sub, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("cluster_id"), col("oc")), "graft-deldelta")
      lap("delete-kernel")

      // ---- merge kernel, delta form: touched docs re-pair against the
      // whole signature table (the band probe over sigsNow is the one
      // inherent corpus-signature pass)
      val touchedSigs = pin(sigRowsOf(touched, tStats))
      // landed for the same lineage-cut reason as delDelta: the band-probe
      // tree (corpus signature scan + broadcast join) would otherwise be
      // re-planned by every downstream action that references the pairs
      val newPairsFrame = TextPipeline.agreementPairsAgainst(
        sigsNow, touchedSigs, "labels_ingest")
      Replay.explain(s"labels-band-probe-batch$batchId", newPairsFrame)
      val newPairs = TextPipeline.landTmp(newPairsFrame, "graft-newpairs")
      val ends = newPairs.select(col("a").as("doc_id"))
        .unionAll(newPairs.select(col("b").as("doc_id"))).distinct()
      // each endpoint's POST-DELETE root: its delete-kernel outcome when
      // it was an old member (dl, with oc along), else its old label
      // (pruned read), else itself
      val endOld = labelRowsOf(ends, statsOf(ends))
        .withColumnRenamed("cluster_id", "ol")
      val roots = pin(ends
        .join(delDelta.select(col("doc_id"), col("cluster_id").as("dl"),
          col("oc").as("moc")), Seq("doc_id"), "left_outer")
        .join(endOld, Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          // moc non-null <=> the endpoint was an old member (oc of a label
          // row is never null), so its post-delete label is dl
          coalesce(when(col("moc").isNotNull, col("dl")).otherwise(col("ol")),
            col("doc_id")).as("root"),
          coalesce(col("moc"), col("ol")).as("oc")))
      val rootEdges = newPairs
        .join(roots.select(col("doc_id").as("a"), col("root").as("ra")), "a")
        .join(roots.select(col("doc_id").as("b"), col("root").as("rb")), "b")
        .select(col("ra").as("a"), col("rb").as("b"))
        .filter(col("a") =!= col("b"))
      // min-label fixpoint over the ROOT graph only (batch-bounded)
      val rootMap = TextPipeline.propagateLabels(spark, rootEdges, bounded = true)
        .select(col("doc_id").as("root"), col("cluster_id").as("new_cl"))
      val changedRoots = rootMap.filter(col("root") =!= col("new_cl"))
      // rows to relabel = post-delete members of merged roots: old rows
      // outside the delete set (the second broadcast-semi label scan)
      // plus delete-kernel outcomes that landed in a merged root
      val chSet = changedRoots.select(col("root").as("cluster_id"))
      val oldInChanged = old
        .join(broadcast(chSet), Seq("cluster_id"), "left_semi")
        .join(broadcast(delDelta.select("doc_id")), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("cluster_id"), col("cluster_id").as("oc"))
      val delInChanged = delDelta.filter(col("cluster_id").isNotNull)
        .join(broadcast(chSet), Seq("cluster_id"), "left_semi")
      val relabeled = oldInChanged.unionAll(delInChanged)
        .join(broadcast(changedRoots), col("cluster_id") === col("root"))
        .select(col("doc_id"), col("new_cl").as("cluster_id"), col("oc"))
      // endpoints land at their (possibly remapped) root; overlapping
      // rows between the two frames agree by construction
      val endNew = roots.join(broadcast(rootMap), Seq("root"), "left_outer")
        .select(col("doc_id"),
          coalesce(col("new_cl"), col("root")).as("cluster_id"), col("oc"))
      val mergeRows = pin(endNew.unionAll(relabeled).dropDuplicates("doc_id"))
      lap("merge-kernel")

      // merge outcomes win over delete outcomes for the same doc; the
      // write-set is then a pure new-vs-current filter, LANDED once (the
      // fold's plan tree is deep and Catalyst re-plans the full tree per
      // action — the write path below runs several)
      val proposed = mergeRows.unionAll(delDelta
        .join(broadcast(mergeRows.select("doc_id")), Seq("doc_id"), "left_anti"))
      val diff = TextPipeline.landTmp(
        proposed.filter(!(col("cluster_id") <=> col("oc")))
          .select(col("doc_id"), col("cluster_id")), "graft-delta")
      lap("diff")
        val lsnap = labels.snapshot()
        val bucketOf = pmod(xxhash64(col("doc_id")), lit(lsnap.numBuckets))
        val statRow = diff.agg(
          collect_set(bucketOf.cast("int")).as("bs"),
          min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx")).head()
        val touchedBuckets = statRow.getSeq[Int](0).toSet
        if (touchedBuckets.isEmpty) {
          labels.commit(Nil, Set.empty,
            properties = Map(epochKey -> batchId.toString))
          return true
        }
        val zones = Seq(graft.lake.Zone("doc_id",
          lo = Option(statRow.getString(1)), hi = Option(statRow.getString(2))))
        val (target, removed) = labels.rewriteSet(lsnap, touchedBuckets, zones)
        val out = target.join(diff.select("doc_id"), Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("cluster_id"))
          .unionAll(diff.filter(col("cluster_id").isNotNull))
          .withColumn("__bucket", bucketOf)
        labels.commit(labels.writeDataFiles(out, lsnap.currentSchemaId),
          removed, properties = Map(epochKey -> batchId.toString))
        lap("merge-write")
        true
      } finally pinned.foreach(_.unpersist(blocking = false))
    } finally touched.unpersist(blocking = false)
    }
  }
}
