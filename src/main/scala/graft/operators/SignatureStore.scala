package graft.operators

import graft.lake.LakeTable
import graft.model.{ChangeEvent, TableMapping, TableMode, TableSpec}
import graft.obs.Phases
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Near-dup signature tables maintained BY the CDC ingest loop — the
  * composition that lets dedup ride continuous ingest instead of
  * re-scanning the corpus (SURVEY §2.7 X13): as each micro-batch merges
  * into a text-bearing lake table, the batch's per-key folded text upserts
  * MinHash signatures + a SimHash fingerprint into a companion signatures
  * lake table, so `TextPipeline.dedupAgainstSignatures` /
  * `dedupSimhashAgainstFps` can dedup a newly-arrived batch against corpus
  * SIGNATURES only. Steady-state cost per batch: the delta's text once,
  * plus the touched signature buckets — never the corpus text.
  *
  * Signature semantics under the CDC fold (all oracle-checked by
  * SignatureStoreSpec):
  *   - net insert / delete-then-insert (TO_ROW): sign the folded row's
  *     text (NULL text -> a row with NULL hashes, keeping row-existence
  *     1:1 with the target table);
  *   - update carrying text (OVERRIDE with text present): re-sign;
  *   - unchanged-TOAST update (OVERRIDE, text ABSENT from the value map):
  *     keep the existing hashes — the text did not change, so re-reading
  *     the target row to recompute an identical signature would be waste;
  *   - net delete (TO_ABSENT): drop the signature row.
  *
  * Exactly-once: the same commit-epoch skip and applied-watermark floor
  * as `Replay.applyBatch` (`Replay.aboveApplied`), on the signature table's
  * own snapshot — the signature route replays independently of the main
  * route after a crash between the two commits or a lost checkpoint, and a
  * re-sent event applies once.
  */
object SignatureStore {

  val K: Int = TextPipeline.MinhashK

  /** doc_id = the doc table's merge key rendered to ONE string. A
    * single-column key passes through verbatim; a multi-part key uses a
    * length-prefixed encoding -- "len:value" per part, "n" for NULL --
    * which is uniquely decodable for ANY content (Postgres text can carry
    * every code point except U+0000, so NO separator join is
    * collision-free: ("a<sep>b","c") and ("a","b<sep>c") would collide
    * for whatever <sep> we picked). */
  def docIdCol(parts: Seq[Column]): Column =
    if (parts.size == 1) parts.head.cast("string")
    else concat(parts.map { p0 =>
      val str = p0.cast("string")
      when(str.isNull, lit("n"))
        .otherwise(concat(length(str).cast("string"), lit(":"), str))
    }: _*)

  def schema: StructType = StructType(
    StructField("doc_id", StringType, nullable = false) +:
      ((0 until K).map(k => StructField(s"h$k", StringType, nullable = true)) :+
        StructField("fp", LongType, nullable = true)))

  def spec(name: String = "signatures", numBuckets: Int = 16): TableSpec =
    TableSpec(name, schema, keyCols = Seq("doc_id"), bucketCols = Seq("doc_id"),
      numBuckets = numBuckets)

  /** MinHash + SimHash signatures for a (doc_id, text) frame. LEFT joins
    * keep a row for every doc — a doc with no shingles/words (short or
    * NULL text) carries NULL hashes, so signature-row existence stays 1:1
    * with doc existence and NULL band keys never produce candidates.
    * The ingest loop computes BOTH families (the one-table artifact); a
    * caller rebuilding a stand-in table for one query may disable the
    * family it will not read (the disabled columns stay in the schema as
    * NULLs).
    * @param uniqueIds caller PROMISES one row per doc_id (a per-key fold
    *                  output or a keyed table read): the row-preserving
    *                  id frame then skips its distinct — one exchange
    *                  less on the per-micro-batch re-sign path. */
  def signaturesOf(docs: DataFrame, minhash: Boolean = true,
                   simhash: Boolean = true,
                   uniqueIds: Boolean = false): DataFrame = {
    val base = docs.select(col("doc_id"), col("text"))
    val ids =
      if (uniqueIds) base.select("doc_id") else base.select("doc_id").distinct()
    val withMh =
      if (minhash) ids.join(TextPipeline.minhashSignatures(base),
        Seq("doc_id"), "left_outer")
      else ids.select(col("doc_id") +:
        (0 until K).map(k => lit(null).cast("string").as(s"h$k")): _*)
    if (simhash) withMh.join(TextPipeline.simhashSignatures(base),
      Seq("doc_id"), "left_outer")
    else withMh.withColumn("fp", lit(null).cast("long"))
  }

  /** Backfill the signature table from the DOC TABLE's current state — the
    * full-sync analog for signatures: covers (a) `"signatures": true`
    * turned on after the target already holds data, and (b) a vanished /
    * recreated signatures table under a live checkpoint (whose epoch skip
    * would otherwise leave the gap permanent). One corpus text scan;
    * records `signatures-bootstrap = <doc snapshot version>` so it runs
    * once, and the doc snapshot's applied watermarks
    * (`Replay.appliedOrdsFrom`), so the signature table replays exactly
    * what the doc table does. Caller holds the signature table's lock. */
  def bootstrap(sig: LakeTable, docLake: LakeTable,
                textCol: String = "text", force: Boolean = false): Boolean = {
    val ssnap = sig.snapshot()
    if (!force && ssnap.properties.contains("signatures-bootstrap")) return false
    val dsnap = docLake.snapshot()
    val mergeKey = (if (dsnap.hasSid) Seq("sid") else Nil) ++ dsnap.keyCols
    val docs = docLake.readAt(dsnap).select(
      docIdCol(mergeKey.map(col)).as("doc_id"),
      col(textCol).as("text"))
    val rows = signaturesOf(docs, uniqueIds = true)
      .withColumn("__bucket", LakeTable.bucketOf(ssnap))
    sig.commit(sig.writeDataFiles(rows, ssnap),
      ssnap.files.map(_.path).toSet,
      properties = Replay.appliedOrdsFrom(dsnap, ssnap) +
        ("signatures-bootstrap" -> dsnap.version.toString), base = Some(ssnap))
    true
  }

  /** Apply one micro-batch of change events for `mapping` to the signature
    * table. `docLake` supplies the doc table's merge key and env schema so
    * routing/filter/set and the per-key fold mirror the main route
    * exactly; only the `textCol` column is folded (a one-column fold — far
    * cheaper than the full-row fold the main merge pays).
    * Returns true if applied (false = epoch already covers batchId). */
  def applyBatch(sig: LakeTable, events: Dataset[ChangeEvent],
                 mapping: TableMapping, docLake: LakeTable,
                 textCol: String = "text", batchId: Long,
                 epochKey: String = "commit-epoch"): Boolean = {
    val spark = events.sparkSession
    Replay.tuneSession(spark)
    // one signature manifest per batch: the epoch check, the rewrite set
    // and the write all read this snapshot
    val snap = sig.snapshot()
    val committed = snap.properties.getOrElse(epochKey, "-1").toLong
    if (batchId <= committed) return false

    val docSnap = docLake.snapshot()
    val mergeKey = (if (docSnap.hasSid) Seq("sid") else Nil) ++ docSnap.keyCols
    val envSchema = mapping.sourceSchema.getOrElse(docSnap.schema)
    val routed = Replay.aboveApplied(events, snap, epochKey)
      .filter(Replay.routeCond(mapping))
    val transformed = Replay.filterTransform(routed, mapping, envSchema)
      .filter(col("op").isin("I", "U", "D"))
    val appendMode = mapping.mode == TableMode.Append

    // one-column fold: per doc key, the net effect on (existence, text)
    val folded = Replay.foldToXfDF(
      Replay.normalizeDF(transformed.toDF(), mergeKey, appendMode),
      payloadCols = Seq(textCol))
    // emptiness is read off the stats row below (empty bucket set) — a
    // separate isEmpty probe would execute the whole fold a second time
    val f = folded.select(
      docIdCol((0 until mergeKey.length).map(i =>
        element_at(col("key"), i + 1))).as("doc_id"),
      col("maxOrd"), col("absentExists"), col("presentKind"),
      map_contains_key(col("onAbsent"), textCol).as("a_has"),
      element_at(col("onAbsent"), textCol).as("a_txt"),
      map_contains_key(col("onPresent"), textCol).as("p_has"),
      element_at(col("onPresent"), textCol).as("p_txt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // ONE stats pass yields the touched buckets AND the batch's doc_id
      // bounds — zone predicates on the signature read, mirroring
      // Replay.probe: a narrow-key batch (incremental steady state)
      // prunes whole signature files inside touched buckets instead of
      // rewriting every file of every touched bucket per micro-batch
      // (which at 10^10 docs would rewrite nearly the whole companion
      // table per batch). doc_id is the rendered merge key: a NULL single-
      // column key renders to NULL doc_id, so the null flag drops the zone
      // (stats don't cover nulls — same soundness rule as the doc merge).
      // The batch's max op ord is the applied watermark the commit advances.
      val statRow = Phases.run(sig, "stats")(f.agg(
        collect_set(LakeTable.bucketOf(snap).cast("int")).as("bs"),
        min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"),
        max(col("doc_id").isNull.cast("int")).as("nl"),
        count(lit(1)).as("n"), max(col("maxOrd")).as("ord")).head())
      if (statRow.getLong(4) == 0L) { // empty fold: advance the epoch only
        sig.commit(Nil, Set.empty,
          properties = Map(epochKey -> batchId.toString))
        return true
      }
      val touched = statRow.getSeq[Int](0).toSet
      val zones: Seq[graft.lake.Zone] =
        if (touched.isEmpty || statRow.getInt(3) != 0) Nil
        else Seq(graft.lake.Zone("doc_id",
          lo = Option(statRow.getString(1)), hi = Option(statRow.getString(2))))
      // the target read + the files the commit removes, one rewrite set
      // (self-compacting past the file cap, like the doc merge)
      val files = sig.rewriteSet(snap, touched, zones)

      // SHUFFLE_HASH on the batch-bounded fold: building its per-partition
      // hash table is safe, and the full-outer join then skips both sort
      // legs of the default SMJ
      val j = sig.scan(snap, files).alias("t").join(f.alias("x").hint("shuffle_hash"),
        col("t.doc_id") <=> col("x.doc_id"), "full_outer")
      val fNull = col("x.presentKind").isNull
      val sigExists = col("t.doc_id").isNotNull
      val toAbsent = col("x.presentKind") === lit(Xf.TO_ABSENT)
      val toRow = col("x.presentKind") === lit(Xf.TO_ROW)
      // survives iff: untouched, or folded state exists
      val survives = fNull ||
        (when(sigExists, !toAbsent).otherwise(col("x.absentExists")))
      // needs re-signing iff the folded state DEFINES the text:
      //   TO_ROW (row replaced), new row (insert), or OVERRIDE carrying text
      val resign = !fNull && (toRow || !sigExists || col("x.p_has"))
      val newText = when(toRow || (sigExists && col("x.p_has")), col("x.p_txt"))
        .otherwise(col("x.a_txt"))
      val rows = j.filter(survives).select(
        coalesce(col("t.doc_id"), col("x.doc_id")).as("doc_id"),
        resign.as("__resign"), newText.as("__text"),
        struct((0 until K).map(k => col(s"t.h$k")) :+ col("t.fp"): _*).as("__old"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val keep = rows.filter(!col("__resign"))
          .select(col("doc_id") +: ((0 until K).map(k =>
            col("__old").getField(s"h$k").as(s"h$k")) :+
            col("__old").getField("fp").as("fp")): _*)
        val signed = signaturesOf(rows.filter(col("__resign"))
          .select(col("doc_id"), col("__text").as("text")), uniqueIds = true)
        val out = keep.unionByName(signed)
          .withColumn("__bucket", LakeTable.bucketOf(snap))
        val newFiles = sig.writeDataFiles(out, snap)
        sig.commit(newFiles, files.map(_.path).toSet,
          properties = Map(epochKey -> batchId.toString,
            Replay.appliedOrd(snap, epochKey, statRow.getLong(5))), base = Some(snap))
        true
      } finally rows.unpersist()
    } finally f.unpersist()
  }
}
