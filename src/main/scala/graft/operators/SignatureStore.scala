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
  * plus the zone-pruned files of the touched signature buckets — never the
  * corpus text.
  *
  * The plan is the doc merge's (`Replay`), keyed by `doc_id` ([[docKey]]):
  * one probe (the `stats` phase: touched buckets, the doc_id zone and the
  * applied watermark; a batch with no DML commits the epoch alone), then
  * one bucket-partitioned window pass over the touched signature rows and
  * the batch's ops together (`Replay.keyedPass`; no join). Keys whose text
  * the pass leaves unchanged keep their hashes; the rest are re-signed.
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
  * as `Replay.applyBatch` (`Replay.prelude`), on the signature table's
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

  /** The key function of the signature and label companions: the
    * `struct(doc_id)` of an event of a doc table keyed by `mergeKey`, read
    * off its value map `src` (`Replay.keyPart`) — the key `Replay.probe`
    * and `Replay.normalizeBy` take. */
  private[graft] def docKey(mergeKey: Seq[String]): Column => Column = src =>
    struct(docIdCol(mergeKey.map(Replay.keyPart(src, _))).as("doc_id"))

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
    val docs = docLake.readAt(dsnap).select(
      docIdCol(dsnap.mergeKey.map(col)).as("doc_id"),
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
    * table. `docLake` supplies the doc table's merge key and env schema,
    * so routing, filter, set and the per-key fold mirror the main route
    * exactly; `textCol` is the pass's one payload column.
    * Returns true if applied (false = epoch already covers batchId). */
  def applyBatch(sig: LakeTable, events: Dataset[ChangeEvent],
                 mapping: TableMapping, docLake: LakeTable,
                 textCol: String = "text", batchId: Long,
                 epochKey: String = "commit-epoch"): Boolean = {
    lazy val docSnap = docLake.snapshot()
    // one signature manifest per batch: the probe, the rewrite set and the
    // commit all use it
    val (snap, batch) =
      Replay.prelude(sig, events, mapping, batchId, epochKey)(_ => docSnap.schema) match {
        case Some(b) => b
        case None => return false
      }
    val appendMode = mapping.mode == TableMode.Append
    val keyOf = docKey(docSnap.mergeKey)
    val p = Phases.run(sig, "stats")(Replay.probe(snap, batch, appendMode, batchId, keyOf))
    p.ci match {
      case None =>
        sig.commit(Nil, Set.empty, properties = Map(epochKey -> batchId.toString))
      case Some(ci) =>
        // the target read + the files the commit removes, one rewrite set
        // (zone-pruned, self-compacting past the file cap, like the doc merge)
        val files = sig.rewriteSet(snap, p.touched, p.zones)
        val untouched = col("op") === "T"
        val sigExists = col("tRow").isNotNull
        val toAbsent = col("presentKind") === lit(Xf.TO_ABSENT)
        val toRow = col("presentKind") === lit(Xf.TO_ROW)
        val pHas = map_contains_key(col("onPresent"), textCol)
        // survives iff: untouched, or folded state exists
        val survives = untouched || when(sigExists, !toAbsent).otherwise(col("absentExists"))
        // needs re-signing iff the folded state DEFINES the text:
        //   TO_ROW (row replaced), new row (insert), or OVERRIDE carrying text
        val resign = !untouched && (toRow || !sigExists || pHas)
        val newText = when(toRow || (sigExists && pHas), element_at(col("onPresent"), textCol))
          .otherwise(element_at(col("onAbsent"), textCol))
        // both halves read the pass: persist it once. The pass, the
        // signing and the union are planned inside the write phase
        var rows: DataFrame = null
        try {
          sig.commit(sig.writeDataFiles({
            rows = Replay.keyedPass(snap, sig.scan(snap, files), batch, appendMode, keyOf,
                Seq(textCol))
              .filter(survives)
              .select(col("key.doc_id").as("doc_id"), resign.as("__resign"),
                newText.as("__text"), col("tRow").as("__old"))
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            val keep = rows.filter(!col("__resign")).select("__old.*")
            val signed = signaturesOf(rows.filter(col("__resign"))
              .select(col("doc_id"), col("__text").as("text")), uniqueIds = true)
            keep.unionByName(signed).withColumn("__bucket", LakeTable.bucketOf(snap))
          }, snap), files.map(_.path).toSet,
            properties = Map(epochKey -> batchId.toString,
              Replay.appliedOrd(snap, epochKey, ci.maxOrd)), base = Some(snap))
        } finally if (rows != null) rows.unpersist()
    }
    true
  }
}
