package graft.operators

import graft.lake.{LakeTable, Snapshot}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SCD2 "history" table mode (`streamer/process_history.go`, reference docs
  * `040-streaming-modes.md:40-111`): every change appends a validity-
  * interval version row with `kvsz_start`, `kvsz_end`, `kvsz_deleted`.
  *
  * Faithful semantics (incl. the reference's quirks):
  *   - INSERT appends an open version with kvsz_start = 1900-01-01
  *     (`process_message.go:254-256`) and closes nothing — two open
  *     versions can coexist after insert-then-insert.
  *   - UPDATE closes ALL open versions of the key (kvsz_end = t), then
  *     appends a new open version with kvsz_start = t — unconditionally,
  *     even if nothing was open (`process_history.go:56-89`). An omitted
  *     (unchanged-TOAST) column is NULL in the new version, not carried
  *     over (insertHistory binds only the present values).
  *   - PK-update (old=K) closes the OLD key's open versions and appends
  *     the new version under the NEW key.
  *   - DELETE sets kvsz_deleted = true + kvsz_end = t on open versions
  *     (soft delete, no new row) (`process_history.go:91-130`).
  *
  * Documented divergence: the reference stamps wall-clock `now()`
  * (non-reproducible); we derive t deterministically from (lsn, seq) so
  * replay is verifiable — same shape, reproducible values.
  *
  * Entry point: `Replay.applyBatch` with a History-mode mapping. It routes,
  * filters and sets once for every mode, probes the batch once
  * (`Replay.probe`: commit bookkeeping and touched buckets before any fold
  * is planned), and dispatches here only for the SCD2 fold and merge body
  * ([[merge]]), which commits through the same `Replay.commitMerge` step
  * as clone mode.
  */
object History {

  val KVSZ_OPEN = "9999-01-01 00:00:00"
  val KVSZ_T0 = "1900-01-01 00:00:00"

  /** kvsz_* columns appended to the payload schema for history targets. */
  def historySchema(payload: StructType): StructType = StructType(
    payload.fields.toSeq ++ Seq(
      StructField("kvsz_start", TimestampType, nullable = false),
      StructField("kvsz_end", TimestampType, nullable = false),
      StructField("kvsz_deleted", BooleanType, nullable = false)))

  /** Deterministic logical time for an event: 2001-01-01 + lsn seconds
    * + seq milliseconds (monotone in (lsn, seq)). */
  def histTime(lsn: Long, seq: Int): String = {
    val base = java.time.LocalDateTime.of(2001, 1, 1, 0, 0, 0)
    val t = base.plusSeconds(lsn).plusNanos(seq.toLong * 1000000L)
    t.format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
  }

  /** The batch's SCD2 ops (the twin of Replay.normalizeDF): each event
    * as `key` (the typed merge key `keys`, `Replay.typedKey`), `ord`,
    * `op` (I insert, V new version, C close, CD soft-delete close), `t`
    * (its logical time) and `after` (its value map). */
  private def opsDF(routed: DataFrame, keys: Seq[(String, DataType)]): DataFrame = {
    val keyOf: Column => Column = Replay.typedKey(keys)
    val ordBase = shiftleft(col("lsn"), 20) + col("seq") * 4
    val emptyMap = map().cast("map<string,string>")
    // whole timestamp from lsn seconds + seq milliseconds in ONE interval,
    // so seq >= 1000 rolls into seconds (matches histTime's plusNanos; a
    // string lpad would truncate seq > 999 and break monotonicity)
    val histT = date_format(lit("2001-01-01").cast("timestamp") +
      make_dt_interval(lit(0), lit(0), lit(0),
        (col("lsn") * 1000L + col("seq")).cast("decimal(23,0)") / 1000),
      "yyyy-MM-dd HH:mm:ss.SSS")
    def h(key: Column, sub: Int, op: String, t: Column, after: Column): Column =
      struct(key.as("key"), (ordBase + sub).as("ord"), lit(op).as("op"),
        t.as("t"), after.as("after"))
    val halves =
      when(col("op") === "I",
        array(h(keyOf(col("after")), 1, "I", lit(KVSZ_T0), col("after"))))
      .when(col("op") === "U" && col("old_kind") === "K",
        array(h(keyOf(col("before")), 0, "C", histT, emptyMap),
          h(keyOf(col("after")), 1, "V", histT, col("after"))))
      .when(col("op") === "U",
        array(
          h(when(col("old_kind") === "O", keyOf(col("before")))
            .otherwise(keyOf(col("after"))), 0, "C", histT, emptyMap),
          h(when(col("old_kind") === "O", keyOf(col("before")))
            .otherwise(keyOf(col("after"))), 1, "V", histT, col("after"))))
      .when(col("op") === "D",
        array(h(keyOf(col("before")), 1, "CD", histT, emptyMap)))
    routed.filter(col("op").isin("I", "U", "D"))
      .select(explode(halves).as("x")).select("x.*")
  }

  /** History's merge body, run by Replay.applyBatch (which routes,
    * filters, sets and probes first): the SCD2 close-and-append pass
    * ([[mergePlan]]) over the probe's `touched` buckets of `snap`, the
    * write, and the shared commit step (Replay.commitMerge). The pass's
    * plan is not rebuilt per batch: the batch and the target scan are
    * bound into the table's analyzed plan (`Replay.bound`) inside the
    * write phase, whose job runs them. */
  private[operators] def merge(lake: LakeTable, snap: Snapshot, routed: DataFrame,
                               ci: Replay.CommitInfo, touched: Set[Int],
                               batchId: Long, epochKey: String): Unit = {
    // no zones: every version row of a touched key's bucket is rewritten
    val files = lake.rewriteSet(snap, touched, Nil)
    lazy val (plan, obs) = Replay.bound(lake, "history", snap, routed,
      lake.scan(snap, files), appendMode = false)(mergePlan(snap, _, _))
    val newFiles = lake.writeDataFiles(plan, snap)
    // the write job ran -> the observation is available (an empty pass
    // observes its sums as null -> 0)
    val m = obs.get.map { case (k, v) =>
      k -> Option(v).map(_.asInstanceOf[Long]).getOrElse(0L) }
    Replay.commitMerge(lake, snap, ci, batchId, epochKey, newFiles,
      files.map(_.path).toSet, m)
  }

  /** The rows [[merge]] writes, with their `__bucket`, from ONE
    * key-partitioned, ord-sorted window pass over the `target` read and
    * the batch's ops together (`Replay.withTargetRows`). Target rows enter
    * as op T ahead of every op; each row's next closer (min struct(ord, t,
    * del) over the rows after it) is then, for a target row, the key's
    * FIRST closer — which ends the pre-existing open versions — and, for a
    * new version, its own kvsz_end / soft-delete flag. Two copies of one
    * event in the batch write one version. No join, no aggregation, and
    * one exchange (on the bucket, which the write reuses). The outcome
    * counts are observed as `graft-hist`. */
  private def mergePlan(snap: Snapshot, routed: DataFrame, target: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val schema = snap.schema
    val keys = Replay.keyTypes(snap)
    val mergeKey = keys.map(_._1)

    val rows = Replay.withTargetRows(snap, target, opsDF(routed, keys))
    val closer = when(col("op").isin("C", "CD"),
      struct(col("ord").as("o"), col("t").as("ct"), (col("op") === "CD").as("cd")))
    val after = Window.partitionBy(col("__bucket"), col("key")).orderBy(col("ord"))
      .rowsBetween(1, Window.unboundedFollowing)
    // copies of one event (a chunk sent twice) share an ord and sort next
    // to each other: a new version is written once, from its last copy
    val o = rows.select(col("*"), min(closer).over(after).as("nx"),
        min(col("ord")).over(after).as("next"))
      .filter(col("op") === "T" ||
        col("op").isin("I", "V") && !(col("next") <=> col("ord")))

    val isT = col("op") === "T"
    val closeT = col("nx.ct").cast(TimestampType)
    val closing = isT && col("nx").isNotNull &&
      col("row.kvsz_end") === lit(KVSZ_OPEN).cast(TimestampType)
    // Merge-outcome counters observed on the pass itself (CollectMetrics —
    // no extra pass): pre-existing open versions closed by this batch,
    // soft deletes among them, new version rows — clone-mode parity for
    // the reference's per-op result counters (`streamer/metrics.go:11-53`).
    // ONE observation, whose Observation the lake's session holds (the
    // template is built there, Replay.bound): inside foreachBatch the
    // batch DF belongs to the micro-batch's cloned session, and an
    // Observation registered there never sees the write (which executes
    // on the lake's session) — two separate observations deadlocked on
    // exactly that.
    o.observe("graft-hist",
        sum(when(closing, 1L).otherwise(0L)).as("closed"),
        sum(when(closing && col("nx.cd"), 1L).otherwise(0L)).as("soft_deleted"),
        sum(when(isT, 0L).otherwise(1L)).as("inserted"))
      .select(schema.fields.map { f =>
        val v = f.name match {
          case "kvsz_start" =>
            when(col("op") === "I", lit(KVSZ_T0)).otherwise(col("t")).cast(TimestampType)
          case "kvsz_end" => coalesce(col("nx.ct"), lit(KVSZ_OPEN)).cast(TimestampType)
          case "kvsz_deleted" => coalesce(col("nx.cd"), lit(false))
          case n if mergeKey.contains(n) => col("key").getField(n)
          case n => Replay.castText(element_at(col("after"), n), f.dataType)
        }
        val kept = f.name match {
          case "kvsz_end" => when(closing, closeT).otherwise(col("row.kvsz_end"))
          case "kvsz_deleted" =>
            when(closing && col("nx.cd"), lit(true)).otherwise(col("row.kvsz_deleted"))
          case n => col("row").getField(n)
        }
        when(isT, kept).otherwise(v).as(f.name)
      }.toIndexedSeq :+ col("__bucket"): _*)
  }
}
