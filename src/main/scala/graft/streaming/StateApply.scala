package graft.streaming

import graft.model.ChangeEvent
import graft.operators.{Replay, Xf}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** State-store-backed CDC apply: the reference's row-at-a-time semantics
  * (`streamer/process_clone.go` — insert-if-absent, merge-if-present with
  * unchanged-TOAST, delete) expressed through Structured Streaming's
  * keyed state (`flatMapGroupsWithState`) instead of the lake merge join.
  *
  * This is the complementary execution strategy to `Replay.applyBatch`:
  * the lake merge is the set-oriented/batch path (bounded output files,
  * time travel, exactly-once snapshot commits); the state store is the
  * low-latency path — per-key state lives in the checkpointed state store
  * and every micro-batch emits only the keys it touched (update output
  * mode), so a downstream consumer sees per-key upserts immediately
  * without rereading table state.
  *
  * Scale shape: one shuffle per micro-batch on the merge key (the same
  * exchange the fold path pays); state is partitioned across executors by
  * the state-store provider, hot keys cost one state row each. Cross-batch
  * order is the stream's file order (lsn-contiguous WAL segments);
  * intra-batch order is restored by sorting each key's ops by `ord` —
  * together per-key apply order matches the reference's single worker per
  * table (`worker.go:106-108`).
  *
  * Deleted keys keep a tombstone (exists = false) so consumers can pick
  * "latest emission per key" safely; `tombstoneTtl` bounds that state at
  * delete-heavy scale. Eviction uses EVENT-TIME timeouts on an
  * LSN-derived clock (1 LSN = 1 second past 2001-01-01, the same logical
  * clock History uses): a tombstone expires once the stream's watermark —
  * max LSN seen — passes deleteLsn + ttl. Deterministic (no wall clock in
  * the replay path, unlike ProcessingTimeTimeout, which additionally
  * never lets a Trigger.AvailableNow drain terminate — Spark keeps
  * scheduling no-data batches to service wall-clock timers). Because
  * emissions carry the globally monotone `ord` (not a per-state counter),
  * a key re-inserted AFTER its tombstone evicted still wins the max-ord
  * pick. Requires the WAL property the file source already guarantees:
  * LSNs do not regress across segments.
  *
  * Delivery: the STATE is exactly-once (checkpointed with the stream), but
  * update-mode emissions replay on crash between sink write and checkpoint
  * commit — pair with an idempotent downstream (keyed upsert, or the lake
  * writer's epoch check) exactly as the reference pairs at-least-once
  * delivery with ON CONFLICT DO NOTHING.
  */
object StateApply {

  /** Checkpointed per-key state: current row (empty when deleted/absent)
    * plus the max applied op `ord` — globally monotone (lsn-derived), so
    * it survives tombstone eviction, unlike a per-state counter. */
  final case class KeyState(exists: Boolean, row: Map[String, String],
                            ord: Long)

  /** One update-mode emission: the key's state after this micro-batch.
    * Consumers pick the max-`ord` emission per key as the latest. */
  final case class Emit(key: String, exists: Boolean, ord: Long,
                        row: Map[String, String])

  val KeySep = ""

  /** Epoch millis of the LSN logical clock: 2001-01-01T00:00Z + lsn
    * seconds (History.histTime's base). */
  val LsnEpochBaseMs = 978307200000L
  @inline def lsnMs(lsn: Long): Long = LsnEpochBaseMs + lsn * 1000L

  /** Year-3000 sentinel for de-arming a stale timer (no clearTimeout API). */
  private val FarFutureMs = 32503680000000L

  /** Apply one key's micro-batch slice onto its state: the slice's ops,
    * in ord order, folded to one [[Xf]] — EXACTLY the reference per-row
    * rules (see Oracle.replay): I inserts if absent, U column-merges if
    * present (absent keys in `after` = unchanged TOAST), D removes
    * (absent tolerated). A timed-out tombstone is evicted silently. */
  private def applyOps(key: String, it: Iterator[Replay.KeyedOp],
                       state: GroupState[KeyState],
                       ttl: Option[java.time.Duration]): Iterator[Emit] = {
    if (state.hasTimedOut) {
      if (state.getOption.exists(_.exists))
        // stale timer: the key was re-inserted after its tombstone armed
        // the timer (there is no clearTimeout API) — keep the live row and
        // push the timer out of the way
        state.setTimeoutTimestamp(FarFutureMs)
      else
        state.remove() // expired tombstone: drop the state row
      return Iterator.empty
    }
    val sorted = it.toArray.sortBy(_.ord)
    val prev = state.getOption
    val row = Xf.fold(sorted.iterator.map(o => (o.op, o.after)))(
      prev.filter(_.exists).map(_.row))
    val ord = math.max(prev.map(_.ord).getOrElse(Long.MinValue),
      sorted.last.ord)
    state.update(KeyState(row.isDefined, row.getOrElse(Map.empty), ord))
    // only tombstones age out; a live key never times out. The timeout is
    // on the LSN clock: expire once the watermark (max lsn seen) passes
    // maxLsn(this key) + ttl
    if (row.isEmpty) ttl.foreach { d =>
      val at = lsnMs(sorted.map(_.lsn).max) + d.toMillis
      // never set a timer at/behind the watermark (Spark rejects it): the
      // already-expired tombstone evicts on the next batch's sweep instead
      val wm = state.getCurrentWatermarkMs()
      state.setTimeoutTimestamp(math.max(at, wm + 1))
    }
    Iterator.single(Emit(key, row.isDefined, ord, row.getOrElse(Map.empty)))
  }

  /** Normalize a change-event stream (PK-updates split, replica-identity
    * keys extracted — Replay.normalizeDF) and fold it through keyed state;
    * returns the update-mode emission stream. Works on a streaming OR
    * batch Dataset (flatMapGroupsWithState is supported on both; on batch
    * it degenerates to a single "micro-batch").
    *
    * @param tombstoneTtl evict a deleted key's tombstone this much
    *                     LSN-derived event time after the delete (1 LSN =
    *                     1 second — Duration.ofSeconds(n) means "n LSNs
    *                     later"); None = keep forever (bounded-delete
    *                     workloads / batch mode) */
  def stream(events: Dataset[ChangeEvent], mergeKey: Seq[String],
             appendMode: Boolean = false,
             tombstoneTtl: Option[java.time.Duration] = None): Dataset[Emit] = {
    val spark = events.sparkSession
    import spark.implicits._
    // Tombstone TTL needs the event-time watermark, which the analyzer
    // eliminates for batch plans — getCurrentWatermarkMs/setTimeoutTimestamp
    // would then throw on the first deleted key, deep inside the state
    // function. Fail fast with an actionable message instead.
    require(events.isStreaming || tombstoneTtl.isEmpty,
      "tombstoneTtl requires a streaming Dataset (event-time timers need a " +
        "watermark, which batch plans do not carry); pass tombstoneTtl = " +
        "None for batch input — a one-shot batch has no cross-batch state " +
        "to bound")
    val normalized = Replay.normalizeDF(events.toDF(), mergeKey, appendMode)
      .as[Replay.KeyedOp]
    val (keyed, timeout) = tombstoneTtl match {
      case None => (normalized, GroupStateTimeout.NoTimeout())
      case Some(_) =>
        // LSN-clock watermark drives the tombstone timers; the extra
        // column is plan metadata only (the typed rows stay KeyedOp)
        (normalized.toDF()
          .withColumn("__evt",
            org.apache.spark.sql.functions.timestamp_seconds(
              org.apache.spark.sql.functions.col("lsn") + LsnEpochBaseMs / 1000L))
          .withWatermark("__evt", "0 seconds")
          .as[Replay.KeyedOp],
          GroupStateTimeout.EventTimeTimeout())
    }
    keyed
      .groupByKey(_.key.map(k => if (k == null) "" else k).mkString(KeySep))
      .flatMapGroupsWithState(OutputMode.Update(), timeout)(
        (key: String, it: Iterator[Replay.KeyedOp], st: GroupState[KeyState]) =>
          applyOps(key, it, st, tombstoneTtl))
  }
}
