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

  /** Catalyst-native batch fold (the twin of Replay.foldToXfDF for SCD2):
    * normalize events to HOp rows via expressions, then one key-partitioned
    * ordered window finds each version's next closer (its kvsz_end /
    * soft-delete flag) and each key's FIRST closer (which ends the
    * target's pre-existing open versions). Returns (newVersions,
    * closeInstructions) DataFrames with `key: array<string>` plus typed
    * payload columns, each consumed once, by the merge's write. */
  private def foldDF(routed: DataFrame, mergeKey: Seq[String]): (DataFrame, DataFrame) = {
    def keyArr(src: Column): Column = array(mergeKey.map(c =>
      if (c == "sid") col("sid") else element_at(src, c)): _*)
    val ordBase = shiftleft(col("lsn"), 20) + col("seq") * 4
    val emptyMap = map().cast("map<string,string>")
    // whole timestamp from lsn seconds + seq milliseconds in ONE interval,
    // so seq >= 1000 rolls into seconds (matches histTime's plusNanos; a
    // string lpad would truncate seq > 999 and break monotonicity)
    val histT = date_format(lit("2001-01-01").cast("timestamp") +
      make_dt_interval(lit(0), lit(0), lit(0),
        (col("lsn") * 1000L + col("seq")).cast("decimal(23,0)") / 1000),
      "yyyy-MM-dd HH:mm:ss.SSS")
    def h(key: Column, sub: Int, kind: String, t: Column, after: Column): Column =
      struct(key.as("key"), (ordBase + sub).as("ord"), lit(kind).as("kind"),
        t.as("t"), after.as("after"))
    val halves =
      when(col("op") === "I",
        array(h(keyArr(col("after")), 1, "I", lit(KVSZ_T0), col("after"))))
      .when(col("op") === "U" && col("old_kind") === "K",
        array(h(keyArr(col("before")), 0, "C", histT, emptyMap),
          h(keyArr(col("after")), 1, "V", histT, col("after"))))
      .when(col("op") === "U",
        array(
          h(when(col("old_kind") === "O", keyArr(col("before")))
            .otherwise(keyArr(col("after"))), 0, "C", histT, emptyMap),
          h(when(col("old_kind") === "O", keyArr(col("before")))
            .otherwise(keyArr(col("after"))), 1, "V", histT, col("after"))))
      .when(col("op") === "D",
        array(h(keyArr(col("before")), 1, "CD", histT, emptyMap)))
    val ops = routed.filter(col("op").isin("I", "U", "D"))
      .select(explode(halves).as("x")).select("x.*")

    // next closer strictly after each row, per key: min struct(ord, t, del)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key")).orderBy(col("ord"))
      .rowsBetween(1, org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val closer = when(col("kind").isin("C", "CD"),
      struct(col("ord").as("o"), col("t").as("ct"),
        (col("kind") === "CD").as("cd")))
    val o = ops.withColumn("nx", min(closer).over(w))
    val versions = o.filter(col("kind").isin("I", "V")).select(
      col("key"),
      when(col("kind") === "I", lit(KVSZ_T0)).otherwise(col("t")).as("kvsz_start"),
      coalesce(col("nx.ct"), lit(KVSZ_OPEN)).as("kvsz_end"),
      coalesce(col("nx.cd"), lit(false)).as("kvsz_deleted"),
      col("after").as("vals"))
    // first closer per key ends the target's pre-existing open versions
    val closes = ops.filter(col("kind").isin("C", "CD"))
      .groupBy(col("key"))
      .agg(min(struct(col("ord").as("o"), col("t").as("ct"),
        (col("kind") === "CD").as("cd"))).as("fc"))
      .select(col("key"), col("fc.ct").as("closeT"), col("fc.cd").as("closeDel"))
    (versions, closes)
  }

  /** History's merge body, run by Replay.applyBatch (which routes,
    * filters, sets and probes first): the SCD2 fold, the close-and-append
    * merge over the probe's `touched` buckets of `snap`, the write, and the
    * shared commit step (Replay.commitMerge). The fold and merge plans are
    * built inside the write phase, whose job runs them. */
  private[operators] def merge(lake: LakeTable, snap: Snapshot, routed: DataFrame,
                               ci: Replay.CommitInfo, touched: Set[Int],
                               batchId: Long, epochKey: String): Unit = {
    // no zones: every version row of a touched key's bucket is rewritten
    val (target, removed) = lake.rewriteSet(snap, touched, Nil)
    val obs = org.apache.spark.sql.Observation(s"graft-hist-$batchId")
    val newFiles = lake.writeDataFiles(mergePlan(snap, routed, target, obs), snap)
    // the write job ran -> the observation is available (an all-empty
    // union observes its sums as null -> 0)
    val m = obs.get.map { case (k, v) =>
      k -> Option(v).map(_.asInstanceOf[Long]).getOrElse(0L) }
    Replay.commitMerge(lake, snap, ci, batchId, epochKey, newFiles, removed, m)
  }

  /** The rows [[merge]] writes, with their `__bucket`: the `target` read
    * with its open versions closed, plus the batch's new versions; the
    * outcome counts go to `obs`. */
  private def mergePlan(snap: Snapshot, routed: DataFrame, target0: DataFrame,
                        obs: org.apache.spark.sql.Observation): DataFrame = {
    val schema = snap.schema
    val mergeKey = (if (snap.hasSid) Seq("sid") else Nil) ++ snap.keyCols

    val (versions, closes0) = foldDF(routed, mergeKey)
    val newTyped = versions.select(schema.fields.map { f =>
      f.name match {
        case "kvsz_start" => col("kvsz_start").cast(TimestampType).as(f.name)
        case "kvsz_end" => col("kvsz_end").cast(TimestampType).as(f.name)
        case "kvsz_deleted" => col("kvsz_deleted").as(f.name)
        case n if mergeKey.contains(n) =>
          element_at(col("key"), mergeKey.indexOf(n) + 1).cast(f.dataType).as(n)
        case n => Replay.castText(element_at(col("vals"), n), f.dataType).as(n)
      }
    }.toIndexedSeq: _*)

    val cdf = closes0.select(
      (mergeKey.zipWithIndex.map { case (c, i) =>
        element_at(col("key"), i + 1).cast(schema(c).dataType).as(s"__k_$c")
      } ++ Seq(col("closeT").cast(TimestampType).as("__closeT"),
        col("closeDel").as("__closeDel"))): _*)

    val target = target0.alias("t")
    val joinCond = mergeKey.map(c => col(s"t.$c") <=> col(s"x.__k_$c")).reduce(_ && _)
    val isOpen = col("t.kvsz_end") === lit(KVSZ_OPEN).cast(TimestampType)
    // Merge-outcome counters observed on the UNION via marker columns
    // (CollectMetrics — no extra pass): pre-existing open versions closed
    // by this batch, soft deletes among them, new version rows — clone-
    // mode parity for the reference's per-op result counters
    // (`streamer/metrics.go:11-53`). ONE observation, attached to a node
    // descending from the target side: inside foreachBatch the batch DF
    // belongs to the micro-batch's cloned session, and an Observation
    // registered there never sees the write (which executes on the lake's
    // session) — two separate observations deadlocked on exactly that.
    val closing = col("x.__closeT").isNotNull && isOpen
    // SHUFFLE_HASH on the batch-bounded close-instruction side (same
    // rationale as Replay.mergeApply: skip both sort legs of the SMJ)
    val updatedTarget = target.join(cdf.alias("x").hint("shuffle_hash"),
        joinCond, "left_outer")
      .select(schema.fields.map { f =>
        f.name match {
          case "kvsz_end" =>
            when(closing, col("x.__closeT"))
              .otherwise(col("t.kvsz_end")).as(f.name)
          case "kvsz_deleted" =>
            when(closing && col("x.__closeDel"),
              lit(true)).otherwise(col("t.kvsz_deleted")).as(f.name)
          case n => col(s"t.$n").as(n)
        }
      }.toIndexedSeq :+ closing.as("__closed") :+
        (closing && col("x.__closeDel")).as("__softdel") :+
        lit(false).as("__isnew"): _*)

    updatedTarget
      .unionByName(newTyped
        .withColumn("__closed", lit(false))
        .withColumn("__softdel", lit(false))
        .withColumn("__isnew", lit(true)))
      .observe(obs,
        sum(when(col("__closed"), 1L).otherwise(0L)).as("closed"),
        sum(when(col("__softdel"), 1L).otherwise(0L)).as("soft_deleted"),
        sum(when(col("__isnew"), 1L).otherwise(0L)).as("inserted"))
      .drop("__closed", "__softdel", "__isnew")
      .withColumn("__bucket", LakeTable.bucketOf(snap))
  }
}
