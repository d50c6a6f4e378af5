package graft.verify

import graft.model.{ChangeEvent, TableMapping, TableMode, TableSpec}

import scala.collection.mutable

/** Sequential in-memory replayer with the reference's exact per-row apply
  * semantics (`streamer/process_clone.go`), used as the correctness oracle:
  * the distributed engine's final table must equal this fold of the same
  * event log — the analog of the reference test suite's source-query ≡
  * dest-query golden equivalence (`test/testsuite/00-common.robot:74-121`).
  *
  * Semantics per event, applied in (lsn, seq) order:
  *   I: absent -> row(after); present -> unchanged (ON CONFLICT DO NOTHING)
  *   U: absent -> no-op (0 rows affected); present -> override the columns
  *      present in `after` (omitted = unchanged-TOAST)
  *   U old_kind=K: delete(old key) + insert(after) — see Replay.normalizeDF
  *      for the documented divergence on incomplete streams
  *   U old_kind=O: key taken from the old whole-row tuple
  *   D: remove; absent -> tolerated no-op (reference logs drift)
  *   append mode: deletes dropped;  R/T: no row effect
  */
object Oracle {

  type Key = Seq[String]
  type RowMap = Map[String, String]

  def replay(events: Seq[ChangeEvent], spec: TableSpec,
             mapping: TableMapping,
             filterFn: Option[RowMap => Boolean] = None,
             setFn: Option[RowMap => RowMap] = None): mutable.LinkedHashMap[Key, RowMap] = {
    val mergeKey = spec.mergeKey
    val state = mutable.LinkedHashMap[Key, RowMap]()
    def keyOf(sid: String, m: RowMap): Key =
      mergeKey.map(c => if (c == "sid") sid else m.getOrElse(c, null))

    val ordered = events
      .filter(e => mapping.matches(e.source_table))
      .sortBy(e => (e.lsn, e.seq))

    ordered.foreach { ev =>
      val env = if (ev.op == "D") ev.before else ev.after
      val keep = filterFn.forall(f => ev.op == "R" || ev.op == "T" || f(env))
      if (keep) {
        // sid injection (P4, process_clone.go:172-177): the tenant
        // discriminator column materializes in the stored row
        def inj(m: RowMap): RowMap =
          if (spec.hasSid && (ev.op == "I" || ev.op == "U")) m + ("sid" -> ev.sid) else m
        val after = inj(setFn match {
          case Some(s) if ev.op == "I" || ev.op == "U" => s(ev.after)
          case _ => ev.after
        })
        val before = setFn match {
          case Some(s) if (ev.op == "U" || ev.op == "D") && ev.old_kind != "none" =>
            s(ev.before)
          case _ => ev.before
        }
        ev.op match {
          case "I" =>
            val k = keyOf(ev.sid, after)
            if (!state.contains(k)) state(k) = after
          case "U" if ev.old_kind == "K" =>
            state.remove(keyOf(ev.sid, before))
            val k = keyOf(ev.sid, after)
            if (!state.contains(k)) state(k) = after
          case "U" =>
            val k = if (ev.old_kind == "O") keyOf(ev.sid, before)
                    else keyOf(ev.sid, after)
            state.get(k).foreach(row => state(k) = row ++ after)
          case "D" if mapping.mode != TableMode.Append =>
            state.remove(keyOf(ev.sid, before))
          case _ => // D in append mode, R, T
        }
      }
    }
    state
  }

  /** Canonical comparable view: rows keyed by merge key, values restricted
    * to the given schema columns, ordered by key (stable (conv_id,
    * turn_idx) ordering — the BASELINE.json correctness gate). */
  def canonical(state: mutable.LinkedHashMap[Key, RowMap],
                columns: Seq[String]): Seq[(Key, Seq[String])] =
    state.toSeq
      .map { case (k, row) => (k, columns.map(c => row.getOrElse(c, null))) }
      .sortBy(_._1.map(s => if (s == null) "" else s).mkString("\u0001"))
}
