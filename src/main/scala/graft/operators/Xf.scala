package graft.operators

/** Associative row-state transformer — the algebraic core of the CDC apply.
  *
  * The reference applies change events one at a time, in LSN order, against
  * the destination row (`streamer/process_clone.go`):
  *   - INSERT ... ON CONFLICT DO NOTHING (`process_clone.go:195`):
  *       absent -> row(after); present -> unchanged
  *   - UPDATE ... WHERE key (`process_clone.go:216-272`):
  *       absent -> absent (0 rows affected); present -> override the columns
  *       present in `after` (unchanged-TOAST columns are simply omitted,
  *       `process_message.go:67-72`)
  *   - DELETE ... WHERE key (`process_clone.go:274-315`):
  *       any -> absent
  *
  * Each event is therefore a function state -> state over the domain
  * {Absent} ∪ Rows. The composition of any contiguous run of events closes
  * over a small representation:
  *
  *   - `onAbsent`: what an initially-absent row becomes
  *       (ABSENT, or a concrete row)
  *   - behaviour on an initially-present row, one of
  *       OVERRIDE(m)  — merge map m over the existing row
  *       TO_ABSENT    — the row ends up deleted
  *       TO_ROW(m)    — the row's identity was wiped (a D occurred) and it
  *                      ends up as the concrete row m
  *
  * Composition of these representations is closed and **associative**
  * (XfSpec: any contiguous segmentation folds to the same transformer) and
  * bit-identical to the reference's sequential apply. It is NOT
  * commutative: segments must be composed in (lsn, seq) order.
  *
  * This is the executable spec of the engine's one fold,
  * `Replay.foldToXfDF`, which computes the same per-key transformer with
  * Catalyst aggregates; CoverageSpec checks the two agree row by row.
  *
  * Maps use the ChangeEvent text encoding: key absent = column untouched,
  * key -> null = genuine SQL NULL.
  */
final case class Xf(
    absentExists: Boolean, // onAbsent = if (absentExists) Row(onAbsent) else ABSENT
    onAbsent: Map[String, String],
    presentKind: Int, // Xf.OVERRIDE | Xf.TO_ABSENT | Xf.TO_ROW
    onPresent: Map[String, String]) {

  import Xf._

  /** Apply to a concrete state (None = absent). Used by the oracle,
    * property tests, and the merge-apply expressions mirror this logic. */
  def apply(state: Option[Map[String, String]]): Option[Map[String, String]] =
    state match {
      case None => if (absentExists) Some(onAbsent) else None
      case Some(row) => presentKind match {
        case OVERRIDE => Some(row ++ onPresent)
        case TO_ABSENT => None
        case TO_ROW => Some(onPresent)
      }
    }

  /** Sequential composition: `this` first, then `g`. Associative. */
  def andThen(g: Xf): Xf = {
    val (absentExists2, onAbsent2) =
      if (!absentExists) (g.absentExists, g.onAbsent)
      else g.apply(Some(onAbsent)) match {
        case Some(r) => (true, r)
        case None => (false, EMPTY)
      }
    val (kind2, onPresent2) = presentKind match {
      case TO_ABSENT =>
        if (g.absentExists) (TO_ROW, g.onAbsent) else (TO_ABSENT, EMPTY)
      case TO_ROW =>
        g.apply(Some(onPresent)) match {
          case Some(r) => (TO_ROW, r)
          case None => (TO_ABSENT, EMPTY)
        }
      case OVERRIDE => g.presentKind match {
        case TO_ABSENT => (TO_ABSENT, EMPTY)
        case TO_ROW => (TO_ROW, g.onPresent)
        case OVERRIDE => (OVERRIDE, onPresent ++ g.onPresent)
      }
    }
    Xf(absentExists2, onAbsent2, kind2, onPresent2)
  }
}

object Xf {
  val OVERRIDE = 0
  val TO_ABSENT = 1
  val TO_ROW = 2
  private val EMPTY: Map[String, String] = Map.empty

  /** Identity transformer (empty event run). */
  val identity: Xf = Xf(absentExists = false, EMPTY, OVERRIDE, EMPTY)

  /** Lift one event to a transformer. */
  def insert(after: Map[String, String]): Xf =
    Xf(absentExists = true, after, OVERRIDE, EMPTY) // conflict -> do nothing
  def update(after: Map[String, String]): Xf =
    Xf(absentExists = false, EMPTY, OVERRIDE, after) // absent -> no-op
  def delete: Xf =
    Xf(absentExists = false, EMPTY, TO_ABSENT, EMPTY)

  def ofOp(op: String, after: Map[String, String]): Xf = op match {
    case "I" => insert(after)
    case "U" => update(if (after == null) EMPTY else after)
    case "D" => delete
    case other => throw new IllegalArgumentException(s"not a DML op: $other")
  }

  /** Fold an (lsn, seq)-ordered run of events into one transformer. */
  def fold(ops: Iterator[(String, Map[String, String])]): Xf =
    ops.foldLeft(identity) { case (acc, (op, after)) => acc.andThen(ofOp(op, after)) }
}
