package graft

import graft.operators.Xf
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** The Xf algebra must reproduce the reference's sequential per-row apply
  * (insert-on-conflict-do-nothing / update-if-present-with-TOAST-override /
  * delete) under ANY contiguous segmentation. Xf is the executable spec of
  * the engine's fold (CoverageSpec checks `Replay.foldToXfDF` against it).
  * Properties checked with seeded random event runs (deterministic). */
class XfSpec extends AnyFunSuite {

  type Ev = (String, Map[String, String])

  private val cols = Seq("role", "text", "tool")

  private def randVal(r: Random): String =
    if (r.nextInt(4) == 0) null else r.alphanumeric.take(5).mkString

  private def randAfter(r: Random, full: Boolean): Map[String, String] = {
    val present = if (full) cols else cols.filter(_ => r.nextBoolean())
    present.map(c => c -> randVal(r)).toMap
  }

  private def randEvent(r: Random): Ev = r.nextInt(10) match {
    case 0 | 1 | 2 => ("I", randAfter(r, full = true)) // inserts: full tuple
    case 3 | 4 | 5 | 6 | 7 => ("U", randAfter(r, full = false)) // TOAST omits
    case _ => ("D", Map.empty[String, String])
  }

  /** Reference semantics, applied one event at a time. */
  private def sequentialApply(state: Option[Map[String, String]],
                              evs: List[Ev]): Option[Map[String, String]] =
    evs.foldLeft(state) {
      case (None, ("I", m)) => Some(m)
      case (s @ Some(_), ("I", _)) => s // ON CONFLICT DO NOTHING
      case (None, ("U", _)) => None // 0 rows affected
      case (Some(row), ("U", m)) => Some(row ++ m) // TOAST: only present cols
      case (_, ("D", _)) => None
      case (s, (op, _)) => throw new MatchError(s"$op $s")
    }

  test("fold == sequential apply, from absent and from present (1000 runs)") {
    val r = new Random(42)
    for (_ <- 1 to 1000) {
      val evs = List.fill(r.nextInt(12))(randEvent(r))
      val row = randAfter(r, full = true)
      val xf = Xf.fold(evs.iterator)
      assert(xf(None) == sequentialApply(None, evs), s"absent: $evs")
      assert(xf(Some(row)) == sequentialApply(Some(row), evs), s"present: $evs")
    }
  }

  test("composition over any contiguous segmentation equals full fold") {
    val r = new Random(7)
    for (_ <- 1 to 1000) {
      val evs = List.fill(r.nextInt(16))(randEvent(r))
      val row = randAfter(r, full = true)
      val full = Xf.fold(evs.iterator)
      val segSize = 1 + r.nextInt(5)
      val composed = evs.grouped(segSize)
        .map(s => Xf.fold(s.iterator))
        .foldLeft(Xf.identity)(_ andThen _)
      assert(composed(None) == full(None), s"absent: $evs seg=$segSize")
      assert(composed(Some(row)) == full(Some(row)), s"present: $evs seg=$segSize")
    }
  }

  test("associativity: (f andThen g) andThen h == f andThen (g andThen h)") {
    val r = new Random(99)
    for (_ <- 1 to 2000) {
      val Seq(f, g, h) = Seq.fill(3)(randEvent(r)).map(e => Xf.ofOp(e._1, e._2))
      val row = randAfter(r, full = true)
      val l = (f andThen g) andThen h
      val rr = f andThen (g andThen h)
      assert(l(None) == rr(None))
      assert(l(Some(row)) == rr(Some(row)))
    }
  }

  test("delete barrier: column values set before a delete do not survive") {
    val evs = List[Ev](
      ("I", Map("role" -> "user", "text" -> "a", "tool" -> null)),
      ("U", Map("text" -> "b")),
      ("D", Map.empty),
      ("I", Map("role" -> "asst", "text" -> "c", "tool" -> "t")))
    val xf = Xf.fold(evs.iterator)
    assert(xf(None) == Some(Map("role" -> "asst", "text" -> "c", "tool" -> "t")))
  }

  test("update before any insert is a no-op (reference 0-rows-affected)") {
    val xf = Xf.fold(Iterator(("U", Map("text" -> "x"))))
    assert(xf(None).isEmpty)
    assert(xf(Some(Map("text" -> "orig"))) == Some(Map("text" -> "x")))
  }

  test("genuine NULL (key -> null) overrides, absent key keeps (TOAST)") {
    val start = Some(Map("role" -> "user", "text" -> "big", "tool" -> "t"))
    val xf = Xf.fold(Iterator(("U", Map("tool" -> (null: String)))))
    assert(xf(start) == Some(Map("role" -> "user", "text" -> "big", "tool" -> null)))
  }
}
