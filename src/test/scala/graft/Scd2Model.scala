package graft

import graft.lake.LakeTable
import graft.model.ChangeEvent
import graft.operators.History
import org.apache.spark.sql.functions.col

import scala.collection.mutable

/** Sequential SCD2 model of History mode, one event at a time, per the
  * reference's process_history.go semantics: version chaining, soft delete,
  * PK-update close+reinsert, multi-open-version quirk after
  * insert-then-insert. Shared by the specs that check a History target. */
object Scd2Model {

  /** The version rows `events` leave, as strings in [[columns]] order,
    * sorted. */
  def versions(events: Seq[ChangeEvent], mergeKey: Seq[String],
               payloadCols: Seq[String]): Seq[Seq[String]] = {
    case class V(key: Seq[String], var start: String, var end: String,
                 var deleted: Boolean, vals: Map[String, String])
    val rows = mutable.ArrayBuffer[V]()
    def keyOf(ev: ChangeEvent, m: Map[String, String]): Seq[String] =
      mergeKey.map(c => if (c == "sid") ev.sid else m.getOrElse(c, null))
    events.sortBy(e => (e.lsn, e.seq)).foreach { ev =>
      val t = History.histTime(ev.lsn, ev.seq)
      def closeAll(key: Seq[String], del: Boolean): Unit =
        rows.filter(v => v.key == key && v.end == History.KVSZ_OPEN).foreach { v =>
          v.end = t; if (del) v.deleted = true
        }
      ev.op match {
        case "I" =>
          rows += V(keyOf(ev, ev.after), History.KVSZ_T0, History.KVSZ_OPEN, deleted = false, ev.after)
        case "U" if ev.old_kind == "K" =>
          closeAll(keyOf(ev, ev.before), del = false)
          rows += V(keyOf(ev, ev.after), t, History.KVSZ_OPEN, deleted = false, ev.after)
        case "U" =>
          val k = if (ev.old_kind == "O") keyOf(ev, ev.before) else keyOf(ev, ev.after)
          closeAll(k, del = false)
          rows += V(k, t, History.KVSZ_OPEN, deleted = false, ev.after)
        case "D" => closeAll(keyOf(ev, ev.before), del = true)
        case _ =>
      }
    }
    rows.toSeq.map { v =>
      v.key ++ payloadCols.filterNot(mergeKey.contains).map(c => v.vals.getOrElse(c, null)) ++
        Seq(normTs(v.start), normTs(v.end), v.deleted.toString)
    }.sortBy(_.mkString("\u0001"))
  }

  /** Column order of [[versions]] rows. */
  def columns(mergeKey: Seq[String], payloadCols: Seq[String]): Seq[String] =
    mergeKey ++ payloadCols.filterNot(mergeKey.contains) ++
      Seq("kvsz_start", "kvsz_end", "kvsz_deleted")

  /** A History table's version rows in the same form as [[versions]]. */
  def lakeVersions(lake: LakeTable, mergeKey: Seq[String],
                   payloadCols: Seq[String]): Seq[Seq[String]] = {
    val ordered = columns(mergeKey, payloadCols)
    lake.read()
      .select(ordered.map(c => col(c).cast("string").as(c)): _*)
      .collect().toSeq
      .map(r => ordered.indices.map(i => r.getString(i)))
      .sortBy(_.mkString("\u0001"))
  }

  /** Spark renders ".000" millis away; normalize oracle strings the same. */
  private def normTs(s: String): String =
    if (s.endsWith(".000")) s.dropRight(4) else s
}
