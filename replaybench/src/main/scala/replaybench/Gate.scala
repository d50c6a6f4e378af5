package replaybench

import graft.gen.Gen
import graft.lake.LakeTable
import graft.model.{ChangeEvent, TableMapping, Transcripts}
import graft.operators.{History, LabelStore, SignatureStore}
import graft.verify.Oracle
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import scala.collection.mutable

/** The benchmark's correctness gate. Each check returns the mismatches it
  * found (empty = pass); any mismatch fails the run.
  *
  * The oracle side never reads the engine's output: events are regenerated
  * with the pure `Gen.mkEvent`, and only a fixed hash sample of
  * conversations is compared. PK updates stay inside a conversation, so
  * the sample is closed under the events that touch it. */
object Gate {

  private val Shown = 5
  private val keyCols = Seq("conv_id", "turn_idx")
  private val payload = Transcripts.schema.fieldNames.toSeq

  /** One conversation in eight, chosen by a hash of the seed. */
  def sampled(seed: Long, convId: String): Boolean =
    (Gen.mix(seed ^ convId.hashCode.toLong) & 7L) == 0L

  def convOf(e: ChangeEvent): String =
    Option(e.after).flatMap(_.get("conv_id"))
      .orElse(Option(e.before).flatMap(_.get("conv_id"))).orNull

  private def rows(df: DataFrame, cols: Seq[String]): Seq[Seq[String]] =
    df.select(cols.map(c => col(c).cast("string").as(c)): _*).collect().toSeq
      .map(r => cols.indices.map(r.getString))

  private def inSample(lake: LakeTable, convs: Set[String]): DataFrame =
    lake.read().filter(col("conv_id").isin(convs.toSeq: _*))

  private def diff(what: String, got: Seq[Seq[String]],
                   want: Seq[Seq[String]]): Seq[String] = {
    def bag(xs: Seq[Seq[String]]) = xs.groupBy(identity).view.mapValues(_.size).toMap
    val (g, w) = (bag(got), bag(want))
    val extra = g.collect { case (r, n) if n > w.getOrElse(r, 0) => s"$what: unexpected row $r" }
    val missing = w.collect { case (r, n) if n > g.getOrElse(r, 0) => s"$what: missing row $r" }
    (missing ++ extra).toSeq.sorted.take(Shown)
  }

  /** Clone target == `Oracle.replay` on the sampled conversations. */
  def cloneTarget(lake: LakeTable, events: Seq[ChangeEvent],
                  mapping: TableMapping, convs: Set[String]): Seq[String] = {
    val want = Oracle.canonical(
      Oracle.replay(events.filter(e => convs(convOf(e))), Transcripts.spec(), mapping),
      payload).map(_._2)
    diff(s"clone ${mapping.target}", rows(inSample(lake, convs), payload), want)
  }

  /** History target == the sequential SCD2 model of the documented history
    * semantics (`graft.operators.History`): every version row, open or
    * closed, with its validity interval and soft-delete flag. */
  def historyTarget(lake: LakeTable, events: Seq[ChangeEvent],
                    mapping: TableMapping, convs: Set[String]): Seq[String] = {
    val cols = payload ++ Seq("kvsz_start", "kvsz_end", "kvsz_deleted")
    diff(s"history ${mapping.target}", rows(inSample(lake, convs), cols),
      scd2(events.filter(e => mapping.matches(e.source_table) && convs(convOf(e)))))
  }

  /** The SCD2 model: I appends an open version from 1900-01-01; U closes
    * every open version of its (old, for a key change) key and appends a
    * new one, TOAST-omitted columns NULL; D closes and soft-deletes. */
  def scd2(events: Seq[ChangeEvent]): Seq[Seq[String]] = {
    final case class V(key: Seq[String], start: String, var end: String,
                       var deleted: Boolean, vals: Map[String, String])
    val versions = mutable.ArrayBuffer[V]()
    def key(m: Map[String, String]) = keyCols.map(m.getOrElse(_, null))
    events.sortBy(e => (e.lsn, e.seq)).foreach { e =>
      val t = History.histTime(e.lsn, e.seq)
      def closeAll(k: Seq[String], del: Boolean): Unit =
        versions.filter(v => v.key == k && v.end == History.KVSZ_OPEN)
          .foreach { v => v.end = t; v.deleted = del }
      e.op match {
        case "I" => versions += V(key(e.after), History.KVSZ_T0, History.KVSZ_OPEN, false, e.after)
        case "U" =>
          closeAll(if (e.old_kind == "none") key(e.after) else key(e.before), del = false)
          versions += V(key(e.after), t, History.KVSZ_OPEN, false, e.after)
        case "D" => closeAll(key(e.before), del = true)
        case _ =>
      }
    }
    def ts(s: String) = if (s.endsWith(".000")) s.dropRight(4) else s
    versions.toSeq.map(v => payload.map(v.vals.getOrElse(_, null)) ++
      Seq(ts(v.start), ts(v.end), v.deleted.toString))
  }

  /** Signature and label companions == their from-scratch rebuilds off the
    * final tables (`SignatureStore.bootstrap`, `LabelStore.bootstrap`). */
  def companions(doc: LakeTable, sig: LakeTable, labels: LakeTable,
                 scratch: String): Seq[String] = {
    val spark = doc.spark
    val sig2 = LakeTable.create(spark, s"$scratch/signatures", SignatureStore.spec())
    SignatureStore.bootstrap(sig2, doc, "text", force = true)
    val lbl2 = LakeTable.create(spark, s"$scratch/labels", LabelStore.spec())
    LabelStore.bootstrap(lbl2, sig, force = true)
    val sigCols = SignatureStore.schema.fieldNames.toSeq
    val lblCols = LabelStore.schema.fieldNames.toSeq
    diff("signatures", rows(sig.read(), sigCols), rows(sig2.read(), sigCols)) ++
      diff("labels", rows(labels.read(), lblCols), rows(lbl2.read(), lblCols))
  }
}
