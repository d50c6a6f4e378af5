package graft.operators

import graft.lake.LakeTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Initial full sync (S4) — the batch analog of the reference's
  * `COPY source -> COPY dest` pipe (`streamer/full_sync.go:74-152`), run
  * when a target table is first attached (reference: when the replication
  * slot is created, `replicate_database.go:220-235`).
  *
  * Semantics preserved from `full_sync.go:104-135` / `process_clone.go:
  * 19-36`:
  *   - projection to the destination schema, intersect-don't-fail: source
  *     columns absent in the target are dropped, target columns absent in
  *     the source become NULL;
  *   - `kvsz_*` history columns are never copied from the source; history
  *     targets get an open initial version (start=1900, end=9999);
  *   - `sid` tenant discriminator injected when the target carries one.
  *
  * One narrow scan + bucket-clustered write; no shuffle besides the write
  * clustering. The LSN floor for subsequent streaming is recorded in the
  * snapshot properties (the analog of createReplicationSlot's consistent
  * point).
  *
  * Pacing (the reference's token-bucket full-sync rate limit,
  * `full_sync.go:39-50`, `config.go:97-98`): with [[Pacing]] set, the copy
  * is split into bucket-group chunks of at most `maxRowsPerCommit` rows
  * (one oversized bucket may exceed it — buckets are the atomic unit),
  * each committed separately, with an optional rows/sec sleep between
  * commits so a 100 TB initial sync does not monopolize the shared
  * cluster. Chunk progress is recorded as `<propKey>-chunks-done`, so a
  * crashed sync resumes AFTER the last committed chunk instead of
  * duplicating it (chunking is deterministic for a stable source
  * snapshot — the same stability the reference's single-txn COPY needs).
  */
object Backfill {

  /** @param maxRowsPerCommit per-commit row bound (bucket-group chunks)
    * @param rowsPerSec       average-throughput cap: sleep after each chunk
    *                         so cumulative rate stays at or under it
    * @param abortAfterChunks fault-injection/ops hook: stop (without the
    *                         completion property) after N chunk commits */
  final case class Pacing(maxRowsPerCommit: Long,
                          rowsPerSec: Option[Long] = None,
                          abortAfterChunks: Int = Int.MaxValue)

  def initialSync(lake: LakeTable, source: DataFrame, sid: Option[String] = None,
                  lsnFloor: Long = 0L, propKey: String = "full-sync",
                  pacing: Option[Pacing] = None): Unit = {
    val snap = lake.snapshot()
    val schema = snap.schema
    val srcCols = source.columns.toSet
    val projected = source.select(schema.fields.toIndexedSeq.map { f =>
      f.name match {
        case "sid" if snap.hasSid && sid.isDefined => lit(sid.get).as("sid")
        case "kvsz_start" => lit(History.KVSZ_T0).cast(f.dataType).as(f.name)
        case "kvsz_end" => lit(History.KVSZ_OPEN).cast(f.dataType).as(f.name)
        case "kvsz_deleted" => lit(false).as(f.name)
        case n if srcCols.contains(n) => col(n).cast(f.dataType).as(n)
        case n => lit(null).cast(f.dataType).as(n)
      }
    }: _*)
    val withBucket = projected.withColumn("__bucket", LakeTable.bucketOf(snap))
    val doneProps = Map(
      propKey -> "true",
      "lsn-high-watermark" -> math.max(lsnFloor,
        snap.properties.getOrElse("lsn-high-watermark", "-1").toLong).toString)

    pacing match {
      case None =>
        val files = lake.writeDataFiles(withBucket, snap)
        lake.commit(files, Set.empty, properties = doneProps)

      case Some(p) =>
        // greedy bucket-group chunking from the per-bucket histogram (one
        // tiny agg): deterministic for a stable source, so chunk i always
        // holds the same buckets across a crash/resume
        val counts = withBucket.groupBy("__bucket").count()
          .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
        val chunks = scala.collection.mutable.ArrayBuffer[Seq[Long]]()
        var cur = scala.collection.mutable.ArrayBuffer[Long]()
        var curRows = 0L
        counts.foreach { case (b, n) =>
          if (cur.nonEmpty && curRows + n > p.maxRowsPerCommit) {
            chunks += cur.toSeq; cur = scala.collection.mutable.ArrayBuffer[Long]()
            curRows = 0L
          }
          cur += b; curRows += n
        }
        if (cur.nonEmpty) chunks += cur.toSeq
        val already = lake.snapshot().properties
          .getOrElse(s"$propKey-chunks-done", "0").toInt
        val rowsOf = counts.toMap
        chunks.zipWithIndex.drop(already).foreach { case (bs, i) =>
          if (i - already >= p.abortAfterChunks)
            return // simulated crash / operator stop: resumable via progress
          val t0 = System.nanoTime()
          val part = withBucket.filter(col("__bucket").isin(bs: _*))
          val files = lake.writeDataFiles(part, snap)
          val isLast = i == chunks.size - 1
          lake.commit(files, Set.empty, properties =
            Map(s"$propKey-chunks-done" -> (i + 1).toString) ++
              (if (isLast) doneProps else Map.empty))
          // token-bucket analog: hold average throughput <= rowsPerSec
          p.rowsPerSec.filter(_ > 0).foreach { r =>
            val rows = bs.map(rowsOf).sum
            val minNs = rows * 1000000000L / r
            val left = minNs - (System.nanoTime() - t0)
            if (!isLast && left > 0) Thread.sleep(left / 1000000L)
          }
        }
    }
  }
}
