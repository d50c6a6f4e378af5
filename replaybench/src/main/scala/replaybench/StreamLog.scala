package replaybench

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.streaming.StreamingQuery

import java.io.File
import java.time.Instant
import scala.io.Source

/** What a finished (or stopped) streaming query tells from outside: its
  * per-trigger progress and the file source's own log of which input file
  * each batch consumed. */
object StreamLog {

  /** One micro-batch: start time and the durations Spark reports (ms). */
  final case class Batch(id: Long, startMs: Long, triggerMs: Long,
                         addBatchMs: Long, walCommitMs: Long) {
    def commitMs: Long = startMs + triggerMs
  }

  def batches(q: StreamingQuery): Seq[Batch] =
    q.recentProgress.toSeq.filter(_.durationMs.containsKey("addBatch")).map { p =>
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      Batch(p.batchId, Instant.parse(p.timestamp).toEpochMilli,
        d("triggerExecution"), d("addBatch"), d("walCommit"))
    }

  private val mapper = new ObjectMapper()

  /** Input file (as a `java.io.File`) -> id of the batch that consumed it,
    * read from `<checkpoint>/sources/0` (plain and compacted log files). */
  def filesByBatch(checkpoint: String): Map[File, Long] = {
    val dir = new File(checkpoint, "sources/0")
    val logs = Option(dir.listFiles()).toSeq.flatten.filterNot(_.getName.startsWith("."))
    logs.flatMap { f =>
      val src = Source.fromFile(f, "UTF-8")
      try src.getLines().drop(1).filter(_.startsWith("{")).map { line =>
        val n = mapper.readTree(line)
        new File(new java.net.URI(n.get("path").asText()).getPath) -> n.get("batchId").asLong()
      }.toList
      finally src.close()
    }.toMap
  }
}
