package graft.streaming

import graft.obs.Phases
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Streaming observability (A3): a StreamingQueryListener that records
  * each trigger's `durationMs` entries (triggerExecution, addBatch,
  * walCommit, ...) in [[Phases]] under [[Phases.Stream]], where
  * `/metrics` renders them with the micro-batch count — the engine-level
  * heartbeat the reference exposes as Prometheus gauges
  * (`streamer/metrics.go:40-53`). Query start and termination are logged
  * to stderr. */
final class ProgressLog extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    System.err.println(s"[graft-stream] started ${e.name} id=${e.id}")
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    e.progress.durationMs.forEach((phase, ms) =>
      Phases.record(Phases.Stream, phase, ms * 1000000L))
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    System.err.println(s"[graft-stream] terminated id=${e.id} " +
      s"error=${e.exception.getOrElse("none")}")
}

object ProgressLog {
  private val attached =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, ProgressLog]())

  /** Attach one listener per session (idempotent). */
  def attach(spark: SparkSession): ProgressLog =
    attached.synchronized {
      Option(attached.get(spark)).getOrElse {
        val l = new ProgressLog
        spark.streams.addListener(l)
        attached.put(spark, l)
        l
      }
    }
}
