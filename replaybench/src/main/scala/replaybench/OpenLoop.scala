package replaybench

/** Open-loop accounting: each input unit (pgoutput chunk or WAL segment
  * file) is due at a scheduled time; its lag is the commit time of the
  * batch that applied it minus that SCHEDULED time, so a generator that
  * ran late, or a stall that delayed later drops, shows in the lag rather
  * than hiding in it. */
object OpenLoop {

  /** The schedule of a fixed-rate generator: unit k is due at
    * `startMs + k * periodMs`. */
  def schedule(startMs: Long, periodMs: Double, units: Int): IndexedSeq[Long] =
    (0 until units).map(k => startMs + math.round(k * periodMs))

  /** Lag in seconds of every unit that was applied.
    * @param scheduledMs unit -> due time (ms since epoch)
    * @param batchOf     unit -> id of the batch that consumed it
    * @param commitMs    batch id -> commit time of that batch (ms) */
  def lags(scheduledMs: Map[String, Long], batchOf: Map[String, Long],
           commitMs: Map[Long, Long]): Map[String, Double] =
    scheduledMs.flatMap { case (unit, due) =>
      batchOf.get(unit).flatMap(commitMs.get).map(c => unit -> (c - due) / 1000.0)
    }

  /** How late the generator dropped each unit, in seconds (never negative). */
  def lateness(scheduledMs: Map[String, Long],
               droppedMs: Map[String, Long]): Map[String, Double] =
    droppedMs.map { case (unit, at) =>
      unit -> math.max(0L, at - scheduledMs(unit)) / 1000.0
    }

  /** Largest number of units dropped but not yet consumed at the start of
    * any batch: the queue the engine ran behind. */
  def backlogMax(droppedMs: Map[String, Long], batchOf: Map[String, Long],
                 batchStartMs: Map[Long, Long]): Int =
    if (batchStartMs.isEmpty) 0
    else batchStartMs.toSeq.map { case (b, start) =>
      droppedMs.count { case (unit, at) =>
        at <= start && batchOf.get(unit).forall(_ >= b)
      }
    }.max
}
