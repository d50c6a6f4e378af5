package graft.streaming

import graft.lake.LakeTable
import graft.model.{ChangeEvent, TableMapping, TableMode}
import graft.operators.Replay
import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured Streaming ingestion: the Spark analog of the reference's
  * replication loop (`streamer/replicate_database.go:237-338`).
  *
  *   - The file source over the event-log directory plays the replication
  *     slot: the checkpoint offset is the ack LSN (the reference acks the
  *     source only after the destination commit, `worker.go:135-165`; here
  *     the checkpoint advances only after `foreachBatch` returns, i.e.
  *     after the lake snapshot commit).
  *   - Checkpoint I/O: the offsets, commits and sources logs are written
  *     by Spark's `FileSystemBasedCheckpointFileManager` through the
  *     session's `fs.file.impl` (graft.lake.BareLocalFileSystem), so
  *     writing them forks no `chmod`/`readlink` process and leaves no
  *     `.crc` files. Every engine checkpoint is a local path.
  *   - `maxFilesPerTrigger` plays the commit_delay batching knob (W9,
  *     `worker.go:61-104`) and the full-sync rate limit (A2).
  *   - Exactly-once: every table — target, signature and label — drops
  *     the events at or below its own committed applied watermark
  *     (`applied-ord-<epochKey>`, `Replay.aboveApplied`) and advances it in
  *     the same commit, so an event applies once whichever batch carries
  *     it: a batch replayed after a crash between the lake commit and the
  *     checkpoint commit, WAL re-sent by the server, or the whole WAL
  *     replayed after a lost checkpoint. The epoch check (commit-epoch
  *     snapshot property) skips a replayed batch before it is read. This
  *     is the idempotent-replay analog of `ON CONFLICT DO NOTHING`
  *     (`process_clone.go:195`). `Replay.applyBatch` is the one per-batch
  *     entry for every table mode, history included: it dispatches on the
  *     mapping's mode itself.
  *   - One stream fans out to many table mappings (the reference's
  *     multi-table map, `streamer/map.go`): each target table carries its
  *     own epoch, so a crash between two tables' commits in one batch also
  *     replays safely.
  *   - Concurrency inside a batch: the routes split once, at start, into
  *     groups that share no table root (target, signature or label
  *     table). Each batch applies the groups concurrently, one thread per
  *     group, and a group's routes in declared order — the analog of the
  *     reference giving each table its own worker while all ops of one
  *     table go to ONE worker (`worker.go:106-120`). Routes that share a
  *     root therefore stay sequential (two mappings into one target: the
  *     later-declared route's values win, as before). The batch returns
  *     only after every group has ended, and then rethrows the first
  *     group's failure as thrown. A failed group's siblings may already
  *     have committed; on replay their epoch check skips the batch, the
  *     same contract as a crash between two routes. A stream with one
  *     group applies it on the stream's own thread, as it always did.
  *   - MULTIPLE streams (one per source URL, Orchestrator) may fan into
  *     one target: applies serialize on a per-table-root lock — the exact
  *     analog of the reference routing all ops of one table to ONE worker
  *     (`worker.go:106-108`) — and each stream uses its own epoch property
  *     key, so idempotent-replay bookkeeping never collides across
  *     sources.
  */
object CdcStream {

  /** Companion signatures table maintained per applied micro-batch (the
    * ingest half of incremental dedup — SignatureStore). */
  /** @param labels optional duplicate-cluster label table folded forward
    *               AFTER the signature commit (LabelStore reads the
    *               post-commit signature rows); it keeps its own epoch and
    *               applied watermark on its own snapshot, so a crash
    *               between any two of the three commits replays exactly the
    *               missing halves */
  final case class SignatureSink(lake: LakeTable, textCol: String = "text",
                                 labels: Option[LakeTable] = None)

  /** @param sidOverride stamp every event with this tenant sid (the
    *                    reference assigns the sid per source URL in config,
    *                    `map.go:17-43` — it is NOT wire data)
    * @param epochKey    snapshot-property key for this stream's
    *                    exactly-once epoch (per-source to survive fan-in)
    * @param signatures  optional near-dup signature table updated from the
    *                    same batch after the main merge; it keeps its own
    *                    epoch and applied watermark on its own snapshot, so
    *                    a crash between the two commits replays only the
    *                    missing half */
  final case class Route(mapping: TableMapping, lake: LakeTable,
                         sidOverride: Option[String] = None,
                         epochKey: String = "commit-epoch",
                         signatures: Option[SignatureSink] = None)

  /** One lock per table root: cross-stream applies to one lake serialize
    * (single-writer commit protocol; see class doc). Shared with the
    * orchestrator so an initial full sync for a later URL cannot commit
    * concurrently with an earlier URL's already-running stream. */
  private val tableLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  // graft-wide: maintenance (Main) and admin endpoints serialize against
  // live stream applies on the same lock
  private[graft] def lockFor(root: String): Object =
    tableLocks.computeIfAbsent(root, _ => new Object)

  /** Lock-serialized snapshot vacuum for one table root — the ONE
    * implementation behind the admin endpoint and Main's maintenance loop
    * (two copies of the lock discipline would inevitably diverge).
    * @return (expired manifests, reclaimed data files) */
  private[graft] def vacuumUnderLock(spark: SparkSession, root: String,
                                     retainVersions: Int): (Int, Int) =
    lockFor(root).synchronized {
      LakeTable.load(spark, root).vacuum(retainVersions = retainVersions)
    }

  /** Lock-serialized bucket compaction for one table root (see
    * [[vacuumUnderLock]]). @return buckets compacted */
  private[graft] def compactUnderLock(spark: SparkSession, root: String,
                                      maxFilesPerBucket: Int): Int =
    lockFor(root).synchronized {
      LakeTable.load(spark, root).compact(maxFilesPerBucket = maxFilesPerBucket)
    }

  private val forkIds = new java.util.concurrent.atomic.AtomicLong()

  /** A task that runs on its own thread on behalf of the thread that
    * forked it. The thread is created by the caller, so it inherits the
    * caller's Spark local properties (job group, streaming batch id,
    * query id) and active session: its jobs belong to the caller's batch
    * and a query stop cancels them. They also carry a job tag of their
    * own, which [[cancel]] uses to stop this task without touching the
    * caller's job group. */
  private[graft] final class Forked[T] private[CdcStream] (
      sc: SparkContext, name: String, body: () => T) {
    private val tag = s"$name-${forkIds.incrementAndGet()}"
    @volatile private var outcome: Either[Throwable, T] = _
    private val thread = new Thread(() => outcome =
      try { sc.addJobTag(tag); Right(body()) } catch { case t: Throwable => Left(t) },
      name)
    thread.setDaemon(true)
    thread.start()

    /** Wait for the task and return its value or its failure as thrown.
      * If the waiting thread is interrupted, the task is cancelled first. */
    def result(): Either[Throwable, T] = {
      try thread.join()
      catch { case e: InterruptedException => cancel(); throw e }
      outcome
    }

    /** The task's value; its failure is rethrown unwrapped. */
    def join(): T = result().fold(t => throw t, identity)

    /** Interrupt the task, wait until its thread has ended and cancel the
      * jobs it left running; its outcome is dropped. Cancelling after the
      * thread ended also catches a job it submitted as it was stopping. */
    def cancel(): Unit = {
      thread.interrupt()
      var interrupted = false
      while (thread.isAlive)
        try thread.join() catch { case _: InterruptedException => interrupted = true }
      sc.cancelJobsWithTag(tag)
      if (interrupted) Thread.currentThread().interrupt()
    }
  }

  /** Start `body` on a new thread that carries the calling thread's Spark
    * context (see [[Forked]]). */
  private[graft] def fork[T](sc: SparkContext, name: String)(body: => T): Forked[T] =
    new Forked(sc, name, () => body)

  /** Wait for every task, then rethrow the first failure in `forks` order
    * (later ones are attached as suppressed). */
  private[graft] def joinAll(forks: Seq[Forked[Unit]]): Unit = {
    val failures =
      try forks.flatMap(_.result().left.toOption)
      catch { case e: InterruptedException => forks.foreach(_.cancel()); throw e }
    failures.headOption.foreach { first =>
      failures.tail.foreach(first.addSuppressed)
      throw first
    }
  }

  /** The table roots a route writes: its target and, outside History mode,
    * its companion tables. */
  private def rootsOf(r: Route): Set[String] =
    (r.lake.root +: r.signatures.filter(_ => r.mapping.mode != TableMode.History)
      .toSeq.flatMap(s => s.lake.root +: s.labels.map(_.root).toSeq))
      .map(LakeTable.rootKey).toSet

  /** `routes` split into groups that share no table root; each group keeps
    * declared order, and groups are ordered by their first route. */
  private[graft] def routeGroups(routes: Seq[Route]): Seq[Seq[Route]] =
    routes.indices.foldLeft(Vector.empty[(Set[String], Vector[Int])]) { (gs, i) =>
      val roots = rootsOf(routes(i))
      val (joined, apart) = gs.partition(_._1.exists(roots))
      apart :+ ((joined.flatMap(_._1).toSet ++ roots,
        (joined.flatMap(_._2) :+ i).sorted))
    }.map(_._2).sortBy(_.head).map(_.map(routes))

  /** @param format "parquet" (WAL-shaped parquet event log, default) or
    *               "pgoutput" (self-contained pgoutput chunk files decoded
    *               by graft.sources.PgOutput — same checkpoint-as-ack
    *               contract, each chunk file is one source unit) */
  def start(spark: SparkSession,
            eventLogGlob: String,
            checkpointDir: String,
            routes: Seq[Route],
            maxFilesPerTrigger: Int = 1,
            trigger: Trigger = Trigger.AvailableNow(),
            format: String = "parquet"): StreamingQuery = {
    import spark.implicits._
    ProgressLog.attach(spark)
    // the offsets, commits and sources logs go through the session's
    // `fs.file.impl` (BareLocalFileSystem on every graft session), not
    // Hadoop's LocalFs, which forks `chmod` per created file and
    // `readlink` per rename and writes `.crc` shadow files
    spark.conf.set("spark.sql.streaming.checkpointFileManagerClass",
      classOf[FileSystemBasedCheckpointFileManager].getName)
    val src = format match {
      case "parquet" =>
        spark.readStream
          .schema(ChangeEvent.schema)
          .option("maxFilesPerTrigger", maxFilesPerTrigger)
          .parquet(eventLogGlob)
      case "pgoutput" =>
        // sid is config data (not wire data): when every route re-stamps
        // it, the source-level value is a dead placeholder; a route
        // WITHOUT an override would really ingest the source-level sid,
        // so pass "" and let the decoder warn loudly
        val srcSid =
          if (routes.nonEmpty && routes.forall(_.sidOverride.isDefined))
            routes.head.sidOverride.get
          else ""
        graft.sources.PgOutput.readChunksStream(spark, eventLogGlob,
          srcSid, maxFilesPerTrigger).toDF()
      case other =>
        throw new IllegalArgumentException(s"unknown event-log format '$other'")
    }

    // one thread per root-disjoint route group (see class doc)
    val groups = routeGroups(routes)
    src.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (df0: DataFrame, batchId: Long) =>
        // Multi-consumer batches re-scan the source once per action: the
        // doc merge alone takes 3 passes, and signature/label companions
        // add several more — persist the micro-batch ONCE when companions
        // are attached (single-route batches keep the plain scan: a
        // vectorized re-scan is cheaper than the columnar cache build, the
        // round-2 A/B on the scaling bench). pgoutput batches persist
        // unconditionally: their "re-scan" is a full wire DECODE of the
        // chunk, not a vectorized parquet read.
        val multi = routes.exists(_.signatures.isDefined) || format == "pgoutput"
        val df = if (multi)
          df0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        else df0
        def applyRoute(r: Route): Unit = {
          val events = (r.sidOverride match {
            case Some(s) => df.withColumn("sid", lit(s))
            case None => df
          }).as[ChangeEvent]
          lockFor(r.lake.root).synchronized {
            Replay.applyBatch(r.lake, events, r.mapping, batchId, r.epochKey)
          }
          r.signatures.filter(_ => r.mapping.mode != TableMode.History)
            .foreach { s =>
              lockFor(s.lake.root).synchronized {
                graft.operators.SignatureStore.applyBatch(s.lake, events,
                  r.mapping, r.lake, s.textCol, batchId = batchId,
                  epochKey = r.epochKey)
              }
              s.labels.foreach { l =>
                lockFor(l.root).synchronized {
                  graft.operators.LabelStore.applyBatch(l, s.lake, events,
                    r.mapping, r.lake, s.textCol, batchId = batchId,
                    epochKey = r.epochKey)
                }
              }
            }
        }
        try {
          if (groups.size <= 1) routes.foreach(applyRoute)
          else joinAll(groups.zipWithIndex.map { case (g, i) =>
            fork(df0.sparkSession.sparkContext, s"graft-route-$batchId-$i") {
              g.foreach(applyRoute)
            }
          })
        } finally if (multi) df.unpersist(blocking = false)
      }
      .start()
  }

  /** Run to completion of currently-available input and stop (used by
    * tests and batch-style backfills). */
  def runAvailable(spark: SparkSession, eventLogGlob: String,
                   checkpointDir: String, routes: Seq[Route],
                   maxFilesPerTrigger: Int = 1,
                   format: String = "parquet"): Unit = {
    val q = start(spark, eventLogGlob, checkpointDir, routes,
      maxFilesPerTrigger, Trigger.AvailableNow(), format)
    q.awaitTermination()
  }
}
