package graft.streaming

import graft.config.MapConfig
import graft.lake.LakeTable
import graft.model.{TableMode, TableSpec}
import graft.operators.{Backfill, History, Replay}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** The engine's main loop: declarative map config -> running replication —
  * the Spark analog of the reference's startup wiring
  * (`streamer/kuvasz-streamer.go:94-100`: one reader goroutine per
  * (database, url); `streamer/map.go:160-187`: resolve the table map;
  * `streamer/replicate_database.go:220-235`: full-sync all tables when the
  * replication slot is new and only newly-added tables on an existing
  * slot).
  *
  * Per source database x URL, this:
  *   1. resolves the database's table map to engine mappings (R1 routing,
  *      P1/P2 filter & set, table mode);
  *   2. loads or creates each target lake table from `specs` (history
  *      targets get the kvsz_* validity columns appended automatically);
  *   3. runs the initial full sync for every (table, sid) that has never
  *      been synced — tracked as a `full-sync-<sid>` snapshot property, so
  *      the "new slot -> sync everything, new table on old slot -> sync
  *      just it" matrix falls out of one rule, and the property commits
  *      atomically with the copied data (a crash mid-sync re-syncs, a
  *      crash after never re-syncs);
  *   4. starts one Structured Streaming query over the URL's WAL directory
  *      with a per-(db, sid) checkpoint (the replication-slot resume
  *      point) and the config sid stamped onto every event (the reference
  *      assigns sid per URL in config — it is not wire data).
  *
  * Cross-source fan-in into one table is safe: applies serialize on the
  * per-table lock (CdcStream) and each (stream, mapping) pair keeps its own
  * epoch property (`commit-epoch-<db>-<sid>-<sourceTable>`), so neither
  * cross-stream fan-in nor two mappings of ONE stream sharing a target can
  * collide on idempotent-replay bookkeeping.
  */
object Orchestrator {

  final case class Handle(db: String, url: String, sid: String,
                          query: StreamingQuery)

  /** @param dbMap       parsed map config (MapConfig.load / .parse)
    * @param targetsRoot directory holding one lake table per target name
    * @param specs       table spec per target name (schema + merge key);
    *                    history targets may omit the kvsz_* columns
    * @param backfill    (sourceTable, sid) -> current source snapshot for
    *                    the initial full sync; None = nothing to sync
    *                    (stream-only source)
    */
  def start(spark: SparkSession,
            dbMap: MapConfig.DbMap,
            targetsRoot: String,
            specs: Map[String, TableSpec],
            checkpointRoot: String,
            backfill: (String, String) => Option[DataFrame] = (_, _) => None,
            maxFilesPerTrigger: Int = 1,
            trigger: org.apache.spark.sql.streaming.Trigger =
              org.apache.spark.sql.streaming.Trigger.AvailableNow()): Seq[Handle] = {
    dbMap.databases.flatMap { db =>
      // CEL filter/set translation is type-dependent: hint column kinds
      // from the target spec's schema (the source-row env for clone/append)
      val routesInfo = MapConfig.mappings(db, (_, tgt) =>
        specs.get(tgt).map(s => MapConfig.kindsOf(s.schema))
          .getOrElse(Map.empty)).map { m =>
        val root = s"$targetsRoot/${m.target}"
        val spec0 = specs.getOrElse(m.target, throw new IllegalArgumentException(
          s"no TableSpec for target '${m.target}' (database '${db.name}')"))
        val spec =
          if (m.mode == TableMode.History &&
              !spec0.schema.fieldNames.contains("kvsz_start"))
            spec0.copy(schema = History.historySchema(spec0.schema))
          else spec0
        val existed = LakeTable.exists(root)
        val lake =
          if (existed) LakeTable.load(spark, root)
          else LakeTable.create(spark, root, spec)
        // map-file opt-in signature maintenance ("signatures": true):
        // companion near-dup signature table kept per applied micro-batch
        val sink = MapConfig.signatureTarget(db, m).map { sname =>
            require(m.mode != TableMode.History,
              s"'signatures' is not supported for history table '${m.sourceTable}'")
            val textCol = MapConfig.textColOf(db, m)
            require(spec.schema.fieldNames.contains(textCol),
              s"'signatures' requires a '$textCol' column on target '${m.target}'")
            val sroot = s"$targetsRoot/$sname"
            val slake =
              if (LakeTable.exists(sroot)) LakeTable.load(spark, sroot)
              else LakeTable.create(spark, sroot,
                graft.operators.SignatureStore.spec(sname))
            // "labels": true — cluster labels folded forward per batch off
            // the signature companion (so it REQUIRES the signatures)
            val llake = MapConfig.labelTarget(db, m).map { lname =>
              val lroot = s"$targetsRoot/$lname"
              if (LakeTable.exists(lroot)) LakeTable.load(spark, lroot)
              else LakeTable.create(spark, lroot,
                graft.operators.LabelStore.spec(lname))
            }
            CdcStream.SignatureSink(slake, textCol = textCol, labels = llake)
          }
        require(MapConfig.labelTarget(db, m).isEmpty || sink.isDefined,
          s"'labels' on table '${m.sourceTable}' requires 'signatures': " +
            "true (labels fold off the signature companion)")
        (CdcStream.Route(m, lake, signatures = sink), existed)
      }
      val routes0 = routesInfo.map(_._1)
      db.urls.map { u =>
        // ---- checkpoint x target anomaly reconciliation (the analog of
        // the reference's slot/publication 4-state healing matrix,
        // `replicate_database.go:183-213`). The checkpoint plays the
        // replication slot; a `_graft_targets` marker inside it records
        // which targets it has been routing to, distinguishing a VANISHED
        // target (recorded but now missing -> the resume point is unsound
        // for its recreated table) from a newly-ADDED mapping (not
        // recorded -> normal add-table path: full sync + resume).
        val ckptDir = java.nio.file.Paths.get(
          s"$checkpointRoot/${db.name}-${u.sid}")
        val markerFile = ckptDir.resolve("_graft_targets")
        val recorded: Set[String] =
          if (java.nio.file.Files.isRegularFile(markerFile)) {
            import scala.jdk.CollectionConverters._
            java.nio.file.Files.readAllLines(markerFile).asScala
              .map(_.trim).filter(_.nonEmpty).toSet
          } else Set.empty
        val vanished = routesInfo.collect {
          case (r, existed) if !existed && recorded.contains(r.mapping.target) =>
            r.mapping.target
        }
        if (vanished.nonEmpty && java.nio.file.Files.isDirectory(ckptDir)) {
          // heal: drop the checkpoint (slot analog) so the WAL replays from
          // the start — the recreated target full-re-syncs below, and the
          // lsn floors computed after seeding keep the SURVIVING targets
          // from double-applying the replayed range
          System.err.println(s"[orchestrator] targets ${vanished.mkString(",")} " +
            s"vanished under checkpoint $ckptDir — dropping the checkpoint " +
            "and re-syncing (slot-without-publication healing)")
          deleteRecursively(ckptDir)
        }
        // initial full sync: once per (table, sid), recorded atomically.
        // Under the table lock: an earlier URL's stream may already be
        // committing to the same target (single-writer commit protocol).
        routes0.foreach { r =>
          CdcStream.lockFor(r.lake.root).synchronized {
            val prop = s"full-sync-${u.sid}"
            var didSync = false
            if (!r.lake.snapshot().properties.contains(prop))
              backfill(r.mapping.sourceTable, u.sid).foreach { src =>
                // full-sync token bucket (reference app.sync_rate/sync_burst
                // via ProcessConfig -> Knobs): paced, crash-resumable chunks
                // so a 100 TB initial sync cannot monopolize the cluster
                val pacing =
                  if (graft.config.Knobs.syncRateRows > 0)
                    Some(Backfill.Pacing(
                      maxRowsPerCommit = graft.config.Knobs.syncBurstRows,
                      rowsPerSec = Some(graft.config.Knobs.syncRateRows)))
                  else None
                Backfill.initialSync(r.lake, src, sid = Some(u.sid),
                  propKey = prop, pacing = pacing)
                didSync = true
              }
            // signatures full-sync analog: covers (a) "signatures": true
            // enabled after the target already holds rows, (b) a vanished/
            // recreated signatures table, (c) backfilled rows (which do
            // not flow through the streaming apply). `force` after a real
            // sync re-signs so the fresh backfill is covered. A bootstrap
            // takes its source's applied watermarks, so a companion rebuilt
            // off a recreated target replays the WAL the target replays.
            r.signatures.foreach { s =>
              val sigBooted = CdcStream.lockFor(s.lake.root).synchronized {
                graft.operators.SignatureStore.bootstrap(s.lake, r.lake,
                  s.textCol, force = didSync)
              }
              // labels bootstrap AFTER (and whenever) the signatures did:
              // they are the CC of the signature table's current pairs
              s.labels.foreach { l =>
                CdcStream.lockFor(l.root).synchronized {
                  graft.operators.LabelStore.bootstrap(l, s.lake,
                    force = sigBooted)
                }
              }
            }
          }
        }
        // Epoch key per (stream, MAPPING), not per stream: two map entries
        // may share one target (the reference's consolidation shape), and a
        // shared key would let the first route's commit mark the batch done
        // for the second route — silently dropping its events every batch.
        val routes = routes0.map(r => r.copy(
          sidOverride = Some(u.sid),
          epochKey = s"commit-epoch-${db.name}-${u.sid}-${r.mapping.sourceTable}"))
        // One-time upgrade migration: tables written before the epoch key
        // carried the source-table suffix hold `commit-epoch-<db>-<sid>`
        // only. Seed the per-mapping key from it, or a checkpoint-
        // redelivered last batch (crash between sink commit and checkpoint)
        // would re-apply once per existing deployment — the idempotent-
        // replay gate would read -1 under the new key.
        routes.foreach { r =>
          CdcStream.lockFor(r.lake.root).synchronized {
            val props = r.lake.snapshot().properties
            val legacy = s"commit-epoch-${db.name}-${u.sid}"
            if (!props.contains(r.epochKey) && props.contains(legacy))
              r.lake.commit(Nil, Set.empty,
                properties = Map(r.epochKey -> props(legacy)))
          }
        }
        // heal the other half-state: target exists with applied batches but
        // the CHECKPOINT is gone (publication-without-slot). The stream
        // will replay the whole WAL with batch ids restarting at 0, which
        // the committed epoch would otherwise skip wholesale — data loss.
        // Rebase instead: epoch back to -1 so replayed batches apply. Every
        // table — target, signatures, labels — floors each batch at its own
        // applied watermark (`applied-ord-<epochKey>`, Replay.aboveApplied),
        // so the catch-up resumes each one where its own commits left off:
        // NOT a duplicate apply, and NOT a duplicate full sync (the
        // full-sync-* property survives, so backfill does not rerun). A
        // companion that missed a batch the target committed replays that
        // batch itself. A table written before the watermark existed gets
        // one in the rebase commit: the lineage maxLsn rendered as an ord
        // covering ALL of that lsn's seqs (the old, coarser floor).
        routes.foreach { r =>
          CdcStream.lockFor(r.lake.root).synchronized {
            val ordKey = Replay.appliedOrdKey(r.epochKey)
            val snap = r.lake.snapshot()
            val preDocEpoch = snap.properties.getOrElse(r.epochKey, "-1").toLong
            if (!java.nio.file.Files.isDirectory(ckptDir) && preDocEpoch >= 0) {
              val legacy = if (snap.properties.contains(ordKey)) None else
                snap.lineage.filter(_.sid == u.sid).map(_.maxLsn).maxOption
                  .filter(_ >= 0).map(l => ordKey -> ((l << 20) | ((1L << 20) - 1)).toString)
              System.err.println(s"[orchestrator] checkpoint $ckptDir " +
                s"missing for applied table ${r.mapping.target} — " +
                "rebasing epoch and resuming past each table's applied watermark")
              r.lake.commit(Nil, Set.empty,
                properties = Map(r.epochKey -> "-1") ++ legacy)
            }
            val props = r.lake.snapshot().properties
            val de = props.getOrElse(r.epochKey, "-1").toLong
            // a companion epoch AHEAD of the doc table's (post-rebase) is
            // rebased to match, or post-heal batches would be skipped on it
            // forever
            r.signatures.toSeq.flatMap(s => s.lake +: s.labels.toSeq).foreach { c =>
              CdcStream.lockFor(c.root).synchronized {
                val cp = c.snapshot().properties
                val ce = cp.getOrElse(r.epochKey, "-1").toLong
                if (ce > de) {
                  // one written before the watermark existed that had
                  // caught up with the doc table takes the doc table's
                  val legacy = props.get(ordKey)
                    .filter(_ => !cp.contains(ordKey) && ce >= preDocEpoch)
                  c.commit(Nil, Set.empty,
                    properties = Map(r.epochKey -> de.toString) ++ legacy.map(ordKey -> _))
                }
              }
            }
          }
        }
        // record the targets this checkpoint routes to (vanished-target
        // detection on the next start)
        java.nio.file.Files.createDirectories(ckptDir)
        java.nio.file.Files.write(markerFile,
          routes.map(_.mapping.target).sorted.mkString("\n").getBytes("UTF-8"))
        val q = CdcStream.start(spark, u.url, ckptDir.toString, routes,
          maxFilesPerTrigger = maxFilesPerTrigger,
          trigger = trigger, format = u.format.getOrElse("parquet"))
        Handle(db.name, u.url, u.sid, q)
      }
    }
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    if (java.nio.file.Files.isDirectory(p))
      graft.lake.LakeTable.listDir(p)(_.toSeq).foreach(deleteRecursively)
    java.nio.file.Files.deleteIfExists(p)
  }

  /** Start from a map FILE, drain all currently-available WAL, and stop —
    * the batch-style entry point (tests, driver queries, catch-up runs). */
  def runAvailable(spark: SparkSession, mapPath: String, targetsRoot: String,
                   specs: Map[String, TableSpec], checkpointRoot: String,
                   backfill: (String, String) => Option[DataFrame] = (_, _) => None): Seq[Handle] = {
    val hs = start(spark, MapConfig.load(mapPath), targetsRoot, specs,
      checkpointRoot, backfill)
    hs.foreach(_.query.awaitTermination())
    hs
  }

  /** Live map reload: run repeated AvailableNow drain cycles, re-reading
    * the map FILE whenever its mtime changes — the analog of the reference
    * watching its config file and restarting streams on change
    * (`streamer/config.go:180-186`, restart channel
    * `handle_url.go:242-245`). Reload semantics across cycles:
    *
    *   - ADDED table: routed from the next cycle; its initial full sync
    *     runs automatically (the "new table on an existing slot" rule —
    *     the per-(table, sid) `full-sync-*` property makes it exactly-once);
    *   - REMOVED table: routing stops; the TARGET TABLE IS KEPT as-is
    *     (the reference never drops destination tables; re-adding the
    *     entry resumes routing without a duplicate sync);
    *   - unchanged tables: checkpoints + per-(stream, mapping) epochs make
    *     every cycle a pure resume — no replay, no loss.
    *
    * Runs until `until()` turns true; returns the number of completed
    * drain cycles. */
  /** Handle for a [[runContinuous]] deployment: stop() halts the watcher
    * and the running streams (blocking until both are down). `current`
    * exposes the live stream handles (they change across reloads). */
  final class ContinuousHandle(@volatile private[Orchestrator] var handles: Seq[Handle],
                               watcher: Thread,
                               stopFlag: java.util.concurrent.atomic.AtomicBoolean) {
    def current: Seq[Handle] = handles
    def stop(): Unit = {
      stopFlag.set(true)
      watcher.join()
      handles.foreach(_.query.stop())
    }
  }

  /** Live map reload for a LONG-RUNNING deployment: streams run under a
    * processing-time trigger (no drain boundaries), and a watcher thread
    * stops/rebuilds/resumes them when the map file changes — the analog of
    * the reference's config watcher + restart channel
    * (`streamer/config.go:179-186`, `handle_url.go:242-245`,
    * `kuvasz-streamer.go:102-118`). Safety across a restart is exactly the
    * crash-window contract the engine already keeps: `query.stop()` may cut
    * a micro-batch before its checkpoint commit, the batch replays on
    * resume, and the per-(stream, mapping) epoch skips the halves that
    * committed — no duplicates, no loss. An ADDED table full-syncs once
    * (per-(table, sid) property); a REMOVED table stops being routed but
    * its target is kept. */
  /** Everything [[start]] (boot) can reject for map-reachable reasons,
    * checked WITHOUT side effects: parse + mode validation, a TableSpec for
    * every target, and the signature-sink preconditions (not history, has a
    * text column). The continuous watcher runs this BEFORE stopping the
    * live streams — a map edit that parses but cannot boot (e.g. an admin
    * table-add naming an unknown target) must not take the deployment down
    * into a stop/retry loop. Throws with the offending detail. */
  private[streaming] def validateBootable(dbMap: MapConfig.DbMap,
                                          specs: Map[String, TableSpec]): Unit =
    dbMap.databases.foreach { db =>
      db.urls.foreach { u =>
        val f = u.format.getOrElse("parquet")
        require(f == "parquet" || f == "pgoutput",
          s"unknown event-log format '$f' (url sid '${u.sid}')")
      }
      // same kind hints as the live route build, so a CEL expression that
      // only translates under hints validates the same way it will boot
      MapConfig.mappings(db, (_, tgt) =>
        specs.get(tgt).map(s => MapConfig.kindsOf(s.schema))
          .getOrElse(Map.empty)).foreach { m =>
        val spec = specs.getOrElse(m.target, throw new IllegalArgumentException(
          s"no TableSpec for target '${m.target}' (database '${db.name}')"))
        if (db.tables.get(m.sourceTable).flatMap(_.signatures).contains(true)) {
          require(m.mode != TableMode.History,
            s"'signatures' is not supported for history table '${m.sourceTable}'")
          val tc = MapConfig.textColOf(db, m)
          require(spec.schema.fieldNames.contains(tc),
            s"'signatures' requires a '$tc' column on target '${m.target}'")
        }
        require(MapConfig.labelTarget(db, m).isEmpty ||
          db.tables.get(m.sourceTable).flatMap(_.signatures).contains(true),
          s"'labels' on table '${m.sourceTable}' requires 'signatures': " +
            "true (labels fold off the signature companion)")
      }
    }

  def runContinuous(spark: SparkSession, mapPath: String, targetsRoot: String,
                    specs: Map[String, TableSpec], checkpointRoot: String,
                    backfill: (String, String) => Option[DataFrame] = (_, _) => None,
                    maxFilesPerTrigger: Int = 1,
                    pollMs: Long = 250,
                    trigger: org.apache.spark.sql.streaming.Trigger =
                      org.apache.spark.sql.streaming.Trigger.ProcessingTime(250)): ContinuousHandle = {
    def boot(): Seq[Handle] = start(spark, MapConfig.load(mapPath), targetsRoot,
      specs, checkpointRoot, backfill, maxFilesPerTrigger, trigger)
    val stopFlag = new java.util.concurrent.atomic.AtomicBoolean(false)
    def mtime: Long = java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(mapPath)).toMillis
    var handle: ContinuousHandle = null
    val watcher = new Thread(() => {
      var last = mtime
      var needBoot = false
      while (!stopFlag.get()) {
        Thread.sleep(pollMs)
        val mt = try mtime catch { case _: java.io.IOException => last }
        if (mt != last && !stopFlag.get()) {
          last = mt
          // validate BEFORE stopping anything — parse AND boot
          // preconditions (spec presence, signature requirements): a
          // half-written, invalid, or unbootable map file must never take
          // a running deployment down into a stop/retry-forever loop
          val valid =
            try { validateBootable(MapConfig.load(mapPath), specs); true }
            catch { case e: Exception =>
              System.err.println("[orchestrator] changed map file is " +
                s"invalid or unbootable — keeping current streams: ${e.getMessage}")
              false
            }
          if (valid) {
            System.err.println("[orchestrator] map file changed — stopping " +
              "streams, rebuilding routes, resuming from checkpoints")
            handle.handles.foreach(h =>
              try h.query.stop() catch { case _: Exception => })
            needBoot = true
          }
        }
        if (needBoot && !stopFlag.get()) {
          // a failed rebuild must not kill the watcher: retry each tick
          try { handle.handles = boot(); needBoot = false }
          catch { case e: Exception =>
            System.err.println("[orchestrator] stream rebuild failed — " +
              s"retrying next tick: ${e.getMessage}")
          }
        }
      }
    }, "graft-map-watcher")
    watcher.setDaemon(true)
    handle = new ContinuousHandle(boot(), watcher, stopFlag)
    watcher.start()
    handle
  }

  def runWatched(spark: SparkSession, mapPath: String, targetsRoot: String,
                 specs: Map[String, TableSpec], checkpointRoot: String,
                 backfill: (String, String) => Option[DataFrame] = (_, _) => None,
                 pollMs: Long = 200,
                 until: () => Boolean): Int = {
    var cycles = 0
    var lastMtime = Long.MinValue
    var dbMap: MapConfig.DbMap = null
    while (!until()) {
      val mt = java.nio.file.Files.getLastModifiedTime(
        java.nio.file.Paths.get(mapPath)).toMillis
      if (dbMap == null || mt != lastMtime) {
        if (dbMap != null)
          System.err.println(s"[orchestrator] map file changed — rebuilding routes")
        lastMtime = mt
        dbMap = MapConfig.load(mapPath)
      }
      val hs = start(spark, dbMap, targetsRoot, specs, checkpointRoot, backfill)
      hs.foreach(_.query.awaitTermination())
      cycles += 1
      if (!until()) Thread.sleep(pollMs)
    }
    cycles
  }
}
