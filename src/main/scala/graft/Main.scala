package graft

import graft.config.{MapConfig, ProcessConfig}
import graft.lake.LakeTable
import graft.model.TableSpec
import graft.streaming.{AdminHttp, MetricsHttp, Orchestrator}
import org.apache.spark.sql.SparkSession

/** Process entry point — the analog of the reference's
  * `streamer/kuvasz-streamer.go:main` (config load -> API server ->
  * Prometheus endpoint -> one replication loop per configured URL): one
  * command assembles the whole engine from the layered [[ProcessConfig]]:
  *
  *   - continuous orchestration of the declarative map file (live
  *     reload on change, initial full-sync bookkeeping, anomaly healing,
  *     exactly-once epochs — Orchestrator.runContinuous), or a one-shot
  *     `--drain` catch-up run;
  *   - the admin control plane (AdminHttp) when `--admin-port` >= 0,
  *     sharing the map file with the watcher so API mutations deploy live;
  *   - the Prometheus endpoint (MetricsHttp) when `--metrics-port` >= 0,
  *     scraping every target named in the map (re-resolved per scrape, so
  *     tables added later appear without a restart).
  *
  * Target schemas resolve in order: the `--specs-file` entries, then any
  * EXISTING lake table at `<targets-root>/<target>` (its manifest carries
  * its spec) — resolved lazily per lookup, so a target created mid-run by
  * the admin clone endpoint is found at the next map reload without a
  * process restart.
  *
  * Usage: `sbt "runMain graft.Main --map-file map.json --targets-root
  * targets --admin-port 8080 --metrics-port 9090"` (every key also reads
  * from `GRAFT_*` env and the `--config` JSON settings file; precedence
  * flags > env > file).
  */
object Main {

  /** Specs map backed by the specs file PLUS lazy lookup of existing lake
    * tables — so a target that gains a lake table mid-run (admin clone)
    * resolves on the next orchestrator reload without a restart. */
  private final class DynamicSpecs(static: Map[String, TableSpec],
                                   spark: SparkSession, targetsRoot: String)
      extends scala.collection.immutable.AbstractMap[String, TableSpec] {
    override def get(k: String): Option[TableSpec] =
      static.get(k).orElse {
        val root = s"$targetsRoot/$k"
        if (LakeTable.exists(root)) Some(LakeTable.load(spark, root).spec(k))
        else None
      }
    override def iterator: Iterator[(String, TableSpec)] = static.iterator
    override def removed(k: String): Map[String, TableSpec] =
      new DynamicSpecs(static - k, spark, targetsRoot)
    override def updated[V1 >: TableSpec](k: String, v: V1): Map[String, V1] =
      static.updated(k, v) // static-only view is fine for the map API
  }

  final case class ServeHandle(spark: SparkSession,
                               orchestrator: Option[Orchestrator.ContinuousHandle],
                               admin: Option[AdminHttp.Server],
                               metrics: Option[MetricsHttp.Server],
                               maintenance: Option[Thread] = None,
                               maintenanceStop: Option[java.util.concurrent.atomic.AtomicBoolean] = None) {
    def stop(): Unit = {
      maintenanceStop.foreach(_.set(true))
      maintenance.foreach(_.join())
      admin.foreach(_.stop())
      metrics.foreach(_.stop())
      orchestrator.foreach(_.stop())
    }
  }

  /** Assemble and start the engine; returns a handle (tests, embedding).
    * With `cfg.drain` the available WAL is drained synchronously and the
    * orchestrator handle is None. */
  def serve(cfg: ProcessConfig,
            existingSpark: Option[SparkSession] = None): ServeHandle = {
    val spark = existingSpark.getOrElse(
      SparkSession.builder()
        .master(cfg.master)
        .appName("graft")
        .config("spark.sql.shuffle.partitions", cfg.shufflePartitions.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.hadoop.fs.file.impl",
          classOf[graft.lake.BareLocalFileSystem].getName)
        .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")

    // publish the layered compaction threshold to the shared knob so the
    // inline merge compaction (Replay), the signature-store merge, and the
    // maintenance loop below all honor the SAME cap (flags/env/file win
    // over the code default through ProcessConfig's layering)
    graft.config.Knobs.compactFileCap = cfg.compactFileCap
    // same pattern for the full-sync token bucket (reference app.sync_rate/
    // sync_burst): published once, read by Orchestrator at each initialSync
    graft.config.Knobs.syncRateRows = cfg.syncRate
    graft.config.Knobs.syncBurstRows = cfg.syncBurst

    val static = cfg.specsFile.map(ProcessConfig.loadSpecs).getOrElse(Map.empty)
    val specs = new DynamicSpecs(static, spark, cfg.targetsRoot)

    val orchestrator =
      if (cfg.drain) {
        Orchestrator.runAvailable(spark, cfg.mapFile, cfg.targetsRoot,
          specs, cfg.checkpointRoot)
        None
      } else Some(Orchestrator.runContinuous(spark, cfg.mapFile,
        cfg.targetsRoot, specs, cfg.checkpointRoot,
        maxFilesPerTrigger = cfg.maxFilesPerTrigger,
        trigger = org.apache.spark.sql.streaming.Trigger
          .ProcessingTime(cfg.triggerMs)))

    val admin =
      if (cfg.adminPort < 0) None
      else Some(AdminHttp.start(spark, java.nio.file.Paths.get(cfg.mapFile),
        cfg.targetsRoot, sourceSpec = specs.get,
        jwtKey = cfg.jwtKey.map(_.getBytes("UTF-8")), port = cfg.adminPort))

    // targets re-resolved from the CURRENT map (live-reloadable; a table
    // added later must appear on /metrics and in maintenance), including
    // the companion signature AND label tables of opted-in mappings
    // (MapConfig.signatureTarget / labelTarget — the same authorities the
    // orchestrator's sink wiring uses)
    def tables(): Map[String, String] =
      try MapConfig.load(cfg.mapFile).databases.flatMap { db =>
        MapConfig.mappings(db).flatMap { m =>
          m.target +: (MapConfig.signatureTarget(db, m).toSeq ++
            MapConfig.labelTarget(db, m).toSeq)
        }
      }.distinct.map(t => t -> s"${cfg.targetsRoot}/$t").toMap
      catch { case _: Exception => Map.empty }

    val metrics =
      if (cfg.metricsPort < 0) None
      else Some(MetricsHttp.startDynamic(spark, () => tables(),
        port = cfg.metricsPort))

    // periodic lake maintenance: snapshot vacuum + bucket compaction per
    // target, serialized on the table locks (safe against live streams) —
    // without this, continuous ingest grows manifests and reclaims nothing
    val maintStop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val maint =
      if (cfg.maintenanceIntervalSec <= 0 || cfg.drain) None
      else Some {
        val t = new Thread(() => {
          while (!maintStop.get()) {
            var slept = 0L
            while (slept < cfg.maintenanceIntervalSec * 1000 && !maintStop.get()) {
              Thread.sleep(100); slept += 100
            }
            // re-check the stop flag BETWEEN tables: a pass over many
            // targets must not pin shutdown (stop() joins this thread)
            // for the whole fleet's vacuum+compact
            tables().foreach { case (name, root) =>
              if (!maintStop.get()) {
                try {
                  if (LakeTable.exists(root)) {
                    val (manifests, files) = graft.streaming.CdcStream
                      .vacuumUnderLock(spark, root, cfg.vacuumRetain)
                    val buckets = graft.streaming.CdcStream
                      .compactUnderLock(spark, root,
                        maxFilesPerBucket = cfg.compactFileCap)
                    if (manifests + files + buckets > 0)
                      System.err.println(s"[maintenance] $name: expired " +
                        s"$manifests manifests, reclaimed $files files, " +
                        s"compacted $buckets buckets")
                  }
                } catch { case e: Exception =>
                  System.err.println(s"[maintenance] $name failed: ${e.getMessage}")
                }
              }
            }
          }
        }, "graft-maintenance")
        t.setDaemon(true)
        t.start()
        t
      }

    ServeHandle(spark, orchestrator, admin, metrics, maint,
      if (maint.isDefined) Some(maintStop) else None)
  }

  def main(args: Array[String]): Unit = {
    val cfg = ProcessConfig.resolve(args.toSeq)
    val h = serve(cfg)
    h.admin.foreach(a => println(s"[graft] admin API on 127.0.0.1:${a.port}"))
    h.metrics.foreach(m => println(s"[graft] /metrics on 127.0.0.1:${m.port}"))
    if (cfg.drain) {
      println("[graft] drain complete")
      h.stop()
      h.spark.stop()
    } else {
      println(s"[graft] serving map '${cfg.mapFile}' -> '${cfg.targetsRoot}'" +
        " (Ctrl-C to stop)")
      Runtime.getRuntime.addShutdownHook(new Thread(() => h.stop()))
      // block forever; the orchestrator's watcher + streams do the work
      Thread.currentThread().join()
    }
  }
}
