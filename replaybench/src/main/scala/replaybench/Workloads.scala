package replaybench

import graft.gen.Gen
import graft.lake.{LakeTable, Zone}
import graft.model.{ChangeEvent, TableMapping, TableMode, Transcripts}
import graft.operators.{History, LabelStore, SignatureStore}
import graft.sources.PgOutput
import graft.streaming.CdcStream
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Everything one run of the benchmark needs. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int,
                     trace: Boolean, work: String, cores: Int)

/** What one run measured. Timings are seconds. */
final class Result {
  val setupS = mutable.ArrayBuffer[Double]()
  val batchS = mutable.ArrayBuffer[Double]()
  val lagS = mutable.ArrayBuffer[Double]()
  val readS = mutable.ArrayBuffer[Double]()
  var events = 0L
  var applyS = 0.0
  var attempted = 0
  var failed = 0
  var lateS: Seq[Double] = Nil
  val problems = mutable.ArrayBuffer[String]()
  /** Every measured micro-batch, for the streaming-layer figures. */
  val batches = mutable.ArrayBuffer[StreamLog.Batch]()
  var backlogMax = 0
  var warmupS = 0.0
  /** Trace-only figures measured by the workload itself. */
  val layer = mutable.LinkedHashMap[String, Double]()
  var probeNs = 0L
}

/** Event sources: every event is a pure function of its id, so the
  * correctness gate regenerates exactly what the engine was fed. */
final case class EventSource(pre: Gen.Config, main: Gen.Config, preEvents: Long,
                             dedupText: Boolean) extends (Long => ChangeEvent) {
  def apply(id: Long): ChangeEvent = {
    val e = Gen.mkEvent(id, if (id < preEvents) pre else main)
    if (dedupText) EventSource.withGroupText(e) else e
  }
}

object EventSource {
  val Words = 19

  /** Near-duplicate text, constant per key: turn t of a conversation reads
    * words t .. t+18 of that conversation's word sequence. Neighbouring
    * turns share 18 words, turns further apart fewer, so each
    * conversation forms chained clusters that a delete in the middle can
    * split. Applied to every event that carries `text` (TOAST updates
    * keep omitting it), so the folded final text is the key's text no
    * matter which event wins. */
  def withGroupText(e: ChangeEvent): ChangeEvent =
    if (e.after == null || !e.after.contains("text")) e
    else {
      val conv = e.after("conv_id"); val turn = e.after("turn_idx").toInt
      e.copy(after = e.after + ("text" ->
        (turn until turn + Words).map(w => s"$conv-w$w").mkString(" ")))
    }
}

/** A workload: set-up (untimed, but measured as `setup_s`) and the timed
  * measurement, which fills a [[Result]]. */
trait Workload {
  def name: String
  def run(ctx: Ctx, r: Result, tracer: Option[Tracer]): Unit
}

object Workloads {

  val all: Seq[Workload] = Seq(Backfill, Tail, Dedup)
  def byName(n: String): Option[Workload] = all.find(_.name == n)

  /** Set-up rounds per run; `setup_s` is their median. */
  val SetupRounds = 3
  /** Untimed reads that warm the read path, then the timed ones. */
  val WarmReads = 5
  val ReadCount = 20
  val NumBuckets = 16
  val Sid = "s0"

  private[replaybench] def deleteTree(p: String): Unit = {
    val f = new File(p)
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(c => deleteTree(c.getPath))
    f.delete()
  }

  /** Runs `once` [[SetupRounds]] times into fresh directories, records each
    * round's seconds, and keeps only the last round's output. A round
    * generates and writes the inputs and preloads the targets; the JIT
    * warm-up replay runs once, before the rounds ([[warmUp]]). */
  def setupRounds[P](ctx: Ctx, r: Result)(once: String => P): P = {
    var out: Option[P] = None
    (1 to SetupRounds).foreach { i =>
      val dir = s"${ctx.work}/setup-$i"
      if (i > 1) deleteTree(s"${ctx.work}/setup-${i - 1}")
      val t0 = System.nanoTime()
      out = Some(once(dir))
      r.setupS += (System.nanoTime() - t0) / 1e9
      Main.log(f"setup round $i: ${r.setupS.last}%.2f s")
    }
    out.get
  }

  /** Runs the engine path once on a small input of another seed, so the
    * measured batches run warm code; its seconds go to the detail line. */
  def warmUp(r: Result)(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    f
    r.warmupS = (System.nanoTime() - t0) / 1e9
    Main.log(f"warm-up: ${r.warmupS}%.2f s")
  }

  /** Commits `rows` (text values in schema column order) as new data
    * files, bucketed the way the engine buckets. */
  def writeRows(lake: LakeTable, rows: Seq[Seq[String]]): Unit = {
    import org.apache.spark.sql.functions.{lit, pmod, xxhash64}
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val spark = lake.spark
    val snap = lake.snapshot()
    val schema = snap.schema
    val text = StructType(schema.fields.map(f => StructField(f.name, StringType)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(org.apache.spark.sql.Row.fromSeq)), text)
      .select(schema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
      .withColumn("__bucket", pmod(xxhash64(snap.bucketCols.map(col): _*), lit(snap.numBuckets)))
    lake.commit(lake.writeDataFiles(df, snap.currentSchemaId), Set.empty)
  }

  def cloneSpec = Transcripts.spec(numBuckets = NumBuckets)
  def historySpec = Transcripts.spec(numBuckets = NumBuckets)
    .copy(schema = History.historySchema(Transcripts.schema))

  /** Writes WAL segments `segs` (id ranges) as parquet, `files` files each,
    * and stamps modification times in (segment, file) order: the file
    * source replays in mtime order, one segment per trigger. */
  def writeWal(spark: SparkSession, dir: String, src: EventSource,
               segs: Seq[(Long, Long)], files: Int): Seq[(File, Long)] = {
    import spark.implicits._
    val base = System.currentTimeMillis() - 3600 * 1000L
    segs.zipWithIndex.map { case ((lo, hi), i) =>
      val seg = f"$dir/seg-$i%05d"
      spark.range(lo, hi, 1, files).map(id => src(id)).write.parquet(seg)
      val parts = new File(seg).listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      parts.zipWithIndex.foreach { case (p, j) =>
        require(p.setLastModified(base + i * 1000L + j), s"cannot stamp $p")
      }
      new File(seg) -> (hi - lo)
    }
  }

  /** Closed-loop drain of a parquet WAL through `CdcStream.start` with an
    * AvailableNow trigger. The whole backlog is due when the drain
    * starts, so a segment's lag is the time until its batch committed. */
  def drain(ctx: Ctx, wal: String, segs: Seq[(File, Long)], files: Int,
            routes: Seq[CdcStream.Route], ckpt: String, r: Result,
            tracer: Option[Tracer]): Unit = {
    val t0 = System.currentTimeMillis()
    tracer.foreach(_.open())
    val q = CdcStream.start(ctx.spark, s"$wal/seg-*", ckpt, routes,
      maxFilesPerTrigger = files, trigger = Trigger.AvailableNow())
    try q.awaitTermination() finally tracer.foreach(_.close())
    val batches = StreamLog.batches(q)
    val byFile = StreamLog.filesByBatch(ckpt)
    val segOf = byFile.groupBy(_._1.getParentFile).view.mapValues(_.values.max).toMap
    val commit = batches.map(b => b.id -> b.commitMs).toMap
    val lags = OpenLoop.lags(segs.map(s => s._1.getName -> t0).toMap,
      segOf.map { case (d, b) => d.getName -> b }, commit)
    r.batchS ++= batches.map(_.triggerMs / 1000.0)
    r.lagS ++= lags.values
    r.attempted += batches.size
    r.events += segs.filter(s => lags.contains(s._1.getName)).map(_._2).sum
    r.applyS += (batches.map(_.commitMs).maxOption.getOrElse(t0) - t0) / 1000.0
    if (lags.size != segs.size)
      r.problems += s"drain applied ${lags.size} of ${segs.size} segments"
    r.batches ++= batches
    r.backlogMax = math.max(r.backlogMax, segs.size)
  }

  /** Single-conversation reads through `LakeTable.read` with a conv_id
    * zone, collected; conversations are picked from the seed. */
  def reads(ctx: Ctx, lake: LakeTable, numConvs: Int, r: Result): Unit =
    (0 until WarmReads + ReadCount).foreach { i =>
      val c = f"c${java.lang.Math.floorMod(Gen.mix(ctx.seed * 31 + i), numConvs.toLong)}%08d"
      val t0 = System.nanoTime()
      lake.read(zones = Seq(Zone("conv_id", Some(c), Some(c))))
        .filter(col("conv_id") === c).collect()
      if (i >= WarmReads) r.readS += (System.nanoTime() - t0) / 1e9
    }

  def gate(r: Result, checks: => Seq[String]): Unit =
    try r.problems ++= checks
    catch { case e: Exception => r.problems += s"correctness gate failed: $e" }

  /** Trace-only lake and replay figures of a clone target: versions after
    * `fromVersion` are the measured batches. */
  def lakeLayer(ctx: Ctx, lake: LakeTable, fromVersion: Long, probe: SnapshotProbe,
                r: Result): Unit = {
    r.layer("lake.snapshot_s") = probe.median
    r.probeNs = probe.callbackNs
    val snaps = (fromVersion to lake.currentVersion).map(v => lake.snapshot(v))
    val added = snaps.sliding(2).collect { case Seq(a, b) =>
      val had = a.files.map(_.path).toSet
      b.files.filterNot(f => had(f.path))
    }.toSeq
    val conf = ctx.spark.sparkContext.hadoopConfiguration
    val rowsWritten = added.flatten.map { f =>
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.path), conf))
      try rd.getRecordCount finally rd.close()
    }.sum
    val changed = lake.metrics()
      .filter(col("kind") === "merge" && col("key").isin("inserted", "updated", "deleted"))
      .agg(org.apache.spark.sql.functions.sum("value")).head().get(0)
    val nChanged = Option(changed).map(_.asInstanceOf[Long]).getOrElse(0L)
    val last = snaps.last
    val manifest = Paths.get(lake.root, "_meta", f"v${last.version}%020d.json")
    r.layer("lake.manifest_bytes") = Files.size(manifest).toDouble
    r.layer("lake.live_files") = last.files.size.toDouble
    r.layer("operators.replay.touched_bucket_frac") =
      if (added.isEmpty) 0.0
      else added.map(_.map(_.bucket).distinct.size.toDouble / last.numBuckets).sum / added.size
    r.layer("operators.replay.rows_written_per_row_changed") =
      if (nChanged == 0) 0.0 else rowsWritten.toDouble / nChanged
  }

  /** Times a direct `snapshot()` of the current target after each batch
    * (traced runs only). */
  final class SnapshotProbe extends StreamingQueryListener {
    @volatile var lake: Option[LakeTable] = None
    private val seconds = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    def median: Double =
      if (seconds.isEmpty) 0.0 else Stats.median(seconds.asScala.toSeq)
    @volatile var callbackNs = 0L
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      lake.foreach { l =>
        val t0 = System.nanoTime()
        l.snapshot()
        val dt = System.nanoTime() - t0
        seconds.add(dt / 1e9)
        callbackNs += dt
      }
  }
}

/** Closed loop over a parquet WAL into an empty table: the catch-up /
  * initial-sync shape, where fold, shuffle and parquet write dominate and
  * per-batch fixed cost is small. */
object Backfill extends Workload {
  val name = "backfill"
  val Segments = 2
  /** WAL events per second of run: one drain takes about the run's
    * seconds on the host the benchmark was tuned on. */
  val EventsPerSecond = 5000L
  val WarmEvents = 2000L

  def config(seed: Long, n: Long): Gen.Config =
    Gen.Config(numEvents = n, numConvs = (n / 64).toInt, turnsPerConv = 32,
      pInsert = 0.75, pUpdate = 0.15, skew = 2.0, seed = seed)

  def run(ctx: Ctx, r: Result, tracer: Option[Tracer]): Unit = {
    val segEvents = ctx.seconds * EventsPerSecond / Segments
    Closed.run(ctx, r, tracer, config(ctx.seed, Segments * segEvents),
      Segments, segEvents, WarmEvents, dedup = false)
  }
}

/** Closed loop with the signature and label companions: the most
  * expensive pipeline, which the other workloads bypass entirely. */
object Dedup extends Workload {
  val name = "dedup"
  val Segments = 2
  val SegEvents = 2000L
  val WarmEvents = 500L

  def config(seed: Long, n: Long): Gen.Config =
    Gen.Config(numEvents = n, numConvs = math.max(16, (n / 24).toInt),
      turnsPerConv = 32, pInsert = 0.6, pUpdate = 0.2, seed = seed)

  def run(ctx: Ctx, r: Result, tracer: Option[Tracer]): Unit =
    Closed.run(ctx, r, tracer, config(ctx.seed, Segments * SegEvents),
      Segments, SegEvents, WarmEvents, dedup = true)
}

/** Shared body of the two closed-loop workloads: one drain of the WAL
  * into fresh tables. */
object Closed {
  import Workloads._

  final case class Targets(doc: LakeTable, sig: Option[LakeTable], lbl: Option[LakeTable]) {
    def routes: Seq[CdcStream.Route] = Seq(CdcStream.Route(
      TableMapping("transcripts", "transcripts"), doc, sidOverride = Some(Sid),
      signatures = sig.map(s => CdcStream.SignatureSink(s, "text", lbl))))
  }

  def targets(spark: SparkSession, dir: String, dedup: Boolean): Targets =
    Targets(LakeTable.create(spark, s"$dir/transcripts", cloneSpec),
      if (dedup) Some(LakeTable.create(spark, s"$dir/signatures", SignatureStore.spec())) else None,
      if (dedup) Some(LakeTable.create(spark, s"$dir/labels", LabelStore.spec())) else None)

  def run(ctx: Ctx, r: Result, tracer: Option[Tracer], cfg: Gen.Config,
          segments: Int, segEvents: Long, warmEvents: Long, dedup: Boolean): Unit = {
    val spark = ctx.spark
    val src = EventSource(cfg, cfg, 0L, dedupText = dedup)
    val files = ctx.cores
    val ranges = (0 until segments).map(i => (i * segEvents, (i + 1) * segEvents))
    warmUp(r) {
      val warm = EventSource(cfg.copy(seed = cfg.seed + 1), cfg.copy(seed = cfg.seed + 1),
        0L, dedupText = dedup)
      val dir = s"${ctx.work}/warm"
      val wsegs = writeWal(spark, s"$dir/wal", warm,
        Seq((0L, warmEvents), (warmEvents, 2 * warmEvents)), files)
      drain(ctx, s"$dir/wal", wsegs, files, targets(spark, dir, dedup).routes,
        s"$dir/ckpt", new Result, None)
    }
    val segs = setupRounds(ctx, r)(dir => writeWal(spark, s"$dir/wal", src, ranges, files))
    val wal = s"${ctx.work}/setup-$SetupRounds/wal"
    val probe = if (ctx.trace) Some(new SnapshotProbe) else None
    probe.foreach(spark.streams.addListener)
    val last = targets(spark, s"${ctx.work}/drain", dedup)
    probe.foreach(_.lake = Some(last.doc))
    try drain(ctx, wal, segs, files, last.routes, s"${ctx.work}/drain/ckpt", r, tracer)
    catch {
      case e: Exception => r.problems += s"drain failed: $e"
    }
    probe.foreach(spark.streams.removeListener)
    Main.log("drained")

    reads(ctx, last.doc, cfg.numConvs, r)
    Main.log("reads done")
    val events = (0L until cfg.numEvents).map(src)
    val convs = (0 until cfg.numConvs).map(c => f"c$c%08d").filter(Gate.sampled(ctx.seed, _)).toSet
    gate(r, Gate.cloneTarget(last.doc, events, TableMapping("transcripts", "transcripts"), convs) ++
      (if (dedup) Gate.companions(last.doc, last.sig.get, last.lbl.get, s"${ctx.work}/rebuild")
       else Nil))
    if (ctx.trace) {
      lakeLayer(ctx, last.doc, 1L, probe.get, r)
    }
  }
}

/** Open loop at a fixed rate: small pgoutput chunks renamed into a watched
  * directory on schedule by one generator thread, consumed by
  * `CdcStream.start(format = "pgoutput")` with a ProcessingTime trigger
  * into a preloaded clone table and a History table. */
object Tail extends Workload {
  import Workloads._

  val name = "tail"
  val NumConvs = 300
  val PreloadEvents = 6000L
  /** A multiple of Gen's transaction size: a chunk holds whole transactions. */
  val ChunkEvents = 240
  /** Offered load, events/s; see README.md for how it was chosen. */
  val Rate = 750.0
  val TriggerMs = 500L
  val CloneSrc = "transcripts"
  val HistSrc = "transcripts_audit"
  val WarmChunks = 2

  def source(seed: Long): EventSource = {
    val base = Gen.Config(numEvents = Long.MaxValue, numConvs = NumConvs, turnsPerConv = 32,
      sourceTables = Seq(CloneSrc, HistSrc), seed = seed)
    EventSource(base.copy(pInsert = 0.9, pUpdate = 0.08),
      base.copy(pInsert = 0.2, pUpdate = 0.6, pToast = 0.4), PreloadEvents, dedupText = false)
  }

  def cloneMapping = TableMapping(CloneSrc, "transcripts")
  def histMapping = TableMapping(HistSrc, "transcripts_audit", mode = TableMode.History)

  def routes(clone: LakeTable, hist: LakeTable): Seq[CdcStream.Route] = Seq(
    CdcStream.Route(cloneMapping, clone, sidOverride = Some(Sid)),
    CdcStream.Route(histMapping, hist, sidOverride = Some(Sid)))

  /** Creates both targets holding the state of the preload events, written
    * straight from the oracle models rather than through the engine: the
    * preload is input, like the WAL, and writing it costs the same at
    * every commit. */
  def preloaded(spark: SparkSession, dir: String, src: EventSource): (LakeTable, LakeTable) = {
    val events = (0L until PreloadEvents).map(src)
    val clone = LakeTable.create(spark, s"$dir/transcripts", cloneSpec)
    val hist = LakeTable.create(spark, s"$dir/transcripts_audit", historySpec)
    writeRows(clone, graft.verify.Oracle.canonical(
      graft.verify.Oracle.replay(events, Transcripts.spec(), cloneMapping),
      Transcripts.schema.fieldNames.toSeq).map(_._2))
    writeRows(hist, Gate.scd2(events.filter(e => histMapping.matches(e.source_table))))
    (clone, hist)
  }

  private val cols = Transcripts.schema.fields.map(_.name).toSeq
  private val oids = Seq(25, 23, 25, 25, 25, 1114) // text int4 text text text timestamp

  /** One self-contained pgoutput chunk: the relation registry, then one
    * Begin..Commit transaction per lsn. */
  def renderChunk(events: Seq[ChangeEvent]): Array[Byte] = {
    import PgOutput.Wire
    val rel = Map(CloneSrc -> 1, HistSrc -> 2)
    def vals(m: Map[String, String]) = cols.map(c => m.get(c).flatMap(Option(_)))
    def dml(e: ChangeEvent): Array[Byte] = {
      val id = rel(e.source_table)
      e.op match {
        case "I" => Wire.insert(id, vals(e.after))
        case "U" =>
          Wire.update(id, vals(e.after),
            oldKey = if (e.old_kind == "K") Some(('K', vals(e.before))) else None,
            toastAbsent = cols.indices.filterNot(i => e.after.contains(cols(i))).toSet)
        case "D" => Wire.delete(id, 'K', vals(e.before))
      }
    }
    val registry = rel.toSeq.sortBy(_._2).map { case (t, id) =>
      Wire.relation(id, "public", t, cols.zip(oids)) }
    val txns = events.groupBy(_.lsn).toSeq.sortBy(_._1).flatMap { case (lsn, es) =>
      Wire.begin(lsn, lsn.toInt) +: es.sortBy(_.seq).map(dml) :+ Wire.commit(lsn)
    }
    Wire.chunk(registry ++ txns)
  }

  require(ChunkEvents % Gen.Config().txnSize == 0 && PreloadEvents % Gen.Config().txnSize == 0)

  def chunkIds(k: Int, first: Long): (Long, Long) =
    (first + k.toLong * ChunkEvents, first + (k + 1).toLong * ChunkEvents)

  def run(ctx: Ctx, r: Result, tracer: Option[Tracer]): Unit = {
    val spark = ctx.spark
    val src = source(ctx.seed)
    val periodMs = ChunkEvents / Rate * 1000.0
    val nChunks = math.floor(ctx.seconds * Rate / ChunkEvents).toInt
    warmUp(r) {
      val warm = source(ctx.seed + 1)
      val wdir = s"${ctx.work}/warm"
      val (wclone, whist) = preloaded(spark, wdir, warm)
      Files.createDirectories(Paths.get(s"$wdir/in"))
      (0 until WarmChunks).foreach { k =>
        val (lo, hi) = chunkIds(k, PreloadEvents)
        val f = new File(f"$wdir/in/chunk-$k%05d.bin")
        Files.write(f.toPath, renderChunk((lo until hi).map(warm)))
        require(f.setLastModified(System.currentTimeMillis() - 60000L + k), s"cannot stamp $f")
      }
      CdcStream.runAvailable(spark, s"$wdir/in/chunk-*.bin", s"$wdir/ckpt",
        routes(wclone, whist), maxFilesPerTrigger = WarmChunks, format = "pgoutput")
    }
    val dir = setupRounds(ctx, r) { dir =>
      preloaded(spark, dir, src)
      Files.createDirectories(Paths.get(s"$dir/staging"))
      (0 until nChunks).foreach { k =>
        val (lo, hi) = chunkIds(k, PreloadEvents)
        Files.write(Paths.get(f"$dir/staging/chunk-$k%05d.bin"), renderChunk((lo until hi).map(src)))
      }
      dir
    }
    val clone = LakeTable.load(spark, s"$dir/transcripts")
    val hist = LakeTable.load(spark, s"$dir/transcripts_audit")
    val v0 = clone.currentVersion
    val watch = s"$dir/in"
    Files.createDirectories(Paths.get(watch))
    val ckpt = s"$dir/ckpt"
    val probe = if (ctx.trace) Some(new SnapshotProbe) else None
    probe.foreach { p => p.lake = Some(clone); spark.streams.addListener(p) }

    tracer.foreach(_.open())
    val q = CdcStream.start(spark, s"$watch/chunk-*.bin", ckpt, routes(clone, hist),
      maxFilesPerTrigger = 100000, trigger = Trigger.ProcessingTime(TriggerMs), format = "pgoutput")
    val scheduled = OpenLoop.schedule(System.currentTimeMillis() + 500L, periodMs, nChunks)
    val dropped = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    val generator = new Thread(() => {
      var lastMs = 0L
      scheduled.zipWithIndex.foreach { case (due, k) =>
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val name = f"chunk-$k%05d.bin"
        val staged = new File(s"$dir/staging/$name")
        // the file source orders by mtime: keep drop order strictly
        lastMs = math.max(lastMs + 1, System.currentTimeMillis())
        require(staged.setLastModified(lastMs), s"cannot stamp $staged")
        Files.move(staged.toPath, Paths.get(s"$watch/$name"), StandardCopyOption.ATOMIC_MOVE)
        dropped.put(name, System.currentTimeMillis())
      }
    }, "replaybench-generator")
    generator.setDaemon(true)
    generator.start()
    generator.join()

    def applied: Map[String, Long] = {
      val done = StreamLog.batches(q).map(_.id).toSet
      StreamLog.filesByBatch(ckpt).collect { case (f, b) if done(b) => f.getName -> b }
    }
    val deadline = System.currentTimeMillis() + 60000L
    while (applied.size < nChunks && q.exception.isEmpty && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    q.stop()
    tracer.foreach(_.close())
    probe.foreach(spark.streams.removeListener)
    q.exception.foreach(e => r.problems += s"stream failed: $e")

    val batches = StreamLog.batches(q)
    val batchOf = StreamLog.filesByBatch(ckpt).map { case (f, b) => f.getName -> b }
      .filter { case (_, b) => batches.exists(_.id == b) }
    val due = scheduled.zipWithIndex.map { case (t, k) => f"chunk-$k%05d.bin" -> t }.toMap
    val droppedMs = dropped.asScala.toMap
    val lags = OpenLoop.lags(due, batchOf, batches.map(b => b.id -> b.commitMs).toMap)
    r.batchS ++= batches.map(_.triggerMs / 1000.0)
    r.lagS ++= lags.values
    r.attempted += batches.size
    r.events += lags.size.toLong * ChunkEvents
    r.applyS += (batches.map(_.commitMs).maxOption.getOrElse(scheduled.head) - scheduled.head) / 1000.0
    r.lateS = OpenLoop.lateness(due, droppedMs).values.toSeq
    if (lags.size != nChunks) r.problems += s"stream applied ${lags.size} of $nChunks chunks"
    r.batches ++= batches
    r.backlogMax = OpenLoop.backlogMax(droppedMs, batchOf, batches.map(b => b.id -> b.startMs).toMap)

    Main.log("stream stopped")
    reads(ctx, clone, NumConvs, r)
    Main.log("reads done")
    val events = (0L until PreloadEvents + nChunks.toLong * ChunkEvents).map(src)
    val convs = (0 until NumConvs).map(c => f"c$c%08d").filter(Gate.sampled(ctx.seed, _)).toSet
    gate(r, Gate.cloneTarget(clone, events, cloneMapping, convs) ++
      Gate.historyTarget(hist, events, histMapping, convs))

    if (ctx.trace) {
      lakeLayer(ctx, clone, v0, probe.get, r)
      val decode = (0 until nChunks).map { k =>
        val bytes = Files.readAllBytes(Paths.get(f"$watch/chunk-$k%05d.bin"))
        val t0 = System.nanoTime()
        PgOutput.decodeChunk(bytes, Sid)
        (System.nanoTime() - t0) / 1e9
      }
      r.layer("sources.decode_s") = Stats.median(decode)
    }
  }
}
