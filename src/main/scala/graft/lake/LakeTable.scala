package graft.lake

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.model.TableSpec
import graft.obs.Phases
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType, StringType, StructField, StructType}

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID
import scala.jdk.CollectionConverters._

/** Per-file min/max of one column (zone map), both rendered as strings
  * (integral columns in canonical decimal, strings verbatim) and compared
  * type-aware at prune time. */
final case class ColStats(min: String, max: String)

/** One registered data file. `bucket` is the hash-bucket of the merge key's
  * bucket columns — merge rewrites only buckets containing touched keys
  * (manifest-level pruning, the lake analog of the reference's partition
  * routing, `streamer/map.go:143-158`). `stats` carries per-key-column
  * min/max harvested from the parquet FOOTER at write time (no data
  * re-scan) — zone maps, giving selective reads the same manifest-level
  * pruning the merge gets from buckets. */
final case class DataFile(path: String, bucket: Int, bytes: Long, schemaId: Int,
                          stats: Map[String, ColStats] = Map.empty) {
  /** Null-safe accessor (manifests written before zone maps lack the field). */
  def statsOrEmpty: Map[String, ColStats] = if (stats == null) Map.empty else stats
}

/** Zone predicate for [[LakeTable.read]]: inclusive [lo, hi] bounds on one
  * column; a file is scanned unless its recorded stats PROVE no overlap
  * (missing stats => scanned — pruning is never allowed to lose rows). */
final case class Zone(col: String, lo: Option[String] = None,
                      hi: Option[String] = None)

/** Per-source lineage entry: which LSN range of which source partition (sid)
  * was applied by which batch into which snapshot (north-rule lineage). */
final case class LineageEntry(sid: String, minLsn: Long, maxLsn: Long,
                              batchId: Long, snapshotVersion: Long)

/** Immutable snapshot manifest. `schemas` maps schemaId -> StructType JSON,
  * so files written before a schema evolution stay readable and are aligned
  * (missing columns -> null, narrower types -> cast) at scan time. */
final case class Snapshot(
    version: Long,
    currentSchemaId: Int,
    schemas: Map[String, String], // schemaId -> StructType.json
    files: Seq[DataFile],
    properties: Map[String, String], // commit-epoch, lsn-high-watermark, ...
    lineage: Seq[LineageEntry],
    keyCols: Seq[String],
    bucketCols: Seq[String],
    numBuckets: Int,
    hasSid: Boolean,
    timestampMs: Long) {
  def schema: StructType =
    DataType.fromJson(schemas(currentSchemaId.toString)).asInstanceOf[StructType]

  /** The merge key: `sid` first when the table carries one, then the key
    * columns (`TableSpec.mergeKey`). */
  def mergeKey: Seq[String] = (if (hasSid) Seq("sid") else Nil) ++ keyCols
}

/** Minimal snapshot-based lake table ("icelite") on Parquet: data files +
  * JSON manifests + atomic fail-if-exists commit (link). Replaces the reference's
  * Postgres destination + `ON CONFLICT` machinery (`streamer/metadata.go:
  * 163-220`) with an Iceberg-style table: snapshot isolation, schema
  * evolution, snapshot properties carrying the commit epoch and LSN
  * high-watermark (exactly-once), per-source lineage, and time travel.
  *
  * Layout:  <root>/_meta/v%020d.json   (manifests; reader takes max)
  *          <root>/data/<uuid>.parquet (immutable data files)
  *
  * Single-writer-per-table by design (the reference likewise has one
  * apply pipeline per destination); the version-file create is
  * fail-if-exists, and a rewriting commit fails unless the version it
  * read is still the latest ([[commit]]'s `base`), so a concurrent second
  * writer aborts rather than clobbering.
  */
final class LakeTable private (val spark: SparkSession, val root: String) {

  import LakeTable._

  private val metaDir = Paths.get(root, "_meta")
  private val dataDir = Paths.get(root, "data")

  def currentVersion: Long = listVersions.lastOption.getOrElse(
    throw new IllegalStateException(s"no snapshots under $root"))

  private def listVersions: Seq[Long] =
    if (!Files.isDirectory(metaDir)) Nil
    else LakeTable.listDir(metaDir)(_.map(_.getFileName.toString)
      .collect { case VersionFile(v) => v.toLong }
      .toSeq).sorted

  def snapshot(version: Long = -1L): Snapshot = {
    val v = if (version < 0) currentVersion else version
    mapper.readValue(Files.readAllBytes(metaDir.resolve(f"v$v%020d.json")),
      classOf[Snapshot])
  }

  def schema: StructType = snapshot().schema

  def spec(name: String = "table"): TableSpec = {
    val s = snapshot()
    TableSpec(name, s.schema, s.keyCols, s.bucketCols, s.numBuckets, s.hasSid)
  }

  private def statCompare(dt: DataType)(a: String, b: String): Int =
    LakeTable.statCompare(dt)(a, b)

  /** The files a (buckets, zones)-constrained scan of snapshot `s` must
    * read: bucket pruning first, then zone-map pruning — a file survives
    * unless some zone's [lo, hi] provably misses its recorded [min, max].
    * `zoneExemptBuckets` skip the zone filter entirely ([[rewriteSet]]'s
    * fragmentation rule). */
  private[graft] def selectFiles(s: Snapshot = snapshot(),
                                 buckets: Option[Set[Int]] = None,
                                 zones: Seq[Zone] = Nil,
                                 zoneExemptBuckets: Set[Int] = Set.empty): Seq[DataFile] = {
    val want = buckets.getOrElse(null)
    val schema = s.schema
    s.files
      .filter(f => want == null || want.contains(f.bucket))
      .filter { f =>
        zoneExemptBuckets.contains(f.bucket) || zones.forall { z =>
          (f.statsOrEmpty.get(z.col), schema.fields.find(_.name == z.col)) match {
            case (Some(st), Some(fld)) =>
              val cmp = statCompare(fld.dataType) _
              z.lo.forall(lo => cmp(st.max, lo) >= 0) &&
                z.hi.forall(hi => cmp(st.min, hi) <= 0)
            case _ => true // no stats / unknown column: must scan
          }
        }
      }
  }

  /** Read the current (or a past) snapshot, aligned to its schema.
    * Files are grouped by the schema they were written with; each group is
    * scanned with its exact stored schema and projected/cast to the
    * snapshot schema (add-column -> null, widen int->long -> cast).
    * `zones` prunes by the per-file min/max zone maps; note the surviving
    * files may still contain rows outside the zone — apply the row-level
    * filter on the returned frame (pruning is an I/O optimization, not a
    * predicate). The manifest is resolved ONCE: its schema map and its
    * file list belong to the same version even while commits land. */
  def read(version: Long = -1L, buckets: Option[Set[Int]] = None,
           zones: Seq[Zone] = Nil): DataFrame =
    readAt(snapshot(version), buckets, zones)

  /** [[read]] of an already-resolved snapshot: a caller that makes several
    * reads of one table (and commits against the same snapshot) resolves
    * its manifest once. */
  def readAt(s: Snapshot, buckets: Option[Set[Int]] = None,
             zones: Seq[Zone] = Nil): DataFrame =
    scan(s, selectFiles(s, buckets, zones))

  /** The files a copy-on-write merge over snapshot `snap` reads and
    * rewrites: the `touched` buckets, zone-pruned by `zones`. Its commit
    * removes EXACTLY these paths; a zone-pruned file was neither read nor
    * rewritten, so it stays live. The merge reads them with [[scan]]
    * inside its write phase.
    *
    * Fragmentation cap (the zone-pruning trade-off closed): files a zone
    * skips are not rewritten, so a bucket hit by many narrow-key batches
    * accumulates small files. Once a touched bucket holds more than
    * [[graft.config.Knobs.compactFileCap]] files, its zone pruning is
    * disabled for this merge, so the whole bucket rewrites into O(1)
    * files — inline compaction with write amplification bounded by the
    * cap. */
  def rewriteSet(snap: Snapshot, touched: Set[Int], zones: Seq[Zone]): Seq[DataFile] = {
    val fragmented: Set[Int] =
      if (zones.isEmpty) Set.empty
      else {
        val perBucket = snap.files.groupBy(_.bucket).view.mapValues(_.size).toMap
        touched.filter(b => perBucket.getOrElse(b, 0) > graft.config.Knobs.compactFileCap)
      }
    selectFiles(snap, Some(touched), zones, fragmented)
  }

  /** `files` of snapshot `s`, each scanned with its stored schema and
    * aligned to `s`'s current schema. */
  private[graft] def scan(s: Snapshot, files: Seq[DataFile]): DataFrame = {
    val cur = s.schema
    if (files.isEmpty) {
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], cur)
    } else {
      files.groupBy(_.schemaId).map { case (sid, group) =>
        val stored = DataType.fromJson(s.schemas(sid.toString)).asInstanceOf[StructType]
        val df = spark.read.schema(stored).parquet(group.map(_.path): _*)
        df.select(cur.fields.map { f =>
          if (stored.fieldNames.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
          else lit(null).cast(f.dataType).as(f.name)
        }.toIndexedSeq: _*)
      }.reduce(_ unionAll _)
    }
  }

  /** Write `df` (which must carry an integer `__bucket` column) into new
    * immutable data files, one directory-partition per bucket, and return
    * the DataFile entries (not yet committed). Rows are clustered by
    * bucket first so each bucket lands in O(1) files instead of
    * (tasks x buckets) — the small-file explosion that otherwise makes
    * every subsequent scan slower (standard lake-writer practice); when
    * `df` is already hash-partitioned by `__bucket` (a merge's window
    * pass), Spark plans no second exchange for it (ReplaySpec "phases:"
    * checks the merge's write plan). The files are written with schema
    * `schemaId` of the latest manifest.
    * `df` is taken by name, so a caller can build its plan inside the
    * `write` phase. */
  def writeDataFiles(df: => DataFrame, schemaId: Int): Seq[DataFile] =
    writeDataFiles(df, snapshot().copy(currentSchemaId = schemaId))

  /** [[writeDataFiles]] against an already-resolved snapshot, with its
    * current schema: a merge writes and commits against the snapshot it
    * read, so it resolves the manifest once. */
  def writeDataFiles(df: => DataFrame, snap: Snapshot): Seq[DataFile] = {
    val schemaId = snap.currentSchemaId
    val moved = Phases.run(this, "write")(writeBuckets(df))
    val statCols = zoneCols(snap).map(f => f.name -> f.dataType).toMap
    // footer harvest in parallel: one commit registers O(buckets) files and
    // a serial per-file footer read is avoidable driver time on the
    // micro-batch critical path
    if (moved.isEmpty) Seq.empty[DataFile]
    else Phases.run(this, "footer") {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, moved.size))
      try {
        import scala.concurrent.{Await, ExecutionContext, Future}
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        Await.result(Future.sequence(moved.map { case (dest, bucket) =>
          Future(DataFile(dest.toString, bucket, Files.size(dest), schemaId,
            footerStats(dest, statCols)))
        }), scala.concurrent.duration.Duration.Inf)
      } finally pool.shutdown()
    }
  }

  /** Write `df` partitioned by `__bucket` into a temp directory, then move
    * each file into `data/` under a bucket-prefixed unique name.
    * @return (final path, bucket) per written file */
  private def writeBuckets(df: DataFrame): Seq[(Path, Int)] = {
    val tmp = dataDir.resolve(s"tmp-${UUID.randomUUID()}")
    df.repartition(col("__bucket"))
      .write.partitionBy("__bucket").parquet(tmp.toString)
    val moved = LakeTable.listDir(tmp)(_.filter(
      p => p.getFileName.toString.startsWith("__bucket=")).toSeq)
      .flatMap { bdir =>
        val bucket = bdir.getFileName.toString.stripPrefix("__bucket=").toInt
        LakeTable.listDir(bdir)(_.filter(
          _.getFileName.toString.endsWith(".parquet")).toSeq)
          .map { f =>
            val dest = dataDir.resolve(s"b$bucket-${UUID.randomUUID()}.parquet")
            Files.move(f, dest, StandardCopyOption.ATOMIC_MOVE)
            (dest, bucket)
          }
      }
    deleteRecursively(tmp)
    moved
  }

  // one Hadoop conf for all footer reads (newHadoopConf clones the full
  // session conf — per-file cloning showed up as driver-side commit cost)
  private lazy val footerConf = {
    val c = spark.sessionState.newHadoopConf()
    // plain local FS for footer reads: BareLocalFileSystem is for Spark's
    // writers; the footer reader only needs open/seek
    c
  }

  /** Harvest per-column min/max from the parquet FOOTER (row-group
    * statistics — no data pages are read). This is how lake writers record
    * zone maps at scale: the writer already produced the stats; the
    * manifest just keeps them queryable without opening files.
    *
    * Soundness rule: a column's file-level stats are recorded ONLY if
    * EVERY row group either contributed stats or is provably all-null for
    * that column. parquet-mr omits footer min/max for binary values above
    * its stats size cap (long string keys), and a merged range that skips
    * such a row group would under-cover the file — zone pruning would then
    * silently drop live rows. Dropping the column instead means "no stats
    * => must scan" (the conservative default selectFiles already applies).
    */
  private def footerStats(p: Path, statCols: Map[String, DataType]): Map[String, ColStats] = {
    if (statCols.isEmpty) return Map.empty
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.io.api.Binary
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(p.toString), footerConf))
    try {
      def render(v: Any): String = v match {
        case b: Binary => b.toStringUsingUTF8
        case x => x.toString
      }
      val acc = scala.collection.mutable.Map[String, ColStats]()
      val unsound = scala.collection.mutable.Set[String]()
      reader.getFooter.getBlocks.asScala.foreach { block =>
        val chunks = block.getColumns.asScala
          .map(cc => cc.getPath.toDotString -> cc).toMap
        statCols.foreach { case (name, dt) =>
          val st = chunks.get(name).map(_.getStatistics).orNull
          if (st != null && st.hasNonNullValue) {
            val (mn, mx) = (render(st.genericGetMin), render(st.genericGetMax))
            val cmp = statCompare(dt) _
            acc(name) = acc.get(name) match {
              case Some(prev) => ColStats(
                if (cmp(mn, prev.min) < 0) mn else prev.min,
                if (cmp(mx, prev.max) > 0) mx else prev.max)
              case None => ColStats(mn, mx)
            }
          } else if (st == null || !st.isNumNullsSet ||
                     st.getNumNulls != block.getRowCount) {
            // stats absent (size-capped binary / unknown writer) and the
            // row group is not provably all-null: the column's merged
            // range cannot cover this file — drop it (must-scan)
            unsound += name
          } // else: all-null row group, safe to skip
        }
      }
      (acc -- unsound).toMap
    } finally reader.close()
  }

  /** Atomic commit: next manifest version, published fail-if-exists.
    * `removePaths` files stay on disk (time travel reads them) until a
    * [[vacuum]] reclaims them.
    *
    * `base` is the snapshot the commit was computed from. A commit that
    * rewrites (removes files, or derives cumulative properties from what
    * it read) passes it, and fails if any other commit landed since: its
    * removals would otherwise miss files a concurrent writer replaced (a
    * compaction), leaving its rewritten rows next to their compacted
    * copies. A commit without a base only adds (files, properties, a
    * schema) and applies on top of the latest version. */
  def commit(addFiles: Seq[DataFile], removePaths: Set[String],
             newSchema: Option[StructType] = None,
             properties: Map[String, String] = Map.empty,
             lineage: Seq[LineageEntry] = Nil,
             base: Option[Snapshot] = None): Snapshot =
    Phases.run(this, "commit") {
      val cur = snapshot()
      base.foreach { b =>
        if (b.version != cur.version)
          throw new IllegalStateException(
            s"stale commit: read v${b.version} of $root, but v${cur.version} is the latest")
      }
      val (schemas2, schemaId2) = newSchema match {
        case Some(sch) if sch.json != cur.schemas(cur.currentSchemaId.toString) =>
          val id = cur.schemas.keys.map(_.toInt).max + 1
          (cur.schemas + (id.toString -> sch.json), id)
        case _ => (cur.schemas, cur.currentSchemaId)
      }
      val next = cur.copy(
        version = cur.version + 1,
        currentSchemaId = schemaId2,
        schemas = schemas2,
        files = cur.files.filterNot(f => removePaths.contains(f.path)) ++ addFiles,
        properties = cur.properties ++ properties,
        lineage = cur.lineage ++ lineage.map(_.copy(snapshotVersion = cur.version + 1)),
        timestampMs = System.currentTimeMillis())
      writeManifest(next)
      next
    }

  /** Maintenance compaction: rewrite every bucket holding more than
    * `maxFilesPerBucket` files into freshly-clustered files (one commit).
    * The merge already self-compacts touched buckets past the same kind of
    * cap; this entry point handles buckets that stopped being written but
    * stayed fragmented. Single-writer protocol applies (class doc).
    * @return number of buckets compacted */
  def compact(maxFilesPerBucket: Int = 8): Int = {
    val snap = snapshot()
    val over = snap.files.groupBy(_.bucket).filter(_._2.size > maxFilesPerBucket)
    if (over.isEmpty) return 0
    val buckets = over.keySet
    val files = over.values.flatten.toSeq
    val newFiles = writeDataFiles(scan(snap, files).withColumn("__bucket", bucketOf(snap)), snap)
    commit(newFiles, files.map(_.path).toSet, base = Some(snap))
    buckets.size
  }

  /** Expire old snapshots and reclaim their data files — at 10^10-event
    * scale the copy-on-write merge otherwise accumulates every rewritten
    * bucket file forever. Keeps the newest `retainVersions` manifests;
    * deletes (a) expired manifests and (b) every data file on disk that no
    * RETAINED snapshot references (which also sweeps orphans from crashed
    * writes — files written but never committed). Time travel within the
    * retained window keeps working. Caller must not run this concurrently
    * with a writer on the same table (single-writer protocol, class doc).
    *
    * Lineage is COMPACTED with the same retention: entries whose snapshot
    * version expired collapse into one summary entry per sid (batchId -1,
    * snapshotVersion -1, min/max LSN preserved) — at 10^10-event scale the
    * per-batch lineage would otherwise grow the manifest without bound,
    * while everything downstream (the per-sid applied watermark the
    * anomaly healing resumes from; time travel, which only reaches
    * retained snapshots anyway) needs exactly the summary.
    *
    * @return (expired manifest count, deleted data file count) */
  def vacuum(retainVersions: Int = 1): (Int, Int) = {
    val keepN = math.max(1, retainVersions)
    val versions = listVersions
    var keep = versions.takeRight(keepN)
    val expire = versions.dropRight(keepN)
    // lineage compaction rides a new manifest that JOINS the retained set
    // (the window is computed once — re-deriving it after the write would
    // cascade, re-expiring entries the caller asked to retain)
    locally {
      val cur = snapshot()
      val minKept = keep.headOption.getOrElse(Long.MaxValue)
      // snapshotVersion -1 marks an existing summary; expiring entries
      // fold INTO the per-sid summary (one summary row per sid, ever)
      val (prevSummaries, live) = cur.lineage.partition(_.snapshotVersion < 0)
      val (old, recent) = live.partition(_.snapshotVersion < minKept)
      if (old.nonEmpty) {
        val summaries = (prevSummaries ++ old).groupBy(_.sid).toSeq.sortBy(_._1)
          .map { case (sid, es) =>
            LineageEntry(sid, es.map(_.minLsn).min, es.map(_.maxLsn).max,
              batchId = -1L, snapshotVersion = -1L)
          }
        writeManifest(cur.copy(version = cur.version + 1,
          lineage = summaries ++ recent,
          timestampMs = System.currentTimeMillis()))
        keep :+= cur.version + 1
      }
    }
    // Liveness by FILE NAME, not path spelling: all data files live flat in
    // <root>/data and carry a UUID, so the name is unique — while the same
    // root reloaded under a different spelling (relative path, './'
    // segments, symlink) would make raw path equality match nothing and
    // delete every live file.
    val referenced: Set[String] =
      keep.flatMap(v => snapshot(v).files.map(f =>
        Paths.get(f.path).getFileName.toString)).toSet
    val deleted = LakeTable.listDir(dataDir)(
      _.filter(p => p.getFileName.toString.endsWith(".parquet"))
        .filterNot(p => referenced.contains(p.getFileName.toString))
        .toSeq)
    deleted.foreach(Files.deleteIfExists(_))
    expire.foreach(v => Files.deleteIfExists(metaDir.resolve(f"v$v%020d.json")))
    (expire.size, deleted.size)
  }

  // -- per-batch metrics sidecar (A3) --------------------------------------
  // One JSONL file per applied batch under <root>/_metrics (the analog of
  // the reference's Prometheus counters keyed (db, sid, table, op, result),
  // `streamer/metrics.go:11-53`). Written by NAME before the snapshot
  // commit, so a crashed-and-replayed batch overwrites its own file —
  // idempotent, never double-counted.

  val metricsSchema: StructType = StructType.fromDDL(
    "batch_id BIGINT, sid STRING, kind STRING, key STRING, value BIGINT")

  def writeMetrics(name: String,
                   rows: Seq[(Long, String, String, String, Long)]): Unit = {
    val dir = Paths.get(root, "_metrics")
    Files.createDirectories(dir)
    // Jackson-serialized (not string interpolation): a config-provided sid
    // containing a quote/backslash must escape, or spark.read.json nulls
    // the row silently. LinkedHashMap keeps the field order stable.
    val lines = rows.map { case (b, sid, kind, key, v) =>
      val m = new java.util.LinkedHashMap[String, Any]()
      m.put("batch_id", b); m.put("sid", sid)
      m.put("kind", kind); m.put("key", key); m.put("value", v)
      mapper.writeValueAsString(m)
    }
    val tmp = dir.resolve(s".tmp-$name")
    Files.write(tmp, lines.mkString("\n").getBytes("UTF-8"))
    Files.move(tmp, dir.resolve(s"$name.jsonl"),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  /** The per-batch metrics table (empty if no batch wrote metrics yet). */
  def metrics(): DataFrame = {
    val dir = Paths.get(root, "_metrics")
    if (!Files.isDirectory(dir))
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        metricsSchema)
    else spark.read.schema(metricsSchema).json(dir.toString)
  }

  private def writeManifest(s: Snapshot): Unit = {
    Files.createDirectories(metaDir)
    val target = metaDir.resolve(f"v${s.version}%020d.json")
    val tmp = metaDir.resolve(s".tmp-${UUID.randomUUID()}.json")
    Files.write(tmp, mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(s))
    // publish with link(2), which fails if the name exists; a rename
    // would silently replace a version another writer already committed
    try Files.createLink(target, tmp)
    catch { case _: java.nio.file.FileAlreadyExistsException =>
      throw new IllegalStateException(s"concurrent commit: $target exists")
    } finally Files.delete(tmp)
  }
}

object LakeTable {
  private val VersionFile = "v(\\d{20})\\.json".r

  /** The bucket of a row of `snap`'s table: `pmod(xxhash64(bucket
    * columns), numBuckets)`, each bucket column read through `colFor`.
    * The one bucket rule of every writer and probe: a string-typed batch
    * key cast to the column's type first hashes like the stored value. */
  def bucketOf(snap: Snapshot, colFor: String => Column = col): Column =
    pmod(xxhash64(snap.bucketCols.map(colFor): _*), lit(snap.numBuckets))

  /** The zone-map columns of `snap`'s files: its merge key, restricted to
    * stat-comparable types. */
  private def zoneCols(snap: Snapshot): Seq[StructField] =
    snap.mergeKey.flatMap(c => snap.schema.fields.find(_.name == c))
      .filter(f => statComparable(f.dataType))

  /** Where the rows keyed by the id frame `ids` (carrying `snap`'s merge
    * key columns) live in `snap`: the buckets of their keys ([[bucketOf]])
    * and each zone-map column's min and max, from ONE aggregation. A read
    * of `snap` pruned to them ([[LakeTable.readAt]],
    * [[LakeTable.rewriteSet]]) holds every row whose key equals one of
    * `ids`', so a caller never derives a bucket or a zone itself. */
  def keysOf(snap: Snapshot, ids: DataFrame): (Set[Int], Seq[Zone]) = {
    val zc = zoneCols(snap).map(_.name)
    val r = ids.agg(collect_set(bucketOf(snap).cast("int")),
      zc.flatMap(c => Seq(min(col(c)).cast(StringType), max(col(c)).cast(StringType))): _*)
      .head()
    (r.getSeq[Int](0).toSet, zc.zipWithIndex.map { case (c, i) =>
      Zone(c, Option(r.getString(1 + 2 * i)), Option(r.getString(2 + 2 * i))) })
  }

  /** Types whose per-file min/max zone stats are recorded and comparable. */
  private[graft] def statComparable(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType | StringType => true
    case _ => false
  }

  /** Type-aware comparison for zone-map bounds: integral columns compare
    * numerically, strings by UNSIGNED UTF-8 BYTE order — the order the
    * parquet footer recorded the min/max in AND the order Spark's row-level
    * UTF8String filters use. Java String.compareTo (UTF-16 code units)
    * disagrees for supplementary-plane characters (U+10000 sorts below
    * U+FFFF in UTF-16 but above in UTF-8 bytes), which would let pruning
    * drop a file whose rows the row filter keeps. */
  private[graft] def statCompare(dt: DataType)(a: String, b: String): Int = dt match {
    case LongType | IntegerType | ShortType | ByteType =>
      java.lang.Long.compare(a.toLong, b.toLong)
    case _ => org.apache.spark.unsafe.types.UTF8String.fromString(a)
      .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))
  }
  private[lake] val mapper: ObjectMapper =
    new ObjectMapper().registerModule(DefaultScalaModule)

  def create(spark: SparkSession, root: String, spec: TableSpec,
             properties: Map[String, String] = Map.empty): LakeTable = {
    val t = new LakeTable(spark, root)
    Files.createDirectories(Paths.get(root, "_meta"))
    Files.createDirectories(Paths.get(root, "data"))
    t.writeManifest(Snapshot(
      version = 1L, currentSchemaId = 0,
      schemas = Map("0" -> spec.schema.json),
      files = Nil,
      properties = Map("commit-epoch" -> "-1", "lsn-high-watermark" -> "-1") ++ properties,
      lineage = Nil,
      keyCols = spec.keyCols, bucketCols = spec.bucketCols,
      numBuckets = spec.numBuckets, hasSid = spec.hasSid,
      timestampMs = System.currentTimeMillis()))
    t
  }

  def load(spark: SparkSession, root: String): LakeTable = {
    val t = new LakeTable(spark, root)
    t.currentVersion // fail fast if absent
    t
  }

  /** One spelling of a table root (relative paths, `./` segments
    * resolved): the key by which route grouping and the phase registry
    * tell tables apart. */
  def rootKey(root: String): String = Paths.get(root).toAbsolutePath.normalize.toString

  def exists(root: String): Boolean = {
    val meta = Paths.get(root, "_meta")
    Files.isDirectory(meta) && listDir(meta)(_.exists(
      p => VersionFile.pattern.matcher(p.getFileName.toString).matches()))
  }

  /** `Files.list` with the underlying directory stream CLOSED — the bare
    * `Files.list(p).iterator` idiom leaks one directory FD per call, which
    * exhausts the driver's fd table on a long-running deployment (surfaced
    * as "Too many open files" after ~10^4 commits in one JVM). */
  private[graft] def listDir[T](p: Path)(f: Iterator[Path] => T): T = {
    val s = Files.list(p)
    try f(s.iterator.asScala) finally s.close()
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p))
      listDir(p)(_.toSeq).foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }
}
