package graft

import graft.gen.Gen
import graft.lake.{DataFile, LakeTable}
import graft.model.{TableMapping, Transcripts}
import graft.operators.Replay
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Snapshot expiry + data-file reclamation: vacuumed files are gone,
  * retained time travel still reads, orphans are swept. */
class LakeVacuumSpec extends AnyFunSuite {

  lazy val spark = SparkTestBase.spark

  private def parquetCount(root: String): Int =
    Files.list(Paths.get(root, "data")).iterator.asScala
      .count(_.getFileName.toString.endsWith(".parquet"))

  test("vacuum reclaims unreferenced files, keeps retained time travel") {
    val dir = SparkTestBase.tmpDir("vac")
    val lake = LakeTable.create(spark, dir, Transcripts.spec(numBuckets = 4))
    val mapping = TableMapping("transcripts", "transcripts")
    val cfg = Gen.Config(numEvents = 3000, numConvs = 30, seed = 5)
    val all = Gen.events(spark, cfg)
    import spark.implicits._
    (0 until 3).foreach { b =>
      val lo = b * 1000L; val hi = lo + 1000L
      Replay.applyBatch(lake,
        all.filter(e => (e.lsn - 1) * cfg.txnSize + e.seq >= lo &&
          (e.lsn - 1) * cfg.txnSize + e.seq < hi), mapping, b)
    }
    // plant an orphan (crashed write that never committed)
    Files.write(Paths.get(dir, "data", "borphan-dead.parquet"), Array[Byte](1))

    val before = parquetCount(dir)
    val versions = (1L to lake.currentVersion)
    val wantRows = lake.read().count()
    val prevVersion = lake.currentVersion - 1
    val prevRows = lake.read(prevVersion).count()

    val (expired, deleted) = lake.vacuum(retainVersions = 2)
    assert(expired == versions.size - 2)
    assert(deleted > 0, "rewritten bucket files + orphan must be reclaimed")
    assert(parquetCount(dir) == before - deleted)
    assert(!Files.exists(Paths.get(dir, "data", "borphan-dead.parquet")))

    // current and retained-previous snapshots still read fully
    assert(lake.read().count() == wantRows)
    assert(lake.read(prevVersion).count() == prevRows)
    // all retained files exist on disk
    lake.snapshot().files.foreach(f => assert(Files.exists(Paths.get(f.path))))
    // expired manifest is gone
    assert(!Files.exists(Paths.get(dir, "_meta", f"v${1L}%020d.json")))
    // the table keeps working after vacuum: one more batch applies cleanly
    Replay.applyBatch(lake,
      all.filter(e => (e.lsn - 1) * cfg.txnSize + e.seq >= 2000L), mapping, 3)
    assert(lake.read().count() > 0)
  }

  test("vacuum survives a different path spelling of the same root") {
    val dir = SparkTestBase.tmpDir("vacpath")
    val lake = LakeTable.create(spark, dir, Transcripts.spec(numBuckets = 2))
    val mapping = TableMapping("transcripts", "transcripts")
    val cfg = Gen.Config(numEvents = 500, numConvs = 10, seed = 7)
    Replay.applyBatch(lake, Gen.events(spark, cfg), mapping, 0)
    val rows = lake.read().count()
    assert(rows > 0)
    // reload the SAME table under a './'-spelled root: manifest paths no
    // longer string-equal Files.list's spelling — liveness must compare by
    // unique file name, or vacuum would delete every live file
    val respelled = LakeTable.load(spark, s"$dir/./")
    val (_, deleted) = respelled.vacuum(retainVersions = 1)
    assert(deleted == 0, s"vacuum deleted $deleted LIVE files under a respelled root")
    assert(lake.read().count() == rows, "table must read fully after vacuum")
  }

  test("metrics sidecar escapes quotes/backslashes in sid (JSONL integrity)") {
    val dir = SparkTestBase.tmpDir("vacmet")
    val lake = LakeTable.create(spark, dir, Transcripts.spec(numBuckets = 2))
    val evilSid = "s\"quote\\back\nnl"
    lake.writeMetrics("t-0", Seq((0L, evilSid, "op", "I", 5L)))
    val got = lake.metrics().collect()
    assert(got.length == 1)
    assert(got(0).getAs[String]("sid") == evilSid,
      s"sid must round-trip through the JSONL sidecar, got ${got(0)}")
    assert(got(0).getAs[Long]("value") == 5L)
  }

  test("vacuum compacts expired lineage to one summary per sid") {
    val dir = SparkTestBase.tmpDir("vaclin")
    val lake = LakeTable.create(spark, dir, Transcripts.spec(numBuckets = 2))
    val mapping = TableMapping("transcripts", "transcripts")
    val cfg = Gen.Config(numEvents = 1200, numConvs = 12, seed = 9, numSids = 2)
    val all = Gen.events(spark, cfg)
    import spark.implicits._
    (0 until 3).foreach { b =>
      Replay.applyBatch(lake,
        all.filter(e => e.lsn > b * 100 && e.lsn <= (b + 1) * 100), mapping, b)
    }
    val before = lake.snapshot().lineage
    val maxPerSid = before.groupBy(_.sid).view.mapValues(_.map(_.maxLsn).max).toMap
    assert(before.size >= 3)

    lake.vacuum(retainVersions = 1)
    val after = lake.snapshot().lineage
    val (summaries, live) = after.partition(_.snapshotVersion < 0)
    assert(summaries.size == summaries.map(_.sid).distinct.size,
      s"one summary per sid, got $summaries")
    // the per-sid applied watermark (what anomaly healing resumes from)
    // survives compaction exactly
    val maxAfter = after.groupBy(_.sid).view.mapValues(_.map(_.maxLsn).max).toMap
    assert(maxAfter == maxPerSid, s"$maxPerSid -> $maxAfter")
    // a second vacuum folds nothing new and keeps one summary per sid
    lake.vacuum(retainVersions = 1)
    val again = lake.snapshot().lineage.filter(_.snapshotVersion < 0)
    assert(again.map(_.sid).distinct.size == again.size)
    assert(live.forall(_.snapshotVersion >= 0))
  }

  test("lake bookkeeping does not leak file descriptors (long-running driver)") {
    import spark.implicits._
    // the bare Files.list(p).iterator idiom leaks one directory FD per
    // call; a continuously-committing driver then dies of EMFILE after
    // ~10^4 commits. 60 write+commit+read+snapshot cycles with the old
    // code leaked ~400 fds; assert near-zero growth now.
    def fds(): Int = new java.io.File("/proc/self/fd").list().length
    val dir = SparkTestBase.tmpDir("fdleak")
    val lake = LakeTable.create(spark, dir, Transcripts.spec(numBuckets = 1))
    def cycle(i: Int): Unit = {
      val df = Seq((f"c$i%08d", 0, "user", s"t$i", null: String,
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
        .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
        .withColumn("__bucket", org.apache.spark.sql.functions.lit(0))
      lake.commit(lake.writeDataFiles(df.coalesce(1),
        lake.snapshot().currentSchemaId), Set.empty)
      lake.read().count()
      if (i % 10 == 0) lake.vacuum(retainVersions = 2)
    }
    (1 to 10).foreach(cycle) // warmup (lazily-opened caches, metastore)
    val f0 = fds()
    (11 to 70).foreach(cycle)
    val growth = fds() - f0
    assert(growth < 60,
      s"fd count grew by $growth over 60 lake cycles - a directory-stream leak")
  }

  test("concurrent writers: a commit never replaces a committed version") {
    val dir = SparkTestBase.tmpDir("race")
    LakeTable.create(spark, dir, Transcripts.spec(numBuckets = 2))
    val (writers, commitsEach) = (4, 40)
    // each writer commits through its own handle, retrying a lost race;
    // every commit a writer saw succeed must be on disk as it wrote it
    val won = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val twice = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val threads = (0 until writers).map { w =>
      new Thread(() => {
        val lake = LakeTable.load(spark, dir)
        (0 until commitsEach).foreach { k =>
          var done = false
          while (!done)
            try {
              val s = lake.commit(Nil, Set.empty, properties = Map("writer" -> s"$w-$k"))
              if (won.putIfAbsent(s.version, s"$w-$k") != null) twice.add(s.version)
              done = true
            } catch { case e: IllegalStateException
                if e.getMessage.startsWith("concurrent commit") => () }
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(twice.isEmpty, s"versions committed twice: ${twice.asScala.mkString(",")}")
    val lake = LakeTable.load(spark, dir)
    assert(lake.currentVersion == 1L + writers * commitsEach)
    assert(won.size == writers * commitsEach)
    won.asScala.foreach { case (v, id) =>
      assert(lake.snapshot(v).properties("writer") == id, s"version $v was replaced")
    }
    assert(!Files.list(Paths.get(dir, "_meta")).iterator.asScala
      .exists(_.getFileName.toString.startsWith(".tmp-")), "temp manifests left behind")
  }

  test("a reader racing schema-evolving commits resolves one manifest per read") {
    import org.apache.spark.sql.functions.{col, concat, lit, when}
    import org.apache.spark.sql.types.{IntegerType, StructType}
    val dir = SparkTestBase.tmpDir("readrace")
    val lake = LakeTable.create(spark, dir, Transcripts.spec(numBuckets = 1))
    val base = lake.schema
    val versions = 120
    // version k adds column x<k> AND replaces the table's one file with
    // file k (schema id k), in ONE commit. One job stages every file up
    // front, so the commits land while the readers read: file k holds the
    // row of version k under the widest schema, whose columns past x<k>
    // are NULL and outside schema k (a prefix of the widest one)
    val widest = (1 to versions).foldLeft(base)((s, k) => s.add(s"x$k", IntegerType))
    val out = Paths.get(dir, "staged")
    spark.range(1, versions + 1).select(widest.fields.map { f =>
      (f.name match {
        case "conv_id" => concat(lit("c"), col("id"))
        case "turn_idx" => col("id")
        case n if n.startsWith("x") => when(col("id") === n.tail.toInt, col("id"))
        case _ => lit(null)
      }).cast(f.dataType).as(f.name)
    }.toIndexedSeq :+ col("id").as("k"): _*)
      .repartition(col("k")).write.partitionBy("k").parquet(out.toString)
    val staged = (1 to versions).map { k =>
      val p = LakeTable.listDir(out.resolve(s"k=$k"))(
        _.filter(_.toString.endsWith(".parquet")).toSeq).head
      (StructType(widest.take(base.size + k)),
        DataFile(p.toString, bucket = 0, Files.size(p), schemaId = k))
    }
    @volatile var done = false
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val reads = new java.util.concurrent.atomic.AtomicInteger()
    // a latest-version read must pair the schema map and the file list of
    // ONE manifest: a file under a schema id its manifest does not know yet
    // must never reach it
    val readers = (0 until 4).map(_ => new Thread(() => {
      val r = LakeTable.load(spark, dir)
      while (!done)
        try { r.read().collect(); reads.incrementAndGet() }
        catch { case e: Throwable => errors.add(e) }
    }))
    readers.foreach(_.start())
    try staged.foldLeft(Set.empty[String]) { case (prev, (schema, f)) =>
      lake.commit(Seq(f), prev, newSchema = Some(schema))
      Thread.sleep(10)
      Set(f.path)
    } finally { done = true; readers.foreach(_.join()) }
    assert(errors.isEmpty, s"${errors.size} of ${reads.get + errors.size} reads " +
      s"failed, first: ${Option(errors.peek).map(_.toString).orNull}")
    assert(reads.get > 0)
    assert(lake.snapshot().currentSchemaId == versions)
    val rows = lake.read().collect()
    assert(rows.length == 1 && rows.head.getAs[Int](s"x$versions") == versions)
  }

  test("a commit onto an existing version file fails and leaves that file intact") {
    val dir = SparkTestBase.tmpDir("exists")
    val lake = LakeTable.create(spark, dir, Transcripts.spec(numBuckets = 2))
    // another writer's manifest for version 1, published before ours
    val v1 = Paths.get(dir, "_meta", f"v${1L}%020d.json")
    val theirs = Files.readAllBytes(v1)
    val e = intercept[IllegalStateException](
      LakeTable.create(spark, dir, Transcripts.spec(numBuckets = 4)))
    assert(e.getMessage.startsWith("concurrent commit"))
    assert(java.util.Arrays.equals(Files.readAllBytes(v1), theirs))
    assert(lake.snapshot().numBuckets == 2)
  }
}
