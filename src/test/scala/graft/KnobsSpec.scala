package graft

import graft.operators.{Similarity, TextPipeline}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Scale-knob wiring for the bucketed candidate generators: the knobs must
  * actually change the bucketing, the occupancy histogram must bound the
  * candidate volume exactly, and the driver-contract defaults must be the
  * tuned constants (oracles stay green). */
class KnobsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  private val sf = "/root/testdata/sf0.001"

  test("occupancy histogram is exact (buckets / max / candidate pairs)") {
    import spark.implicits._
    val banded = Seq(
      (1L, 0, 7L), (2L, 0, 7L), (3L, 0, 7L), // bucket (0,7): n=3 -> 3 pairs
      (4L, 0, 9L), (5L, 0, 9L), //              bucket (0,9): n=2 -> 1 pair
      (6L, 1, 7L)) //                           bucket (1,7): n=1 -> 0 pairs
      .toDF("vec_id", "band", "bk")
    val o = Similarity.occupancy(banded, Seq("band", "bk"))
    assert(o == Similarity.Occupancy(3, 3, 4))
  }

  test("candidate pairs of the banded joins never exceed the occupancy bound") {
    // cosineDedup's candidate join is exactly the in-bucket self-join, so
    // the DISTINCT pair count is <= the histogram's candidatePairs
    val pairs = Similarity.cosineDedup(spark, sf, Similarity.DedupPlanes,
      Similarity.BandBits)
    import org.apache.spark.sql.functions._
    val e = Similarity.embeddings(spark, sf)
      .select(col("vec_id"),
        Similarity.signature(
          transform(col("embedding"), x => round(x.cast("double") * 1000, 0).cast("long")),
          Similarity.DedupPlanes).as("sig"))
    val banded = e.select(col("vec_id"), posexplode(
      array((0 until Similarity.DedupBands).map(b =>
        shiftright(col("sig"), b * Similarity.BandBits) % (1 << Similarity.BandBits)): _*))
      .as(Seq("band", "bk")))
    val bound = Similarity.occupancy(banded, Seq("band", "bk")).candidatePairs
    assert(pairs.count() <= bound,
      s"verified pairs must be <= banded candidate volume $bound")
    assert(bound > 0)
  }

  test("occupancy telemetry is always on, queryable, and bounds candidates") {
    // the telemetry rides the operator's own candidate join (CollectMetrics
    // observation, harvested async by a QueryExecutionListener) — running
    // the operator's action records it; no env flag, no extra job
    // the registry is JVM-global and listener delivery is async: another
    // suite's run of the same operator (on different data) may have left
    // a record, so snapshot BEFORE the action and await a change — a
    // bare await-non-empty returns the stale record and races the fresh one
    def awaitStats(op: String, before: Option[Similarity.CandidateStats])
    : Similarity.CandidateStats = {
      val deadline = System.nanoTime() + 10L * 1000000000L
      var s = Similarity.lastCandidateStats(op)
      while ((s.isEmpty || s == before) && System.nanoTime() < deadline) {
        Thread.sleep(50); s = Similarity.lastCandidateStats(op)
      }
      s.getOrElse(fail(s"$op must record candidate-volume telemetry"))
    }
    val cosBefore = Similarity.lastCandidateStats("embed_cosine_dedup")
    val nPairs = Similarity.cosineDedup(spark, sf).count()
    val rec = awaitStats("embed_cosine_dedup", cosBefore)
    assert(rec.collidingBuckets > 0)
    assert(nPairs <= rec.candidatePairs,
      s"verified pairs must be bounded by the recorded candidate volume $rec")
    // the derived occupancy bound is consistent with the exact histogram
    import org.apache.spark.sql.functions._
    val e = Similarity.embeddings(spark, sf)
      .select(col("vec_id"),
        Similarity.signature(
          transform(col("embedding"), x => round(x.cast("double") * 1000, 0).cast("long")),
          Similarity.DedupPlanes).as("sig"))
    val banded = e.select(col("vec_id"), posexplode(
      array((0 until Similarity.DedupBands).map(b =>
        shiftright(col("sig"), b * Similarity.BandBits) % (1 << Similarity.BandBits)): _*))
      .as(Seq("band", "bk")))
    val exact = Similarity.occupancy(banded, Seq("band", "bk"))
    assert(rec.candidatePairs == exact.candidatePairs,
      s"observed join volume must equal the exact histogram's pair volume")
    assert(rec.maxOccupancyBound >= exact.maxOccupancy)

    val mhBefore = Similarity.lastCandidateStats("dedup_minhash_lsh")
    val mhPairs = TextPipeline.dedupMinhashLsh(spark, sf).count()
    val mhRec = awaitStats("dedup_minhash_lsh", mhBefore)
    assert(mhPairs <= mhRec.candidatePairs)

    // composing the SAME operator twice in one query must not collide on
    // the observation name (CollectMetrics names are plan-unique)
    val twice = Similarity.cosineDedup(spark, sf)
      .unionAll(Similarity.cosineDedup(spark, sf)).count()
    assert(twice == 2 * nPairs)
  }

  test("annLsh planes knob changes the bucketing and bounds occupancy") {
    import org.apache.spark.sql.functions._
    def maxOcc(planes: Int): Long = {
      val e = Similarity.embeddings(spark, sf).select(col("vec_id"),
        transform(col("embedding"), x => round(x.cast("double") * 1000, 0).cast("long")).as("v"))
      val bucket = (0 until planes).map { p =>
        val w = array((1 to Similarity.Dim).map(d => lit(Similarity.planeWeight(p, d))): _*)
        when(aggregate(zip_with(col("v"), w, (x, y) => x * y), lit(0L), (a, x) => a + x) > 0,
          lit(1L << p)).otherwise(lit(0L))
      }.reduce(_ + _)
      Similarity.occupancy(e.withColumn("bucket", bucket), Seq("bucket")).maxOccupancy
    }
    val occ2 = maxOcc(2)
    val occ10 = maxOcc(10)
    assert(occ10 < occ2,
      s"raising planes 2 -> 10 must shrink the largest bucket ($occ2 -> $occ10)")
    // the parameterized op itself runs at a non-default knob
    assert(Similarity.annLsh(spark, sf, 10).count() > 0)
  }

  test("annIvf knobs: more clusters -> smaller inverted lists; probe respected") {
    val res = Similarity.annIvf(spark, sf, 16, 3, 2).collect()
    assert(res.nonEmpty)
    val clustersPerQuery = res.groupBy(_.getLong(0))
      .map { case (_, rs) => rs.map(_.getLong(2)).distinct.length }
    assert(clustersPerQuery.forall(_ <= 3), "probe=3 must bound probed clusters")
    assert(res.map(_.getLong(2)).distinct.forall(c => c >= 0 && c < 16))
  }

  test("ngram dfCap knob bounds hot-shingle fan-out") {
    // dfCap = 1 keeps only unique shingles -> no shared-shingle candidates
    assert(TextPipeline.dedupNgramJaccard(spark, sf, 1).count() == 0)
    // default cap reproduces the driver-contract result
    assert(TextPipeline.dedupNgramJaccard(spark, sf, TextPipeline.DfCap).count() ==
      TextPipeline.dedupNgramJaccard(spark, sf).count())
  }

  test("incremental dedup: new batch vs persisted signatures, no corpus text rescan") {
    import spark.implicits._
    val dir = SparkTestBase.tmpDir("incdedup")
    val base = (0 until 60).map(i => s"tok$i").mkString(" ")
    val near = base.replace("tok30 ", "swapped ") // 1 of 60 tokens differs
    // corpus = ids 0..7 (split = 8), delta = ids 8, 9
    val docs = ((0L until 7L).map(i =>
      (i, s"corpus doc number $i with words " + (0 until 30).map(j => s"w$i-$j").mkString(" "),
        "en", "s", 100L)) ++ Seq(
      (7L, base, "en", "s", base.length.toLong),
      (8L, near, "en", "s", near.length.toLong), // near-dup of corpus doc 7
      (9L, "entirely unrelated fresh content here", "en", "s", 38L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.parquet(s"$dir/documents.parquet")

    val res = TextPipeline.dedupIncremental(spark, dir)
    val pairs = res.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((7L, 8L)),
      s"delta doc 8 must match corpus doc 7 (and nothing else): $pairs")
    // signature-estimate is exact integer arithmetic
    val row = res.collect().head
    assert(row.getLong(2) >= TextPipeline.IncMinMatch)
    assert(row.getLong(3) == row.getLong(2) * 1000 / TextPipeline.MinhashK)

    // steady-state phase plan: the only documents scan is the DELTA side
    // (pushed filter doc_id >= split); corpus content arrives via the
    // signatures parquet
    val sigPath = s"$dir/sigs.parquet"
    TextPipeline.minhashSignatures(
      spark.read.parquet(s"$dir/documents.parquet").filter(col("doc_id") < 8))
      .write.parquet(sigPath)
    val phase2 = TextPipeline.dedupAgainstSignatures(
      spark.read.parquet(sigPath),
      spark.read.parquet(s"$dir/documents.parquet").filter(col("doc_id") >= 8))
    val plan = phase2.queryExecution.executedPlan.toString
    val docScans = plan.linesIterator.filter(l =>
      l.contains("documents.parquet") && l.contains("FileScan")).toSeq
    assert(docScans.nonEmpty)
    assert(docScans.forall(_.contains("GreaterThanOrEqual(doc_id,8)")),
      s"every documents scan must be the pushed-down delta slice:\n$docScans")
    assert(phase2.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((7L, 8L)))

    // the SimHash half of the signatures story: delta fp vs persisted
    // corpus fps, hamming verify on fingerprints alone (no text)
    val sim = TextPipeline.dedupIncrementalSimhash(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(sim.map(t => (t._1, t._2)).toSet == Set((7L, 8L)),
      s"simhash incremental must pair 7-8 only: ${sim.toSeq}")
    assert(sim.forall(_._3 <= 3))
    // and it agrees with the full-corpus simhash op restricted to
    // (corpus, delta) pairs — same fingerprints, same bands
    val full = TextPipeline.dedupSimhash(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sim.forall(t => full.contains((t._1, t._2))))
  }

  test("loadable tokenizer vocab: in-vocab words cost 1, OOV falls back to len/4") {
    import spark.implicits._
    val dir = SparkTestBase.tmpDir("vocab")
    Seq((1L, "the quick extraordinarily fox", "en", "s", 29L),
      (2L, "", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val vf = java.nio.file.Paths.get(s"$dir/vocab.txt")
    java.nio.file.Files.writeString(vf, "the\nquick\nfox\n")
    val res = TextPipeline.tokenCountWithVocab(spark, dir, vf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the(1) + quick(1) + extraordinarily(ceil(15/4)=4) + fox(1) = 7
    assert(res == Map(1L -> 7L, 2L -> 0L), s"got $res")
    // the regex default (the oracle-gated surface) is unaffected
    assert(TextPipeline.tokenCount(spark, dir).count() == 2)
  }

  test("env names: every GRAFT_* name in src/main is recognized, every runtime knob is read") {
    import graft.config.ProcessConfig
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
    val sources = try walk.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .map(java.nio.file.Files.readString).toList finally walk.close()
    assert(sources.nonEmpty)
    val quoted = "\"((?:SPARK_)?GRAFT_[A-Z_]+)\"".r
    val names = sources.flatMap(quoted.findAllMatchIn(_).map(_.group(1))).toSet
    val recognized = (ProcessConfig.keys :+ "config").map(ProcessConfig.envName).toSet ++
      ProcessConfig.runtimeKnobs ++ ProcessConfig.deprecatedKnobs.keySet
    val stray = names.filterNot(n => n.startsWith("SPARK_GRAFT_") || recognized(n))
    assert(stray.isEmpty, s"env names outside the recognized set: $stray")
    val reads = "env\\.(?:get|getOrElse|contains)\\(\"(GRAFT_[A-Z_]+)\"".r
    val read = sources.flatMap(reads.findAllMatchIn(_).map(_.group(1))).toSet
    assert(ProcessConfig.runtimeKnobs.subsetOf(read),
      s"recognized but never read: ${ProcessConfig.runtimeKnobs -- read}")
  }

  test("minhash (K, bands) knob: r = K/bands wiring holds at non-defaults") {
    // K=12, bands=6 -> r=2 (looser S-curve): candidates are a superset of
    // the default 4x3 banding's VERIFIED pairs at the same threshold
    val loose = TextPipeline.dedupMinhashLsh(spark, sf, 12, 6).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val default = TextPipeline.dedupMinhashLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(default.subsetOf(loose),
      s"2-row bands must recall at least the 3-row bands' verified pairs")
  }
}
