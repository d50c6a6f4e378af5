package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data pipeline operators over a `documents(doc_id, text, lang,
  * source, n_chars)` corpus — the large-scale curation ops a transcript
  * lake needs beyond CDC ingest: exact + near deduplication (MinHash-LSH,
  * SimHash, n-gram Jaccard), language ID, quality scoring, token counting,
  * fingerprinting.
  *
  * Scale notes (the 100 TB path):
  *   - everything is expressed as shuffles keyed by doc/shingle/band —
  *     no driver-side loops, no cross joins except where bounded by LSH
  *     candidate buckets;
  *   - frequent-shingle capping (df <= `DfCap`) bounds the worst-case
  *     fan-out of the shared-shingle self-join (hot-token skew);
  *   - all hashing is engine-portable (md5 / integer arithmetic), so the
  *     DuckDB oracle reproduces results bit-exactly.
  */
object TextPipeline {

  def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  /** Parallelism floor for scans feeding work-multiplying operators.
    *
    * Every text operator multiplies its input hundreds-fold (word/shingle
    * explode, per-token md5) — guide §2.5's "one unsplittable input"
    * shape: a corpus that fits ONE parquet row group scans as ONE task, so
    * the whole derivation chain runs on a single core no matter how wide
    * the session is. When the relation's own size statistics say the scan
    * cannot fill the session (fewer expected splits than cores), spread it
    * round-robin first; at real scale the condition is false and this is
    * a zero-cost no-op — the adaptive version of a fixed repartition(n),
    * which would be tuned to one host. */
  private[operators] def spreadTinyScan(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val par = spark.sparkContext.defaultParallelism
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
    if (bytes < BigInt(maxSplit) * par) df.repartition(par)
    else df
  }

  /** Words (space-split, empties dropped) and word-3-gram shingles. */
  private val words: Column = filter(split(col("text"), " "), w => w =!= "")

  /** Bind `arr` ONCE per row as a HOF lambda variable, then apply the
    * array-producing `f` to the bound variable. Interpreted HOFs
    * (CodegenFallback — every Spark higher-order function) re-evaluate an
    * INLINED child expression at every reference inside the lambda body:
    * a shingle builder whose lambda closes over filter(split(text))
    * re-splits the document per element_at, turning the O(words) pass
    * into O(n · grams · words). The singleton-array transform makes the
    * inner references read a bound variable instead — measured 11.9 →
    * 0.6 s for the 8-gram corpus explode at sf0.1, same shape for the
    * 3-gram shingles feeding the whole dedup family. */
  private def bound(arr: Column)(f: Column => Column): Column =
    flatten(transform(array(arr), f))

  private def shingles(w: Column): Column =
    when(size(w) >= 3,
      transform(sequence(lit(1), size(w) - 2), i =>
        concat_ws(" ", element_at(w, i), element_at(w, i + 1), element_at(w, i + 2))))
      .otherwise(array().cast("array<string>"))

  /** (doc_id, s) distinct shingle pairs. */
  private def shingleSet(d: DataFrame): DataFrame =
    d.select(col("doc_id"), explode(bound(words)(shingles)).as("s")).distinct()

  private val shingleSetSql =
    """w AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM documents),
sh AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, greatest(len(ws) - 1, 1)),
       i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s FROM w)"""

  // ---------------------------------------------------------------------
  // D1: exact dedup — hash-groupBy, one shuffle on the content hash
  // ---------------------------------------------------------------------

  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .groupBy(md5(col("text")).as("text_md5"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy("keep_id")

  val dedupExactOracle: String =
    """SELECT md5(text) AS text_md5, min(doc_id) AS keep_id, count(*) AS n_copies
FROM documents GROUP BY 1 ORDER BY keep_id"""

  // ---------------------------------------------------------------------
  // D2: n-gram Jaccard near-dup — candidate pairs via shared rare
  // shingles (df cap tames hot-shingle skew), exact Jaccard >= 0.8
  // ---------------------------------------------------------------------

  val DfCap = 25

  /** Default-knob entry (driver contract). */
  def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame =
    dedupNgramJaccard(spark, dir, DfCap)

  /** @param dfCap document-frequency cap: shingles shared by more than
    *              `dfCap` docs are dropped from candidate generation — the
    *              knob bounding the shared-shingle self-join's worst-case
    *              fan-out O(N · dfCap) (hot-token skew). Documented recall
    *              trade: a pair sharing ONLY hot shingles is missed. */
  def dedupNgramJaccard(spark: SparkSession, dir: String, dfCap: Int): DataFrame = {
    val sh = shingleSet(docs(spark, dir))
    val rare = sh.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap).select("s")
    val kept = sh.join(rare, "s")
    val cnt = kept.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = Similarity.observeCandidates("dedup_ngram_jaccard",
      kept.as("a").join(kept.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id")),
      col("a.s"))
      .groupBy(col("a.doc_id").as("a"), col("b.doc_id").as("b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(cnt.withColumnRenamed("doc_id", "a").withColumnRenamed("n", "na"), "a")
      .join(cnt.withColumnRenamed("doc_id", "b").withColumnRenamed("n", "nb"), "b")
      .withColumn("jac", col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jac") >= 0.8)
      .select("a", "b", "inter", "jac")
      .orderBy("a", "b")
  }

  val dedupNgramJaccardOracle: String =
    s"""WITH $shingleSetSql,
rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= $DfCap),
kept AS (SELECT sh.* FROM sh JOIN rare USING (s)),
cnt AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
inter AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
          FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
SELECT a, b, inter, CAST(inter AS DOUBLE) / (ca.n + cb.n - inter) AS jac
FROM inter JOIN cnt ca ON ca.doc_id = a JOIN cnt cb ON cb.doc_id = b
WHERE CAST(inter AS DOUBLE) / (ca.n + cb.n - inter) >= 0.8
ORDER BY a, b"""

  // ---------------------------------------------------------------------
  // D3: MinHash + LSH — K=12 md5-min signatures, 4 bands x r=3,
  // bucket-join candidates, exact-Jaccard verification >= 0.8
  // ---------------------------------------------------------------------

  val MinhashK = 12
  val Bands = 4 // r = 3

  /** Default-knob entry (driver contract). */
  def dedupMinhashLsh(spark: SparkSession, dir: String): DataFrame =
    dedupMinhashLsh(spark, dir, MinhashK, Bands)

  /** @param numHashes MinHash signature length K
    * @param numBands  LSH bands (rows per band r = K/numBands). More rows
    *                  per band -> fewer, purer candidates; more bands ->
    *                  higher recall. The (K, bands) pair tunes the LSH
    *                  S-curve to the Jaccard threshold at corpus scale. */
  def dedupMinhashLsh(spark: SparkSession, dir: String, numHashes: Int,
                      numBands: Int): DataFrame =
    lshVerifiedPairs(docs(spark, dir), numHashes, numBands, "dedup_minhash_lsh")

  /** The MinHash-LSH verified-pair kernel over an arbitrary (doc_id, text)
    * frame: band-join candidates, exact-Jaccard verification >= 0.8.
    * Factored out so the incremental clustering path can compute
    * ingest-time corpus pairs with the SAME predicate the full operator
    * uses. */
  private def lshVerifiedPairs(d: DataFrame, numHashes: Int,
                               numBands: Int, opLabel: String): DataFrame = {
    require(numHashes % numBands == 0,
      s"bad minhash knobs: K=$numHashes bands=$numBands")
    val r = numHashes / numBands
    val sh = shingleSet(d)
    val sigCols = (0 until numHashes).map(k =>
      min(md5(concat(lit(s"$k|"), col("s")))).as(s"h$k"))
    val sig = sh.groupBy("doc_id").agg(sigCols.head, sigCols.tail: _*)
    val bands = (0 until numBands).map { b =>
      sig.select(col("doc_id"), lit(b).as("band"),
        concat((0 until r).map(j => col(s"h${b * r + j}")): _*).as("bk"))
    }.reduce(_ unionAll _)
    val cand = Similarity.observeCandidates(opLabel,
      bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bk") === col("y.bk") &&
          col("x.doc_id") < col("y.doc_id")),
      struct(col("x.band"), col("x.bk")))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b")).distinct()
    val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    // Verify ONLY the LSH candidate pairs: shingle intersections are
    // computed by joining each candidate pair to its two shingle sets —
    // fan-out O(|cand| * shingles/doc) — NOT by the full sh-x-sh
    // shared-shingle self-join, whose worst case is quadratic in the
    // occupancy of one hot shingle (the round-1 scale flaw).
    val inter = cand
      .join(sh.select(col("doc_id").as("a"), col("s")), "a")
      .join(sh.select(col("doc_id").as("b"), col("s")), Seq("b", "s"))
      .groupBy("a", "b").agg(count(lit(1)).as("inter"))
    inter
      .join(cnt.withColumnRenamed("doc_id", "a").withColumnRenamed("n", "na"), "a")
      .join(cnt.withColumnRenamed("doc_id", "b").withColumnRenamed("n", "nb"), "b")
      .withColumn("jac", col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jac") >= 0.8)
      .select("a", "b", "jac")
      .orderBy("a", "b")
  }

  val dedupMinhashLshOracle: String = {
    val sigCols = (0 until MinhashK)
      .map(k => s"min(md5('$k|' || s)) AS h$k").mkString(", ")
    val bandRows = (0 until Bands)
      .map(b => s"SELECT doc_id, $b AS band, h${b * 3} || h${b * 3 + 1} || h${b * 3 + 2} AS bk FROM mh")
      .mkString("\n  UNION ALL ")
    s"""WITH $shingleSetSql,
mh AS (SELECT doc_id, $sigCols FROM sh GROUP BY doc_id),
bands AS ($bandRows),
cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM bands x JOIN bands y
         ON x.band = y.band AND x.bk = y.bk AND x.doc_id < y.doc_id),
cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (SELECT p.doc_id AS a, q.doc_id AS b, count(*) AS inter
          FROM sh p JOIN sh q ON p.s = q.s AND p.doc_id < q.doc_id GROUP BY 1, 2)
SELECT a, b, CAST(inter AS DOUBLE) / (ca.n + cb.n - inter) AS jac
FROM cand JOIN inter USING (a, b)
JOIN cnt ca ON ca.doc_id = a JOIN cnt cb ON cb.doc_id = b
WHERE CAST(inter AS DOUBLE) / (ca.n + cb.n - inter) >= 0.8
ORDER BY a, b"""
  }

  // ---------------------------------------------------------------------
  // D4: SimHash(32) — md5-derived word bits, 4 x 8-bit bands for
  // candidates, hamming <= 3 near-dups. Four bands are the pigeonhole
  // minimum for guaranteed recall at hamming <= 3: with <= 3 differing
  // bits across 4 bands, at least one band is identical (the round-1
  // 2 x 16-bit banding silently missed pairs whose 3 errors split 2+1
  // across the halves).
  // ---------------------------------------------------------------------

  val SimhashBits = 32 // one bit per md5 hex nibble, word multiplicity kept
  val SimhashBands = 4 // 8-bit bands: guaranteed recall at hamming <= 3

  def dedupSimhash(spark: SparkSession, dir: String): DataFrame = {
    // spread the scan first (guide §2.5): the word explode + per-word md5
    // + 32 conditional sums multiply the input ~10^2-fold, and a corpus
    // that fits one parquet split would otherwise run the whole
    // derivation on one core (measured as the dominant 1.8 s single-task
    // stage). Applied at the SCAN-rooted call sites only — for derived
    // in-batch frames (the signature store's re-sign path) the extra
    // exchange measured as a net loss.
    val banded = fpBands(simhashSignatures(spreadTinyScan(docs(spark, dir))))
    Similarity.observeCandidates("dedup_simhash",
      banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bk") === col("y.bk") &&
          col("x.doc_id") < col("y.doc_id")),
      struct(col("x.band"), col("x.bk")))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        bit_count(col("x.fp").bitwiseXOR(col("y.fp"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
      .orderBy("a", "b")
  }

  val dedupSimhashOracle: String = {
    val sumCols = (0 until SimhashBits).map(j =>
      s"sum(CASE WHEN ascii(substr(m, ${j + 1}, 1)) % 2 = 1 THEN 1 ELSE -1 END) AS s$j")
      .mkString(", ")
    val fpExpr = (0 until SimhashBits).map(j => s"CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END")
      .mkString(" + ")
    s"""WITH d AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS wd FROM documents),
dm AS (SELECT doc_id, md5(wd) AS m FROM d),
sums AS (SELECT doc_id, $sumCols FROM dm GROUP BY doc_id),
fp AS (SELECT doc_id, CAST($fpExpr AS BIGINT) AS fp FROM sums),
banded AS (SELECT doc_id, fp, b.band, (fp >> (b.band * 8)) % 256 AS bk
           FROM fp, range(0, $SimhashBands) b(band)),
pairs AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b, bit_count(xor(x.fp, y.fp)) AS hamming
  FROM banded x JOIN banded y ON x.band = y.band AND x.bk = y.bk AND x.doc_id < y.doc_id)
SELECT a, b, hamming FROM pairs WHERE hamming <= 3 ORDER BY a, b"""
  }

  // ---------------------------------------------------------------------
  // D5: INCREMENTAL dedup — the composition the CDC half of this engine
  // needs: a continuously-ingesting lake cannot re-shingle 100 TB of
  // corpus text per new shard. Instead, MinHash signatures are persisted
  // as a lake-side signatures table at ingest time (one-time cost per
  // document), and a new batch dedups against the CORPUS SIGNATURES ONLY:
  //   - candidates: LSH band join (delta bands x corpus bands, hash join);
  //   - verify: signature agreement (matching minhashes / K estimates
  //     Jaccard; E[match] = jac * K) — no corpus text re-scan, by
  //     construction.
  // Corpus-side cost per delta batch: a scan of the (tiny, K-column)
  // signatures table — O(corpus docs), not O(corpus bytes); at 100 TB the
  // signatures table is ~4 orders of magnitude smaller than the text.
  // ---------------------------------------------------------------------

  /** Signature-agreement verify threshold: >= 9 of K=12 matching
    * minhashes estimates Jaccard >= 0.75 (E[match] = jac*K = 9.6 at the
    * 0.8 near-dup bar). */
  val IncMinMatch = 9

  /** MinHash signature table for a document set: one row per doc,
    * h0..h{K-1} md5-min signatures — the persisted ingest artifact.
    * Aggregates the RAW shingle stream, not the distinct set: min over a
    * multiset equals min over its support, so the distinct's full shuffle
    * of the shingle stream was pure cost — without it the map-side
    * partial aggregation reduces each partition to one row per doc BEFORE
    * the exchange (O(docs) rows shuffled instead of O(shingles)). */
  def minhashSignatures(d: DataFrame): DataFrame = {
    val sh = d.select(col("doc_id"), explode(bound(words)(shingles)).as("s"))
    val sigCols = (0 until MinhashK).map(k =>
      min(md5(concat(lit(s"$k|"), col("s")))).as(s"h$k"))
    sh.groupBy("doc_id").agg(sigCols.head, sigCols.tail: _*)
  }

  /** Band rows (doc_id, band, bk) derived from a signature table — pure
    * column arithmetic on the signatures, no text. ONE scan: posexplode
    * over the in-row array of band keys (the union-of-projections shape
    * scanned the signature frame [[Bands]] times). */
  private def sigBands(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"), posexplode(array((0 until Bands).map(b =>
      concat((0 until 3).map(j => col(s"h${b * 3 + j}")): _*)): _*))
      .as(Seq("band", "bk")))

  /** Dedup a new document batch against a PERSISTED corpus signature
    * table: band-join candidates, signature-agreement verify. The only
    * text scanned is the delta's. */
  def dedupAgainstSignatures(corpusSigs: DataFrame, delta: DataFrame): DataFrame =
    sigAgreement(corpusSigs, minhashSignatures(delta), "dedup_incremental",
      symmetric = false)
      .withColumn("jac_est_e3", expr(s"match_cnt * 1000L div $MinhashK"))
      .select(col("a").as("corpus_id"), col("b").as("new_id"),
        col("match_cnt"), col("jac_est_e3"))
      .orderBy("corpus_id", "new_id")

  // temp signature lakes built by the driver-contract entries are removed
  // on JVM exit (one shutdown hook, dirs accumulated)
  private val tmpLakes = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  private lazy val tmpLakeHook: Unit = Runtime.getRuntime.addShutdownHook(
    new Thread(() => tmpLakes.forEach(p => rmTree(p.toFile))))
  private def rmTree(x: java.io.File): Unit = {
    if (x.isDirectory) Option(x.listFiles()).foreach(_.foreach(rmTree))
    x.delete()
  }

  /** Temp-artifact scope for STEADY-STATE callers: every temp dir the
    * clustering kernels create inside `f` (on this thread) is deleted when
    * `f` returns. The CDC ingest loop invokes the kernels once per
    * MICRO-BATCH — without a scope, each batch would leave its pairs/labels
    * parquet in the tmp dir until JVM exit (unbounded for a long-running
    * orchestrator). The caller must LAND every result inside `f` (the
    * label store commits to its lake table before returning); the
    * driver-contract entries return frames that still read their temp dirs
    * and correctly keep the shutdown-hook lifetime by not using a scope. */
  private val tmpScope =
    new ThreadLocal[scala.collection.mutable.ArrayBuffer[java.nio.file.Path]]()
  private[operators] def scopedTmp[T](f: => T): T = {
    val outer = tmpScope.get()
    val mine = scala.collection.mutable.ArrayBuffer[java.nio.file.Path]()
    tmpScope.set(mine)
    try f
    finally {
      tmpScope.set(outer)
      mine.foreach { p => tmpLakes.remove(p); rmTree(p.toFile) }
    }
  }
  private def registerTmp(art: java.nio.file.Path): Unit = {
    tmpLakeHook
    tmpLakes.add(art)
    Option(tmpScope.get()).foreach(_ += art)
  }

  /** Land a (bounded) frame into a temp parquet dir and return the scan —
    * a LINEAGE/PLAN CUT for deep single-batch plans: Catalyst re-analyzes
    * the full logical tree on EVERY action, so a consumer running several
    * actions over a many-join fold pays the planning cost each time;
    * landing once makes each replan start from a constant-size scan leaf.
    * The dir follows the caller's temp lifetime ([[scopedTmp]] if active,
    * else the exit hook). */
  private[operators] def landTmp(df: DataFrame, name: String): DataFrame = {
    val art = java.nio.file.Files.createTempDirectory(name)
    registerTmp(art)
    df.write.parquet(s"$art/data.parquet")
    df.sparkSession.read.parquet(s"$art/data.parquet")
  }

  /** One-time ingest phase for the driver-contract entries: scan the
    * corpus text ONCE and materialize its signatures (MinHash + SimHash,
    * one row per doc) into a signatures LAKE table — the exact artifact
    * [[SignatureStore.applyBatch]] maintains continuously during CDC
    * ingest, so the driver gate exercises the real composition shape. */
  private def ingestCorpusSignatures(spark: SparkSession, corpus: DataFrame,
                                     minhash: Boolean = true,
                                     simhash: Boolean = true): graft.lake.LakeTable = {
    tmpLakeHook
    val root = java.nio.file.Files.createTempDirectory("graft-siglake")
    tmpLakes.add(root)
    val sig = graft.lake.LakeTable.create(spark, s"$root/signatures",
      SignatureStore.spec())
    val rows = SignatureStore.signaturesOf(
      spreadTinyScan(
        corpus.select(col("doc_id").cast("string").as("doc_id"), col("text"))),
      minhash = minhash, simhash = simhash, uniqueIds = true)
    val snap = sig.snapshot()
    val withB = rows.withColumn("__bucket", graft.lake.LakeTable.bucketOf(snap))
    sig.commit(sig.writeDataFiles(withB, snap), Set.empty)
    sig
  }

  /** Driver-contract entry: the first 4/5 of the documents table plays the
    * ingested corpus — its signatures materialized through the signatures
    * LakeTable (the CDC-maintained artifact) — and the last 1/5 plays the
    * newly-arriving batch, deduped against the lake signatures only. */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val split = (d.agg(max("doc_id")).head().getLong(0) + 1L) * 4L / 5L
    val sig = ingestCorpusSignatures(spark, d.filter(col("doc_id") < split),
      simhash = false) // the stand-in rebuild only needs the family it reads
    // steady state: delta text + corpus SIGNATURES only
    dedupAgainstSignatures(
      sig.read().select(col("doc_id").cast("long").as("doc_id") +:
        (0 until MinhashK).map(k => col(s"h$k")): _*),
      d.filter(col("doc_id") >= split))
  }

  /** SimHash fingerprint table for a document set: one row per doc,
    * `fp` 32-bit simhash — the second persisted ingest artifact (with
    * [[minhashSignatures]] these two cover both near-dup families without
    * corpus text). Shares dedupSimhash's exact fingerprint definition. */
  def simhashSignatures(d: DataFrame): DataFrame = {
    val w = d.select(col("doc_id"), explode(words).as("wd"))
      .withColumn("m", md5(col("wd")))
    val sumCols = (0 until SimhashBits).map(j =>
      sum(when(ascii(substring(col("m"), j + 1, 1)) % 2 === 1, 1).otherwise(-1))
        .as(s"s$j"))
    w.groupBy("doc_id").agg(sumCols.head, sumCols.tail: _*)
      .select(col("doc_id"),
        (0 until SimhashBits).map(j => when(col(s"s$j") > 0, 1L << j).otherwise(0L))
          .reduce(_ + _).as("fp"))
  }

  private def fpBands(fps: DataFrame): DataFrame =
    fps.select(col("doc_id"), col("fp"), posexplode(
      array((0 until SimhashBands).map(b =>
        shiftright(col("fp"), b * 8) % 256): _*)).as(Seq("band", "bk")))

  /** Incremental SimHash near-dup: delta batch fingerprints vs the
    * persisted corpus fingerprint table — banded candidates (pigeonhole-
    * complete at hamming <= 3), hamming verify on the fps alone. */
  def dedupSimhashAgainstFps(corpusFps: DataFrame, delta: DataFrame): DataFrame =
    Similarity.observeCandidates("dedup_incremental_simhash",
      fpBands(corpusFps).as("x")
        .join(fpBands(simhashSignatures(spreadTinyScan(delta))).as("y"),
        col("x.band") === col("y.band") && col("x.bk") === col("y.bk")),
      struct(col("x.band"), col("x.bk")))
      .select(col("x.doc_id").as("corpus_id"), col("y.doc_id").as("new_id"),
        bit_count(col("x.fp").bitwiseXOR(col("y.fp"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
      .orderBy("corpus_id", "new_id")

  /** Driver-contract entry, same corpus/delta split and the same lake-
    * table signature artifact as dedupIncremental (one table carries both
    * families; this one reads the `fp` column). Rows with NULL fp (docs
    * with no words) band to NULL keys and can never produce candidates. */
  def dedupIncrementalSimhash(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val split = (d.agg(max("doc_id")).head().getLong(0) + 1L) * 4L / 5L
    val sig = ingestCorpusSignatures(spark, d.filter(col("doc_id") < split),
      minhash = false)
    dedupSimhashAgainstFps(
      sig.read().select(col("doc_id").cast("long").as("doc_id"), col("fp")),
      d.filter(col("doc_id") >= split))
  }

  val dedupIncrementalSimhashOracle: String = {
    val sumCols = (0 until SimhashBits).map(j =>
      s"sum(CASE WHEN ascii(substr(m, ${j + 1}, 1)) % 2 = 1 THEN 1 ELSE -1 END) AS s$j")
      .mkString(", ")
    val fpExpr = (0 until SimhashBits).map(j => s"CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END")
      .mkString(" + ")
    s"""WITH d AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS wd FROM documents),
dm AS (SELECT doc_id, md5(wd) AS m FROM d),
sums AS (SELECT doc_id, $sumCols FROM dm GROUP BY doc_id),
fp AS (SELECT doc_id, CAST($fpExpr AS BIGINT) AS fp FROM sums),
sp AS (SELECT (max(doc_id) + 1) * 4 // 5 AS split FROM documents),
bc AS (SELECT doc_id, fp, b.band, (fp >> (b.band * 8)) % 256 AS bk
       FROM fp, sp, range(0, $SimhashBands) b(band) WHERE doc_id < split),
bd AS (SELECT doc_id, fp, b.band, (fp >> (b.band * 8)) % 256 AS bk
       FROM fp, sp, range(0, $SimhashBands) b(band) WHERE doc_id >= split),
pairs AS (
  SELECT DISTINCT x.doc_id AS corpus_id, y.doc_id AS new_id,
         bit_count(xor(x.fp, y.fp)) AS hamming
  FROM bc x JOIN bd y ON x.band = y.band AND x.bk = y.bk)
SELECT corpus_id, new_id, hamming FROM pairs WHERE hamming <= 3
ORDER BY corpus_id, new_id"""
  }

  val dedupIncrementalOracle: String = {
    val sigCols = (0 until MinhashK)
      .map(k => s"min(md5('$k|' || s)) AS h$k").mkString(", ")
    def bandRows(src: String) = (0 until Bands)
      .map(b => s"SELECT doc_id, $b AS band, h${b * 3} || h${b * 3 + 1} || h${b * 3 + 2} AS bk FROM $src")
      .mkString("\n  UNION ALL ")
    val matchSum = (0 until MinhashK)
      .map(k => s"CASE WHEN a.h$k = b.h$k THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH $shingleSetSql,
sp AS (SELECT (max(doc_id) + 1) * 4 // 5 AS split FROM documents),
mhc AS (SELECT doc_id, $sigCols FROM sh, sp WHERE doc_id < split GROUP BY doc_id),
mhd AS (SELECT doc_id, $sigCols FROM sh, sp WHERE doc_id >= split GROUP BY doc_id),
bc AS (${bandRows("mhc")}),
bd AS (${bandRows("mhd")}),
cand AS (SELECT DISTINCT x.doc_id AS corpus_id, y.doc_id AS new_id
         FROM bc x JOIN bd y ON x.band = y.band AND x.bk = y.bk),
m AS (SELECT c.corpus_id, c.new_id, CAST($matchSum AS BIGINT) AS match_cnt
      FROM cand c JOIN mhc a ON a.doc_id = c.corpus_id
           JOIN mhd b ON b.doc_id = c.new_id)
SELECT corpus_id, new_id, match_cnt, match_cnt * 1000 // $MinhashK AS jac_est_e3
FROM m WHERE match_cnt >= $IncMinMatch
ORDER BY corpus_id, new_id"""
  }

  // ---------------------------------------------------------------------
  // D6: near-dup CLUSTERING — connected components over the verified
  // MinHash-LSH pair graph, so curation can pick ONE canonical doc per
  // duplicate cluster instead of dropping the higher id of every pair
  // (pairwise dropping over-deletes on transitive chains a~b~c: it drops
  // b AND c; clustering keeps exactly one). Min-label propagation:
  //   label(doc) := min(label(doc), min over neighbors label(nbr))
  // iterated to fixpoint — each round is one shuffle-join + aggregate, and
  // the round count is the cluster diameter (near-dup clusters are
  // shallow: O(log n) rounds in practice — the standard distributed
  // connected-components shape, GraphX-equivalent without the RDD API).
  // Deterministic: cluster_id = the component's minimum doc_id.
  // ---------------------------------------------------------------------

  /** Max label-propagation rounds before failing loudly. With pointer
    * doubling each round also adopts its label's label, so rounds needed
    * ~ log2(diameter): 20 rounds covers any graph a physical corpus can
    * produce — hitting the cap indicates a propagation bug, not data. */
  val ClusterMaxIters = 20

  /** Pair-count ceiling of [[propagateLabels]]' small-graph fast path
    * (driver union-find, one job); above it the distributed fixpoint runs. */
  val CcCollectCap = 200000L

  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    clusterFrame(spark, dir, propagateLabels(spark,
      dedupMinhashLsh(spark, dir).select(col("a"), col("b"))))

  /** Min-label propagation to fixpoint over an undirected pair graph
    * (a, b) — the distributed connected-components kernel shared by the
    * full ([[dedupClusters]]) and incremental ([[foldLabels]])
    * paths. Returns the converged (doc_id, cluster_id) frame for
    * PAIR-INVOLVED vertices only: a LOCAL relation (driver union-find)
    * for graphs at or under [[CcCollectCap]] pairs —
    * batch-bounded, so plans embedding it carry up to ~2·cap vertex rows
    * — or a landed parquet scan (pins no cache blocks) for corpus-scale
    * graphs. */
  def propagateLabels(spark: SparkSession, pairsIn: DataFrame): DataFrame =
    propagateLabels(spark, pairsIn, bounded = false)

  /** @param bounded caller PROMISES the pair graph is batch-bounded (a
    *                per-batch root/delta graph, never corpus-sized): the
    *                small-graph fast path then probes `pairsIn` directly —
    *                one CollectLimit job, no parquet land+re-read round
    *                trip — falling back to the landed path only if the
    *                probe overflows the cap. Unbounded (corpus-scale)
    *                callers keep the land-first order so an over-cap graph
    *                never executes its producing DAG twice. */
  def propagateLabels(spark: SparkSession, pairsIn: DataFrame,
                      bounded: Boolean): DataFrame =
    propagateLabels(spark, pairsIn, bounded, CcCollectCap)

  /** @param collectCap the fast path's pair-count ceiling; 0 forces the
    *                   distributed fixpoint (tests cover both paths). */
  private[graft] def propagateLabels(spark: SparkSession, pairsIn: DataFrame,
                                     bounded: Boolean, collectCap: Long): DataFrame = {
    // small-graph fast path: a pair set at or under the cap (the normal
    // case for a per-BATCH root/pair graph — bounded by the batch, not
    // the corpus) converges on the driver via min-rooted union-find in
    // one limit-probe collect, and returns as a LOCAL relation
    // (batch-bounded, no lineage to cut, broadcast-joinable downstream).
    // Deterministic (union-by-min is order-independent) and type-generic
    // (doc_id may be long or string). String ids compare by UTF-8 BYTE
    // order (UTF8String), matching Spark's binary ordering — the
    // distributed path's `least`/`min` — so both paths elect the same
    // canonical cluster_id for any id content (Java String.compareTo is
    // UTF-16 code-unit order and disagrees for supplementary-plane
    // characters). Caps at or above Int.MaxValue clamp (limit takes an
    // Int; a >2G-row collect is impossible anyway), so a huge cap means
    // "always fast path" as documented, never a silent fall-through.
    val cap = math.min(collectCap, Int.MaxValue - 1L)
    val idType = pairsIn.schema.head.dataType
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", idType, nullable = false),
      org.apache.spark.sql.types.StructField("cluster_id", idType, nullable = false)))
    def unionFind(probe: Array[org.apache.spark.sql.Row]): DataFrame = {
      val parent = scala.collection.mutable.HashMap[Any, Any]()
      def find(x0: Any): Any = {
        var x = x0
        while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
        x
      }
      @inline def lt(a: Any, b: Any): Boolean = (a, b) match {
        case (x: String, y: String) =>
          org.apache.spark.unsafe.types.UTF8String.fromString(x)
            .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y)) < 0
        case _ => a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
      }
      probe.foreach { r =>
        val (a, b) = (r.get(0), r.get(1))
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
      }
      val rows = parent.keys.toSeq.map(k =>
        org.apache.spark.sql.Row(k, find(k)))
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(rows.asJava, outSchema)
    }
    if (bounded && cap > 0) {
      // batch-bounded contract: probe the producing DAG directly — saves
      // the land+re-read round trip on the per-micro-batch hot path
      val probe = pairsIn.select(col("a"), col("b")).limit(cap.toInt + 1).collect()
      if (probe.length <= cap) return unionFind(probe)
    }
    val art = java.nio.file.Files.createTempDirectory("graft-clusters")
    registerTmp(art)
    // LINEAGE CUT, twice — the non-negotiable part of iterative Spark:
    // (1) the incoming pair graph's producing DAG can be arbitrarily large
    // (band joins over text-derived signatures), and (2) `labels` appears
    // twice per round, so a plan built on plans DOUBLES per round.
    // Catalyst re-analyzes/re-optimizes the FULL logical tree on every
    // action (cache substitution only happens at physical planning), so a
    // persist alone leaves each round paying optimizer time exponential in
    // the round number over the input DAG — measured 10 s/40 s for rounds
    // 1/2 on a 90-edge graph. Landing pairs once and each round's labels
    // to parquet makes every round replan from a constant-size scan leaf.
    // The landing runs FIRST for unbounded callers (the input DAG computes
    // exactly once on either path); the probe below reads the landed file,
    // so an over-cap corpus graph never re-executes the DAG.
    pairsIn.select(col("a"), col("b")).write.parquet(s"$art/pairs.parquet")
    val pairs = spark.read.parquet(s"$art/pairs.parquet")
    if (!bounded && cap > 0) {
      val probe = pairs.limit(cap.toInt + 1).collect()
      if (probe.length <= cap) return unionFind(probe)
    }
    val edges = pairs.unionAll(pairs.select(col("b").as("a"), col("a").as("b")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // iterate ONLY over the pair graph's vertices: docs outside any pair
      // never change label, so the iteration state is O(dup-involved docs)
      // — at corpus scale orders of magnitude smaller than the corpus —
      // and singletons join back once at the end
      edges.select(col("a").as("doc_id")).distinct()
        .select(col("doc_id"), col("doc_id").as("cluster_id"))
        .write.parquet(s"$art/labels-0.parquet")
      var labels = spark.read.parquet(s"$art/labels-0.parquet")
      var converged = false
      var iters = 0
      while (!converged) {
        require(iters < ClusterMaxIters,
          s"label propagation did not converge in $ClusterMaxIters rounds")
        iters += 1
        val nbrMin = edges.join(labels, edges("b") === labels("doc_id"))
          .groupBy(edges("a").as("doc_id"))
          .agg(min(col("cluster_id")).as("nbr_min"))
        // pointer doubling: every cluster_id is itself a vertex (labels
        // start as own-id and only ever adopt another vertex's id), so
        // label(label) is one more self-join — rounds needed drop from
        // O(diameter) to O(log diameter), which is what lets a single
        // fail-loud cap cover arbitrarily chain-shaped duplicate graphs
        val grand = labels.select(col("doc_id").as("cluster_id"),
          col("cluster_id").as("g"))
        // the round's write IS its lineage cut; the changed flag rides in
        // the landed file, so convergence is one trivial scan-aggregate —
        // no second join-vs-old-labels job per round
        val best = least(col("cluster_id"), col("g"),
          coalesce(col("nbr_min"), col("cluster_id")))
        labels.join(nbrMin, Seq("doc_id"), "left_outer")
          .join(grand, Seq("cluster_id"))
          .select(col("doc_id"), best.as("cluster_id"),
            (best < col("cluster_id")).cast("long").as("changed"))
          .write.parquet(s"$art/labels-$iters.parquet")
        val landed = spark.read.parquet(s"$art/labels-$iters.parquet")
        val changed = landed
          .agg(coalesce(sum(col("changed")), lit(0L))).head().getLong(0)
        labels = landed.select(col("doc_id"), col("cluster_id"))
        converged = changed == 0
      }
      labels // parquet-backed: pins no cache blocks (round-4 lesson)
    } finally edges.unpersist(blocking = false)
  }

  /** Full per-document cluster frame from a dup-involved label table:
    * sizes come from the TINY converged label table (one corpus pass
    * total); singletons (docs in no pair) are their own canonical with
    * size 1 via the coalesces. */
  private def clusterFrame(spark: SparkSession, dir: String,
                           lbl: DataFrame): DataFrame =
    clusterFrame(docs(spark, dir), lbl)

  private def clusterFrame(base: DataFrame, lbl: DataFrame): DataFrame = {
    val sizes = lbl.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    base.select(col("doc_id"))
      .join(lbl, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .join(sizes, Seq("cluster_id"), "left_outer")
      .select(col("doc_id"), col("cluster_id"),
        coalesce(col("cluster_size"), lit(1L)).as("cluster_size"))
      .orderBy("doc_id")
  }

  val dedupClustersOracle: String =
    s"""WITH RECURSIVE p AS (SELECT a, b FROM ($dedupMinhashLshOracle) q),
e AS (SELECT a, b FROM p UNION SELECT b AS a, a AS b FROM p),
reach(x, y) AS (SELECT a AS x, b AS y FROM e
                UNION
                SELECT r.x, e2.b AS y FROM reach r JOIN e e2 ON e2.a = r.y),
lbl AS (SELECT d.doc_id,
          least(d.doc_id, coalesce(min(r.y), d.doc_id)) AS cluster_id
        FROM documents d LEFT JOIN reach r ON r.x = d.doc_id
        GROUP BY d.doc_id),
sz AS (SELECT cluster_id, count(*) AS cluster_size FROM lbl GROUP BY 1)
SELECT l.doc_id, l.cluster_id, s.cluster_size
FROM lbl l JOIN sz s USING (cluster_id)
ORDER BY l.doc_id"""

  // ---------------------------------------------------------------------
  // D7: INCREMENTAL clustering — X14 at steady state. dedupClusters
  // recomputes connected components from scratch; under continuous ingest
  // a batch TOUCHES some docs (inserted, deleted, text-changed) and the
  // label table (doc_id -> min doc_id of its component, pair-involved docs
  // only) folds forward through ONE delta-form kernel, [[foldLabels]],
  // which the ingest stream (LabelStore, pruned lake lookups) and both
  // driver-contract queries (full frames) run alike. The maintained
  // invariant — labels == connected components of the CURRENT agreement
  // pairs — bounds what a batch can change:
  //   1. members = the touched docs plus every old member of a cluster
  //      holding one (a touched doc's old edges die, so such a cluster
  //      may split or dissolve);
  //   2. one pairsOf(members) yields every current pair that can bind a
  //      member — the touched docs' new edges and the survivors' edges;
  //   3. an endpoint outside the members collapses to its current label:
  //      its cluster holds no touched doc, so it is intact;
  //   4. one min-label fixpoint over that members + collapsed-roots graph;
  //   5. members take their new labels (NULL = left pairless), and every
  //      untouched cluster whose root moved relabels through one scan of
  //      the label table against the broadcast map of moved roots.
  // Per-batch cost: O(members + their pairs) plus two label-table scans
  // — never the corpus text, never a from-scratch CC.
  // ---------------------------------------------------------------------

  /** Candidate + signature-agreement verified pairs of a signature table
    * against ITSELF — the D5 predicate (match_cnt >= IncMinMatch) emitted
    * as an (a, b) pair set with `a < b` deduping the mirror half. No text
    * on either side. ONLY sound when left == right: with a proper-subset
    * right side the `a < b` filter DROPS every pair whose right-side doc
    * sorts first (use [[agreementPairsAgainst]] for delta-vs-all). */
  private[graft] def signatureAgreementPairs(left: DataFrame, right: DataFrame,
                                      opLabel: String): DataFrame =
    sigAgreement(left, right, opLabel, symmetric = true).select("a", "b")

  /** D5 agreement pairs of a DELTA against the full signature table it
    * belongs to (all ⊇ delta) — every (delta, other) agreeing pair
    * REGARDLESS of id order. The symmetric entry's `a < b` dedup silently
    * drops pairs where the delta doc sorts before its untouched partner
    * (a low-id doc edited into a cluster of higher-id docs would stay a
    * singleton); here both orientations are kept and the pair set is
    * normalized to a < b afterwards. Self-pairs excluded; delta-delta
    * pairs land once.
    *
    * Physical strategy: ONE pass over `all`. The delta side is
    * batch-bounded (broadcast), so the minhashes ride THROUGH the band
    * join and the agreement count verifies INLINE — no shuffle, and none
    * of the two corpus re-scans the two-pass shape pays (candidates →
    * re-join left → re-join right). The symmetric corpus×corpus entry
    * keeps slim bands: there the band join SHUFFLES, and carrying 12 hash
    * columns through that exchange is the wrong trade. A pair matching in
    * k bands verifies k ≤ Bands times (arithmetic on in-row columns) and
    * dedups in the final distinct — same output as the two-pass predicate
    * (PipelineSpec asserts strategy equality). */
  private[graft] def agreementPairsAgainst(all: DataFrame, delta: DataFrame,
                                      opLabel: String): DataFrame =
    // dedup = false: the per-band duplicates die in THIS distinct — the
    // inner (a, b) dropDuplicates would be a second full exchange of the
    // pair stream for nothing (match_cnt is dropped here)
    inlineAgreement(all, delta, opLabel, dedup = false)
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct()

  /** The one-pass strategy's core: (a, b, match_cnt) for every agreeing
    * (left, right) hit, one row per pair (per-band duplicates dropped —
    * match_cnt is a function of the pair, so any duplicate carries the
    * same value). */
  private def inlineAgreement(left: DataFrame, right: DataFrame,
                              opLabel: String,
                              dedup: Boolean = true): DataFrame = {
    // ONE scan of the signature frame (posexplode over the in-row band-key
    // array) — the union-of-projections shape scanned it Bands times, which
    // on the corpus side of the per-micro-batch probe meant 4 corpus
    // signature scans per batch
    def bandsFull(sig: DataFrame, p: String): DataFrame =
      sig.select((col("doc_id").as(s"${p}_id") +:
        (0 until MinhashK).map(k => col(s"h$k").as(s"${p}_h$k"))) :+
        posexplode(array((0 until Bands).map(b =>
          concat((0 until 3).map(j => col(s"h${b * 3 + j}")): _*)): _*))
          .as(Seq(s"${p}_band", s"${p}_bk")): _*)
    // the right side is batch-bounded by contract — hint it EXPLICITLY:
    // its plan (pruned lake scan + semi join) carries a file-size-based
    // estimate that can exceed the auto-broadcast threshold at corpus
    // scale, and a sort-merge fallback here would shuffle the entire
    // corpus band frame carrying the 12 hash columns
    Similarity.observeCandidates(opLabel,
      bandsFull(left, "x").join(broadcast(bandsFull(right, "y")),
        col("x_band") === col("y_band") && col("x_bk") === col("y_bk")),
      struct(col("x_band"), col("x_bk")))
      .withColumn("match_cnt", (0 until MinhashK).map(k =>
        when(col(s"x_h$k") === col(s"y_h$k"), 1L).otherwise(0L)).reduce(_ + _))
      .filter(col("match_cnt") >= IncMinMatch)
      .select(col("x_id").as("a"), col("y_id").as("b"), col("match_cnt"))
      .transform(df => if (dedup) df.dropDuplicates("a", "b") else df)
  }

  /** THE D5 signature-agreement predicate — the single definition every
    * incremental-dedup/clustering path speaks (a divergence here would
    * silently split the full and incremental families): LSH band-join
    * candidates over [[sigBands]], then >= [[IncMinMatch]] of the
    * [[MinhashK]] minhashes agreeing. `symmetric` adds `a < b` (self-join
    * pair dedup); asymmetric keeps every (left, right) hit. Returns
    * (a, b, match_cnt). */
  private def sigAgreement(left: DataFrame, right: DataFrame, opLabel: String,
                           symmetric: Boolean): DataFrame = {
    // asymmetric = delta-vs-corpus: the delta side is bounded and
    // broadcast, so the one-pass inline strategy applies (one corpus scan
    // instead of three — see agreementPairsAgainst's scaladoc)
    if (!symmetric) return inlineAgreement(left, right, opLabel)
    val joinCond = col("x.band") === col("y.band") && col("x.bk") === col("y.bk") &&
      col("x.doc_id") < col("y.doc_id")
    val cand = Similarity.observeCandidates(opLabel,
      sigBands(left).as("x").join(sigBands(right).as("y"), joinCond),
      struct(col("x.band"), col("x.bk")))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b")).distinct()
    val la = left.select(col("doc_id").as("a") +:
      (0 until MinhashK).map(k => col(s"h$k").as(s"a_h$k")): _*)
    val lb = right.select(col("doc_id").as("b") +:
      (0 until MinhashK).map(k => col(s"h$k").as(s"b_h$k")): _*)
    cand.join(la, "a").join(lb, "b")
      .withColumn("match_cnt", (0 until MinhashK).map(k =>
        when(col(s"a_h$k") === col(s"b_h$k"), 1L).otherwise(0L)).reduce(_ + _))
      .filter(col("match_cnt") >= IncMinMatch)
  }

  /** THE incremental label fold (D7) — one delta-form kernel behind the
    * ingest stream ([[LabelStore.applyBatch]]) and the driver-contract
    * queries ([[dedupClustersIncremental]], [[dedupClustersDeletes]]).
    *
    * @param touched   distinct doc ids (`doc_id`) whose existence or text
    *                  changed — their old edges are gone
    * @param labelsOf  the current (doc_id, cluster_id) rows of the given
    *                  ids (a pruned lookup where the table is lake-backed)
    * @param labelScan the whole current label table; scanned twice, each
    *                  time against a broadcast batch-bounded cluster set
    * @param pairsOf   every CURRENT agreement pair (a, b) that touches the
    *                  given ids, deleted docs having none
    * @return (doc_id, cluster_id, oc) for every row the batch may change:
    *         `oc` is the current label (NULL = no row), `cluster_id` the
    *         new one (NULL = the row leaves the table). Rows left out of
    *         it keep their label. */
  private[graft] def foldLabels(spark: SparkSession, touched: DataFrame,
                                labelsOf: DataFrame => DataFrame,
                                labelScan: DataFrame,
                                pairsOf: DataFrame => DataFrame): DataFrame = {
    val idType = touched.schema("doc_id").dataType
    // every frame below is batch-bounded and read by several later
    // actions, so each is LANDED once (a plan cut, as in propagateLabels)
    // and the corpus-sized scans it embeds run once
    val tl = labelsOf(touched).select(col("doc_id"), col("cluster_id"))
    val members = landTmp(labelScan
      .join(broadcast(tl.select("cluster_id").distinct()), Seq("cluster_id"), "left_semi")
      .select(col("doc_id"), col("cluster_id").as("oc"))
      .unionAll(touched.join(broadcast(tl), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), lit(null).cast(idType).as("oc"))), "graft-members")
    val pairs = landTmp(pairsOf(members.select("doc_id")).select("a", "b"), "graft-pairs")
    val outside = pairs.select(col("a").as("doc_id"))
      .unionAll(pairs.select(col("b").as("doc_id"))).distinct()
      .join(broadcast(members), Seq("doc_id"), "left_anti")
    val roots = landTmp(outside
      .join(labelsOf(outside).select(col("doc_id"), col("cluster_id")),
        Seq("doc_id"), "left_outer")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("root"),
        col("cluster_id").as("oc")), "graft-roots")
    val vertex = members.select(col("doc_id"), col("doc_id").as("v"))
      .unionAll(roots.select(col("doc_id"), col("root").as("v")))
    val cc = propagateLabels(spark, pairs
      .join(vertex.toDF("a", "va"), "a").join(vertex.toDF("b", "vb"), "b")
      .select(col("va").as("a"), col("vb").as("b")), bounded = true)
    val byRoot = cc.select(col("doc_id").as("root"), col("cluster_id").as("nl"))
    // every union below selects its columns explicitly: a USING join puts
    // its key column first, and unionAll matches columns by position
    val memberRows = members.join(cc, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("cluster_id"), col("oc"))
    val freshRows = roots.filter(col("oc").isNull).join(byRoot, "root")
      .select(col("doc_id"), col("nl").as("cluster_id"), col("oc"))
    val movedRoots = roots.filter(col("oc").isNotNull).select("root").distinct()
      .join(byRoot, "root").filter(col("nl") =!= col("root"))
      .select(col("root").as("cluster_id"), col("nl"))
    val movedRows = labelScan.join(broadcast(movedRoots), Seq("cluster_id"))
      .select(col("doc_id"), col("nl").as("cluster_id"), col("cluster_id").as("oc"))
    memberRows.unionAll(freshRows).unionAll(movedRows)
  }

  /** [[foldLabels]] over a full (doc_id, cluster_id) label frame: returns
    * the next label frame. Every row of a changed cluster is in the fold's
    * output, so the rest passes through one broadcast anti join on the
    * (batch-bounded) set of changed clusters — the label table is scanned,
    * never shuffled. */
  private[graft] def foldLabelFrame(spark: SparkSession, labels: DataFrame,
                                    touched: DataFrame,
                                    pairsOf: DataFrame => DataFrame): DataFrame = {
    val rows = foldLabels(spark, touched,
      ids => labels.join(broadcast(ids), Seq("doc_id"), "left_semi"), labels, pairsOf)
    labels.join(broadcast(rows.select(col("oc").as("cluster_id")).distinct()),
        Seq("cluster_id"), "left_anti")
      .select(col("doc_id"), col("cluster_id"))
      .unionAll(rows.filter(col("cluster_id").isNotNull)
        .select(col("doc_id"), col("cluster_id")))
  }

  /** `pairsOf` over a full signature frame: one asymmetric band probe of
    * `sigs` against the given ids' own signatures. */
  private def pairsAgainst(sigs: DataFrame, opLabel: String): DataFrame => DataFrame =
    ids => agreementPairsAgainst(sigs,
      sigs.join(broadcast(ids), Seq("doc_id"), "left_semi"), opLabel)

  /** Driver-contract entry for the delete fold: the whole corpus plays
    * ingested state (signature lake + labels computed once from it), then
    * every doc with `doc_id % 7 == 0` is deleted in one batch. Oracle =
    * recursive-CTE closure over the signature-agreement pairs of the
    * REMAINING docs only — the invariant the fold must restore, stated
    * with no knowledge of which clusters were touched. */
  def dedupClustersDeletes(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val sig = ingestCorpusSignatures(spark, d, simhash = false)
    val sigs = sig.read().select(col("doc_id").cast("long").as("doc_id") +:
      (0 until MinhashK).map(k => col(s"h$k")): _*)
    val labels0 = propagateLabels(spark,
      signatureAgreementPairs(sigs, sigs, "dedup_clusters_del_base"))
    val deleted = d.filter(col("doc_id") % 7 === 0).select("doc_id")
    // the current signatures: a deleted doc's row is gone with it
    val folded = foldLabelFrame(spark, labels0, deleted, pairsAgainst(
      sigs.join(broadcast(deleted), Seq("doc_id"), "left_anti"), "dedup_clusters_delete"))
    clusterFrame(d.filter(col("doc_id") % 7 =!= 0), folded)
  }

  val dedupClustersDeletesOracle: String = {
    val sigCols = (0 until MinhashK)
      .map(k => s"min(md5('$k|' || s)) AS h$k").mkString(", ")
    val bandRows = (0 until Bands)
      .map(b => s"SELECT doc_id, $b AS band, h${b * 3} || h${b * 3 + 1} || h${b * 3 + 2} AS bk FROM mh")
      .mkString("\n  UNION ALL ")
    val matchSum = (0 until MinhashK)
      .map(k => s"CASE WHEN ma.h$k = mb.h$k THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH RECURSIVE $shingleSetSql,
mh AS (SELECT doc_id, $sigCols FROM sh WHERE doc_id % 7 <> 0 GROUP BY doc_id),
bands AS ($bandRows),
cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM bands x
         JOIN bands y ON x.band = y.band AND x.bk = y.bk
                      AND x.doc_id < y.doc_id),
p AS (SELECT c.a, c.b FROM cand c
      JOIN mh ma ON ma.doc_id = c.a JOIN mh mb ON mb.doc_id = c.b
      WHERE $matchSum >= $IncMinMatch),
e AS (SELECT a, b FROM p UNION SELECT b AS a, a AS b FROM p),
reach(x, y) AS (SELECT a AS x, b AS y FROM e
                UNION
                SELECT r.x, e2.b AS y FROM reach r JOIN e e2 ON e2.a = r.y),
lbl AS (SELECT d.doc_id,
          least(d.doc_id, coalesce(min(r.y), d.doc_id)) AS cluster_id
        FROM documents d LEFT JOIN reach r ON r.x = d.doc_id
        WHERE d.doc_id % 7 <> 0
        GROUP BY d.doc_id),
sz AS (SELECT cluster_id, count(*) AS cluster_size FROM lbl GROUP BY 1)
SELECT l.doc_id, l.cluster_id, s.cluster_size
FROM lbl l JOIN sz s USING (cluster_id)
ORDER BY l.doc_id"""
  }

  /** Driver-contract entry: the first 4/5 of documents plays the ingested
    * corpus — its signatures persisted through the signatures LakeTable
    * and its labels computed ONCE at "ingest time" FROM those lake
    * signatures — and the last 1/5 plays the newly-arriving batch. The
    * whole family speaks ONE predicate (D5 signature agreement, the
    * steady-state predicate — corpus text is scanned exactly once, at
    * signature ingest, and never again: corpus pairs, delta pairs, and
    * the incremental fold all run on signatures). Oracle = recursive-CTE
    * closure over ALL signature-agreement pairs — i.e. the invariant the
    * incremental fold must preserve: persisted labels + delta update ==
    * from-scratch clustering under the same predicate. */
  def dedupClustersIncremental(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val split = (d.agg(max("doc_id")).head().getLong(0) + 1L) * 4L / 5L
    // ingest-time state: ONE corpus text scan -> signature lake; corpus
    // labels derive from the LAKE signatures (no text, no exact-verify)
    val sig = ingestCorpusSignatures(spark, d.filter(col("doc_id") < split),
      simhash = false)
    val corpusSigs = sig.read().select(col("doc_id").cast("long").as("doc_id") +:
      (0 until MinhashK).map(k => col(s"h$k")): _*)
    val labels0 = propagateLabels(spark,
      signatureAgreementPairs(corpusSigs, corpusSigs, "dedup_clusters_inc_base"))
    // steady state: delta text + signatures + labels only. The delta's
    // signatures are referenced from both sides of the agreement join
    // (bands + verify, 4 subtree references) — in production they arrive
    // already materialized from the ingest batch (SignatureStore), so
    // compute the text-derived stand-in ONCE here too
    val deltaSigs = minhashSignatures(d.filter(col("doc_id") >= split))
      .select(corpusSigs.columns.map(col).toSeq: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try clusterFrame(spark, dir, foldLabelFrame(spark, labels0,
      deltaSigs.select("doc_id"),
      pairsAgainst(corpusSigs.unionAll(deltaSigs), "dedup_clusters_incremental")))
    finally deltaSigs.unpersist(blocking = false)
  }

  val dedupClustersIncrementalOracle: String = {
    val sigCols = (0 until MinhashK)
      .map(k => s"min(md5('$k|' || s)) AS h$k").mkString(", ")
    val bandRows = (0 until Bands)
      .map(b => s"SELECT doc_id, $b AS band, h${b * 3} || h${b * 3 + 1} || h${b * 3 + 2} AS bk FROM mh")
      .mkString("\n  UNION ALL ")
    val matchSum = (0 until MinhashK)
      .map(k => s"CASE WHEN ma.h$k = mb.h$k THEN 1 ELSE 0 END").mkString(" + ")
    // the oracle knows NOTHING of the corpus/delta split: it states the
    // maintained invariant directly — closure over all signature-agreement
    // pairs, however incrementally the engine arrived at it
    s"""WITH RECURSIVE $shingleSetSql,
mh AS (SELECT doc_id, $sigCols FROM sh GROUP BY doc_id),
bands AS ($bandRows),
cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM bands x
         JOIN bands y ON x.band = y.band AND x.bk = y.bk
                      AND x.doc_id < y.doc_id),
p AS (SELECT c.a, c.b FROM cand c
      JOIN mh ma ON ma.doc_id = c.a JOIN mh mb ON mb.doc_id = c.b
      WHERE $matchSum >= $IncMinMatch),
e AS (SELECT a, b FROM p UNION SELECT b AS a, a AS b FROM p),
reach(x, y) AS (SELECT a AS x, b AS y FROM e
                UNION
                SELECT r.x, e2.b AS y FROM reach r JOIN e e2 ON e2.a = r.y),
lbl AS (SELECT d.doc_id,
          least(d.doc_id, coalesce(min(r.y), d.doc_id)) AS cluster_id
        FROM documents d LEFT JOIN reach r ON r.x = d.doc_id
        GROUP BY d.doc_id),
sz AS (SELECT cluster_id, count(*) AS cluster_size FROM lbl GROUP BY 1)
SELECT l.doc_id, l.cluster_id, s.cluster_size
FROM lbl l JOIN sz s USING (cluster_id)
ORDER BY l.doc_id"""
  }

  // ---------------------------------------------------------------------
  // T1: language ID — marker-word heuristic (deterministic n-gram-free
  // fallback chain; real corpora would use char-n-gram profiles)
  // ---------------------------------------------------------------------

  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "es" -> Seq("el", "la", "los", "las", "es"),
    "fr" -> Seq("le", "les", "des", "est", "et"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "en" -> Seq("the", "a", "of", "and", "is"))

  def langId(spark: SparkSession, dir: String): DataFrame = {
    val base = docs(spark, dir).select(col("doc_id"), words.as("ws"))
    val counted = langMarkers.foldLeft(base) { case (df, (l, ms)) =>
      df.withColumn(s"c_$l",
        size(filter(col("ws"), w => ms.map(m => w === m).reduce(_ || _))))
    }
    counted.select(col("doc_id"),
      when(col("c_es") > col("c_en"), "es")
        .when(col("c_fr") > col("c_en"), "fr")
        .when(col("c_de") > col("c_en"), "de")
        .when(col("c_en") > 0, "en")
        .otherwise("und").as("pred_lang"),
      col("c_en"), col("c_es"), col("c_fr"), col("c_de"))
      .orderBy("doc_id")
  }

  val langIdOracle: String = {
    val cnts = langMarkers.map { case (l, ms) =>
      val set = ms.map(m => s"'$m'").mkString(", ")
      s"len(list_filter(ws, x -> x IN ($set))) AS c_$l"
    }.mkString(",\n  ")
    s"""WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM documents),
c AS (SELECT doc_id, $cnts FROM w)
SELECT doc_id,
  CASE WHEN c_es > c_en THEN 'es' WHEN c_fr > c_en THEN 'fr'
       WHEN c_de > c_en THEN 'de' WHEN c_en > 0 THEN 'en' ELSE 'und' END AS pred_lang,
  c_en, c_es, c_fr, c_de
FROM c ORDER BY doc_id"""
  }

  // ---------------------------------------------------------------------
  // T2: quality scoring — length/stopword/punctuation ratios
  // ---------------------------------------------------------------------

  private val stopwords = Seq("the", "a", "of", "and", "is", "to", "in")

  def quality(spark: SparkSession, dir: String): DataFrame = {
    docs(spark, dir).select(col("doc_id"), col("n_chars"), words.as("ws"), col("text"))
      .withColumn("n_words", size(col("ws")))
      .withColumn("sum_wlen",
        aggregate(col("ws"), lit(0L), (acc, w) => acc + length(w)))
      .withColumn("n_stop",
        size(filter(col("ws"), w => stopwords.map(m => w === m).reduce(_ || _))))
      .withColumn("punct_cnt",
        length(regexp_replace(col("text"), "[a-z0-9 ]", "")))
      .select(col("doc_id"), col("n_words"),
        (col("sum_wlen").cast("double") / col("n_words")).as("avg_wlen"),
        (col("n_stop").cast("double") / col("n_words")).as("stop_ratio"),
        col("punct_cnt"),
        (col("n_stop").cast("double") / col("n_words") -
          col("punct_cnt").cast("double") / col("n_chars")).as("quality"))
      .orderBy("doc_id")
  }

  val qualityOracle: String = {
    val sw = stopwords.map(m => s"'$m'").mkString(", ")
    s"""WITH w AS (SELECT doc_id, n_chars, text,
  list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM documents),
m AS (SELECT doc_id, n_chars, len(ws) AS n_words,
  list_sum(list_transform(ws, x -> len(x))) AS sum_wlen,
  len(list_filter(ws, x -> x IN ($sw))) AS n_stop,
  len(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS punct_cnt
FROM w)
SELECT doc_id, n_words,
  CAST(sum_wlen AS DOUBLE) / n_words AS avg_wlen,
  CAST(n_stop AS DOUBLE) / n_words AS stop_ratio,
  punct_cnt,
  CAST(n_stop AS DOUBLE) / n_words - CAST(punct_cnt AS DOUBLE) / n_chars AS quality
FROM m ORDER BY doc_id"""
  }

  // ---------------------------------------------------------------------
  // T3: token counting — whitespace + BPE-ish regex segmentation
  // ---------------------------------------------------------------------

  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(col("doc_id"),
      size(words).as("ws_tokens"),
      size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
        .as("re_tokens"))
      .orderBy("doc_id")

  val tokenCountOracle: String =
    """SELECT doc_id,
  len(list_filter(string_split(text, ' '), x -> x <> '')) AS ws_tokens,
  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS re_tokens
FROM documents ORDER BY doc_id"""

  /** Loadable-vocabulary token counting — the production hook the
    * regex-BPE-ish default approximates (a real BPE vocab cannot ship in
    * this sandbox): an in-vocab word costs 1 token, an out-of-vocab word
    * falls back to ceil(len/4) (the byte-level degradation real tokenizers
    * exhibit). The vocab joins as a BROADCAST hash table — no per-row
    * driver lookup, no UDF, and the plan scales to any vocab a broadcast
    * can hold (a 100k-entry BPE vocab is ~2 MB). Docs with no words count
    * zero. Absent a vocab file, [[tokenCount]] stays the oracle-gated
    * surface. */
  def tokenCountWithVocab(spark: SparkSession, dir: String,
                          vocabPath: java.nio.file.Path): DataFrame = {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val vocab = java.nio.file.Files.readAllLines(vocabPath).asScala
      .map(_.trim).filter(_.nonEmpty).distinct.toSeq
      .toDF("w").withColumn("iv", lit(true))
    val d = docs(spark, dir)
    val exploded = d.select(col("doc_id"), explode(words).as("w"))
      .join(broadcast(vocab), Seq("w"), "left_outer")
      .groupBy("doc_id")
      .agg(sum(when(col("iv"), 1L)
        .otherwise(ceil(length(col("w")) / 4.0).cast("long"))).as("vocab_tokens"))
    d.select("doc_id").join(exploded, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), coalesce(col("vocab_tokens"), lit(0L)).as("vocab_tokens"))
      .orderBy("doc_id")
  }

  /** Demo vocab size for the oracle-gated vocab path. */
  val VocabTopN = 256

  /** Driver-contract entry for the VOCAB tokenizer path: a deterministic
    * demo vocabulary — the corpus's top-[[VocabTopN]] words by frequency
    * (ties broken by word order) — is materialized to a vocab FILE and
    * pushed through [[tokenCountWithVocab]], so the production hook
    * (file -> broadcast hash join -> OOV byte-fallback) is what the DuckDB
    * oracle gates, not a test-only shortcut. The driver-side piece is the
    * bounded N-row vocab collect (broadcast-dim-sized metadata); everything
    * per-row stays distributed. A real deployment points the same hook at
    * its shipped BPE vocab file. */
  def tokenCountVocab(spark: SparkSession, dir: String): DataFrame = {
    val top = docs(spark, dir).select(explode(words).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w")).limit(VocabTopN)
      .select("w").collect().map(_.getString(0))
    val vf = java.nio.file.Files.createTempFile("graft-vocab", ".txt")
    vf.toFile.deleteOnExit()
    java.nio.file.Files.writeString(vf, top.mkString("\n"))
    tokenCountWithVocab(spark, dir, vf)
  }

  val tokenCountVocabOracle: String =
    s"""WITH wx AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w FROM documents),
v AS (SELECT w FROM wx GROUP BY w ORDER BY count(*) DESC, w LIMIT $VocabTopN),
tok AS (SELECT wx.doc_id,
          CAST(sum(CASE WHEN v.w IS NOT NULL THEN 1
                        ELSE CAST(ceil(len(wx.w) / 4.0) AS BIGINT) END) AS BIGINT) AS vocab_tokens
        FROM wx LEFT JOIN v ON v.w = wx.w GROUP BY wx.doc_id)
SELECT d.doc_id, coalesce(t.vocab_tokens, 0) AS vocab_tokens
FROM documents d LEFT JOIN tok t ON t.doc_id = d.doc_id
ORDER BY d.doc_id"""

  // ---------------------------------------------------------------------
  // T4: document fingerprint — rolling polynomial hash over the word
  // stream (order-sensitive, mod 1e9+7)
  // ---------------------------------------------------------------------

  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"),
        transform(words, w => (ascii(w) * 256 + length(w)).cast("long")).as("hs"))
      .select(col("doc_id"),
        when(size(col("hs")) === 0, lit(null).cast("long"))
          .otherwise(aggregate(
            slice(col("hs"), lit(2), greatest(size(col("hs")) - 1, lit(0))),
            try_element_at(col("hs"), lit(1)),
            (acc, x) => (acc * 31 + x) % 1000000007L)).as("fp"))
      .orderBy("doc_id")

  val fingerprintOracle: String =
    """WITH h AS (SELECT doc_id,
  list_transform(list_filter(string_split(text, ' '), x -> x <> ''),
    w -> CAST(ascii(w) * 256 + len(w) AS BIGINT)) AS hs FROM documents)
SELECT doc_id,
  CASE WHEN len(hs) = 0 THEN NULL
       ELSE list_reduce(hs, (acc, x) -> (acc * 31 + x) % 1000000007) END AS fp
FROM h ORDER BY doc_id"""

  // ---------------------------------------------------------------------
  // C1: end-to-end curation decision — the pipeline the operators exist
  // for: exact dedup, then near-dedup (MinHash-LSH verified pairs; the
  // higher doc_id of a pair drops), then quality gating. One row per doc
  // with keep/reason, precedence exact > near > quality. Composes the
  // operators above without extra scans of the corpus beyond theirs.
  // ---------------------------------------------------------------------

  val QualityFloor = 0.05

  def curation(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select(col("doc_id"), md5(col("text")).as("h"))
    val keepers = dedupExact(spark, dir).select(col("text_md5"), col("keep_id"))
    val nearDrop = dedupMinhashLsh(spark, dir).select(col("b").as("doc_id"))
      .distinct().withColumn("near", lit(true))
    val q = quality(spark, dir).select(col("doc_id"), col("quality"))
    d.join(keepers, d("h") === keepers("text_md5"))
      .join(nearDrop, Seq("doc_id"), "left_outer")
      .join(q, Seq("doc_id"))
      .select(col("doc_id"),
        when(col("doc_id") =!= col("keep_id"), "exact_dup")
          .when(col("near"), "near_dup")
          .when(col("quality") < QualityFloor, "low_quality")
          .otherwise("keep").as("reason"))
      .withColumn("keep", col("reason") === "keep")
      .select("doc_id", "keep", "reason")
      .orderBy("doc_id")
  }

  val curationOracle: String =
    s"""WITH ex AS (SELECT md5(text) AS h, min(doc_id) AS keep_id FROM documents GROUP BY 1),
near AS (SELECT DISTINCT b AS doc_id FROM ($dedupMinhashLshOracle) mh),
q AS (SELECT doc_id, quality FROM ($qualityOracle) qq),
dec AS (
  SELECT d.doc_id,
    CASE WHEN d.doc_id <> ex.keep_id THEN 'exact_dup'
         WHEN near.doc_id IS NOT NULL THEN 'near_dup'
         WHEN q.quality < $QualityFloor THEN 'low_quality'
         ELSE 'keep' END AS reason
  FROM documents d JOIN ex ON ex.h = md5(d.text)
  LEFT JOIN near ON near.doc_id = d.doc_id
  JOIN q ON q.doc_id = d.doc_id)
SELECT doc_id, reason = 'keep' AS keep, reason FROM dec ORDER BY doc_id"""

  /** Cluster-aware curation — the X14 composition: instead of dropping the
    * higher id of every verified near-dup PAIR (which over-deletes on
    * transitive chains: a~b~c drops both b and c), each duplicate CLUSTER
    * keeps exactly its canonical doc (the component minimum) and drops the
    * rest. Precedence mirrors [[curation]]: exact > near-cluster > quality.
    */
  def curationClustered(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select(col("doc_id"), md5(col("text")).as("h"))
    val keepers = dedupExact(spark, dir).select(col("text_md5"), col("keep_id"))
    val clusters = dedupClusters(spark, dir)
    val q = quality(spark, dir).select(col("doc_id"), col("quality"))
    d.join(keepers, d("h") === keepers("text_md5"))
      .join(clusters, Seq("doc_id"))
      .join(q, Seq("doc_id"))
      .select(col("doc_id"),
        when(col("doc_id") =!= col("keep_id"), "exact_dup")
          .when(col("cluster_size") > 1 && col("doc_id") =!= col("cluster_id"),
            "near_dup_cluster")
          .when(col("quality") < QualityFloor, "low_quality")
          .otherwise("keep").as("reason"))
      .withColumn("keep", col("reason") === "keep")
      .select("doc_id", "keep", "reason")
      .orderBy("doc_id")
  }

  val curationClusteredOracle: String =
    s"""WITH cl AS (SELECT * FROM ($dedupClustersOracle) c),
ex AS (SELECT md5(text) AS h, min(doc_id) AS keep_id FROM documents GROUP BY 1),
q AS (SELECT doc_id, quality FROM ($qualityOracle) qq),
dec AS (
  SELECT d.doc_id,
    CASE WHEN d.doc_id <> ex.keep_id THEN 'exact_dup'
         WHEN cl.cluster_size > 1 AND d.doc_id <> cl.cluster_id THEN 'near_dup_cluster'
         WHEN q.quality < $QualityFloor THEN 'low_quality'
         ELSE 'keep' END AS reason
  FROM documents d JOIN ex ON ex.h = md5(d.text)
  JOIN cl ON cl.doc_id = d.doc_id
  JOIN q ON q.doc_id = d.doc_id)
SELECT doc_id, reason = 'keep' AS keep, reason FROM dec ORDER BY doc_id"""

  // ---------------------------------------------------------------------
  // M1: multimodal plumbing — opaque binary column + typed metadata
  // (byte length, content digest). Real decode (image/audio) would hang
  // off this same shape via mapPartitions; see Multimodal.
  // ---------------------------------------------------------------------

  def binaryMeta(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .withColumn("payload", col("text").cast("binary"))
      .select(col("doc_id"),
        octet_length(col("payload")).as("byte_len"),
        sha2(col("payload"), 256).as("sha256"))
      .orderBy("doc_id")

  val binaryMetaOracle: String =
    """SELECT doc_id, octet_length(encode(text)) AS byte_len, sha256(text) AS sha256
FROM documents ORDER BY doc_id"""

  // ---------------------------------------------------------------------
  // X15: training-sequence packing — the standard pretraining layout:
  // concatenate every doc's token stream (plus one end-of-doc separator)
  // in doc_id order and cut the stream into fixed-length sequences.
  // The operator assigns each doc its global token offset and the
  // sequence indices it lands in. The global prefix sum is the scale
  // problem: a bare Window.orderBy(doc_id) puts the WHOLE corpus in one
  // task. Instead: deterministic contiguous doc_id blocks -> per-block
  // token totals (map-side-combined groupBy) -> block offsets via a
  // window over the BLOCK TOTALS ONLY (<= PackBlocks rows — the only
  // single-partition step, bounded by the knob, not the corpus) ->
  // broadcast the offsets back and cumsum within each block. Two corpus
  // shuffles total, both keyed by blk; no driver-side data beyond the
  // 2-value min/max bounds.
  // ---------------------------------------------------------------------

  /** Tokens per training sequence (the cut width). */
  val PackSeqLen = 2048
  /** Upper bound on prefix-sum blocks: the single-partition block-offset
    * window and the broadcast both hold <= this many rows. At 100 TB
    * raise it (1M blocks = ~16 MB broadcast) so per-block window state
    * stays ~corpus/PackBlocks rows. */
  val PackBlocks: Long = 4096L

  def packSequences(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = docs(spark, dir).select(col("doc_id"),
      (size(words) + 1).cast("long").as("tok")) // +1 = end-of-doc separator
    val bounds = tok.agg(min("doc_id"), max("doc_id")).head()
    val lo = bounds.getLong(0)
    val g = (bounds.getLong(1) - lo) / PackBlocks + 1
    val t = tok.withColumn("blk", expr(s"(doc_id - $lo) div $g"))
    val blkOff = t.groupBy("blk").agg(sum("tok").as("btok"))
      .select(col("blk"), coalesce(sum("btok").over(
        Window.orderBy("blk").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)).as("boff"))
    val inBlk = Window.partitionBy("blk").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    t.join(broadcast(blkOff), Seq("blk"))
      .withColumn("start_off",
        col("boff") + coalesce(sum("tok").over(inBlk), lit(0L)))
      .select(col("doc_id"), col("tok"), col("start_off"),
        expr(s"start_off div $PackSeqLen").as("seq_first"),
        expr(s"(start_off + tok - 1) div $PackSeqLen").as("seq_last"))
      .withColumn("n_seqs", col("seq_last") - col("seq_first") + 1)
      .orderBy("doc_id")
  }

  val packSequencesOracle: String =
    s"""WITH t AS (SELECT doc_id,
  CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) + 1 AS BIGINT) AS tok
  FROM documents),
c AS (SELECT doc_id, tok,
  CAST(coalesce(sum(tok) OVER (ORDER BY doc_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
  FROM t)
SELECT doc_id, tok, start_off,
  start_off // $PackSeqLen AS seq_first,
  (start_off + tok - 1) // $PackSeqLen AS seq_last,
  (start_off + tok - 1) // $PackSeqLen - start_off // $PackSeqLen + 1 AS n_seqs
FROM c ORDER BY doc_id"""

  // ---------------------------------------------------------------------
  // X16: benchmark decontamination — flag corpus docs sharing any word
  // 8-gram with an evaluation set (the standard n-gram-overlap
  // contamination test: a training doc containing a benchmark passage
  // inflates eval scores). The eval set here is the deterministic
  // stand-in doc_id % ContamMod == 0; a deployment points the same shape
  // at its benchmark table. Scale: eval sets are tiny next to the
  // corpus, so eval grams BROADCAST; the corpus side is one scan with
  // per-row gram generation (array_distinct keeps dedup inside the row —
  // no corpus-wide distinct shuffle) and only the HITS shuffle into the
  // final per-doc aggregate.
  // ---------------------------------------------------------------------

  /** Deterministic eval-set stand-in: docs with doc_id % ContamMod == 0. */
  val ContamMod = 97L
  /** Contamination n-gram width (8 words, the common decontam choice). */
  val ContamGram = 8

  // NOT deduped per row: an in-row array_distinct pays O(grams^2) string
  // compares on EVERY corpus doc, while duplicate grams only matter for
  // the rare docs that HIT — countDistinct after the join dedups exactly
  // those (gram CONSTRUCTION dominates either way; this keeps the
  // quadratic term off the hot path on real text, where in-doc repetition
  // is common)
  private def grams8(w: Column): Column =
    when(size(w) >= ContamGram,
      transform(sequence(lit(1), size(w) - (ContamGram - 1)), i =>
        concat_ws(" ", (0 until ContamGram).map(o => element_at(w, i + o)): _*)))
      .otherwise(array().cast("array<string>"))

  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val evalGrams = d.filter(col("doc_id") % ContamMod === 0)
      .select(col("doc_id"), explode(bound(words)(grams8)).as("gram"))
      .groupBy("gram").agg(min("doc_id").as("first_eval_id"))
    d.filter(col("doc_id") % ContamMod =!= 0)
      .select(col("doc_id"), explode(bound(words)(grams8)).as("gram"))
      .join(broadcast(evalGrams), Seq("gram"))
      .groupBy("doc_id")
      .agg(countDistinct("gram").as("hit_grams"),
        min("first_eval_id").as("first_eval_id"))
      .orderBy("doc_id")
  }

  val decontaminateOracle: String =
    s"""WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
  FROM documents),
g AS (SELECT doc_id, unnest(list_transform(range(1, len(ws) - ${ContamGram - 2}),
    i -> array_to_string(ws[i:i+${ContamGram - 1}], ' '))) AS gram
  FROM w WHERE len(ws) >= $ContamGram),
e AS (SELECT gram, min(doc_id) AS first_eval_id FROM g
  WHERE doc_id % $ContamMod = 0 GROUP BY gram)
SELECT g.doc_id, CAST(count(DISTINCT g.gram) AS BIGINT) AS hit_grams, min(e.first_eval_id) AS first_eval_id
FROM g JOIN e ON e.gram = g.gram
WHERE g.doc_id % $ContamMod <> 0
GROUP BY g.doc_id ORDER BY g.doc_id"""

  // ---------------------------------------------------------------------
  // X17: source-balanced mixture sampling — the data-mixture step of a
  // pretraining pipeline: down-sample each source so every source
  // contributes (up to) the same token mass as the SMALLEST source.
  // The keep decision is a pure function of doc_id (a 20-bit uniform
  // drawn from the doc's md5), so the sample is deterministic,
  // reproducible across engines, and stable under corpus re-partitioning
  // — no Spark `sample()` (seeded per-partition => layout-dependent).
  // Scale: per-source totals are one map-side-combined groupBy (rows =
  // distinct sources, tiny) broadcast back; the keep filter is a narrow
  // map over one corpus scan. The u20*ts < tmin<<20 comparison is exact
  // int64 up to ~8.8e12 tokens/source (~35 TB of text per source);
  // beyond that, right-shift both totals by a common constant first
  // (ratio-preserving) — the comparison only needs their ratio.
  // ---------------------------------------------------------------------

  /** Resolution of the per-doc uniform: 5 md5 hex nibbles = 20 bits. */
  val MixBits = 20

  /** Portable SQL (Spark AND DuckDB) for the 20-bit uniform drawn from
    * the first 5 hex nibbles of md5(doc_id) — ascii() arithmetic because
    * neither engine shares a hex→int builtin with the other. */
  private def mixU20Sql(h5: String): String =
    (1 to 5).map { j =>
      val a = s"ascii(substr($h5, $j, 1))"
      s"(CASE WHEN $a >= 97 THEN $a - 87 ELSE $a - 48 END) * ${1L << (4 * (5 - j))}"
    }.mkString(" + ")

  def mixSample(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = docs(spark, dir).select(col("doc_id"), col("source"),
      size(words).cast("long").as("tok"))
    // tmin rides the totals table via an unpartitioned window — totals is
    // #sources rows, so the single-partition window is bounded and the
    // corpus sees ONE broadcast hash join (a crossJoin of the 1-row min
    // would plan as a BroadcastNestedLoopJoin)
    val totals = t.groupBy("source").agg(sum("tok").as("ts"))
      .withColumn("tmin", min("ts").over(Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)))
    t.join(broadcast(totals), Seq("source"))
      .withColumn("h5", expr("substr(md5(CAST(doc_id AS STRING)), 1, 5)"))
      .withColumn("u20", expr(mixU20Sql("h5")).cast("long"))
      .filter(col("u20") * col("ts") < col("tmin") * lit(1L << MixBits))
      .select("doc_id", "source", "tok", "u20")
      .orderBy("doc_id")
  }

  val mixSampleOracle: String =
    s"""WITH t AS (SELECT doc_id, source,
  CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS tok,
  substr(md5(CAST(doc_id AS STRING)), 1, 5) AS h5
  FROM documents),
s AS (SELECT source, CAST(sum(tok) AS BIGINT) AS ts FROM t GROUP BY source),
m AS (SELECT CAST(min(ts) AS BIGINT) AS tmin FROM s),
u AS (SELECT t.doc_id, t.source, t.tok, s.ts, m.tmin,
  CAST(${mixU20Sql("h5")} AS BIGINT) AS u20
  FROM t JOIN s USING (source) CROSS JOIN m)
SELECT doc_id, source, tok, u20 FROM u
WHERE u20 * ts < tmin * ${1L << MixBits} ORDER BY doc_id"""

  // ---------------------------------------------------------------------
  // X18: intra-document repetition scoring — the standard quality signal
  // (heavily repetitive docs are low-value training data): per doc, the
  // duplicated share of its word-3-grams and the hottest gram's count.
  // Shape: gram explode -> (doc_id, gram) count -> per-doc aggregate, all
  // keyed by doc_id (map-side combined; no cross-doc state). Docs with
  // < 3 words have no grams and are absent, like the dedup family.
  // ---------------------------------------------------------------------

  def repetition(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), explode(bound(words)(shingles)).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        sum("c").as("n_grams"),
        count(lit(1)).as("n_distinct"),
        max("c").as("top_gram_cnt"))
      .withColumn("dup_grams", col("n_grams") - col("n_distinct"))
      .withColumn("rep_frac_e3", expr("dup_grams * 1000L div n_grams"))
      .orderBy("doc_id")

  val repetitionOracle: String =
    """WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
  FROM documents),
g AS (SELECT doc_id, unnest(list_transform(range(1, len(ws) - 1),
    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS g
  FROM w WHERE len(ws) >= 3),
c AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2),
a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
  CAST(count(*) AS BIGINT) AS n_distinct, CAST(max(c) AS BIGINT) AS top_gram_cnt
  FROM c GROUP BY doc_id)
SELECT doc_id, n_grams, n_distinct, top_gram_cnt,
  n_grams - n_distinct AS dup_grams,
  (n_grams - n_distinct) * 1000 // n_grams AS rep_frac_e3
FROM a ORDER BY doc_id"""

  // ---------------------------------------------------------------------
  // X19: boilerplate detection — grams shared across many DOCUMENTS
  // (headers, footers, licence blocks) are boilerplate; per doc, the
  // share of its distinct grams that are corpus-frequent. The per-doc
  // DISTINCT gram stream feeds BOTH aggregations (document frequency —
  // the inherent cost, like the n-gram dedup's df computation — whose
  // SMALL frequent-gram set broadcasts back, and the final per-doc
  // aggregate), i.e. the corpus pays the gram derivation's map side plus
  // two map-side-combined shuffles of the gram stream; the two identical
  // distinct subtrees share one exchange at runtime (ReusedExchange).
  // A persist of the shared stream was A/B'd and REVERTED: it costs a
  // corpus-sized columnar cache build (and at 10^2-TB scale, corpus-sized
  // cache pressure) for recompute the exchange reuse already avoids.
  // ---------------------------------------------------------------------

  /** Document-frequency threshold: a gram in >= this many distinct docs
    * counts as boilerplate. At 100 TB raise it (or cap the broadcast set
    * like DfCap) so the frequent-gram set stays broadcast-sized. */
  val BoilerDf: Long = 3L

  def boilerplate(spark: SparkSession, dir: String): DataFrame = {
    val grams = docs(spark, dir)
      .select(col("doc_id"), explode(bound(words)(shingles)).as("g"))
      .distinct() // per-doc distinct: df counts DOCUMENTS, not occurrences
    val hot = grams.groupBy("g").agg(count(lit(1)).as("df"))
      .filter(col("df") >= BoilerDf)
      .select(col("g"), lit(1L).as("hot"))
    grams.join(broadcast(hot), Seq("g"), "left")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_grams"),
        sum(coalesce(col("hot"), lit(0L))).as("boiler_grams"))
      .withColumn("boiler_frac_e3", expr("boiler_grams * 1000L div n_grams"))
      .orderBy("doc_id")
  }

  val boilerplateOracle: String =
    s"""WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
  FROM documents),
g AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(ws) - 1),
    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS g
  FROM w WHERE len(ws) >= 3),
h AS (SELECT g FROM (SELECT g, count(*) AS df FROM g GROUP BY g) WHERE df >= $BoilerDf)
SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
  CAST(count(h.g) AS BIGINT) AS boiler_grams,
  CAST(count(h.g) AS BIGINT) * 1000 // CAST(count(*) AS BIGINT) AS boiler_frac_e3
FROM g LEFT JOIN h ON h.g = g.g
GROUP BY g.doc_id ORDER BY g.doc_id"""
}
