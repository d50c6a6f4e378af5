package graft

import graft.model.{TableMapping, TableSpec}
import graft.operators.{Multimodal, Similarity, TextPipeline}
import graft.verify.{EventsCdc, Oracle}
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Tests for the driver-facing query surface: the events-as-CDC replay
  * queries against the in-memory Oracle replayer (reference semantics),
  * and the training-data pipeline operators against brute-force
  * recomputation / planted duplicates. */
class PipelineSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  private val sf = "/root/testdata/sf0.001"

  test("events-CDC clone replay equals the sequential oracle") {
    import spark.implicits._
    val engine = EventsCdc.qClone(spark, sf).collect()

    val events = EventsCdc.derive(spark, sf).collect().toSeq
    val state = Oracle.replay(events, EventsCdc.spec(),
      TableMapping("events", "events_state"))
    val oracle = Oracle.canonical(state,
      Seq("user_id", "event_type", "value", "props", "ts"))

    assert(engine.length == oracle.size)
    val engineByKey = engine.map(r => r.getLong(0).toString ->
      (r.getString(1), r.getDouble(2), r.getString(3))).toMap
    oracle.foreach { case (key, vals) =>
      val e = engineByKey(key.head)
      assert(e._1 == vals(1), s"event_type for key $key")
      assert(e._2 == vals(2).toDouble, s"value for key $key")
      assert(e._3 == vals(3), s"props for key $key")
    }
  }

  test("events-CDC pk-update replay equals the sequential oracle") {
    val engine = EventsCdc.qPkUpdate(spark, sf).collect()
    val events = EventsCdc.derive(spark, sf, pkUpdate = true).collect().toSeq
    val state = Oracle.replay(events, EventsCdc.spec(),
      TableMapping("events", "events_state"))
    assert(engine.length == state.size)
    val keys = engine.map(_.getLong(0).toString).toSet
    assert(keys == state.keySet.map(_.head))
  }

  test("minhash-LSH finds exactly the high-Jaccard pairs (brute force)") {
    import spark.implicits._
    // brute-force uncapped all-pairs jaccard over word-3-gram sets
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect()
    def shingles(t: String): Set[String] = {
      val w = t.split(" ").filter(_.nonEmpty)
      if (w.length < 3) Set.empty
      else (0 to w.length - 3).map(i => s"${w(i)} ${w(i + 1)} ${w(i + 2)}").toSet
    }
    val sets = docs.map { case (id, t) => id -> shingles(t) }
    val want = (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b && sa.nonEmpty
      inter = (sa & sb).size
      if inter > 0 && inter.toDouble / (sa.size + sb.size - inter) >= 0.8
    } yield (a, b)).toSet

    val got = TextPipeline.dedupMinhashLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(want.nonEmpty, "test corpus should contain planted near-dups")
    assert(got == want)
  }

  test("label propagation: a 200-hop path converges (pointer doubling)") {
    import spark.implicits._
    // a pure path graph has diameter = vertex count - 1; plain min-label
    // propagation needs one round per hop and would trip ClusterMaxIters
    // at 20 — pointer doubling converges in ~log2(diameter) rounds
    val pairs = (0L until 199L).map(i => (i, i + 1)).toDF("a", "b")
    // force the DISTRIBUTED fixpoint: under the collect cap the union-find
    // fast path would answer without exercising pointer doubling at all
    val lbl = TextPipeline.propagateLabels(spark, pairs, bounded = false, collectCap = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lbl.size == 200 && lbl.values.forall(_ == 0L),
      "every path vertex must adopt the component minimum")
    // and the fast path must agree bit-for-bit on the same graph
    val uf = TextPipeline.propagateLabels(spark, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(uf.size == 200 && uf.values.forall(_ == 0L),
      "union-find fast path must match the distributed result")
  }

  test("bounded CC fast path: direct probe equals landed path, over-cap falls back") {
    import spark.implicits._
    val pairs = Seq((3L, 7L), (7L, 9L), (20L, 21L)).toDF("a", "b")
    def res(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Map(3L -> 3L, 7L -> 3L, 9L -> 3L, 20L -> 20L, 21L -> 20L)
    assert(res(TextPipeline.propagateLabels(spark, pairs, bounded = true)) == want)
    assert(res(TextPipeline.propagateLabels(spark, pairs, bounded = false)) == want)
    // over-cap bounded call must fall back (to the landed distributed
    // fixpoint) and still converge to the same labels
    assert(res(TextPipeline.propagateLabels(spark, pairs, bounded = true, collectCap = 2L)) == want)
  }

  test("driver union-find orders string ids by UTF-8 bytes (binary), not UTF-16") {
    import spark.implicits._
    // U+FFFF sorts BELOW U+10000 in UTF-8 bytes (EF BF BF < F0 90 80 80)
    // but ABOVE its surrogate pair in UTF-16 code units — the two paths
    // must elect the same canonical id regardless of the collect cap
    val hi = "￿"; val supp = new String(Character.toChars(0x10000))
    val pairs = Seq((supp, hi)).toDF("a", "b")
    val fast = TextPipeline.propagateLabels(spark, pairs, bounded = true)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val dist = TextPipeline.propagateLabels(spark, pairs, bounded = false, collectCap = 0L)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(fast == dist, s"fast $fast vs distributed $dist")
    assert(fast.values.toSet == Set(hi), "canonical id must be the UTF-8 minimum")
  }

  test("minhash signatures are shingle-multiplicity-invariant (distinct removed)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // min over the raw shingle stream must equal min over the distinct
    // set — the distinct exchange was deleted on exactly this argument
    val docs = Seq((1L, "a b c a b c a b c d e f"), (2L, "x y z w x y z w"))
      .toDF("doc_id", "text")
    val got = TextPipeline.minhashSignatures(docs)
    val w = filter(split(col("text"), " "), x => x =!= "")
    val sh = docs.select(col("doc_id"), explode(
      when(size(w) >= 3, transform(sequence(lit(1), size(w) - 2), i =>
        concat_ws(" ", element_at(w, i), element_at(w, i + 1), element_at(w, i + 2))))
        .otherwise(array().cast("array<string>"))).as("s")).distinct()
    val sigCols = (0 until TextPipeline.MinhashK).map(k =>
      min(md5(concat(lit(s"$k|"), col("s")))).as(s"h$k"))
    val want = sh.groupBy("doc_id").agg(sigCols.head, sigCols.tail: _*)
    assert(got.orderBy("doc_id").collect().toSeq ==
      want.orderBy("doc_id").collect().toSeq)
  }

  test("delta-vs-all agreement: inline-verify strategy equals the two-pass predicate") {
    // the one-pass strategy (minhashes carried through the band join,
    // verified inline) must emit exactly the pairs the symmetric two-pass
    // predicate emits among pairs touching the delta — including the
    // orientation a symmetric-on-(all, delta) call would drop (delta doc
    // 1 sorts before its untouched partner 5)
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def txt(p: String) = (0 until 20).map(i => s"$p$i").mkString(" ")
    val docs = Seq((1L, txt("ga")), (5L, txt("ga")), (9L, txt("gb")),
      (12L, txt("gb")), (20L, txt("gc"))).toDF("doc_id", "text")
    val sigs = graft.operators.SignatureStore.signaturesOf(docs)
    val delta = sigs.filter(col("doc_id").isin(1L, 12L))
    val inline = graft.operators.TextPipeline
      .agreementPairsAgainst(sigs, delta, "t_inline")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val deltaIds = Set(1L, 12L)
    val twoPass = graft.operators.TextPipeline
      .signatureAgreementPairs(sigs, sigs, "t_twopass")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      .filter(p => deltaIds(p._1) || deltaIds(p._2))
    assert(inline == twoPass, s"inline $inline vs two-pass $twoPass")
    assert(inline.contains((1L, 5L)),
      "the low-sorting delta doc's pair to its untouched partner must emit")
    assert(inline.contains((9L, 12L)))
  }

  test("near-dup clustering: transitive chains collapse to one canonical doc") {
    import spark.implicits._
    val dir = SparkTestBase.tmpDir("clusters")
    // every 10th token is a stopword so the chain's docs pass the quality
    // floor (the clustered-curation assertion needs the canonical KEPT)
    val base = (0 until 60).map(i => if (i % 10 == 0) "the" else s"tok$i")
      .mkString(" ")
    val b = base.replace("tok11 ", "x11 ") // near-dup of base
    val c = b.replace("tok51 ", "x51 ") // near-dup of b (chain: a~b~c)
    val docs = Seq(
      (0L, base), (1L, b), (2L, c),
      (3L, "entirely different content " + (0 until 40).map(j => s"u$j").mkString(" ")),
      (4L, "another unrelated doc " + (0 until 40).map(j => s"v$j").mkString(" ")))
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.parquet(s"$dir/documents.parquet")

    // the pair graph is a chain (0-1, 1-2); pairwise higher-id dropping
    // would delete BOTH 1 and 2 — clustering keeps one canonical (0)
    val rows = TextPipeline.dedupClusters(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(Set(0L, 1L, 2L).map(rows(_)._1) == Set(0L),
      s"the chain must collapse into cluster 0: $rows")
    assert(rows(0L)._2 == 3, "cluster size counts every member")
    assert(rows(3L) == (3L, 1L) && rows(4L) == (4L, 1L),
      "singletons are their own canonical")

    // cluster-aware curation keeps exactly the canonical of the chain —
    // the pairwise variant would have dropped BOTH 1 and 2 anyway here,
    // but on deeper structure it over-deletes; the clustered decision is
    // keep-one-per-component by construction
    val cur = TextPipeline.curationClustered(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), r.getString(2))).toMap
    assert(cur(0L) == (true, "keep"), s"canonical kept: $cur")
    assert(cur(1L) == (false, "near_dup_cluster") &&
      cur(2L) == (false, "near_dup_cluster"))
    assert(cur(3L)._2 != "near_dup_cluster" && cur(4L)._2 != "near_dup_cluster")
  }

  test("incremental clustering: delta pairs merge persisted clusters without a from-scratch CC") {
    import spark.implicits._
    // persisted state: clusters {0,1} (root 0), {5,6} (root 5), {9} via
    // label row, plus implicit singletons 20, 30 (no label row)
    val labels = Seq((0L, 0L), (1L, 0L), (5L, 5L), (6L, 5L), (9L, 9L))
      .toDF("doc_id", "cluster_id")
    // delta batch: 100 bridges clusters 0 and 5 (two-cluster MERGE);
    // 101~102 pair only with each other (fresh cluster); 103 pairs with
    // the unlabeled singleton 20 (fresh cluster with a corpus doc);
    // cluster {9} and singleton 30 are untouched
    val newPairs = Seq((1L, 100L), (6L, 100L), (101L, 102L), (20L, 103L))
      .toDF("a", "b")
    // the one label kernel: the delta docs are the touched set, and pairsOf
    // answers from the batch's pair frame
    val updated = TextPipeline.foldLabelFrame(spark, labels,
      Seq(100L, 101L, 102L, 103L).toDF("doc_id"),
      ids => newPairs.join(ids, $"a" === $"doc_id" || $"b" === $"doc_id", "left_semi"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // merged component {0,1,5,6,100} takes the global-min root 0
    assert(Seq(0L, 1L, 5L, 6L, 100L).forall(updated(_) == 0L), updated.toString)
    // fresh delta-delta pair gets its own min-id cluster
    assert(updated(101L) == 101L && updated(102L) == 101L)
    // fresh corpus-delta pair labels BOTH endpoints (20 had no label row)
    assert(updated(20L) == 20L && updated(103L) == 20L)
    // untouched cluster passes through unchanged; absent docs stay absent
    assert(updated(9L) == 9L)
    assert(!updated.contains(30L), "unpaired docs stay out of the label table")
    assert(updated.size == 10)
  }

  test("sequence packing: blocked prefix sum equals the global cumsum") {
    import spark.implicits._
    val dir = SparkTestBase.tmpDir("pack")
    // 9000 docs with NON-DENSE ids (step 7) and varying word counts, so
    // the default 4096-block split yields multi-doc blocks (g = 3) and the
    // id domain has gaps — the blocked two-pass sum must match the plain
    // sequential cumsum exactly across every block boundary
    val docs = (0 until 9000).map { i =>
      val id = i.toLong * 7
      val t = (0 to i % 13).map(j => s"w${i}x$j").mkString(" ")
      (id, t, "en", "s", t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.parquet(s"$dir/documents.parquet")

    val got = TextPipeline.packSequences(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.length == 9000)
    var off = 0L
    got.sortBy(_._1).foreach { case (id, tok, start, sf, sl, n) =>
      assert(tok == (id / 7 % 13) + 2, s"doc $id token count") // words + 1
      assert(start == off, s"doc $id offset: got $start want $off")
      assert(sf == start / TextPipeline.PackSeqLen)
      assert(sl == (start + tok - 1) / TextPipeline.PackSeqLen)
      assert(n == sl - sf + 1 && n >= 1)
      off += tok
    }
  }

  test("decontamination: 8-gram overlap with the eval set flags docs") {
    import spark.implicits._
    val dir = SparkTestBase.tmpDir("contam")
    val passage = (0 until 8).map(i => s"bench$i").mkString(" ") // one 8-gram
    val other = (0 until 8).map(i => s"quiz$i").mkString(" ")
    val filler = (0 until 10).map(i => s"f$i").mkString(" ")
    val docs = Seq(
      (0L, s"$passage end marker"), // eval doc (0 % 97 == 0)
      (97L, s"$other trailing words here"), // second eval doc
      (1L, s"prefix text $passage"), // contaminated by doc 0
      (2L, s"$passage mid $other"), // contaminated by both evals
      (3L, filler), // >= 8 words, no shared gram
      (4L, "short doc")) // < 8 words: no grams at all
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.parquet(s"$dir/documents.parquet")

    val got = TextPipeline.decontaminate(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // doc 1: grams of "prefix text bench0..bench7" sliding over 10 words —
    // exactly one of its three 8-grams is the benchmark passage
    assert(got(1L) == (1L, 0L), s"doc 1: $got")
    // doc 2 hits the doc-0 passage AND doc-97's gram; first_eval_id = min
    assert(got(2L)._1 >= 2L && got(2L)._2 == 0L, s"doc 2: $got")
    assert(!got.contains(3L) && !got.contains(4L), s"clean docs absent: $got")
    assert(!got.contains(0L) && !got.contains(97L), "eval docs are not self-flagged")
  }

  test("mixture sampling: keeps all of the smallest source, balances the rest") {
    import spark.implicits._
    val dir = SparkTestBase.tmpDir("mix")
    // source "small": 100 docs x 5 words = 500 tokens
    // source "big":  2000 docs x 10 words = 20000 tokens (rate 1/40)
    val docs = ((0 until 100).map { i =>
      (i.toLong, (0 until 5).map(j => s"s${i}w$j").mkString(" "), "small")
    } ++ (0 until 2000).map { i =>
      (1000L + i, (0 until 10).map(j => s"b${i}w$j").mkString(" "), "big")
    }).map { case (id, t, src) => (id, t, "en", src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.parquet(s"$dir/documents.parquet")

    val got = TextPipeline.mixSample(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val (small, big) = got.partition(_._2 == "small")
    // ts == tmin for the smallest source => u20 < 2^20 always => ALL kept
    assert(small.length == 100, s"smallest source fully kept: ${small.length}")
    // big source: P(keep) = 500/20000 = 1/40; E = 50 docs. The u20 draw is
    // a fixed function of doc_id, so this is a deterministic count — bound
    // it loosely (binomial 3-sigma ~ +-21) against hash-quality regressions
    assert(big.length > 20 && big.length < 100, s"big source thinned: ${big.length}")
    // the keep rule is exactly u20 * ts < tmin << 20, u20 = first 5 md5 nibbles
    val mdig = java.security.MessageDigest.getInstance("MD5")
    def u20(id: Long): Long = {
      val hex = mdig.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(5)
      java.lang.Long.parseLong(hex, 16)
    }
    big.foreach { case (id, _, tok, u) =>
      assert(tok == 10L && u == u20(id), s"doc $id u20")
      assert(u * 20000L < 500L * (1L << 20), s"doc $id keep rule")
    }
    val keptIds = big.map(_._1).toSet
    (0 until 2000).map(i => 1000L + i).filterNot(keptIds).take(5).foreach { id =>
      assert(u20(id) * 20000L >= 500L * (1L << 20), s"doc $id drop rule")
    }
    // deterministic: a second run returns the identical set
    val again = TextPipeline.mixSample(spark, dir).collect().map(_.getLong(0))
    assert(again.toSeq == got.map(_._1).toSeq)
  }

  test("repetition scoring: duplicated 3-gram share and hottest gram") {
    import spark.implicits._
    val dir = SparkTestBase.tmpDir("rep")
    val docs = Seq(
      (1L, "a b c a b c a b c"), // 7 grams: 'a b c' x3, 'b c a' x2, 'c a b' x2 -> 3 distinct
      (2L, "u v w x y"), //          3 grams, all distinct
      (3L, "one two")) //            < 3 words: no grams, absent
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.parquet(s"$dir/documents.parquet")
    val got = TextPipeline.repetition(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    assert(got(1L) == (7L, 3L, 3L, 4L, 571L), s"doc1: $got") // 4*1000 div 7
    assert(got(2L) == (3L, 3L, 1L, 0L, 0L), s"doc2: $got")
    assert(!got.contains(3L))
  }

  test("boilerplate: grams shared by >= BoilerDf docs flag their share") {
    import spark.implicits._
    val dir = SparkTestBase.tmpDir("boiler")
    val footer = "all rights reserved" // one shared 3-gram
    val docs = (Seq(
      (1L, s"alpha beta gamma $footer"),
      (2L, s"delta epsilon zeta $footer"),
      (3L, s"eta theta iota $footer"),
      (4L, "kappa lambda mu nu")) // no boilerplate
      ).map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.parquet(s"$dir/documents.parquet")
    // each footer doc has 4 grams ('x y z', 'y z all', 'z all rights',
    // 'all rights reserved'): only the pure footer gram reaches df=3
    val got = TextPipeline.boilerplate(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    Seq(1L, 2L, 3L).foreach { id =>
      assert(got(id) == (4L, 1L, 250L), s"doc $id: $got")
    }
    assert(got(4L) == (2L, 0L, 0L), s"doc 4: $got")
  }

  test("delete fold: bridge removal splits, shrink keeps, untouched pass") {
    import spark.implicits._
    import graft.operators.TextPipeline.MinhashK
    // signatures built so b bridges a~c: b agrees with a on h0..h8 (9 =
    // IncMinMatch) and with c on h3..h11 (9), while a~c share only h3..h8
    // (6 < 9) — deleting b MUST split {a,b,c} into singletons a, c
    def sig(id: Long, h: Int => String) =
      (Seq[Any](id) ++ (0 until MinhashK).map(h)).toArray
    val rows = Seq(
      sig(1L, i => s"A$i"), //                                  a
      sig(2L, i => if (i <= 8) s"A$i" else s"C$i"), //          b (bridge)
      sig(3L, i => if (i >= 3 && i <= 8) s"A$i" else s"C$i"), // c
      sig(10L, i => s"D$i"), sig(11L, i => s"D$i"), //          d~e untouched
      sig(20L, i => s"F$i"), //                                 f singleton
      sig(30L, i => s"P$i"), sig(31L, i => s"P$i"), sig(32L, i => s"P$i"))
    val sigs = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(org.apache.spark.sql.Row(_: _*))),
      org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType) +:
        (0 until MinhashK).map(k => org.apache.spark.sql.types.StructField(
          s"h$k", org.apache.spark.sql.types.StringType))))
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (10L, 10L), (11L, 10L),
      (30L, 30L), (31L, 30L), (32L, 30L)).toDF("doc_id", "cluster_id")
    // delete the bridge b, the singleton f (no label row), and r from the
    // all-identical {p,q,r} (shrinks without splitting)
    val deleted = Seq(2L, 20L, 32L).toDF("doc_id")
    // the one label kernel: the deleted docs are the touched set, and
    // pairsOf probes the signatures that remain
    val live = sigs.join(deleted, Seq("doc_id"), "left_anti")
    val got = graft.operators.TextPipeline
      .foldLabelFrame(spark, labels, deleted, ids => graft.operators.TextPipeline
        .agreementPairsAgainst(live, live.join(ids, Seq("doc_id"), "left_semi"), "test"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // a and c fall out (pairless after the split -> singletons by absence)
    assert(got == Map(10L -> 10L, 11L -> 10L, 30L -> 30L, 31L -> 30L), got)
  }

  test("planted duplicates: exact + simhash + ngram detect them") {
    val dir = SparkTestBase.tmpDir("plant")
    import spark.implicits._
    val base = (0 until 50).map(i => s"word$i").mkString(" ")
    val near = base.replace("word25 ", "changed ") // one token of 50 differs
    val docs = Seq(
      (0L, base.trim, "en", "s", base.trim.length.toLong),
      (1L, base.trim, "en", "s", base.trim.length.toLong), // exact dup
      (2L, near.trim, "en", "s", near.trim.length.toLong), // near dup
      (3L, "completely different words here now", "en", "s", 36L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.parquet(s"$dir/documents.parquet")

    val exact = TextPipeline.dedupExact(spark, dir).collect()
    assert(exact.length == 3) // 4 docs, one exact-dup pair collapses
    assert(exact.map(_.getLong(2)).max == 2) // n_copies = 2 for the dup

    val sim = TextPipeline.dedupSimhash(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sim.contains((0L, 1L)), s"simhash must pair the exact dups: $sim")

    val ngram = TextPipeline.dedupNgramJaccard(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ngram.contains((0L, 1L)))
    assert(ngram.contains((0L, 2L)) && ngram.contains((1L, 2L)),
      s"near-dup (one token of 50 differs) must pass jaccard 0.8: $ngram")
  }

  test("simhash 4x8-bit banding has FULL recall at hamming <= 3 (brute force)") {
    import spark.implicits._
    // pigeonhole: <= 3 differing bits over 4 bands leave one band identical,
    // so the banded candidate set must contain EVERY hamming<=3 pair (the
    // round-1 2x16-bit banding missed 2+1 splits)
    def fp(text: String): Option[Long] = {
      val ws = text.split(" ").filter(_.nonEmpty)
      if (ws.isEmpty) None else {
        val sums = new Array[Int](32)
        ws.foreach { w =>
          val md = java.security.MessageDigest.getInstance("MD5")
            .digest(w.getBytes("UTF-8")).map("%02x".format(_)).mkString
          (0 until 32).foreach { j =>
            if (md.charAt(j).toInt % 2 == 1) sums(j) += 1 else sums(j) -= 1 }
        }
        Some((0 until 32).map(j => if (sums(j) > 0) 1L << j else 0L).sum)
      }
    }
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect()
    val fps = docs.flatMap { case (id, t) => fp(t).map(id -> _) }
    val want = (for {
      (a, fa) <- fps; (b, fb) <- fps if a < b
      h = java.lang.Long.bitCount(fa ^ fb) if h <= 3
    } yield (a, b, h)).toSet
    val got = TextPipeline.dedupSimhash(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(want.nonEmpty, "corpus should contain hamming<=3 pairs")
    assert(got == want, s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
  }

  test("cosine dedup: banded LSH finds planted near-identical pairs, no all-pairs join") {
    import spark.implicits._
    val dir = SparkTestBase.tmpDir("cos")
    def vec(s: Long): Array[Float] = Array.tabulate(Similarity.Dim)(d =>
      (graft.gen.Gen.mix(s * 131 + d) % 1000L).toFloat / 1000f)
    val base = (0L until 40L).map(i => (i, vec(i), "r"))
    val planted = Seq(
      (100L, vec(0).updated(0, vec(0)(0) + 0.001f), "p"),
      (101L, vec(1).updated(3, vec(1)(3) - 0.002f), "p"))
    (base ++ planted).toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val df = Similarity.cosineDedup(spark, dir)
    val pairs = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 100L)) && pairs.contains((1L, 101L)),
      s"planted near-identical pairs must be found: $pairs")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      "cosine dedup must not contain an all-pairs join")
  }

  test("knn matches in-memory brute force (quantized dot)") {
    import spark.implicits._
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
      .map { case (id, e) => id -> e.map(x =>
        BigDecimal(x.toDouble * 1000).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong) }
    val queries = vecs.filter(_._1 < Similarity.NumQueries)
    val want = queries.flatMap { case (qid, qv) =>
      vecs.filter(_._1 != qid)
        .map { case (id, v) => (id, qv.zip(v).map { case (a, b) => a * b }.sum) }
        .sortBy { case (id, d) => (-d, id) }
        .take(Similarity.TopK)
        .zipWithIndex
        .map { case ((id, d), i) => (qid, id, d, (i + 1).toLong) }
    }.toSet
    val got = Similarity.knnBrute(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == want)
  }

  test("ivf ann: probe pruning really prunes; in-cluster top-k is exact") {
    import spark.implicits._
    val res = Similarity.annIvf(spark, sf).collect()
    assert(res.nonEmpty)
    // probe pruning: every query searches <= IvfProbe clusters
    val clustersPerQuery = res.groupBy(_.getLong(0))
      .map { case (_, rs) => rs.map(_.getLong(2)).distinct.length }
    assert(clustersPerQuery.forall(_ <= Similarity.IvfProbe))
    // within the probed clusters the ranking is exact brute force: for each
    // query, recompute dots of returned neighbors and check ordering
    res.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val dots = rs.sortBy(_.getLong(4)).map(_.getLong(3))
      assert(dots.zip(dots.tail).forall { case (a, b) => a >= b },
        "rnk must order by dot desc")
    }
  }

  test("multimodal decode: deterministic partition-local plumbing") {
    val f1 = Multimodal.features(spark, sf).collect()
    val f2 = Multimodal.features(spark, sf).collect()
    assert(f1.length == 500)
    assert(f1.map(_.getLong(0)).toSeq == f2.map(_.getLong(0)).toSeq)
    f1.zip(f2).foreach { case (a, b) =>
      assert(a.getSeq[Float](5) == b.getSeq[Float](5), "features must be deterministic")
    }
    // ASCII text: byte length == n_chars
    val chars = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    f1.foreach(r => assert(r.getInt(1).toLong == chars(r.getLong(0))))
    // feature vectors have the declared fixed width
    f1.foreach(r => assert(r.getSeq[Float](5).length == Multimodal.FeatureDim))
  }

  test("plan audit: no all-pairs join, required scale shapes present, label table never shuffled") {
    val queries = Seq(
      "dedup_minhash_lsh", "dedup_ngram_jaccard", "dedup_simhash",
      "dedup_incremental", "dedup_clusters", "dedup_clusters_incremental",
      "dedup_clusters_deletes",
      "embed_cosine_dedup", "embed_ann_lsh", "embed_ann_ivf", "embed_knn_topk",
      "pipeline_pack_sequences", "pipeline_decontaminate",
      "pipeline_mix_sample", "text_repetition", "pipeline_boilerplate")
    // knnBrute deliberately broadcasts the 5-row query side into a non-equi
    // join; annIvf's probe selection cross-joins queries with the BROADCAST
    // K-row centroid table (the required Q x K scoring work, bounded by K).
    // Every other query must stay free of all-pairs operators — and the
    // allowed ones must still show their REQUIRED scale shapes, so a
    // regression of annIvf's corpus-side lookup from hash join to NLJ fails
    // the audit even though an NLJ is allowed elsewhere in its plan.
    val allowedNlj = Set("embed_knn_topk", "embed_ann_ivf")
    val requiredShapes = Map(
      "embed_ann_ivf" -> Seq("BroadcastHashJoin [cluster", "WindowGroupLimit"),
      "embed_knn_topk" -> Seq("WindowGroupLimit"),
      // the incremental relabel pass must stay a BROADCAST of the tiny root
      // map against the big label table (a SortMergeJoin here would shuffle
      // the whole persisted label table per delta batch)
      "dedup_clusters_incremental" -> Seq("BroadcastHashJoin [cluster_id"),
      // untouched clusters must pass through via a broadcast anti-join on
      // the (tiny) touched-cluster set — never a shuffle of the label table
      "dedup_clusters_deletes" -> Seq("BroadcastHashJoin [cluster_id"),
      // packing's block offsets must BROADCAST back (a sort-merge join here
      // would shuffle the corpus a third time), and the corpus-side window
      // must be partitioned by blk (a global-order window = one task)
      "pipeline_pack_sequences" -> Seq("BroadcastHashJoin [blk"),
      // eval grams must broadcast against the corpus gram stream
      "pipeline_decontaminate" -> Seq("BroadcastHashJoin [gram"),
      // the tiny per-source totals must broadcast back onto the corpus scan
      "pipeline_mix_sample" -> Seq("BroadcastHashJoin [source"),
      // the frequent-gram set must broadcast back onto the gram stream
      "pipeline_boilerplate" -> Seq("BroadcastHashJoin [g"))
    // the cluster-size join of the result frame also reads
    // "BroadcastHashJoin [cluster_id", so the label fold's own cluster_id
    // joins are held to the broadcast form by ruling out the shuffled ones
    val labelShuffles = Seq("SortMergeJoin [cluster_id", "ShuffledHashJoin [cluster_id")
    val forbiddenShapes = Map(
      "dedup_clusters_incremental" -> labelShuffles,
      "dedup_clusters_deletes" -> labelShuffles)
    val bad = queries.flatMap { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect() // force the adaptive final plan
      val plan = df.queryExecution.executedPlan.toString
      val nlj = plan.contains("BroadcastNestedLoopJoin") || plan.contains("CartesianProduct")
      val missing = requiredShapes.getOrElse(name, Nil).filterNot(plan.contains)
      val forbidden = forbiddenShapes.getOrElse(name, Nil).filter(plan.contains)
      if (nlj && !allowedNlj.contains(name)) Some(s"$name: all-pairs join")
      else if (missing.nonEmpty) Some(s"$name: missing shape $missing")
      else if (forbidden.nonEmpty) Some(s"$name: forbidden shape $forbidden")
      else None
    }
    assert(bad.isEmpty, bad.mkString("; "))
  }
}
