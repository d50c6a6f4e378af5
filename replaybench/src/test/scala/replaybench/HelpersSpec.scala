package replaybench

import org.scalatest.funsuite.AnyFunSuite

class HelpersSpec extends AnyFunSuite {

  test("tail is the highest percentile with ten samples beyond it") {
    val xs = (1 to 40).map(_.toDouble)
    val t = Stats.tail(xs).get
    assert(xs.count(_ > t.value) == Stats.TailBeyond)
    assert(t.value == 30.0 && t.percentile == 75.0 && t.samples == 40)
    // one more sample moves the tail up, never leaving fewer than ten beyond
    assert(Stats.tail(xs :+ 41.0).get.value == 31.0)
  }

  test("no tail while it would not lie above the median") {
    assert(Stats.tail((1 to 21).map(_.toDouble)).isEmpty)
    assert(Stats.tail((1 to 22).map(_.toDouble)).map(_.value).contains(12.0))
    assert(Stats.tail(Nil).isEmpty)
  }

  test("median interpolates between the middle samples") {
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(5.0)) == 5.0)
  }

  // A stack as Spark records it: innermost frame first.
  private val mergeStack = Seq(
    "org.apache.spark.sql.classic.Dataset.collect(Dataset.scala:1504)",
    "graft.operators.TextPipeline$.bandProbe(TextPipeline.scala:300)",
    "graft.lake.LakeTable.writeDataFiles(LakeTable.scala:183)",
    "graft.operators.Replay$.$anonfun$mergeApplyDeferred$6(Replay.scala:496)",
    "graft.operators.Replay$.applyBatch(Replay.scala:785)",
    "graft.streaming.CdcStream$.$anonfun$start$4(CdcStream.scala:173)",
    "org.apache.spark.sql.execution.streaming.sources.ForeachBatchSink.addBatch(ForeachBatchSink.scala:49)")

  test("a job belongs to the innermost named module below CdcStream") {
    assert(Attribution.moduleOf(mergeStack) == "lake")
    assert(Attribution.moduleOf(mergeStack.patch(2, Nil, 1)) == "operators.replay")
    assert(Attribution.moduleOfCallSite(mergeStack.mkString("\n")) == "lake")
  }

  test("helper objects are not layers: their jobs go to the caller") {
    val sig = Seq(
      "graft.operators.TextPipeline$.minhashSignatures(TextPipeline.scala:150)",
      "graft.operators.SignatureStore$.applyBatch(SignatureStore.scala:130)",
      "graft.streaming.CdcStream$.$anonfun$start$6(CdcStream.scala:182)")
    assert(Attribution.moduleOf(sig) == "operators.signatures")
    assert(Attribution.moduleOf(sig.drop(2)) == "streaming")
  }

  test("a job with no CdcStream frame is unattributed") {
    val pool = Seq(
      "graft.operators.Replay$.$anonfun$applyBatch$3(Replay.scala:783)",
      "java.base/java.util.concurrent.CompletableFuture$AsyncSupply.run(CompletableFuture.java:1768)")
    assert(Attribution.moduleOf(pool) == "unattributed")
    assert(Attribution.moduleOfCallSite(null) == "unattributed")
    assert(Attribution.classOf("app//graft.lake.LakeTable.read(LakeTable.scala:152)") ==
      "graft.lake.LakeTable")
  }

  test("lag runs from the scheduled drop time, not the actual one") {
    val due = OpenLoop.schedule(startMs = 1000L, periodMs = 100.0, units = 3)
      .zipWithIndex.map { case (t, k) => s"c$k" -> t }.toMap
    assert(due == Map("c0" -> 1000L, "c1" -> 1100L, "c2" -> 1200L))
    // the generator ran 50 ms late on the last two drops
    val dropped = Map("c0" -> 1000L, "c1" -> 1150L, "c2" -> 1250L)
    val batchOf = Map("c0" -> 0L, "c1" -> 1L, "c2" -> 1L)
    val commit = Map(0L -> 1300L, 1L -> 1500L)
    assert(OpenLoop.lags(due, batchOf, commit) == Map("c0" -> 0.3, "c1" -> 0.4, "c2" -> 0.3))
    assert(OpenLoop.lateness(due, dropped) == Map("c0" -> 0.0, "c1" -> 0.05, "c2" -> 0.05))
  }

  test("an unapplied unit has no lag, and the backlog counts it") {
    val due = Map("c0" -> 0L, "c1" -> 10L)
    val batchOf = Map("c0" -> 0L)
    assert(OpenLoop.lags(due, batchOf, Map(0L -> 50L)) == Map("c0" -> 0.05))
    // at batch 1's start both units were dropped and c0's batch is done
    assert(OpenLoop.backlogMax(Map("c0" -> 0L, "c1" -> 10L), Map("c0" -> 0L, "c1" -> 1L),
      Map(0L -> 5L, 1L -> 60L)) == 1)
  }
}
