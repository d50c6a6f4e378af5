package replaybench

import graft.gen.Gen
import graft.lake.LakeTable
import graft.model.{TableMapping, Transcripts}
import graft.operators.Replay
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

class GateSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("the gate passes the engine's table and rejects a corrupted row") {
    import spark.implicits._
    val dir = Files.createTempDirectory("gate").toString
    val cfg = Gen.Config(numEvents = 2000, numConvs = 40, turnsPerConv = 8, seed = 5)
    val events = (0L until cfg.numEvents).map(Gen.mkEvent(_, cfg))
    val mapping = TableMapping("transcripts", "transcripts")
    val lake = LakeTable.create(spark, s"$dir/t", Transcripts.spec(numBuckets = 4))
    Replay.applyBatch(lake, events.toDS(), mapping, 0L)
    val convs = (0 until cfg.numConvs).map(c => f"c$c%08d").filter(Gate.sampled(7L, _)).toSet
    assert(convs.nonEmpty)
    assert(Gate.cloneTarget(lake, events, mapping, convs).isEmpty)

    // the same rows with one sampled row's text altered
    val cols = Transcripts.schema.fieldNames.toSeq
    val rows = lake.read().select(cols.map(c => col(c).cast("string")): _*)
      .collect().toSeq.map(r => cols.indices.map(r.getString))
    val victim = rows.indexWhere(r => convs(r.head))
    val corrupted = rows.updated(victim, rows(victim).updated(3, "corrupted"))
    val bad = LakeTable.create(spark, s"$dir/bad", Transcripts.spec(numBuckets = 4))
    Workloads.writeRows(bad, corrupted)
    val problems = Gate.cloneTarget(bad, events, mapping, convs)
    assert(problems.size == 2, problems)
    assert(problems.exists(p => p.contains("unexpected row") && p.contains("corrupted")), problems)
    assert(problems.exists(_.contains("missing row")), problems)
  }
}
