package graft

import graft.gen.Gen
import graft.lake.LakeTable
import graft.model.{TableMapping, TableMode, Transcripts}
import graft.operators.Replay
import org.apache.spark.sql.SparkSession

/** Minimal end-to-end driver for the CDC engine: generate a deterministic
  * transcript change log, replay it into a lake table, and print the
  * converged state + snapshot metadata. Usage:
  *   sbt "runMain graft.Demo [numEvents] [numBatches] [batch|stream|history]"
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val numEvents = args.headOption.map(_.toLong).getOrElse(100000L)
    val nBatches = args.lift(1).map(_.toInt).getOrElse(4)
    val mode = args.lift(2).getOrElse("batch")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
      .appName("graft-demo")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[graft.lake.BareLocalFileSystem].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val cfg = Gen.Config(numEvents = numEvents, numConvs = (numEvents / 50).toInt.max(10),
      skew = 2.0, evolveAtId = if (mode == "history") None else Some(numEvents / 2))
    val dir = java.nio.file.Files.createTempDirectory("graft-demo").toString
    val spec =
      if (mode == "history")
        Transcripts.spec().copy(schema = graft.operators.History.historySchema(Transcripts.schema))
      else Transcripts.spec()
    val lake = LakeTable.create(spark, s"$dir/transcripts", spec)
    val mapping0 = TableMapping("transcripts", "transcripts")
    val mapping =
      if (mode == "history") mapping0.copy(mode = TableMode.History) else mapping0

    val per = (numEvents + nBatches - 1) / nBatches
    val t0 = System.nanoTime()
    mode match {
      case "stream" =>
        // WAL segments on disk -> Structured Streaming foreachBatch merge
        Gen.writeLog(spark, cfg, s"$dir/wal", nBatches)
        graft.streaming.CdcStream.runAvailable(spark, s"$dir/wal/seg-*",
          s"$dir/ckpt", Seq(graft.streaming.CdcStream.Route(mapping, lake)))
        println(s"stream drained: snapshot=v${lake.currentVersion}")
      case _ =>
        import spark.implicits._
        (0 until nBatches).foreach { b =>
          val lo = b * per; val hi = math.min(numEvents, lo + per)
          val batch = spark.range(lo, hi, 1, 8).map(id => Gen.mkEvent(id, cfg))
          Replay.applyBatch(lake, batch, mapping, batchId = b)
          println(s"batch $b applied: events=[${lo}..${hi}) snapshot=v${lake.currentVersion}")
        }
    }
    val secs = (System.nanoTime() - t0) / 1e9
    val snap = lake.snapshot()
    println(f"replayed $numEvents%d events in $secs%.1f s (${numEvents / secs}%.0f events/s)")
    println(s"final schema: ${snap.schema.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(", ")}")
    println(s"snapshot properties: ${snap.properties}")
    println(s"lineage entries: ${snap.lineage.size} (last: ${snap.lineage.lastOption.orNull})")
    println(s"final row count: ${lake.read().count()}")
    println("sample conversation (stable (conv_id, turn_idx) order):")
    lake.read().filter("conv_id = 'c00000001'").orderBy("turn_idx").show(8, truncate = false)
    spark.stop()
  }
}
