package graft

import graft.gen.Gen
import graft.lake.LakeTable
import graft.model.TableMapping
import org.apache.spark.sql.SparkSession

/** Scratch profiling main (not part of the driver contract). */
object Probe {
  def main(args: Array[String]): Unit = {
    val cores = args.headOption.getOrElse("32")
    val events = args.lift(1).map(_.toLong).getOrElse(500000L)
    val nB = args.lift(2).map(_.toInt).getOrElse(8)
    val skew = args.lift(3).map(_.toDouble).getOrElse(2.0)
    val master = sys.env.getOrElse("GRAFT_MASTER", s"local[$cores]")
    val builder = SparkSession.builder().master(master)
      .config("spark.executor.extraClassPath", sys.props("java.class.path"))
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", sys.env.getOrElse("GRAFT_WORK_BASE", "/tmp"))
      .config("spark.sql.adaptive.enabled", sys.env.getOrElse("GRAFT_AQE", "true"))
      .config("spark.hadoop.fs.file.impl", classOf[graft.lake.BareLocalFileSystem].getName)
    // ad-hoc conf overrides for tuning probes, applied at BUILDER time so
    // static confs (executor memory etc.) work too: GRAFT_CONF="k=v;k2=v2"
    sys.env.get("GRAFT_CONF").foreach(_.split(';').filter(_.contains("="))
      .foreach { kv => val Array(k, v) = kv.split("=", 2); builder.config(k, v) })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    println(s"[probe] nestedVectorized=" + spark.conf.get(
      "spark.sql.parquet.enableNestedColumnVectorizedReader"))
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(sys.env.getOrElse("GRAFT_WORK_BASE", "/tmp")), "probe").toString
    val cfg = Gen.Config(numEvents = events, numConvs = math.max(64, (events / 64).toInt),
      skew = skew, numPartitions = 32)
    Gen.writeLog(spark, cfg, s"$work/wal", nB, filesPerSegment = 32)
    val lake = LakeTable.create(spark, s"$work/t",
      graft.model.Transcripts.spec(numBuckets = 64))
    val mapping = TableMapping("transcripts", "transcripts")
    // warmup
    val lakeW = LakeTable.create(spark, s"$work/tw", graft.model.Transcripts.spec(numBuckets = 64))
    val b0 = spark.read.schema(graft.model.ChangeEvent.schema).parquet(f"$work/wal/seg-00000").as[graft.model.ChangeEvent]
    graft.operators.Replay.applyBatch(lakeW, b0, mapping, 0)
    val tAll = System.nanoTime()
    (0 until nB).foreach { b =>
      val t0 = System.nanoTime()
      val batch = spark.read.schema(graft.model.ChangeEvent.schema)
        .parquet(f"$work/wal/seg-$b%05d").as[graft.model.ChangeEvent]
      graft.operators.Replay.applyBatch(lake, batch, mapping, b)
      println(f"[probe] batch $b: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    println(f"[probe] total: ${(System.nanoTime() - tAll) / 1e9}%.2f s cores=$cores events=$events")
    spark.stop()
  }
}
