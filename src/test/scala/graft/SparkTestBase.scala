package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.Files
import scala.jdk.CollectionConverters._

object SparkTestBase {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[graft.lake.BareLocalFileSystem].getName)
    .config("spark.sql.adaptive.enabled", "true")
    .getOrCreate()

  def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Spark jobs submitted by `body`, counted by its job group (forked work
    * carries the caller's group). A marker job run afterwards flushes the
    * asynchronous listener bus: once its start is seen, every earlier job
    * start has been delivered. */
  def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val marker = s"$group-marker"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000L
      while (!seen.contains(marker) && System.currentTimeMillis() < deadline) Thread.sleep(10)
      assert(seen.contains(marker), "listener bus did not deliver the marker job")
      seen.asScala.count(_ == group)
    } finally sc.removeSparkListener(listener)
  }
}
