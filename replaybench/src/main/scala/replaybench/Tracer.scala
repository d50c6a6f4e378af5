package replaybench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.collection.mutable

/** Per-job spans of the traced run, kept in memory and summarized at the
  * end. Each Spark job is a span named by its module ([[Attribution]]);
  * its identifier is the streaming batch id Spark stamps on the job
  * (`streaming.sql.batchId`), so all spans of one batch share it. Only
  * jobs submitted inside a measured window count: outside them the
  * benchmark itself is running set-up, reads or the correctness gate.
  * Listener events arrive late, so every job is recorded and the windows
  * are applied when the figures are read. */
final class Tracer extends SparkListener {

  final case class Job(id: Int, module: String, batch: Option[Long],
                       startMs: Long, var endMs: Long = -1L)
  final case class Task(stage: Int, runMs: Long, shuffleWrite: Long,
                        spill: Long, bytesWritten: Long)

  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val jobOfStage = mutable.Map[Int, Int]()
  private val tasks = mutable.ArrayBuffer[Task]()
  private val windows = mutable.ArrayBuffer[(Long, Long)]()
  private val sqlSites = mutable.Map[Long, String]()
  private var openSince = -1L
  /** Nanoseconds spent inside this listener's callbacks. */
  @volatile var callbackNs = 0L

  /** Structured Streaming pins every job of a query to the query's
    * creation call site (`DataStreamWriter.start`). Query-started events
    * reach listeners synchronously on the new query's execution thread,
    * so clearing the pin there makes each job carry the stack it was
    * really submitted from. Registered for traced runs only. */
  def unpinCallSites(spark: SparkSession): StreamingQueryListener = {
    val l = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        spark.sparkContext.clearCallSite()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(l)
    l
  }

  def open(): Unit = openSince = System.currentTimeMillis()
  def close(): Unit = {
    windows += ((openSince, System.currentTimeMillis())); openSince = -1L
  }

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    try f finally callbackNs += System.nanoTime() - t0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    // A SQL action's jobs may be submitted from Spark's own pool threads
    // (adaptive query stages), whose stacks say nothing about the
    // caller; the SQL execution records the action's own call site.
    // Otherwise the result stage (created last, so the highest id)
    // carries the job's call site.
    val site = prop("spark.sql.execution.id").flatMap(id => sqlSites.get(id.toLong))
      .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.details)).orNull
    val batch = prop("streaming.sql.batchId").map(_.toLong)
    jobs(e.jobId) = Job(e.jobId, Attribution.moduleOfCallSite(site), batch, e.time)
    e.stageIds.foreach(s => if (!jobOfStage.contains(s)) jobOfStage(s) = e.jobId)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      timed(sqlSites(s.executionId) = s.details)
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val m = e.taskMetrics
    if (m != null)
      tasks += Task(e.stageId, m.executorRunTime, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.outputMetrics.bytesWritten)
  }

  /** Jobs submitted inside a measured window. */
  private def measured: Seq[Job] = jobs.values.toSeq.filter(j =>
    windows.exists { case (a, b) => j.startMs >= a && j.startMs <= b })

  /** Tasks of the measured jobs' stages, by stage. */
  private def measuredTasks(ids: Set[Int]): Map[Int, Seq[Task]] =
    tasks.toSeq.filter(t => jobOfStage.get(t.stage).exists(ids)).groupBy(_.stage)

  /** Milliseconds of [startMs, endMs] during which at least one job ran. */
  def coveredMs(startMs: Long, endMs: Long): Long = {
    val spans = measured.map(j => (math.max(startMs, j.startMs), math.min(endMs, j.endMs)))
      .filter { case (a, b) => a < b }.sortBy(_._1)
    var covered = 0L
    var reach = startMs
    spans.foreach { case (a, b) =>
      if (b > reach) { covered += b - math.max(a, reach); reach = b }
    }
    covered
  }

  /** Generic per-module metrics, six per module. `selfS` adds a module's
    * self time outside any job (the streaming layer's driver-side work). */
  def moduleMetrics(selfS: Map[String, Double]): Seq[(String, Double)] = {
    val byModule = measured.groupBy(_.module)
    Attribution.Modules.flatMap { m =>
      val js = byModule.getOrElse(m, Nil)
      val stages = measuredTasks(js.map(_.id).toSet)
      val ts = stages.values.flatten.toSeq
      val skew = if (stages.isEmpty) 0.0 else {
        val runs = stages.values.maxBy(_.map(_.runMs).sum).map(_.runMs.toDouble).toSeq
        runs.max / math.max(1.0, Stats.median(runs))
      }
      Seq(
        s"$m.wall_s" -> (js.map(j => math.max(0L, j.endMs - j.startMs)).sum / 1000.0 +
          selfS.getOrElse(m, 0.0)),
        s"$m.busy_s" -> ts.map(_.runMs).sum / 1000.0,
        s"$m.tasks" -> ts.size.toDouble,
        s"$m.shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
        s"$m.spill_bytes" -> ts.map(_.spill).sum.toDouble,
        s"$m.task_skew" -> skew)
    }
  }

  def jobCount: Int = measured.size
  def bytesWritten: Long =
    measuredTasks(measured.map(_.id).toSet).values.flatten.map(_.bytesWritten).sum
  def windowS: Double = windows.map { case (a, b) => b - a }.sum / 1000.0

  /** The spans themselves, one line per job, for offline inspection. */
  def spans: Seq[String] = measured.map { j =>
    s"""{"job":${j.id},"batch":${j.batch.getOrElse(-1L)},"module":"${j.module}",""" +
      s""""start_ms":${j.startMs},"end_ms":${j.endMs}}"""
  }
}
