package graft.obs

import graft.lake.LakeTable

import java.nio.file.Paths
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder
import scala.jdk.CollectionConverters._

/** The one recorder of where a micro-batch's time goes. Each batch phase
  * is wrapped in exactly one place:
  *
  *   - `probe`, `evolve`          Replay.applyBatch
  *   - `write`, `footer`          LakeTable.writeDataFiles (planning
  *                                the caller's write — for the clone and
  *                                History merges, binding the batch into
  *                                the table's analyzed merge plan,
  *                                Replay.bound — the Spark job that runs
  *                                it and the parquet write; then the
  *                                footer harvest)
  *   - `commit`                   LakeTable.commit
  *   - `stats`                    SignatureStore.applyBatch (its probe)
  *   - `touched`, `fold`          LabelStore.applyBatch (its probe and
  *                                the touched doc ids' collect; the
  *                                label kernel and the rewrite set's keys)
  *
  * [[run]] labels the phase's Spark jobs with the job description
  * `graft:<table>:<phase>` (so the SQL execution events carry the phase
  * next to the physical plan) and adds its wall time to a per-(table
  * root, phase) count and seconds total. The job group and call site are
  * left alone: the streaming engine cancels by job group, and call sites
  * attribute jobs to modules.
  *
  * [[graft.streaming.ProgressLog]] records each trigger's `durationMs`
  * entries under [[Stream]]. [[graft.streaming.MetricsHttp]] renders the
  * whole registry on every scrape. */
object Phases {

  /** Registry scope of the streaming engine's own trigger phases; table
    * scopes are [[LakeTable.rootKey]]s (absolute paths), so they never
    * collide with it. */
  val Stream = "stream"

  final case class Total(count: Long, seconds: Double)

  private final class Acc {
    val count = new LongAdder
    val nanos = new LongAdder
  }

  private val accs = new ConcurrentHashMap[(String, String), Acc]()

  /** Run `body` as `phase` of `lake`'s batch: its Spark jobs carry the
    * phase's job description, the thread's previous description is
    * restored afterwards, and the wall time is recorded (also when `body`
    * throws; its exception propagates unchanged). */
  def run[T](lake: LakeTable, phase: String)(body: => T): T = {
    val sc = lake.spark.sparkContext
    val scope = LakeTable.rootKey(lake.root)
    val saved = sc.getLocalProperty(JobDescription)
    sc.setLocalProperty(JobDescription,
      s"graft:${Paths.get(scope).getFileName}:$phase")
    val t0 = System.nanoTime()
    try body
    finally {
      record(scope, phase, System.nanoTime() - t0)
      sc.setLocalProperty(JobDescription, saved)
    }
  }

  /** Add one run of `phase` lasting `nanos` to `scope`'s totals. */
  def record(scope: String, phase: String, nanos: Long): Unit = {
    val a = accs.computeIfAbsent((scope, phase), _ => new Acc)
    a.count.increment()
    a.nanos.add(nanos)
  }

  /** Current totals per (scope, phase). */
  def totals: Map[(String, String), Total] =
    accs.asScala.map { case (k, a) =>
      k -> Total(a.count.sum(), a.nanos.sum() / 1e9)
    }.toMap

  private val JobDescription = "spark.job.description"
}
