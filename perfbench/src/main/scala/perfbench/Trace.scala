package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One call into a layer's public function. Times are epoch ms. */
final class Span(val id: Int, val parent: Int, val layer: String, val name: String,
                 val pass: Int, val start: Double) {
  var end: Double = Double.NaN
  var rows: Long = 0L
}

/** Spans around the benchmark's calls into graft. Off, every wrapper is
  * a plain call. On, each call opens a span on the driver thread, and a
  * DataFrame result is materialized inside its span (a local checkpoint,
  * which also cuts its lineage), so the work Spark would do later, in
  * whichever call first consumed it, is charged to the call that defined
  * it, and later calls neither redo it nor re-plan it.
  */
final class Tracer {
  var on = false
  var pass = 0
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()

  def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  private def open(layer: String, name: String): Span = {
    val s = new Span(spans.length, stack.headOption.map(_.id).getOrElse(-1),
      layer, name, pass, nowMs)
    spans += s
    stack = s :: stack
    s
  }

  private def close(s: Span): Unit = {
    s.end = nowMs
    stack = stack.tail
  }

  def call[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val s = open(layer, name)
      try {
        val r = body
        s.rows = r match {
          case xs: Iterable[_] => xs.size.toLong
          case xs: Array[_] => xs.length.toLong
          case _ => 0L
        }
        r
      } finally close(s)
    }

  def df(layer: String, name: String)(body: => DataFrame): DataFrame =
    if (!on) body
    else {
      val s = open(layer, name)
      try {
        val d = body.localCheckpoint(eager = true)
        s.rows = d.count()
        d
      } finally close(s)
    }
}

final case class TaskRec(launch: Double, finish: Double, cpuNs: Long, gcMs: Long,
                         shuffleWriteBytes: Long, spillBytes: Long, failed: Boolean)

/** The benchmark's SparkListener. Always tracks the memory held by
  * cached blocks (for `cache_peak_mb`); in a traced run it also keeps
  * every job and task for attribution.
  */
final class BenchListener(traced: Boolean) extends SparkListener {
  private val blocks = scala.collection.mutable.HashMap.empty[String, Long]
  private var cur = 0L
  private var peak = 0L
  val jobStarts = ArrayBuffer.empty[Double]
  val tasks = ArrayBuffer.empty[TaskRec]

  def resetPeak(): Unit = synchronized { peak = cur }
  def peakBytes: Long = synchronized { peak }

  def clearTrace(): Unit = synchronized {
    jobStarts.clear(); tasks.clear()
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name
      val mem = if (info.storageLevel.isValid && info.storageLevel.useMemory) info.memSize else 0L
      cur += mem - blocks.getOrElse(key, 0L)
      if (mem == 0L) blocks.remove(key) else blocks(key) = mem
      peak = math.max(peak, cur)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (traced) synchronized { jobStarts += e.time.toDouble }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (traced) {
    val i = e.taskInfo
    val m = e.taskMetrics
    val rec =
      if (m == null) TaskRec(i.launchTime, i.finishTime, 0L, 0L, 0L, 0L, failed = true)
      else TaskRec(i.launchTime.toDouble, i.finishTime.toDouble, m.executorCpuTime,
        m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled,
        failed = !i.successful)
    synchronized { tasks += rec }
  }
}

/** Registries the conf-registered listeners write into. Spark builds
  * those listeners itself from a class name, so their state lives here.
  */
object TraceRegistry {
  @volatile var traced = false
  val executions = ArrayBuffer.empty[QueryExecution]
  val progress = ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]

  def clear(): Unit = synchronized { executions.clear(); progress.clear() }
}

/** Keeps each finished query's execution, so the SQL metrics of its
  * final adaptive plan can be read once the pass is over.
  */
class PlanListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (TraceRegistry.traced) TraceRegistry.synchronized { TraceRegistry.executions += qe }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Records every micro-batch's progress: phase durations and state rows. */
class StreamListener extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    TraceRegistry.synchronized { TraceRegistry.progress += e }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** Counters read off the SQL metrics of final plans.
  *  - joinRows: output of a join keyed on a band key (`bk`);
  *  - candidates: output of the final distinct over a pair of ids;
  *  - kept: output of the verify filter on a pair's score (a filter, or a
  *    join condition once the optimizer has pushed it there);
  *  - filesWritten / bytesWritten: file-write commands;
  *  - filesScanned: files read by file scans.
  */
final case class PlanCounts(joinRows: Long = 0L, candidates: Long = 0L, kept: Long = 0L,
                            filesWritten: Long = 0L, bytesWritten: Long = 0L,
                            filesScanned: Long = 0L) {
  def +(o: PlanCounts): PlanCounts = PlanCounts(joinRows + o.joinRows,
    candidates + o.candidates, kept + o.kept, filesWritten + o.filesWritten,
    bytesWritten + o.bytesWritten, filesScanned + o.filesScanned)
}

object PlanCounts {
  private val pairKeys = Set(Set("id_a", "id_b"), Set("bsid", "ssid"))
  // the verify filter tests a score column, or the score's inputs once the
  // optimizer has pushed it below the projection that names the score, or
  // into the condition of the join that brings the second side's set
  private val VerifyInputs = Set("jaccard", "similarity", "ws_a", "ws_b", "ws_s",
    "bits_a", "bits_b", "dot")

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  /** Counters of one plan. `seen` holds nodes already counted in this
    * pass: a cached relation read by several queries counts once.
    */
  def of(root: SparkPlan, seen: java.util.IdentityHashMap[SparkPlan, Unit]): PlanCounts = {
    var acc = PlanCounts()
    def walk(p: SparkPlan): Unit = if (!seen.containsKey(p)) {
      seen.put(p, ())
      p match {
        case j: BaseJoinExec if j.leftKeys.exists(_.references.exists(_.name == "bk")) =>
          acc = acc.copy(joinRows = acc.joinRows + metric(j, "numOutputRows"))
        case a: BaseAggregateExec if a.aggregateExpressions.isEmpty &&
            a.requiredChildDistributionExpressions.isDefined &&
            pairKeys.contains(a.groupingExpressions.map(_.name).toSet) =>
          acc = acc.copy(candidates = acc.candidates + metric(a, "numOutputRows"))
        case j: BaseJoinExec if j.condition.exists(_.references.exists(r => VerifyInputs(r.name))) =>
          acc = acc.copy(kept = acc.kept + metric(j, "numOutputRows"))
        case f: FilterExec if f.condition.references.exists(r => VerifyInputs(r.name)) =>
          acc = acc.copy(kept = acc.kept + metric(f, "numOutputRows"))
        case w if w.metrics.contains("numOutputBytes") && w.metrics.contains("numFiles") =>
          acc = acc.copy(filesWritten = acc.filesWritten + metric(w, "numFiles"),
            bytesWritten = acc.bytesWritten + metric(w, "numOutputBytes"))
        case f: FileSourceScanExec =>
          acc = acc.copy(filesScanned = acc.filesScanned + metric(f, "numFiles"))
        case _ =>
      }
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec => walk(s.plan)
        case m: InMemoryTableScanExec => walk(m.relation.cacheBuilder.cachedPlan)
        case _ =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(root)
    acc
  }
}
