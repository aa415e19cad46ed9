package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Per-layer totals over the traced passes of a run, reported as means
  * per traced pass. Jobs are charged to the innermost span open at their
  * submission, tasks to the one open at their launch, and SQL executions
  * to the one open when they were planned.
  */
final class LayerTotals {
  private val sums = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
  private val plan = mutable.HashMap.empty[String, PlanCounts].withDefaultValue(PlanCounts())
  private val spanLog = mutable.ArrayBuffer.empty[Span]
  private var passes = 0

  private def add(key: String, v: Double): Unit = sums(key) += v

  def add(t: Tracer, l: BenchListener, out: PassOut): Unit = {
    passes += 1
    val spans = t.spans.toVector
    spanLog ++= spans
    val ivs = spans.map(s => Stats.SpanIv(s.id, s.parent, s.start, s.end))
    val layerOf = spans.map(s => s.id -> s.layer).toMap
    val tasks = l.tasks.toVector.flatMap(tk => Stats.innermost(ivs, tk.launch).map(_ -> tk))
    val busy = tasks.groupMap(_._1)(p => Stats.Iv(p._2.launch, p._2.finish))
    val self = Stats.selfTime(ivs)
    val driver = Stats.driverTime(ivs, busy)
    for (s <- spans) {
      add(s"${s.layer}.calls", 1)
      add(s"${s.layer}.self_s", self(s.id) / 1000.0)
      add(s"${s.layer}.driver_s", driver(s.id) / 1000.0)
      add(s"${s.layer}.rows_out", s.rows.toDouble)
    }
    for ((id, tk) <- tasks) {
      val ly = layerOf(id)
      add(s"$ly.tasks", 1)
      add(s"$ly.exec_cpu_s", tk.cpuNs / 1e9)
      add(s"$ly.gc_s", tk.gcMs / 1000.0)
      add(s"$ly.shuffle_mb", tk.shuffleWriteBytes / 1048576.0)
      add(s"$ly.spill_mb", tk.spillBytes / 1048576.0)
      if (tk.failed) add(s"$ly.failed_tasks", 1)
    }
    for (j <- l.jobStarts; id <- Stats.innermost(ivs, j)) add(s"${layerOf(id)}.jobs", 1)

    val seen = new java.util.IdentityHashMap[org.apache.spark.sql.execution.SparkPlan, Unit]()
    val execs = TraceRegistry.synchronized(TraceRegistry.executions.toVector)
    for (qe <- execs; start <- planningStart(qe); id <- Stats.innermost(ivs, start)) {
      val ly = layerOf(id)
      val c = PlanCounts.of(qe.executedPlan, seen)
      plan(ly) = plan(ly) + c
      if (spans(id).name.startsWith("SnapshotLog.read")) add("sources.scanned_in_reads", c.filesScanned)
    }
    add("sources.reads", spans.count(_.name.startsWith("SnapshotLog.read")))
    if (!out.pruneRatio.isNaN) { add("sources.prune_ratio", out.pruneRatio); add("sources.prune_passes", 1) }

    val progress = TraceRegistry.synchronized(TraceRegistry.progress.toVector).map(_.progress)
    val dur = (p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String) =>
      Option(p.durationMs.get(k)).map(_.longValue / 1000.0).getOrElse(0.0)
    add("streaming.batches", progress.length)
    add("streaming.addbatch_s", progress.map(dur(_, "addBatch")).sum)
    add("streaming.log_s", progress.map(p =>
      dur(p, "walCommit") + dur(p, "commitOffsets") + dur(p, "latestOffset")).sum)
    if (!out.outsideTriggerS.isNaN) add("streaming.outside_trigger_s", out.outsideTriggerS)
    add("streaming.state_rows", progress.groupBy(_.id).values.map(ps =>
      ps.map(_.stateOperators.map(_.numRowsTotal).sum).max).sum.toDouble)
  }

  /** A query is executed right after it is planned, inside the call that ran it. */
  private def planningStart(qe: org.apache.spark.sql.execution.QueryExecution): Option[Double] =
    qe.tracker.phases.get("planning").map(_.startTimeMs.toDouble)

  /** The 115 per-layer metrics, means per traced pass (ratios over totals). */
  def metrics: Seq[(String, Double, String)] = {
    val n = math.max(passes, 1).toDouble
    def mean(k: String) = sums(k) / n
    val family = Seq("calls" -> "count", "self_s" -> "s", "driver_s" -> "s", "jobs" -> "count",
      "tasks" -> "count", "exec_cpu_s" -> "s", "gc_s" -> "s", "shuffle_mb" -> "MB",
      "spill_mb" -> "MB", "rows_out" -> "rows", "failed_tasks" -> "count")
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    val d = plan("dedup")
    val s = plan("similarity")
    val src = plan("sources")
    Main.Layers.flatMap(l => family.map { case (m, u) => (s"$l.$m", mean(s"$l.$m"), u) }) ++ Seq(
      ("dedup.join_rows", d.joinRows / n, "rows"),
      ("dedup.candidates", d.candidates / n, "pairs"),
      ("dedup.pairs_kept", d.kept / n, "pairs"),
      ("dedup.verify_yield", ratio(d.kept, d.candidates), "ratio"),
      ("similarity.candidates", s.candidates / n, "pairs"),
      // similarPairs returns exactly its verified pairs
      ("similarity.verify_yield", ratio(sums("similarity.rows_out"), s.candidates), "ratio"),
      ("sources.files_written", src.filesWritten / n, "count"),
      ("sources.mb_written", src.bytesWritten / 1048576.0 / n, "MB"),
      ("sources.files_scanned", ratio(sums("sources.scanned_in_reads"), sums("sources.reads")), "count"),
      ("sources.prune_ratio", ratio(sums("sources.prune_ratio"), sums("sources.prune_passes")), "ratio"),
      ("streaming.batches", mean("streaming.batches"), "count"),
      ("streaming.addbatch_s", mean("streaming.addbatch_s"), "s"),
      ("streaming.log_s", mean("streaming.log_s"), "s"),
      ("streaming.outside_trigger_s", mean("streaming.outside_trigger_s"), "s"),
      ("streaming.state_rows", mean("streaming.state_rows"), "rows"))
  }

  /** Writes every traced span as one JSON line. */
  def writeSpans(path: Path): Unit = {
    import Json._
    val lines = spanLog.map(s => obj("pass" -> num(s.pass), "id" -> num(s.id),
      "parent" -> num(s.parent), "layer" -> str(s.layer), "name" -> str(s.name),
      "start_ms" -> num(s.start), "end_ms" -> num(s.end), "rows" -> num(s.rows.toDouble)))
    Files.write(path, lines.asJava)
  }
}
