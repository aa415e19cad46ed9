package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.BusDrain
import org.apache.spark.sql.SparkSession

/** One benchmark run: generate one workload's inputs from the seed, set
  * up a Spark session several times, then run closed-loop passes on one
  * driver thread for the given number of seconds and print the metrics.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * `--trace 0` reports the end-to-end metrics with tracing off.
  * `--trace 1` alternates untraced and traced passes and reports the
  * per-layer metrics of the traced ones, plus their overhead.
  */
object Main {
  val Layers: Seq[String] = Seq("profile", "quality", "similarity", "corrector", "text",
    "dedup", "pipeline", "sources", "streaming")
  /** The end-to-end metrics of the result line: those `BENCHMARK.json` gates.
    * The report line carries every end-to-end metric. */
  val Gated: Set[String] = Set("setup_s", "pass_p50_s", "rows_per_s", "cache_peak_mb")
  /** Other processes' CPU, in cores, above which a run is flagged contended. */
  val ExtCpuThreshold = 1.0

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case o => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $o")
    }
    val secs = need("seconds").toInt
    require(secs >= 1, "--seconds must be >= 1")
    Args(need("workload"), need("seed").toLong, secs, trace, Paths.get(need("work")))
  }

  def session(work: Path, traced: Boolean, nproc: Int): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.codegen.cache.maxEntries", "10000")
    val s =
      if (!traced) b.getOrCreate()
      else b.config("spark.sql.queryExecutionListeners", classOf[PlanListener].getName)
        .config("spark.sql.streaming.streamingQueryListeners", classOf[StreamListener].getName)
        .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** System busy ticks (USER_HZ = 100) from /proc/stat, or -1. */
  def sysBusyTicks: Long = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().find(_.startsWith("cpu ")).map { l =>
      val f = l.trim.split("\\s+").drop(1).map(_.toLong)
      f.sum - f(3) - (if (f.length > 4) f(4) else 0L)
    }.getOrElse(-1L)
    finally src.close()
  } catch { case _: Exception => -1L }

  def selfCpuNanos: Long = ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
    case _ => -1L
  }

  def loadAvg: Double = math.max(0.0, ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage)

  final case class PassRec(traced: Boolean, out: PassOut, peakBytes: Long)

  def main(argv: Array[String]): Unit = {
    val args = try parse(argv) catch {
      case e: Exception =>
        System.err.println(s"perfbench: ${e.getMessage}")
        sys.exit(2)
    }
    val nproc = Runtime.getRuntime.availableProcessors()
    val loadStart = loadAvg
    val work = args.work.toAbsolutePath
    Files.createDirectories(work)
    val wl = Workload(args.workload, work)
    val spark = session(work, args.trace, nproc)
    val listener = new BenchListener(args.trace)
    spark.sparkContext.addSparkListener(listener)

    // generation: every input written to parquet before any timing
    val (fingerprint, genS) = Workload.timed {
      val sig = wl.generate(spark, args.seed)
      (f"${scala.util.hashing.MurmurHash3.stringHash(sig.mkString(";"))}%08x", sig)
    }

    // set-up: process start to the first timed pass (session start, input
    // resolution, one warm-up pass), less the generator's time
    val tracer = new Tracer
    wl.resolve(spark)
    val warm = runPass(wl, spark, tracer, -1)
    graft.CacheScope.clear()
    val setupS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0 - genS

    val passes = ArrayBuffer.empty[PassRec]
    val layer = new LayerTotals
    val busy0 = sysBusyTicks
    val cpu0 = selfCpuNanos
    val t0 = System.nanoTime()
    var no = 0
    // closed loop: a pass starts only if it can end within the run, going
    // by the last pass; a traced run alternates traced and untraced
    // passes and holds at least one of each
    var last = 0.0
    while (no < (if (args.trace) 2 else 1) || Workload.seconds(t0) + last <= args.seconds) {
      val p0 = System.nanoTime()
      val traced = args.trace && no % 2 == 0
      BusDrain(spark.sparkContext)
      listener.resetPeak()
      if (traced) {
        listener.clearTrace()
        TraceRegistry.clear()
        TraceRegistry.traced = true
        tracer.spans.clear()
        tracer.on = true
      }
      tracer.pass = no
      val out = runPass(wl, spark, tracer, no)
      tracer.on = false
      BusDrain(spark.sparkContext)
      TraceRegistry.traced = false
      if (traced) layer.add(tracer, listener, out)
      graft.CacheScope.clear()
      passes += PassRec(traced, out, listener.peakBytes)
      no += 1
      last = Workload.seconds(p0)
    }
    val measureS = Workload.seconds(t0)
    val extCpu =
      if (busy0 < 0 || cpu0 < 0) -1.0
      else math.max(0.0, ((sysBusyTicks - busy0) / 100.0 - (selfCpuNanos - cpu0) / 1e9) / measureS)
    spark.stop()

    val timed = passes.filterNot(_.traced)
    val failed = passes.count(!_.out.ok) + (if (warm.ok) 0 else 1)
    val attempted = passes.length + 1
    val walls = timed.map(_.out.wallS).filterNot(_.isNaN).toSeq
    if (walls.isEmpty) {
      System.err.println("perfbench: no untraced pass completed")
      sys.exit(1)
    }
    val tail = Stats.tail(walls)
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("pass_p50_s", Stats.median(walls), "s"),
      ("pass_tail_s", tail.value, "s"),
      ("rows_per_s", wl.inputRows * walls.length / walls.sum, "rows/s"),
      ("cache_peak_mb", Stats.median(timed.map(_.peakBytes / 1048576.0).toSeq), "MB"))
    // ingest's and stream_dq's own metrics, on the workloads that run them
    val outs = timed.map(_.out).toSeq
    val specific = Seq(
      ("commit_p50_s", outs.flatMap(_.commitS), "s"),
      ("read_p50_s", outs.flatMap(_.readS), "s"),
      ("space_amp", outs.map(_.spaceAmp).filterNot(_.isNaN), "ratio"),
      ("batch_p50_s", outs.flatMap(_.batchS), "s"))
      .collect { case (k, xs, u) if xs.nonEmpty => (k, Stats.median(xs), u) }
    val failRatio = failed.toDouble / attempted
    val contended = extCpu > ExtCpuThreshold

    import Json._
    val report = obj(
      "workload" -> str(args.workload), "seed" -> num(args.seed.toDouble),
      "trace" -> num(if (args.trace) 1 else 0),
      "input" -> obj("fp" -> str(fingerprint._1), "rows" -> num(wl.inputRows.toDouble),
        "datasets" -> arr(fingerprint._2.map(str))),
      "generate_s" -> num(genS), "nproc" -> num(nproc), "load_start" -> num(loadStart),
      "ext_cpu" -> num(extCpu), "contended" -> bool(contended),
      "passes" -> num(timed.length), "traced_passes" -> num(passes.count(_.traced)),
      "pass_s" -> arr(walls.map(num)),
      "part_s" -> obj(timed.flatMap(_.out.partS).groupMap(_._1)(_._2).toSeq.map { case (k, v) =>
        k -> arr(v.toSeq.map(num)) }: _*),
      "tail" -> obj("percentile" -> num(tail.percentile), "passes_beyond" -> num(tail.beyondCount),
        "of" -> num(tail.n), "rule_met" -> bool(tail.ruleMet)),
      "fail_ratio" -> obj("value" -> num(failRatio), "unit" -> str("ratio")),
      "end_to_end" -> obj((e2e ++ specific).map { case (k, v, u) =>
        k -> obj("value" -> num(v), "unit" -> str(u)) }: _*),
      "failures" -> arr(passes.filterNot(_.out.ok).take(5).map(p => str(p.out.msg)).toSeq))
    println(obj("report" -> report))

    val metrics =
      if (!args.trace) e2e.collect { case (k, v, u) if Gated.contains(k) =>
        k -> obj("value" -> num(v), "unit" -> str(u)) }
      else {
        val tracedWalls = passes.filter(_.traced).map(_.out.wallS).toSeq
        val overhead =
          if (tracedWalls.isEmpty || walls.isEmpty) Double.NaN
          else Stats.median(tracedWalls) / Stats.median(walls)
        val sidecar = work.resolve(s"trace_${args.workload}_${args.seed}.jsonl")
        layer.writeSpans(sidecar)
        System.err.println(s"perfbench: spans written to $sidecar")
        (layer.metrics :+ (("trace.overhead", overhead, "ratio")))
          .map { case (k, v, u) => k -> obj("value" -> num(v), "unit" -> str(u)) }
      }
    println(obj("correct" -> bool(failed == 0), "attempted" -> num(attempted),
      "failed" -> num(failed), "metrics" -> obj(metrics: _*)))
  }

  def runPass(wl: Workload, spark: SparkSession, t: Tracer, no: Int): PassOut =
    try wl.pass(spark, t, no)
    catch {
      case e: Throwable =>
        System.err.println(s"perfbench: pass $no threw ${e.getClass.getName}: ${e.getMessage}")
        PassOut(Double.NaN, ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
}

/** Minimal JSON rendering: numbers keep every digit; a value that is not
  * finite renders as 0 so the line stays valid JSON.
  */
object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def num(i: Int): String = i.toString
  def bool(b: Boolean): String = b.toString
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
