package perfbench

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.quality.Rule
import graft.streaming.StreamingDQ

/** The streaming workload: drain seeded arrival files one per trigger
  * under `Trigger.AvailableNow` through a windowed DQ summary and a
  * watermarked dedup. The only workload with per-micro-batch fixed
  * costs, a state store and offset/commit logs.
  *
  * Each data file covers five minutes of event time; a seeded share of
  * its events run up to a minute behind the file's start (out of order,
  * still on time), some events are re-delivered in the same or the next
  * file (duplicate keys, still on time), and some carry dirt. Two
  * sentinel files push the watermark a day ahead, and a last file of
  * late events must be dropped by both queries.
  */
final class StreamDq(work: Path) extends Workload {
  import StreamDq._
  val name = "stream_dq"

  private val arrivals = work.resolve("arrivals")

  private var rows = 0L
  // (window start micros, column) -> (total, nulls, out of format)
  private var expectWindows = Map.empty[(Long, String), (Long, Long, Long)]
  private var expectKeys = Set.empty[Long]

  private var stream: DataFrame = _

  def inputRows: Long = rows

  def generate(spark: SparkSession, seed: Long): Seq[String] = {
    val rnd = new scala.util.Random(seed * 15485863L + 4L)
    val lateShare = 0.02 + rnd.nextDouble() * 0.05
    val oooShare = 0.05 + rnd.nextDouble() * 0.15
    val dupShare = 0.02 + rnd.nextDouble() * 0.06
    val nullShare = 0.01 + rnd.nextDouble() * 0.03
    val negShare = 0.01 + rnd.nextDouble() * 0.03
    val badTypeShare = 0.01 + rnd.nextDouble() * 0.03
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime * 1000L // epoch micros
    val sliceUs = 5L * 60L * 1000000L
    var nextId = 0L
    def event(ts: Long): Row = {
      nextId += 1
      val value: java.lang.Double =
        if (rnd.nextDouble() < nullShare) null
        else if (rnd.nextDouble() < negShare) -1.0 - rnd.nextInt(100)
        else math.round(rnd.nextDouble() * 10000.0) / 100.0
      val tpe = if (rnd.nextDouble() < badTypeShare) "Click!" else Types(rnd.nextInt(Types.length))
      Row(nextId, new Timestamp(ts / 1000L), rnd.nextInt(500).toLong, tpe, value)
    }
    val onTime = scala.collection.mutable.ArrayBuffer.empty[(Long, Row)]
    var carry = Seq.empty[Row] // re-deliveries due in the next file
    val files = (0 until NFiles).map { k =>
      val start = t0 + k * sliceUs
      val n = EventsMin + rnd.nextInt(EventsMax - EventsMin + 1)
      val fresh = Seq.fill(n) {
        val ts =
          if (k > 0 && rnd.nextDouble() < oooShare) start - (rnd.nextDouble() * 60e6).toLong
          else start + (rnd.nextDouble() * sliceUs).toLong
        event(ts)
      }
      // a re-delivered event stays on time: in the same file, or in the
      // next one when it lies in the last 90 s of this file's slice
      val sameFile = fresh.filter(_ => rnd.nextDouble() < dupShare / 2)
      val nextFile = fresh.filter(r => micros(r) >= start + sliceUs - 90000000L &&
        rnd.nextDouble() < dupShare * 3)
      val out = rnd.shuffle(fresh ++ sameFile ++ carry)
      carry = nextFile
      out
    }
    val data = files.init :+ (files.last ++ carry)
    data.flatten.foreach(r => onTime += micros(r) -> r)
    val maxTs = onTime.map(_._1).max
    val horizon = 24L * 3600L * 1000000L
    def sentinel(id: Long, ts: Long) = Row(id, new Timestamp(ts / 1000L), 0L, "view", 1.0: java.lang.Double)
    val late = Seq.fill(math.max(1, (lateShare * onTime.size).toInt))(
      event(t0 + (rnd.nextDouble() * (maxTs - t0)).toLong))
    val all = data ++ Seq(Seq(sentinel(-1L, maxTs + horizon)), Seq(sentinel(-2L, maxTs + horizon + 1L)), late)
    rows = all.map(_.length.toLong).sum

    expectKeys = onTime.map(_._2.getLong(0)).toSet ++ Set(-1L, -2L)
    expectWindows = onTime.toSeq.flatMap { case (ts, r) =>
      val w = Math.floorDiv(ts, 60000000L) * 60000000L
      val v = r.get(4).asInstanceOf[java.lang.Double]
      val tpe = r.getString(3)
      Seq((w, "value") -> (1L, if (v == null) 1L else 0L, if (v != null && v < 0) 1L else 0L),
        (w, "event_type") -> (1L, 0L, if (tpe.matches(TypePattern)) 0L else 1L))
    }.groupMapReduce(_._1)(_._2) { case ((a, b, c), (x, y, z)) => (a + x, b + y, c + z) }

    // one write, one parquet file per arrival; modification times give the order
    Workload.deleteRec(arrivals)
    Files.createDirectories(arrivals)
    val tmp = work.resolve("arrival_tmp")
    val tagged = all.zipWithIndex.flatMap { case (slice, k) => slice.map(r => Row.fromSeq(r.toSeq :+ k)) }
    spark.createDataFrame(tagged.asJava, Schema.add("_file", IntegerType))
      .repartition(col("_file")).write.mode("overwrite").partitionBy("_file").parquet(tmp.toString)
    val mtime0 = System.currentTimeMillis() - 3600000L
    for (k <- all.indices) {
      val part = Files.list(tmp.resolve(s"_file=$k")).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val dst = arrivals.resolve(f"arrival_$k%03d.parquet")
      Files.move(part, dst)
      dst.toFile.setLastModified(mtime0 + k * 1000L)
    }
    Workload.deleteRec(tmp)
    Seq(Workload.fingerprint(s"arrivals(${all.length} files)", Schema, rows))
  }

  private def micros(r: Row): Long = r.getAs[Timestamp](1).getTime * 1000L

  def resolve(spark: SparkSession): Unit =
    stream = spark.readStream.schema(Schema).option("maxFilesPerTrigger", "1")
      .parquet(arrivals.toString)

  def pass(spark: SparkSession, t: Tracer, passNo: Int): PassOut = {
    val (n1, n2) = (s"wdq_${passNo + 100}", s"dedup_${passNo + 100}")
    val (c1, c2) = (work.resolve(s"ckpt_$n1"), work.resolve(s"ckpt_$n2"))
    Seq(c1, c2).foreach(Workload.deleteRec)
    def start(df: DataFrame, qname: String, ckpt: Path): StreamingQuery =
      df.writeStream.outputMode(OutputMode.Append).format("memory").queryName(qname)
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow()).start()
    val t0 = System.nanoTime()
    val summary = t.call("streaming", "StreamingDQ.windowedDqSummary")(
      StreamingDQ.windowedDqSummary(stream, "ts", Specs))
    val dedup = t.call("streaming", "StreamingDQ.streamingDedup")(
      StreamingDQ.streamingDedup(stream, "ts", Seq("event_id")))
    // both sinks drain the same arrivals concurrently, as two queries of
    // one application would
    val (q1, q2) = t.call("streaming", "StreamingQuery.AvailableNow") {
      val qs = (start(summary, n1, c1), start(dedup, n2, c2))
      try { qs._1.awaitTermination(); qs._2.awaitTermination() }
      finally { qs._1.stop(); qs._2.stop() }
      qs
    }
    val windows = spark.table(n1).collect()
    val keys = spark.table(n2).select("event_id").collect().map(_.getLong(0))
    val wall = Workload.seconds(t0)

    val batchS = Seq(q1, q2).flatMap(_.recentProgress.toSeq)
      .map(p => p.durationMs.get("triggerExecution").longValue / 1000.0)
    Seq(n1, n2).foreach(n => spark.catalog.dropTempView(n))
    Seq(c1, c2).foreach(Workload.deleteRec)

    val errs = Seq.newBuilder[String]
    val got = windows.map { r =>
      val w = r.getAs[Timestamp]("window_start").getTime * 1000L
      (w, r.getAs[String]("column")) -> (r.getAs[Long]("total"), r.getAs[Long]("null_records"),
        r.getAs[Long]("out_of_format_records"))
    }
    if (got.length != expectWindows.size || got.toMap != expectWindows)
      errs += s"closed windows: ${got.length} rows, want ${expectWindows.size}"
    if (keys.length != expectKeys.size || keys.toSet != expectKeys)
      errs += s"dedup keys: ${keys.length} rows, want ${expectKeys.size}"
    val msgs = errs.result()
    // the two queries' triggers overlap; their union is the in-trigger time
    val trig = Seq(q1, q2).flatMap(_.recentProgress.toSeq).map { p =>
      val s = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      Stats.Iv(s, s + p.durationMs.get("triggerExecution").longValue)
    }
    PassOut(wall, msgs.isEmpty, msgs.mkString("; "), batchS = batchS,
      outsideTriggerS = wall - Stats.covered(trig) / 1000.0)
  }
}

object StreamDq {
  val NFiles = 2
  val EventsMin = 250
  val EventsMax = 300
  val Types = Array("view", "click", "add_cart", "purchase", "error")
  val TypePattern = "^[a-z_]+$"

  val Specs: Seq[(String, Seq[Rule])] = Seq(
    "value" -> Seq(Rule.NumGte(0.0)),
    "event_type" -> Seq(Rule.MatchesRegex(TypePattern)))

  val Schema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType)))
}
