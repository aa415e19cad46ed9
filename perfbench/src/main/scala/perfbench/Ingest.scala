package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.dedup.Dedup
import graft.sources.SnapshotLog

/** The writing workload: screen arriving batches against a maintained
  * near-duplicate index of the store, upsert the survivors into a
  * snapshot-log table, mix in range deletes and updates, read after
  * every commit, and compact and vacuum at the end of the pass.
  *
  * Documents come from one 31-word vocabulary, so a batch document and a
  * store document share about 0.6 of their words: the band join finds
  * many candidates and verification rejects most of them, unlike
  * `curate`. Every pass starts from the same base table and replays the
  * same commits; a plain in-memory model of those commits is the
  * expected answer for every read.
  */
final class Ingest(work: Path) extends Workload {
  import Ingest._
  val name = "ingest"

  private val baseTable = work.resolve("base_table")
  private val baseIndexPath = work.resolve("base_index")
  private val batchPaths = (0 until NBatches).map(k => work.resolve(s"batch_$k"))
  private val passTable = work.resolve("pass_table")

  private type Doc = (Long, String, Long) // (ver, text, n_words)
  private var baseModel = Map.empty[Long, Doc]
  // key ranges of the pass's range delete and range update, and of readPruned
  private var deleteRange = (0L, 0L)
  private var updateRange = (0L, 0L)
  private var pruneRange = (0L, 0L)
  private var rows = 0L
  private var plainBytes = -1L

  private var baseIndex: DataFrame = _
  private var batches: Seq[DataFrame] = Nil

  def inputRows: Long = rows

  def generate(spark: SparkSession, seed: Long): Seq[String] = {
    val rnd = new scala.util.Random(seed * 1299709L + 3L)
    def text(): String = Seq.fill(20 + rnd.nextInt(60))(Vocab(rnd.nextInt(Vocab.length))).mkString(" ")
    def words(s: String): Long = s.split(" ").length.toLong
    val base = (0 until NStore).map { i => val s = text(); (i.toLong, (0L, s, words(s))) }
    baseModel = base.toMap
    val upsertShare = 0.1 + rnd.nextDouble() * 0.3
    val nearShare = 0.1 + rnd.nextDouble() * 0.2
    val skew = 0.5 + rnd.nextDouble() // Zipf exponent of the upserted keys
    val weights = (1 to NStore).map(r => 1.0 / math.pow(r, skew))
    val wsum = weights.sum
    def skewedKeys(n: Int): Seq[Long] = {
      val picked = scala.collection.mutable.LinkedHashSet.empty[Long]
      while (picked.size < n) {
        var u = rnd.nextDouble() * wsum
        var r = 0
        while (u > weights(r) && r < NStore - 1) { u -= weights(r); r += 1 }
        picked += r.toLong
      }
      picked.toSeq
    }
    var fresh = NStore.toLong
    val batchRows = (0 until NBatches).map { k =>
      val size = BatchMin + rnd.nextInt(BatchMax - BatchMin + 1)
      val nUp = (size * upsertShare).toInt
      val nNear = (size * nearShare).toInt
      val ups = skewedKeys(nUp).map { key => val s = text(); Row(key, k + 1L, s, words(s)) }
      // near duplicates: a store document with one word dropped, under a new key
      val near = Seq.fill(nNear) {
        val src = baseModel(rnd.nextInt(NStore).toLong)._2.split(" ")
        val s = src.patch(rnd.nextInt(src.length), Nil, 1).mkString(" ")
        fresh += 1; Row(fresh, k + 1L, s, words(s))
      }
      val ins = Seq.fill(size - nUp - nNear) { val s = text(); fresh += 1; Row(fresh, k + 1L, s, words(s)) }
      rnd.shuffle(ups ++ near ++ ins)
    }
    rows = batchRows.map(_.length.toLong).sum
    def range(width: Int): (Long, Long) = {
      val lo = rnd.nextInt(NStore - width).toLong
      (lo, lo + width)
    }
    deleteRange = range(NStore / 20)
    updateRange = range(NStore / 20)
    pruneRange = range(NStore / 10)

    val baseDf = spark.createDataFrame(java.util.Arrays.asList(
      base.map { case (id, (v, s, n)) => Row(id, v, s, n) }: _*), Schema)
    Workload.deleteRec(baseTable)
    // range-clustered files, so per-file key stats let readPruned skip
    SnapshotLog.write(baseDf.repartitionByRange((NStore / FileRows).toInt, col("doc_id"))
      .sortWithinPartitions("doc_id"),
      baseTable.toString, statsCols = Seq("doc_id"))
    Dedup.minhashIndex(SnapshotLog.read(spark, baseTable.toString), "text", "doc_id")
      .write.mode("overwrite").parquet(baseIndexPath.toString)
    // the store index is derived from the base table, which it fingerprints
    Workload.fingerprint("base_table", Schema, NStore.toLong) +:
      batchRows.zip(batchPaths).map { case (b, p) => Workload.writeParquet(spark, b, Schema, p, 2) }
  }

  def resolve(spark: SparkSession): Unit = {
    baseIndex = Workload.read(spark, baseIndexPath)
    batches = batchPaths.map(p => Workload.read(spark, p))
  }

  def pass(spark: SparkSession, t: Tracer, passNo: Int): PassOut = {
    Workload.copyRec(baseTable, passTable)
    val dir = passTable.toString
    var model = baseModel
    var version = SnapshotLog.latestVersion(spark, dir).get
    val commitS = Seq.newBuilder[Double]
    val readS = Seq.newBuilder[Double]
    val errs = Seq.newBuilder[String]
    var wall = 0.0
    var storeIdx = baseIndex
    val pins = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val pruneRatios = Seq.newBuilder[Double]

    def asRows(df: DataFrame): Seq[(Long, Long, String, Long)] =
      df.select("doc_id", "ver", "text", "n_words").collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    def modelRows(m: Map[Long, Doc]): Seq[(Long, Long, String, Long)] =
      m.toSeq.map { case (k, (v, s, n)) => (k, v, s, n) }

    // one timed step, added to the pass's wall time and, given `acc`, to that list
    def step[T](acc: Option[scala.collection.mutable.Builder[Double, Seq[Double]]])(body: => T): T = {
      val (r, s) = Workload.timed(body)
      acc.foreach(_ += s)
      wall += s
      r
    }
    val commit = Some(commitS)
    val reader = Some(readS)

    def readAndCheck(prev: Map[Long, Doc], label: String): Unit = {
      val got = step(reader)(t.call("sources", "SnapshotLog.read")(asRows(SnapshotLog.read(spark, dir))))
      if (!Workload.sameMultiset(got, modelRows(model))) errs += s"read after $label"
      val (lo, hi) = pruneRange
      val pruned = step(reader)(t.call("sources", "SnapshotLog.readPruned")(
        asRows(SnapshotLog.readPruned(spark, dir, "doc_id", lo, hi))))
      if (!Workload.sameMultiset(pruned, modelRows(model.filter { case (k, _) => k >= lo && k <= hi })))
        errs += s"readPruned after $label"
      if (t.on) {
        val sn = SnapshotLog.snapshot(spark, dir)
        pruneRatios += 1.0 - SnapshotLog.prunedFiles(sn, "doc_id", lo, hi).size.toDouble / sn.files.size
      }
      val changes = step(reader)(t.call("sources", "SnapshotLog.readChanges")(
        SnapshotLog.readChanges(spark, dir, version - 1, version)
          .select("doc_id", "ver", "text", "n_words", "_change_type").collect().toSeq
          .map(r => ((r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)), r.getString(4)))))
      val before = modelRows(prev).toSet
      val after = modelRows(model).toSet
      val want = (before -- after).toSeq.map(_ -> "delete") ++ (after -- before).toSeq.map(_ -> "insert")
      if (!Workload.sameMultiset(changes, want)) errs += s"readChanges after $label"
    }

    for ((batch, k) <- batches.zipWithIndex) {
      val prev = model
      val keep = step(commit) {
        val bIdx = t.df("dedup", "Dedup.minhashIndex")(Dedup.minhashIndex(batch, "text", "doc_id"))
        val hits = t.df("dedup", "Dedup.minhashMatchesIndexed")(
          Dedup.minhashMatchesIndexed(bIdx, storeIdx, Threshold))
          .select("batch_id").distinct().collect().map(_.getLong(0))
        val keep = batch.filter(!col("doc_id").isin(hits.toIndexedSeq: _*))
        version = t.call("sources", "SnapshotLog.mergeInto")(
          SnapshotLog.mergeInto(spark, dir, keep, Seq("doc_id"), Seq("ver"), statsCols = Seq("doc_id")))
        val merged = t.df("dedup", "Dedup.mergeNearIndexes")(
          Dedup.mergeNearIndexes(storeIdx, bIdx.filter(!col("sid").isin(hits.toIndexedSeq: _*))))
        storeIdx = if (merged.storageLevel.useMemory) merged else { pins += merged; merged.persist() }
        keep
      }
      for (r <- keep.collect()) model += r.getLong(0) -> ((r.getLong(1), r.getString(2), r.getLong(3)))
      readAndCheck(prev, s"batch $k")
      // a range delete after the first batch, a range update after the second
      if (k == 0) {
        val (lo, hi) = deleteRange
        val p = model
        version = step(commit)(t.call("sources", "SnapshotLog.deleteRange")(
          SnapshotLog.deleteRange(spark, dir, "doc_id", lo, hi)))
        model = model.filter { case (key, _) => key < lo || key > hi }
        readAndCheck(p, "deleteRange")
      } else if (k == 1) {
        val (lo, hi) = updateRange
        val p = model
        version = step(commit)(t.call("sources", "SnapshotLog.updateRange")(
          SnapshotLog.updateRange(spark, dir, "doc_id", lo, hi,
            Map("n_words" -> (col("n_words") + 1000L)))))
        model = model.map { case (key, d @ (v, s, n)) =>
          key -> (if (key >= lo && key <= hi) (v, s, n + 1000L) else d) }
        readAndCheck(p, "updateRange")
      }
    }
    val p = model
    version = step(None)(t.call("sources", "SnapshotLog.compactInPlace")(
      SnapshotLog.compactInPlace(spark, dir, FileRows, sortCols = Seq("doc_id"),
        statsCols = Seq("doc_id"))))
    readAndCheck(p, "compactInPlace")
    step(None)(t.call("sources", "SnapshotLog.vacuum")(SnapshotLog.vacuum(spark, dir)))
    pins.foreach(_.unpersist(false))

    val live = SnapshotLog.read(spark, dir)
    if (!Workload.sameMultiset(asRows(live), modelRows(model))) errs += "read after vacuum"
    if (plainBytes < 0) { // the same live rows every pass: measure once
      val plain = work.resolve("plain_copy")
      live.coalesce(1).write.mode("overwrite").parquet(plain.toString)
      plainBytes = Workload.dirBytes(plain)
    }
    val spaceAmp = Workload.dirBytes(passTable).toDouble / plainBytes
    val msgs = errs.result()
    PassOut(wall, msgs.isEmpty, msgs.mkString("; "), commitS = commitS.result(),
      readS = readS.result(), spaceAmp = spaceAmp,
      pruneRatio = pruneRatios.result().sum / pruneRatios.result().size)
  }
}

object Ingest {
  val NStore = 600
  val FileRows = 100L
  val NBatches = 2
  val BatchMin = 55
  val BatchMax = 65
  val Threshold = 0.9
  val Vocab: Array[String] = ("join hash row batch scan column customer filter small slow merge " +
    "order vector line table data agg value key stream window a spark part group big sort " +
    "query fast the dup").split(" ")

  val Schema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("ver", LongType),
    StructField("text", StringType), StructField("n_words", LongType)))
}
