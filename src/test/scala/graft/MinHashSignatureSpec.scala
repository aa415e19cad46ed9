package graft

import graft.dedup.Dedup
import graft.functions.MinHashSignature
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The native MinHash signature kernel against the formula it
  * replaced — `min(xxhash64(lit(i), tok))` over the exploded set,
  * rebuilt here as the reference — and the band keys of an index
  * built with that formula against [[Dedup.minhashIndex]]'s, so an
  * at-rest index written by the aggregate form stays mergeable and
  * matchable.
  */
class MinHashSignatureSpec extends SparkSpec {
  import spark.implicits._

  private val pool = Seq("a", "b", "alpha", "beta", "naïve", "straße", "日本語",
    "ключ", "😀", "x y", "", "tok")

  /** Seeded sets covering the edge cases: empty, one token, duplicate
    * tokens, a null element, multi-byte UTF-8, then random draws.
    */
  private val sets: Seq[(Long, Seq[String])] = {
    val rnd = new scala.util.Random(17)
    val fixed = Seq(Seq.empty[String], Seq("alpha"), Seq("a", "a", "b", "a"),
      Seq("a", null), Seq(null), Seq("日本語", "😀", "naïve"))
    val random = (1 to 60).map(_ => Seq.fill(1 + rnd.nextInt(9))(pool(rnd.nextInt(pool.size))))
    (fixed ++ random).zipWithIndex.map { case (s, i) => (i.toLong, s) }
  }

  private def setsDf = sets.toDF("id", "ws")

  /** The replaced aggregate: explode, then k MIN aggregates per id. */
  private def referenceSigs(df: DataFrame, k: Int): Map[Long, Seq[Long]] = {
    val mins = (0 until k).map(i => min(xxhash64(lit(i), col("tok"))))
    df.select(col("id"), explode(col("ws")).as("tok"))
      .groupBy("id").agg(array(mins: _*).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
  }

  private def kernelSigs(df: DataFrame, k: Int): Map[Long, Seq[Long]] =
    df.select(col("id"), MinHashSignature(col("ws"), k).as("sig"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[Long](1).toSeq)).toMap

  for (k <- Seq(1, 7, 128)) test(s"kernel equals the min-aggregate formula, k = $k") {
    val ref = referenceSigs(setsDf, k)
    val got = kernelSigs(setsDf, k)
    // the empty set has no group in the aggregate and no signature here
    assert(got.filter(_._2 == null).keySet == Set(0L))
    assert(ref.keySet == got.keySet - 0L)
    ref.foreach { case (id, sig) => assert(got(id) == sig, s"set $id") }
  }

  test("null token array gives a null signature") {
    val df = Seq((1L, Option.empty[Seq[String]])).toDF("id", "ws")
    assert(df.select(MinHashSignature(col("ws"), 4)).head().isNullAt(0))
  }

  test("interpreted and codegen evaluation agree") {
    val expr = MinHashSignature(BoundReference(0, ArrayType(StringType), nullable = true), 16)
    val proj = GenerateUnsafeProjection.generate(Seq(expr))
    val inputs = sets.map(_._2) :+ null
    inputs.foreach { s =>
      val row = InternalRow(
        if (s == null) null
        else new GenericArrayData(s.map(t => if (t == null) null else UTF8String.fromString(t))))
      val interp = expr.eval(row).asInstanceOf[ArrayData]
      val gen = proj(row)
      if (interp == null) assert(gen.isNullAt(0), s"set $s")
      else assert(gen.getArray(0).toLongArray().toSeq == interp.toLongArray().toSeq, s"set $s")
    }
  }

  test("rejects a non-string token array") {
    val df = Seq((1L, Seq(1, 2))).toDF("id", "ws")
    intercept[org.apache.spark.sql.AnalysisException] {
      df.select(MinHashSignature(col("ws"), 4)).collect()
    }
  }

  // ---- index compatibility with the aggregate-built form ----

  private val bands = 16
  private val rowsPerBand = 4

  /** minhashIndex as the aggregate form built it: explode, k MIN
    * aggregates per set, band keys over the aggregate's columns, then
    * the re-join onto the clustered sets.
    */
  private def referenceIndex(df: DataFrame): DataFrame = {
    val k = bands * rowsPerBand
    val clustered = df.select(col("doc_id").as("id"), Dedup.wordSet(col("text")).as("ws"))
      .groupBy(md5(concat_ws("\u0001", sort_array(col("ws")))).as("_ck"))
      .agg(min(col("id")).as("sid"), collect_list(col("id")).as("ids"),
        first(col("ws")).as("ws"))
      .drop("_ck")
    val sigCols = (0 until k).map(i => min(xxhash64(lit(i), col("tok"))).as(s"_s$i"))
    val sigs = clustered.select(col("sid"), explode(col("ws")).as("tok"))
      .groupBy("sid").agg(sigCols.head, sigCols.tail: _*)
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(array((0 until rowsPerBand).map(j => col(s"_s${b * rowsPerBand + j}")): _*))
          .as("bh"))
    }
    sigs.select(col("sid"), array(bandCols: _*).as("bks")).join(clustered, "sid")
  }

  private def newIndex(df: DataFrame): DataFrame =
    Dedup.minhashIndex(df, "text", "doc_id", bands, rowsPerBand)

  private def canon(idx: DataFrame) =
    idx.select(col("sid"), sort_array(col("ids")).as("ids"),
        sort_array(col("ws")).as("ws"), col("bks"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toSeq,
        r.getSeq[String](2).toSeq, r.getSeq[Any](3).toSeq)).toSet

  private val corpus: Seq[(Long, String)] = {
    val rnd = new scala.util.Random(5)
    val words = pool.filter(_.nonEmpty) ++ (1 to 30).map(i => s"w$i")
    val base = (1L to 40L).map(i =>
      i -> Seq.fill(4 + rnd.nextInt(8))(words(rnd.nextInt(words.size))).mkString(" "))
    // exact copies, near copies (one word swapped), and a null text
    val copies = (41L to 50L).map(i => i -> base((i - 41).toInt)._2)
    val near = (51L to 60L).map { i =>
      val ws = base((i - 51).toInt)._2.split(" ")
      i -> (ws.init :+ "swapped").mkString(" ")
    }
    base ++ copies ++ near :+ (61L -> null)
  }

  private def corpusDf(ids: Long => Boolean) =
    corpus.filter(r => ids(r._1)).toDF("doc_id", "text")

  test("index band keys equal the aggregate-built index's; the null-text doc drops out") {
    val df = corpusDf(_ => true)
    val ref = canon(referenceIndex(df))
    val got = canon(newIndex(df))
    assert(got == ref)
    assert(!got.exists(_._2.contains(61L)))
    assert(newIndex(df).columns.toSeq == Seq("sid", "bks", "ids", "ws"))
  }

  test("merge and match against an at-rest aggregate-built store index keep their results") {
    val store = corpusDf(_ <= 45L)
    val batch = corpusDf(_ > 45L)
    val all = corpusDf(_ => true)
    val dir = java.nio.file.Files.createTempDirectory("graft_old_idx").toString + "/idx"
    referenceIndex(store).write.parquet(dir)
    val oldStore = spark.read.parquet(dir)
    // merge: old-form store index + new batch index == new full index
    assert(canon(Dedup.mergeNearIndexes(oldStore, newIndex(batch))) ==
      canon(newIndex(all)))
    // match: a new batch index against the old-form store index finds
    // exactly what it finds against a new-form one
    def matches(storeIdx: DataFrame) =
      Dedup.minhashMatchesIndexed(newIndex(batch), storeIdx, 0.6).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaOld = matches(oldStore)
    assert(viaOld == matches(newIndex(store)))
    assert(viaOld.nonEmpty)
  }

  test("the signature is evaluated once per set: only ever as the projected _sig column") {
    // a filter pushed below the `_sig` projection (e.g. the one Spark
    // infers for an exploded band-key attribute) would re-inline the
    // kernel once per band
    val df = corpusDf(_ => true)
    val pairs = Dedup.minhashPairs(df, "text", "doc_id", 0.6, allPairsMaxSets = 0)
    pairs.collect()
    for (plan <- Seq(pairs.queryExecution.executedPlan, newIndex(df).queryExecution.executedPlan)) {
      val lines = plan.toString.split("\n").filter(_.contains("minhashsignature("))
      assert(lines.nonEmpty)
      lines.foreach { l =>
        assert("minhashsignature\\(".r.findAllIn(l).size == 1 && l.contains(" AS _sig"), l)
      }
    }
  }
}
