package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.corrector.Corrector
import graft.dedup.{Components, Dedup}
import graft.pipeline.Pipeline
import graft.text.TextAnalysis

/** The training-data job: quality-filter, clean, exact- and near-dedup,
  * decontaminate, then mix, sample, split and pack a seeded corpus.
  *
  * Corpus shape: every planted cluster draws from its own vocabulary, so
  * cross-cluster Jaccard is 0 and the planted clusters decide the
  * expected survivors. Members of a cluster share a base word sequence
  * plus one member tag (pairwise Jaccard >= 0.85); a seeded share of
  * members are exact or whitespace-only copies. Far more than 64
  * distinct words keep `minhashPairs` off its bitmap branch, and the
  * corpus's ~2,100 unique word sets sit above the `allPairsMaxSets` the
  * pass sets, so it runs the banded LSH join rather than all pairs.
  */
final class Curate(work: Path) extends Workload {
  import Curate._
  val name = "curate"

  private val docsPath = work.resolve("documents")
  private val benchPath = work.resolve("benchmark")

  private var rows = 0L
  private var clusterOf = Map.empty[Long, Int] // doc id -> planted cluster
  private var passing = Set.empty[Int]         // clusters that pass the quality filter
  private var contaminated = Set.empty[Int]

  private var docs: DataFrame = _
  private var bench: DataFrame = _

  def inputRows: Long = rows

  def generate(spark: SparkSession, seed: Long): Seq[String] = {
    val rnd = new scala.util.Random(seed * 104729L + 2L)
    val exactShare = 0.15 + rnd.nextDouble() * 0.1
    val spaceShare = 0.05 + rnd.nextDouble() * 0.1
    val lowQualityShare = 0.02 + rnd.nextDouble() * 0.04
    val contamShare = 0.01 + rnd.nextDouble() * 0.02
    val meanExtra = 1.0 + rnd.nextDouble() * 2.0 // mean extra members of a dup cluster
    val docsOut = Seq.newBuilder[Row]
    val clusterMap = Map.newBuilder[Long, Int]
    val passBuilder = Set.newBuilder[Int]
    val contamBuilder = Set.newBuilder[Int]
    val benchOut = Seq.newBuilder[Row]
    // a fixed document count, so seeds change the corpus's shape, not its size
    var id = 0L
    var c = 0
    while (id < NDocs) {
      val vocab = 12 + rnd.nextInt(40) // per-cluster vocabulary shape
      def w(j: Int) = s"w${c}x$j"
      val lowQuality = rnd.nextDouble() < lowQualityShare
      // a clean base: 24..60 tokens, each word at most twice, so the
      // filter's repetition and diversity rules pass
      val len = 24 + rnd.nextInt(37)
      val base =
        if (lowQuality) Seq.fill(6 + rnd.nextInt(8))(w(0)) // too short and repetitive
        else {
          val pool = rnd.shuffle((0 until vocab).flatMap(j => Seq(j, j)))
          pool.take(math.min(len, pool.length)).map(w)
        }
      val members =
        if (id < NDupDocs) math.min(2 + (rnd.nextDouble() * meanExtra * 2).toInt, NDocs - id).toInt
        else 1
      val src = SourceNames(rnd.nextInt(SourceNames.length))
      var prev: String = null
      for (m <- 0 until members) {
        val text =
          if (m > 0 && rnd.nextDouble() < exactShare) prev
          else if (m > 0 && rnd.nextDouble() < spaceShare) "  " + prev.replace(" ", "  ") + " "
          else (base :+ s"t${c}m$m").mkString(" ")
        docsOut += Row(id, text, src, text.trim.split(" +").length.toLong)
        clusterMap += id -> c
        id += 1
        prev = text.trim.replaceAll(" +", " ")
      }
      if (!lowQuality) {
        passBuilder += c
        if (rnd.nextDouble() < contamShare) {
          contamBuilder += c
          benchOut += Row(base.take(12).mkString(" "))
        }
      }
      c += 1
    }
    benchOut += Row("held out words that no training document uses at all in any order")
    val docRows = docsOut.result()
    clusterOf = clusterMap.result()
    passing = passBuilder.result()
    contaminated = contamBuilder.result()
    rows = docRows.length.toLong
    Seq(Workload.writeParquet(spark, docRows, DocSchema, docsPath, 4),
      Workload.writeParquet(spark, benchOut.result(), BenchSchema, benchPath, 1))
  }

  def resolve(spark: SparkSession): Unit = {
    docs = Workload.read(spark, docsPath)
    bench = Workload.read(spark, benchPath)
  }

  def pass(spark: SparkSession, t: Tracer, passNo: Int): PassOut = {
    val t0 = System.nanoTime()
    val report = t.df("text", "TextAnalysis.qualityFilterReport")(
      TextAnalysis.qualityFilterReport(docs, "text", "doc_id"))
    val good = docs.join(report.filter(col("reason") === "keep").select("doc_id"), "doc_id")
    val stripped = t.df("corrector", "Corrector.strip")(Corrector.strip(good, "text"))
    val cleaned = t.df("corrector", "Corrector.collapseSpaces")(
      Corrector.collapseSpaces(stripped, "text"))
    val exact = t.df("dedup", "Dedup.exactDedup")(Dedup.exactDedup(cleaned, "text", "doc_id"))
    val pairs = t.df("dedup", "Dedup.minhashPairs")(
      Dedup.minhashPairs(exact, "text", "doc_id", Threshold, allPairsMaxSets = AllPairsMaxSets))
    val kept = t.df("dedup", "Components.dedupByPairsBest")(
      Components.dedupByPairsBest(exact, "doc_id", pairs, "id_a", "id_b", col("n_tokens")))
    val contam = t.df("dedup", "Dedup.contaminatedIds")(
      Dedup.contaminatedIds(kept, "text", "doc_id", bench, "text"))
    val clean = kept.join(contam, Seq("doc_id"), "left_anti").persist()
    val survivors = clean.select("doc_id").collect().map(_.getLong(0))
    val fractions = t.df("pipeline", "Pipeline.tokenBudgetFractions")(
      Pipeline.tokenBudgetFractions(clean, col("n_tokens"), col("source"), BudgetTokens, 0.5))
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    val sampled = t.df("pipeline", "Pipeline.stratifiedSampleByHash")(
      Pipeline.stratifiedSampleByHash(clean, col("doc_id"), col("source"), fractions))
    val split = t.df("pipeline", "Pipeline.withSplit")(Pipeline.withSplit(sampled, "doc_id"))
    val packed = t.df("pipeline", "Pipeline.packSequences")(
      Pipeline.packSequences(split, col("doc_id"), col("n_tokens"), ContextLen, 64))
    val packStats = packed.agg(count(lit(1)), countDistinct(col("pack_id")),
      max(col("pack_offset")), countDistinct(col("split"))).head()
    val wall = Workload.seconds(t0)
    clean.unpersist(false)

    val errs = Seq.newBuilder[String]
    val perCluster = survivors.groupBy(clusterOf)
    val twice = perCluster.count(_._2.length > 1)
    if (twice > 0) errs += s"$twice clusters keep more than one doc"
    val wantAlive = passing -- contaminated
    val alive = perCluster.keySet
    if (alive != wantAlive)
      errs += s"survivor clusters: ${(wantAlive -- alive).size} missing, ${(alive -- wantAlive).size} unexpected"
    if (packStats.getLong(0) <= 0L || packStats.getLong(2) >= ContextLen)
      errs += s"packSequences: $packStats"
    val msgs = errs.result()
    PassOut(wall, msgs.isEmpty, msgs.mkString("; "))
  }
}

object Curate {
  val NDocs = 3000L
  val NDupDocs = 1500L
  /** Below this many unique word sets `minhashPairs` verifies all pairs;
    * set under the corpus's unique-set count so the banded path runs. */
  val AllPairsMaxSets = 1000L
  val Threshold = 0.8
  val ContextLen = 2048
  val BudgetTokens = 200000L
  val SourceNames = Array("web", "books", "code", "forum", "news")

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("source", StringType), StructField("n_tokens", LongType)))
  val BenchSchema: StructType = StructType(Seq(StructField("text", StringType)))
}
