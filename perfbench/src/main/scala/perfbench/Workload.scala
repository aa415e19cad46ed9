package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** What one pass reports besides its wall time. `ok` is the pass's
  * output check. The step lists feed the workload-specific metrics;
  * `pruneRatio` is measured in traced passes only; `outsideTriggerS` is
  * streaming wall time outside micro-batch triggers.
  */
final case class PassOut(wallS: Double, ok: Boolean, msg: String,
                         commitS: Seq[Double] = Nil, readS: Seq[Double] = Nil,
                         batchS: Seq[Double] = Nil, spaceAmp: Double = Double.NaN,
                         pruneRatio: Double = Double.NaN, outsideTriggerS: Double = Double.NaN,
                         partS: Seq[(String, Double)] = Nil)

/** One seeded workload. `generate` writes every input to parquet before
  * any timing and keeps the planted truth the checks compare against;
  * `resolve` is the input-resolution step of set-up; `pass` runs one
  * closed-loop pass through graft's public operators, timing only the
  * operators, and checks its output.
  */
trait Workload {
  def name: String
  /** Rows the pass reads, the numerator of `rows_per_s`. */
  def inputRows: Long
  /** Writes the inputs; returns one fingerprint line per input dataset:
    * name, schema and row count. */
  def generate(spark: SparkSession, seed: Long): Seq[String]
  def resolve(spark: SparkSession): Unit
  def pass(spark: SparkSession, t: Tracer, passNo: Int): PassOut
}

/** Workloads run back to back as one pass: the pass's wall time is the
  * sum of theirs and its check passes when all of theirs do.
  */
final class Composite(val name: String, parts: Seq[Workload]) extends Workload {
  def inputRows: Long = parts.map(_.inputRows).sum
  def generate(spark: SparkSession, seed: Long): Seq[String] =
    parts.flatMap(_.generate(spark, seed))
  def resolve(spark: SparkSession): Unit = parts.foreach(_.resolve(spark))
  def pass(spark: SparkSession, t: Tracer, passNo: Int): PassOut = {
    val outs = parts.map(_.pass(spark, t, passNo))
    def first(f: PassOut => Double) = outs.map(f).find(!_.isNaN).getOrElse(Double.NaN)
    PassOut(outs.map(_.wallS).sum, outs.forall(_.ok), outs.map(_.msg).filter(_.nonEmpty).mkString("; "),
      commitS = outs.flatMap(_.commitS), readS = outs.flatMap(_.readS),
      batchS = outs.flatMap(_.batchS), spaceAmp = first(_.spaceAmp), pruneRatio = first(_.pruneRatio),
      outsideTriggerS = first(_.outsideTriggerS), partS = parts.map(_.name).zip(outs.map(_.wallS)))
  }
}

object Workload {
  /** The workloads the benchmark gates on: each pairs two of the single
    * workloads so that two runs cover every layer (see perfbench/README.md).
    */
  val benchmarked: Seq[String] = Seq("dq_audit-stream_dq", "curate-ingest")
  val single: Seq[String] = Seq("dq_audit", "curate", "ingest", "stream_dq")

  def apply(name: String, work: Path): Workload = {
    def one(n: String): Workload = n match {
      case "dq_audit" => new DqAudit(work.resolve(n))
      case "curate" => new Curate(work.resolve(n))
      case "ingest" => new Ingest(work.resolve(n))
      case "stream_dq" => new StreamDq(work.resolve(n))
      case other => throw new IllegalArgumentException(s"unknown workload '$other' " +
        s"(one of ${(benchmarked ++ single).mkString(", ")})")
    }
    if (single.contains(name)) one(name)
    else if (benchmarked.contains(name)) new Composite(name, name.split("-").toSeq.map(one))
    else one(name)
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, seconds(t0))
  }

  /** Writes `rows` as parquet; returns the dataset's fingerprint line. */
  def writeParquet(spark: SparkSession, rows: Seq[Row], schema: StructType,
                   path: Path, files: Int): String = {
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .repartition(files)
      .write.mode("overwrite").parquet(path.toString)
    fingerprint(path.getFileName.toString, schema, rows.length.toLong)
  }

  def fingerprint(name: String, schema: StructType, rows: Long): String =
    s"$name|${schema.toDDL}|$rows"

  def deleteRec(p: Path): Unit = if (Files.exists(p)) {
    Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
  }

  def copyRec(from: Path, to: Path): Unit = {
    deleteRec(to)
    Files.walk(from).forEach { f =>
      val dst = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(dst)
      else Files.copy(f, dst)
    }
  }

  def dirBytes(p: Path): Long = {
    var total = 0L
    Files.walk(p).forEach(f => if (Files.isRegularFile(f)) total += Files.size(f))
    total
  }

  /** Multiset difference check: the same rows, counted with multiplicity. */
  def sameMultiset[T](a: Iterable[T], b: Iterable[T]): Boolean =
    a.groupBy(identity).view.mapValues(_.size).toMap ==
      b.groupBy(identity).view.mapValues(_.size).toMap

  def read(spark: SparkSession, p: Path): DataFrame = spark.read.parquet(p.toString)
}
