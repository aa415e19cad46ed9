package perfbench

import java.nio.file.Path
import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.corrector.Corrector
import graft.profile.Profiler
import graft.quality.{Detector, Rule, RowRule}
import graft.similarity.StringSim

/** The reference's own job: profile, detect, repair and score a small
  * TPC-H-shaped table set with planted dirt. Scans and aggregates, many
  * small driver-side jobs, almost no shuffle.
  */
final class DqAudit(work: Path) extends Workload {
  import DqAudit._
  val name = "dq_audit"

  private val liPath = work.resolve("lineitem")
  private val ordPath = work.resolve("orders")
  private val custPath = work.resolve("customer")

  // planted truth, filled by generate
  private var rows = 0L
  private var expectDq = Map.empty[String, (Long, Long, Long)] // column -> (nulls, oof, total)
  private var expectRules = Map.empty[String, Long]
  private var expectDups = Map.empty[Long, Long] // o_orderkey -> multiplicity
  private var variantPairs = Seq.empty[(Long, Long)]

  private var li: DataFrame = _
  private var ord: DataFrame = _
  private var cust: DataFrame = _

  def inputRows: Long = rows

  def generate(spark: SparkSession, seed: Long): Seq[String] = {
    val rnd = new scala.util.Random(seed * 7919L + 1L)
    def rate(lo: Double, hi: Double): Double = lo + rnd.nextDouble() * (hi - lo)
    def cents(x: Double): Double = math.round(x * 100.0) / 100.0
    // disjoint seeded row sets: consecutive slices of one permutation
    final class Picker(n: Int) {
      private val perm = rnd.shuffle((0 until n).toVector)
      private var at = 0
      def next(share: Double): Vector[Int] = {
        val k = math.max(1, (share * n).toInt)
        at += k
        perm.slice(at - k, at)
      }
    }

    // customer: person-like names; dirt = null / out-of-range balances,
    // padded and lower-cased names; near-duplicate names = one-letter
    // typos of clean names under new keys
    val names = Array.fill(NCust) {
      def word(): String = Seq.fill(3 + rnd.nextInt(2))(
        s"${Consonants(rnd.nextInt(Consonants.length))}${Vowels(rnd.nextInt(Vowels.length))}"
      ).mkString.capitalize
      s"${word()} ${word()}"
    }
    val cPick = new Picker(NCust)
    val acctNull = cPick.next(rate(0.01, 0.03)).toSet
    val acctOut = cPick.next(rate(0.005, 0.02)).toSet
    val namePad = cPick.next(rate(0.005, 0.02)).toSet
    val nameLower = cPick.next(rate(0.005, 0.02)).toSet
    val variantSrc = cPick.next(rate(0.01, 0.04))
    val custRows = (0 until NCust).map { i =>
      val bal: java.lang.Double =
        if (acctNull(i)) null
        else if (acctOut(i)) cents(10000.0 + rnd.nextDouble() * 5000.0)
        else cents(-999.99 + rnd.nextDouble() * 10999.98)
      val nm =
        if (namePad(i)) s"  ${names(i)} "
        else if (nameLower(i)) names(i).toLowerCase
        else names(i)
      Row(i.toLong, nm, rnd.nextInt(25), bal, Segments(rnd.nextInt(Segments.length)))
    }
    val variants = variantSrc.zipWithIndex.map { case (src, j) =>
      val Array(first, last) = names(src).split(" ")
      val pos = 1 + rnd.nextInt(last.length - 1)
      val ch = last.charAt(pos)
      val sub = ('a' + (ch - 'a' + 1 + rnd.nextInt(24)) % 26).toChar
      val typo = last.substring(0, pos) + sub + last.substring(pos + 1)
      Row((NCust + j).toLong, s"$first $typo", rnd.nextInt(25),
        cents(rnd.nextDouble() * 9000.0): java.lang.Double, Segments(rnd.nextInt(Segments.length)))
    }
    variantPairs = variantSrc.zipWithIndex.map { case (src, j) => (src.toLong, (NCust + j).toLong) }

    // orders: dirt = padded status; exact duplicate rows of clean orders
    val oPick = new Picker(NOrders)
    val statusPad = oPick.next(rate(0.005, 0.02)).toSet
    val dupSrc = oPick.next(rate(0.005, 0.02))
    val day0 = Timestamp.valueOf("1992-01-01 00:00:00").getTime
    val dayMs = 86400000L
    val ordRows = (0 until NOrders).map { i =>
      val st = Status(rnd.nextInt(Status.length))
      Row(i.toLong, rnd.nextInt(NCust).toLong, if (statusPad(i)) s" $st" else st,
        cents(1000.0 + rnd.nextDouble() * 400000.0),
        new Timestamp(day0 + rnd.nextInt(2500) * dayMs),
        Priorities(rnd.nextInt(Priorities.length)))
    }
    val mult = dupSrc.map(i => i.toLong -> (2L + rnd.nextInt(2))).toMap
    val ordAll = ordRows ++ dupSrc.flatMap(i => Seq.fill((mult(i.toLong) - 1).toInt)(ordRows(i)))
    expectDups = mult

    // lineitem: dirt = null quantities, out-of-range discounts, receipt
    // before ship, returned-but-open lines
    val lPick = new Picker(NLines)
    val qtyNull = lPick.next(rate(0.01, 0.03)).toSet
    val discOut = lPick.next(rate(0.005, 0.02)).toSet
    val receiptEarly = lPick.next(rate(0.005, 0.02)).toSet
    val returnedOpen = lPick.next(rate(0.005, 0.02)).toSet
    val liRows = (0 until NLines).map { i =>
      val qty = 1 + rnd.nextInt(50)
      val ship = day0 + rnd.nextInt(2500) * dayMs
      val receipt = if (receiptEarly(i)) ship - (1 + rnd.nextInt(10)) * dayMs
        else ship + (1 + rnd.nextInt(30)) * dayMs
      val flag = if (returnedOpen(i)) "R" else Flags(rnd.nextInt(Flags.length))
      val status = if (returnedOpen(i)) "O" else if (flag == "R") "F" else if (rnd.nextBoolean()) "F" else "O"
      Row(rnd.nextInt(NOrders).toLong, rnd.nextInt(20000).toLong, rnd.nextInt(1000).toLong,
        1 + rnd.nextInt(7),
        if (qtyNull(i)) null else qty.toDouble: java.lang.Double,
        cents(qty * (900.0 + rnd.nextDouble() * 1100.0)),
        if (discOut(i)) (20 + rnd.nextInt(30)) / 100.0 else rnd.nextInt(11) / 100.0,
        rnd.nextInt(9) / 100.0, flag, status, new Timestamp(ship), new Timestamp(receipt))
    }

    val custAll = custRows ++ variants
    expectDq = Map(
      "lineitem.l_quantity" -> (qtyNull.size.toLong, 0L, NLines.toLong),
      "lineitem.l_discount" -> (0L, discOut.size.toLong, NLines.toLong),
      "customer.c_acctbal" -> (acctNull.size.toLong, acctOut.size.toLong, custAll.size.toLong),
      "customer.c_name" -> (0L, (namePad.size + nameLower.size).toLong, custAll.size.toLong),
      "orders.o_orderstatus" -> (0L, statusPad.size.toLong, ordAll.size.toLong))
    expectRules = Map("ship_before_receipt" -> receiptEarly.size.toLong,
      "returned_is_final" -> returnedOpen.size.toLong)
    rows = (NLines + ordAll.size + custAll.size).toLong

    Seq(Workload.writeParquet(spark, liRows, LineitemSchema, liPath, Files),
      Workload.writeParquet(spark, ordAll, OrdersSchema, ordPath, Files),
      Workload.writeParquet(spark, custAll, CustomerSchema, custPath, Files))
  }

  def resolve(spark: SparkSession): Unit = {
    li = Workload.read(spark, liPath)
    ord = Workload.read(spark, ordPath)
    cust = Workload.read(spark, custPath)
  }

  def pass(spark: SparkSession, t: Tracer, passNo: Int): PassOut = {
    val t0 = System.nanoTime()
    val report = t.df("profile", "Profiler.report")(Profiler.report(ord)).collect()
    val outliers = t.df("profile", "Profiler.outlierProfile")(
      Profiler.outlierProfile(li, Seq("l_quantity", "l_extendedprice"))).collect()
    val distinct = t.df("profile", "Profiler.distinctProfile")(
      Profiler.distinctProfile(ord, Seq("o_custkey", "o_orderstatus"))).collect()
    val dq = Seq("lineitem" -> (li, LiSpecs), "orders" -> (ord, OrdSpecs),
      "customer" -> (cust, CustSpecs)).map { case (tbl, (df, specs)) =>
      tbl -> t.df("quality", "Detector.dqSummary")(Detector.dqSummary(df, specs)).collect()
    }
    val rules = t.df("quality", "RowRule.report")(RowRule.report(li, LiRules)).collect()
    val dups = t.df("quality", "Detector.duplicateRows")(Detector.duplicateRows(ord)).collect()
    val similar = t.df("similarity", "StringSim.similarPairs")(
      StringSim.similarPairs(cust, "c_name", "c_custkey", 0.5)).collect()
    val stripped = t.df("corrector", "Corrector.strip")(Corrector.strip(cust, "c_name"))
    val collapsed = t.df("corrector", "Corrector.collapseSpaces")(
      Corrector.collapseSpaces(stripped, "c_name"))
    val titled = t.df("corrector", "Corrector.toTitleCase")(Corrector.toTitleCase(collapsed, "c_name"))
    val kept = t.df("corrector", "Corrector.dropRowsWhere")(
      Corrector.dropRowsWhere(titled, col("c_acctbal") > 9999.99))
    val repaired = t.df("corrector", "Corrector.fillNulls")(Corrector.fillNulls(kept, "c_acctbal", 0.0))
    val after = t.df("quality", "Detector.dqSummary")(Detector.dqSummary(repaired, CustSpecs)).collect()
    val scores = t.df("quality", "Detector.beforeAfterOneScan")(
      Detector.beforeAfterOneScan(cust, CustSpecs, Repairs)).collect()
    val wall = Workload.seconds(t0)

    val errs = Seq.newBuilder[String]
    def expect(cond: Boolean, msg: => String): Unit = if (!cond) errs += msg
    expect(report.nonEmpty && outliers.length == 2 && distinct.length == 2, "profile outputs")
    for ((tbl, out) <- dq; r <- out) {
      val key = s"$tbl.${r.getAs[String]("column")}"
      val got = (r.getAs[Long]("null_records"), r.getAs[Long]("out_of_format_records"),
        r.getAs[Long]("null_records") + r.getAs[Long]("out_of_format_records") +
          r.getAs[Long]("proper_format_records"))
      expect(expectDq.get(key).contains(got), s"dqSummary $key: got $got want ${expectDq.get(key)}")
    }
    expect(dq.map(_._2.length).sum == expectDq.size, "dqSummary row count")
    val gotRules = rules.map(r => r.getAs[String]("rule") -> r.getAs[Long]("violations")).toMap
    expect(gotRules == expectRules, s"RowRule.report: got $gotRules want $expectRules")
    val gotDups = dups.map(r => r.getAs[Long]("o_orderkey") -> r.getAs[Long]("dup_count")).toMap
    expect(gotDups == expectDups, s"duplicateRows: ${gotDups.size} groups, want ${expectDups.size}")
    val pairs = similar.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val missed = variantPairs.filterNot(pairs.contains)
    expect(missed.isEmpty, s"similarPairs missed ${missed.size} planted name pairs")
    expect(after.forall(r => r.getAs[Long]("null_records") == 0L &&
      r.getAs[Long]("out_of_format_records") == 0L), "repaired rules still violated")
    val nameScore = scores.find(_.getAs[String]("column") == "c_name")
    expect(nameScore.exists(_.getAs[Double]("after_score") == 100.0), "c_name after_score")
    val msgs = errs.result()
    PassOut(wall, msgs.isEmpty, msgs.mkString("; "))
  }
}

object DqAudit {
  // sizes: small enough that a pass is seconds on a 4-core box, so one
  // run holds enough passes for a tail percentile
  val NLines = 8000
  val NOrders = 3000
  val NCust = 600
  val Files = 4

  val Consonants = "bcdfghjklmnprstvwz"
  val Vowels = "aeiouy"
  val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Status = Array("F", "O", "P")
  val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Flags = Array("A", "N", "R")
  val NamePattern = "^[A-Z][a-z]+ [A-Z][a-z]+$"

  val LiSpecs: Seq[(String, Seq[Rule])] = Seq(
    "l_quantity" -> Seq(Rule.NumBetween(1, 50)),
    "l_discount" -> Seq(Rule.NumBetween(0.0, 0.1)))
  val OrdSpecs: Seq[(String, Seq[Rule])] = Seq(
    "o_orderstatus" -> Seq(Rule.MatchesRegex("^[FOP]$")))
  val CustSpecs: Seq[(String, Seq[Rule])] = Seq(
    "c_acctbal" -> Seq(Rule.NumBetween(-999.99, 9999.99)),
    "c_name" -> Seq(Rule.MatchesRegex(NamePattern)))
  val LiRules: Seq[RowRule] = Seq(
    RowRule.ordered("ship_before_receipt", col("l_shipdate"), col("l_receiptdate")),
    RowRule.implies("returned_is_final", col("l_returnflag") === "R", col("l_linestatus") === "F"))
  val Repairs: Map[String, Column] = Map(
    "c_name" -> initcap(lower(regexp_replace(trim(col("c_name")), " +", " "))),
    "c_acctbal" -> coalesce(col("c_acctbal"), lit(0.0)))

  val LineitemSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType), StructField("l_receiptdate", TimestampType)))
  val OrdersSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType)))
  val CustomerSchema: StructType = StructType(Seq(
    StructField("c_custkey", LongType), StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))
}
