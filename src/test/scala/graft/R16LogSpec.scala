package graft

import java.nio.file.{Files, Paths}
import graft.sources.SnapshotLog

/** r16: C35g — checkpoint pointer + log retention + aborted-commit
  * orphan GC. The pointer is a best-effort hint: stale, corrupt,
  * missing, or vacuumed-away hints must all degrade to the full
  * listing; 50+ commits must resolve their head through the pointer's
  * forward probe.
  */
class R16LogSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String): String =
    Files.createTempDirectory(p).toString + "/t"

  private def logPath(dir: String) = Paths.get(dir, "_graft_log")

  test("52 commits: head resolves through the checkpoint pointer; hint is fresh") {
    val dir = tmp("graft_ckpt")
    SnapshotLog.write((1L to 4L).toDF("id"), dir)
    (1 to 51).foreach { i =>
      SnapshotLog.append(Seq(100L + i).toDF("id"), dir)
    }
    assert(SnapshotLog.latestVersion(spark, dir).contains(51L))
    assert(SnapshotLog.snapshot(spark, dir).version == 51L)
    assert(SnapshotLog.read(spark, dir).count() == 55)
    // the pointer exists and is at the last interval boundary (v50)
    val hint = new String(Files.readAllBytes(
      logPath(dir).resolve(SnapshotLog.LastCheckpointName)))
    assert(hint.contains("\"version\":50"))
  }

  test("stale, corrupt, and vacuumed-away hints all degrade safely") {
    val dir = tmp("graft_ckpt_stale")
    SnapshotLog.write((1L to 3L).toDF("id"), dir)
    (1 to 14).foreach(i => SnapshotLog.append(Seq(i.toLong).toDF("id"), dir))
    val ckpt = logPath(dir).resolve(SnapshotLog.LastCheckpointName)
    // stale hint: probe walks forward to the true head
    Files.write(ckpt, "{\"version\":2}".getBytes)
    assert(SnapshotLog.latestVersion(spark, dir).contains(14L))
    // corrupt hint: fall back to the listing
    Files.write(ckpt, "not json at all".getBytes)
    assert(SnapshotLog.latestVersion(spark, dir).contains(14L))
    // hint pointing at a vacuumed version: fall back to the listing
    SnapshotLog.vacuum(spark, dir, keepVersions = 2)
    Files.write(ckpt, "{\"version\":3}".getBytes)
    assert(SnapshotLog.latestVersion(spark, dir).contains(14L))
    assert(SnapshotLog.read(spark, dir).count() == 17)
  }

  test("log retention: vacuum bounds the version-file count and refreshes the pointer") {
    val dir = tmp("graft_retention")
    SnapshotLog.write((1L to 3L).toDF("id"), dir)
    (1 to 12).foreach(i => SnapshotLog.append(Seq(i.toLong).toDF("id"), dir))
    assert(SnapshotLog.versions(spark, dir).size == 13)
    SnapshotLog.vacuum(spark, dir, keepVersions = 3)
    assert(SnapshotLog.versions(spark, dir) == Seq(10L, 11L, 12L))
    // pointer refreshed to the newest kept version — probing works
    val hint = new String(Files.readAllBytes(
      logPath(dir).resolve(SnapshotLog.LastCheckpointName)))
    assert(hint.contains("\"version\":12"))
    assert(SnapshotLog.snapshot(spark, dir).version == 12L)
    assert(SnapshotLog.read(spark, dir).count() == 15)
    // the stream of commits continues seamlessly after retention
    SnapshotLog.append(Seq(999L).toDF("id"), dir)
    assert(SnapshotLog.snapshot(spark, dir).version == 13L)
  }

  test("orphan sweep: aborted-commit data dirs are GC'd, referenced and young ones survive") {
    val dir = tmp("graft_orphan")
    SnapshotLog.write((1L to 10L).toDF("id"), dir, statsCols = Seq("id"))
    SnapshotLog.append((11L to 15L).toDF("id"), dir, statsCols = Seq("id"))
    // fake an aborted commit: a data subdir no version references
    val orphan = Paths.get(dir, "data-deadbeefcafe")
    Files.createDirectories(orphan)
    Files.write(orphan.resolve("part-0.parquet"), Array[Byte](1, 2, 3))
    def dataDirs = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("data-")).map(_.getName).toSet
    assert(dataDirs.contains("data-deadbeefcafe"))
    // reference-based vacuum alone can NOT see it (r15 finding)
    SnapshotLog.vacuum(spark, dir, keepVersions = 2)
    assert(dataDirs.contains("data-deadbeefcafe"))
    // age-gated: a young orphan is protected (could be in-flight)
    SnapshotLog.vacuum(spark, dir, keepVersions = 2, orphanAgeMs = 3600000L)
    assert(dataDirs.contains("data-deadbeefcafe"))
    // past the age gate it is swept; live dirs survive
    Thread.sleep(30)
    SnapshotLog.vacuum(spark, dir, keepVersions = 2, orphanAgeMs = 10L)
    assert(!dataDirs.contains("data-deadbeefcafe"))
    assert(SnapshotLog.read(spark, dir).count() == 15)
    assert(SnapshotLog.read(spark, dir, 0L).count() == 10) // v0 still readable
  }

  test("CDF: per-version deltas exact; compaction cancels; evolution null-fills") {
    import org.apache.spark.sql.functions._
    val dir = tmp("graft_cdf")
    SnapshotLog.write((1L to 20L).map(i => (i, s"t$i")).toDF("id", "text")
      .repartition(2), dir, statsCols = Seq("id"))
    SnapshotLog.append((21L to 30L).map(i => (i, s"t$i", s"L${i % 2}"))
      .toDF("id", "text", "lang"), dir, statsCols = Seq("id")) // v1: evolves
    SnapshotLog.compactInPlace(spark, dir, 10L, Seq("id"), Seq("id")) // v2: neutral
    SnapshotLog.deleteRange(spark, dir, "id", 5L, 8L)                 // v3
    SnapshotLog.updateRange(spark, dir, "id", 25L, 26L,
      Map("text" -> concat(col("text"), lit("!"))))                   // v4
    val cdf = SnapshotLog.readChanges(spark, dir, 0L)
    assert(cdf.columns.toSet ==
      Set("id", "text", "lang", "_change_type", "_commit_version"))
    def slice(v: Long, ct: String) =
      cdf.filter(col("_commit_version") === v && col("_change_type") === ct)
        .select("id").as[Long].collect().sorted.toSeq
    assert(slice(1L, "insert") == (21L to 30L)) // the evolving append
    assert(slice(1L, "delete").isEmpty)
    // v1 inserts carry lang; pre-evolution steps null-fill it
    assert(cdf.filter(col("_commit_version") === 1L &&
      col("lang").isNull).count() == 0)
    assert(cdf.filter(col("_commit_version") === 2L).count() == 0) // compaction
    assert(slice(3L, "delete") == (5L to 8L))
    assert(slice(3L, "insert").isEmpty)
    assert(slice(4L, "delete") == Seq(25L, 26L))
    assert(slice(4L, "insert") == Seq(25L, 26L))
    // the update pair differs exactly by the set expression
    val newText = cdf.filter(col("_commit_version") === 4L &&
      col("_change_type") === "insert").select("text")
      .as[String].collect().sorted.toSeq
    assert(newText == Seq("t25!", "t26!"))
    // a window with only metadata-only/neutral commits yields zero rows
    assert(SnapshotLog.readChanges(spark, dir, 1L, 2L).count() == 0)
  }

  test("CDF: a table column named like a feed column fails fast instead of being replaced") {
    import org.apache.spark.sql.functions._
    // the rewrite diff's temporaries, one matched case-insensitively,
    // and an output column
    for (name <- Seq("_cdf_side", "_cdf_net", "_CDF_K", "_change_type")) {
      val dir = tmp("graft_cdf_reserved")
      SnapshotLog.write((1L to 6L).map(i => (i, s"t$i", i % 2)).toDF("id", "text", name),
        dir, statsCols = Seq("id"))
      SnapshotLog.updateRange(spark, dir, "id", 2L, 3L,
        Map("text" -> concat(col("text"), lit("!"))))                 // v1: rewrite
      SnapshotLog.append(Seq((7L, "t7", 1L)).toDF("id", "text", name), dir,
        statsCols = Seq("id"))                                        // v2: insert-only
      for ((from, to) <- Seq((0L, 1L), (1L, 2L))) {
        val e = intercept[IllegalArgumentException](
          SnapshotLog.readChanges(spark, dir, from, to))
        assert(e.getMessage.contains(name), e.getMessage)
      }
    }
  }

  test("timestamp time travel: readAsOf resolves the version current at a wall-clock instant") {
    val dir = tmp("graft_asof")
    SnapshotLog.write((1L to 10L).toDF("id"), dir)
    Thread.sleep(15)
    val t01 = System.currentTimeMillis() // between v0 and v1
    Thread.sleep(15)
    SnapshotLog.append((11L to 20L).toDF("id"), dir)
    Thread.sleep(15)
    val t12 = System.currentTimeMillis()
    Thread.sleep(15)
    SnapshotLog.deleteRange(spark, dir, "id", 1L, 1L) // statless: full overlap, fine
    assert(SnapshotLog.versionAt(spark, dir, t01) == 0L)
    assert(SnapshotLog.versionAt(spark, dir, t12) == 1L)
    assert(SnapshotLog.versionAt(spark, dir, System.currentTimeMillis()) == 2L)
    assert(SnapshotLog.readAsOf(spark, dir, t01).count() == 10)
    assert(SnapshotLog.readAsOf(spark, dir, t12).count() == 20)
    assert(SnapshotLog.readAsOf(spark, dir, System.currentTimeMillis()).count() == 19)
    // a query predating the table is refused loudly
    val e = intercept[IllegalArgumentException] {
      SnapshotLog.versionAt(spark, dir, 1000L)
    }
    assert(e.getMessage.contains("predates"))
    // maintenance meta carry cannot smuggle an old stamp forward:
    // commit times are strictly resolvable in version order
    val times = SnapshotLog.versions(spark, dir).map(v =>
      SnapshotLog.snapshot(spark, dir, v).meta(SnapshotLog.CommitTimeKey).toLong)
    assert(times == times.sorted)
    assert(times.distinct.size == times.size || times.sliding(2).forall(p => p(0) <= p(1)))
  }
}
