package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Minimal snapshot-manifest table layout: versioned commits over plain
  * parquet files — an offline stand-in for the Delta/Iceberg connector
  * this image cannot ship (zero-egress: no table-format jar under
  * /opt/spark/jars).
  *
  * Layout:
  * {{{
  *   table/_manifests/v00000001.manifest     per-commit log record
  *   table/_manifests/v00000010.checkpoint   periodic full file list
  *   table/_manifests/_last_checkpoint       newest-checkpoint hint
  *   table/v1-00000-....parquet              immutable data files
  * }}}
  *
  * ==Log structure (the 100 TB shape)==
  * A commit publishes a DELTA record — the files it added (`A` lines)
  * and removed (`R` lines) — so commit cost is O(changed files), never
  * O(table): a streaming append to a million-file table writes a
  * few-line manifest, not a few-hundred-MB one. Overwrites publish a
  * base record (`#full` + the complete list, which for an overwrite IS
  * the change set). Every [[checkpointInterval]] commits, the committer
  * also writes a `.checkpoint` holding the consolidated file list, and
  * bumps the `_last_checkpoint` hint. Snapshot resolution then reads
  * ONE checkpoint plus at most `checkpointInterval` delta tails —
  * Delta-style checkpoint + incremental replay — streaming each file
  * line-by-line rather than materializing the log as one driver
  * String. Checkpoints are derived data: a crashed or lost-race
  * checkpoint write only lengthens the replay walk (to the previous
  * base), never corrupts the table, so [[commit]] swallows checkpoint
  * failures. The hint is likewise advisory — [[currentVersion]] probes
  * forward from it and falls back to a directory listing when absent.
  *
  * Manifests written by older engine builds (an unprefixed full file
  * list per version) read transparently: an unprefixed entry line marks
  * the record as a base, exactly what those manifests were.
  *
  * Every write is: stage new files → publish a new manifest atomically
  * via [[CommitPrimitive]]. Readers resolve a manifest to an explicit
  * file list, so a reader holding snapshot N is never broken by a
  * concurrent compaction publishing N+1 — data files are immutable and
  * only [[vacuum]] deletes ones no retained manifest references. This is
  * the core of the Iceberg/Delta reader contract — snapshot isolation +
  * time travel — without their log formats; it replaces [[Compactor]]'s
  * delete-then-rename swap, whose reader-visible window was flagged in
  * review.
  *
  * ==Supported filesystems==
  * Commit safety REQUIRES an atomic publish-if-absent primitive. The
  * bundled [[RenameCommit]] provides it on `file:` (hard-link publish —
  * POSIX rename silently replaces, link raises EEXIST) and on HDFS-like
  * schemes (rename fails-on-exists natively). Object stores (`s3a:`,
  * `gs:`, `abfs:`, …) provide NEITHER atomic rename nor fail-on-exists —
  * two racing committers can both "win" a version and silently lose one
  * commit — so committing writes to an object-store table path is
  * REJECTED with an error until a conditional-put [[CommitPrimitive]]
  * (S3 `If-None-Match`, GCS `ifGenerationMatch=0`, a DynamoDB-style
  * lock) is plugged in. Reads and time travel work on any scheme.
  */
object ManifestLake {

  /** The one primitive commit safety rests on: publish `tmp` as `target`
    * atomically, returning false (NOT replacing) if `target` already
    * exists — the lose-the-race signal. Implementations for object
    * stores must map this onto a conditional put (S3 `If-None-Match: *`,
    * GCS `ifGenerationMatch=0`) or an external lock; everything above
    * this seam (versioning, snapshots, replay guards) is store-agnostic. */
  trait CommitPrimitive {
    /** Schemes this primitive is safe on; commits to any other scheme
      * are rejected before any data is staged. */
    def supportedSchemes: Set[String]
    def publish(fs: FileSystem, tmp: Path, target: Path): Boolean
  }

  /** Rename/hard-link publish for filesystems with real atomic-rename
    * semantics. HDFS rename fails-on-exists natively; the local
    * filesystem's rename is POSIX rename, which silently REPLACES the
    * destination — an exists()+rename pair is a TOCTOU race where two
    * committers both "win" the same version — so on `file:` we publish
    * with a hard link instead: link creation is atomic and raises
    * EEXIST if the target appeared in between. */
  object RenameCommit extends CommitPrimitive {
    val supportedSchemes: Set[String] = Set("file", "hdfs", "viewfs")
    def publish(fs: FileSystem, tmp: Path, target: Path): Boolean = {
      if (fs.exists(target)) return false
      if (fs.getScheme == "file") {
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(target.toUri.getPath),
            java.nio.file.Paths.get(tmp.toUri.getPath))
          fs.delete(tmp, false)
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
        }
      } else fs.rename(tmp, target)
    }
  }

  /** Adapter shaping a store's native conditional put into a
    * [[CommitPrimitive]]: `putIfAbsent` receives the fully-written
    * manifest bytes and the target path and must return false iff the
    * object already existed — on S3 a `PutObject` with
    * `If-None-Match: *` (412 → false), on GCS an insert with
    * `ifGenerationMatch=0` (412 → false). Everything else about the
    * lake (versioning, snapshot resolution, replay guards, vacuum) is
    * already store-agnostic above the seam, so plugging a real SDK call
    * into this one function is the entire S3 enablement. */
  final class ConditionalPutCommit(
      val supportedSchemes: Set[String],
      putIfAbsent: (Path, Array[Byte]) => Boolean) extends CommitPrimitive {
    def publish(fs: FileSystem, tmp: Path, target: Path): Boolean = {
      val in = fs.open(tmp)
      val bytes = try {
        val out = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536, false)
        out.toByteArray
      } finally in.close()
      val won = putIfAbsent(target, bytes)
      if (won) fs.delete(tmp, false)
      won
    }
  }

  /** The active commit primitive. A seam, not a config knob: an
    * object-store deployment installs a conditional-put impl once at
    * startup (see [[ConditionalPutCommit]]); the default covers the
    * filesystems with a native atomic publish. Volatile so an install
    * from the launcher thread is visible to job threads. */
  @volatile private[sources] var commitPrimitive: CommitPrimitive = RenameCommit

  /** Install the commit primitive for this process (e.g. an S3
    * conditional-put impl). Returns the previously active one so tests
    * and embedded launchers can restore it. */
  def installCommitPrimitive(p: CommitPrimitive): CommitPrimitive = {
    val prev = commitPrimitive
    commitPrimitive = p
    prev
  }

  /** Reject commit paths whose scheme the active primitive cannot
    * publish atomically — failing fast at the API boundary beats
    * silently losing one of two racing commits at 3am. The scheme comes
    * from the path URI so `s3a://...` is rejected without instantiating
    * a FileSystem; a scheme-less path resolves through the (lazily
    * evaluated) default filesystem. */
  private def requireCommitScheme(table: String, defaultFs: => FileSystem): Unit = {
    val scheme = Option(new Path(table).toUri.getScheme)
      .getOrElse(defaultFs.getScheme)
    require(commitPrimitive.supportedSchemes.contains(scheme),
      s"ManifestLake cannot commit to '$table': scheme '$scheme' has no " +
        s"atomic publish-if-absent primitive (supported: " +
        s"${commitPrimitive.supportedSchemes.mkString(", ")}). Object " +
        "stores need a conditional-put CommitPrimitive; reads and time " +
        "travel remain available on any scheme.")
  }

  /** Per-file value range of one column, read once from the parquet
    * footer at commit time — Iceberg-style file metrics. */
  final case class ColRange(col: String, min: BigDecimal, max: BigDecimal)

  /** Per-file TRUNCATED string range — the Delta/Iceberg model for
    * string file-skipping stats: `min` is a ≤[[StrStatLen]]-char PREFIX
    * of the file's true minimum (a prefix never sorts above the value
    * it truncates, so it is a sound lower bound), `max` is the true
    * maximum when it fits, else the truncated prefix with its last
    * character bumped (strictly above every string sharing the prefix —
    * a sound upper bound); `None` means unbounded above. Recorded only
    * for ASCII bounds: parquet footers order binary stats by UNSIGNED
    * BYTE comparison while the JVM compares UTF-16 code units, and the
    * two agree wherever the deciding character is ASCII — restricting
    * the RECORDED side keeps every mixed comparison consistent, and a
    * non-ASCII-keyed file simply records nothing (unknown ⇒ never
    * skipped). Tables keyed by URL, doc-id or language — the shapes
    * that made string keys worth pruning — are ASCII in practice. */
  final case class StrRange(col: String, min: String, max: Option[String])

  /** Truncation length for string file stats (Delta's default). */
  private val StrStatLen = 32

  private def asciiOnly(s: String): Boolean = s.forall(_ < '\u0080')

  /** The recordable [[StrRange]] for true bounds `[mn, mx]`, or None
    * when one can't be soundly recorded (non-ASCII). */
  private[sources] def strRangeOf(col: String, mn: String,
      mx: String): Option[StrRange] = {
    val minT = mn.take(StrStatLen)
    val maxT: Option[Option[String]] = // outer None = don't record
      if (mx.length <= StrStatLen)
        if (asciiOnly(mx)) Some(Some(mx)) else None
      else {
        val p = mx.take(StrStatLen)
        if (!asciiOnly(p)) None
        // bump the last char: strictly above every string with prefix p
        else Some(Some(p.init + (p.last + 1).toChar))
      }
    if (!asciiOnly(minT)) None
    else maxT.map(StrRange(col, minT, _))
  }

  /** One manifest entry: a relative data-file path plus recorded column
    * ranges. Serialized as a tab-separated line
    * (`path[\tcol\tmin\tmax]*` — one col/min/max triple per recorded
    * column, so stats on a SECOND key column don't evict the first).
    * `dv`/`dvRows` are the file's DELETION VECTOR state (merge-on-read
    * deletes): `dv` names the sidecar parquet under `_dv/` holding the
    * file's deleted `(file_name, row_index)` pairs — cumulative, so one
    * sidecar reference fully describes the file's deletions — and
    * `dvRows` is their count, which keeps COUNT(*) metadata-only.
    * Riding ON the entry means snapshot resolution, checkpoints, time
    * travel and the change feed all version the DV state with no new
    * log machinery: a DV commit is a delta record re-adding the same
    * path with its new DV annotation. */
  final case class FileEntry(path: String, ranges: Seq[ColRange] = Nil,
                             rows: Option[Long] = None,
                             bytes: Option[Long] = None,
                             strRanges: Seq[StrRange] = Nil,
                             dv: Option[String] = None,
                             dvRows: Option[Long] = None) {
    /** The recorded range for `col`, if any. */
    def range(col: String): Option[ColRange] = ranges.find(_.col == col)
    /** The recorded truncated STRING range for `col`, if any. */
    def strRange(col: String): Option[StrRange] =
      strRanges.find(_.col == col)
    /** Back-compat accessor: the first recorded range. */
    def range: Option[ColRange] = ranges.headOption
    // String stats triples carry an `s:` column marker and URL-encoded
    // bounds (the values may contain tabs/newlines — the log is
    // line/tab-delimited, so raw strings would corrupt it); an empty
    // max token means unbounded above.
    def line: String =
      (path +: (rows.map(n => s"rows=$n").toSeq ++
        bytes.map(n => s"bytes=$n").toSeq ++
        dv.map(d => s"dv=${FileEntry.enc(d)}").toSeq ++
        dvRows.map(n => s"dvrows=$n").toSeq) ++:
        (ranges.map(r => s"${r.col}\t${r.min}\t${r.max}") ++
          strRanges.map(r => s"s:${r.col}\t${FileEntry.enc(r.min)}\t" +
            r.max.map(FileEntry.enc).getOrElse("")))).mkString("\t")
    /** Live (non-deleted) rows, when the manifest can prove them. */
    def liveRows: Option[Long] = rows.map(_ - dvRows.getOrElse(0L))
  }

  object FileEntry {
    def apply(path: String, range: Option[ColRange]): FileEntry =
      FileEntry(path, range.toSeq)
    private[sources] def enc(s: String): String =
      java.net.URLEncoder.encode(s, "UTF-8")
    private[sources] def dec(s: String): String =
      java.net.URLDecoder.decode(s, "UTF-8")
    def parse(line: String): FileEntry = {
      def bad() =
        throw new IllegalArgumentException(s"bad manifest line: $line")
      // -1 limit: an empty trailing token is meaningful (a string
      // range's unbounded-above max) and must not be dropped
      val parts = line.split("\t", -1)
      if (parts.length < 1) bad()
      // optional `rows=N` / `bytes=N` metadata tokens right after the
      // path (absent in entries written before they were recorded —
      // those parse to None and consumers fall back to scanning or
      // stat-ing just those files)
      var rows: Option[Long] = None
      var bytes: Option[Long] = None
      var dv: Option[String] = None
      var dvRows: Option[Long] = None
      var i = 1
      while (i < parts.length && parts(i).contains('=') &&
        (parts(i).startsWith("rows=") || parts(i).startsWith("bytes=") ||
          parts(i).startsWith("dv=") || parts(i).startsWith("dvrows="))) {
        val Array(k, v) = parts(i).split("=", 2)
        k match {
          case "rows" => rows = Some(scala.util.Try(v.toLong).getOrElse(bad()))
          case "bytes" => bytes = Some(scala.util.Try(v.toLong).getOrElse(bad()))
          case "dv" => dv = Some(dec(v))
          case "dvrows" => dvRows = Some(scala.util.Try(v.toLong).getOrElse(bad()))
        }
        i += 1
      }
      val rangeParts = parts.drop(i)
      if (rangeParts.length % 3 != 0) bad()
      val (strTriples, numTriples) = rangeParts.grouped(3).toSeq
        .partition(_.head.startsWith("s:"))
      FileEntry(parts.head, numTriples.map {
        case Array(c, mn, mx) => ColRange(c, BigDecimal(mn), BigDecimal(mx))
      }, rows, bytes, strTriples.map {
        case Array(c, mn, mx) => StrRange(c.stripPrefix("s:"), dec(mn),
          if (mx.isEmpty) None else Some(dec(mx)))
      }, dv, dvRows)
    }
  }

  final case class Snapshot(version: Long, entries: Seq[FileEntry],
                            batchId: Option[Long] = None,
                            appId: Option[String] = None,
                            schema: Option[StructType] = None,
                            bloomCols: Seq[String] = Nil,
                            bloomExpectedRows: Long = 100000L,
                            checks: Seq[(String, String)] = Nil) {
    def files: Seq[String] = entries.map(_.path)
  }

  /** A write, merge or update tried to commit a row that violates a
    * table CHECK constraint. The data never landed: enforcement runs
    * against the staged files before the manifest commit, and a
    * violation deletes them. */
  final class ConstraintViolationException(msg: String)
    extends IllegalArgumentException(msg)

  /** A commit lost the version race to a concurrent committer and could
    * not be (or exhausted its) rebase-retries. Appends surface it only
    * when the winner's table state conflicts (layout change, exhausted
    * retries) or the commit carries a streaming epoch whose arbitration
    * belongs to [[writeBatch]]'s guard — compatible blind appends rebase
    * automatically. Rewrites (merge / delete / update) retry via
    * [[commitRewriteWithRetry]] and surface this only when the winner
    * OVERLAPS them: it rewrote a file they read, added a file their
    * pruning cannot rule out, or changed schema/layout — replaying
    * those on a moved head could resurrect deleted rows or drop the
    * winner's. Compaction always surfaces a lost race (maintenance is
    * the operation to re-run cheaply, not the one to retry into a
    * moved table). */
  final class CommitConflictException(msg: String)
    extends IllegalStateException(msg)

  /** An append or merge tried to change the table's schema in a way
    * evolution doesn't cover (retyping or dropping a column). Adding
    * columns is the supported evolution; anything narrower needs an
    * explicit overwrite. */
  final class SchemaEvolutionException(msg: String)
    extends IllegalArgumentException(msg)

  /** The schema the table has after committing `incoming` data over
    * `existing`: identical schemas pass through, NEW columns widen the
    * table (old files read the added columns as null — the commit's
    * recorded schema is what makes that consistent), and a retyped or
    * dropped column raises [[SchemaEvolutionException]] — the caller
    * must overwrite to narrow. Types compare by `catalogString`
    * (nullability is not a schema difference for parquet data). */
  private def evolvedSchema(existing: Option[StructType],
                            incoming: StructType, table: String,
                            op: String): StructType = existing match {
    case None => incoming
    case Some(cur) =>
      val in = incoming.fields.map(f => f.name -> f).toMap
      cur.fields.foreach { f =>
        in.get(f.name) match {
          case None => throw new SchemaEvolutionException(
            s"$op on $table drops column '${f.name}' " +
              s"(${f.dataType.catalogString}) — schema evolution only ADDS " +
              "columns; overwrite (append = false) to narrow the table.")
          case Some(g)
            if g.dataType.catalogString != f.dataType.catalogString =>
            throw new SchemaEvolutionException(
              s"$op on $table retypes column '${f.name}': table has " +
                s"${f.dataType.catalogString}, incoming data has " +
                s"${g.dataType.catalogString} — schema evolution only ADDS " +
                "columns; overwrite (append = false) to change types.")
          case _ => ()
        }
      }
      val curNames = cur.fieldNames.toSet
      StructType(cur.fields ++
        incoming.fields.filterNot(f => curNames(f.name))
          .map(_.copy(nullable = true)))
  }

  final case class CompactReport(filesBefore: Int, filesAfter: Int,
                                 newVersion: Long)

  private val ManifestDir = "_manifests"
  private val ChangesDir = "_changes"
  private val BloomsDir = "_blooms"
  private val DvDir = "_dv"
  // 8+ digits: %08d PADS to 8 but widens past it, so version 10^8's
  // manifest is v100000000.manifest (9 digits) — a {8}-exact pattern
  // would make versions() blind to it and every later commit collide
  private val ManifestRe = "^v(\\d{8,})\\.manifest$".r
  private val BatchHeader = "#batch="
  private val AppHeader = "#app="
  private val SchemaHeader = "#schema="
  private val TsHeader = "#ts="
  private val FullHeader = "#full"
  private val BloomHeader = "#blooms="
  private val BloomRowsHeader = "#bloomrows="
  private val CheckHeader = "#check="
  private val MaintenanceHeader = "#maintenance"

  /** Commit wall-clock source — a seam so specs can pin timestamp
    * resolution deterministically; production uses the system clock. */
  @volatile private[sources] var clock: () => Long =
    () => System.currentTimeMillis()
  private val HintFile = "_last_checkpoint"

  /** Commits between checkpoints. Smaller = shorter replay walks but
    * more frequent O(table-files) checkpoint writes; the default
    * amortizes the full-list write over ten O(delta) commits. Mutable
    * for tests; a deployment sets it once at startup. */
  @volatile private[sources] var checkpointInterval: Int = 10

  /** Count of log files (manifests + checkpoints) opened — lets tests
    * pin the "checkpoint + bounded tail" resolution contract by
    * observation instead of trust. */
  private[sources] val logReads = new java.util.concurrent.atomic.AtomicLong

  private def fsFor(spark: SparkSession, table: String): (FileSystem, Path) = {
    val p = new Path(table)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def manifestPath(table: Path, v: Long): Path =
    new Path(new Path(table, ManifestDir), f"v$v%08d.manifest")

  private def checkpointPath(table: Path, v: Long): Path =
    new Path(new Path(table, ManifestDir), f"v$v%08d.checkpoint")

  private def hintPath(table: Path): Path =
    new Path(new Path(table, ManifestDir), HintFile)

  /** One parsed log record — a commit's delta (or base) state change.
    * `changeFiles` are write-time CDC sidecars (`C` lines): parquet
    * files holding the commit's row-level changes with `_change_type`,
    * living under `_changes/` — NOT part of the snapshot's data. */
  private final case class LogRecord(batchId: Option[Long],
                                     appId: Option[String], full: Boolean,
                                     adds: Seq[FileEntry],
                                     removes: Seq[String],
                                     schema: Option[StructType] = None,
                                     tsMillis: Option[Long] = None,
                                     changeFiles: Seq[String] = Nil,
                                     bloomCols: Seq[String] = Nil,
                                     bloomExpectedRows: Long = 100000L,
                                     checks: Seq[(String, String)] = Nil,
                                     maintenance: Boolean = false)

  /** Stream-parse one manifest or checkpoint file. Line-at-a-time: the
    * log is never materialized as a single driver String. */
  private def readLog(fs: FileSystem, file: Path): LogRecord = {
    logReads.incrementAndGet()
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      fs.open(file), StandardCharsets.UTF_8))
    try {
      var batch: Option[Long] = None
      var app: Option[String] = None
      var schema: Option[StructType] = None
      var ts: Option[Long] = None
      var blooms: Seq[String] = Nil
      var bloomRows = 100000L
      val checks = Seq.newBuilder[(String, String)]
      var maintenance = false
      var full = false
      val adds = Seq.newBuilder[FileEntry]
      val removes = Seq.newBuilder[String]
      val changeFiles = Seq.newBuilder[String]
      var line = in.readLine()
      while (line != null) {
        if (line.isEmpty) ()
        else if (line.startsWith(BatchHeader))
          batch = Some(line.stripPrefix(BatchHeader).toLong)
        else if (line.startsWith(AppHeader))
          app = Some(line.stripPrefix(AppHeader))
        else if (line.startsWith(SchemaHeader))
          schema = Some(DataType.fromJson(line.stripPrefix(SchemaHeader))
            .asInstanceOf[StructType])
        else if (line.startsWith(TsHeader))
          ts = Some(line.stripPrefix(TsHeader).toLong)
        else if (line.startsWith(BloomHeader))
          blooms = line.stripPrefix(BloomHeader).split(',').toSeq
            .filter(_.nonEmpty)
        else if (line.startsWith(BloomRowsHeader))
          bloomRows = line.stripPrefix(BloomRowsHeader).toLong
        else if (line.startsWith(CheckHeader)) {
          val body = line.stripPrefix(CheckHeader)
          val cut = body.indexOf('\t')
          require(cut > 0, s"bad check header: $line")
          checks += body.substring(0, cut) -> body.substring(cut + 1)
        }
        else if (line == MaintenanceHeader) maintenance = true
        else if (line == FullHeader) full = true
        else if (line.startsWith("#")) () // unknown header: skip forward-compatibly
        else if (line.startsWith("A\t")) adds += FileEntry.parse(line.substring(2))
        else if (line.startsWith("R\t")) removes += line.substring(2)
        else if (line.startsWith("C\t")) changeFiles += line.substring(2)
        else { full = true; adds += FileEntry.parse(line) } // legacy full list
        line = in.readLine()
      }
      LogRecord(batch, app, full, adds.result(), removes.result(), schema, ts,
        changeFiles.result(), blooms, bloomRows, checks.result(),
        maintenance)
    } finally in.close()
  }

  private def writeStringFile(fs: FileSystem, path: Path, body: String,
                              overwrite: Boolean): Unit = {
    val out = fs.create(path, overwrite)
    try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  private def readHint(fs: FileSystem, table: Path): Option[Long] =
    scala.util.Try {
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(
        fs.open(hintPath(table)), StandardCharsets.UTF_8))
      try in.readLine().trim.toLong finally in.close()
    }.toOption

  private def versionsFs(fs: FileSystem, p: Path): Seq[Long] = {
    val dir = new Path(p, ManifestDir)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.flatMap(_.getPath.getName match {
      case ManifestRe(v) => Some(v.toLong)
      case _ => None
    }).sorted
  }

  /** All committed versions, ascending. A history/vacuum API: inherently
    * O(retained versions) — it lists the manifest directory. The hot
    * paths ([[currentVersion]], [[snapshot]]) do not go through it. */
  def versions(spark: SparkSession, table: String): Seq[Long] =
    { val (fs, p) = fsFor(spark, table); versionsFs(fs, p) }

  /** Latest committed version. Resolved WITHOUT listing the manifest
    * directory when a checkpoint hint exists: probe forward from the
    * hint version with exists() calls — at most `checkpointInterval`
    * commits lie past the newest checkpoint, so the probe is bounded;
    * a million-version table answers in a handful of metadata RPCs.
    * Falls back to a listing for hint-less (young or legacy) tables. */
  def currentVersion(spark: SparkSession, table: String): Option[Long] =
    { val (fs, p) = fsFor(spark, table); currentVersionFs(fs, p) }

  private def currentVersionFs(fs: FileSystem, p: Path): Option[Long] =
    readHint(fs, p).filter(v => fs.exists(manifestPath(p, v))) match {
      case Some(start) =>
        var v = start
        while (fs.exists(manifestPath(p, v + 1))) v += 1
        Some(v)
      case None => versionsFs(fs, p).lastOption
    }

  /** Resolve a snapshot (latest if `version` is None) to its file list:
    * walk back from the requested version collecting delta records until
    * a checkpoint or base record covers the rest, then replay forward.
    * Reads ONE checkpoint + a bounded tail of delta manifests (≤
    * [[checkpointInterval]] when checkpointing is healthy; a missing
    * checkpoint only lengthens the walk to the previous base — never an
    * error). The snapshot's streaming identity is the NEWEST record's
    * header. */
  def snapshot(spark: SparkSession, table: String,
               version: Option[Long] = None): Snapshot = {
    val (fs, p) = fsFor(spark, table)
    resolveSnapshot(fs, p, version,
      s"$table")
  }

  private def resolveSnapshot(fs: FileSystem, p: Path,
                              version: Option[Long],
                              tableName: String): Snapshot = {
    val v = version.orElse(currentVersionFs(fs, p)).getOrElse(
      throw new IllegalStateException(s"no committed version in $tableName"))
    var w = v
    var base: Seq[FileEntry] = null
    var deltas = List.empty[LogRecord]
    var headBatch: Option[Long] = None
    var headApp: Option[String] = None
    var headSchema: Option[StructType] = None
    var headBlooms: Seq[String] = Nil
    var headBloomRows = 100000L
    var headChecks: Seq[(String, String)] = Nil
    var headerSeen = false
    while (base == null) {
      val ck = checkpointPath(p, w)
      val rec =
        if (fs.exists(ck)) readLog(fs, ck)
        else if (fs.exists(manifestPath(p, w))) readLog(fs, manifestPath(p, w))
        else if (w == v)
          throw new IllegalArgumentException(s"version $v not found in $tableName")
        else throw new IllegalStateException(
          s"manifest for version $w missing in $tableName while resolving " +
            s"version $v — vacuumed past a retained version?")
      if (!headerSeen) {
        headBatch = rec.batchId; headApp = rec.appId
        headSchema = rec.schema; headBlooms = rec.bloomCols
        headBloomRows = rec.bloomExpectedRows
        headChecks = rec.checks
        headerSeen = true
      }
      if (rec.full) base = rec.adds
      else {
        deltas ::= rec
        w -= 1
        if (w == 0) base = Seq.empty
      }
    }
    // deltas is ascending (prepended while walking down); replay forward
    val state = new scala.collection.mutable.LinkedHashMap[String, FileEntry]
    base.foreach(e => state.put(e.path, e))
    deltas.foreach { d =>
      d.removes.foreach(state.remove)
      d.adds.foreach(e => state.put(e.path, e))
    }
    Snapshot(v, state.values.toSeq, headBatch, headApp, headSchema,
      headBlooms, headBloomRows, headChecks)
  }

  /** Read a snapshot (time travel with `version = Some(n)`). The file
    * list is resolved NOW — the returned frame is immune to concurrent
    * commits and compactions. `basePath` makes Hive-style partition
    * columns in the relative paths (`date=20250219/...`) reconstruct as
    * data columns. Snapshots that RECORD a schema (every commit since
    * schema tracking) read under it, so files written before a column
    * was added serve that column as null — the consistent-mixed-schema
    * contract; legacy schema-less snapshots infer from footers as
    * before. */
  def read(spark: SparkSession, table: String,
           version: Option[Long] = None): DataFrame = {
    val snap = snapshot(spark, table, version)
    readSnapshotFiles(spark, table, snap, snap.files)
  }

  /** Partition values encoded in a manifest path, e.g.
    * `date=20250219/time=120000/v...parquet` → date/time entries. */
  private[sources] def partitionValues(relPath: String): Map[String, String] =
    relPath.split('/').init.collect {
      case seg if seg.contains('=') =>
        val Array(k, v) = seg.split("=", 2)
        k -> v
    }.toMap

  /** Manifest-level partition pruning: read only the snapshot files whose
    * Hive-style path segments match every given k=v filter. The pruning
    * happens against the manifest STRING LIST — no directory listing and
    * no footer open for pruned partitions, which is what makes a
    * time-partitioned 100 TB table answer a one-day query with one day's
    * I/O. */
  def readPruned(spark: SparkSession, table: String,
                 partitionFilters: Map[String, String],
                 version: Option[Long] = None): DataFrame = {
    val snap = snapshot(spark, table, version)
    readSnapshotFiles(spark, table, snap, snap.files.filter { f =>
      val vals = partitionValues(f)
      partitionFilters.forall { case (k, v) => vals.get(k).contains(v) }
    })
  }

  /** [[readPruned]] with an IN-list over one partition key — ONE
    * snapshot resolution for all values (a per-value readPruned loop
    * re-reads the manifest each time and, unpinned, could even split
    * across racing commits). */
  def readPrunedIn(spark: SparkSession, table: String, partitionCol: String,
                   values: Set[String],
                   version: Option[Long] = None): DataFrame = {
    val snap = snapshot(spark, table, version)
    readSnapshotFiles(spark, table, snap, snap.files.filter(f =>
      partitionValues(f).get(partitionCol).exists(values)))
  }

  private def readSnapshotFiles(spark: SparkSession, table: String,
                                snap: Snapshot,
                                keep: Seq[String]): DataFrame = {
    // an empty match is a valid (empty) answer, not an error — keep the
    // snapshot's schema (recorded, or folded from the full read)
    if (keep.isEmpty) return snap.schema match {
      case Some(sc) => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sc)
      case None =>
        if (snap.files.isEmpty) throw new IllegalStateException(
          s"snapshot ${snap.version} of $table has no files and no " +
            "recorded schema — nothing to derive a frame from")
        readSnapshotFiles(spark, table, snap, snap.files)
          .filter(org.apache.spark.sql.functions.lit(false))
    }
    val entryOf = snap.entries.map(e => e.path -> e).toMap
    readEntries(spark, table, snap.schema,
      keep.map(f => entryOf.getOrElse(f, FileEntry(f))))
  }

  /** DV-aware read of explicit manifest entries under a declared
    * schema — the shared read kernel: [[readSnapshotFiles]] resolves
    * entries from a snapshot, the streaming source passes a commit's
    * own `added` entries (whose `dv=` annotations it must honor — an
    * `ignoreChanges` re-emission of a vectored file serves only its
    * LIVE rows). */
  private[sources] def readEntries(spark: SparkSession, table: String,
                                   schema: Option[StructType],
                                   entries: Seq[FileEntry]): DataFrame = {
    val (dvd, plain) = entries.partition(_.dv.nonEmpty)
    val plainDF =
      if (plain.isEmpty) None
      else Some(rawRead(spark, table, schema, plain.map(_.path)))
    // Files with a deletion vector apply it PER FILE, inside the task
    // scanning that file: the [[RowLive]] predicate loads the scanned
    // file's own sidecar block (manifest token = rel#offset#length) and
    // probes a bitmap per row — no join, no broadcast, nothing
    // materialized driver-side, so a mass delete's vectors cost each
    // task only its own file's deletions. Data-column filters and
    // column pruning still reach the scan: the plan gains one Filter,
    // not an exchange. file_name is a safe key: staged basenames embed
    // version + a UUID attempt, so they are unique table-wide.
    val dvDF = dvd match {
      case Nil => None
      case files =>
        import org.apache.spark.sql.functions.col
        Some(rawRead(spark, table, schema, files.map(_.path))
          .filter(dvLivePredicate(spark, table, files,
            col("_metadata.file_name"), col("_metadata.row_index"))))
    }
    (plainDF, dvDF) match {
      case (Some(a), Some(b)) => a.unionByName(b)
      case (Some(a), None) => a
      case (None, Some(b)) => b
      case (None, None) => throw new IllegalStateException("unreachable")
    }
  }

  /** THE deletion-vector filter, shared by [[readEntries]] and
    * [[provenanceScan]] so the key contract (unique staged basenames +
    * row index) lives in one place: each vectored file's `dv=` block
    * token, keyed by basename, under [[DeletionVectors.livePredicate]]. */
  private def dvLivePredicate(spark: SparkSession, table: String,
                              entries: Seq[FileEntry],
                              fileCol: org.apache.spark.sql.Column,
                              ridxCol: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    DeletionVectors.livePredicate(spark, table,
      entries.flatMap(e => e.dv.map(t => e.path.split('/').last -> t)).toMap,
      fileCol, ridxCol)

  /** The raw (no DV applied) multi-file parquet read of snapshot
    * files — basePath for Hive partition reconstruction, the declared
    * schema for consistent mixed-schema serving. */
  private def rawRead(spark: SparkSession, table: String,
                      schema: Option[StructType],
                      keep: Seq[String]): DataFrame = {
    val base = new Path(table)
    // A shallow clone's borrowed entries (`../…`, [[shallowClone]])
    // resolve OUTSIDE the table root, where `basePath` would refuse
    // the scan. basePath exists only to reconstruct Hive partition
    // columns, and clones of partitioned sources are refused at
    // creation — so an escaping entry set simply reads without it.
    val escapes = keep.exists(_.startsWith("../"))
    val reader0 =
      if (escapes) spark.read
      else spark.read.option("basePath", table)
    val reader = schema.foldLeft(reader0)((r, sc) => r.schema(sc))
    reader.parquet(keep.map(f => new Path(base, f).toString): _*)
  }

  /** DV-filtered scan of `entries` that keeps row PROVENANCE: the data
    * columns plus `__g_file` (the row's file basename) and `__g_ridx`
    * (its row index within the file). What the DML planners
    * ([[predicateTouched]]'s provenance narrowing, [[deleteMor]]'s
    * match collection) read — already-deleted rows must neither count
    * as matches nor re-enter a deletion vector. */
  private def provenanceScan(spark: SparkSession, table: String,
                             snap: Snapshot,
                             entries: Seq[FileEntry]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val df = rawRead(spark, table, snap.schema, entries.map(_.path))
      .withColumn("__g_file", col("_metadata.file_name"))
      .withColumn("__g_ridx", col("_metadata.row_index"))
    if (entries.forall(_.dv.isEmpty)) df
    else df.filter(dvLivePredicate(spark, table, entries,
      col("__g_file"), col("__g_ridx")))
  }

  /** Publish a log record as the next version. Atomic: the record is
    * written to a temp name and published via the [[CommitPrimitive]],
    * which fails if a racing committer already published the same
    * version. `full = true` writes a base record (entry list replaces
    * the table — overwrites, first commits, compactions); otherwise a
    * delta record of O(changed files). Every [[checkpointInterval]]
    * commits the committer also consolidates a checkpoint; checkpoint
    * failures are swallowed because checkpoints are derived — losing one
    * lengthens the next resolution's walk but corrupts nothing, whereas
    * failing the commit AFTER its manifest published would make the
    * caller retry an already-committed write. */
  private[sources] def commitLog(fs: FileSystem, table: Path, full: Boolean,
                                 adds: Seq[String], removes: Seq[String],
                                 prev: Option[Long],
                                 batchId: Option[Long] = None,
                                 appId: Option[String] = None,
                                 schema: Option[StructType] = None,
                                 changeFiles: Seq[String] = Nil,
                                 bloomCols: Seq[String] = Nil,
                                 bloomExpectedRows: Long = 100000L,
                                 checks: Seq[(String, String)] = Nil,
                                 maintenance: Boolean = false): Long = {
    val next = prev.getOrElse(0L) + 1
    val dir = new Path(table, ManifestDir)
    fs.mkdirs(dir)
    val attempt = java.util.UUID.randomUUID.toString.take(8)
    val tmp = new Path(dir, f".tmp-v$next%08d-$attempt")
    val sb = new StringBuilder
    batchId.foreach(b => sb.append(BatchHeader).append(b).append('\n'))
    appId.foreach(a => sb.append(AppHeader).append(a).append('\n'))
    schema.foreach(s => sb.append(SchemaHeader).append(s.json).append('\n'))
    if (bloomCols.nonEmpty) {
      sb.append(BloomHeader).append(bloomCols.mkString(",")).append('\n')
      sb.append(BloomRowsHeader).append(bloomExpectedRows).append('\n')
    }
    checks.foreach { case (n, sql) =>
      sb.append(CheckHeader).append(n).append('\t').append(sql).append('\n')
    }
    // net-zero row change (compaction/bin-packing): incremental
    // consumers may skip this version entirely
    if (maintenance) sb.append(MaintenanceHeader).append('\n')
    sb.append(TsHeader).append(clock()).append('\n')
    if (full) {
      sb.append(FullHeader).append('\n')
      adds.foreach(l => sb.append(l).append('\n'))
    } else {
      removes.foreach(r => sb.append("R\t").append(r).append('\n'))
      adds.foreach(l => sb.append("A\t").append(l).append('\n'))
    }
    changeFiles.foreach(c => sb.append("C\t").append(c).append('\n'))
    writeStringFile(fs, tmp, sb.toString, overwrite = false)
    val target = manifestPath(table, next)
    if (!commitPrimitive.publish(fs, tmp, target)) {
      fs.delete(tmp, false)
      throw new CommitConflictException(
        s"concurrent commit lost race for version $next in $table")
    }
    if (next % checkpointInterval == 0)
      scala.util.Try(writeCheckpoint(fs, table, next)): Unit
    next
  }

  /** Back-compat base commit (full file list) — also the shape tests use
    * to fabricate synthetic versions. */
  private[sources] def commit(fs: FileSystem, table: Path, files: Seq[String],
                              prev: Option[Long],
                              batchId: Option[Long] = None,
                              appId: Option[String] = None): Long =
    commitLog(fs, table, full = true, adds = files, removes = Nil, prev,
      batchId, appId)

  /** Consolidate version `v` into a checkpoint file and bump the hint.
    * Contention-safe: the checkpoint content for a version is
    * deterministic, so losing a publish race to another writer means an
    * identical file already exists. The hint is advisory and only moves
    * forward. */
  private def writeCheckpoint(fs: FileSystem, p: Path, v: Long): Unit = {
    val target = checkpointPath(p, v)
    if (!fs.exists(target)) {
      val snap = resolveSnapshot(fs, p, Some(v), p.toString)
      val tmp = new Path(new Path(p, ManifestDir),
        f".tmp-ck$v%08d-${java.util.UUID.randomUUID.toString.take(8)}")
      // STREAMED write, line-at-a-time through a buffered writer: the
      // read side already streams (resolveSnapshot), and a checkpoint
      // is the one record whose size is O(table files) — building it
      // as a single String first would spike driver memory by a few
      // hundred MB at a million entries, for nothing.
      val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
        fs.create(tmp, false), StandardCharsets.UTF_8), 1 << 16)
      try {
        def line(s: String): Unit = { out.write(s); out.write('\n') }
        snap.batchId.foreach(b => line(BatchHeader + b))
        snap.appId.foreach(a => line(AppHeader + a))
        snap.schema.foreach(s => line(SchemaHeader + s.json))
        if (snap.bloomCols.nonEmpty) {
          line(BloomHeader + snap.bloomCols.mkString(","))
          line(BloomRowsHeader + snap.bloomExpectedRows)
        }
        snap.checks.foreach { case (n, sql) =>
          line(CheckHeader + n + "\t" + sql)
        }
        line(FullHeader)
        snap.entries.foreach(e => line(e.line))
      } finally out.close()
      if (!commitPrimitive.publish(fs, tmp, target)) fs.delete(tmp, false)
    }
    if (readHint(fs, p).forall(_ < v))
      writeStringFile(fs, hintPath(p), s"$v\n", overwrite = true)
  }

  /** Recursive parquet listing under `root`, as root-relative paths. */
  private def listParquetRec(fs: FileSystem, root: Path): Seq[Path] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Path]
    def walk(dir: Path): Unit = fs.listStatus(dir).foreach { st =>
      if (st.isDirectory) walk(st.getPath)
      else if (st.getPath.getName.endsWith(".parquet")) out += st.getPath
    }
    walk(root)
    out.toSeq
  }

  private def relativize(root: Path, p: Path): String = {
    val rootUri = root.toUri.getPath.stripSuffix("/")
    p.toUri.getPath.stripPrefix(rootUri).stripPrefix("/")
  }

  /** Stage `df` as new immutable data files and commit them. `append`
    * keeps the previous snapshot's files and publishes an O(new files)
    * delta record; otherwise a base record replaces them (the old files
    * stay on disk for existing readers until [[vacuum]]). With
    * `partitionBy`, files land under Hive-style partition directories
    * and the manifest records the partitioned relative paths —
    * [[readPruned]] then prunes on them; an append's layout must match
    * the table's existing one (mixed leaf depths break partition
    * discovery, so a mismatch fails fast here rather than corrupting the
    * table). `statsCols` (or the singular `statsCol`) records footer
    * min/max per file for each named column. Returns the committed
    * version. */
  def write(df: DataFrame, table: String, append: Boolean = true,
            batchId: Option[Long] = None,
            partitionBy: Seq[String] = Nil,
            statsCol: Option[String] = None,
            appId: Option[String] = None,
            statsCols: Seq[String] = Nil,
            bloomCols: Seq[String] = Nil,
            bloomExpectedRows: Long = 100000L,
            validateChecks: Boolean = true,
            maintenance: Boolean = false): Long = {
    val spark = df.sparkSession
    requireCommitScheme(table, fsFor(spark, table)._1)
    val (fs, p) = fsFor(spark, table)
    val prev = currentVersion(spark, table)
    val next = prev.getOrElse(0L) + 1
    val prevSnap = prev.map(v => snapshot(spark, table, Some(v)))
    val effStats = (statsCol.toSeq ++ statsCols).distinct
    prevSnap.filter(_ => append).foreach { s =>
      val existing = partitionColsOf(s)
      require(s.entries.isEmpty || partitionBy == existing,
        s"append layout mismatch in $table: table is partitioned by " +
          s"[${existing.mkString(", ")}] but the append writes " +
          s"[${partitionBy.mkString(", ")}] — mixed layouts break " +
          "partition discovery and manifest pruning. Overwrite " +
          "(append = false) to change the layout.")
    }
    // the committed schema: appends may only match or WIDEN the table's
    // recorded schema (raises SchemaEvolutionException otherwise);
    // overwrites define it afresh. A legacy snapshot with no RECORDED
    // schema still has one — in its files — so derive the base from a
    // committed file (as merge does): letting the incoming schema pass
    // unchecked would record it as the table schema and silently
    // narrow/retype every older file at read time.
    val committedSchema =
      if (append && prevSnap.nonEmpty) {
        val base = prevSnap.get.schema.orElse(
          prevSnap.get.files.headOption.map(_ =>
            readSnapshotFiles(spark, table, prevSnap.get,
              prevSnap.get.files.take(1)).schema))
        evolvedSchema(base, df.schema, table, "append")
      } else df.schema
    // Writer-unique attempt id in the staging dir AND the published data
    // file names. The manifest publish is the only arbitration point; two
    // committers racing for the same version both stage and rename data
    // files BEFORE one of them loses that race, and with version-only
    // names the loser's rename silently REPLACES the winner's published
    // file on POSIX rename — the winner's committed snapshot would then
    // point at the loser's bytes. Unique names make the rename targets
    // disjoint, so the loser only ever leaves orphans (collected by
    // vacuum once the version ages out of retention).
    // `tableChecks` is what the commit RECORDS (the property always
    // carries forward); `effChecks` is what this write ENFORCES —
    // empty for maintenance rewrites that skip validation
    val tableChecks = prevSnap.map(_.checks).getOrElse(Nil)
    val effChecks = if (validateChecks) tableChecks else Nil
    val moved = stageDataFiles(df, fs, p, next, partitionBy, effStats)
    // `validateChecks = false` is for maintenance rewrites of
    // already-committed rows (compaction), which passed enforcement
    // when they first landed.
    validateStagedChecks(spark, fs, p, moved, effChecks, table,
      if (append) "append" else "overwrite")
    // bloom coverage is a TABLE property once established (the Delta
    // table-property model): appends AND overwrites inherit the
    // snapshot's recorded bloom columns — and their persisted per-file
    // row estimate — unless the caller names their own, so routine
    // ingest, INSERT OVERWRITE refreshes, and compaction never silently
    // decay point-lookup pruning. Dropping coverage is a new table
    // path, like changing a stream's identity.
    val (effBlooms, effBloomRows) =
      if (bloomCols.nonEmpty) (bloomCols, bloomExpectedRows)
      else prevSnap.map(s => (s.bloomCols, s.bloomExpectedRows))
        .getOrElse((Nil, bloomExpectedRows))
    // sidecars land BEFORE the manifest publishes: a reader either sees
    // the commit with its blooms complete, or neither (a failed commit's
    // orphan sidecars die with their orphan data files in vacuum)
    stageBloomSidecars(spark, fs, p, moved.map(FileEntry.parse), effBlooms,
      effBloomRows)
    // A plain (non-streaming) write must CARRY the previous snapshot's
    // streaming transaction identity forward, exactly as compact() does —
    // appends AND overwrites: if a maintenance write cleared the (appId,
    // batchId) mark, a post-crash replay of the stream's last epoch would
    // pass the writeBatch guard and commit its rows twice. (A genuinely
    // new table identity belongs in a new table path or a fresh stream
    // checkpoint, not in an overwrite.) Inherit only when the caller
    // supplies neither field — mixing an inherited batch id with a
    // caller's different app identity would pin the wrong stream.
    val (effBatch, effApp) =
      if (batchId.isEmpty && appId.isEmpty)
        (prevSnap.flatMap(_.batchId), prevSnap.flatMap(_.appId))
      else (batchId, appId)
    val committed =
      if (append && prevSnap.nonEmpty)
        commitAppendWithRebase(df, spark, fs, p, table, moved, partitionBy,
          prev, committedSchema, effBlooms, effBloomRows, tableChecks,
          effChecks, effBatch, effApp, batchId, appId, bloomCols,
          validateChecks, maintenance)
      else
        commitLog(fs, p, full = true, adds = moved, removes = Nil, prev,
          effBatch, effApp, Some(committedSchema), bloomCols = effBlooms,
          bloomExpectedRows = effBloomRows, checks = tableChecks,
          maintenance = maintenance)
    if (!maintenance) maybeAutoBinPack(spark, table)
    committed
  }

  /** Session conf enabling write-triggered compaction: when set to a
    * positive integer N, any non-maintenance [[write]] whose resulting
    * snapshot holds ≥ N small files (under
    * `spark.graft.lake.autoBinPack.smallFileBytes`, default 32 MiB)
    * immediately runs [[binPack]] — Delta's auto-compaction model.
    * Unset = off (the default): maintenance cadence is an operational
    * choice, and micro-benchmarks shouldn't pay surprise rewrites. */
  val AutoBinPackConf = "spark.graft.lake.autoBinPack.smallFiles"
  val AutoBinPackBytesConf = "spark.graft.lake.autoBinPack.smallFileBytes"

  /** The [[write]] epilogue for [[AutoBinPackConf]]: one snapshot
    * resolution (checkpoint + bounded tail) counts small files from
    * manifest-recorded sizes — no file-system stats — and triggers the
    * rewrite only past the threshold, so steady-state ingest pays a
    * metadata probe and the pack cost amortizes to once per N small
    * commits. The pack commit itself is `#maintenance` (streams skip
    * it) and never re-triggers (binPack commits directly, not through
    * [[write]]). The trigger runs AFTER the caller's commit published,
    * so NO pack failure may propagate out of [[write]]: a caller
    * seeing an exception would reasonably treat the WRITE as failed
    * and retry it — appending the same rows twice (blind appends
    * rebase cleanly; nothing would flag the duplicate). A lost commit
    * race or any transient failure leaves the small files in place for
    * the next triggering write; the warning on stderr is the signal
    * that maintenance is being skipped, without punishing the already-
    * succeeded ingest path. */
  private def maybeAutoBinPack(spark: SparkSession, table: String): Unit =
    // the conf PARSING sits inside the guard too: a malformed value
    // ('10MB') must degrade to a skipped-maintenance warning, not throw
    // NumberFormatException out of a write() that already published
    try {
      val threshold = spark.conf.getOption(AutoBinPackConf).map(_.trim)
        .filter(_.nonEmpty).map(_.toInt)
      threshold.filter(_ > 0).foreach { n =>
        val smallBytes = spark.conf.getOption(AutoBinPackBytesConf)
          .map(_.toLong).getOrElse(32L * 1024 * 1024)
        val snap = snapshot(spark, table)
        val small = snap.entries.count(_.bytes.exists(_ < smallBytes))
        if (small >= n) binPack(spark, table, smallFileBytes = smallBytes)
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[graft-lake] auto bin-pack of $table " +
          s"skipped (write already committed): $e")
    }

  /** How many times a lost-race APPEND re-resolves the winner's head and
    * retries before surfacing [[CommitConflictException]]. Each retry
    * means someone else committed, so the system as a whole progresses;
    * the cap only guards a pathological stampede. */
  private val MaxCommitRebases = 10

  /** Commit an append's already-staged files, REBASING over concurrent
    * winners instead of discarding the writer's work: on a lost version
    * race, re-resolve the winner's head snapshot, re-check everything a
    * sequential append against that head would have checked — partition
    * layout (mismatch conflicts by name), schema evolution against the
    * winner's schema (a concurrent retype/drop raises the named
    * SchemaEvolutionException), CHECK constraints the winner added (the
    * staged files are re-validated against exactly the delta, and a
    * violation deletes them) — then retry at the next version with the
    * winner's table properties carried forward. N parallel ingest
    * streams thus serialize at log-record cost, never re-staging data —
    * the Delta conflict model. Commits carrying a caller-supplied
    * streaming epoch never rebase: epoch arbitration (was this batch
    * already committed?) belongs to [[writeBatch]]'s guard against the
    * snapshot it resolves, so those surface the conflict instead. */
  private def commitAppendWithRebase(df: DataFrame, spark: SparkSession,
      fs: FileSystem, p: Path, table: String, moved: Seq[String],
      partitionBy: Seq[String], prev: Option[Long],
      schema0: StructType, blooms0: Seq[String], bloomRows0: Long,
      checks0: Seq[(String, String)], validated0: Seq[(String, String)],
      batch0: Option[Long], app0: Option[String],
      callerBatchId: Option[Long], callerAppId: Option[String],
      callerBloomCols: Seq[String],
      validateChecks: Boolean, maintenance: Boolean): Long = {
    var basePrev = prev
    var schemaToRecord = schema0
    var blooms = blooms0
    var bloomRows = bloomRows0
    var checksToRecord = checks0
    var batch = batch0
    var app = app0
    var staged = moved
    val validated = scala.collection.mutable.Set(validated0: _*)
    var attempt = 0
    while (true) {
      try return commitLog(fs, p, full = false, adds = staged,
        removes = Nil, basePrev, batch, app, Some(schemaToRecord),
        bloomCols = blooms, bloomExpectedRows = bloomRows,
        checks = checksToRecord, maintenance = maintenance)
      catch { case e: CommitConflictException =>
        attempt += 1
        if (attempt > MaxCommitRebases) throw e
        if (callerBatchId.nonEmpty || callerAppId.nonEmpty) throw e
        val head = currentVersion(spark, table).getOrElse(throw e)
        // RE-VERSION the staged files (and their bloom sidecars) to the
        // new target version FIRST: vacuum's in-flight-writer protection
        // keys on a data file's embedded version being at or ahead of
        // the newest retained manifest, so files left at the LOST
        // version would look dead to a concurrent vacuum and the
        // rebased commit would publish dangling references.
        val newNext = head + 1
        staged = staged.map { line =>
          val entry = FileEntry.parse(line)
          val segs = entry.path.split('/')
          val newBase =
            segs.last.replaceFirst("^v\\d{8,}", f"v$newNext%08d")
          val newPath = (segs.init :+ newBase).mkString("/")
          if (newPath == entry.path) line
          else {
            if (!fs.rename(new Path(p, entry.path), new Path(p, newPath)))
              throw new IllegalStateException(
                s"rebase failed to re-version staged file ${entry.path}")
            (blooms0 ++ blooms).distinct.foreach { c =>
              val oldSidecar = new Path(p, s"$BloomsDir/${entry.path}.$c.bloom")
              if (fs.exists(oldSidecar))
                fs.rename(oldSidecar,
                  new Path(p, s"$BloomsDir/$newPath.$c.bloom")): Unit
            }
            entry.copy(path = newPath).line
          }
        }
        val winner = snapshot(spark, table, Some(head))
        val wLayout = partitionColsOf(winner)
        if (winner.entries.nonEmpty && wLayout != partitionBy)
          throw new CommitConflictException(
            s"append to $table lost the race to a commit that changed " +
              s"the partition layout to [${wLayout.mkString(", ")}] — " +
              s"the staged files are laid out by " +
              s"[${partitionBy.mkString(", ")}] and cannot be rebased.")
        // exactly the sequential-append rule, against the winner's head
        val winnerSchema = winner.schema.orElse(
          winner.files.headOption.map(_ =>
            readSnapshotFiles(spark, table, winner,
              winner.files.take(1)).schema))
        schemaToRecord = evolvedSchema(winnerSchema, df.schema, table,
          "append (rebased over a concurrent commit)")
        // constraints the winner added since our validation pass: the
        // staged files are still on disk, so re-validate just the delta
        // (a violation deletes them and raises — nothing half-lands)
        val newChecks = winner.checks.filterNot(validated)
        if (validateChecks && newChecks.nonEmpty) {
          validateStagedChecks(spark, fs, p, staged, newChecks, table,
            "append (rebased over a concurrent commit)")
          validated ++= newChecks
        }
        checksToRecord = winner.checks
        // winner's table properties win, exactly as they would have
        // sequentially (unless the caller NAMED their own bloom set —
        // then it wins, as in the sequential path); sidecars for
        // newly-required bloom columns are re-staged for OUR files only
        // (coverage stays advisory either way)
        if (callerBloomCols.isEmpty && winner.bloomCols != blooms) {
          blooms = winner.bloomCols
          bloomRows = winner.bloomExpectedRows
          stageBloomSidecars(spark, fs, p, staged.map(FileEntry.parse),
            blooms, bloomRows)
        }
        batch = winner.batchId
        app = winner.appId
        basePrev = Some(head)
      }
    }
    -1L // unreachable
  }

  /** Commit a REWRITE (merge / delete / update, CoW or MOR), RETRYING
    * over concurrent winners when that is provably safe — the Delta
    * conflict-checker model (public docs), extending round 8's
    * append-only rebase to DML: N writers touching DISJOINT key ranges
    * serialize at log-record cost with zero client redo, instead of one
    * of them redoing a full rewrite. On a lost version race the loser
    * diffs its base snapshot against the new head and retries there iff
    * ALL of:
    *  - no winner removed, rewrote or re-annotated a file this rewrite
    *    READ (detected as a changed-or-missing manifest line, which
    *    covers delta and full/overwrite winner records alike): its
    *    match set or survivor images could be stale (overlapping
    *    rewrites stay the named [[CommitConflictException]], e.g. a
    *    merge racing a compaction of the same files);
    *  - no winner ADDED a file the rewrite's own candidate pruning
    *    cannot rule out (`wouldRead` — key/predicate stats bounds): a
    *    concurrently appended row this rewrite should have matched
    *    means its output is incomplete, so it must re-run. Files with
    *    no stats conservatively conflict;
    *  - the winner changed neither the schema nor the partition layout;
    *  - CHECK constraints the winner added re-validate green against
    *    the still-staged files (exactly the append-rebase rule).
    * The retry re-versions every staged artifact — data files, bloom
    * sidecars, change files, deletion-vector sidecars (rewriting the
    * annotated entries' `dv=` tokens) — to the new target version
    * FIRST, for the same vacuum in-flight-protection reason as the
    * append rebase, then re-commits the same adds/removes against the
    * new head. `annotatedAdds` (MOR entries re-annotating EXISTING
    * files) keep their data path verbatim; only their freshly staged
    * sidecars move. */
  private def commitRewriteWithRetry(spark: SparkSession, fs: FileSystem,
      p: Path, table: String, op: String, base: Snapshot,
      readPaths: Set[String],
      wouldRead: Seq[FileEntry] => Seq[FileEntry],
      stagedAdds0: Seq[String], annotatedAdds0: Seq[String],
      removes: Seq[String], changeFiles0: Seq[String],
      schema: Option[StructType]): Long = {
    var prevV = base.version
    var staged = stagedAdds0
    var annotated = annotatedAdds0
    var changeFiles = changeFiles0
    var checksToRecord = base.checks
    var blooms = base.bloomCols
    var bloomRows = base.bloomExpectedRows
    var batch = base.batchId
    var app = base.appId
    val validated = scala.collection.mutable.Set(base.checks: _*)
    var attempt = 0
    while (true) {
      try return commitLog(fs, p, full = false, adds = staged ++ annotated,
        removes = removes, Some(prevV), batch, app, schema,
        changeFiles, blooms, bloomRows, checksToRecord)
      catch { case e: CommitConflictException =>
        attempt += 1
        if (attempt > MaxCommitRebases) throw e
        val head = currentVersion(spark, table).getOrElse(throw e)
        val headSnap = snapshot(spark, table, Some(head))
        // did a winner TOUCH any file this rewrite read? Diffing the
        // base and head manifest LINES (not reading winner records)
        // catches every form uniformly: a removed file is absent at
        // head, a rewritten one replaced by a new path, a MOR
        // re-annotation or overwrite carries a different line — and
        // full-record commits (compaction = overwrite) need no special
        // case. Untouched entries carry over verbatim, so line equality
        // is exactly "no winner touched it".
        val headByPath = headSnap.entries.map(e => e.path -> e.line).toMap
        val baseByPath = base.entries.map(e => e.path -> e.line).toMap
        val overlap = readPaths.filter(rp =>
          headByPath.get(rp) != baseByPath.get(rp))
        if (overlap.nonEmpty) throw new CommitConflictException(
          s"$op on $table lost the race to a concurrent commit that " +
            s"rewrote or removed ${overlap.size} of the files this " +
            s"rewrite read (e.g. ${overlap.head}) — overlapping " +
            "rewrites cannot be replayed; re-run against the new head.")
        // files that exist at head but did not at base: winner-added,
        // net of later winner removes. The rewrite's own pruning decides
        // whether any could hold a row it should have read.
        val newEntries = headSnap.entries.filterNot(a =>
          base.entries.exists(_.path == a.path))
        val shouldHaveRead = wouldRead(newEntries)
        if (shouldHaveRead.nonEmpty) throw new CommitConflictException(
          s"$op on $table lost the race to a concurrent commit that " +
            s"added ${shouldHaveRead.size} file(s) this rewrite would " +
            s"have read (e.g. ${shouldHaveRead.head.path}) — its rows " +
            "could match; re-run the operation against the new head.")
        if (headSnap.schema.map(_.json) != base.schema.map(_.json))
          throw new CommitConflictException(
            s"$op on $table lost the race to a concurrent commit that " +
              "changed the table schema — re-run against the new head.")
        if (headSnap.entries.nonEmpty &&
            partitionColsOf(headSnap) != partitionColsOf(base))
          throw new CommitConflictException(
            s"$op on $table lost the race to a concurrent commit that " +
              "changed the partition layout — re-run against the new head.")
        // constraints the winner added: re-validate exactly the delta
        // against the still-staged NEW files (annotated MOR entries only
        // lose rows — they cannot introduce a violation)
        val newChecks = headSnap.checks.filterNot(validated)
        if (newChecks.nonEmpty) {
          validateStagedChecks(spark, fs, p, staged, newChecks, table,
            s"$op (retried over a concurrent commit)")
          validated ++= newChecks
        }
        checksToRecord = headSnap.checks
        // re-version every staged artifact to the new target (vacuum
        // in-flight protection keys on the embedded version — see
        // commitAppendWithRebase)
        val newNext = head + 1
        def reversionBase(rel: String): String = {
          val segs = rel.split('/')
          (segs.init :+ segs.last.replaceFirst("^v\\d{8,}",
            f"v$newNext%08d")).mkString("/")
        }
        def mv(from: String, to: String): Unit =
          if (from != to && !fs.rename(new Path(p, from), new Path(p, to)))
            throw new IllegalStateException(
              s"retry failed to re-version staged artifact $from")
        staged = staged.map { line =>
          val entry = FileEntry.parse(line)
          val newPath = reversionBase(entry.path)
          if (newPath == entry.path) line
          else {
            mv(entry.path, newPath)
            blooms.foreach { c =>
              val oldSidecar = new Path(p, s"$BloomsDir/${entry.path}.$c.bloom")
              if (fs.exists(oldSidecar))
                fs.rename(oldSidecar,
                  new Path(p, s"$BloomsDir/$newPath.$c.bloom")): Unit
            }
            entry.copy(path = newPath).line
          }
        }
        changeFiles = changeFiles.map { rel =>
          val to = reversionBase(rel); mv(rel, to); to
        }
        // freshly staged DV sidecars (every annotated entry's token
        // points at one — stageDvSidecar always writes the cumulative
        // block anew): rename each distinct sidecar once, then rewrite
        // the tokens; block offsets are unchanged by the rename
        annotated.flatMap(l => FileEntry.parse(l).dv)
          .map(DeletionVectors.parseRef(_).rel).distinct
          .foreach(rel => mv(rel, reversionBase(rel)))
        annotated = annotated.map { line =>
          val entry = FileEntry.parse(line)
          entry.copy(dv = entry.dv.map { t =>
            val r = DeletionVectors.parseRef(t)
            DeletionVectors.encodeRef(r.copy(rel = reversionBase(r.rel)))
          }).line
        }
        // winner's table properties win, as they would have sequentially
        if (headSnap.bloomCols != blooms ||
            headSnap.bloomExpectedRows != bloomRows) {
          blooms = headSnap.bloomCols
          bloomRows = headSnap.bloomExpectedRows
          stageBloomSidecars(spark, fs, p, staged.map(FileEntry.parse),
            blooms, bloomRows)
        }
        batch = headSnap.batchId
        app = headSnap.appId
        prevV = head
      }
    }
    -1L // unreachable
  }

  /** Stage `df` under a writer-unique staging dir and publish its parquet
    * files as immutable `vNNNNNNNN-<attempt>-NNNNN.parquet` data files,
    * returning their manifest lines (with footer ranges for each of
    * `statsCols` when requested). Shared by [[write]] and [[merge]] — the
    * attempt id keeps racing committers' rename targets disjoint (see
    * [[write]]). Publishes DATA files only; the caller still owns the
    * manifest commit. */
  private def stageDataFiles(df: DataFrame, fs: FileSystem, p: Path,
                             next: Long, partitionBy: Seq[String],
                             statsCols: Seq[String]): Seq[String] = {
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val attempt = java.util.UUID.randomUUID.toString.take(8)
    val staging = new Path(p, f"_staging-v$next%08d-$attempt")
    fs.delete(staging, true)
    val writer = df.write
    (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*)
     else writer).parquet(staging.toString)
    val staged = listParquetRec(fs, staging)
      .sortBy(src => relativize(staging, src))
    val moved = staged.zipWithIndex.flatMap { case (src, i) =>
      // one footer-only metadata read per file: every stats column's
      // range AND the exact row count (what makes COUNT(*) answerable
      // from the manifest alone); no data pages touched. File SIZE
      // rides along so maintenance (binPack) never stats the table.
      val (ranges, strRanges, rows) = footerMeta(conf, src, statsCols)
      // zero-row part files (empty write partitions, fully-deleted CoW
      // survivors) never publish: an empty file in the manifest is pure
      // listing/footer overhead on every future read
      if (rows == 0L) None
      else {
        val dir = relativize(staging, src.getParent)
        val name = (if (dir.isEmpty) "" else dir + "/") +
          f"v$next%08d-$attempt-$i%05d.parquet"
        val dest = new Path(p, name)
        val bytes = fs.getFileStatus(src).getLen
        fs.mkdirs(dest.getParent)
        if (!fs.rename(src, dest))
          throw new IllegalStateException(s"failed to publish $name in $p")
        Some(FileEntry(name, ranges, Some(rows), Some(bytes),
          strRanges).line)
      }
    }
    fs.delete(staging, true)
    moved
  }

  /** Stage a commit's row-level change set (rows + `_change_type`)
    * under `_changes/` and return the relative paths for the
    * manifest's `C` lines. Change files are NOT data files: never part
    * of a snapshot, never compacted, and vacuumed together with their
    * version's manifest. The cost of recording is one extra write of
    * the changed rows — which the commit already has in hand — and it
    * buys exact per-version CDC as a PLAIN SCAN, the form a streaming
    * consumer can read (a post-hoc diff needs EXCEPT ALL, which no
    * streaming plan may contain). */
  private def stageChangeFiles(df: DataFrame, fs: FileSystem, p: Path,
                               next: Long): Seq[String] = {
    val attempt = java.util.UUID.randomUUID.toString.take(8)
    val staging = new Path(p, f"_staging-v$next%08d-cf-$attempt")
    fs.delete(staging, true)
    df.write.parquet(staging.toString)
    val staged = listParquetRec(fs, staging)
      .sortBy(src => relativize(staging, src))
    fs.mkdirs(new Path(p, ChangesDir))
    val moved = staged.zipWithIndex.map { case (src, i) =>
      val name = s"$ChangesDir/" + f"v$next%08d-$attempt-$i%05d.parquet"
      if (!fs.rename(src, new Path(p, name)))
        throw new IllegalStateException(s"failed to publish $name in $p")
      name
    }
    fs.delete(staging, true)
    moved
  }

  /** Stage per-file BLOOM sidecars for `bloomCols` of the newly
    * committed files: one grouped aggregate job reads the new files back
    * (file-provenance grouping, so one pass covers every column) and
    * each file's filter lands at `_blooms/<relpath>.<col>.bloom`,
    * mirroring the data layout. Blooms answer the query min/max stats
    * cannot: POINT LOOKUPS on a column the table is not clustered by —
    * every file's range covers a popular key space, but only a handful
    * of files actually hold a given key. Sidecars are advisory:
    * [[pointLookupCandidates]] keeps any file without one, so partial
    * coverage (older commits, DML rewrites) only weakens pruning, never
    * correctness. Sizing: `expectedRows` is the per-file row estimate —
    * Spark's bloom aggregate derives optimal bits for its default 3%
    * FPP, ~75 KB at 100k rows: ≈0.1% storage overhead on a table whose
    * files hold rows that size. The collect is bounded by (new files ×
    * filter bytes) PER COMMIT — an initial 100 TB load amortizes it
    * over its append batches. */
  private def stageBloomSidecars(spark: SparkSession, fs: FileSystem,
      p: Path, added: Seq[FileEntry], bloomCols: Seq[String],
      expectedRows: Long): Unit = {
    if (bloomCols.isEmpty || added.isEmpty) return
    import org.apache.spark.sql.functions.{col, expr}
    val byPath = spark.read
      .parquet(added.map(e => new Path(p, e.path).toString): _*)
      .groupBy(col("_metadata.file_path").as("__file"))
      .agg(expr(s"bloom_filter_agg(xxhash64(`${bloomCols.head}`), " +
        s"${expectedRows}L)").as(s"__bf_${bloomCols.head}"),
        bloomCols.tail.map(c =>
          expr(s"bloom_filter_agg(xxhash64(`$c`), ${expectedRows}L)")
            .as(s"__bf_$c")): _*)
      .collect()
    fs.mkdirs(new Path(p, BloomsDir))
    byPath.foreach { row =>
      val abs = row.getString(0)
      val rel = added.map(_.path).find(r => abs.endsWith("/" + r))
        .getOrElse(throw new IllegalStateException(
          s"bloom staging saw unexpected file $abs"))
      bloomCols.foreach { c =>
        val bytes = row.getAs[Array[Byte]](s"__bf_$c")
        if (bytes != null) {
          val dest = new Path(p, s"$BloomsDir/$rel.$c.bloom")
          fs.mkdirs(dest.getParent)
          val out = fs.create(dest, true)
          try out.write(bytes) finally out.close()
        }
      }
    }
  }

  /** The column field an equality lookup must type its literals by —
    * resolved with the session's case sensitivity. `None` means the
    * snapshot cannot prove the writer's hashed type, in which case the
    * bloom vote MUST be skipped: hashing a guessed type could vote
    * definite-miss on the file that holds the key (the one
    * non-conservative failure a bloom layer must never have). */
  private def bloomField(spark: SparkSession, snap: Snapshot,
      colName: String): Option[org.apache.spark.sql.types.StructField] = {
    val caseSensitive =
      spark.conf.get("spark.sql.caseSensitive", "false").toBoolean
    snap.schema.flatMap(_.fields.find(f =>
      if (caseSensitive) f.name == colName
      else f.name.equalsIgnoreCase(colName)))
  }

  /** Candidate-set size up to which [[bloomVote]] loads the candidates'
    * own sidecar paths (≤ this many existence probes) instead of listing
    * the whole `_blooms` tree. Interactive point lookups land far under
    * it once range stats have pruned; bulk votes (merge/delete over a
    * wide key set) amortize one recursive listing instead. */
  private val BloomVoteDirectLoadMax = 256

  /** One distributed vote over `colName`'s bloom sidecars: keep each
    * candidate whose filter might contain ANY of `hashes` (executors
    * deserialize and test; only (name, verdict) pairs reach the driver
    * — at a million files the filters themselves never congregate
    * anywhere). Files without a sidecar survive conservatively. Shared
    * by [[readEq]] and [[readIn]]. Small candidate sets (the
    * interactive-lookup shape: range stats already pruned to a handful)
    * load EXACTLY those files' sidecars — the whole-tree glob is
    * O(table files) IO per lookup and reads sidecars of departed files
    * and already-pruned candidates, which would dominate an
    * interactive-at-100TB point query. */
  private def bloomVote(spark: SparkSession, fs: FileSystem, p: Path,
      colName: String, hashes: Array[Long],
      candidates: Seq[FileEntry]): Seq[FileEntry] = {
    import org.apache.spark.sql.functions.col
    val bdir = new Path(p, BloomsDir)
    if (candidates.isEmpty || !fs.exists(bdir)) return candidates
    import spark.implicits._
    val direct = candidates.size <= BloomVoteDirectLoadMax
    val loadPaths: Seq[String] =
      if (direct)
        candidates
          .map(e => new Path(p, s"$BloomsDir/${e.path}.$colName.bloom"))
          .filter(fs.exists).map(_.toString) // no sidecar: survives below
      else Seq(bdir.toString)
    if (loadPaths.isEmpty) return candidates
    val reader =
      if (direct) spark.read.format("binaryFile")
      else spark.read.format("binaryFile")
        .option("pathGlobFilter", s"*.$colName.bloom")
        .option("recursiveFileLookup", "true")
    val verdicts = reader
      .load(loadPaths: _*)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .map { case (path, bytes) =>
        val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
          new java.io.ByteArrayInputStream(bytes))
        (path, hashes.exists(bf.mightContainLong))
      }
      .collect()
      .flatMap { case (path, hit) =>
        val marker = s"/$BloomsDir/"
        val idx = path.indexOf(marker)
        if (idx < 0) None
        else Some(path.substring(idx + marker.length)
          .stripSuffix(s".$colName.bloom") -> hit)
      }.toMap
    candidates.filter(e => verdicts.getOrElse(e.path, true))
  }

  /** The snapshot files an equality lookup on `colName` must read:
    * range candidates first (a clustered column's stats already answer
    * point queries), then each candidate's bloom sidecar votes via
    * [[bloomVote]]. Pass the already-resolved snapshot when the caller
    * holds one — the overload resolving its own is for specs; a reader
    * composing this with a read must use ONE snapshot for both or a
    * concurrent commit can tear the lookup across versions. */
  def pointLookupCandidates(spark: SparkSession, table: String,
      snap: Snapshot, colName: String, value: Any): Seq[FileEntry] = {
    val (fs, p) = fsFor(spark, table)
    val numPruned =
      scala.util.Try(BigDecimal(String.valueOf(value))).toOption match {
        case Some(v) => rangeCandidates(snap, colName, v, v)
        case None => snap.entries
      }
    // a string key prunes on the truncated string stats too (numeric
    // and string ranges are recorded for disjoint column types, so at
    // most one of the two prunes actually bites)
    val candidates = value match {
      case s: String => strPrune(numPruned, colName, s, s)
      case _ => numPruned
    }
    bloomField(spark, snap, colName) match {
      case None => candidates // type unprovable: skip the vote, keep all
      case Some(f) =>
        bloomVote(spark, fs, p, colName,
          Array(writerHash(spark, value, f.dataType)), candidates)
    }
  }

  /** The exact 64-bit value the writer's `bloom_filter_agg(xxhash64(
    * col))` inserted for `value` — the same Catalyst expressions,
    * evaluated on the DRIVER (a point lookup should not pay a one-row
    * cluster job just to hash its key). Typing matters twice: an
    * int-typed literal against a long column would hash differently
    * and never match, hence the cast to the column's native type; and
    * the cast runs under the SESSION time zone so a string-to-timestamp
    * key resolves to the same instant the final row filter uses — a
    * hardcoded zone would vote definite-miss on the file holding the
    * row. */
  private def writerHash(spark: SparkSession, value: Any,
      dt: org.apache.spark.sql.types.DataType): Long = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, XxHash64}
    XxHash64(Seq(Cast(Literal(value), dt,
      Some(spark.conf.get("spark.sql.session.timeZone")))), 42L)
      .eval(null).asInstanceOf[Long]
  }

  def pointLookupCandidates(spark: SparkSession, table: String,
      colName: String, value: Any): Seq[FileEntry] =
    pointLookupCandidates(spark, table, snapshot(spark, table, None),
      colName, value)

  /** Point lookup with manifest-range AND bloom-sidecar file skipping —
    * `SELECT ... WHERE col = value` at interactive cost on a 100 TB
    * table. The exact predicate still applies to the survivors, so the
    * result is identical to a full-scan filter regardless of sidecar
    * coverage or bloom false positives. */
  def readEq(spark: SparkSession, table: String, colName: String,
             value: Any, version: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    // ONE snapshot resolution shared by the prune and the read — two
    // would double the log replay and could tear across a concurrent
    // commit (prune from v+1's entries, read under v's schema)
    val snap = snapshot(spark, table, version)
    val keep = pointLookupCandidates(spark, table, snap, colName, value)
    readSnapshotFiles(spark, table, snap, keep.map(_.path))
      .filter(col(colName) === lit(value))
  }

  /** Batched point lookup — `WHERE col IN (...)` with bloom skipping:
    * a file survives when its filter might hold ANY of the keys, so the
    * sidecars are read ONCE for the whole batch (a per-key readEq loop
    * would re-scan them |keys| times). The small-batch key-lookup shape
    * of CDC backfills and entity joins; the exact IN predicate still
    * applies to the survivors. */
  def readIn(spark: SparkSession, table: String, colName: String,
             values: Seq[Any], version: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    require(values.nonEmpty, "readIn needs at least one value")
    val (fs, p) = fsFor(spark, table)
    val snap = snapshot(spark, table, version)
    val numeric = values.flatMap(v =>
      scala.util.Try(BigDecimal(String.valueOf(v))).toOption)
    val numPruned =
      if (numeric.size == values.size)
        rangeCandidates(snap, colName, numeric.min, numeric.max)
      else snap.entries
    // an all-string key batch prunes on the truncated string stats by
    // its [min, max] envelope before the blooms vote
    val strs = values.collect { case s: String => s }
    val candidates =
      if (strs.size == values.size && strs.nonEmpty)
        strPrune(numPruned, colName, strs.min, strs.max)
      else numPruned
    val keep = bloomField(spark, snap, colName) match {
      case None => candidates // type unprovable: skip the vote, keep all
      case Some(f) =>
        bloomVote(spark, fs, p, colName,
          values.map(writerHash(spark, _, f.dataType)).toArray, candidates)
    }
    readSnapshotFiles(spark, table, snap, keep.map(_.path))
      .filter(col(colName).isin(values: _*))
  }

  /** Range-clustered lake write: [[graft.sources.LakeWriter.writeClustered]]
    * layout (repartitionByRange + sortWithinPartitions, so files cover
    * narrow pairwise-disjoint ranges of `clusterCol`) committed through the
    * manifest with footer min/max recorded per file — the combination that
    * makes [[readRange]] touch O(selectivity) files. One range shuffle at
    * write time, amortized over every future range read. `extraStatsCols`
    * records additional columns' footer ranges (correlated columns — an
    * order date clustered table also skips on order key, say). */
  def writeClustered(df: DataFrame, table: String, clusterCol: String,
                     nFiles: Int, append: Boolean = false,
                     extraStatsCols: Seq[String] = Nil,
                     bloomCols: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.functions.col
    write(df.repartitionByRange(nFiles, col(clusterCol))
        .sortWithinPartitions(clusterCol),
      table, append = append, statsCol = Some(clusterCol),
      statsCols = extraStatsCols, bloomCols = bloomCols)
  }

  /** TIME-DERIVED partitioning — the canonical 100 TB time-series
    * layout: rows land under `p_day=yyyy-MM-dd` Hive partitions derived
    * from `tsCol` in the SESSION time zone (`date_format`'s evaluation
    * zone), and the derivation is
    * recorded as an ENFORCED CHECK constraint (`<dayCol>_gen`), which
    * buys three things at
    * once with zero new manifest machinery: every later append —
    * through ANY write path — must carry a correct day column or abort
    * by name; the generation survives compaction/DML/restore because
    * constraints already carry forward through every commit; and
    * [[readTsRange]] can DERIVE partition pruning for timestamp range
    * predicates from the recorded expression (the Delta
    * generated-column pattern, public docs). Appends materialize the
    * day column here, so callers pass raw event frames.
    *
    * The SESSION ZONE IS RECORDED in the constraint (a `tz=` token
    * riding the generation SQL as a bracketed comment — inert to the
    * CHECK evaluator, parsed back by every pruner): a writer, reader,
    * pruner or DML planner whose session zone differs from the recorded
    * one raises [[TimeZoneMismatchException]] BY NAME instead of
    * silently deriving different periods — the straddling-rows footgun
    * a multi-team deployment would otherwise hit. Legacy tables whose
    * constraint predates the token keep the old pin-one-zone
    * convention (no zone check — nothing recorded to check against).
    *
    * HOT-PERIOD SUB-SPLITTING: the period shuffle is a REBALANCE (AQE
    * `RebalancePartitions`, the OSS form of Delta's optimized write),
    * not a plain hash repartition — at runtime AQE splits an oversized
    * period's shuffle partition into multiple tasks by actual byte
    * size (each writes its own file under the same Hive partition dir)
    * and coalesces small periods together, so ONE skewed ingest day
    * parallelizes instead of funneling through one task while cold
    * periods still produce one file each. Without AQE the hint
    * degrades to exactly the old per-period hash shuffle. */
  def writeTimePartitioned(df: DataFrame, table: String, tsCol: String,
                           append: Boolean = false,
                           dayCol: String = "p_day",
                           statsCols: Seq[String] = Nil,
                           granularity: String = "day"): Long = {
    import org.apache.spark.sql.functions.{col, date_format}
    val spark = df.sparkSession
    val gran = TimeGranularity(granularity)
    val genSql = timeGenSql(dayCol, tsCol, gran, sessionZone(spark))
    // repartition BY PERIOD before the partitioned write — without it
    // every task writes a file into every period it happens to hold
    // (tasks × periods small files, the classic dynamic-partition
    // explosion); with it each period's rows co-locate and the file
    // count tracks the period count (modulo AQE's size-based split of
    // hot periods, see the Scaladoc).
    val withDay = df.withColumn(dayCol,
      date_format(col(tsCol), gran.pattern))
      .hint("rebalance", col(dayCol))
    // the generation constraint is added exactly once; overwrites and
    // appends of a table that already records it inherit it through the
    // normal checks carry-forward (and are validated against it) — but
    // first the recorded zone, if any, must match this session's
    val hasGen = currentVersion(spark, table).exists { _ =>
      val checks = snapshot(spark, table).checks
      checks.collectFirst {
        case (n, TimeGenRe(day, _, _, recZone)) if n == s"${dayCol}_gen" =>
          requireGenZone(sessionZone(spark), table, day, Option(recZone))
      }
      checks.exists(_._1 == s"${dayCol}_gen")
    }
    val v = write(withDay, table, append = append,
      partitionBy = Seq(dayCol), statsCols = statsCols)
    if (hasGen) v else recordGenOrWarn(spark, table,
      s"${dayCol}_gen", genSql, v)
  }

  /** A time-partitioning granularity: its `date_format` pattern (which
    * doubles as the partition value format — every pattern's string
    * values sort like the periods they name, so period ranges prune as
    * STRING intervals) and the truncation/step used to enumerate the
    * periods a timestamp range spans. `month` suits years-deep
    * archives (bounded partition counts), `day` the default analytics
    * shape, `hour` high-volume ingest where a day is too coarse to
    * prune usefully. */
  private[sources] final case class TimeGranularity(
      name: String, pattern: String,
      fmt: java.time.format.DateTimeFormatter,
      truncate: java.time.ZonedDateTime => java.time.ZonedDateTime,
      step: java.time.ZonedDateTime => java.time.ZonedDateTime) {
    def periods(start: java.time.Instant, end: java.time.Instant,
                zone: java.time.ZoneId): Set[String] = {
      val from = truncate(start.atZone(zone))
      val to = truncate(end.atZone(zone))
      Iterator.iterate(from)(step).takeWhile(!_.isAfter(to))
        .map(fmt.format(_)).toSet
    }
  }

  private[sources] object TimeGranularity {
    import java.time.format.DateTimeFormatter
    val Day: TimeGranularity = TimeGranularity("day", "yyyy-MM-dd",
      DateTimeFormatter.ofPattern("yyyy-MM-dd"),
      _.truncatedTo(java.time.temporal.ChronoUnit.DAYS), _.plusDays(1))
    val Month: TimeGranularity = TimeGranularity("month", "yyyy-MM",
      DateTimeFormatter.ofPattern("yyyy-MM"),
      z => z.truncatedTo(java.time.temporal.ChronoUnit.DAYS)
        .withDayOfMonth(1), _.plusMonths(1))
    val Hour: TimeGranularity = TimeGranularity("hour", "yyyy-MM-dd-HH",
      DateTimeFormatter.ofPattern("yyyy-MM-dd-HH"),
      _.truncatedTo(java.time.temporal.ChronoUnit.HOURS), _.plusHours(1))
    val all: Seq[TimeGranularity] = Seq(Day, Month, Hour)
    def apply(name: String): TimeGranularity =
      all.find(_.name == name).getOrElse(throw new IllegalArgumentException(
        s"unknown time-partition granularity '$name' — " +
          s"one of ${all.map(_.name).mkString("/")}"))
    def ofPattern(pattern: String): Option[TimeGranularity] =
      all.find(_.pattern == pattern)
  }

  /** HASH-BUCKET generated partitioning — Iceberg's `bucket(N, key)`
    * transform on the manifest lake: rows land under
    * `p_bucket=pmod(hash(key), N)` Hive partitions, with the derivation
    * recorded as an enforced CHECK constraint exactly like the time
    * generation. What it buys that clustering doesn't: the layout is
    * APPEND-STABLE for high-cardinality keys — new batches land into
    * the same N buckets forever with no re-cluster (interleaved appends
    * degrade [[writeClustered]]'s disjoint ranges until an OPTIMIZE
    * re-sorts), and an equality lookup on the key resolves 1 of N
    * partitions AT THE MANIFEST ([[readKeyEq]]) before stats/blooms see
    * anything — at a million files, (N−1)/N of the listing never
    * happens. `hash` is Spark's Murmur3 (seed 42), deterministic across
    * sessions and versions by contract; the recorded SQL re-derives the
    * same buckets in any session, so there is no zone-like footgun to
    * record. The bucket shuffle is a REBALANCE (see
    * [[writeTimePartitioned]]): AQE splits hot buckets by size and
    * coalesces cold ones. */
  def writeBucketPartitioned(df: DataFrame, table: String, keyCol: String,
                             nBuckets: Int, append: Boolean = false,
                             bucketCol: String = "p_bucket",
                             statsCols: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.functions.{col, hash, lit, pmod}
    require(nBuckets > 0, "nBuckets must be positive")
    val spark = df.sparkSession
    val genSql = s"$bucketCol = pmod(hash($keyCol), $nBuckets)"
    val withB = df.withColumn(bucketCol,
      pmod(hash(col(keyCol)), lit(nBuckets)))
      .hint("rebalance", col(bucketCol))
    // an existing generation must MATCH this call's parameters — a
    // changed key or bucket count fails FAST by name, before staging,
    // not as a generic constraint violation after all the IO
    val hasGen = currentVersion(spark, table).exists { _ =>
      snapshot(spark, table).checks.collectFirst {
        case (n, sql) if n == s"${bucketCol}_gen" =>
          val ok = sql match {
            case BucketGenRe(b, k, m) => b == bucketCol &&
              k.equalsIgnoreCase(keyCol) && m.toInt == nBuckets
            case _ => false
          }
          require(ok, s"$table already records '$sql' as " +
            s"${bucketCol}_gen — this call requested " +
            s"pmod(hash($keyCol), $nBuckets); bucket layout parameters " +
            "cannot change on append (rewrite the table to re-bucket)")
      }.isDefined
    }
    val v = write(withB, table, append = append,
      partitionBy = Seq(bucketCol), statsCols = statsCols)
    if (hasGen) v else recordGenOrWarn(spark, table,
      s"${bucketCol}_gen", genSql, v)
  }

  /** The constraint-recording EPILOGUE of the generated-partitioning
    * writers: runs AFTER the data commit published, so no failure here
    * may propagate — a caller reading an exception as a failed write
    * would retry and append the batch TWICE. A lost commit race or a
    * pre-existing violating row leaves the table un-constrained
    * (readers fall back to unpruned — correct, just slower) with the
    * warning as the signal; the next generated write re-attempts the
    * recording, so the state self-heals. */
  private def recordGenOrWarn(spark: SparkSession, table: String,
                              name: String, genSql: String,
                              committed: Long): Long =
    try addConstraint(spark, table, name, genSql)
    catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[graft-lake] recording $name on $table " +
          s"skipped (the data write already committed): $e")
        committed
    }

  /** Matches a recorded bucket generation: groups = (bucketCol, keyCol,
    * nBuckets). */
  private val BucketGenRe =
    "^([A-Za-z0-9_]+) = pmod\\(hash\\(([A-Za-z0-9_]+)\\), (\\d+)\\)$".r

  /** Equality lookup on a bucket-partitioned table's key: derive the
    * literal's bucket DRIVER-SIDE from the recorded generation (the
    * same `pmod(hash(...))` expression the writer ran, constant-folded
    * — no job), keep only that bucket's manifest entries, and push the
    * exact predicate into the surviving scans. The literal hashes under
    * the column's RECORDED type (`hash(5)` ≠ `hash(5L)` — an int-typed
    * probe of a bigint key would silently probe the wrong bucket), so
    * the value is cast first. Entries without the partition key
    * (legacy files) are conservatively kept; a table without the
    * recorded generation falls back to the full snapshot with the same
    * filter — correct, just unpruned. */
  def readKeyEq(spark: SparkSession, table: String, keyCol: String,
                value: Any): DataFrame = {
    import org.apache.spark.sql.functions.{col, hash, lit, pmod}
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val snap = snapshot(spark, table)
    val base = snap.checks.collectFirst {
      case (_, BucketGenRe(b, k, n)) if k.equalsIgnoreCase(keyCol) =>
        (b, n.toInt)
    } match {
      case Some((bucketCol, n)) =>
        readSnapshotFiles(spark, table, snap,
          bucketEntries(spark, snap, bucketCol, keyCol, n, Seq(value))
            .map(_.path))
      case None => readSnapshotFiles(spark, table, snap, snap.files)
    }
    base.filter(col(keyCol) === lit(value))
  }

  /** [[readKeyEq]]'s IN-list twin — the batch point lookup a feature
    * store or serving layer runs for a set of entities: the probed
    * keys' buckets are derived driver-side (a k-key batch touches at
    * most min(k, N) partitions' entries, typically ≪ N), everything
    * else never enters the listing, and the exact IN-filter pushes
    * into the surviving scans. Same fallbacks as [[readKeyEq]]. */
  def readKeyIn(spark: SparkSession, table: String, keyCol: String,
                values: Seq[Any]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    require(values.nonEmpty, "readKeyIn needs at least one value")
    val snap = snapshot(spark, table)
    val base = snap.checks.collectFirst {
      case (_, BucketGenRe(b, k, n)) if k.equalsIgnoreCase(keyCol) =>
        (b, n.toInt)
    } match {
      case Some((bucketCol, n)) =>
        readSnapshotFiles(spark, table, snap,
          bucketEntries(spark, snap, bucketCol, keyCol, n, values)
            .map(_.path))
      case None => readSnapshotFiles(spark, table, snap, snap.files)
    }
    base.filter(col(keyCol).isin(values.map(lit): _*))
  }

  /** Runtime dim-driven partition pruning — the star-join DPP shape a
    * 100 TB fact table lives on: the dimension side's join keys are
    * resolved FIRST (a bounded driver-side collect of the filtered
    * dim's distinct keys), the fact read prunes to those keys'
    * partitions at the MANIFEST via [[readKeyIn]] (bucket-generated
    * layouts resolve ≤ min(k, N) of N partitions; other layouts fall
    * through to stats/Hive pruning under the pushed IN-filter), and
    * only then does the join run — against a broadcast of the small
    * dim. Spark's own DPP does this inside one query for Hive tables;
    * on the manifest lake the pruning must happen where the manifest
    * is, so the two-phase plan is explicit.
    *
    * More than `maxKeys` distinct dim keys (the same bound the probe
    * paths use) falls back to the plain scan-and-join — a warn, never
    * a driver OOM; AQE picks the join strategy there. NULL dim keys
    * never match an equi-join and are dropped from the probe set. An
    * empty dim short-circuits to the empty join result without
    * touching a single fact file. */
  def dimPrunedJoin(spark: SparkSession, factTable: String,
                    keyCol: String, dim: DataFrame, dimKeyCol: String,
                    maxKeys: Int = 100000): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, lit}
    val keyRows = dim.select(col(dimKeyCol)).na.drop()
      .distinct().limit(maxKeys + 1).collect()
    if (keyRows.length > maxKeys) {
      System.err.println(s"[graft-lake] dim-pruned join on $factTable: " +
        s"dim exceeds $maxKeys distinct keys — falling back to the " +
        "unpruned scan-and-join")
      val fact = read(spark, factTable)
      fact.join(dim, fact(keyCol) === dim(dimKeyCol))
    } else if (keyRows.isEmpty) {
      val fact = read(spark, factTable).filter(lit(false))
      fact.join(dim, fact(keyCol) === dim(dimKeyCol))
    } else {
      val fact = readKeyIn(spark, factTable, keyCol, keyRows.map(_.get(0)))
      fact.join(broadcast(dim), fact(keyCol) === dim(dimKeyCol))
    }
  }

  /** The entries a batch of probe values must read on a bucketed
    * table: each value's bucket derives from the writer's exact
    * expression (Murmur3 seed 42 over the value CAST to the column's
    * recorded type — `hash(5)` ≠ `hash(5L)`); a probe whose cast nulls
    * out (caller passed an incompatible type) conservatively keeps
    * everything, and so do legacy files without the partition key and
    * the Hive DEFAULT partition (the generation CHECK passes NULL, so
    * a live key could legally sit there). */
  private def bucketEntries(spark: SparkSession, snap: Snapshot,
                            bucketCol: String, keyCol: String, n: Int,
                            values: Seq[Any]): Seq[FileEntry] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    val colType = snap.schema.flatMap(_.fields
      .find(_.name.equalsIgnoreCase(keyCol)).map(_.dataType))
    val buckets = values.map { value =>
      val lit0 = Literal(value)
      val typed = colType.fold(
        lit0: org.apache.spark.sql.catalyst.expressions.Expression)(t =>
        Cast(lit0, t, Some(sessionZone(spark).getId)))
      val v = typed.eval(org.apache.spark.sql.catalyst.InternalRow.empty)
      if (v == null && value != null) None // incompatible probe type
      else Some(bucketOf(Literal(v, typed.dataType), n))
    }
    if (buckets.exists(_.isEmpty)) snap.entries
    else {
      val hit = buckets.flatten.toSet
      snap.entries.filter(e =>
        partitionValues(e.path).get(bucketCol) match {
          case None => true
          case Some("__HIVE_DEFAULT_PARTITION__") => true
          case Some(v) => hit(v)
        })
    }
  }

  /** The recorded generation expression — ONE definition shared by the
    * writer (records it) and [[readTsRange]] (parses it back), so the
    * two can never disagree on the derivation. The writer's session
    * zone rides along as a bracketed comment: the CHECK evaluator
    * ignores it (Spark SQL comment), every pruner parses it back and
    * [[requireGenZone]] refuses a mismatched session by name. */
  private def timeGenSql(dayCol: String, tsCol: String,
                         gran: TimeGranularity,
                         zone: java.time.ZoneId): String =
    s"$dayCol = date_format($tsCol, '${gran.pattern}') " +
      s"/* tz=${zone.getId} */"

  /** The session's resolved time zone — the zone `date_format`
    * evaluates in, and therefore the ONLY zone day-bound derivation may
    * use. */
  private def sessionZone(spark: SparkSession): java.time.ZoneId =
    java.time.ZoneId.of(spark.conf.get("spark.sql.session.timeZone",
      java.util.TimeZone.getDefault.getID))

  /** Raised when a session whose `spark.sql.session.timeZone` differs
    * from a time-partitioned table's RECORDED generation zone attempts
    * to derive, prune or enforce periods — the alternative is silent
    * disagreement on which period a boundary-straddling timestamp
    * belongs to (wrong partitions written, rows lost from pruned
    * reads). Named so deployments hit a searchable error, not data
    * loss. */
  final class TimeZoneMismatchException(msg: String)
    extends IllegalStateException(msg)

  /** Refuse a recorded-zone mismatch by name; a legacy constraint
    * without a recorded zone checks nothing (pin-one-zone convention,
    * as before). Zones compare NORMALIZED ('UTC', 'Etc/UTC', 'Z' and
    * '+00:00' all derive identical periods — refusing across those
    * spellings would fail a correctly-configured reader), and an
    * unparseable recorded zone is itself a mismatch (conservative: it
    * can never be proven to agree). */
  private def requireGenZone(zone: java.time.ZoneId, tableDesc: String,
                             dayCol: String,
                             recorded: Option[String]): Unit =
    recorded.foreach { z =>
      val same = scala.util.Try(
        java.time.ZoneId.of(z).normalized() == zone.normalized())
        .getOrElse(false)
      if (!same) throw new TimeZoneMismatchException(
        s"time-partitioned table $tableDesc records generation zone " +
          s"'$z' for partition column '$dayCol', but this session " +
          s"evaluates date_format in '${zone.getId}' — writers and " +
          "pruners in a different zone would silently derive different " +
          s"periods. Set spark.sql.session.timeZone to '$z' (or rewrite " +
          "the table under the new zone).")
    }

  /** Matches a recorded generation: groups = (dayCol, tsCol, pattern,
    * zone-or-null). Group 4 is null for constraints recorded before
    * zone tracking. */
  private val TimeGenRe =
    ("^([A-Za-z0-9_]+) = date_format\\(([A-Za-z0-9_]+), " +
      "'([yMdH-]+)'\\)(?:\\s*/\\* tz=([A-Za-z0-9_+:/-]+) \\*/)?$").r

  /** Upgrade a LEGACY (pre-zone-tracking) generation constraint to
    * record this session's zone — the migration path that closes the
    * pin-one-zone footgun for tables written before the token existed.
    * The claim is VALIDATED, not trusted: every existing row must
    * satisfy the generation under the claimed zone (one scan, the same
    * enforcement [[addConstraint]] applies), so a session in the wrong
    * zone cannot record it — a boundary-straddling row violates and the
    * commit is refused by the constraint's name. Consistency under the
    * CLAIMED zone is exactly what pruning soundness needs; the
    * historical writing zone is irrelevant once the data provably
    * derives under this one. No-op if a matching zone is already
    * recorded; a DIFFERENT recorded zone raises
    * [[TimeZoneMismatchException]] (re-zoning requires a rewrite, not a
    * metadata edit). Metadata-only commit — one manifest line changes,
    * no data IO beyond the validation read. */
  def recordGenerationZone(spark: SparkSession, table: String,
                           dayCol: String = "p_day"): Long = {
    requireCommitScheme(table, fsFor(spark, table)._1)
    val (fs, p) = fsFor(spark, table)
    val prev = currentVersion(spark, table)
    val snap = snapshot(spark, table, prev)
    val name = s"${dayCol}_gen"
    val (day, tsCol, pat, recZone) = snap.checks.collectFirst {
      case (n, TimeGenRe(dy, ts, pt, z)) if n == name =>
        (dy, ts, pt, Option(z))
    }.getOrElse(throw new IllegalArgumentException(
      s"$table records no time-generation constraint '$name' to " +
        "record a zone on"))
    val zone = sessionZone(spark)
    recZone match {
      case some @ Some(_) =>
        requireGenZone(zone, table, day, some)
        snap.version
      case None =>
        val gran = TimeGranularity.ofPattern(pat).getOrElse(
          throw new IllegalArgumentException(
            s"constraint '$name' of $table uses pattern '$pat', which " +
              "is not a known time-partition granularity"))
        val newSql = timeGenSql(day, tsCol, gran, zone)
        enforceChecks(read(spark, table, prev), Seq(name -> newSql),
          table, "recording the generation zone over existing data")
        commitLog(fs, p, full = false, adds = Nil, removes = Nil, prev,
          snap.batchId, snap.appId, snap.schema,
          bloomCols = snap.bloomCols,
          bloomExpectedRows = snap.bloomExpectedRows,
          checks = snap.checks.map {
            case (n, _) if n == name => n -> newSql
            case other => other
          })
    }
  }

  /** Closed-interval timestamp range read over a time-partitioned
    * table: when the snapshot carries a recorded day-generation
    * constraint for `tsCol`, the UTC day span of `[startTs, endTs]`
    * prunes partitions AT THE MANIFEST (a 1.5-day query on a 10-year
    * table resolves two partitions' entries, reads nothing else), and
    * the exact predicate still pushes into the surviving scans for
    * row-group pruning — two independent skipping layers, like lk9's
    * bloom + stats. A table WITHOUT the recorded generation falls back
    * to the full snapshot with the same filter: correct, never
    * accidentally wrong, just unpruned. */
  def readTsRange(spark: SparkSession, table: String, tsCol: String,
                  startTs: java.sql.Timestamp,
                  endTs: java.sql.Timestamp): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    require(!startTs.after(endTs), "startTs must be <= endTs")
    readTsPruned(spark, table, tsCol, startTs.toInstant, endTs.toInstant)
      .getOrElse(read(spark, table))
      .filter(col(tsCol) >= lit(startTs) && col(tsCol) <= lit(endTs))
  }

  /** The day-pruned (but UNfiltered) read behind [[readTsRange]] —
    * `None` when the snapshot records no day generation for `tsCol`,
    * so callers (the SQL rule) can fall back without losing the
    * original plan. The caller owns the exact predicate. */
  private[sources] def readTsPruned(spark: SparkSession, table: String,
                                    tsCol: String,
                                    start: java.time.Instant,
                                    end: java.time.Instant)
      : Option[DataFrame] = {
    val snap = snapshot(spark, table)
    timeGenEntries(spark, snap, table, snap.entries, tsCol, start, end)
      // readSnapshotFiles (not readEntries) for the all-pruned case:
      // an empty match is a valid empty frame under the schema
      .map(es => readSnapshotFiles(spark, table, snap, es.map(_.path)))
  }

  /** The entry-level kernel behind [[readTsPruned]] and
    * [[readDerivedPruned]] — `None` when `entries`' snapshot records no
    * matching day generation (the caller then changes nothing). */
  private def timeGenEntries(spark: SparkSession, snap: Snapshot,
      tableDesc: String, entries: Seq[FileEntry], tsCol: String,
      start: java.time.Instant, end: java.time.Instant)
      : Option[Seq[FileEntry]] =
    snap.checks.collectFirst {
      case (_, TimeGenRe(day, ts, pat, recZone))
        if ts.equalsIgnoreCase(tsCol) &&
          TimeGranularity.ofPattern(pat).isDefined =>
        (day, TimeGranularity.ofPattern(pat).get, Option(recZone))
    }.map { case (day, gran, recZone) =>
      // SESSION zone, not hard-coded UTC: the writer's date_format
      // evaluated in the session zone, and pruning in any other zone
      // would silently drop rows whose local period straddles a
      // boundary — which is why a recorded-zone mismatch is a named
      // error, not a different answer
      requireGenZone(sessionZone(spark), tableDesc, day, recZone)
      val periods = gran.periods(start, end, sessionZone(spark))
      // entries without the period key (pre-layout legacy files) are
      // conservatively kept; the Hive DEFAULT partition's value
      // doesn't parse as a period and is pruned — EXACT, not lossy: it
      // holds only null-ts rows, which a closed interval excludes.
      entries.filter(e => partitionValues(e.path).get(day)
        .forall(periods))
    }

  /** The SQL rule's one-call pruned read: time-generation windows AND
    * bucket-generation equality points COMPOSE on the same entry set
    * (a table partitioned by both reads 1 bucket × matching periods,
    * exactly as the DML path does), resolving the snapshot only when
    * the predicate has a prunable shape at all. `None` = nothing
    * provably removable; the caller leaves the plan untouched, and
    * since the original filter always stays in the plan, this rewrite
    * can only ever REMOVE provably-dead files. */
  private[sources] def readDerivedPruned(spark: SparkSession,
      table: String,
      predExpr: org.apache.spark.sql.catalyst.expressions.Expression,
      tsWindows: Map[String, (java.time.Instant, java.time.Instant)])
      : Option[DataFrame] = {
    val points = predicateEqPoints(predExpr)
    if (tsWindows.isEmpty && points.isEmpty) return None
    val snap = snapshot(spark, table)
    var entries = snap.entries
    var pruned = false
    tsWindows.foreach { case (c, (s0, e0)) =>
      timeGenEntries(spark, snap, table, entries, c, s0, e0).foreach {
        es => entries = es; pruned = true
      }
    }
    val afterBucket = bucketPrune(snap, entries, points)
    if (afterBucket.size < entries.size) { entries = afterBucket
      pruned = true }
    if (pruned)
      Some(readSnapshotFiles(spark, table, snap, entries.map(_.path)))
    else None
  }

  /** The snapshot entries a range query on `colName` must read: every
    * entry whose recorded `[min, max]` intersects `[lo, hi]`, plus every
    * entry with no recorded range for the column (unknown ⇒ never skip).
    * Factored out of [[readRange]] so tests can pin the pruning itself. */
  def rangeCandidates(snap: Snapshot, colName: String,
                      lo: BigDecimal, hi: BigDecimal): Seq[FileEntry] =
    snap.entries.filter(_.range(colName).forall(r =>
      r.max >= lo && r.min <= hi))

  private def strPrune(entries: Seq[FileEntry], colName: String,
                       lo: String, hi: String): Seq[FileEntry] =
    // sound under truncation: recorded min ≤ true min and recorded max
    // ≥ true max (None = unbounded above), so a file is dropped only
    // when provably outside [lo, hi]; no recorded range ⇒ never skip
    entries.filter(_.strRange(colName).forall(r =>
      r.max.forall(_ >= lo) && r.min <= hi))

  /** The snapshot entries a STRING range (or point, `lo == hi`) query
    * on `colName` must read — the string twin of [[rangeCandidates]],
    * fed by the truncated [[StrRange]] stats recorded at write time.
    * What makes tables keyed by doc-id / URL / language prune at the
    * manifest level instead of paying a full scan (or full bloom vote)
    * per lookup. */
  def strRangeCandidates(snap: Snapshot, colName: String,
                         lo: String, hi: String): Seq[FileEntry] =
    strPrune(snap.entries, colName, lo, hi)

  /** Copy-on-write MERGE (upsert by key): every current row whose key
    * appears in `updates` is replaced by the update row, and update rows
    * with unseen keys are appended — Delta/Iceberg `MERGE WHEN MATCHED
    * UPDATE / WHEN NOT MATCHED INSERT`, on plain parquet.
    *
    * The scale contract is that IO is proportional to TOUCHED FILES, not
    * table size:
    *  1. candidate files are pre-pruned at the MANIFEST level when a key
    *     column carries recorded ranges (one job over `updates`' keys
    *     bounds the key space; files whose range misses it are untouched
    *     by definition and never opened);
    *  2. candidates are scanned key-columns-only (column pruning) with
    *     file provenance, and a semi-join against the update keys yields
    *     the touched-file list;
    *  3. only touched files are rewritten (survivors anti-joined on key,
    *     update rows appended); untouched entries carry over in the new
    *     manifest VERBATIM — stats included, zero data IO.
    *
    * `updates` must be KEY-UNIQUE: with duplicate keys every duplicate
    * row would be appended (the matched current row is removed once),
    * silently corrupting a primary-key table — the same situation where
    * Delta/Iceberg MERGE raises "multiple source rows matched". Checked
    * here by default, by the job that bounds the keys; callers that
    * have already de-duplicated (e.g. a compacted CDC batch) can skip
    * the check with `checkUniqueKeys = false` (and the job, when no key
    * column has recorded ranges).
    *
    * Rows with a null key never match an equi-join: a null-keyed current
    * row is always retained, a null-keyed update row always inserts.
    * Re-merging identical updates is content-idempotent (matched keys are
    * replaced with identical rows). The previous snapshot's streaming
    * identity carries forward, as in [[write]]. */
  def merge(updates: DataFrame, table: String, keyCols: Seq[String],
            statsCol: Option[String] = None,
            partitionBy: Seq[String] = Nil,
            checkUniqueKeys: Boolean = true,
            recordChangeFeed: Boolean = false): Long = {
    require(keyCols.nonEmpty, "merge needs at least one key column")
    val spark = updates.sparkSession
    requireCommitScheme(table, fsFor(spark, table)._1)
    val (fs, p) = fsFor(spark, table)
    val prev = currentVersion(spark, table)
    // The update set feeds several jobs (key summary, touched-file
    // semi-join, survivor anti-join + staging union) — the statement
    // persists a PRIVATE projection for the merge's duration so an
    // expensive upstream (a CDC read, a dedup) computes once.
    val stmt = new MergeClauses.Statement(updates)
    try {
      // one job over the update keys, run when something reads it: the
      // duplicate verdict and the key bounds candidate pruning reads
      lazy val summary = MergeClauses.summarize(stmt, keyCols)
      if (checkUniqueKeys)
        require(summary.duplicate.isEmpty,
          s"merge updates contain duplicate keys (e.g. " +
            s"${summary.duplicate.fold("")(_.mkString("[", ", ", "]"))})" +
            " — an upsert " +
            "with duplicate source keys appends every duplicate and " +
            "corrupts the table. De-duplicate the update set (keep the " +
            "newest row per key) or pass checkUniqueKeys = false if " +
            "already compacted.")
      if (prev.isEmpty)
        write(stmt.cached, table, append = false, partitionBy = partitionBy,
          statsCol = statsCol)
      else
        mergeCommitted(stmt.cached, k => summary.bounds(k), table, keyCols,
          statsCol, partitionBy, spark, fs, p, prev, recordChangeFeed)
    } finally stmt.release()
  }

  /** Manifest-stats candidate pruning for a keyed rewrite: each
    * stats-covered key column's `[min, max]` over the update set
    * (`bound`, rendered as `min(c).cast("string")` renders it; None when
    * every key is null) bounds the key space, and files whose recorded
    * range (numeric OR truncated-string) misses the bound are untouched
    * by definition. Shared by [[merge]] and [[mergeApply]]. */
  private def mergeCandidates(snap: Snapshot, keyCols: Seq[String],
      bound: String => Option[(String, String)]): Seq[FileEntry] = {
    val statKeys = keyCols.filter(k => snap.entries.exists(e =>
      e.range(k).nonEmpty || e.strRange(k).nonEmpty))
    statKeys.foldLeft(snap.entries) { (entries, k) =>
      bound(k) match {
        case None => Seq.empty // no non-null update keys: nothing matches
        case Some((lo, hi)) =>
          scala.util.Try((BigDecimal(lo), BigDecimal(hi))).toOption match {
            // non-numeric rendering: a STRING key column prunes on its
            // truncated string stats (cast-to-string is the identity for
            // a string column; other non-numeric types simply recorded
            // no string range and prune nothing)
            case None => strPrune(entries, k, lo, hi)
            case Some((bLo, bHi)) =>
              rangeCandidates(Snapshot(snap.version, entries, None, None),
                k, bLo, bHi)
          }
      }
    }
  }

  /** [[merge]] into an existing table; `bound` is the key bounds of
    * `updates` ([[MergeClauses.SourceSummary.bounds]]). */
  private def mergeCommitted(updates: DataFrame,
                             bound: String => Option[(String, String)],
                             table: String,
                             keyCols: Seq[String], statsCol: Option[String],
                             partitionBy: Seq[String],
                             spark: SparkSession, fs: FileSystem, p: Path,
                             prev: Option[Long],
                             recordChangeFeed: Boolean = false): Long = {
    import org.apache.spark.sql.functions.col
    val snap = snapshot(spark, table, prev)
    // (1) manifest-stats candidate pruning on any range-covered key column
    val candidates = mergeCandidates(snap, keyCols, bound)
    // (2) touched-file detection: key-columns-only scan of the candidates
    val updKeys = updates.select(keyCols.map(col): _*)
    // provenance scan: DV-filtered, so a key whose only occurrences are
    // deletion-vectored does not drag its file into the rewrite
    val touchedNames: Set[String] =
      if (candidates.isEmpty) Set.empty
      else provenanceScan(spark, table, snap, candidates)
        .select((keyCols.map(col) :+ col("__g_file")): _*)
        .join(updKeys, keyCols, "left_semi")
        .select("__g_file").distinct()
        .collect().map(_.getString(0)).toSet
    val touched = candidates.filter(e =>
      touchedNames(e.path.split('/').last))
    val untouched = snap.entries.filterNot(e =>
      touched.exists(_.path == e.path))
    // (3) rewrite touched files only: survivors + all update rows.
    // The update set may WIDEN the schema (new columns) — survivors and
    // untouched files alike serve the added columns as null, survivors
    // via the typed null literals here, untouched files via the commit's
    // recorded schema at read time. Retyping/dropping raises the named
    // SchemaEvolutionException inside evolvedSchema.
    val baseSchema = snap.schema.getOrElse(
      readSnapshotFiles(spark, table, snap, snap.files.take(1)).schema)
    val mergedSchema =
      evolvedSchema(Some(baseSchema), updates.schema, table, "merge")
    val baseNames = baseSchema.fieldNames.toSet
    def align(df: DataFrame, has: String => Boolean): DataFrame =
      df.select(mergedSchema.fields.toSeq.map(f =>
        if (has(f.name)) col(f.name)
        else org.apache.spark.sql.functions.lit(null)
          .cast(f.dataType).as(f.name)): _*)
    val updatesAligned = align(updates, _ => true)
    val survivors =
      if (touched.isEmpty)
        updatesAligned.filter(org.apache.spark.sql.functions.lit(false))
      else align(
        readSnapshotFiles(spark, table, snap, touched.map(_.path))
          .join(updKeys, keyCols, "left_anti"), baseNames)
    val next = prev.get + 1
    // Rewritten files must preserve the table's existing layout, or the
    // commit corrupts it: a partition-pathed table rewritten to root-level
    // files mixes leaf depths (partition discovery fails on read), and a
    // stats-carrying table rewritten without ranges silently stops
    // pruning. Both are inferred from the snapshot when not given.
    val moved = stageDataFiles(survivors.unionByName(updatesAligned), fs, p,
      next,
      if (partitionBy.nonEmpty) partitionBy else partitionColsOf(snap),
      (statsCol.toSeq ++ snapStatsCols(snap)).distinct)
    // Constraints validate what LANDED (survivors re-pass trivially;
    // the cost is bounded by the rewritten files) — a pre-staging pass
    // over a non-deterministic update set could approve rows the
    // staging re-execution then changes. See [[validateStagedChecks]].
    validateStagedChecks(spark, fs, p, moved, snap.checks, table, "merge")
    // recorded CDC: the merge's OPERATION log — a delete of every
    // matched row's old image plus an insert of every update row
    // (Delta CDF semantics: recorded per operation, even when an update
    // happens to rewrite identical content; the on-demand diff in
    // [[changeFeed]] instead reports the NET row difference)
    val changeFiles =
      if (!recordChangeFeed) Nil
      else {
        val oldImages =
          if (touched.isEmpty)
            updatesAligned.filter(org.apache.spark.sql.functions.lit(false))
          else align(
            readSnapshotFiles(spark, table, snap, touched.map(_.path))
              .join(updKeys, keyCols, "left_semi"), baseNames)
        stageChangeFiles(
          oldImages.withColumn("_change_type",
              org.apache.spark.sql.functions.lit("delete"))
            .unionByName(updatesAligned.withColumn("_change_type",
              org.apache.spark.sql.functions.lit("insert"))),
          fs, p, next)
      }
    // rewritten files keep the table's bloom coverage (like its stats),
    // sized by the PERSISTED per-file row estimate — a hardcoded size
    // would saturate the filters of a large-file table and silently
    // kill pruning
    stageBloomSidecars(spark, fs, p, moved.map(FileEntry.parse),
      snap.bloomCols, snap.bloomExpectedRows)
    // disjoint-writer retry: safe iff no concurrent commit rewrote a
    // candidate file or added one the update-key stats cannot prune
    commitRewriteWithRetry(spark, fs, p, table, "merge", snap,
      readPaths = candidates.map(_.path).toSet,
      wouldRead = newEntries => mergeCandidates(
        Snapshot(snap.version, newEntries, schema = Some(baseSchema)),
        keyCols, bound),
      stagedAdds0 = moved, annotatedAdds0 = Nil,
      removes = touched.map(_.path), changeFiles0 = changeFiles,
      schema = Some(mergedSchema))
  }

  /** Prefix under which [[mergeApply]]'s joined row exposes SOURCE
    * columns to clause conditions and assignment values; target columns
    * keep their own names. */
  val MergeSrcPrefix = "__src_"

  /** Session conf: the recorded-size ceiling under which an UNSCOPED
    * `WHEN NOT MATCHED BY SOURCE` MERGE runs the standard (Delta)
    * whole-table semantics without `fullTableMerge` — the manifest's
    * own byte stats prove the O(table) pass cheap. `0` disables the
    * automatic path (every unscoped NMBS then needs the explicit
    * opt-in). */
  val NmbsSmallTableBytesConf = "spark.graft.lake.nmbs.smallTableBytes"

  /** Is `snap` provably small per [[NmbsSmallTableBytesConf]]? Every
    * entry must RECORD its size (an unknown could hide anything —
    * conservatively large) and the recorded total must fit
    * ([[MergeClauses.nmbsSmallTable]], shared with both interops). */
  private def nmbsSmallTable(spark: SparkSession, snap: Snapshot): Boolean =
    MergeClauses.nmbsSmallTable(spark,
      if (snap.entries.forall(_.bytes.isDefined))
        Some(snap.entries.flatMap(_.bytes).sum)
      else None)

  /** The source column `name` as seen by a [[mergeApply]] clause. */
  def mergeSrcCol(name: String): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.col(MergeSrcPrefix + name)

  /** One `WHEN MATCHED` clause of a generalized MERGE. */
  sealed trait MergeMatched { def condition: Option[org.apache.spark.sql.Column] }
  /** `WHEN MATCHED [AND cond] THEN UPDATE SET ...` — `assignments =
    * None` is `SET *` (every target column the source carries is
    * replaced by the source's value; columns the source lacks keep
    * their current value). */
  final case class MergeUpdate(
      condition: Option[org.apache.spark.sql.Column] = None,
      assignments: Option[Seq[(String, org.apache.spark.sql.Column)]] = None)
    extends MergeMatched
  /** `WHEN MATCHED [AND cond] THEN DELETE`. */
  final case class MergeDelete(
      condition: Option[org.apache.spark.sql.Column] = None)
    extends MergeMatched
  /** One `WHEN NOT MATCHED [AND cond] THEN INSERT` clause —
    * `assignments = None` is `INSERT *` (target columns the source
    * lacks become null; extra source columns are ignored). */
  final case class MergeInsert(
      condition: Option[org.apache.spark.sql.Column] = None,
      assignments: Option[Seq[(String, org.apache.spark.sql.Column)]] = None)

  /** Generalized MERGE — the full Delta clause surface on [[merge]]'s
    * copy-on-write cost model:
    * {{{
    *   WHEN MATCHED [AND c] THEN UPDATE SET x = e, ... | UPDATE SET * | DELETE
    *   WHEN NOT MATCHED [AND c] THEN INSERT (x, ...) VALUES (e, ...) | INSERT *
    *   WHEN NOT MATCHED BY SOURCE [AND c] THEN UPDATE SET x = e, ... | DELETE
    * }}}
    * Clause conditions and values are Columns over the JOINED row:
    * target columns under their own names, source columns under
    * [[MergeSrcPrefix]] ([[mergeSrcCol]]). Clauses apply
    * FIRST-MATCH-WINS in declaration order (the SQL contract; a NULL
    * condition is not a match); a matched row no clause fires on
    * carries over unchanged, a source row no insert clause fires on is
    * dropped. MERGE never changes the schema here (widening belongs to
    * [[merge]]'s update-all path or an explicit ALTER). The source must
    * be KEY-UNIQUE, exactly as [[merge]] — and IO stays ∝ touched
    * files: candidates prune on recorded key stats, only files holding
    * a matched key are rewritten, untouched entries carry over
    * verbatim. Content-idempotent whenever the clauses are (conditions
    * and values over SOURCE columns re-apply to the same state).
    * `recordChangeFeed` stages delete/insert CDC images of exactly the
    * rows a clause touched. A MERGE that matches no file, inserts
    * nothing and tombstones nothing commits nothing and returns the
    * current version.
    *
    * Cost: [[MergeClauses]]' three passes over the persisted source —
    * one job over its keys (duplicate verdict and the key bounds the
    * candidates prune by), one probe of the candidates' key columns
    * (the touched files and their matched keys), and one rewrite join
    * whose computed rows feed the data write and the change-feed
    * write. On a 20,000-row, 4-file table and a 200-row change batch
    * that is 7 Spark jobs (`MergeJobsSpec`).
    *
    * `WHEN NOT MATCHED BY SOURCE` — the full-sync CDC idiom (mirror a
    * source, deleting/altering target rows the source no longer has) —
    * fires on target rows WITHOUT a source-key match. Any target row
    * might lack one, so an unscoped clause is O(table); the cost
    * contract survives by requiring ONE of:
    *  - `scope`: a target-row predicate (SQL derives it from extra ON
    *    conjuncts, e.g. `ON t.k = s.k AND t.ds = '2026-08-13'`) that
    *    bounds where the sync applies — candidate files prune on the
    *    predicate's stats bounds exactly like DELETE's, target rows
    *    outside it are untouched (and also not ordinarily MATCHED: the
    *    scope rides the join condition, per SQL ON semantics).
    *    SEMANTIC DEVIATION, deliberate and worth reading twice: under
    *    standard SQL/Delta semantics an ON conjunct like
    *    `t.ds = '2026-08-13'` makes every OTHER day's row "not matched
    *    by source" — an unscoped NMBS DELETE would wipe the rest of
    *    the table, which is almost never what the author meant and is
    *    O(table) in cost. Here the same conjunct is read as the SYNC
    *    BOUNDARY instead: out-of-scope rows are carried untouched. A
    *    user porting a Delta MERGE that RELIES on the wipe-the-rest
    *    reading must use `fullTableMerge = true` with no scope — that
    *    form keeps the standard semantics;
    *  - `fullTableMerge = true`: the explicit whole-table opt-in;
    *  - or the target is provably SMALL: when every manifest entry
    *    records its size and the total is at most
    *    [[NmbsSmallTableBytesConf]] (default 1 GiB), an unscoped NMBS
    *    MERGE runs the standard whole-table semantics WITHOUT the flag
    *    — a Delta-verbatim MERGE just works on the tables where
    *    O(table) is cheap, and the named error guards only the
    *    genuinely dangerous case (large table, no scope, no opt-in).
    * Either way the WRITE stays O(affected rows), not O(table): rows in
    * already-rewritten (matched-key) files apply their clause inline;
    * rows in any other in-scope file are tombstoned MERGE-ON-READ — the
    * file gains a deletion-vector block, UPDATE post-images append as
    * new files, and NO additional file is rewritten. NMBS UPDATE
    * clauses need explicit assignments (there is no source row to
    * `SET *` from), and conditions/values may reference target columns
    * only. */
  def mergeApply(source: DataFrame, table: String, keyCols: Seq[String],
                 matched: Seq[MergeMatched],
                 notMatched: Seq[MergeInsert] = Nil,
                 notMatchedBySource: Seq[MergeMatched] = Nil,
                 scope: Option[org.apache.spark.sql.Column] = None,
                 fullTableMerge: Boolean = false,
                 recordChangeFeed: Boolean = false): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    MergeClauses.requireValid(keyCols, matched, notMatched,
      notMatchedBySource)
    val spark = source.sparkSession
    requireCommitScheme(table, fsFor(spark, table)._1)
    val (fs, p) = fsFor(spark, table)
    val prev = currentVersion(spark, table).getOrElse(
      throw new IllegalStateException(
        s"mergeApply target $table has no committed version — create the " +
          "table (write) before merging into it"))
    val snap = snapshot(spark, table, Some(prev))
    // unscoped NMBS on a provably-SMALL target gets the standard
    // whole-table semantics for free: every entry's size is recorded
    // and the total fits the threshold, so O(table) is cheap by the
    // manifest's own evidence. Unknown sizes count as large.
    val effectiveFullTable = fullTableMerge ||
      (notMatchedBySource.nonEmpty && scope.isEmpty &&
        nmbsSmallTable(spark, snap))
    if (notMatchedBySource.nonEmpty)
      require(scope.nonEmpty || effectiveFullTable,
        "WHEN NOT MATCHED BY SOURCE fires on any target row without a " +
          "source match — unscoped, that is O(table). Either add " +
          "target-only conjuncts to the ON clause (a prune-able scope, " +
          "e.g. ON t.k = s.k AND t.ds = <partition>) or opt in to the " +
          "whole-table pass with fullTableMerge = true " +
          s"(SQL: SET ${LakeSql.FullTableMergeConf} = true). Tables " +
          s"whose recorded size fits $NmbsSmallTableBytesConf " +
          "run whole-table automatically.")
    val baseSchema = snap.schema.getOrElse(
      readSnapshotFiles(spark, table, snap, snap.files.take(1)).schema)
    require(baseSchema.fieldNames.forall(!_.startsWith(MergeSrcPrefix)),
      s"mergeApply target columns may not start with '$MergeSrcPrefix'")
    val srcNames = source.columns.toSeq
    def srcHas(n: String) = srcNames.exists(_.equalsIgnoreCase(n))
    keyCols.foreach(k => require(srcHas(k),
      s"mergeApply source lacks key column '$k'"))
    val stmt = new MergeClauses.Statement(source)
    try {
      // one job over the source keys: the duplicate verdict and the key
      // bounds candidate pruning reads
      val summary = MergeClauses.summarize(stmt, keyCols)
      require(summary.duplicate.isEmpty,
        s"mergeApply source contains duplicate keys (e.g. " +
          s"${summary.duplicate.fold("")(_.mkString("[", ", ", "]"))})" +
          " — SQL MERGE raises when multiple source rows match one " +
          "target row. De-duplicate the source first.")
      val candidates = mergeCandidates(snap, keyCols, summary.bounds)
      // provenance scan: DV-filtered, so a key whose only occurrences
      // are deletion-vectored does not drag its file into the rewrite
      val pr =
        if (candidates.isEmpty) MergeClauses.noProbe(stmt, keyCols)
        else MergeClauses.probe(stmt,
          provenanceScan(spark, table, snap, candidates)
            .select((keyCols.map(col) :+ col("__g_file")): _*),
          "__g_file", keyCols)
      val touchedNames = pr.files
      val touched = candidates.filter(e =>
        touchedNames(e.path.split('/').last))
      val currentRows =
        if (touched.isEmpty)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], baseSchema)
        else readSnapshotFiles(spark, table, snap, touched.map(_.path))
      // not-matched source rows: anti-join against the touched files'
      // matched keys — complete, because stats-sound candidates contain
      // every file that could hold a source key, and touched ⊆
      // candidates is exactly the subset that does
      val ap = MergeClauses(currentRows, stmt, keyCols, baseSchema,
        matched, notMatched, notMatchedBySource, scope, effectiveFullTable,
        pr, keep = recordChangeFeed)
      val next = prev + 1
      val moved = stageDataFiles(ap.written, fs, p,
        next, partitionColsOf(snap), snapStatsCols(snap))
      validateStagedChecks(spark, fs, p, moved, snap.checks, table, "merge")
      // NMBS over files NOT already being rewritten: tombstone
      // MERGE-ON-READ. Candidate files prune on the scope predicate's
      // stats bounds (whole table only under the explicit opt-in);
      // matchless in-scope rows that fire a clause become deletion-
      // vector pairs, and UPDATE post-images append as new files — the
      // write is O(affected rows), no extra file rewrites.
      val (nmbsVectored, nmbsRemoves, nmbsMoved, nmbsCdc, nmbsRead) =
        if (notMatchedBySource.isEmpty)
          (Seq.empty[FileEntry], Seq.empty[String], Seq.empty[String],
            Option.empty[DataFrame], Seq.empty[String])
        else {
          val scopeCand = (if (scope.isEmpty) snap.entries
            else predicateCandidates(snap, scope.get, None,
              sessionZone(spark)))
            .filterNot(e => touchedNames(e.path.split('/').last))
          if (scopeCand.isEmpty)
            (Seq.empty[FileEntry], Seq.empty[String], Seq.empty[String],
              Option.empty[DataFrame], Seq.empty[String])
          else {
            val nact0 = MergeClauses.actionIndex(notMatchedBySource)
            val rowScope = scope.map(c => coalesce(c, lit(false)))
              .getOrElse(lit(true))
            val firedRows = graft.core.TransientCache.persist(
              provenanceScan(spark, table, snap, scopeCand)
                .join(stmt.cached.select(keyCols.map(col): _*).distinct(),
                  keyCols.toSeq, "left_anti")
                .where(rowScope)
                .withColumn("__nact", nact0)
                .filter(col("__nact") >= 0))
            val counts = firedRows.groupBy("__g_file").count().collect()
              .map(r => r.getString(0) -> r.getLong(1)).toMap
            if (counts.isEmpty)
              (Seq.empty[FileEntry], Seq.empty[String], Seq.empty[String],
                Option.empty[DataFrame], scopeCand.map(_.path))
            else {
              val nmbsTouched = scopeCand.filter(e =>
                counts.contains(e.path.split('/').last))
              val vectored = stageDvSidecar(spark, fs, p, next,
                nmbsTouched,
                firedRows.select(col("__g_file").as("file_name"),
                  col("__g_ridx").as("row_index")))
              val updIdxs = notMatchedBySource.zipWithIndex.collect {
                case (_: MergeUpdate, i) => i }
              def nmbsPost(df: DataFrame) = df.select(
                baseSchema.fields.toSeq.map { f =>
                  notMatchedBySource.zipWithIndex
                    .foldRight(col(s"`${f.name}`")) {
                      case ((u: MergeUpdate, i), rest) =>
                        val v = u.assignments.get
                          .find(_._1.equalsIgnoreCase(f.name)).map(_._2)
                          .getOrElse(col(s"`${f.name}`"))
                        when(col("__nact") === i, v.cast(f.dataType))
                          .otherwise(rest)
                      case (_, rest) => rest
                    }.as(f.name)
                }: _*)
              val updRows =
                if (updIdxs.isEmpty) None
                else Some(firedRows.filter(col("__nact").isin(updIdxs: _*)))
              val postMoved = updRows.fold(Seq.empty[String]) { r =>
                val staged = stageDataFiles(nmbsPost(r), fs, p, next,
                  partitionColsOf(snap), snapStatsCols(snap))
                validateStagedChecks(spark, fs, p, staged, snap.checks,
                  table, "merge")
                staged
              }
              val cdc =
                if (!recordChangeFeed) None
                else {
                  val olds = firedRows.select(
                    baseSchema.fields.toSeq.map(f => col(s"`${f.name}`")): _*)
                    .withColumn("_change_type", lit("delete"))
                  Some(updRows.fold(olds)(r => olds.unionByName(
                    nmbsPost(r).withColumn("_change_type", lit("insert")))))
                }
              (vectored, nmbsTouched.map(_.path), postMoved, cdc,
                scopeCand.map(_.path))
            }
          }
        }
      // no matched file, no insert and no NMBS tombstone: nothing to
      // commit, the version stays (as a no-match delete's does)
      if (touched.isEmpty && moved.isEmpty && nmbsVectored.isEmpty &&
          nmbsMoved.isEmpty) return prev
      val changeFiles =
        if (!recordChangeFeed) Nil
        else {
          // exactly the rows a clause touched: old images of updated +
          // deleted rows, new images of updated results + inserts
          val cowCdc = ap.firedOld.withColumn("_change_type", lit("delete"))
            .unionByName(ap.updatedPost
              .withColumn("_change_type", lit("insert")))
            .unionByName(ap.inserts.withColumn("_change_type", lit("insert")))
          stageChangeFiles(nmbsCdc.fold(cowCdc)(cowCdc.unionByName(_)),
            fs, p, next)
        }
      stageBloomSidecars(spark, fs, p,
        (moved ++ nmbsMoved).map(FileEntry.parse),
        snap.bloomCols, snap.bloomExpectedRows)
      // disjoint-writer retry: this merge READ the key-candidate files
      // plus the NMBS scope candidates; a concurrent commit whose adds
      // the same pruning rules out (and whose removes miss that read
      // set) re-commits at the new head with zero redo
      commitRewriteWithRetry(spark, fs, p, table, "merge", snap,
        readPaths = (candidates.map(_.path) ++ nmbsRead).toSet,
        wouldRead = { newEntries =>
          val synth = Snapshot(snap.version, newEntries,
            schema = snap.schema.orElse(Some(baseSchema)))
          val keyHits = mergeCandidates(synth, keyCols, summary.bounds)
          val nmbsHits =
            if (notMatchedBySource.isEmpty) Nil
            else if (scope.isEmpty) newEntries // unscoped sync reads all
            else predicateCandidates(synth, scope.get, None,
              sessionZone(spark))
          (keyHits ++ nmbsHits).distinct
        },
        stagedAdds0 = moved ++ nmbsMoved,
        annotatedAdds0 = nmbsVectored.map(_.line),
        removes = touched.map(_.path) ++ nmbsRemoves,
        changeFiles0 = changeFiles,
        schema = snap.schema.orElse(Some(baseSchema)))
    } finally stmt.release()
  }

  /** The Hive partition columns of a snapshot's layout, in path order —
    * empty for unpartitioned tables. Validates uniformity while at it:
    * layout inference (merge/delete/compact rewrites, basePath partition
    * discovery) silently misbehaves on mixed-layout tables, so a table
    * whose entries disagree on the partition-key sequence fails fast
    * here with the offending paths named. */
  private def partitionColsOf(snap: Snapshot): Seq[String] = {
    def keysOf(path: String): Seq[String] =
      path.split('/').init.collect {
        case seg if seg.contains('=') => seg.split("=", 2)(0)
      }.toSeq
    snap.entries.headOption.fold(Seq.empty[String]) { first =>
      val keys = keysOf(first.path)
      snap.entries.find(e => keysOf(e.path) != keys).foreach(bad =>
        throw new IllegalStateException(
          s"mixed partition layouts in snapshot ${snap.version}: " +
            s"'${first.path}' is laid out by [${keys.mkString(", ")}] but " +
            s"'${bad.path}' disagrees — was an append committed with a " +
            "different partitionBy?"))
      keys
    }
  }

  /** Every column the snapshot records ranges for. */
  private def snapStatsCols(snap: Snapshot): Seq[String] =
    snap.entries.flatMap(_.ranges.map(_.col)).distinct

  /** Conservative per-column bounds implied by a predicate, for
    * manifest-stats candidate pruning: only conjuncts of simple
    * comparisons between a column and a numeric literal contribute
    * (`c < 5`, `5 <= c`, `c = 5`, chained with AND); anything else —
    * OR, functions, non-numeric literals — contributes NOTHING, which
    * is always safe because dropping a constraint only widens the
    * candidate set. A row matching the predicate satisfies every
    * conjunct, so a file whose recorded range misses any one bound
    * cannot hold a match. */
  /** Lower boolean/comparison CALLS that reach static analysis
    * unresolved into the concrete catalyst operators the bounds
    * analyzers match. The Column DSL (`$"id" === 5L && $"id" < 7L`)
    * lowers to NAMED function nodes (`=`, `<`, `and`) that only the
    * analyzer maps onto `EqualTo`/`LessThan`/`And` — without this,
    * every API-built DML predicate silently stopped pruning (the SQL
    * path parses straight to the concrete operators and never hit it).
    * Anything unrecognized stays put: the analyzers already treat
    * unknown shapes as unprunable, so this only ever WIDENS pruning. */
  private def lowerPredicateOps(
      e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
    import org.apache.spark.sql.catalyst.expressions._
    e.transformUp {
      case f: UnresolvedFunction
        if f.nameParts.length == 1 && f.arguments.length == 2 &&
          !f.isDistinct && f.filter.isEmpty =>
        val Seq(l, r) = f.arguments
        f.nameParts.head.toLowerCase(java.util.Locale.ROOT) match {
          case "=" | "==" => EqualTo(l, r)
          case "<" => LessThan(l, r)
          case "<=" => LessThanOrEqual(l, r)
          case ">" => GreaterThan(l, r)
          case ">=" => GreaterThanOrEqual(l, r)
          case "and" => And(l, r)
          case "or" => Or(l, r)
          case _ => f
        }
    }
  }

  private def predicateBounds(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Seq[(String, Option[BigDecimal], Option[BigDecimal])] = {
    import org.apache.spark.sql.catalyst.expressions._
    def colName(x: Expression): Option[String] = x match {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        Some(a.nameParts.last)
      case a: AttributeReference => Some(a.name)
      case _ => None
    }
    def litNum(x: Expression): Option[BigDecimal] = x match {
      case Literal(v, _) if v != null =>
        scala.util.Try(BigDecimal(v.toString)).toOption
      case _ => None
    }
    def cmp(l: Expression, r: Expression,
            mk: (String, BigDecimal) => (String, Option[BigDecimal], Option[BigDecimal]))
        : Seq[(String, Option[BigDecimal], Option[BigDecimal])] =
      (for { c <- colName(l); v <- litNum(r) } yield mk(c, v)).toSeq
    e match {
      case And(l, r) => predicateBounds(l) ++ predicateBounds(r)
      case LessThan(l, r) =>
        cmp(l, r, (c, v) => (c, None, Some(v))) ++
          cmp(r, l, (c, v) => (c, Some(v), None))
      case LessThanOrEqual(l, r) =>
        cmp(l, r, (c, v) => (c, None, Some(v))) ++
          cmp(r, l, (c, v) => (c, Some(v), None))
      case GreaterThan(l, r) =>
        cmp(l, r, (c, v) => (c, Some(v), None)) ++
          cmp(r, l, (c, v) => (c, None, Some(v)))
      case GreaterThanOrEqual(l, r) =>
        cmp(l, r, (c, v) => (c, Some(v), None)) ++
          cmp(r, l, (c, v) => (c, None, Some(v)))
      case EqualTo(l, r) =>
        cmp(l, r, (c, v) => (c, Some(v), Some(v))) ++
          cmp(r, l, (c, v) => (c, Some(v), Some(v)))
      case _ => Seq.empty
    }
  }

  /** Copy-on-write DELETE — remove every row matching `predicate`,
    * rewriting ONLY the files that hold one. Candidate files come from
    * the manifest two ways: bounds DERIVED from the predicate itself
    * (simple range conjuncts on recorded stats columns — the SQL
    * `DELETE FROM ... WHERE price < x` path prunes with no hint at
    * all), intersected with an optional caller-named `pruneRange` for
    * predicates too complex to analyze. Files whose recorded range
    * misses either are untouched by definition and never opened — the
    * same skipping [[readRange]] does, applied to DML. Candidates are
    * scanned
    * with file provenance to find files actually containing a match;
    * the rest of the manifest carries over VERBATIM. The predicate
    * itself is still applied exactly to the survivors, so `pruneRange`
    * only needs to be an OVER-approximation of where matches can live
    * (a wrong under-approximation cannot happen: files outside it are
    * kept whole, which is only correct if no match lives there — hence
    * the contract: pruneRange MUST cover the predicate's support on the
    * stats column, exactly like a range predicate's own bounds).
    * `verifyPrune = true` turns the trust-the-caller contract into a
    * checked one: the pruned-out complement is scanned (predicate
    * columns only) and the delete ABORTS before committing if any
    * pruned file holds a matching row — the debug mode that catches an
    * under-covering range during development instead of silently
    * half-deleting in production. */
  def delete(spark: SparkSession, table: String,
             predicate: org.apache.spark.sql.Column,
             pruneRange: Option[(String, Double, Double)] = None,
             partitionBy: Seq[String] = Nil,
             verifyPrune: Boolean = false,
             recordChangeFeed: Boolean = false): Long = {
    requireCommitScheme(table, fsFor(spark, table)._1)
    val (fs, p) = fsFor(spark, table)
    val prev = currentVersion(spark, table)
    val snap = snapshot(spark, table, prev)
    val (candidates, touched) = predicateCandTouched(spark, table, snap,
      predicate, pruneRange, verifyPrune)
    if (touched.isEmpty) return snap.version // nothing matches: no-op
    // SQL DELETE semantics: a row is removed only when the predicate is
    // TRUE. `filter(!predicate)` alone would also drop NULL-evaluating
    // rows (!NULL is NULL, which filter discards) — and inconsistently,
    // since the same row in an untouched file survives. coalesce keeps
    // them.
    val survivors = readSnapshotFiles(spark, table, snap,
      touched.map(_.path))
      .filter(org.apache.spark.sql.functions.coalesce(!predicate,
        org.apache.spark.sql.functions.lit(true)))
    val next = snap.version + 1
    val moved = stageDataFiles(survivors, fs, p, next,
      if (partitionBy.nonEmpty) partitionBy else partitionColsOf(snap),
      snapStatsCols(snap))
    // recorded CDC: exactly the rows the predicate removed
    val changeFiles =
      if (!recordChangeFeed) Nil
      else stageChangeFiles(
        readSnapshotFiles(spark, table, snap, touched.map(_.path))
          .filter(predicate)
          .withColumn("_change_type",
            org.apache.spark.sql.functions.lit("delete")),
        fs, p, next)
    // a delete never changes the schema: carry the snapshot's forward,
    // and re-bloom the rewritten files (persisted sizing) so pruning
    // never decays
    stageBloomSidecars(spark, fs, p, moved.map(FileEntry.parse),
      snap.bloomCols, snap.bloomExpectedRows)
    // disjoint-writer retry: safe iff no concurrent commit rewrote a
    // candidate file or added one the predicate's stats cannot prune
    commitRewriteWithRetry(spark, fs, p, table, "delete", snap,
      readPaths = candidates.map(_.path).toSet,
      wouldRead = newEntries => predicateCandidates(
        Snapshot(snap.version, newEntries, schema = snap.schema),
        predicate, pruneRange, sessionZone(spark)),
      stagedAdds0 = moved, annotatedAdds0 = Nil,
      removes = touched.map(_.path), changeFiles0 = changeFiles,
      schema = snap.schema)
  }

  /** MERGE-ON-READ delete — the write-amplification answer for small
    * deletes on big files: instead of rewriting every file holding a
    * match ([[delete]]'s copy-on-write), record the matched rows'
    * `(file_name, row_index)` pairs as a DELETION VECTOR sidecar under
    * `_dv/` and re-commit the touched entries with a `dv=` annotation;
    * the data files are NEVER rewritten — a one-row delete on a 1 GB
    * file costs one tiny sidecar write instead of a 1 GB rewrite, which
    * at 100 TB is the difference between interactive and hopeless.
    * Reads apply each file's vector INSIDE the task scanning it (the
    * [[RowLive]] predicate seeks the file's own sidecar block — no join,
    * no broadcast); COUNT(*) stays metadata-only via the recorded
    * `dvrows=`; compaction and any later copy-on-write DML over the
    * file MATERIALIZE the vector (their reads are DV-aware, their
    * outputs carry no `dv=`). Vectors are CUMULATIVE: a second MOR
    * delete on the same file unions the old pairs into its new block,
    * so one token fully describes a file. Same pruning, NULL-predicate
    * and no-op semantics as [[delete]]; same rewrite-vs-append conflict
    * rules (a lost commit race raises — the read set is the snapshot).
    * Scales to BULK deletes too: pair encoding is distributed across
    * executors ([[DeletionVectors.writePartition]]) and the driver
    * only sees O(touched files) block metadata — though a delete
    * removing most of a table is still cheaper copy-on-write, which
    * the live-ratio compaction policy converges toward anyway.
    * Background: Delta deletion vectors / Iceberg v2 position deletes
    * (public docs); reference keeps no table format at all
    * (`README.md:1`). */
  def deleteMor(spark: SparkSession, table: String,
                predicate: org.apache.spark.sql.Column,
                pruneRange: Option[(String, Double, Double)] = None,
                verifyPrune: Boolean = false,
                recordChangeFeed: Boolean = false): Long = {
    import org.apache.spark.sql.functions.{col, lit}
    requireCommitScheme(table, fsFor(spark, table)._1)
    val (fs, p) = fsFor(spark, table)
    val prev = currentVersion(spark, table)
    val snap = snapshot(spark, table, prev)
    // ONE provenance scan over the stats/partition-pruned candidates
    // finds the matched pairs AND the touched files (CoW DML needs the
    // touched set before its survivor re-read; MOR's sidecar IS the
    // pair set, so a second pass would be pure waste). DV-filtered, so
    // already-deleted rows never re-enter a vector; TRUE-only predicate
    // rows, matching SQL DELETE (NULL keeps the row).
    val candidates = predicateCandidates(snap, predicate, pruneRange,
      sessionZone(spark))
    if (candidates.isEmpty) return snap.version
    if (verifyPrune)
      verifyPruneCovers(spark, table, snap, candidates, predicate, pruneRange)
    val next = snap.version + 1
    val matched = graft.core.TransientCache.persist(
      provenanceScan(spark, table, snap, candidates).filter(predicate))
    // per-file NEW pair counts: the touched set, and (merged with the
    // existing dvrows=) the metadata that keeps fastCount exact
    val newCounts = matched.groupBy("__g_file").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    if (newCounts.isEmpty) return snap.version // nothing matches: no-op
    val touched = candidates.filter(e =>
      newCounts.contains(e.path.split('/').last))
    val rewritten = stageDvSidecar(spark, fs, p, next, touched,
      matched.select(col("__g_file").as("file_name"),
        col("__g_ridx").as("row_index")))
    val changeFiles =
      if (!recordChangeFeed) Nil
      else stageChangeFiles(
        matched.drop("__g_file", "__g_ridx")
          .withColumn("_change_type", lit("delete")),
        fs, p, next)
    // disjoint-writer retry: the MOR delete read the candidate files;
    // its vector pairs stay valid as long as none were rewritten and no
    // unprunable file landed concurrently
    commitRewriteWithRetry(spark, fs, p, table, "deleteMor", snap,
      readPaths = candidates.map(_.path).toSet,
      wouldRead = newEntries => predicateCandidates(
        Snapshot(snap.version, newEntries, schema = snap.schema),
        predicate, pruneRange, sessionZone(spark)),
      stagedAdds0 = Nil, annotatedAdds0 = rewritten.map(_.line),
      removes = touched.map(_.path), changeFiles0 = changeFiles,
      schema = snap.schema)
  }

  /** The snapshot files a row-predicate DML (DELETE / UPDATE) must
    * rewrite: manifest-stats candidates — bounds DERIVED from the
    * predicate's simple range conjuncts, intersected with the caller's
    * optional `pruneRange` over-approximation — narrowed to the files
    * actually HOLDING a predicate-TRUE row by a provenance scan of the
    * candidates. `verifyPrune` additionally scans the pruned-out
    * complement and aborts if a match lives there: an under-covering
    * caller range would otherwise silently exempt those rows from the
    * DML (retained by a delete, unmodified by an update). */
  /** [[predicateBounds]]'s STRING twin: per-column bounds implied by
    * simple comparisons against string literals, pruning on the
    * truncated [[StrRange]] stats — `DELETE FROM t WHERE doc_id =
    * 'x'` rewrites only the files whose recorded range admits 'x'.
    * Same conservative contract: anything unanalyzable contributes
    * nothing. */
  private def predicateStrBounds(
      e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Seq[(String, Option[String], Option[String])] = {
    import org.apache.spark.sql.catalyst.expressions._
    def colName(x: Expression): Option[String] = x match {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        Some(a.nameParts.last)
      case a: AttributeReference => Some(a.name)
      case _ => None
    }
    def litStr(x: Expression): Option[String] = x match {
      case Literal(v, _: org.apache.spark.sql.types.StringType)
        if v != null => Some(v.toString)
      case _ => None
    }
    def cmp(l: Expression, r: Expression,
            mk: (String, String) => (String, Option[String], Option[String]))
        : Seq[(String, Option[String], Option[String])] =
      (for { c <- colName(l); v <- litStr(r) } yield mk(c, v)).toSeq
    e match {
      case And(l, r) => predicateStrBounds(l) ++ predicateStrBounds(r)
      case LessThan(l, r) =>
        cmp(l, r, (c, v) => (c, None, Some(v))) ++
          cmp(r, l, (c, v) => (c, Some(v), None))
      case LessThanOrEqual(l, r) =>
        cmp(l, r, (c, v) => (c, None, Some(v))) ++
          cmp(r, l, (c, v) => (c, Some(v), None))
      case GreaterThan(l, r) =>
        cmp(l, r, (c, v) => (c, Some(v), None)) ++
          cmp(r, l, (c, v) => (c, None, Some(v)))
      case GreaterThanOrEqual(l, r) =>
        cmp(l, r, (c, v) => (c, Some(v), None)) ++
          cmp(r, l, (c, v) => (c, None, Some(v)))
      case EqualTo(l, r) =>
        cmp(l, r, (c, v) => (c, Some(v), Some(v))) ++
          cmp(r, l, (c, v) => (c, Some(v), Some(v)))
      case _ => Seq.empty
    }
  }

  /** Prune `entries` whose Hive partition-path value for `colName`
    * provably falls outside `[lo, hi]` (either bound optional).
    * Partition columns live in PATHS, not file stats — without this a
    * `DELETE WHERE date = X` on a date-partitioned 100 TB table
    * provenance-scans every file. TYPE-GATED on the recorded schema:
    * numeric bounds apply only to numeric-typed columns (a string
    * column's "05" and a numeric bound 5 must not meet), string bounds
    * only to StringType columns with ASCII value AND bounds (where
    * path byte order and JVM string order provably agree — the
    * [[StrRange]] argument); an unknown column type keeps everything.
    * Also conservative on: a missing partition key, an escape-encoded
    * segment (`%` — Hive path escaping makes raw comparison unsound in
    * BOTH directions), and unparseable numerics. Pruning the null
    * partition on a bounded column is sound: DML predicates gate on
    * TRUE, and NULL compares to nothing. */
  private[sources] def partitionPrune(entries: Seq[FileEntry],
      colName: String, dataType: Option[DataType],
      lo: Option[BigDecimal], hi: Option[BigDecimal],
      strLo: Option[String], strHi: Option[String]): Seq[FileEntry] = {
    val numericCol = dataType.exists(
      _.isInstanceOf[org.apache.spark.sql.types.NumericType])
    val stringCol = dataType.exists(
      _.isInstanceOf[org.apache.spark.sql.types.StringType])
    entries.filter { e =>
      partitionValues(e.path).get(colName) match {
        case None => true
        case Some(v) if v.contains('%') => true
        // the null partition: a bound on this column came from a
        // TRUE-gated comparison, and NULL compares to nothing — rows
        // here can never match the DML predicate
        case Some("__HIVE_DEFAULT_PARTITION__") =>
          lo.isEmpty && hi.isEmpty && strLo.isEmpty && strHi.isEmpty
        case Some(v) =>
          val numOk = !numericCol ||
            (scala.util.Try(BigDecimal(v)).toOption match {
              case None => true
              case Some(bv) => lo.forall(bv >= _) && hi.forall(bv <= _)
            })
          val strOk = !stringCol || !asciiOnly(v) ||
            (strLo.forall(l => !asciiOnly(l) || v >= l) &&
              strHi.forall(h => !asciiOnly(h) || v <= h))
          numOk && strOk
      }
    }
  }

  /** The scan-free candidate set for a row-predicate DML: stats +
    * string-stats + partition-path pruning from the predicate's simple
    * conjuncts (intersected with the caller's optional over-
    * approximating `pruneRange`). No data IO — narrowing to the files
    * actually HOLDING a match is the caller's one provenance scan. */
  private def predicateCandidates(snap: Snapshot,
      predicate: org.apache.spark.sql.Column,
      pruneRange: Option[(String, Double, Double)],
      zone: java.time.ZoneId): Seq[FileEntry] = {
    val explicit = pruneRange.fold(snap.entries) { case (c, lo, hi) =>
      rangeCandidates(snap, c, BigDecimal(lo), BigDecimal(hi))
    }
    val predExpr = lowerPredicateOps(
      org.apache.spark.sql.graftbridge.ColumnBridge
        .loweredExpression(predicate))
    val numBounds = predicateBounds(predExpr)
    val strBounds = predicateStrBounds(predExpr)
    val numPruned = numBounds
      .foldLeft(explicit) { case (entries, (c, lo, hi)) =>
        entries.filter(_.range(c).forall(r =>
          lo.forall(r.max >= _) && hi.forall(r.min <= _)))
      }
    val statPruned = strBounds
      .foldLeft(numPruned) { case (entries, (c, lo, hi)) =>
        entries.filter(_.strRange(c).forall(r =>
          lo.forall(l => r.max.forall(_ >= l)) && hi.forall(r.min <= _)))
      }
    // partition-column bounds prune on the PATH values (partition
    // columns never appear in file stats — they aren't in the files);
    // bound application is TYPE-GATED on the recorded schema
    val partCols = partitionColsOf(snap).toSet
    def typeOf(c: String): Option[DataType] =
      snap.schema.flatMap(_.fields.find(_.name.equalsIgnoreCase(c))
        .map(_.dataType))
    val pathPruned = (numBounds.map(b => (b._1, b._2, b._3,
        None: Option[String], None: Option[String])) ++
      strBounds.map(b => (b._1, None: Option[BigDecimal],
        None: Option[BigDecimal], b._2, b._3)))
      .filter(b => partCols(b._1))
      .foldLeft(statPruned) { case (entries, (c, lo, hi, slo, shi)) =>
        partitionPrune(entries, c, typeOf(c), lo, hi, slo, shi)
      }
    // GENERATION-derived day pruning: a TIMESTAMP bound on a column the
    // table records a day generation for prunes the derived partition
    // even though the predicate never names it — the retention-delete
    // idiom (`DELETE WHERE ts < cutoff` on a time-partitioned table)
    // touches only expired days' files. Day strings sort like the days
    // they name, so a half-open bound prunes as a string interval;
    // bounds come from typed TimestampType literals ONLY (a bare
    // numeric literal compares under a seconds cast, not micros — the
    // generic numeric path must never reinterpret it)
    val tsBounds = predicateTsBounds(predExpr)
    val genPruned = snap.checks.collect {
      case (_, TimeGenRe(day, ts, pat, recZone))
        if TimeGranularity.ofPattern(pat).isDefined =>
        (day, ts, TimeGranularity.ofPattern(pat).get, Option(recZone))
    }.foldLeft(pathPruned) { case (entries, (day, ts, gran, recZone)) =>
        val relevant = tsBounds.filter(_._1.equalsIgnoreCase(ts))
        // a predicate actually bounding the generated column must run
        // in the recorded zone — refusing by name beats mispruning
        if (relevant.nonEmpty)
          requireGenZone(zone, "(DML target)", day, recZone)
        relevant
          .foldLeft(entries) { case (es, (_, lo, hi)) =>
            // SESSION zone (the caller's) — must match date_format's
            // evaluation zone or period pruning silently loses rows.
            // Truncating each bound to its period start is conservative
            // on BOTH ends: period strings sort like the periods they
            // name, and the boundary period is always kept.
            def d(us: Long) = gran.fmt.format(gran.truncate(
              java.time.Instant.ofEpochSecond(
                Math.floorDiv(us, 1000000L)).atZone(zone)))
            partitionPrune(es, day,
              Some(org.apache.spark.sql.types.StringType),
              None, None, lo.map(d), hi.map(d))
          }
      }
    bucketPrune(snap, genPruned, predicateEqPoints(predExpr))
  }

  /** Top-level AND-conjunct equality points `col = literal` (both
    * orientations) with the literal's ORIGINAL type preserved —
    * [[bucketPrune]]'s probe source. Kept separate from
    * [[predicateBounds]], whose BigDecimal normalization erases the
    * type information bucket hashing is sensitive to (a bigint probed
    * by a string or double literal compares under DOUBLE coercion —
    * hashing the stringified number would prune the wrong bucket). */
  private[sources] def predicateEqPoints(
      e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Seq[(String, org.apache.spark.sql.catalyst.expressions.Literal)] = {
    import org.apache.spark.sql.catalyst.expressions._
    def colName(x: Expression): Option[String] = x match {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        Some(a.nameParts.last)
      case a: AttributeReference => Some(a.name)
      case _ => None
    }
    def collect(x: Expression): Seq[(String, Literal)] = x match {
      case And(l, r) => collect(l) ++ collect(r)
      case EqualTo(a, l: Literal) => colName(a).map(_ -> l).toSeq
      case EqualTo(l: Literal, a) => colName(a).map(_ -> l).toSeq
      case _ => Nil
    }
    collect(e)
  }

  /** GENERATION-derived BUCKET pruning for an EQUALITY point on a
    * bucket-partitioned table's key — `DELETE FROM t WHERE user_id = X`
    * (or a keyed MERGE's candidate walk) touches 1/N of the manifest
    * even though the predicate never names the bucket column. Sound by
    * construction on two axes: the probe prunes ONLY when the
    * literal's own type and the column's recorded type agree under
    * integral-exact (or string-to-string) semantics — any coercing
    * comparison (string/double/timestamp probe of an integer key
    * compares as DOUBLE or under a cast, a different value space than
    * the hash's) keeps everything; and the Hive DEFAULT partition is
    * conservatively KEPT — the generation CHECK passes a NULL
    * `p_bucket` (SQL CHECK semantics), so a hand-written row with a
    * live key could legally sit there. */
  private def bucketPrune(snap: Snapshot, entries: Seq[FileEntry],
      points: Seq[(String,
        org.apache.spark.sql.catalyst.expressions.Literal)])
      : Seq[FileEntry] =
    if (points.isEmpty) entries
    else snap.checks.collect {
      case (_, BucketGenRe(b, k, n)) => (b, k, n.toInt)
    }.foldLeft(entries) { case (es, (bucketCol, keyCol, n)) =>
      points.collectFirst {
        case (c, l) if c.equalsIgnoreCase(keyCol) => l
      }.flatMap(l => typedBucketProbe(snap, keyCol, l)) match {
        case Some(probe) =>
          val bucket = bucketOf(probe, n)
          es.filter(e => partitionValues(e.path).get(bucketCol) match {
            case None => true // legacy file without the key: keep
            case Some("__HIVE_DEFAULT_PARTITION__") => true // NULL bucket
            case Some(v) => v == bucket
          })
        case None => es
      }
    }

  /** The probe [[Literal]] retyped to the column's RECORDED type iff
    * the comparison semantics make the hash sound: integral literal →
    * integral column with an exact fit, or string → string. Everything
    * else (fractional, coercing, unknown-schema) returns None — keep
    * all. */
  private def typedBucketProbe(snap: Snapshot, keyCol: String,
      l: org.apache.spark.sql.catalyst.expressions.Literal)
      : Option[org.apache.spark.sql.catalyst.expressions.Literal] = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types._
    val colType = snap.schema.flatMap(_.fields
      .find(_.name.equalsIgnoreCase(keyCol)).map(_.dataType))
    def integral(v: Any): Option[Long] = v match {
      case b: Byte => Some(b.toLong)
      case s: Short => Some(s.toLong)
      case i: Int => Some(i.toLong)
      case x: Long => Some(x)
      case _ => None
    }
    def isIntegral(t: DataType): Boolean = t match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    colType.flatMap { ct =>
      (l.dataType, ct) match {
        case (lt, LongType) if isIntegral(lt) =>
          integral(l.value).map(Literal(_, LongType))
        case (lt, IntegerType) if isIntegral(lt) =>
          integral(l.value).filter(_.isValidInt)
            .map(v => Literal(v.toInt, IntegerType))
        case (lt, ShortType) if isIntegral(lt) =>
          integral(l.value).filter(_.isValidShort)
            .map(v => Literal(v.toShort, ShortType))
        case (StringType, StringType) => Some(l)
        case _ => None
      }
    }
  }

  /** `pmod(hash(probe), n)` constant-folded driver-side, as the
    * partition-path STRING the manifest compares — Murmur3 seed 42 is
    * what the `hash` function the writer recorded resolves to. */
  private def bucketOf(probe: org.apache.spark.sql.catalyst.expressions
      .Literal, n: Int): String = {
    import org.apache.spark.sql.catalyst.expressions.{Literal,
      Murmur3Hash, Pmod}
    String.valueOf(Pmod(new Murmur3Hash(Seq(probe)), Literal(n))
      .eval(org.apache.spark.sql.catalyst.InternalRow.empty))
  }

  /** [[predicateBounds]]' TIMESTAMP twin: bounds from comparisons
    * against typed TimestampType literals, in epoch micros. Kept
    * separate from the numeric path because the VALUE spaces differ —
    * a bare long literal compares to a timestamp under a seconds cast,
    * while the literal's stored value is micros. */
  private[sources] def predicateTsBounds(
      e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Seq[(String, Option[Long], Option[Long])] = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.TimestampType
    def colName(x: Expression): Option[String] = x match {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        Some(a.nameParts.last)
      case a: AttributeReference => Some(a.name)
      case _ => None
    }
    def litTs(x: Expression): Option[Long] = x match {
      case Literal(v: Long, TimestampType) => Some(v)
      case _ => None
    }
    def cmp(l: Expression, r: Expression,
            mk: (String, Long) => (String, Option[Long], Option[Long]))
        : Seq[(String, Option[Long], Option[Long])] =
      (for { c <- colName(l); v <- litTs(r) } yield mk(c, v)).toSeq
    e match {
      case And(l, r) => predicateTsBounds(l) ++ predicateTsBounds(r)
      case LessThan(l, r) =>
        cmp(l, r, (c, v) => (c, None, Some(v))) ++
          cmp(r, l, (c, v) => (c, Some(v), None))
      case LessThanOrEqual(l, r) =>
        cmp(l, r, (c, v) => (c, None, Some(v))) ++
          cmp(r, l, (c, v) => (c, Some(v), None))
      case GreaterThan(l, r) =>
        cmp(l, r, (c, v) => (c, Some(v), None)) ++
          cmp(r, l, (c, v) => (c, None, Some(v)))
      case GreaterThanOrEqual(l, r) =>
        cmp(l, r, (c, v) => (c, Some(v), None)) ++
          cmp(r, l, (c, v) => (c, None, Some(v)))
      case EqualTo(l, r) =>
        cmp(l, r, (c, v) => (c, Some(v), Some(v))) ++
          cmp(r, l, (c, v) => (c, Some(v), Some(v)))
      case _ => Seq.empty
    }
  }

  /** `verifyPrune` support: scan the pruned-out complement and abort if
    * a match lives there — an under-covering caller range would
    * otherwise silently exempt those rows from the DML. */
  private def verifyPruneCovers(spark: SparkSession, table: String,
      snap: Snapshot, candidates: Seq[FileEntry],
      predicate: org.apache.spark.sql.Column,
      pruneRange: Option[(String, Double, Double)]): Unit =
    if (candidates.size < snap.entries.size) {
      val prunedOut = snap.entries.filterNot(e =>
        candidates.exists(_.path == e.path))
      val leaked = readSnapshotFiles(spark, table, snap, prunedOut.map(_.path))
        .filter(predicate).limit(1).count()
      require(leaked == 0L,
        s"pruneRange=$pruneRange under-covers the predicate: a " +
          "pruned-out file holds a matching row, which would have been " +
          "silently exempted from the DML. Widen the range (it must " +
          "over-approximate the predicate's support on the stats column).")
    }

  private def predicateTouched(spark: SparkSession, table: String,
      snap: Snapshot, predicate: org.apache.spark.sql.Column,
      pruneRange: Option[(String, Double, Double)],
      verifyPrune: Boolean): Seq[FileEntry] =
    predicateCandTouched(spark, table, snap, predicate, pruneRange,
      verifyPrune)._2

  /** [[predicateTouched]] plus the full candidate set it scanned — the
    * DML's READ set, which the conflict retry needs: a concurrent
    * rewrite of any candidate (touched or not) invalidates this DML's
    * match decisions. */
  private def predicateCandTouched(spark: SparkSession, table: String,
      snap: Snapshot, predicate: org.apache.spark.sql.Column,
      pruneRange: Option[(String, Double, Double)],
      verifyPrune: Boolean): (Seq[FileEntry], Seq[FileEntry]) = {
    import org.apache.spark.sql.functions.col
    val candidates = predicateCandidates(snap, predicate, pruneRange,
      sessionZone(spark))
    if (verifyPrune)
      verifyPruneCovers(spark, table, snap, candidates, predicate, pruneRange)
    // provenance scan is DV-FILTERED: a file whose only matching rows
    // are already deletion-vectored holds nothing left to delete or
    // update, so it must not be rewritten
    val touchedNames: Set[String] =
      if (candidates.isEmpty) Set.empty
      else provenanceScan(spark, table, snap, candidates)
        .filter(predicate)
        .select(col("__g_file")).distinct()
        .collect().map(_.getString(0)).toSet
    (candidates, candidates.filter(e => touchedNames(e.path.split('/').last)))
  }

  /** Copy-on-write UPDATE — SQL `UPDATE t SET c = expr, ... WHERE p`:
    * every row where `predicate` is TRUE has each assigned column
    * replaced by its expression evaluated AGAINST THE OLD ROW (standard
    * SQL: `SET a = b, b = a` swaps — all assignments read the
    * pre-update image), cast to the column's existing type; rows where
    * the predicate is FALSE or NULL are untouched, matching
    * [[delete]]'s NULL semantics. Only files holding a matching row are
    * rewritten — the same manifest-stats candidate pruning, provenance
    * scan, `verifyPrune` check, and layout/stats preservation as
    * [[delete]]; the rest of the manifest carries over VERBATIM.
    * Assignments must target existing top-level columns exactly once
    * each: UPDATE never changes the schema (new columns are
    * [[addColumns]]' job). `recordChangeFeed` stages the commit's
    * row-level changes as Delta CDF's `update_preimage` /
    * `update_postimage` pair per matched row. Content-idempotent
    * whenever the assignments are (e.g. absolute values or expressions
    * over unassigned columns). Returns the committed version —
    * unchanged when nothing matches. */
  def update(spark: SparkSession, table: String,
             predicate: org.apache.spark.sql.Column,
             assignments: Seq[(String, org.apache.spark.sql.Column)],
             pruneRange: Option[(String, Double, Double)] = None,
             partitionBy: Seq[String] = Nil,
             verifyPrune: Boolean = false,
             recordChangeFeed: Boolean = false): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    require(assignments.nonEmpty, "update needs at least one assignment")
    requireCommitScheme(table, fsFor(spark, table)._1)
    val (fs, p) = fsFor(spark, table)
    val prev = currentVersion(spark, table)
    val snap = snapshot(spark, table, prev)
    val schema = snap.schema.getOrElse(
      readSnapshotFiles(spark, table, snap, snap.files.take(1)).schema)
    // resolve targets with the session's case sensitivity (Spark SQL
    // default is case-insensitive — `SET Payload = ...` must land on
    // `payload` like it does everywhere else), canonicalizing to the
    // schema's spelling so the rewrite below matches field-for-field
    val caseSensitive =
      spark.conf.get("spark.sql.caseSensitive", "false").toBoolean
    val canonical = assignments.map { case (c, e) =>
      val f = schema.fields.find(f =>
        if (caseSensitive) f.name == c else f.name.equalsIgnoreCase(c))
      require(f.nonEmpty,
        s"update assigns unknown column '$c' — the table's columns are " +
          s"[${schema.fieldNames.mkString(", ")}]. UPDATE never adds " +
          "columns; widen the schema first (addColumns / ALTER TABLE).")
      f.get.name -> e
    }
    val dup = canonical.groupBy(_._1).collect {
      case (c, as) if as.size > 1 => c }
    require(dup.isEmpty,
      s"update assigns [${dup.mkString(", ")}] more than once — SQL " +
        "UPDATE requires each target column at most once")
    val (candidates, touched) = predicateCandTouched(spark, table, snap,
      predicate, pruneRange, verifyPrune)
    if (touched.isEmpty) return snap.version // nothing matches: no-op
    val assignMap = canonical.toMap
    val current = readSnapshotFiles(spark, table, snap, touched.map(_.path))
    // TRUE-only gating (a NULL-evaluating predicate leaves the row
    // unchanged), and every assignment reads the OLD row: all the
    // when() branches are expressions over the same input projection,
    // so `SET a = b, b = a` sees pre-update values on both sides.
    val hit = coalesce(predicate, lit(false))
    def updatedCols(gated: Boolean) = schema.fields.toSeq.map { f =>
      assignMap.get(f.name) match {
        case Some(e) if gated =>
          when(hit, e.cast(f.dataType)).otherwise(col(s"`${f.name}`"))
            .as(f.name)
        case Some(e) => e.cast(f.dataType).as(f.name)
        case None => col(s"`${f.name}`")
      }
    }
    val next = snap.version + 1
    val moved = stageDataFiles(current.select(updatedCols(gated = true): _*),
      fs, p, next,
      if (partitionBy.nonEmpty) partitionBy else partitionColsOf(snap),
      snapStatsCols(snap))
    // Constraints validate the STAGED rewrite (only the post-update
    // images can newly violate; unchanged rows re-pass trivially) — a
    // pre-staging pass over non-deterministic assignments (rand()) could
    // approve rows the staging re-execution then changes. See
    // [[validateStagedChecks]].
    validateStagedChecks(spark, fs, p, moved, snap.checks, table, "update")
    val changeFiles =
      if (!recordChangeFeed) Nil
      else stageChangeFiles(
        current.filter(hit)
          .withColumn("_change_type", lit("update_preimage"))
          .unionByName(current.filter(hit)
            .select(updatedCols(gated = false): _*)
            .withColumn("_change_type", lit("update_postimage"))),
        fs, p, next)
    // an update never changes the schema: carry the snapshot's forward,
    // and re-bloom the rewritten files (persisted sizing) so pruning
    // never decays
    stageBloomSidecars(spark, fs, p, moved.map(FileEntry.parse),
      snap.bloomCols, snap.bloomExpectedRows)
    // disjoint-writer retry: same read-set/added-file rules as delete's
    commitRewriteWithRetry(spark, fs, p, table, "update", snap,
      readPaths = candidates.map(_.path).toSet,
      wouldRead = newEntries => predicateCandidates(
        Snapshot(snap.version, newEntries, schema = snap.schema),
        predicate, pruneRange, sessionZone(spark)),
      stagedAdds0 = moved, annotatedAdds0 = Nil,
      removes = touched.map(_.path), changeFiles0 = changeFiles,
      schema = snap.schema)
  }

  /** MERGE-ON-READ update — [[deleteMor]]'s economics for UPDATE: the
    * matched rows' old images join the touched files' DELETION VECTORS
    * and the post-update images land as NEW appended files, all in one
    * commit — no touched file is rewritten, so updating 10 rows in a
    * 1 GB file costs a sidecar plus a 10-row file instead of a 1 GB
    * rewrite. Same assignment semantics as [[update]] (old-row
    * evaluation, TRUE-only gating, canonical targets, no schema
    * change), same pruning and no-op contract, CHECK constraints
    * validate the staged post-images, CDC records the
    * preimage/postimage pairs, and the on-demand change feed diffs the
    * commit to exactly those pairs. Copy-on-write DML and compaction
    * over the vectored files later MATERIALIZE the vectors. Sized for
    * small updates (the matched set passes through one sidecar write
    * task) — bulk updates belong to [[update]]. */
  def updateMor(spark: SparkSession, table: String,
                predicate: org.apache.spark.sql.Column,
                assignments: Seq[(String, org.apache.spark.sql.Column)],
                pruneRange: Option[(String, Double, Double)] = None,
                partitionBy: Seq[String] = Nil,
                verifyPrune: Boolean = false,
                recordChangeFeed: Boolean = false): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    require(assignments.nonEmpty, "update needs at least one assignment")
    requireCommitScheme(table, fsFor(spark, table)._1)
    val (fs, p) = fsFor(spark, table)
    val prev = currentVersion(spark, table)
    val snap = snapshot(spark, table, prev)
    val schema = snap.schema.getOrElse(
      readSnapshotFiles(spark, table, snap, snap.files.take(1)).schema)
    val caseSensitive =
      spark.conf.get("spark.sql.caseSensitive", "false").toBoolean
    val canonical = assignments.map { case (c, e) =>
      val f = schema.fields.find(f =>
        if (caseSensitive) f.name == c else f.name.equalsIgnoreCase(c))
      require(f.nonEmpty,
        s"update assigns unknown column '$c' — the table's columns are " +
          s"[${schema.fieldNames.mkString(", ")}]. UPDATE never adds " +
          "columns; widen the schema first (addColumns / ALTER TABLE).")
      f.get.name -> e
    }
    val dup = canonical.groupBy(_._1).collect {
      case (c, as) if as.size > 1 => c }
    require(dup.isEmpty,
      s"update assigns [${dup.mkString(", ")}] more than once — SQL " +
        "UPDATE requires each target column at most once")
    // ONE provenance scan finds matched pairs + touched files, as in
    // deleteMor
    val candidates = predicateCandidates(snap, predicate, pruneRange,
      sessionZone(spark))
    if (candidates.isEmpty) return snap.version
    if (verifyPrune)
      verifyPruneCovers(spark, table, snap, candidates, predicate, pruneRange)
    val assignMap = canonical.toMap
    val next = snap.version + 1
    val hit = coalesce(predicate, lit(false))
    val matched = graft.core.TransientCache.persist(
      provenanceScan(spark, table, snap, candidates).filter(hit))
    val newCounts = matched.groupBy("__g_file").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    if (newCounts.isEmpty) return snap.version // nothing matches: no-op
    val touched = candidates.filter(e =>
      newCounts.contains(e.path.split('/').last))
    // post-update images: every assignment reads the OLD row
    def postImages(df: DataFrame) = df.select(schema.fields.toSeq.map { f =>
      assignMap.get(f.name) match {
        case Some(e) => e.cast(f.dataType).as(f.name)
        case None => col(s"`${f.name}`")
      }
    }: _*)
    // the old images join the deletion vectors (cumulative, as in
    // deleteMor)
    val rewritten = stageDvSidecar(spark, fs, p, next, touched,
      matched.select(col("__g_file").as("file_name"),
        col("__g_ridx").as("row_index")))
    // the new images land as ordinary appended files with stats + blooms
    val parts = if (partitionBy.nonEmpty) partitionBy
      else partitionColsOf(snap)
    val moved = stageDataFiles(
      postImages(matched.drop("__g_file", "__g_ridx")), fs, p, next, parts,
      snapStatsCols(snap))
    validateStagedChecks(spark, fs, p, moved, snap.checks, table, "update")
    stageBloomSidecars(spark, fs, p, moved.map(FileEntry.parse),
      snap.bloomCols, snap.bloomExpectedRows)
    val changeFiles =
      if (!recordChangeFeed) Nil
      else {
        val pre = matched.drop("__g_file", "__g_ridx")
        stageChangeFiles(
          pre.withColumn("_change_type", lit("update_preimage"))
            .unionByName(postImages(pre)
              .withColumn("_change_type", lit("update_postimage"))),
          fs, p, next)
      }
    // disjoint-writer retry: vector pairs + post-images stay valid iff
    // no candidate was rewritten and no unprunable file landed
    commitRewriteWithRetry(spark, fs, p, table, "updateMor", snap,
      readPaths = candidates.map(_.path).toSet,
      wouldRead = newEntries => predicateCandidates(
        Snapshot(snap.version, newEntries, schema = snap.schema),
        predicate, pruneRange, sessionZone(spark)),
      stagedAdds0 = moved, annotatedAdds0 = rewritten.map(_.line),
      removes = touched.map(_.path), changeFiles0 = changeFiles,
      schema = snap.schema)
  }

  /** Stage a commit's cumulative deletion vectors for `touched` entries
    * from the newly matched `pairs` (file_name, row_index): unions each
    * touched file's existing vector, writes PER-FILE BLOCKS into staged
    * binary sidecars (one sidecar per shuffle partition, encoded by the
    * executors — see [[DeletionVectors.writePartition]]), and returns
    * the entries re-annotated with `dv=rel#offset#length` tokens plus
    * exact `dvrows=`. Scales with the delete: pair encoding is
    * distributed, the driver only collects O(touched files) block
    * metadata, and every file's full vector lives in one contiguous
    * block a reader seeks directly. The new pairs are
    * provenance-scanned against the old vectors, so the union is
    * disjoint and block counts are exact. */
  private def stageDvSidecar(spark: SparkSession, fs: FileSystem, p: Path,
      next: Long, touched: Seq[FileEntry],
      pairs: DataFrame): Seq[FileEntry] = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val hconf = DeletionVectors.hadoopConfMap(spark)
    val oldRefs = touched.flatMap(e =>
      e.dv.map(t => e.path.split('/').last -> t))
    val fresh = pairs.select(col("file_name"),
      col("row_index").cast("long").as("row_index"))
    val allPairs =
      if (oldRefs.isEmpty) fresh
      else fresh.unionByName(
        DeletionVectors.pairsDF(spark, p.toString, oldRefs, hconf))
    val attempt = java.util.UUID.randomUUID.toString.take(8)
    val stagingName = f"_staging-v$next%08d-dv-$attempt"
    val staging = new Path(p, stagingName)
    fs.delete(staging, true)
    fs.mkdirs(staging)
    val baseName = f"v$next%08d-$attempt"
    val tableStr = p.toString
    val nPart = math.max(1, math.min(touched.size,
      spark.sparkContext.defaultParallelism))
    val meta = allPairs
      .repartition(nPart, col("file_name"))
      .sortWithinPartitions("file_name", "row_index")
      .as[(String, Long)]
      .mapPartitions(it => DeletionVectors.writePartition(
        it, tableStr, stagingName, baseName, hconf))
      .collect()
    fs.mkdirs(new Path(p, DvDir))
    meta.map(_._2).distinct.foreach { name =>
      if (!fs.rename(new Path(staging, name), new Path(p, s"$DvDir/$name")))
        throw new IllegalStateException(s"failed to publish $DvDir/$name in $p")
    }
    fs.delete(staging, true)
    val byFile = meta.map(m => m._1 -> m).toMap
    touched.map { e =>
      val name = e.path.split('/').last
      val m = byFile.getOrElse(name, throw new IllegalStateException(
        s"no deletion-vector block written for touched file $name"))
      e.copy(dv = Some(DeletionVectors.encodeRef(
          DeletionVectors.DvRef(s"$DvDir/${m._2}", m._3, m._4))),
        dvRows = Some(m._5))
    }
  }

  /** Every requested column's range PLUS the file's exact row count,
    * from ONE footer open — no data pages touched. A column's range is
    * omitted ("unknown, never skip") unless EVERY row group carries
    * statistics for it: a range built from only the covered row groups
    * would understate the file's true extent and let [[readRange]] skip
    * a file that holds matching rows. An all-null row group (stats
    * present, no values) is the one safe exception: it constrains
    * nothing, because NULL matches no range predicate. */
  private def footerMeta(conf: org.apache.hadoop.conf.Configuration,
      file: Path, cols: Seq[String])
      : (Seq[ColRange], Seq[StrRange], Long) = {
    import scala.jdk.CollectionConverters._
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
    try {
      val rows = reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum
      val num = Seq.newBuilder[ColRange]
      val str = Seq.newBuilder[StrRange]
      // DECIMAL columns: parquet statistics carry the UNSCALED
      // representation (an int/long, or a big-endian two's-complement
      // Binary) — recording that raw value would corrupt every range
      // comparison by 10^scale, making stats pruning SKIP files that
      // hold matching rows. Decode through the column's logical-type
      // scale.
      val decimalScale: Map[String, Int] =
        reader.getFooter.getFileMetaData.getSchema.getColumns.asScala
          .flatMap { cd =>
            cd.getPrimitiveType.getLogicalTypeAnnotation match {
              case d: org.apache.parquet.schema.LogicalTypeAnnotation
                       .DecimalLogicalTypeAnnotation =>
                Some(cd.getPath.mkString(".") -> d.getScale)
              case _ => None
            }
          }.toMap
      def statValue(col: String, v: Any): BigDecimal =
        decimalScale.get(col) match {
          case Some(scale) => v match {
            case b: org.apache.parquet.io.api.Binary =>
              BigDecimal(new java.math.BigInteger(b.getBytes), scale)
            case n => BigDecimal(new java.math.BigInteger(n.toString), scale)
          }
          case None => BigDecimal(v.toString)
        }
      cols.foreach { col =>
        val perGroup = reader.getFooter.getBlocks.asScala.map(
          _.getColumns.asScala.find(_.getPath.toDotString == col)
            .map(_.getStatistics))
        // a row group missing the column, or carrying absent/empty
        // stats, makes the file's range unknowable from the footer
        if (!perGroup.exists(_.forall(s => s == null || s.isEmpty))) {
          val withValues = perGroup.flatten.filter(_.hasNonNullValue)
          if (withValues.nonEmpty) { // else every row group all-null
            scala.util.Try {
              ColRange(col,
                withValues.map(s => statValue(col, s.genericGetMin)).min,
                withValues.map(s => statValue(col, s.genericGetMax)).max)
            }.toOption match {
              case Some(r) => num += r
              case None =>
                // not numeric: a string/binary column's footer stats are
                // Binary values — record a TRUNCATED sound range when
                // every bound is ASCII (so footer byte order and JVM
                // string order provably agree; see [[StrRange]])
                scala.util.Try {
                  val mins = withValues.map(_.genericGetMin)
                  val maxs = withValues.map(_.genericGetMax)
                  val all = mins ++ maxs
                  if (all.forall(
                    _.isInstanceOf[org.apache.parquet.io.api.Binary])) {
                    val strs = all.map(
                      _.asInstanceOf[org.apache.parquet.io.api.Binary]
                        .toStringUsingUTF8)
                    if (strs.forall(asciiOnly))
                      strRangeOf(col, strs.take(mins.size).min,
                        strs.drop(mins.size).max)
                    else None
                  } else None
                }.toOption.flatten.foreach(str += _)
            }
          }
        }
      }
      (num.result(), str.result(), rows)
    } finally reader.close()
  }

  /** Range query with manifest-level file skipping: files whose recorded
    * `[min, max]` of `colName` misses `[lo, hi]` are never opened (no
    * listing, no footer); files without recorded stats are kept
    * conservatively. The predicate is still applied to the survivors, so
    * the result is exact regardless of stats coverage. Combined with a
    * range-clustered write ([[LakeWriter.writeClustered]] semantics +
    * `statsCol`), a narrow range query touches O(selectivity) files
    * instead of O(table). */
  def readRange(spark: SparkSession, table: String, colName: String,
                lo: Double, hi: Double,
                version: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    val snap = snapshot(spark, table, version)
    val keep = rangeCandidates(snap, colName, BigDecimal(lo), BigDecimal(hi))
    // stats proving "nothing can match" is a correct empty answer — the
    // same query on a stats-less table would return 0 rows, not throw
    readSnapshotFiles(spark, table, snap, keep.map(_.path))
      .filter(col(colName) >= lo && col(colName) <= hi)
  }

  /** [[readRange]] for STRING bounds: file skipping over the truncated
    * string stats ([[strRangeCandidates]]), exact predicate re-applied
    * to the survivors — a range scan on a doc-id/URL-keyed 100 TB table
    * at O(selectivity) file cost. */
  def readRangeStr(spark: SparkSession, table: String, colName: String,
                   lo: String, hi: String,
                   version: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val snap = snapshot(spark, table, version)
    val keep = strRangeCandidates(snap, colName, lo, hi)
    readSnapshotFiles(spark, table, snap, keep.map(_.path))
      .filter(col(colName) >= lit(lo) && col(colName) <= lit(hi))
  }

  /** Idempotent micro-batch append: commits `df` with `(appId, batchId)`
    * recorded in the manifest, and SKIPS the write when the current
    * snapshot already carries that epoch FROM THE SAME APP — a replayed
    * batch (post-crash re-execution of the same epoch by Structured
    * Streaming) commits nothing twice. The app identity (the sink's
    * checkpoint location) scopes the high-water mark: a stream restarted
    * with a FRESH checkpoint renumbers its batches from 0, and without
    * the scoping its first batches would be silently discarded against
    * the old stream's mark. With the single-writer-per-table streaming
    * contract, a replay is always of the latest batch, so checking only
    * the current snapshot is sufficient. */
  def writeBatch(df: DataFrame, table: String, batchId: Long,
                 partitionBy: Seq[String] = Nil,
                 appId: String = "default",
                 bloomCols: Seq[String] = Nil): Boolean = {
    val already = currentVersion(df.sparkSession, table).exists { v =>
      val snap = snapshot(df.sparkSession, table, Some(v))
      snap.appId.getOrElse("default") == appId &&
        snap.batchId.exists(_ >= batchId)
    }
    if (already) false
    else {
      write(df, table, append = true, batchId = Some(batchId),
        partitionBy = partitionBy, appId = Some(appId),
        bloomCols = bloomCols)
      true
    }
  }

  /** Rewrite the current snapshot to ~`targetFileBytes` files and commit
    * the compacted set as a NEW version. Readers of older snapshots keep
    * working: their files are untouched until [[vacuum]]. */
  def compact(spark: SparkSession, table: String,
              targetFileBytes: Long = 128L * 1024 * 1024,
              clusterCol: Option[String] = None): CompactReport =
    retryMaintenance("compact", table) {
      compactOnce(spark, table, targetFileBytes, clusterCol)
    }

  private def compactOnce(spark: SparkSession, table: String,
                          targetFileBytes: Long,
                          clusterCol: Option[String]): CompactReport = {
    import org.apache.spark.sql.functions.col
    val (fs, p) = fsFor(spark, table)
    val snap = snapshot(spark, table)
    // sizes from the manifest where recorded; only legacy entries stat
    val bytes = snap.entries.map(e => e.bytes.getOrElse(
      fs.getFileStatus(new Path(p, e.path)).getLen)).sum
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    // repartition (not coalesce): coalesce would narrow the upstream scan
    // to nFiles tasks; repartition keeps the read wide, only the write narrow.
    // The snapshot's streaming batch id carries forward so a compaction
    // never erases the sink's replay high-water mark, and the partition
    // layout (derived from the manifest paths) is preserved. With
    // `clusterCol`, compaction RE-CLUSTERS (the OPTIMIZE idiom): many
    // interleaved-range appends degrade range skipping to nothing, and a
    // range-repartitioned rewrite restores pairwise-disjoint file ranges
    // — same IO as the plain compaction, recorded stats included.
    val partCols = partitionColsOf(snap)
    val statsCols = (clusterCol.toSeq ++ snapStatsCols(snap)).distinct
    val current = read(spark, table, Some(snap.version))
    val compacted = clusterCol match {
      case Some(c) => current.repartitionByRange(nFiles, col(c))
        .sortWithinPartitions(c)
      case None => current.repartition(nFiles)
    }
    val newVersion = write(compacted, table, append = false,
      batchId = snap.batchId, partitionBy = partCols,
      statsCols = statsCols, appId = snap.appId,
      bloomCols = snap.bloomCols,
      // compaction rewrites rows that already passed enforcement when
      // they landed — re-validating would read the whole table again
      validateChecks = false,
      // net-zero row change: incremental consumers skip this version
      // instead of raising (or re-emitting every row)
      maintenance = true)
    CompactReport(snap.files.size,
      snapshot(spark, table, Some(newVersion)).files.size, newVersion)
  }

  /** Bin-packing compaction — the OPTIMIZE shape for big tables:
    * rewrite ONLY files smaller than `smallFileBytes` (merged toward
    * `targetFileBytes`), carrying every right-sized file over in the
    * manifest VERBATIM — stats, row counts and bloom sidecars included,
    * zero data IO for them. [[compact]] rewrites the whole table, which
    * is right for re-clustering but ruinous as routine maintenance: a
    * 100 TB table whose hourly appends leave a tail of small files
    * needs IO proportional to the SMALL-FILE MASS, not the table.
    * Fewer than two small files is a version no-op. Partition layout is
    * preserved (small files across partitions rewrite into their own
    * partition paths via the inherited partitionBy). Not for
    * range-clustered tables — merging arbitrary small files breaks
    * pairwise-disjoint cluster ranges; use `compact(clusterCol)` there,
    * which restores them.
    *
    * DV LIVE-RATIO PURGE rides the same pass: a file whose deletion
    * vector covers ≥ `purgeDvRatio` of its rows pays its full scan plus
    * a mostly-hit vector probe on EVERY read, forever — so maintenance
    * rewrites it (the DV-aware read materializes the vector; the fresh
    * entry carries no `dv=` and its superseded sidecar block ages out
    * via vacuum). The same policy Delta's `REORG … APPLY (PURGE)` /
    * auto-compaction thresholds and Iceberg's
    * `rewrite_data_files(delete_ratio_threshold)` implement (public
    * docs). A single over-threshold file is reason enough to commit —
    * unlike the ≥2 rule for small-file merging, purging one file is
    * useful by itself. */
  def binPack(spark: SparkSession, table: String,
              targetFileBytes: Long = 128L * 1024 * 1024,
              smallFileBytes: Long = 32L * 1024 * 1024,
              purgeDvRatio: Double = 0.3,
              partitionFilter: Map[String, String] = Map.empty)
      : CompactReport = {
    require(smallFileBytes <= targetFileBytes,
      "smallFileBytes must not exceed targetFileBytes")
    require(purgeDvRatio > 0.0,
      "purgeDvRatio must be positive (1.0 disables purging in practice; " +
        "use REORG-style purgeDv for rewrite-anything-vectored)")
    requireCommitScheme(table, fsFor(spark, table)._1)
    retryMaintenance("binPack", table) {
      binPackOnce(spark, table, targetFileBytes, smallFileBytes,
        purgeDvRatio, partitionFilter)
    }
  }

  private def binPackOnce(spark: SparkSession, table: String,
                          targetFileBytes: Long, smallFileBytes: Long,
                          purgeDvRatio: Double,
                          partitionFilter: Map[String, String])
      : CompactReport = {
    val (fs, p) = fsFor(spark, table)
    val snap = snapshot(spark, table)
    // partition-SCOPED maintenance (Delta's `OPTIMIZE ... WHERE`): on a
    // years-deep table only the fresh partitions accumulate small
    // files — scoping the rewrite candidate walk to them makes routine
    // maintenance IO track the ingest surface, not the table. Entries
    // outside the scope are carried verbatim like any right-sized file.
    if (partitionFilter.nonEmpty) {
      val partCols = partitionColsOf(snap).map(_.toLowerCase(
        java.util.Locale.ROOT)).toSet
      val unknown = partitionFilter.keys.filterNot(k =>
        partCols(k.toLowerCase(java.util.Locale.ROOT)))
      require(unknown.isEmpty,
        s"OPTIMIZE scope names non-partition column(s) " +
          s"[${unknown.mkString(", ")}] — the table is partitioned by " +
          s"[${partCols.mkString(", ")}]; only partition equality " +
          "predicates can scope maintenance")
    }
    val inScope = (e: FileEntry) => {
      val vals = partitionValues(e.path)
      partitionFilter.forall { case (k, v) => vals.get(k).contains(v) }
    }
    // sizes come from the manifest (recorded at stage time); only
    // legacy entries without a bytes= token pay a getFileStatus RPC —
    // at a million files the difference between zero and a million
    // driver round-trips per maintenance run
    val sized = snap.entries.filter(inScope).map(e =>
      e -> e.bytes.getOrElse(
        fs.getFileStatus(new Path(p, e.path)).getLen))
    // a scope that matches NOTHING is almost always a spelling mismatch
    // against the stored Hive segment (p = 1.0 vs p=1, an escaped
    // value) — surface it instead of silently no-opping the maintenance
    if (partitionFilter.nonEmpty && sized.isEmpty && snap.entries.nonEmpty)
      System.err.println(s"[graft-lake] OPTIMIZE scope " +
        s"${partitionFilter.map { case (k, v) => s"$k=$v" }.mkString(", ")} " +
        s"matched 0 of ${snap.entries.size} files in $table — check the " +
        "value spelling against the stored partition path segments")
    val (small, large) = sized.partition(_._2 < smallFileBytes)
    val purge = large.filter { case (e, _) =>
      e.dvRows.exists(dvr => dvr > 0 &&
        e.rows.exists(r => r > 0 && dvr.toDouble / r >= purgeDvRatio))
    }
    if (small.size < 2 && purge.isEmpty)
      return CompactReport(snap.files.size, snap.files.size, snap.version)
    val rewrite = small ++ purge
    // size the output by LIVE bytes: a 90%-deleted file contributes
    // ~10% of its stored size after its vector materializes
    val liveBytes = rewrite.map { case (e, b) =>
      (e.rows, e.liveRows) match {
        case (Some(r), Some(lr)) if r > 0 => b * lr / r
        case _ => b
      }
    }.sum
    val nFiles = math.max(1,
      math.ceil(liveBytes.toDouble / targetFileBytes).toInt)
    val rewritten = readSnapshotFiles(spark, table, snap,
      rewrite.map(_._1.path)).repartition(nFiles)
    val next = snap.version + 1
    val moved = stageDataFiles(rewritten, fs, p, next,
      partitionColsOf(snap), snapStatsCols(snap))
    stageBloomSidecars(spark, fs, p, moved.map(FileEntry.parse),
      snap.bloomCols, snap.bloomExpectedRows)
    val v = commitMaintenanceOrAbort(fs, p, moved,
      removes = rewrite.map(_._1.path), snap)
    CompactReport(snap.files.size,
      snap.entries.size - rewrite.size + moved.size, v)
  }

  /** `REORG … APPLY (PURGE)`: rewrite EVERY file carrying a deletion
    * vector, materializing the vectors — after it, no read pays any
    * DV probe and vacuum can collect every sidecar. The targeted
    * repair for a table whose MOR history left vectors too thin for
    * [[binPack]]'s ratio trigger but numerous enough to annoy. Files
    * without vectors are carried verbatim (zero IO); no vectored
    * files is a version no-op. */
  def purgeDv(spark: SparkSession, table: String,
              targetFileBytes: Long = 128L * 1024 * 1024): CompactReport = {
    requireCommitScheme(table, fsFor(spark, table)._1)
    retryMaintenance("purgeDv", table) { purgeDvOnce(spark, table,
      targetFileBytes) }
  }

  private def purgeDvOnce(spark: SparkSession, table: String,
                          targetFileBytes: Long): CompactReport = {
    val (fs, p) = fsFor(spark, table)
    val snap = snapshot(spark, table)
    val vectored = snap.entries.filter(_.dv.nonEmpty)
    if (vectored.isEmpty)
      return CompactReport(snap.files.size, snap.files.size, snap.version)
    val liveBytes = vectored.map { e =>
      val b = e.bytes.getOrElse(
        fs.getFileStatus(new Path(p, e.path)).getLen)
      (e.rows, e.liveRows) match {
        case (Some(r), Some(lr)) if r > 0 => b * lr / r
        case _ => b
      }
    }.sum
    val nFiles = math.max(1,
      math.ceil(liveBytes.toDouble / targetFileBytes).toInt)
    val rewritten = readSnapshotFiles(spark, table, snap,
      vectored.map(_.path)).repartition(nFiles)
    val next = snap.version + 1
    val moved = stageDataFiles(rewritten, fs, p, next,
      partitionColsOf(snap), snapStatsCols(snap))
    stageBloomSidecars(spark, fs, p, moved.map(FileEntry.parse),
      snap.bloomCols, snap.bloomExpectedRows)
    val v = commitMaintenanceOrAbort(fs, p, moved,
      removes = vectored.map(_.path), snap)
    CompactReport(snap.files.size,
      (snap.entries.size - vectored.size) + moved.size, v)
  }

  /** Commit a maintenance rewrite against the snapshot it planned on;
    * on a lost version race, DELETE the staged artifacts (they embed a
    * version that will never commit — cheaper to drop now than to rely
    * on vacuum's orphan sweep) and rethrow for [[retryMaintenance]] to
    * re-plan on the new head. */
  /** Test-only: runs ONCE immediately before a maintenance commit
    * attempt (then self-clears), letting specs interleave a competing
    * commit deterministically — the only way to pin the
    * lost-race-then-re-plan behavior without a timing-dependent test. */
  private[sources] val maintenanceRaceHook =
    new java.util.concurrent.atomic.AtomicReference[Runnable](null)

  private def commitMaintenanceOrAbort(fs: FileSystem, p: Path,
      moved: Seq[String], removes: Seq[String], snap: Snapshot): Long = {
    Option(maintenanceRaceHook.getAndSet(null)).foreach(_.run())
    try commitLog(fs, p, full = false, adds = moved,
      removes = removes, Some(snap.version), snap.batchId,
      snap.appId, snap.schema, bloomCols = snap.bloomCols,
      bloomExpectedRows = snap.bloomExpectedRows, checks = snap.checks,
      maintenance = true)
    catch { case e: CommitConflictException =>
      moved.map(FileEntry.parse).foreach { entry =>
        scala.util.Try(fs.delete(new Path(p, entry.path), false))
        snap.bloomCols.foreach { c =>
          scala.util.Try(fs.delete(
            new Path(p, s"$BloomsDir/${entry.path}.$c.bloom"), false))
        }
      }
      throw e
    }
  }

  /** Maintenance (OPTIMIZE / binPack / REORG-purge / compact) carries
    * NO user payload — when it races real DML, the operationally right
    * asymmetry is that MAINTENANCE re-plans and the DML never redoes.
    * Each retry re-resolves the head snapshot inside the body, so a
    * binPack that lost to a MERGE simply packs the merge's output.
    * Bounded like the append rebase: every retry means someone else
    * committed, so the system progresses. */
  private def retryMaintenance(op: String, table: String)
      (body: => CompactReport): CompactReport = {
    var attempt = 0
    while (attempt <= MaxCommitRebases) {
      try return body
      catch { case e: CommitConflictException =>
        attempt += 1
        if (attempt > MaxCommitRebases) throw e
        System.err.println(s"[graft-lake] $op of $table lost a commit " +
          s"race (attempt $attempt of $MaxCommitRebases); re-planning " +
          "against the new head")
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Time-based retention: vacuum every version whose commit clock is
    * at or before `cutoffMillis` (the head survives regardless — a
    * table always keeps its current snapshot). Built on the recorded
    * `#ts=` headers, so versions from before timestamp tracking count
    * as oldest and age out first. Returns data files deleted. */
  def vacuumOlderThan(spark: SparkSession, table: String,
                      cutoffMillis: Long): Int = {
    val (fs, p) = fsFor(spark, table)
    val vs = versionsFs(fs, p)
    if (vs.isEmpty) return 0
    val keep = vs.count(v =>
      readLog(fs, manifestPath(p, v)).tsMillis.exists(_ > cutoffMillis))
    vacuum(spark, table, keepLast = math.max(1, keep))
  }

  /** The latest version committed at or before `tsMillis` — the
    * `TIMESTAMP AS OF` resolution. Binary search over the retained
    * versions' manifest headers: O(log versions) header reads after
    * one directory listing. Commit timestamps come from the
    * committer's clock and are assumed non-decreasing (single writer
    * or synchronized clocks — the assumption every log-structured
    * table format documents); manifests from before timestamp
    * tracking sort as oldest. Raises if `tsMillis` predates the first
    * retained commit — time travel into the vacuumed range is gone by
    * the retention contract. */
  def versionAsOf(spark: SparkSession, table: String, tsMillis: Long): Long = {
    val (fs, p) = fsFor(spark, table)
    val vs = versionsFs(fs, p)
    if (vs.isEmpty)
      throw new IllegalStateException(s"no committed version in $table")
    def tsOf(v: Long): Option[Long] = readLog(fs, manifestPath(p, v)).tsMillis
    var lo = 0
    var hi = vs.size - 1
    var ans = -1
    while (lo <= hi) {
      val mid = (lo + hi) / 2
      if (tsOf(vs(mid)).forall(_ <= tsMillis)) { ans = mid; lo = mid + 1 }
      else hi = mid - 1
    }
    if (ans < 0) throw new IllegalArgumentException(
      s"timestamp $tsMillis predates the first retained commit of $table " +
        s"(version ${vs.head}${tsOf(vs.head).fold("")(t => s", committed at $t")})")
    vs(ans)
  }

  /** [[read]] at the snapshot [[versionAsOf]] resolves for `tsMillis`. */
  def readAsOf(spark: SparkSession, table: String, tsMillis: Long): DataFrame =
    read(spark, table, Some(versionAsOf(spark, table, tsMillis)))

  /** Fail if any row of `df` VIOLATES a check — predicate FALSE; NULL
    * passes, SQL CHECK semantics. ONE job for all constraints (a
    * coalesce of per-constraint violation markers finds the first
    * violated name), so N constraints never cost N passes over an
    * arbitrary input plan. */
  private def enforceChecks(df: DataFrame, checks: Seq[(String, String)],
      table: String, op: String): Unit =
    if (checks.nonEmpty) {
      import org.apache.spark.sql.functions.{coalesce, col, expr, lit, when}
      val marker = coalesce(checks.map { case (name, sql) =>
        when(!coalesce(expr(sql), lit(true)), lit(name)) }: _*)
      val bad = df.withColumn("__violated", marker)
        .filter(col("__violated").isNotNull).limit(1).collect()
      bad.headOption.foreach { row =>
        val name = row.getAs[String]("__violated")
        val sql = checks.find(_._1 == name).map(_._2).getOrElse("")
        throw new ConstraintViolationException(
          s"$op on $table violates CHECK constraint '$name' ($sql) — " +
            s"e.g. $row. The commit was aborted; nothing landed.")
      }
    }

  /** Validate the table's CHECK constraints against freshly STAGED data
    * files — what actually LANDED, not the incoming plan: an arbitrary
    * plan may be non-deterministic (rand(), a re-read of a moving
    * source), and a pre-staging pass could approve rows the staging
    * re-execution then changes. Validating the staged files closes that
    * window, deterministically and bounded by the commit's new files.
    * `basePath` keeps Hive partition columns in the staged paths
    * resolvable, or a constraint over a partition column would fail
    * analysis on every write despite validating fine at ADD time. ANY
    * failure (violation or analysis error) deletes the staged files
    * before rethrowing — nothing is committed OR leaked — and the
    * ORIGINAL failure always wins over a transient delete error. */
  private def validateStagedChecks(spark: SparkSession, fs: FileSystem,
      p: Path, moved: Seq[String], checks: Seq[(String, String)],
      table: String, op: String): Unit =
    if (checks.nonEmpty && moved.nonEmpty)
      try enforceChecks(
        spark.read.option("basePath", p.toString)
          .parquet(moved.map(l =>
            new Path(p, FileEntry.parse(l).path).toString): _*),
        checks, table, op)
      catch { case scala.util.control.NonFatal(e) =>
        moved.foreach(l => scala.util.Try(
          fs.delete(new Path(p, FileEntry.parse(l).path), false)): Unit)
        throw e
      }

  /** Register a CHECK constraint: `predicateSql` must hold (or evaluate
    * NULL — SQL CHECK semantics) for every EXISTING row, validated now
    * with one scan, and for every future write/merge/update, validated
    * before anything stages. Delta's `ALTER TABLE ADD CONSTRAINT`
    * analog: the table enforces its own invariants, so bad data can
    * never land no matter which pipeline writes. Metadata-only commit;
    * carried forward by every subsequent commit like the schema. */
  def addConstraint(spark: SparkSession, table: String, name: String,
                    predicateSql: String): Long = {
    // The log is line-oriented: a newline in either field would split
    // the header mid-line and the continuation would parse as a LEGACY
    // FULL FILE LIST — one phantom entry replacing the table's real
    // files. Reject at the API, not the parser.
    require(name.nonEmpty && !name.exists(c => c == '\t' || c == '\n' ||
      c == '\r'),
      "constraint names must be non-empty with no tab or line break")
    require(!predicateSql.exists(c => c == '\n' || c == '\r'),
      "constraint predicates must be single-line SQL (no line breaks)")
    requireCommitScheme(table, fsFor(spark, table)._1)
    val (fs, p) = fsFor(spark, table)
    val prev = currentVersion(spark, table)
    val snap = snapshot(spark, table, prev)
    require(!snap.checks.exists(_._1 == name),
      s"constraint '$name' already exists on $table")
    enforceChecks(read(spark, table, prev), Seq(name -> predicateSql),
      table, "adding a constraint over existing data")
    commitLog(fs, p, full = false, adds = Nil, removes = Nil, prev,
      snap.batchId, snap.appId, snap.schema,
      bloomCols = snap.bloomCols,
      bloomExpectedRows = snap.bloomExpectedRows,
      checks = snap.checks :+ (name -> predicateSql))
  }

  /** Remove a CHECK constraint (metadata-only). */
  def dropConstraint(spark: SparkSession, table: String,
                     name: String): Long = {
    requireCommitScheme(table, fsFor(spark, table)._1)
    val (fs, p) = fsFor(spark, table)
    val prev = currentVersion(spark, table)
    val snap = snapshot(spark, table, prev)
    require(snap.checks.exists(_._1 == name),
      s"no constraint '$name' on $table " +
        s"(have: ${snap.checks.map(_._1).mkString(", ")})")
    commitLog(fs, p, full = false, adds = Nil, removes = Nil, prev,
      snap.batchId, snap.appId, snap.schema,
      bloomCols = snap.bloomCols,
      bloomExpectedRows = snap.bloomExpectedRows,
      checks = snap.checks.filterNot(_._1 == name))
  }

  /** Metadata-only ALTER: commit the CURRENT file list under a widened
    * schema — a delta record with no adds, no removes, just the new
    * schema header, so adding a column is O(1) at any table size (the
    * column reads as null everywhere until data arrives; the first
    * append carrying it is an ordinary evolved append). The SQL
    * surface's `ALTER TABLE graft_lake.t ADD COLUMNS (...)` lands
    * here. Raises [[SchemaEvolutionException]] if a name already
    * exists; a legacy schema-less table derives its base schema from
    * its files first. */
  def addColumns(spark: SparkSession, table: String,
                 newCols: Seq[org.apache.spark.sql.types.StructField]): Long = {
    require(newCols.nonEmpty, "addColumns needs at least one column")
    requireCommitScheme(table, fsFor(spark, table)._1)
    val (fs, p) = fsFor(spark, table)
    val prev = currentVersion(spark, table)
    val snap = snapshot(spark, table, prev)
    val base = snap.schema.getOrElse(read(spark, table, prev).schema)
    newCols.find(f => base.fieldNames.contains(f.name)).foreach(f =>
      throw new SchemaEvolutionException(
        s"ALTER on $table: column '${f.name}' already exists " +
          s"(${base(f.name).dataType.catalogString})"))
    val widened = StructType(base.fields ++ newCols.map(_.copy(nullable = true)))
    commitLog(fs, p, full = false, adds = Nil, removes = Nil, prev,
      snap.batchId, snap.appId, Some(widened), bloomCols = snap.bloomCols,
      bloomExpectedRows = snap.bloomExpectedRows, checks = snap.checks)
  }

  /** The committed change of one version, as its log record describes
    * it: `base = true` means the record REPLACED the table's file list
    * (first commit, overwrite, compaction) and `added`/`removed` are
    * the commit's delta otherwise. `changeFiles` are the commit's
    * recorded row-level CDC sidecars, when the writer opted in. */
  final case class VersionChange(version: Long, base: Boolean,
                                 added: Seq[FileEntry], removed: Seq[String],
                                 changeFiles: Seq[String] = Nil,
                                 maintenance: Boolean = false)

  /** Per-version change records in `(fromExclusive, toInclusive]`,
    * ascending — the incremental-consumption API ([[LakeStreamProvider]] reads
    * the lake as a stream through it). O(versions in range): each
    * version costs one bounded manifest read; no snapshot resolution,
    * no checkpoint walk, no directory listing. Raises if a manifest in
    * the range was vacuumed away — a consumer lagging past the vacuum
    * retention cannot be served incrementally and must re-bootstrap. */
  def changesBetween(spark: SparkSession, table: String,
                     fromExclusive: Long, toInclusive: Long): Seq[VersionChange] = {
    val (fs, p) = fsFor(spark, table)
    ((fromExclusive + 1) to toInclusive).map { v =>
      val mf = manifestPath(p, v)
      if (!fs.exists(mf)) throw new IllegalStateException(
        s"manifest for version $v missing in $table — vacuumed past an " +
          "incremental consumer's position? Keep vacuum retention above " +
          "the slowest consumer's lag.")
      val rec = readLog(fs, mf)
      VersionChange(v, rec.full, rec.adds, rec.removes, rec.changeFiles,
        rec.maintenance)
    }
  }

  /** Row-level CHANGE FEED for `(fromExclusive, toInclusive]` — the
    * `readChangeFeed` analog. A version whose writer RECORDED change
    * files (`merge`/`delete` with `recordChangeFeed = true`) serves
    * them verbatim: exact, a plain scan, streamable, and the recorded
    * set is the OPERATION log (every matched row emits its
    * delete + insert pair even if content happens to be identical —
    * Delta CDF semantics). Other versions are diffed on demand from
    * their own changed files: pure appends are their own insert set
    * (no diff at all); for rewrites, removed-file rows that don't
    * reappear among the added files are `delete`s and the converse are
    * `insert`s — the NET row difference, with verbatim survivors
    * cancelling in the EXCEPT ALL. Either way IO and compute track the
    * CHANGED files of each version, never the table. Output:
    * `_change_type`, `_commit_version`, then the data columns (aligned
    * to each version's recorded schema; a column added later reads
    * null in earlier versions' changes).
    *
    * Version 1 is the initial data (all inserts). Maintenance commits
    * (compaction/bin-packing, net-zero by contract) contribute nothing
    * and are skipped. A mid-range base commit (overwrite) without
    * recorded change files is not row-diffable from its delta record
    * and raises — feed past it from a later `fromExclusive`, matching
    * the streaming source's contract. */
  def changeFeed(spark: SparkSession, table: String,
                 fromExclusive: Long, toInclusive: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    require(toInclusive > fromExclusive,
      s"empty change range ($fromExclusive, $toInclusive]")
    val changes = changesBetween(spark, table, fromExclusive, toInclusive)
      // maintenance rewrites (compaction/bin-packing) are net-zero by
      // contract: no rows to feed, and diffing them would only prove it
      // expensively
      .filterNot(_.maintenance)
    val frames = changes.map { ch =>
      // a version with RECORDED change files serves them as-is: exact,
      // a plain scan, and the only form that covers an overwrite
      if (ch.changeFiles.nonEmpty) {
        val base = new Path(table)
        val cf = spark.read.parquet(
          ch.changeFiles.map(f => new Path(base, f).toString): _*)
        cf.select(col("_change_type") +:
          lit(ch.version).as("_commit_version") +:
          cf.columns.toSeq.filterNot(_ == "_change_type").map(col): _*)
      } else {
      if (ch.base && ch.version != 1)
        throw new UnsupportedOperationException(
          s"version ${ch.version} of $table is a base commit " +
            "(overwrite) with no recorded change feed — not " +
            "row-diffable from its log record. Start the feed after it.")
      val snap = snapshot(spark, table, Some(ch.version))
      val schema = snap.schema
      val added = readSnapshotFiles(spark, table, snap,
        ch.added.map(_.path))
      // removed files belong to the PREVIOUS snapshot, but read them
      // under THIS version's schema: evolution only widens, so the
      // declared read null-backfills any column the old files predate
      val removed =
        if (ch.removed.isEmpty) added.filter(lit(false))
        else readSnapshotFiles(spark, table,
          snapshot(spark, table, Some(ch.version - 1))
            .copy(schema = schema),
          ch.removed)
      def aligned(df: DataFrame): DataFrame = schema match {
        case Some(sc) => df.select(sc.fields.toSeq.map(f =>
          if (df.columns.contains(f.name)) col(f.name)
          else lit(null).cast(f.dataType).as(f.name)): _*)
        case None => df
      }
      val a = aligned(added)
      // pure appends ARE their own change set: no diff, no shuffle
      if (ch.removed.isEmpty)
        a.select(lit("insert").as("_change_type") +:
          lit(ch.version).as("_commit_version") +:
          a.columns.toSeq.map(col): _*)
      else {
        val r = aligned(removed)
        a.exceptAll(r)
          .select(lit("insert").as("_change_type") +:
            lit(ch.version).as("_commit_version") +:
            a.columns.toSeq.map(col): _*)
          .unionByName(
            r.exceptAll(a)
              .select(lit("delete").as("_change_type") +:
                lit(ch.version).as("_commit_version") +:
                r.columns.toSeq.map(col): _*))
      }
      }
    }
    if (frames.isEmpty) {
      // every version in range was maintenance: the feed is EMPTY, not
      // an error — shaped like any other feed frame
      val snap = snapshot(spark, table, Some(toInclusive))
      val dataSchema = snap.schema.getOrElse(
        readSnapshotFiles(spark, table, snap, snap.files.take(1)).schema)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(
          org.apache.spark.sql.types.StructField("_change_type",
            org.apache.spark.sql.types.StringType) +:
          org.apache.spark.sql.types.StructField("_commit_version",
            org.apache.spark.sql.types.LongType) +:
          dataSchema.fields.toSeq))
    }
    frames.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Table history as a DataFrame — one row per retained version with
    * its file count and streaming transaction identity (the DESCRIBE
    * HISTORY analog). Metadata only: reads manifests, never data. */
  def history(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    val (fs, p) = fsFor(spark, table)
    val vs = versions(spark, table)
    // ONE resolution for the oldest retained version, then roll the
    // file-path set forward with each version's own delta record — the
    // whole history costs O(versions) log reads plus one resolution,
    // where a per-version snapshot() would re-walk to a checkpoint each
    // time (quadratic-ish on a long-retention table).
    val rows = Seq.newBuilder[(Long, Long, Option[Long], Option[String],
      Option[Long])]
    if (vs.nonEmpty) {
      val first = snapshot(spark, table, Some(vs.head))
      val paths = scala.collection.mutable.LinkedHashSet(first.files: _*)
      rows += ((vs.head, paths.size.toLong, first.batchId, first.appId,
        readLog(fs, manifestPath(p, vs.head)).tsMillis))
      vs.tail.foreach { v =>
        val rec = readLog(fs, manifestPath(p, v))
        if (rec.full) {
          paths.clear()
          rec.adds.foreach(e => paths += e.path)
        } else {
          rec.removes.foreach(paths -= _)
          rec.adds.foreach(e => paths += e.path)
        }
        rows += ((v, paths.size.toLong, rec.batchId, rec.appId,
          rec.tsMillis))
      }
    }
    rows.result()
      .toDF("version", "n_files", "batch_id", "app_id", "commit_ts_ms")
  }

  /** Exact COUNT(*) of a snapshot, answered from the MANIFEST where
    * possible: every entry written since row counts were recorded
    * contributes its footer count with zero data IO; only older
    * entries are scanned, count-only. A fully-covered table answers
    * entirely from metadata — on a 100 TB table that is the difference
    * between a millisecond lookup and a full scan. Exact under
    * concurrent commits too: one snapshot resolution pins the entry
    * list. */
  def fastCount(spark: SparkSession, table: String,
                version: Option[Long] = None): Long = {
    val snap = snapshot(spark, table, version)
    val (known, unknown) = snap.entries.partition(_.rows.nonEmpty)
    val scanned =
      if (unknown.isEmpty) 0L
      else readSnapshotFiles(spark, table, snap, unknown.map(_.path))
        .count()
    // liveRows: footer count minus the file's deletion-vector rows —
    // MOR deletes keep COUNT(*) metadata-only (the scan branch is
    // DV-aware through readSnapshotFiles)
    known.flatMap(_.liveRows).sum + scanned
  }

  /** One-row table profile — the `DESCRIBE DETAIL` analog, manifests
    * only (no data IO, no listing): current version, file count, the
    * table properties (partition layout, stats/bloom columns + sizing,
    * CHECK constraints, schema), and the streaming identity. SQL
    * surface: `` SELECT * FROM graft_lake.`t$detail` ``. */
  def detail(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    val snap = snapshot(spark, table, None)
    // row count only when the manifest fully covers it — a partial sum
    // would understate silently, and null says "scan to know"
    val rows =
      if (snap.entries.nonEmpty && snap.entries.forall(_.rows.nonEmpty))
        Some(snap.entries.flatMap(_.liveRows).sum)
      else if (snap.entries.isEmpty) Some(0L)
      else None
    Seq((snap.version, snap.files.size.toLong, rows,
      partitionColsOf(snap).mkString(","),
      snapStatsCols(snap).mkString(","),
      snap.bloomCols.mkString(","), snap.bloomExpectedRows,
      snap.checks.map { case (n, sql) => s"$n: $sql" }.mkString("; "),
      snap.schema.map(_.json).getOrElse(""),
      snap.batchId, snap.appId,
      snap.entries.count(_.dv.nonEmpty).toLong,
      snap.entries.flatMap(_.dvRows).sum))
      .toDF("version", "n_files", "n_rows", "partition_cols", "stats_cols",
        "bloom_cols", "bloom_expected_rows", "checks", "schema_json",
        "batch_id", "app_id", "n_dv_files", "n_dv_rows")
  }

  /** Per-file inventory of the current snapshot — the `` `t$files` ``
    * metadata table (Iceberg's `files` / Delta's file-level DESCRIBE
    * DETAIL): one row per manifest entry with its recorded size, row
    * count, deletion-vector load, and first-stats-column bounds, all
    * from the MANIFEST (zero data IO). What an operator reads to
    * answer "why is this table slow" — small-file skew, DV
    * accumulation, stats coverage holes — before reaching for
    * OPTIMIZE/REORG. Driver-built like `history()`/`detail()`: the
    * entry list is already resolved driver-side; at extreme file
    * counts inspect a partition's subset via the path prefix. */
  def files(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    val snap = snapshot(spark, table, None)
    val statCol = snapStatsCols(snap).headOption
    snap.entries.map { e =>
      val r = statCol.flatMap(e.range)
      val sr = statCol.flatMap(e.strRange)
      (e.path, e.bytes, e.rows, e.dvRows.getOrElse(0L), e.liveRows,
        e.dv.nonEmpty, statCol.getOrElse(""),
        r.map(_.min.toString).orElse(sr.map(_.min)).getOrElse(""),
        r.map(_.max.toString).orElse(sr.flatMap(_.max)).getOrElse(""))
    }.toDF("path", "bytes", "rows", "dv_rows", "live_rows", "has_dv",
      "stats_col", "stats_min", "stats_max")
  }

  /** The version a data file was written under, parsed from its
    * `vNNNNNNNN-*.parquet` basename (partition directories stripped);
    * `.bin` covers deletion-vector sidecars, whose in-flight vacuum
    * protection rides the same version prefix. 8+ digits for the same
    * widening reason as [[ManifestRe]]. */
  private val DataFileRe = "^v(\\d{8,})-.*\\.(?:parquet|bin)$".r
  private val StagingRe = "^_staging-v(\\d{8,})-.*$".r
  private def dataFileVersion(relPath: String): Option[Long] =
    relPath.split('/').last match {
      case DataFileRe(v) => Some(v.toLong)
      case _ => None
    }

  /** ROLL BACK the table to `version`'s state as a NEW commit (Delta's
    * RESTORE): the old snapshot's entries — files, stats, deletion
    * vectors, schema, blooms, CHECK constraints — are re-published as a
    * base record at the head, so history is preserved (the bad commits
    * remain time-travelable until vacuum) and readers of the current
    * head switch atomically. Metadata-only: zero data IO — the restored
    * files still exist because `version` is retained (a vacuumed
    * version fails resolution by name). The STREAMING identity
    * (appId/batchId) keeps the HEAD's watermark, never the restored
    * version's: rolling the replay high-water mark back would re-admit
    * an already-committed streaming batch — the one part of table state
    * a rollback must not roll back. Incremental consumers see a base
    * commit (re-bootstrap), like any overwrite. */
  def restore(spark: SparkSession, table: String, version: Long): Long = {
    requireCommitScheme(table, fsFor(spark, table)._1)
    val (fs, p) = fsFor(spark, table)
    val head = snapshot(spark, table, None)
    if (head.version == version) return head.version // no-op
    val old = snapshot(spark, table, Some(version))
    commitLog(fs, p, full = true, adds = old.entries.map(_.line),
      removes = Nil, Some(head.version), head.batchId, head.appId,
      old.schema, Nil, old.bloomCols, old.bloomExpectedRows, old.checks)
  }

  /** Delete manifests older than the last `keepLast` versions and any
    * data file no retained manifest references. Returns the number of
    * data files deleted. Time travel to vacuumed versions is gone —
    * that is the retention contract. Before dropping, the oldest
    * RETAINED version is checkpointed if it wasn't already: with a
    * delta-record log, resolving a retained version must never need to
    * walk into the dropped range. */
  /** Zero-copy SHALLOW CLONE (Delta's `CREATE TABLE … SHALLOW CLONE`):
    * `target` becomes a NEW manifest table whose version-1 entries
    * reference the source snapshot's live files IN PLACE, relative
    * paths traversing from the clone's root (`../…`). At 100 TB this
    * is the dev/test/branching primitive — a full table copy costs a
    * metadata commit, after which the clone takes the entire native
    * DML surface: rewrites land in the CLONE's directory and the
    * borrowed entry is dropped from the clone's manifest only — the
    * source never observes the clone.
    *
    * Ownership contract: the clone BORROWS, never owns. Physical
    * deletion in this lake is listing-scoped ([[vacuumPlan]] only
    * enumerates files under its own root), so no clone maintenance
    * can ever delete a source file — by construction, not by guard.
    * The converse hazard is Delta's too: a `VACUUM`/`REORG` on the
    * SOURCE that drops a version the clone still references breaks
    * the clone. Keep source retention ≥ clone lifetime.
    *
    * Refusals, each by name: an existing target (CLONE creates, never
    * overwrites); a different source/target filesystem (a relative
    * traversal cannot cross schemes — copy instead); Hive-partitioned
    * sources (partition values live in path segments `basePath` must
    * reconstruct, and borrowed entries escape basePath); entries
    * carrying deletion vectors (`REORG … APPLY (PURGE)` first).
    * Recorded per-entry stats (numeric + string ranges, rows, bytes)
    * carry verbatim — skipping works on the clone immediately; CHECK
    * constraints carry; bloom configuration does NOT (bloom sidecars
    * are root-relative in the source — blooms re-establish as the
    * clone rewrites files). `version` clones a time-travel state. */
  def shallowClone(spark: SparkSession, source: String, target: String,
                   version: Option[Long] = None): Long = {
    val snap = snapshot(spark, source, version)
    val (sfs, sp) = fsFor(spark, source)
    val (tfs, tp) = fsFor(spark, target)
    requireCommitScheme(target, tfs)
    require(currentVersion(spark, target).isEmpty,
      s"shallow clone target $target already exists — CLONE creates a " +
        "new table; drop it first to re-clone")
    val sq = sfs.makeQualified(sp).toUri
    val tq = tfs.makeQualified(tp).toUri
    require(sq.getScheme == tq.getScheme &&
      java.util.Objects.equals(sq.getAuthority, tq.getAuthority),
      s"shallow clone cannot cross filesystems ($sq vs $tq) — a " +
        "relative reference cannot traverse schemes; copy the data " +
        "instead")
    snap.entries.find(_.dv.nonEmpty).foreach(e =>
      throw new IllegalArgumentException(
        s"source file ${e.path} carries a deletion vector — run REORG " +
          "TABLE … APPLY (PURGE) on the source before cloning (the " +
          "clone's sidecar references would resolve against the wrong " +
          "root)"))
    snap.entries.find(e => partitionValues(e.path).nonEmpty).foreach(e =>
      throw new IllegalArgumentException(
        s"source file ${e.path} is Hive-partitioned — partition values " +
          "live in path segments the clone's scan cannot reconstruct " +
          "for out-of-root entries; clone an unpartitioned table (CTAS " +
          "one if needed)"))
    // the relative traversal from the clone root to the source root
    def segs(u: java.net.URI): List[String] =
      u.getPath.split('/').filter(_.nonEmpty).toList
    val (s0, t0) = (segs(sq), segs(tq))
    val common = s0.zip(t0).takeWhile { case (a, b) => a == b }.length
    // NESTED roots refuse: each table's vacuum enumerates its own root
    // recursively, so a clone inside the source would have its local
    // rewrites collected by the SOURCE's vacuum (and a source inside
    // the clone, the reverse) — the ownership-by-listing argument only
    // holds for disjoint roots
    require(common < s0.length && common < t0.length,
      s"shallow clone target $tq equals or nests with the source $sq — " +
        "each table's VACUUM walks its own root recursively, so nested " +
        "roots would collect each other's files; clone to a disjoint " +
        "directory")
    val rel = (List.fill(t0.length - common)("..") ++
      s0.drop(common)).mkString("/")
    val entries = snap.entries.map(e => e.copy(path = s"$rel/${e.path}"))
    val schema = snap.schema.orElse(
      Some(read(spark, source, version).schema))
    commitLog(tfs, tp, full = true, adds = entries.map(_.line),
      removes = Nil, prev = None, schema = schema, checks = snap.checks)
  }

  def vacuum(spark: SparkSession, table: String, keepLast: Int = 2): Int = {
    val (fs, p) = fsFor(spark, table)
    val plan = vacuumPlan(spark, table, keepLast)
    // Before dropping, the oldest RETAINED version is checkpointed if it
    // wasn't already: with a delta-record log, resolving a retained
    // version must never need to walk into the dropped range.
    if (plan.dropVersions.nonEmpty && plan.keepVersions.nonEmpty)
      writeCheckpoint(fs, p, plan.keepVersions.head)
    plan.deadData.foreach(f => fs.delete(new Path(p, f), false))
    plan.deadBlooms.foreach(f => fs.delete(new Path(p, f), false))
    plan.deadDv.foreach(f => fs.delete(new Path(p, f), false))
    // a dropped version's recorded change files go with its manifest
    plan.deadChangeFiles.foreach(c => fs.delete(new Path(p, c), false))
    plan.dropVersions.foreach { v =>
      fs.delete(manifestPath(p, v), false)
      fs.delete(checkpointPath(p, v), false)
    }
    plan.deadStagingDirs.foreach(d => fs.delete(new Path(p, d), true))
    plan.deadData.length
  }

  /** What a [[vacuum]] at this retention WOULD delete — the planning
    * pass shared by vacuum itself and the `DRY RUN` SQL surface, so the
    * preview can never drift from the deletion logic. Read-only: no
    * checkpoint write, no deletes. */
  final case class VacuumPlan(dropVersions: Seq[Long],
                              keepVersions: Seq[Long],
                              deadData: Seq[String],
                              deadBlooms: Seq[String],
                              deadDv: Seq[String],
                              deadChangeFiles: Seq[String],
                              deadStagingDirs: Seq[String])

  def vacuumPlan(spark: SparkSession, table: String,
                 keepLast: Int = 2): VacuumPlan = {
    require(keepLast >= 1, "must retain at least the current version")
    val (fs, p) = fsFor(spark, table)
    val all = versions(spark, table)
    val (drop, keep) = all.splitAt(math.max(0, all.size - keepLast))
    // ONE snapshot resolution per retained version feeds BOTH liveness
    // sets (data files and DV sidecars) — a second per-version walk
    // would double vacuum's manifest-resolution cost for nothing
    val keepSnaps = keep.map(v => snapshot(spark, table, Some(v)))
    val live = keepSnaps.flatMap(_.files).toSet
    // The latest version any retained manifest has PUBLISHED. A write()
    // in flight right now is staging files for a HIGHER version — and it
    // renames them out of _staging into the table dir BEFORE its manifest
    // commit, so the _staging exclusion alone does not protect them: to
    // vacuum they look unreferenced. Files versioned AT or beyond the
    // newest retained manifest are therefore kept unconditionally ("at"
    // covers a REBASING append: its files briefly keep the lost
    // version's name — equal to the new head — until the retry
    // re-versions them); they become collectable only after their
    // version's successor is committed and has aged out of retention —
    // at which point a lost-race or abandoned commit's files are
    // genuinely dead.
    val maxRetained = keep.lastOption.getOrElse(0L)
    val dataFiles = listParquetRec(fs, p)
      .map(f => relativize(p, f))
      // never touch the manifest dir, a writer's staging area, or the
      // CDC sidecars (change files are version-scoped, not
      // snapshot-referenced — they're collected with their manifest
      // below, not by liveness)
      .filterNot(f => f.startsWith(ManifestDir) || f.startsWith("_staging")
        || f.startsWith(ChangesDir) || f.startsWith(DvDir))
      // `exists`, not `forall`: a basename that doesn't parse as
      // vNNNNNNNN-*.parquet can't be an in-flight writer's file (writers
      // always produce matching names), so a foreign/legacy parquet file
      // stays collectable when no retained manifest references it
      .filterNot(f => dataFileVersion(f).exists(_ >= maxRetained))
    val dead = dataFiles.filterNot(live)
    // Bloom sidecars are keyed by LIVENESS, not by the dead list: a
    // sidecar survives only while its data file is referenced by a
    // retained version or belongs to an in-flight writer (version >
    // maxRetained — writers stage sidecars BEFORE their manifest
    // commits). Anything else is collectable, including orphans from a
    // previous vacuum that crashed between the data delete and this
    // walk — the cleanup self-heals instead of leaking forever.
    val deadBlooms = Seq.newBuilder[String]
    val bdir = new Path(p, BloomsDir)
    if (fs.exists(bdir)) {
      def walkBlooms(dir: Path): Unit = fs.listStatus(dir).foreach { st =>
        if (st.isDirectory) walkBlooms(st.getPath)
        else {
          val rel = relativize(new Path(p, BloomsDir), st.getPath)
          // <datafile rel>.<col>.bloom -> strip the two suffix segments
          val dataRel = rel.split('.').dropRight(2).mkString(".")
          val inFlight = dataFileVersion(dataRel).exists(_ >= maxRetained)
          if (!live(dataRel) && !inFlight)
            deadBlooms += s"$BloomsDir/$rel"
        }
      }
      walkBlooms(bdir)
    }
    // Deletion-vector sidecars: live while ANY retained snapshot's
    // entry references them (older sidecars a newer cumulative vector
    // superseded become dead once no retained version points at them);
    // in-flight protection mirrors the data files' — a sidecar staged
    // for a version beyond the newest retained manifest belongs to a
    // committing writer.
    val deadDv = Seq.newBuilder[String]
    val dvdir = new Path(p, DvDir)
    if (fs.exists(dvdir)) {
      val liveDv = keepSnaps.flatMap(_.entries.flatMap(_.dv))
        .map(t => DeletionVectors.parseRef(t).rel).toSet
      fs.listStatus(dvdir).foreach { st =>
        val rel = s"$DvDir/${st.getPath.getName}"
        val inFlight = dataFileVersion(rel).exists(_ >= maxRetained)
        if (!liveDv(rel) && !inFlight) deadDv += rel
      }
    }
    // read dropped manifests BEFORE vacuum deletes them — the C lines
    // are the only reference to a version's recorded change files
    val deadChanges = drop.flatMap { v =>
      if (fs.exists(manifestPath(p, v)))
        readLog(fs, manifestPath(p, v)).changeFiles
      else Nil
    }
    // Abandoned staging dirs (crashed or lost-race writers). A live
    // writer always stages for version current+1 > maxRetained, so a
    // staging dir versioned at or below the newest retained manifest is
    // provably dead.
    val deadStaging = fs.listStatus(p).toSeq.flatMap { st =>
      st.getPath.getName match {
        case StagingRe(v) if v.toLong <= maxRetained =>
          Some(st.getPath.getName)
        case _ => None
      }
    }
    VacuumPlan(drop, keep, dead, deadBlooms.result(), deadDv.result(),
      deadChanges, deadStaging)
  }
}
