package graft.sources

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit, ReportsSourceMetrics, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graftbridge.StreamBridge
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampType}

/** One table format's commit log as [[VersionedSource]] reads it.
  * Positions are longs: lake and Delta versions, or Iceberg snapshot
  * ids. A position of `None` means "before the log's first commit". */
private[sources] trait VersionLog {
  def table: String
  /** The stream's schema, fixed when the stream starts. */
  def schema: StructType
  /** The name of the lag metric in streaming progress. */
  def lagMetric: String

  /** The positions after `from` up to and including `to` (`None` = the
    * newest), oldest first. A `from` that the log no longer holds
    * raises the format's named error. */
  def between(from: Option[Long], to: Option[Long]): Seq[Long]

  /** The exclusive lower bound for a numeric start option. */
  def startAfter(position: Long): Long

  /** The lag metric: how many commits follow `from`. Total — progress
    * reporting never raises; a `from` the log no longer holds raises
    * on the next trigger's [[between]] or [[batch]] instead. */
  def lag(from: Option[Long]): Long = between(from, None).size

  /** The rows of the commits in `(from, to]` as a batch (not yet
    * streaming) plan over file relations, or `None` when they add no
    * rows. Raises the format's named error for a commit it cannot
    * stream; a plan with no file relation fails the engine's
    * isStreaming check rather than stream empty. */
  def batch(from: Option[Long], to: Long): Option[DataFrame]
}

/** A table format's commits as a STRUCTURED STREAMING SOURCE: offsets
  * ARE log positions, so the engine's offset checkpoint is the only
  * state, and a restarted query resumes from its committed position
  * without re-emitting. A batch `(p1, p2]` reads each commit's own
  * changes (O(new files), never a snapshot resolution), and is handed
  * to the engine as a plain parquet scan rewrapped streaming
  * ([[StreamBridge.asStreaming]]), keeping the vectorized reader,
  * pruning and pushdown — the construction `FileStreamSource` uses.
  *
  * The per-format contract ([[VersionLog]] adapters below):
  * {{{
  *                 graft-lake              graft-delta             graft-iceberg
  *   start         startingVersion         startingVersion         startingSnapshot
  *     earliest    version 1 on            version 0 on            first snapshot on
  *     latest      commits after start     commits after start     snapshots after start
  *     numeric N   versions >= N           versions >= N           snapshots AFTER id N
  *   cap           maxVersionsPerTrigger   maxVersionsPerTrigger   maxSnapshotsPerTrigger
  *   lag metric    versionsBehind          versionsBehind          snapshotsBehind
  *   order         contiguous versions     contiguous versions     snapshot-log lineage
  *   first commit  v1 streams (initial     v0 streams even with    first snapshot streams
  *                 data, even as a base)   removes                 even if it rewrites
  *   rewrite       base commit or removed  remove actions          rewritten manifests or
  *                 files; maintenance                              added delete files;
  *                 commits are skipped                             expired start/end and
  *                                                                 schema drift refuse
  *   CDC columns   _change_type,           data, _change_type,     (no change feed)
  *                 _commit_version, data   _commit_version,
  *                                         _commit_timestamp
  * }}}
  * A refused rewrite names the commit and the way out; `ignoreChanges=
  * true` opts into emitting its added files (rows of rewritten files
  * re-emit — at-least-once on rewrites, exactly Delta's option).
  * `readChangeFeed=true` (lake and Delta) streams row-level changes
  * instead; a rewrite without recorded changes refuses there too.
  *
  * A `latest` start freezes "now" when the source is built (Kafka's
  * `startingOffsets=latest`). The cap bounds how many commits one
  * micro-batch drains. [[SupportsTriggerAvailableNow]]: an AvailableNow
  * run pins the newest position at trigger start and drains exactly
  * the commits that existed then, in as many batches as the cap
  * needs. The lag metric counts the commits the stream has not yet
  * drained — the number an operator alerts on. */
final class VersionedSource(spark: SparkSession, log: VersionLog,
                            start: String, maxPerTrigger: Int)
    extends Source with SupportsTriggerAvailableNow
    with ReportsSourceMetrics {

  override def schema: StructType = log.schema

  /** Position BEFORE the first streamed one (exclusive lower bound),
    * evaluated once at source construction. */
  private val boundary: Option[Long] = start match {
    case "earliest" => None
    case "latest" => log.between(None, None).lastOption
    case v => Some(log.startAfter(v.toLong))
  }

  private def positionOf(o: String): Long = o.trim.toLong

  /** Newest position pinned by an AvailableNow trigger at run start. */
  @volatile private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = log.between(None, None).lastOption

  private def pending(from: Option[Long]): Seq[Long] =
    log.between(from, availableNowCap)

  override def getOffset: Option[OffsetV1] =
    pending(boundary).lastOption.map(new LongOffset(_))

  /** Admission-control form of [[getOffset]] (what the engine calls
    * under AvailableNow): the commit is the unit of consumption, and
    * the cap bounds how many of them one batch drains. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = Option(start).map(o => positionOf(o.json)).orElse(boundary)
    pending(from).take(maxPerTrigger).lastOption.map(new LongOffset(_)).orNull
  }

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val from = start.map(o => positionOf(o.json)).orElse(boundary)
    log.batch(from, positionOf(end.json))
      .fold(StreamBridge.emptyStreaming(spark, schema))(
        StreamBridge.asStreaming(_))
  }

  override def metrics(latestConsumedOffset: java.util.Optional[Offset])
      : java.util.Map[String, String] = {
    val consumed =
      if (latestConsumedOffset.isPresent)
        Some(positionOf(latestConsumedOffset.get.json))
      else boundary
    java.util.Collections.singletonMap(log.lagMetric,
      log.lag(consumed).toString)
  }

  override def stop(): Unit = ()

  override def toString: String = s"VersionedSource[${log.table}]"
}

/** The `DataSourceRegister` side of [[VersionedSource]]: the table path,
  * the start option and the cap option, parsed the same way for each
  * format. A subclass opens its format's [[VersionLog]]. */
abstract class VersionedSourceProvider(name: String, startKey: String,
                                       capKey: String)
    extends StreamSourceProvider with DataSourceRegister {

  override def shortName(): String = name

  /** The format's log under `schema` (a user-declared one, else the
    * table's). */
  private[sources] def open(spark: SparkSession, table: String,
                            schema: Option[StructType],
                            parameters: Map[String, String]): VersionLog

  protected def flag(parameters: Map[String, String], key: String): Boolean =
    parameters.get(key).exists(_.toBoolean)

  private def tablePath(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      s"$name stream needs a table path: .load(dir) or " +
        ".option(\"path\", dir)"))

  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String])
      : (String, StructType) =
    (shortName(), schema.getOrElse(open(sqlContext.sparkSession,
      tablePath(parameters), None, parameters).schema))

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): Source =
    new VersionedSource(sqlContext.sparkSession,
      open(sqlContext.sparkSession, tablePath(parameters), schema,
        parameters),
      parameters.getOrElse(startKey.toLowerCase, "earliest"),
      parameters.get(capKey.toLowerCase).map(_.toInt)
        .getOrElse(Int.MaxValue))
}

/** The manifest lake as a stream:
  * `spark.readStream.format("graft-lake").load(tableDir)`. Versions
  * resolve through [[ManifestLake.currentVersion]] (a bounded probe on
  * checkpointed tables) and [[ManifestLake.changesBetween]]; paired
  * with [[ManifestLake.writeBatch]] on the sink side this closes the
  * lake-to-lake exactly-once loop. */
final class LakeStreamProvider extends VersionedSourceProvider(
    "graft-lake", "startingVersion", "maxVersionsPerTrigger") {

  private[sources] def open(spark: SparkSession, table: String,
                            schema: Option[StructType],
                            parameters: Map[String, String]): VersionLog = {
    val cdc = flag(parameters, "readchangefeed")
    new LakeLog(spark, table, schema.getOrElse {
      val data = ManifestLake.read(spark, table).schema
      if (!cdc) data
      else StructType(StructField("_change_type", StringType, nullable = false) +:
        StructField("_commit_version", LongType, nullable = false) +:
        data.fields)
    }, flag(parameters, "ignorechanges"), cdc)
  }
}

private final class LakeLog(spark: SparkSession, val table: String,
                            val schema: StructType, ignoreChanges: Boolean,
                            readChangeFeed: Boolean) extends VersionLog {

  def lagMetric: String = "versionsBehind"

  def between(from: Option[Long], to: Option[Long]): Seq[Long] =
    to.orElse(ManifestLake.currentVersion(spark, table))
      .fold(Seq.empty[Long])(end => (from.getOrElse(0L) + 1) to end)

  def startAfter(position: Long): Long = position - 1

  def batch(from: Option[Long], to: Long): Option[DataFrame] =
    if (readChangeFeed) changeBatch(from.getOrElse(0L), to)
    else {
      val entries =
        ManifestLake.changesBetween(spark, table, from.getOrElse(0L), to)
          .flatMap { ch =>
            // maintenance commits (compaction/bin-packing) are NET-ZERO
            // row changes: the same rows, laid out better
            if (ch.maintenance) Nil
            else {
              val rewrite =
                if (ch.base) ch.version != 1 // first commit = initial data
                else ch.removed.nonEmpty
              if (rewrite && !ignoreChanges)
                throw new UnsupportedOperationException(
                  s"version ${ch.version} of $table is a " +
                    (if (ch.base) "base commit (overwrite)"
                     else "rewrite (merge/delete removed files)") +
                    " — not incrementally streamable. Set ignoreChanges=true " +
                    "to emit its added files (rows of rewritten files will " +
                    "re-emit), or stream from a version past it.")
              ch.added
            }
          }
      // the entry-level read honors dv= annotations: an ignoreChanges
      // re-emission of a deletion-vectored file serves only its LIVE
      // rows, through a per-file predicate the streaming conversion
      // leaves legal
      if (entries.isEmpty) None
      else Some(ManifestLake.readEntries(spark, table, Some(schema), entries)
        .select(schema.fieldNames.map(col): _*))
    }

  /** Recorded change files scan verbatim, pure appends emit their added
    * files as inserts, and a rewrite WITHOUT recorded change files
    * raises — every frame stays a plain scan + projection (the
    * on-demand EXCEPT ALL diff is not a legal streaming plan).
    * Metadata-only commits contribute nothing. */
  private def changeBatch(from: Long, to: Long): Option[DataFrame] = {
    val dataFields = schema.fields.toSeq.filterNot(f =>
      f.name == "_change_type" || f.name == "_commit_version")
    val base = new org.apache.hadoop.fs.Path(table)
    def align(df: DataFrame, version: Long,
              changeType: org.apache.spark.sql.Column): DataFrame =
      df.select(changeType.as("_change_type") +:
        lit(version).as("_commit_version") +:
        dataFields.map(f =>
          if (df.columns.contains(f.name)) col(f.name)
          else lit(null).cast(f.dataType).as(f.name)): _*)
    ManifestLake.changesBetween(spark, table, from, to)
      .flatMap { ch =>
        if (ch.maintenance) None
        else if (ch.changeFiles.nonEmpty)
          Some(align(spark.read.parquet(ch.changeFiles.map(f =>
              new org.apache.hadoop.fs.Path(base, f).toString): _*),
            ch.version, col("_change_type")))
        else if (ch.removed.nonEmpty || (ch.base && ch.version != 1))
          throw new UnsupportedOperationException(
            s"version ${ch.version} of $table rewrote data without a " +
              "recorded change feed — run merge/delete with " +
              "recordChangeFeed = true to stream its changes, or start " +
              "the stream past it.")
        else if (ch.added.isEmpty) None // metadata-only commit
        else Some(align(
          spark.read.option("basePath", table)
            .schema(StructType(dataFields.toArray))
            .parquet(ch.added.map(e =>
              new org.apache.hadoop.fs.Path(base, e.path).toString): _*),
          ch.version, lit("insert")))
      }
      .reduceOption(_.unionByName(_))
  }
}

/** A Delta-log table another engine writes, as a stream:
  * `spark.readStream.format("graft-delta").load(tableDir)`. A batch
  * parses each commit's OWN JSON actions ([[DeltaInterop.changesAt]])
  * and reads the added files with partition values from the log. The
  * schema and partition columns resolve ONCE at stream start: a
  * mid-stream metaData change does not retype in-flight batches
  * (Delta's own behavior). */
final class DeltaStreamProvider extends VersionedSourceProvider(
    "graft-delta", "startingVersion", "maxVersionsPerTrigger") {

  private[sources] def open(spark: SparkSession, table: String,
                            schema: Option[StructType],
                            parameters: Map[String, String]): VersionLog = {
    val st = DeltaInterop.state(spark, table, None)
    val cdf = flag(parameters, "readchangefeed")
    new DeltaLog(spark, table, schema.getOrElse(
      if (!cdf) st.schema
      else StructType(st.schema.fields ++ Seq(
        StructField("_change_type", StringType),
        StructField("_commit_version", LongType),
        StructField("_commit_timestamp", TimestampType)))),
      st.partitionColumns, flag(parameters, "ignorechanges"), cdf)
  }
}

private final class DeltaLog(spark: SparkSession, val table: String,
                             val schema: StructType,
                             partitionColumns: Seq[String],
                             ignoreChanges: Boolean, readChangeFeed: Boolean)
    extends VersionLog {

  def lagMetric: String = "versionsBehind"

  def between(from: Option[Long], to: Option[Long]): Seq[Long] =
    to.orElse(DeltaInterop.currentVersion(spark, table))
      .fold(Seq.empty[Long])(end => (from.getOrElse(-1L) + 1) to end)

  def startAfter(position: Long): Long = position - 1

  def batch(from: Option[Long], to: Long): Option[DataFrame] = {
    val first = from.getOrElse(-1L) + 1
    // CHANGE-DATA-FEED mode: the row-level changes of the range, with
    // the feed's refusals (feed disabled, DV derivation, mid-range
    // schema change) surfacing as stream failures rather than wrong
    // rows; removes ARE the deletes here, so ignoreChanges is moot
    if (readChangeFeed) {
      // a range of metadata-only commits yields a LOCAL empty frame
      // that asStreaming cannot re-mark
      val cf = DeltaInterop.changeFeed(spark, table, first, to)
      return Some(cf).filter(StreamBridge.asStreaming(_).isStreaming)
    }
    val added = (first to to).flatMap { v =>
      val ch = DeltaInterop.changesAt(spark, table, v)
      if (ch.removed.nonEmpty && v != 0 && !ignoreChanges)
        throw new UnsupportedOperationException(
          s"version $v of $table removed files (overwrite/merge/delete " +
            "rewrite) — not incrementally streamable. Set " +
            "ignoreChanges=true to emit its added files (rows of " +
            "rewritten files will re-emit), or stream from a version " +
            "past it.")
      ch.added
    }
    if (added.isEmpty) None
    else Some(DeltaInterop.filesToDF(spark, table, schema, partitionColumns,
      added))
  }
}

/** An Iceberg table another engine writes, as a stream:
  * `spark.readStream.format("graft-iceberg").load(tableDir)`. Snapshot
  * ids are RANDOM longs, so order comes from the snapshot-log lineage
  * ([[IcebergInterop.snapshotLineage]]), never from id magnitude. A
  * batch emits each snapshot's appended files from its manifest-list
  * DIFF ([[IcebergInterop.changesAt]]) through the read kernel, so
  * identity-partition fill and vectorized reads apply. Schema and
  * specs resolve ONCE at stream start. */
final class IcebergStreamProvider extends VersionedSourceProvider(
    "graft-iceberg", "startingSnapshot", "maxSnapshotsPerTrigger") {

  private[sources] def open(spark: SparkSession, table: String,
                            schema: Option[StructType],
                            parameters: Map[String, String]): VersionLog = {
    val st = IcebergInterop.state(spark, table, None)
    new IcebergLog(spark, table, schema.getOrElse(st.schema), st.specs,
      flag(parameters, "ignorechanges"))
  }
}

private final class IcebergLog(spark: SparkSession, val table: String,
    val schema: StructType, specs: Map[Int, Seq[IcebergInterop.SpecField]],
    ignoreChanges: Boolean) extends VersionLog {

  def lagMetric: String = "snapshotsBehind"

  def between(from: Option[Long], to: Option[Long]): Seq[Long] = {
    val l = IcebergInterop.snapshotLineage(spark, table)
    val capped = to.fold(l) { c =>
      val i = l.indexOf(c)
      if (i < 0) l else l.take(i + 1)
    }
    after(capped, from)
  }

  /** An exclusive start: the stream anchors AFTER the named snapshot. */
  def startAfter(position: Long): Long = position

  /** An expired `from` counts the whole lineage as behind. */
  override def lag(from: Option[Long]): Long = {
    val l = IcebergInterop.snapshotLineage(spark, table)
    l.length - from.fold(0)(id => l.indexOf(id) + 1)
  }

  /** Lineage strictly after `from`; a from-id no longer in the lineage
    * refuses by name — it was expired, and guessing a restart point
    * would re-emit or skip data. */
  private def after(l: Seq[Long], from: Option[Long]): Seq[Long] =
    from.fold(l) { id =>
      val i = l.indexOf(id)
      if (i < 0) throw new IllegalArgumentException(
        s"snapshot $id of $table is no longer in the snapshot-log — " +
          "it was expired; the stream cannot resume from it")
      l.drop(i + 1)
    }

  def batch(from: Option[Long], to: Long): Option[DataFrame] = {
    val l = IcebergInterop.snapshotLineage(spark, table)
    val pending = after(l, from)
    val endIdx = pending.indexOf(to)
    // a checkpointed batch whose end snapshot left the lineage was
    // expired out from under the stream (restart recovery re-issues
    // the last committed batch) — refuse by name, never re-guess
    require(endIdx >= 0,
      s"end snapshot $to of $table is not ahead of $from in the " +
        "snapshot-log — it was expired, or the table history changed " +
        "under the stream; the checkpoint cannot resume against this " +
        "table state")
    val added = pending.take(endIdx + 1).flatMap { id =>
      val idx = l.indexOf(id)
      val parent = if (idx > 0) Some(l(idx - 1)) else None
      val ch = IcebergInterop.changesAt(spark, table, id, parent)
      if ((ch.rewrites || ch.addedDeletes) && parent.nonEmpty &&
        !ignoreChanges)
        throw new UnsupportedOperationException(
          s"snapshot $id of $table rewrites manifests or adds delete " +
            "files (overwrite/compaction/merge-on-read) — not " +
            "incrementally streamable. Set ignoreChanges=true to emit " +
            "its appended data files (rows of rewritten files will " +
            "re-emit), or stream from a snapshot past it.")
      ch.added
    }
    if (added.isEmpty) None
    else {
      // schema drift: the stream's schema was locked at start, and a
      // metadata-only evolution (rename/add/drop) can land under it.
      // Refuse by name when the table's shape at the batch end no
      // longer matches — a name-based read of new-schema files would
      // serve silent nulls. When the shape DOES match, the state's
      // evolution evidence rides along so files from any intermediate
      // schema generation still resolve by field id.
      val stNow = IcebergInterop.state(spark, table, Some(to))
      def shape(s: StructType) =
        s.fields.toSeq.map(f => (f.name, f.dataType))
      if (shape(stNow.schema) != shape(schema))
        throw new UnsupportedOperationException(
          s"the schema of $table evolved under the stream (stream " +
            s"locked ${schema.simpleString}, table now " +
            s"${stNow.schema.simpleString}) — restart the stream to " +
            "pick up the new schema")
      Some(IcebergInterop.toDF(spark,
        IcebergInterop.IceState(0L, to, schema, added, specs = specs,
          evo = stNow.evo, table = table)))
    }
  }
}
