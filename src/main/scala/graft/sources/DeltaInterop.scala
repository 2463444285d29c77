package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, regexp_replace, timestamp_millis, when}
import org.apache.spark.sql.types.{ByteType, DataType, DoubleType, FloatType, IntegerType, LongType, Metadata, MetadataBuilder, ShortType, StringType, StructField, StructType, TimestampType}

/** Delta Lake TRANSACTION-LOG interop, pure Spark — no delta-spark jar.
  *
  * The Delta log format is an open specification (delta.io PROTOCOL.md):
  * a `_delta_log/` directory of numbered JSON commits
  * (`%020d.json`, one action object per line — `add` / `remove` /
  * `metaData` / `protocol` / `commitInfo` / `txn`), periodically
  * compacted into a parquet checkpoint (`%020d.checkpoint.parquet`,
  * one nullable struct column per action type) named by
  * `_last_checkpoint`. This module implements that format directly:
  *
  *   - [[read]] / [[readVersion]] replay the log — newest checkpoint at
  *     or below the target version, then the JSON tail — into the live
  *     file set, attach each file's `partitionValues` from the LOG (the
  *     protocol's source of truth — never inferred from directory
  *     names), and serve the table under `metaData.schemaString`.
  *     Unsupported protocol requirements (reader version > 1, reader
  *     features, deletion vectors, column mapping) raise
  *     [[UnsupportedDeltaFeatureException]] BY NAME — never a silently
  *     wrong read.
  *   - [[write]] produces a conformant table delta-spark can open:
  *     parquet data files staged then renamed in, and a commit whose
  *     rename-if-absent publication is the same optimistic protocol
  *     real Delta uses on HDFS-semantics filesystems. Appends verify
  *     the schema against the recorded `metaData`; overwrites emit
  *     `remove` actions for every previously-live file.
  *   - [[checkpoint]] compacts the log into a single-part checkpoint +
  *     `_last_checkpoint`, exactly the artifact [[read]] consumes.
  *
  * Division of labor vs [[ManifestLake]]: the manifest lake is this
  * repo's native format (DVs, bloom sidecars, generated partitioning,
  * CDF...); DeltaInterop is the COMPATIBILITY surface — read a table
  * someone else's Delta writer produced, or hand one back. Log replay
  * is driver-side over O(files) metadata, the same cost model as the
  * manifest (and as Delta's own driver-side state reconstruction).
  */
object DeltaInterop {

  final class UnsupportedDeltaFeatureException(msg: String)
    extends RuntimeException(msg)

  final class ConcurrentDeltaCommitException(msg: String)
    extends RuntimeException(msg)

  /** One live data file: `path` is table-root-relative and URL-decoded;
    * `partitionValues` are the log's string-encoded values (null =
    * null partition value). */
  final case class DeltaAdd(path: String,
                            partitionValues: Map[String, Option[String]],
                            size: Long,
                            dv: Option[DeltaDv.DvDescriptor] = None,
                            stats: Option[String] = None,
                            dataChange: Boolean = true,
                            baseRowId: Option[Long] = None,
                            defaultRowCommitVersion: Option[Long] = None)

  /** Reconstructed table state at one version. `columnMappingMode` is
    * the recorded `delta.columnMapping.mode` (`none` / `name` / `id`);
    * when mapped, data files carry PHYSICAL column names from the
    * schema fields' `delta.columnMapping.physicalName` metadata.
    * `configuration` is the recorded metaData configuration map and
    * `metaId` the table's stable metaData id — both carried forward
    * by commits that republish metaData. */
  final case class DeltaState(version: Long, schema: StructType,
                              partitionColumns: Seq[String],
                              files: Seq[DeltaAdd],
                              columnMappingMode: String = "none",
                              configuration: Map[String, String] = Map.empty,
                              metaId: Option[String] = None,
                              minReaderVersion: Int = 1,
                              readerFeatures: Seq[String] = Nil,
                              minWriterVersion: Int = 2,
                              writerFeatures: Seq[String] = Nil,
                              appTransactions: Map[String, Long] =
                                Map.empty,
                              domains: Map[String, String] = Map.empty)

  /** Test seam: runs between a write's version choice and its commit
    * publication — lets a spec interleave a racing commit
    * deterministically (the ManifestLake.maintenanceRaceHook pattern). */
  private[sources] val commitRaceHook =
    new java.util.concurrent.atomic.AtomicReference[() => Unit](() => ())

  /** Bounded blind-append retries after a lost version race — the
    * ManifestLake `MaxCommitRebases` discipline. */
  private val MaxCommitRetries = 10

  private val JsonRe = """(\d{20})\.json""".r
  private val CkRe = """(\d{20})\.checkpoint\.parquet""".r
  private val CkPartRe = """(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet""".r
  // v2 checkpoints: <version>.checkpoint.<uniqueId>.{json|parquet} —
  // the uniqueId never contains dots, so multi-part names don't match
  private val CkV2Re = """(\d{20})\.checkpoint\.([A-Za-z0-9_-]+)\.(json|parquet)""".r

  private def hadoopFs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  // ---------------------------------------------------------------- read

  def read(spark: SparkSession, table: String): DataFrame =
    toDF(spark, table, state(spark, table, None))

  def readVersion(spark: SparkSession, table: String,
                  version: Long): DataFrame =
    toDF(spark, table, state(spark, table, Some(version)))

  /** PARTITION-PRUNED read — Delta partitioning is identity-only, so
    * each add action's string-encoded `partitionValues` decide
    * directly whether the file can hold a match: equality and closed
    * ranges prune on the decoded value, a recorded NULL prunes both
    * (neither `=` nor BETWEEN matches null), and anything undecodable
    * fails OPEN — then the full predicate applies EXACTLY to the
    * survivors, so the result is always `read(...).filter(...)` from
    * fewer files. Timestamp values decode in the SESSION zone, the
    * same zone the read kernel reconstructs partition columns in, so
    * prune verdict and reconstructed value cannot disagree. O(live
    * files) driver-side over already-replayed log state. */
  def readWhere(spark: SparkSession, table: String,
                preds: Seq[ScanPredicate],
                version: Option[Long] = None): DataFrame =
    ScanPredicates.residual(readPruned(spark, table, preds, version),
      preds)

  /** The prune WITHOUT the residual — for callers that already hold
    * the full predicate in their plan (the SQL rule keeps the original
    * Filter above the swapped-in scan). Columns resolve
    * case-insensitively, matching SQL analysis. */
  def readPruned(spark: SparkSession, table: String,
                 preds: Seq[ScanPredicate],
                 version: Option[Long] = None): DataFrame = {
    val st = state(spark, table, version)
    def exact(c: String): String =
      st.schema.fieldNames.find(_.equalsIgnoreCase(c)).getOrElse(c)
    val resolved = preds.map {
      case ScanEq(c, v) => ScanEq(exact(c), v)
      case ScanBetween(c, lo, hi) => ScanBetween(exact(c), lo, hi)
    }
    val zone = java.time.ZoneId.of(
      spark.sessionState.conf.sessionLocalTimeZone)
    val kept = st.files.filter(a =>
      !resolved.exists(p => filePrunes(a, st, zone, p)))
    filesToDF(spark, table, st.schema, st.partitionColumns, kept,
      st.columnMappingMode)
  }

  /** True when `a`'s recorded partition value OR its `stats` JSON
    * bounds PROVE no row matches `pred`; every uncertainty keeps the
    * file. Stats are the manifest-level analog of parquet footer
    * skipping — they prune columns no partition layout covers.
    * (delta-spark's truncated string maxValues are padded upward, so
    * trusting them stays sound, the same writer-conformance trust
    * every stat consumer extends.) */
  private[sources] def filePrunes(a: DeltaAdd, st: DeltaState,
      zone: java.time.ZoneId, pred: ScanPredicate): Boolean = {
    import ScanPredicates.{canonicalValue, compareValues}
    // under column mapping partitionValues AND stats are keyed by the
    // column's recorded PHYSICAL name — translate the logical
    // predicate column once, then prune identically
    val field = st.schema.find(_.name == pred.column) match {
      case Some(f) => f
      case None => return false
    }
    val dt = field.dataType
    val key =
      if (st.columnMappingMode == "none") pred.column
      else physicalName(field)
    def outsideStats: Boolean = a.stats.exists { s =>
      import org.json4s._
      scala.util.Try(org.json4s.jackson.JsonMethods.parse(s)).toOption
        .exists { j =>
          def bound(which: String): Option[Either[Long, String]] =
            (j \ which \ key) match {
              case JNothing | JNull => None
              case v => statsBound(dt, v, zone)
            }
          val lb = bound("minValues")
          val ub = bound("maxValues")
          pred match {
            case ScanEq(_, v) => canonicalValue(dt, v).exists(cv =>
              lb.flatMap(compareValues(cv, _)).exists(_ < 0) ||
                ub.flatMap(compareValues(cv, _)).exists(_ > 0))
            case ScanBetween(_, lo, hi) =>
              canonicalValue(dt, hi).exists(ch =>
                lb.flatMap(compareValues(ch, _)).exists(_ < 0)) ||
                canonicalValue(dt, lo).exists(cl =>
                  ub.flatMap(compareValues(cl, _)).exists(_ > 0))
          }
        }
    }
    if (outsideStats) return true
    if (!st.partitionColumns.contains(pred.column)) return false
    a.partitionValues.get(key) match {
      case None => false // absent from the action: fail open
      case Some(None) => true // recorded null: no predicate matches
      case Some(Some(s)) =>
        partitionValue(dt, s, zone) match {
          case None => false
          case Some(stored) => pred match {
            case ScanEq(_, v) =>
              (for {
                cv <- canonicalValue(dt, v)
                c <- compareValues(stored, cv)
              } yield c != 0).getOrElse(false)
            case ScanBetween(_, lo, hi) =>
              (for {
                cl <- canonicalValue(dt, lo)
                ch <- canonicalValue(dt, hi)
                cLo <- compareValues(stored, cl)
                cHi <- compareValues(stored, ch)
              } yield cLo < 0 || cHi > 0).getOrElse(false)
          }
        }
    }
  }

  /** The add action's `stats` JSON from canonical bounds —
    * [[statsBound]]'s inverse, so what this writer records is exactly
    * what the pruner reads back. Timestamps render as ISO instants
    * (stats are UTC-normalized), dates as ISO dates. */
  private def statsJson(rows: Long,
      lower: Map[String, Either[Long, String]],
      upper: Map[String, Either[Long, String]],
      schema: StructType): String = {
    import org.apache.spark.sql.types._
    def render(c: String, v: Either[Long, String]): Option[String] =
      (schema.find(_.name == c).map(_.dataType), v) match {
        case (Some(ByteType | ShortType | IntegerType | LongType),
          Left(l)) => Some(l.toString)
        case (Some(StringType), Right(s)) => Some(jstr(s))
        case (Some(DateType), Left(days)) =>
          Some(jstr(java.time.LocalDate.ofEpochDay(days).toString))
        case (Some(TimestampType), Left(us)) =>
          Some(jstr(java.time.Instant.ofEpochSecond(
            Math.floorDiv(us, 1000000L),
            Math.floorMod(us, 1000000L) * 1000L).toString))
        case (Some(TimestampNTZType), Left(us)) =>
          Some(jstr(java.time.LocalDateTime.ofEpochSecond(
            Math.floorDiv(us, 1000000L),
            (Math.floorMod(us, 1000000L) * 1000L).toInt,
            java.time.ZoneOffset.UTC).toString))
        case _ => None
      }
    def obj(m: Map[String, Either[Long, String]]): String =
      m.toSeq.sortBy(_._1).flatMap { case (c, v) =>
        render(c, v).map(r => s"${jstr(c)}:$r")
      }.mkString("{", ",", "}")
    s"""{"numRecords":$rows,"minValues":${obj(lower)},""" +
      s""""maxValues":${obj(upper)}}"""
  }

  /** One `stats` min/max JSON scalar decoded per column type to the
    * canonical compare shape; unparseable → None (fail open).
    * Timestamps parse as ISO instants, ISO locals (Delta normalizes
    * stats to UTC), or the space format in the session zone. */
  private def statsBound(dt: org.apache.spark.sql.types.DataType,
      v: org.json4s.JValue,
      zone: java.time.ZoneId): Option[Either[Long, String]] = {
    import org.apache.spark.sql.types._
    import org.json4s._
    def micros(i: java.time.Instant): Long =
      Math.multiplyExact(i.getEpochSecond, 1000000L) + i.getNano / 1000
    def num: Option[Long] = v match {
      case JInt(i) => Some(i.toLong)
      case JLong(l) => Some(l)
      case _ => None
    }
    def str0: Option[String] = v match {
      case JString(s) => Some(s)
      case _ => None
    }
    def tsMicros(s: String): Option[Long] =
      scala.util.Try(micros(java.time.Instant.parse(s))).toOption
        .orElse(scala.util.Try(micros(
          java.time.LocalDateTime.parse(s)
            .toInstant(java.time.ZoneOffset.UTC))).toOption)
        .orElse(scala.util.Try(micros(
          java.time.LocalDateTime.parse(s, ScanPredicates.PartitionTsFmt)
            .atZone(zone).toInstant)).toOption)
    dt match {
      case ByteType | ShortType | IntegerType | LongType => num.map(Left(_))
      case StringType => str0.map(Right(_))
      case DateType => str0.flatMap(s => scala.util.Try(
        java.time.LocalDate.parse(s).toEpochDay).toOption).map(Left(_))
      case TimestampType => str0.flatMap(tsMicros).map(Left(_))
      case TimestampNTZType => str0.flatMap(s =>
        scala.util.Try(Math.multiplyExact(
          java.time.LocalDateTime.parse(s.stripSuffix("Z"))
            .toEpochSecond(java.time.ZoneOffset.UTC), 1000000L) +
          java.time.LocalDateTime.parse(s.stripSuffix("Z")).getNano / 1000)
          .toOption).map(Left(_))
      case _ => None
    }
  }

  /** The protocol's partition-value string decoded per column type to
    * the canonical compare shape; unparseable → None (fail open). */
  private def partitionValue(dt: org.apache.spark.sql.types.DataType,
      s: String, zone: java.time.ZoneId): Option[Either[Long, String]] = {
    import org.apache.spark.sql.types._
    def tsLocal: Option[java.time.LocalDateTime] =
      scala.util.Try(
        java.time.LocalDateTime.parse(s.trim,
          ScanPredicates.PartitionTsFmt)).toOption
    def micros(i: java.time.Instant): Long =
      Math.multiplyExact(i.getEpochSecond, 1000000L) + i.getNano / 1000
    dt match {
      case StringType => Some(Right(s))
      case ByteType | ShortType | IntegerType | LongType =>
        scala.util.Try(Left(s.trim.toLong)).toOption
      case DateType => scala.util.Try(
        Left(java.time.LocalDate.parse(s.trim).toEpochDay)).toOption
      case TimestampType =>
        tsLocal.map(l => Left(micros(l.atZone(zone).toInstant)))
          .orElse(scala.util.Try(
            Left(micros(java.time.Instant.parse(s.trim)))).toOption)
      case TimestampNTZType =>
        tsLocal.map(l => Left(Math.multiplyExact(
          l.toEpochSecond(java.time.ZoneOffset.UTC), 1000000L) +
          l.getNano / 1000))
      case _ => None
    }
  }

  /** Replay the log into the live state at `version` (default: head). */
  def state(spark: SparkSession, table: String,
            version: Option[Long]): DeltaState = {
    val logDir = new Path(table, "_delta_log")
    val fs = hadoopFs(spark, logDir)
    require(fs.exists(logDir), s"not a Delta table: no _delta_log under $table")
    val names = fs.listStatus(logDir).map(_.getPath.getName)
    val jsonVersions = names.collect { case JsonRe(v) => v.toLong }.sorted
    require(jsonVersions.nonEmpty, s"empty Delta log under $table")
    val head = jsonVersions.max
    val target = version.getOrElse(head)
    require(target <= head,
      s"version $target does not exist in $table (head is $head)")
    // newest checkpoint at or below the target — from the LISTING, not
    // only _last_checkpoint: the hint is an optimization delta-spark
    // also treats as best-effort, and it may point past a time-travel
    // target
    val ckSingle = names.collect { case CkRe(v) => v.toLong }
    // a multi-part checkpoint is usable only when ALL of its N-of-M
    // parts landed: a writer that crashed mid-write leaves a partial
    // part set, and replaying it would silently drop the missing
    // parts' add actions — delta-spark skips such versions, and so
    // does this reader (falling back to the next older checkpoint)
    val ckParts = names.collect { case CkPartRe(v, part, of) =>
      (v.toLong, part.toLong, of.toLong)
    }
    val ckMultiComplete = ckParts.groupBy(_._1).collect {
      case (v, parts) if parts.map(_._3).distinct.length == 1 &&
        parts.map(_._2).toSet == (1L to parts.head._3).toSet => v
    }
    // v2 checkpoints (checkpointPolicy = v2): one
    // `<v>.checkpoint.<uuid>.{json|parquet}` top-level file whose
    // add/remove rows may live in SIDECAR parquet files under
    // `_delta_log/_sidecars/`
    val ckV2 = names.collect { case n @ CkV2Re(v, _, ext) =>
      (v.toLong, n, ext)
    }
    val ck = (ckSingle ++ ckMultiComplete ++ ckV2.map(_._1))
      .filter(_ <= target).sorted.lastOption
    // without a checkpoint at or below the target, resolution must
    // replay from version 0 — a log whose oldest JSON is later (log
    // cleanup, vacuum) cannot serve the target at all; refuse by name
    // instead of a FileNotFoundException from the replay
    require(ck.nonEmpty || jsonVersions.min == 0,
      s"version $target of $table is no longer resolvable — log " +
        s"cleanup (vacuum) removed the commits below " +
        s"${jsonVersions.min} and no checkpoint at or below $target " +
        "survives")

    var files = scala.collection.mutable.LinkedHashMap.empty[String, DeltaAdd]
    val txns = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val domains = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var schema: Option[StructType] = None
    var partCols: Seq[String] = Nil
    var mappingMode: String = "none"
    var config: Map[String, String] = Map.empty
    var metaId: Option[String] = None
    var protoReader: Int = 1
    var protoFeatures: Seq[String] = Nil
    var protoWriter: Int = 2
    var protoWriterFeatures: Seq[String] = Nil

    def checkProtocol(minReader: Int, readerFeatures: Seq[String],
                      minWriter: Int, writerFeatures: Seq[String]): Unit = {
      protoReader = minReader
      protoFeatures = readerFeatures
      protoWriter = minWriter
      protoWriterFeatures = writerFeatures
      // reader version 3 tables declare table features by name; this
      // reader serves deletionVectors (per-file predicate in the read
      // kernel), columnMapping (physical-name resolution), v2Checkpoint
      // (sidecar-bearing checkpoints), timestampNtz and variantType
      // (both types read natively on Spark 4's parquet reader), and
      // typeWidening (the spec's widenings served under the current
      // schema — a widening it cannot serve throws loudly, never
      // silently wrong) — anything else refuses by name. Version 2 IS
      // column mapping.
      val supported = Set("deletionVectors", "columnMapping",
        "v2Checkpoint", "timestampNtz", "typeWidening", "variantType")
      val unsupported = readerFeatures.filterNot(supported)
      if (unsupported.nonEmpty)
        throw new UnsupportedDeltaFeatureException(
          s"table $table requires reader features " +
            s"${unsupported.mkString("[", ", ", "]")} — not supported " +
            s"by this reader (${supported.mkString(", ")} are)")
      if (minReader > 3)
        throw new UnsupportedDeltaFeatureException(
          s"table $table requires minReaderVersion=$minReader — " +
            "versions 1-3 (deletionVectors, columnMapping) are the " +
            "supported surface")
    }

    // one checkpoint ROW processed into the replay state; returns the
    // sidecar path when the row is a v2 `sidecar` reference. Shared by
    // classic/multi-part checkpoints, v2 parquet checkpoints, and v2
    // sidecar files (all carry the same nullable action structs).
    def processCkRow(cols: Set[String], r: Row): Option[String] = {
        def struct(name: String): Option[Row] =
          if (cols(name) && !r.isNullAt(r.fieldIndex(name)))
            Some(r.getStruct(r.fieldIndex(name)))
          else None
        struct("protocol").foreach { p =>
          def feats(field: String): Seq[String] =
            if (p.schema.fieldNames.contains(field) &&
              !p.isNullAt(p.fieldIndex(field)))
              p.getSeq[String](p.fieldIndex(field))
            else Nil
          val minWriter =
            if (p.schema.fieldNames.contains("minWriterVersion") &&
              !p.isNullAt(p.fieldIndex("minWriterVersion")))
              p.getInt(p.fieldIndex("minWriterVersion"))
            else 2
          checkProtocol(p.getInt(p.fieldIndex("minReaderVersion")),
            feats("readerFeatures"), minWriter, feats("writerFeatures"))
        }
        struct("metaData").foreach { m =>
          schema = Some(DataType.fromJson(
            m.getString(m.fieldIndex("schemaString"))).asInstanceOf[StructType])
          partCols = m.getSeq[String](m.fieldIndex("partitionColumns"))
          if (m.schema.fieldNames.contains("configuration") &&
            !m.isNullAt(m.fieldIndex("configuration"))) {
            config = m.getMap[String, String](
              m.fieldIndex("configuration")).toMap
            mappingMode = config.getOrElse("delta.columnMapping.mode", "none")
          }
          if (m.schema.fieldNames.contains("id") &&
            !m.isNullAt(m.fieldIndex("id")))
            metaId = Some(m.getString(m.fieldIndex("id")))
        }
        struct("add").foreach { a =>
          val dv =
            if (a.schema.fieldNames.contains("deletionVector") &&
              !a.isNullAt(a.fieldIndex("deletionVector"))) {
              val d = a.getStruct(a.fieldIndex("deletionVector"))
              def fld[T](name: String, get: Int => T, dflt: T): T = {
                val i = d.schema.fieldNames.indexOf(name)
                if (i >= 0 && !d.isNullAt(i)) get(i) else dflt
              }
              Some(DeltaDv.DvDescriptor(
                d.getString(d.fieldIndex("storageType")),
                d.getString(d.fieldIndex("pathOrInlineDv")),
                fld[Long]("offset", i => d.get(i) match {
                  case n: java.lang.Number => n.longValue
                  case _ => 0L
                }, 0L),
                fld[Int]("sizeInBytes", i => d.get(i) match {
                  case n: java.lang.Number => n.intValue
                  case _ => 0
                }, 0),
                fld[Long]("cardinality", i => d.get(i) match {
                  case n: java.lang.Number => n.longValue
                  case _ => 0L
                }, 0L)))
            } else None
          val pv = a.getMap[String, String](a.fieldIndex("partitionValues"))
            .toMap.map { case (k, v) => k -> Option(v) }
          val path = urlDecode(a.getString(a.fieldIndex("path")))
          val stats =
            if (a.schema.fieldNames.contains("stats") &&
              !a.isNullAt(a.fieldIndex("stats")))
              Some(a.getString(a.fieldIndex("stats")))
            else None
          def optLongCol(name: String): Option[Long] = {
            val i = a.schema.fieldNames.indexOf(name)
            if (i >= 0 && !a.isNullAt(i)) a.get(i) match {
              case n: java.lang.Number => Some(n.longValue)
              case _ => None
            } else None
          }
          files(path) = DeltaAdd(path, pv,
            a.getLong(a.fieldIndex("size")), dv, stats,
            baseRowId = optLongCol("baseRowId"),
            defaultRowCommitVersion =
              optLongCol("defaultRowCommitVersion"))
        }
        struct("domainMetadata").foreach { dm =>
          val name = dm.getString(dm.fieldIndex("domain"))
          val removed = {
            val i = dm.schema.fieldNames.indexOf("removed")
            i >= 0 && !dm.isNullAt(i) && dm.getBoolean(i)
          }
          if (removed) domains.remove(name): Unit
          else domains(name) = {
            val i = dm.schema.fieldNames.indexOf("configuration")
            if (i >= 0 && !dm.isNullAt(i)) dm.getString(i) else "{}"
          }
        }
        struct("remove").foreach { rm =>
          files.remove(urlDecode(rm.getString(rm.fieldIndex("path")))): Unit
        }
        struct("txn").foreach { tx =>
          if (!tx.isNullAt(tx.fieldIndex("appId")))
            txns(tx.getString(tx.fieldIndex("appId"))) =
              tx.get(tx.fieldIndex("version")) match {
                case n: java.lang.Number => n.longValue
                case _ => 0L
              }
        }
        struct("sidecar").map(sc =>
          sc.getString(sc.fieldIndex("path")))
    }

    // STREAM the action rows instead of collect(): a 100 TB foreign
    // table's checkpoint holds ~10⁶ add rows, and materializing the
    // full Row array alongside the reconciled file map doubles the
    // driver's peak. toLocalIterator holds one partition's rows at a
    // time; the retained state is only the reconciled live-file map.
    def processCkParquet(paths: Seq[String]): Seq[String] = {
      val rows = spark.read.parquet(paths: _*)
      val cols = rows.columns.toSet
      val sidecars = scala.collection.mutable.ArrayBuffer.empty[String]
      rows.toLocalIterator().forEachRemaining { r =>
        processCkRow(cols, r).foreach(sidecars += _)
      }
      sidecars.toSeq
    }

    ck.foreach { cv =>
      val classic = ckSingle.contains(cv) || ckMultiComplete.exists(_ == cv)
      val sidecars: Seq[String] =
        if (classic) {
          val parts =
            if (ckSingle.contains(cv))
              Seq(new Path(logDir, f"$cv%020d.checkpoint.parquet").toString)
            else names.collect {
              case n @ CkPartRe(v, _, _) if v.toLong == cv =>
                new Path(logDir, n).toString
            }.toSeq
          processCkParquet(parts)
        } else {
          val (_, name, ext) = ckV2.find(_._1 == cv).get
          val file = new Path(logDir, name)
          if (ext == "json")
            parseActionLines(readUtf8(fs, file), file).flatMap {
              case ProtocolAction(mr, rf, mw, wf) =>
                checkProtocol(mr, rf, mw, wf); Nil
              case MetaAction(sc, pc, mode, cfg, id) =>
                schema = Some(sc); partCols = pc; mappingMode = mode
                config = cfg; metaId = id.orElse(metaId); Nil
              case AddAction(a) => files(a.path) = a; Nil
              case RemoveAction(p, _) => files.remove(p); Nil
              case SidecarAction(p) => Seq(p)
              case TxnAction(a, v) => txns(a) = v; Nil
              case DomainAction(n, cfg, removed) =>
                if (removed) domains.remove(n) else domains(n) = cfg
                Nil
              case _ => Nil
            }
          else processCkParquet(Seq(file.toString))
        }
      // sidecar paths resolve under _delta_log/_sidecars/ unless
      // absolute (the protocol allows both)
      sidecars.foreach { sp =>
        val p =
          if (sp.startsWith("/") ||
            sp.matches("^[A-Za-z][A-Za-z0-9+.-]*:.*")) new Path(sp)
          else new Path(new Path(logDir, "_sidecars"), sp)
        processCkParquet(Seq(p.toString)).foreach(nested =>
          throw new UnsupportedDeltaFeatureException(
            s"sidecar file $sp of $table itself references sidecar " +
              s"$nested — nested sidecars are not in the protocol"))
      }
    }

    ((ck.map(_ + 1).getOrElse(0L)) to target).foreach { v =>
      parseCommit(spark, table, v).foreach {
        case ProtocolAction(minReader, feats, minWriter, wFeats) =>
          checkProtocol(minReader, feats, minWriter, wFeats)
        case MetaAction(sc, pc, mode, cfg, id) =>
          schema = Some(sc); partCols = pc; mappingMode = mode
          config = cfg; metaId = id.orElse(metaId)
        case AddAction(a) => files(a.path) = a
        case RemoveAction(p, _) => files.remove(p): Unit
        case TxnAction(a, v) => txns(a) = v
        case DomainAction(n, cfg, removed) =>
          if (removed) domains.remove(n): Unit else domains(n) = cfg
        case _: CdcAction | _: CommitInfoAction | _: SidecarAction =>
      }
    }

    DeltaState(target,
      schema.getOrElse(throw new IllegalStateException(
        s"no metaData action found replaying $table to $target")),
      partCols, files.values.toSeq, mappingMode, config, metaId,
      protoReader, protoFeatures, protoWriter, protoWriterFeatures,
      txns.toMap, domains.toMap)
  }

  private sealed trait DeltaAction
  private final case class ProtocolAction(minReader: Int,
                                          readerFeatures: Seq[String],
                                          minWriter: Int = 2,
                                          writerFeatures: Seq[String] = Nil)
    extends DeltaAction
  private final case class MetaAction(schema: StructType,
                                      partitionColumns: Seq[String],
                                      columnMappingMode: String,
                                      configuration: Map[String, String],
                                      metaId: Option[String])
    extends DeltaAction
  private final case class AddAction(add: DeltaAdd) extends DeltaAction
  private final case class RemoveAction(path: String, dataChange: Boolean)
    extends DeltaAction
  /** A `cdc` action: one CHANGE-DATA file under `_change_data/`,
    * carrying the data columns plus `_change_type`. */
  private final case class CdcAction(path: String,
      partitionValues: Map[String, Option[String]]) extends DeltaAction
  private final case class CommitInfoAction(timestampMs: Long)
    extends DeltaAction
  /** A v2-checkpoint `sidecar` action: one parquet file under
    * `_delta_log/_sidecars/` holding add/remove rows. */
  private final case class SidecarAction(path: String) extends DeltaAction
  private final case class TxnAction(appId: String, version: Long)
    extends DeltaAction
  /** A `domainMetadata` action: domain name → configuration JSON
    * string; removed=true drops the domain from the state. */
  private final case class DomainAction(domain: String,
      configuration: String, removed: Boolean) extends DeltaAction

  /** Parse one JSON commit file into its actions (commitInfo/txn
    * ignored). ONE definition shared by snapshot replay and the
    * streaming tail — the two must never read a commit differently. */
  private def parseCommit(spark: SparkSession, table: String,
                          v: Long): Seq[DeltaAction] = {
    val logDir = new Path(table, "_delta_log")
    val fs = hadoopFs(spark, logDir)
    val file = new Path(logDir, f"$v%020d.json")
    parseActionLines(readUtf8(fs, file), file)
  }

  private def readUtf8(fs: FileSystem, file: Path): String = {
    val in = fs.open(file)
    try {
      val out = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536, false)
      new String(out.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** The action-per-line JSON parse shared by commit files and JSON
    * v2 checkpoints (same line grammar, plus `sidecar` there). */
  private def parseActionLines(text: String,
                               file: Path): Seq[DeltaAction] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    text.split('\n').filter(_.trim.nonEmpty).toSeq.flatMap { line =>
      val j = JsonMethods.parse(line)
      def str(v: JValue): Option[String] = v match {
        case JString(s) => Some(s)
        case _ => None
      }
      def long(v: JValue): Long = v match {
        case JInt(i) => i.toLong
        case JLong(l) => l
        case _ => 0L
      }
      val protocol = j \ "protocol" match {
        case JNothing | JNull => Nil
        case p =>
          def feats(field: String): Seq[String] = p \ field match {
            case JArray(xs) => xs.flatMap(str)
            case _ => Nil
          }
          val mw = p \ "minWriterVersion" match {
            case JNothing | JNull => 2
            case v => long(v).toInt
          }
          Seq(ProtocolAction(long(p \ "minReaderVersion").toInt,
            feats("readerFeatures"), mw, feats("writerFeatures")))
      }
      val meta = j \ "metaData" match {
        case JNothing | JNull => Nil
        case m =>
          val config: Map[String, String] = (m \ "configuration") match {
            case JObject(kvs) => kvs.collect {
              case (k, JString(s)) => k -> s
            }.toMap
            case _ => Map.empty
          }
          val mode = config.getOrElse("delta.columnMapping.mode", "none")
          Seq(MetaAction(
            DataType.fromJson(str(m \ "schemaString").getOrElse(
              throw new IllegalStateException(
                s"metaData without schemaString in $file")))
              .asInstanceOf[StructType],
            (m \ "partitionColumns") match {
              case JArray(xs) => xs.flatMap(str)
              case _ => Nil
            }, mode, config, str(m \ "id")))
      }
      val add = j \ "add" match {
        case JNothing | JNull => Nil
        case a =>
          val dv = (a \ "deletionVector") match {
            case JNothing | JNull => None
            case d => Some(DeltaDv.DvDescriptor(
              str(d \ "storageType").getOrElse(throw
                new IllegalStateException(s"DV without storageType in $file")),
              str(d \ "pathOrInlineDv").getOrElse(throw
                new IllegalStateException(s"DV without payload in $file")),
              long(d \ "offset"),
              long(d \ "sizeInBytes").toInt,
              long(d \ "cardinality")))
          }
          val pv = (a \ "partitionValues") match {
            case JObject(fields) => fields.map {
              case (k, JString(s)) => k -> Some(s)
              case (k, _) => k -> None
            }.toMap
            case _ => Map.empty[String, Option[String]]
          }
          val dc = (a \ "dataChange") match {
            case JBool(b) => b
            case _ => true
          }
          def optLong(v: JValue): Option[Long] = v match {
            case JInt(i) => Some(i.toLong)
            case JLong(l) => Some(l)
            case _ => None
          }
          Seq(AddAction(DeltaAdd(
            urlDecode(str(a \ "path").getOrElse(
              throw new IllegalStateException(s"add without path in $file"))),
            pv, long(a \ "size"), dv, str(a \ "stats"), dc,
            baseRowId = optLong(a \ "baseRowId"),
            defaultRowCommitVersion =
              optLong(a \ "defaultRowCommitVersion"))))
      }
      val remove = j \ "remove" match {
        case JNothing | JNull => Nil
        case rm => str(rm \ "path").toSeq.map(p =>
          RemoveAction(urlDecode(p), (rm \ "dataChange") match {
            case JBool(b) => b
            case _ => true
          }))
      }
      val cdc = j \ "cdc" match {
        case JNothing | JNull => Nil
        case c =>
          val pv = (c \ "partitionValues") match {
            case JObject(fields) => fields.map {
              case (k, JString(s)) => k -> Some(s)
              case (k, _) => k -> None
            }.toMap
            case _ => Map.empty[String, Option[String]]
          }
          str(c \ "path").toSeq.map(p => CdcAction(urlDecode(p), pv))
      }
      val info = j \ "commitInfo" match {
        case JNothing | JNull => Nil
        case ci => (ci \ "timestamp") match {
          case JInt(t) => Seq(CommitInfoAction(t.toLong))
          case JLong(t) => Seq(CommitInfoAction(t))
          case _ => Nil
        }
      }
      val sidecar = j \ "sidecar" match {
        case JNothing | JNull => Nil
        case sc => str(sc \ "path").toSeq.map(SidecarAction)
      }
      // txn: the protocol's idempotent-writer primitive — the latest
      // `version` per `appId` is the stream's replay high-water mark
      val txn = j \ "txn" match {
        case JNothing | JNull => Nil
        case tx => str(tx \ "appId").toSeq.map(a =>
          TxnAction(a, long(tx \ "version")))
      }
      // domainMetadata: named configuration domains (row tracking's
      // high-water mark lives in `delta.rowTracking`); `removed=true`
      // tombstones the domain
      val domain = j \ "domainMetadata" match {
        case JNothing | JNull => Nil
        case dm => str(dm \ "domain").toSeq.map(n =>
          DomainAction(n, str(dm \ "configuration").getOrElse("{}"),
            (dm \ "removed") match {
              case JBool(b) => b
              case _ => false
            }))
      }
      protocol ++ meta ++ add ++ remove ++ cdc ++ info ++ sidecar ++
        txn ++ domain
    }
  }

  /** `$files` — the live file surface at HEAD: path, partition
    * values, size, the recorded row count (from stats, when present),
    * deletion-vector debt and row-tracking assignment. O(files)
    * metadata from the already-replayed state, no data IO. */
  def filesTable(spark: SparkSession, table: String): DataFrame = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    import spark.implicits._
    val st = state(spark, table, None)
    st.files.map { a =>
      val records: Option[Long] = a.stats.flatMap(s0 =>
        scala.util.Try(JsonMethods.parse(s0) \ "numRecords").toOption
          .collect {
            case JInt(n) => n.toLong
            case JLong(n) => n
          })
      (a.path,
        a.partitionValues.map { case (k, v) => k -> v.orNull },
        a.size, records, a.dv.map(_.cardinality), a.baseRowId,
        a.defaultRowCommitVersion)
    }.toDF("path", "partition", "size_bytes", "record_count",
      "dv_rows", "base_row_id", "default_row_commit_version")
  }

  /** `$detail` — the DESCRIBE DETAIL one-row profile: format,
    * location, partition/clustering columns, file/byte totals,
    * protocol surface and the recorded configuration. Manifests only
    * (stats-recorded sizes), no data IO. */
  def detail(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    val st = state(spark, table, None)
    val clustering: Seq[String] = st.domains.get(ClusteringDomain)
      .toSeq.flatMap { cfg =>
        import org.json4s._
        (org.json4s.jackson.JsonMethods.parse(cfg) \
          "clusteringColumns") match {
          case JArray(cols) => cols.collect {
            case JArray(parts) => parts.collect {
              case JString(p) => p }.mkString(".")
          }
          case _ => Nil
        }
      }
    Seq((
      "delta", table, st.version, st.metaId.orNull,
      st.partitionColumns, clustering, st.files.size.toLong,
      st.files.map(_.size).sum, st.minReaderVersion,
      st.minWriterVersion, st.readerFeatures, st.writerFeatures,
      st.configuration))
      .toDF("format", "location", "version", "table_id",
        "partition_columns", "clustering_columns", "num_files",
        "size_in_bytes", "min_reader_version", "min_writer_version",
        "reader_features", "writer_features", "properties")
  }

  /** `DESCRIBE HISTORY` — one row per RETAINED commit (vacuumed JSON
    * versions are gone by design): version, wall-clock timestamp,
    * operation name, and the commit's add/remove counts. O(versions)
    * driver-side log reads, no data IO. */
  def history(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    historyRows(spark, table)
      .toDF("version", "timestamp_ms", "operation", "n_adds", "n_removes")
  }

  private def historyRows(spark: SparkSession, table: String)
      : Seq[(Long, Long, String, Long, Long)] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val logDir = new Path(table, "_delta_log")
    val fs = hadoopFs(spark, logDir)
    require(fs.exists(logDir), s"not a Delta table: no _delta_log under $table")
    val versions = fs.listStatus(logDir).map(_.getPath.getName)
      .collect { case JsonRe(v) => v.toLong }.sorted.toIndexedSeq
    versions.map { v =>
      val text = readUtf8(fs, new Path(logDir, f"$v%020d.json"))
      var ts = 0L
      var op = ""
      var adds = 0L
      var removes = 0L
      text.split('\n').filter(_.trim.nonEmpty).foreach { line =>
        val j = JsonMethods.parse(line)
        (j \ "commitInfo") match {
          case JNothing | JNull => ()
          case ci =>
            // inCommitTimestamps (Delta 3.3+): when the table feature
            // is enabled the commit's OWN monotonic clock is the
            // authoritative timestamp — resolution must use it, or
            // TIMESTAMP AS OF silently disagrees with delta-spark on
            // such tables (the wall-clock rule below stays the
            // fallback for pre-enablement commits, which simply lack
            // the field)
            val ict = (ci \ "inCommitTimestamp") match {
              case JInt(t) => Some(t.toLong)
              case JLong(t) => Some(t)
              case _ => None
            }
            (ci \ "timestamp") match {
              case JInt(t) => ts = t.toLong
              case JLong(t) => ts = t
              case _ => ()
            }
            ict.foreach(ts = _)
            (ci \ "operation") match {
              case JString(s) => op = s
              case _ => ()
            }
        }
        if ((j \ "add") != JNothing && (j \ "add") != JNull) adds += 1
        if ((j \ "remove") != JNothing && (j \ "remove") != JNull)
          removes += 1
      }
      if (ts == 0L)
        ts = fs.getFileStatus(new Path(logDir, f"$v%020d.json"))
          .getModificationTime
      (v, ts, op, adds, removes)
    }
  }

  /** `TIMESTAMP AS OF` resolution — delta-spark's rule over the
    * RETAINED log: the latest commit whose (monotonically adjusted)
    * timestamp is ≤ the asked instant. Commit timestamps are writer
    * wall clocks, so like delta-spark this reader adjusts any
    * non-increasing timestamp up to its predecessor's — resolution is
    * then well-defined even across clock skew. A timestamp before the
    * first retained commit or after the latest refuses BY NAME (the
    * Delta contract), naming the usable range. O(retained versions)
    * log reads, no data IO. */
  def versionAt(spark: SparkSession, table: String,
                timestampMs: Long): Long = {
    val rows = historyRows(spark, table)
    require(rows.nonEmpty, s"empty Delta log under $table")
    // monotonic adjustment: each commit's effective timestamp is at
    // least its predecessor's + 1ms (delta-spark's rule)
    val adjusted = rows.scanLeft((-1L, Long.MinValue)) {
      case ((_, prevTs), (v, ts, _, _, _)) =>
        (v, math.max(ts, prevTs + 1))
    }.drop(1)
    val (firstV, firstTs) = adjusted.head
    require(timestampMs >= firstTs,
      s"timestamp $timestampMs is before the first retained commit " +
        s"of $table (version $firstV at $firstTs) — older history " +
        "has been vacuumed")
    val (lastV, lastTs) = adjusted.last
    require(timestampMs <= lastTs,
      s"timestamp $timestampMs is after the latest commit of $table " +
        s"(version $lastV at $lastTs) — the Delta contract refuses a " +
        "future instant rather than silently serving the head")
    adjusted.takeWhile(_._2 <= timestampMs).last._1
  }

  /** Time travel by TIMESTAMP — `TIMESTAMP AS OF`. */
  def readTimestamp(spark: SparkSession, table: String,
                    timestampMs: Long): DataFrame =
    readVersion(spark, table, versionAt(spark, table, timestampMs))

  /** The table's head version (max JSON commit), if the log exists. */
  def currentVersion(spark: SparkSession, table: String): Option[Long] = {
    val logDir = new Path(table, "_delta_log")
    val fs = hadoopFs(spark, logDir)
    if (!fs.exists(logDir)) None
    else fs.listStatus(logDir).map(_.getPath.getName)
      .collect { case JsonRe(v) => v.toLong }
      .reduceOption(_ max _)
  }

  /** One commit's file-level changes — the streaming source's unit of
    * consumption ([[DeltaStreamProvider]]). */
  final case class DeltaChanges(version: Long, added: Seq[DeltaAdd],
                                removed: Seq[String])

  def changesAt(spark: SparkSession, table: String, v: Long): DeltaChanges = {
    val adds = scala.collection.mutable.ArrayBuffer.empty[DeltaAdd]
    val removes = scala.collection.mutable.ArrayBuffer.empty[String]
    parseCommit(spark, table, v).foreach {
      case ProtocolAction(minReader, feats, _, _) =>
        if (feats.nonEmpty || minReader > 1)
          throw new UnsupportedDeltaFeatureException(
            s"version $v of $table requires an unsupported reader " +
              s"(minReaderVersion=$minReader, features " +
              s"${feats.mkString("[", ", ", "]")})")
      case AddAction(a) => adds += a
      case RemoveAction(p, _) => removes += p
      case _ =>
    }
    DeltaChanges(v, adds.toSeq, removes.toSeq)
  }

  /** Serve a reconstructed state: data files are read under the DATA
    * schema (full schema minus partition columns — Delta data files do
    * not store partition columns), each file group gets its partition
    * values attached as literals CAST from the log's string encoding,
    * and the output projects the full schema in declared order. One
    * read per distinct partition-value combination — the same grouping
    * Delta's own scan builder performs. */
  private def toDF(spark: SparkSession, table: String,
                   st: DeltaState): DataFrame =
    filesToDF(spark, table, st.schema, st.partitionColumns, st.files,
      st.columnMappingMode)

  /** The shared file-set read kernel — used by snapshot serving AND the
    * streaming source's per-batch reads. Files carrying DELETION
    * VECTORS anti-join their decoded `(file, row position)` pairs
    * against the scan's parquet metadata columns — the delete set is
    * proportional to deleted rows (bitmaps decode on executors, the
    * driver only ships descriptors) and AQE broadcasts it when small. */
  private[sources] def filesToDF(spark: SparkSession, table: String,
                                 schema: StructType,
                                 partitionColumns: Seq[String],
                                 files: Seq[DeltaAdd],
                                 columnMappingMode: String = "none",
                                 keepLineage: Boolean = false,
                                 extraPhysical: Seq[StructField] = Nil)
      : DataFrame = {
    // `extraPhysical` columns (materialized row-tracking columns) join
    // the REQUESTED parquet schema — files that never materialized
    // them null-fill; they ride the lineage-keyed scan only
    require(extraPhysical.isEmpty || keepLineage,
      "extraPhysical columns ride the lineage-keyed scan")
    val mapped = columnMappingMode != "none"
    // under column mapping the add actions' partitionValues are keyed
    // by PHYSICAL names — partition columns reconstruct through the
    // schema's recorded physicalName metadata
    val physKey = physKeyOf(schema)
    val dataSchema = StructType(
      schema.fields.filterNot(f => partitionColumns.contains(f.name)))
    val outCols = schema.fields.map(f => col(f.name))
    if (files.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], schema)
    val dvAdds = files.filter(_.dv.nonEmpty)
    // path spellings vary by writer (file:/x vs file:///x vs /x) —
    // both join sides normalize the scheme prefix the same way
    def norm(c: org.apache.spark.sql.Column) =
      regexp_replace(c, "^[A-Za-z][A-Za-z0-9+.-]*:/+", "/")
    // ONE scan for the whole file set, whatever the partition count:
    // each file's recorded partitionValues attach through a BROADCAST
    // (file → string values) join on the scan's metadata path instead
    // of one scan per partition-value group — a 1000-partition
    // foreign table plans one relation, not a 1000-way union (the
    // per-group shape was an O(partitions) driver-planning ceiling)
    // `withLineage` exposes each surviving row's normalized source
    // file path and row position as `__fp`/`__pos` — the lineage DML
    // needs to turn "rows matching the predicate" into "per-file
    // deleted positions" without a second scan. The metadata columns
    // materialize ON the scan (they resolve nowhere else), and the
    // partition join keys on the same `__fp`.
    def scanAll(withLineage: Boolean): DataFrame = {
      val paths = files.map(a => new Path(table, a.path).toString)
      // metadata pseudo-columns attach ONLY when something consumes
      // them (lineage, the partition-value join, or the DV predicate)
      // — a plain unpartitioned read otherwise pays per-row
      // named_struct construction for fields the projection drops
      val needMeta = withLineage || partitionColumns.nonEmpty
      val metaProj =
        if (!needMeta) Nil
        else Seq(norm(col("_metadata.file_path")).as("__fp"),
          col("_metadata.row_index").as("__pos"))
      val base =
        if (!mapped) {
          val b = spark.read
            .schema(StructType(dataSchema.fields ++ extraPhysical))
            .parquet(paths: _*)
          if (!needMeta) b else b.select(col("*") +: metaProj: _*)
        } else
          // read under the PHYSICAL schema (the fields' recorded
          // delta.columnMapping.physicalName, recursively), then cast
          // back to the logical shape — the struct cast renames nested
          // fields positionally, so one projection restores the
          // logical schema wholesale. Materialized tracking columns
          // are physical names already and select verbatim.
          spark.read
            .schema(StructType(
              physicalStruct(dataSchema).fields ++ extraPhysical))
            .parquet(paths: _*)
            .select(dataSchema.fields.toIndexedSeq.map(f =>
              col(s"`${physicalName(f)}`").cast(f.dataType).as(f.name)) ++
              extraPhysical.map(f => col(s"`${f.name}`")) ++
              metaProj: _*)
      val withParts =
        if (partitionColumns.isEmpty) base
        else {
          val pvSchema = StructType(
            StructField("__fp", org.apache.spark.sql.types.StringType) +:
              partitionColumns.map(pc => StructField(s"__pv_$pc",
                org.apache.spark.sql.types.StringType)))
          val pvRows = files.map(a => Row.fromSeq(
            uriKey(new Path(table), a.path) +:
              partitionColumns.map(pc => a.partitionValues
                .get(if (mapped) physKey(pc) else pc).flatten.orNull)))
          val pvDf = spark.createDataFrame(
            new java.util.ArrayList[Row](
              scala.jdk.CollectionConverters
                .SeqHasAsJava(pvRows).asJava), pvSchema)
          val joined = base
            .join(org.apache.spark.sql.functions.broadcast(pvDf),
              Seq("__fp"), "left")
          partitionColumns.foldLeft(joined) { (acc, pc) =>
            acc.withColumn(pc,
              col(s"`__pv_$pc`").cast(schema(pc).dataType))
          }
        }
      val extra =
        (if (withLineage) Seq(col("__fp"), col("__pos")) else Nil) ++
          extraPhysical.map(f => col(s"`${f.name}`"))
      withParts.select((outCols ++ extra).toIndexedSeq: _*)
    }
    if (dvAdds.isEmpty)
      scanAll(keepLineage)
    else {
      // PER-FILE vector application ([[RowLive]]): the task
      // scanning a file loads just ITS descriptor's bitmap
      // (executor-cached) and probes per row — no join, no Exchange,
      // the prior whole-scan anti-join's 100× read ceiling closed the
      // same way the native lake's was in r9. Keyed on the scan's
      // `_metadata.file_path` form (toUri keeps percent-escapes).
      val refs: Map[String, String] = dvAdds.map { a =>
        normStr(new Path(table, a.path).toUri.toString) ->
          ForeignDv.deltaToken(a.dv.get)
      }.toMap
      val filtered = scanAll(withLineage = true)
        .filter(DeletionVectors.livePredicate(spark, table, refs,
          col("__fp"), col("__pos")))
      if (keepLineage) filtered else filtered.drop("__fp", "__pos")
    }
  }

  /** A field's physical (on-disk) name under column mapping. */
  /** icebergCompatV2's writer duty (UniForm): every staged PHYSICAL
    * data frame carries `parquet.field.id` footer metadata equal to
    * each column's recorded `delta.columnMapping.id`, so the Iceberg
    * mirror of the table resolves the files BY ID. No-op unless the
    * table enables the compat; graft-internal passenger columns (the
    * materialized row-tracking pair) ride un-stamped — they are not
    * part of the mirrored schema. */
  private def stampCompatIds(df: DataFrame, st: DeltaState): DataFrame =
    if (!st.configuration.get("delta.enableIcebergCompatV2")
      .contains("true")) df
    else {
      val ids: Map[String, Long] = st.schema.fields.toSeq.flatMap { f =>
        if (f.metadata.contains("delta.columnMapping.id"))
          Some(physicalName(f) ->
            f.metadata.getLong("delta.columnMapping.id"))
        else None
      }.toMap
      df.select(df.schema.fields.toSeq.map { f =>
        ids.get(f.name) match {
          case Some(id) =>
            val m = new MetadataBuilder().withMetadata(f.metadata)
              .putLong("parquet.field.id", id).build()
            col(f.name).as(f.name, m)
          case None => col(f.name)
        }
      }: _*)
    }

  private def physicalName(f: org.apache.spark.sql.types.StructField): String =
    if (f.metadata.contains("delta.columnMapping.physicalName"))
      f.metadata.getString("delta.columnMapping.physicalName")
    else f.name

  /** The schema as the data files store it: every struct field renamed
    * to its physical name, recursively (arrays/maps descend). */
  private def physicalStruct(dt: DataType): StructType =
    physicalType(dt).asInstanceOf[StructType]

  private def physicalType(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      org.apache.spark.sql.types.StructField(
        physicalName(f), physicalType(f.dataType), f.nullable)))
    case a: org.apache.spark.sql.types.ArrayType =>
      a.copy(elementType = physicalType(a.elementType))
    case m: org.apache.spark.sql.types.MapType =>
      m.copy(keyType = physicalType(m.keyType),
        valueType = physicalType(m.valueType))
    case other => other
  }

  /** Logical column name → the PHYSICAL key its on-disk artifacts
    * (data columns, partitionValues, stats) are recorded under —
    * identity when the table is unmapped. */
  private def physKeyOf(schema: StructType): Map[String, String] =
    schema.fields.map(f => f.name -> physicalName(f)).toMap

  /** A logical-shaped frame re-projected to the physical (on-disk)
    * shape for staging writes on a MAPPED table: every column renamed
    * to its recorded physicalName (struct casts rename nested fields
    * positionally, the read kernel's trick in reverse); `passThrough`
    * columns (`_change_type`) keep their names verbatim. */
  private def toPhysical(df: DataFrame, schema: StructType,
                         passThrough: Seq[String] = Nil): DataFrame =
    df.select((schema.fields.toIndexedSeq.map(f =>
      col(s"`${f.name}`").cast(physicalType(f.dataType))
        .as(physicalName(f))) ++
      passThrough.map(c => col(s"`$c`"))): _*)

  /** Column-mapping metadata (field ids + `col-…` physical names) for
    * a new mapped table's schema — what delta-spark assigns at
    * creation under `delta.columnMapping.mode = name`. Every struct
    * field gets an id, nested included (the protocol's requirement);
    * arrays/maps descend. Returns the annotated schema and the last
    * id assigned (`delta.columnMapping.maxColumnId`). */
  private def assignMapping(schema: StructType): (StructType, Long) = {
    var next = 0L
    def annotate(dt: DataType): DataType = dt match {
      case s: StructType => StructType(s.fields.map { f =>
        next += 1
        val m = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
          .putLong("delta.columnMapping.id", next)
          .putString("delta.columnMapping.physicalName",
            s"col-${java.util.UUID.randomUUID()}")
          .build()
        StructField(f.name, annotate(f.dataType), f.nullable, m)
      })
      case a: org.apache.spark.sql.types.ArrayType =>
        a.copy(elementType = annotate(a.elementType))
      case m: org.apache.spark.sql.types.MapType =>
        m.copy(keyType = annotate(m.keyType),
          valueType = annotate(m.valueType))
      case other => other
    }
    val out = annotate(schema).asInstanceOf[StructType]
    (out, next)
  }

  // --------------------------------------------------------------- write

  /** Write `df` as a Delta table commit. `overwrite = false` appends
    * (schema checked against the recorded metaData by name);
    * `overwrite = true` also emits `remove` actions for every
    * previously-live file. Creating a new table writes `protocol` +
    * `metaData` in commit 0; `columnMapping = "name"` creates it
    * COLUMN-MAPPED (field ids + `col-…` physical names in the schema
    * metadata, protocol 2/5 — the modern-Delta default shape; data
    * files and their recorded stats then live under physical names,
    * and reads/DML keep addressing logical ones). Appends to a mapped
    * table stage through the same physical projection. The commit
    * file publishes via rename-if-absent — a lost race raises
    * [[ConcurrentDeltaCommitException]] and leaves the log untouched. */
  /** One IDENTITY-column declaration for a CREATE-time [[write]]:
    * `GENERATED { ALWAYS | BY DEFAULT } AS IDENTITY (START WITH start
    * INCREMENT BY step)`. `allowExplicitInsert=false` is ALWAYS
    * (provided values refuse); `true` is BY DEFAULT (provided values
    * accepted and the high-water mark advances past them). */
  final case class IdentityColumn(name: String, start: Long = 1L,
                                  step: Long = 1L,
                                  allowExplicitInsert: Boolean = false)

  def write(df: DataFrame, table: String,
            partitionBy: Seq[String] = Nil,
            overwrite: Boolean = false,
            columnMapping: String = "none",
            txn: Option[(String, Long)] = None,
            identity: Seq[IdentityColumn] = Nil): Long = {
    val spark = df.sparkSession
    val root = new Path(table)
    val fs = hadoopFs(spark, root)
    val logDir = new Path(root, "_delta_log")
    require(columnMapping == "none" || columnMapping == "name",
      s"columnMapping mode '$columnMapping' — this writer creates " +
        "'name'-mapped tables ('id' mode additionally keys on parquet " +
        "field ids, which delta-spark itself only produces on convert)")
    val prior =
      if (fs.exists(logDir) &&
        fs.listStatus(logDir).exists(s =>
          JsonRe.pattern.matcher(s.getPath.getName).matches()))
        Some(state(spark, table, None))
      else None
    // GENERATED COLUMNS a plain append omits DERIVE from their
    // recorded expression (delta-spark's writer obligation for
    // omitted generated columns); explicitly provided values keep the
    // caller's and validate against the expression at staging
    val df1 = prior match {
      case Some(p) if !overwrite =>
        val derived = p.schema.fields.toSeq
          .filter(f => !df.columns.contains(f.name) &&
            f.metadata.contains("delta.generationExpression"))
          .foldLeft(df)((acc, f) => acc.withColumn(f.name,
            org.apache.spark.sql.functions.expr(
              f.metadata.getString("delta.generationExpression"))
              .cast(f.dataType)))
        // COLUMN DEFAULTS (allowColumnDefaults): an append that OMITS
        // a column carrying CURRENT_DEFAULT metadata APPLIES the
        // recorded constant (PROTOCOL.md §Column Default Values);
        // explicit values win. Metadata on a table whose protocol
        // never declared the feature is inert, the spec's rule.
        if (!p.writerFeatures.contains("allowColumnDefaults")) derived
        else p.schema.fields.toSeq
          .filter(f => !derived.columns.contains(f.name) &&
            f.metadata.contains(CurrentDefaultKey))
          .foldLeft(derived)((acc, f) => acc.withColumn(f.name,
            org.apache.spark.sql.functions.expr(
              f.metadata.getString(CurrentDefaultKey))
              .cast(f.dataType)))
      case _ => df
    }
    // IDENTITY columns: declared at CREATE time (the `identity`
    // param); a write that OMITS one ALLOCATES values past the
    // recorded high-water mark as `base + (monotonic id + 1) × step`
    // — unique and step-aligned by construction, computed inside the
    // ONE staging job with no extra pass (partition-id gaps are
    // legal: the contract is uniqueness past the mark, not density);
    // provided values require `allowExplicitInsert`. The commit
    // republishes metaData with the advanced mark, read back from the
    // staged files' own footer bounds.
    require(identity.isEmpty || prior.isEmpty,
      s"identity columns are declared when a table is created — " +
        s"$table already exists")
    identity.foreach { ic =>
      require(ic.step != 0,
        s"identity column ${ic.name}: INCREMENT BY 0 is illegal")
      require(!partitionBy.contains(ic.name),
        s"identity column ${ic.name} cannot be a partition column — " +
          "partition values carry no footer bounds, so the high-water " +
          "mark could not advance")
    }
    val identityCols: Seq[(String, Long, Long, Boolean, Option[Long])] =
      prior match {
        case Some(p) => p.schema.fields.toSeq.flatMap(identityOf)
        case None => identity.map(ic =>
          (ic.name, ic.start, ic.step, ic.allowExplicitInsert, None))
      }
    val df2 = identityCols.foldLeft(df1) {
      case (acc, (n, start, step, allowExplicit, hwm)) =>
        if (!acc.columns.contains(n)) {
          val base = hwm.getOrElse(start - step)
          acc.withColumn(n, (lit(base) +
            (org.apache.spark.sql.functions
              .monotonically_increasing_id() + lit(1L)) * lit(step))
            .cast(LongType))
        } else if (!allowExplicit)
          throw new UnsupportedDeltaFeatureException(
            s"column $n of $table is GENERATED ALWAYS AS IDENTITY — " +
              "explicit values are not accepted; omit the column and " +
              "the writer allocates")
        else acc
    }
    // CREATE with identity: stamp the declaration into the recorded
    // schema's field metadata (the protocol's identity keys)
    val dfFinal =
      if (prior.nonEmpty || identity.isEmpty) df2
      else df2.select(df2.schema.fields.toSeq.map { f =>
        identity.find(_.name == f.name) match {
          case Some(ic) =>
            require(f.dataType == LongType,
              s"identity column ${ic.name} of $table must be BIGINT, " +
                s"found ${f.dataType.sql}")
            val m = new MetadataBuilder().withMetadata(f.metadata)
              .putLong("delta.identity.start", ic.start)
              .putLong("delta.identity.step", ic.step)
              .putBoolean("delta.identity.allowExplicitInsert",
                ic.allowExplicitInsert)
              .build()
            col(f.name).as(f.name, m)
          case None => col(f.name)
        }
      }: _*)
    identity.foreach(ic => require(
      dfFinal.columns.contains(ic.name),
      s"identity column ${ic.name} missing from the written frame"))
    prior.foreach { p =>
      DeltaWriteGate.requireWritable(p, table,
        if (overwrite) "overwrite" else "append",
        removesData = overwrite, addsData = true,
        identityHandled = true, rowTrackingHandled = true)
      require(p.partitionColumns == partitionBy,
        s"cannot change partitioning of $table from " +
          s"${p.partitionColumns.mkString(",")} to ${partitionBy.mkString(",")}")
      // a mapping request against an existing table must MATCH the
      // recorded mode — silently writing unmapped into a table the
      // caller asked to be mapped breaks the creation contract
      require(columnMapping == "none" ||
        p.columnMappingMode == columnMapping,
        s"table $table already exists with columnMapping mode " +
          s"'${p.columnMappingMode}' — a write requesting mode " +
          s"'$columnMapping' cannot retrofit it")
      if (!overwrite)
        InteropSchema.requireAppendCompatible(dfFinal.schema, p.schema, table)
    }
    // an overwrite MAY change the schema (delta-spark's overwriteSchema
    // path) — but then the commit must republish metaData, or readers
    // (this one and delta-spark, which trust the recorded schemaString)
    // would serve the new files under the stale schema: silently
    // dropped / nulled / mistyped columns
    val schemaChanged = overwrite && prior.exists(p =>
      !InteropSchema.sameShape(p.schema, dfFinal.schema))
    // a schema-changing overwrite records the NEW frame's schema —
    // on an identity table that would silently drop the identity
    // declaration (start/step/high-water mark live in field metadata)
    if (schemaChanged && identityCols.nonEmpty)
      throw new UnsupportedDeltaFeatureException(
        s"schema-changing overwrite of $table would drop its IDENTITY " +
          s"column declaration (${identityCols.map(_._1).mkString(", ")})" +
          " — overwrite with the recorded shape")
    val mapped = prior.map(_.columnMappingMode != "none")
      .getOrElse(columnMapping != "none")
    if (mapped && schemaChanged)
      throw new UnsupportedDeltaFeatureException(
        s"schema-changing overwrite of column-mapped table $table — " +
          "new columns would need fresh field-id/physical-name " +
          "assignment; evolve with a mapping-aware engine, or " +
          "overwrite with the recorded shape")
    // the RECORDED schema: the prior one (carries the mapping
    // metadata) unless this commit creates the table or legitimately
    // changes the shape
    val (recordedSchema, maxColumnId) = prior match {
      case Some(p) if !schemaChanged => (p.schema, 0L)
      case _ if mapped => assignMapping(dfFinal.schema)
      case _ => (dfFinal.schema, 0L)
    }
    val version = prior.map(_.version + 1).getOrElse(0L)
    val physKey = physKeyOf(recordedSchema)
    val partitionDirs =
      if (mapped) partitionBy.map(physKey) else partitionBy
    val statsSchema =
      if (mapped) physicalStruct(recordedSchema) else recordedSchema

    // stage data files, then move them under the table root keeping the
    // writer's partition-dir layout (cosmetic for Delta — the log is
    // the source of truth — but it matches what delta-spark produces:
    // physical-named dirs on mapped tables)
    val stage = new Path(root, s".stage-${java.util.UUID.randomUUID()}")
    val stagedFrame0 =
      if (mapped) toPhysical(dfFinal, recordedSchema) else dfFinal
    val stagedFrame = prior.map(stampCompatIds(stagedFrame0, _))
      .getOrElse(stagedFrame0)
    val writer = stagedFrame.write.mode("overwrite")
    (if (partitionDirs.nonEmpty) writer.partitionBy(partitionDirs: _*)
     else writer).parquet(stage.toString)
    val staged = listParquet(fs, stage)
    val addsWithBounds = staged.map { p =>
      val rel = relativize(stage, p)
      val dest = new Path(root, rel)
      fs.mkdirs(dest.getParent)
      if (!fs.rename(p, dest))
        throw new IllegalStateException(s"failed to move $p to $dest")
      val pv = hivePartitionValues(rel)
      // record the file's stats from its own footer (one open) — what
      // this reader and delta-spark prune on (physical-keyed when
      // mapped, like the data columns themselves)
      val (rows, lo, hi) =
        ScanPredicates.footerStats(spark, dest, statsSchema)
      (DeltaAdd(rel, partitionDirs.map(c => c -> pv.get(c).flatten).toMap,
        fs.getFileStatus(dest).getLen,
        stats = Some(statsJson(rows, lo, hi, statsSchema))), lo, hi)
    }
    val adds = addsWithBounds.map(_._1)
    fs.delete(stage, true): Unit
    // the ADVANCED identity high-water marks, read back from the
    // staged files' own footer bounds (no extra pass): the smallest
    // step-aligned value at or past the extreme this commit landed
    val identityHwms: Map[String, Long] = identityCols.flatMap {
      case (n, start, step, _, hwm) =>
        val key = if (mapped) physKey(n) else n
        val seen = addsWithBounds.flatMap { case (_, lo, hi) =>
          (if (step > 0) hi else lo).get(key)
            .collect { case Left(v) => v } }
        if (seen.isEmpty) hwm.map(n -> _)
        else {
          val extreme = if (step > 0) seen.max else seen.min
          val base = hwm.getOrElse(start - step)
          val advanced =
            if (step > 0) extreme > base else extreme < base
          if (!advanced) hwm.map(n -> _)
          else {
            val d = extreme - start
            val k = math.max(0L, Math.floorDiv(d, step) +
              (if (Math.floorMod(d, step) == 0L) 0L else 1L))
            Some(n -> (start + k * step))
          }
        }
    }.toMap
    val identityAdvanced = identityCols.exists {
      case (n, _, _, _, hwm) => identityHwms.get(n) != hwm }
    // ROW TRACKING: every added file takes a fresh baseRowId range
    // past the delta.rowTracking domain's high-water mark, stamped
    // with this commit's version; the same commit republishes the
    // domain with the advanced mark
    val rowTracking =
      prior.exists(_.writerFeatures.contains("rowTracking"))
    val rowIdBase: Map[String, Long] =
      if (!rowTracking) Map.empty
      else {
        var cursor = rowIdCursorStart(prior.get)
        adds.map { a =>
          val n = numRecordsOf(a).getOrElse(
            throw new UnsupportedDeltaFeatureException(
              s"cannot assign baseRowId on $table: staged file " +
                s"${a.path} records no numRecords stats"))
          val b = cursor; cursor += n; a.path -> b
        }.toMap
      }
    val newRowIdHwm: Long =
      if (!rowTracking || adds.isEmpty) -1L
      else adds.map(a =>
        rowIdBase(a.path) + numRecordsOf(a).getOrElse(0L) - 1).max
    // writer obligations (CHECK constraints, invariants, NOT NULL,
    // generated columns) validate against the STAGED files before the
    // commit publishes — a violation deletes them and nothing lands
    prior.foreach(p => DeltaWriteGate.validateAddsOrAbort(spark, table,
      p, recordedSchema, partitionBy, adds,
      if (overwrite) "overwrite" else "append", fs, root))

    def buildLines(pOpt: Option[DeltaState], v: Long,
        rowIdBaseA: Map[String, Long], newRowIdHwmA: Long,
        trackingA: Boolean): Seq[String] = {
      val now = System.currentTimeMillis()
      val lines = scala.collection.mutable.ArrayBuffer.empty[String]
      lines += s"""{"commitInfo":{"timestamp":$now,"operation":${
        jstr(if (overwrite || pOpt.isEmpty) "WRITE" else "APPEND")
      },"operationParameters":{},"engineInfo":${jstr("graft")}}}"""
      // the protocol's idempotent-writer primitive: a (appId, version)
      // stamp the NEXT attempt of the same epoch detects via
      // lastTxnVersion — the exactly-once streaming contract
      txn.foreach { case (appId, tv) =>
        lines += s"""{"txn":{"appId":${jstr(appId)},"version":$tv,""" +
          s""""lastUpdated":$now}}"""
      }
      if (pOpt.isEmpty) {
        // identity columns need legacy writer 6 (which implies the
        // lower versions' features, identityColumns included)
        val wv = if (identity.nonEmpty) 6 else if (mapped) 5 else 2
        if (mapped) {
          lines += s"""{"protocol":{"minReaderVersion":2,"minWriterVersion":$wv}}"""
          lines += metaDataJson(
            withIdentityHwm(recordedSchema, identityHwms), partitionBy,
            now, Map("delta.columnMapping.mode" -> "name",
              "delta.columnMapping.maxColumnId" -> maxColumnId.toString))
        } else {
          lines += s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":$wv}}"""
          lines += metaDataJson(
            withIdentityHwm(recordedSchema, identityHwms), partitionBy,
            now)
        }
      } else if (schemaChanged)
        lines += metaDataJson(recordedSchema, partitionBy, now,
          prior.map(_.configuration).getOrElse(Map.empty),
          prior.flatMap(_.metaId))
      else if (identityAdvanced)
        // same commit, same metaData id: only the identity high-water
        // marks move (the protocol's same-commit advance rule)
        lines += metaDataJson(
          withIdentityHwm(recordedSchema, identityHwms), partitionBy,
          now, prior.map(_.configuration).getOrElse(Map.empty),
          prior.flatMap(_.metaId))
      if (overwrite) prior.toSeq.flatMap(_.files).foreach { f =>
        lines += s"""{"remove":{"path":${jstr(urlEncode(f.path))},""" +
          s""""deletionTimestamp":$now,"dataChange":true}}"""
      }
      adds.foreach { a =>
        val pvJson = a.partitionValues.map {
          case (k, Some(pv)) => s"${jstr(k)}:${jstr(pv)}"
          case (k, None) => s"${jstr(k)}:null"
        }.mkString("{", ",", "}")
        lines += s"""{"add":{"path":${jstr(urlEncode(a.path))},""" +
          s""""partitionValues":$pvJson,"size":${a.size},""" +
          s""""modificationTime":$now,"dataChange":true""" +
          a.stats.map(s => s""","stats":${jstr(s)}""").getOrElse("") +
          rowIdBaseA.get(a.path).map(b =>
            s""","baseRowId":$b,"defaultRowCommitVersion":$v""")
            .getOrElse("") + "}}"
      }
      if (trackingA && adds.nonEmpty)
        lines += domainJson(RowTrackingDomain,
          s"""{"rowIdHighWaterMark":$newRowIdHwmA}""")
      lines.toSeq
    }

    // COMMIT with blind-append auto-retry (the ManifestLake
    // `commitAppendWithRebase` discipline brought to the Delta side):
    // an APPEND that loses the version race re-resolves the winner's
    // state, RE-PROVES every obligation it already proved (protocol
    // gate, partitioning, mapping, schema shape, constraints on the
    // still-staged files, row-id assignment) and retries at the next
    // version — the staged data files are version-free so nothing
    // rewrites. Rewrites (overwrite), identity tables (allocated
    // values are baked into the staged parquet) and txn-stamped
    // commits (the sink owns replay decisions) keep RAISING the named
    // conflict.
    var attemptState = prior
    var attemptRowIdBase = rowIdBase
    var attemptHwm = newRowIdHwm
    var attemptTracking = rowTracking
    var attempts = 0
    while (true) {
      val v = attemptState.map(_.version + 1).getOrElse(0L)
      try return publishCommit(fs, logDir, v,
        buildLines(attemptState, v, attemptRowIdBase, attemptHwm,
          attemptTracking),
        attemptState.map(_.configuration).getOrElse(Map.empty))
      catch { case e: ConcurrentDeltaCommitException =>
        attempts += 1
        if (overwrite || txn.nonEmpty || identityCols.nonEmpty ||
          attempts > MaxCommitRetries) throw e
        val ws = state(spark, table, None)
        DeltaWriteGate.requireWritable(ws, table,
          "append (retried over a concurrent commit)",
          removesData = false, addsData = true,
          identityHandled = true, rowTrackingHandled = true)
        def abortRetry(why: String): Nothing = {
          adds.foreach(a => scala.util.Try(
            fs.delete(new Path(root, a.path), false)): Unit)
          throw new ConcurrentDeltaCommitException(
            s"append to $table lost the race to a commit that $why — " +
              "cannot rebase; staged files removed, nothing landed")
        }
        if (ws.partitionColumns != partitionBy)
          abortRetry(s"changed the partitioning to " +
            s"[${ws.partitionColumns.mkString(", ")}]")
        if ((ws.columnMappingMode != "none") != mapped)
          abortRetry(s"set columnMapping=${ws.columnMappingMode}")
        if (!InteropSchema.sameShape(ws.schema, recordedSchema))
          abortRetry("changed the schema")
        if (ws.schema.fields.exists(f =>
          f.metadata.contains("delta.identity.start") ||
            f.metadata.contains("delta.identity.step")))
          abortRetry("declared IDENTITY columns (this append did " +
            "not allocate values)")
        // a winner ENABLING icebergCompatV2 mid-race makes the staged
        // files (written before the duty existed) field-id-less —
        // committing them would break the table's Iceberg mirror
        def compatOn(s: DeltaState): Boolean =
          s.writerFeatures.contains("icebergCompatV2") &&
            s.configuration.get("delta.enableIcebergCompatV2")
              .contains("true")
        if (compatOn(ws) && !prior.exists(compatOn))
          abortRetry("enabled icebergCompatV2 (the staged files " +
            "carry no parquet field ids)")
        // constraints/invariants the winner may have added validate
        // against the STILL-STAGED files; a violation deletes them
        // and aborts — the sequential-append semantics exactly
        DeltaWriteGate.validateAddsOrAbort(spark, table, ws, ws.schema,
          partitionBy, adds, "append (retried over a concurrent " +
            "commit)", fs, root)
        // row-id ranges re-allocate past the WINNER's high-water mark
        // (assignments live in the log, not the staged parquet)
        attemptTracking = ws.writerFeatures.contains("rowTracking")
        if (attemptTracking) {
          var cursor = rowIdCursorStart(ws)
          attemptRowIdBase = adds.map { a =>
            val n = numRecordsOf(a).getOrElse(
              throw new UnsupportedDeltaFeatureException(
                s"cannot assign baseRowId on $table: staged file " +
                  s"${a.path} records no numRecords stats"))
            val b = cursor; cursor += n; a.path -> b
          }.toMap
          attemptHwm =
            if (adds.isEmpty) -1L
            else adds.map(a => attemptRowIdBase(a.path) +
              numRecordsOf(a).getOrElse(0L) - 1).max
        } else { attemptRowIdBase = Map.empty; attemptHwm = -1L }
        attemptState = Some(ws)
      }
    }
    -1L // unreachable — the loop returns or throws
  }

  // ------------------------------------------------------ row-level DML

  /** One row-level DML commit's outcome. */
  final case class DeltaDml(version: Long, rowsAffected: Long,
                            filesTouched: Int)

  private[sources] def numRecordsOf(a: DeltaAdd): Option[Long] = a.stats.flatMap { s =>
    import org.json4s._
    scala.util.Try(org.json4s.jackson.JsonMethods.parse(s)).toOption
      .flatMap(j => (j \ "numRecords") match {
        case JInt(n) => Some(n.toLong)
        case JLong(n) => Some(n)
        case _ => None
      })
  }

  private def pvJsonOf(pv: Map[String, Option[String]]): String =
    pv.map {
      case (k, Some(v)) => s"${jstr(k)}:${jstr(v)}"
      case (k, None) => s"${jstr(k)}:null"
    }.mkString("{", ",", "}")

  private def normStr(s: String): String =
    s.replaceFirst("^[A-Za-z][A-Za-z0-9+.-]*:/+", "/")

  /** The normalized key `_metadata.file_path` produces for a live
    * file: scheme stripped, URI percent-escapes INTACT (an on-disk
    * space shows as `%20`, a literal `%` as `%25`). Lineage keys MUST
    * go through `toUri` — Hadoop's `Path.toString` deliberately
    * unescapes, so a partition value with a space ("4-NOT SPECIFIED")
    * would silently miss every join against scan lineage. */
  private def uriKey(root: Path, rel: String): String =
    normStr(new Path(root, rel).toUri.toString)

  /** Stage `rows` as CHANGE-DATA files under `_change_data/` and
    * return their `cdc` action lines — the row-level record
    * [[changeFeed]] serves verbatim instead of re-deriving changes
    * from adds/removes. One staged write per partition-value group. */
  private def stageCdc(rows: DataFrame, root: Path, fs: FileSystem,
                       pv: Map[String, Option[String]]): Seq[String] = {
    val stage = new Path(root, s".cdc-${java.util.UUID.randomUUID()}")
    rows.write.mode("overwrite").parquet(stage.toString)
    val cdcDir = new Path(root, "_change_data")
    fs.mkdirs(cdcDir)
    val lines = listParquet(fs, stage).map { p =>
      val dest = new Path(cdcDir,
        s"cdc-${java.util.UUID.randomUUID()}.parquet")
      if (!fs.rename(p, dest))
        throw new IllegalStateException(s"failed to move $p to $dest")
      s"""{"cdc":{"path":${
        jstr(urlEncode(s"_change_data/${dest.getName}"))
      },"partitionValues":${pvJsonOf(pv)},"size":${
        fs.getFileStatus(dest).getLen
      },"dataChange":false}}"""
    }
    fs.delete(stage, true): Unit
    lines
  }

  /** The MOR kill-set writer shared by [[delete]] and [[updateMor]]:
    * serialize `matched`'s `(__fp, __pos)` pairs into one DV file PER
    * FILE on executors (merging any existing vector — the protocol's
    * cumulative rule), returning O(touched files)
    * `(normPath, payloadId, offset, sizeInBytes, cardinality, fresh)`
    * descriptors to the driver. Each file's positions must fit one
    * task, the same bound delta-spark's DV writer has. */
  private def writeDvPerFile(spark: SparkSession, root: Path,
      st: DeltaState, matched: DataFrame)
      : Array[(String, String, Long, Int, Long, Long)] = {
    import spark.implicits._
    val oldDvs: Map[String, DeltaDv.DvDescriptor] =
      st.files.flatMap(a => a.dv.map(d =>
        uriKey(root, a.path) -> d)).toMap
    val tableRootStr = root.toString
    matched.select(col("__fp"), col("__pos")).as[(String, Long)]
      .groupByKey(_._1)
      .mapGroups { (fp, it) =>
        val fresh = it.map(_._2).toArray
        val root0 = new Path(tableRootStr)
        val fs0 = root0.getFileSystem(
          new org.apache.hadoop.conf.Configuration())
        val old = oldDvs.get(fp)
          .map(d => DeltaDv.deserialize(
            DeltaDv.bitmapBytes(fs0, root0, d)))
          .getOrElse(Array.empty[Long])
        val all = (old ++ fresh).distinct.sorted
        val (enc, off, size) =
          DeltaDv.writeDvFile(fs0, root0, all.toIndexedSeq)
        (fp, enc, off, size, all.length.toLong, fresh.length.toLong)
      }.collect()
  }

  /** The protocol-upgrade line a first-vector commit needs (none when
    * the table already declares the feature). Upgrading a reader-v2
    * table (column mapping, implicit) to table features must DECLARE
    * columnMapping — version 3 lists every capability by name, and a
    * dropped declaration would let a mapping-unaware reader serve
    * physical gibberish. */
  private def dvProtocolLines(st: DeltaState): Seq[String] =
    if (st.minReaderVersion >= 3 &&
      st.readerFeatures.contains("deletionVectors")) Nil
    else {
      val base =
        if (st.minReaderVersion >= 3) st.readerFeatures
        else if (st.minReaderVersion == 2 || st.columnMappingMode != "none")
          st.readerFeatures :+ "columnMapping"
        else st.readerFeatures
      // writer features: version 7 lists every capability by name, so
      // a LEGACY upgrade must carry over what its minWriterVersion
      // IMPLIED (spec table: v2 appendOnly+invariants, v3 +check
      // constraints, v4 +changeDataFeed+generatedColumns, v5 +column
      // mapping, v6 +identityColumns) — copying only the reader list
      // would e.g. strip changeDataFeed from a CDF-enabled table and
      // delta-spark rejects a table whose property requires a feature
      // the protocol no longer declares. A table ALREADY at writer 7
      // declares its capabilities explicitly — the implication table
      // must NOT apply (it would over-declare features like
      // identityColumns that foreign writers then have to implement).
      val legacy = st.minWriterVersion < 7 && st.writerFeatures.isEmpty
      val legacyImplied: Seq[String] =
        (if (legacy && st.minWriterVersion >= 2)
           Seq("appendOnly", "invariants") else Nil) ++
        (if (legacy && st.minWriterVersion >= 3)
           Seq("checkConstraints") else Nil) ++
        (if (legacy && st.minWriterVersion >= 4)
           Seq("changeDataFeed", "generatedColumns") else Nil) ++
        (if (legacy && st.minWriterVersion >= 5)
           Seq("columnMapping") else Nil) ++
        (if (legacy && st.minWriterVersion >= 6)
           Seq("identityColumns") else Nil) ++
        (if (st.configuration.get("delta.enableChangeDataFeed")
          .contains("true")) Seq("changeDataFeed") else Nil)
      val rf0 = (base :+ "deletionVectors").distinct
      // reader-writer features (deletionVectors, columnMapping, …)
      // must appear in BOTH lists: the writer list carries everything
      // the reader list does, and columnMapping landing writer-side
      // via the implication must surface reader-side too
      val wf = (st.writerFeatures ++ legacyImplied ++ rf0).distinct
      val rf = (rf0 ++
        (if (wf.contains("columnMapping")) Seq("columnMapping")
         else Nil)).distinct
      val fj = rf.map(jstr).mkString("[", ",", "]")
      val wj = wf.map(jstr).mkString("[", ",", "]")
      Seq(s"""{"protocol":{"minReaderVersion":3,""" +
        s""""minWriterVersion":7,"readerFeatures":$fj,""" +
        s""""writerFeatures":$wj}}""")
    }

  /** The remove + vectored re-add lines for one touched file (or a
    * bare remove when the vector covers every physical row). */
  private def dvRewriteLines(a: DeltaAdd, enc: String, off: Long,
      size: Int, card: Long, now: Long): Seq[String] = {
    val rm = s"""{"remove":{"path":${jstr(urlEncode(a.path))},""" +
      s""""deletionTimestamp":$now,"dataChange":true}}"""
    if (numRecordsOf(a).contains(card)) Seq(rm)
    else Seq(rm,
      s"""{"add":{"path":${jstr(urlEncode(a.path))},""" +
        s""""partitionValues":${pvJsonOf(a.partitionValues)},""" +
        s""""size":${a.size},"modificationTime":$now,""" +
        s""""dataChange":true""" +
        a.stats.map(s => s""","stats":${jstr(s)}""").getOrElse("") +
        // re-adding the SAME file (positions unchanged) carries its
        // row-tracking assignment — dropping it would strip every
        // surviving row's id
        a.baseRowId.map(b => s""","baseRowId":$b""").getOrElse("") +
        a.defaultRowCommitVersion.map(v =>
          s""","defaultRowCommitVersion":$v""").getOrElse("") +
        s""","deletionVector":{"storageType":"u",""" +
        s""""pathOrInlineDv":${jstr(enc)},"offset":$off,""" +
        s""""sizeInBytes":$size,"cardinality":$card}}}""")
  }

  /** `DELETE FROM` a Delta table, MERGE-ON-READ — the deletion-vector
    * commit delta-spark itself prefers for small deletes on big files:
    * matched rows' positions serialize into RoaringBitmap DV files
    * (the on-disk framing [[DeltaDv.writeDvFile]] writes and
    * delta-spark reads), and each touched file re-commits with a
    * `deletionVector` descriptor instead of being rewritten — a
    * one-row delete on a 1 GB file costs one tiny sidecar, the
    * difference between interactive and hopeless at 100 TB. Vectors
    * are CUMULATIVE: a second delete on the same file unions the old
    * positions into its new vector (the protocol's rule — one
    * descriptor fully describes a file). A file whose vector reaches
    * its recorded `numRecords` drops from the table entirely (remove,
    * no re-add). The commit upgrades the protocol to table features
    * (minReaderVersion 3 / minWriterVersion 7, `deletionVectors`) on
    * the table's first vector, carrying any existing reader features
    * forward. SQL NULL semantics: a row deletes only when the
    * predicate is TRUE (filter keeps exactly those).
    *
    * Scale shape: one lineage scan finds matched `(file, position)`
    * pairs; vectors serialize PER FILE on executors
    * (`groupByKey(file)` — each file's positions must fit one task,
    * the same bound delta-spark's DV writer has); the driver sees
    * only O(touched files) descriptors. When the table's change data
    * feed is enabled, the deleted rows also stage as `cdc` files so
    * [[changeFeed]] serves them row-level (without CDF, a later
    * change-feed read over this commit refuses by name — file-level
    * derivation cannot see through a vector). */
  def delete(spark: SparkSession, table: String,
             predicate: org.apache.spark.sql.Column): DeltaDml = {
    val st = state(spark, table, None)
    // the DV delete never rewrites a data file — positions are stable,
    // the re-add carries the file's row-tracking assignment verbatim —
    // so row ids survive by construction (rowTrackingHandled)
    DeltaWriteGate.requireWritable(st, table, "DELETE",
      removesData = true, addsData = false, rowTrackingHandled = true)
    // deletion vectors are POSITION-keyed — the commit never writes a
    // column name — so the MOR delete serves column-mapped tables
    // as-is (the predicate resolves against the mapped read's logical
    // names); owed cdc files stage through the physical projection
    if (st.files.isEmpty) return DeltaDml(st.version, 0L, 0)
    val root = new Path(table)
    val fs = hadoopFs(spark, root)
    val byNorm: Map[String, DeltaAdd] =
      st.files.map(a => uriKey(root, a.path) -> a).toMap
    // live rows (existing vectors applied) matching the predicate,
    // with (file, position) lineage from the scan's metadata columns
    val matched = filesToDF(spark, table, st.schema, st.partitionColumns,
      st.files, st.columnMappingMode, keepLineage = true)
      .filter(predicate)
    val perFile = writeDvPerFile(spark, root, st, matched)
    if (perFile.isEmpty) return DeltaDml(st.version, 0L, 0)
    val cdfOn = st.configuration
      .get("delta.enableChangeDataFeed").contains("true")
    val touched = perFile.map(t => byNorm(t._1))
    val dataSchema = StructType(st.schema.fields.filterNot(f =>
      st.partitionColumns.contains(f.name)))
    val now = System.currentTimeMillis()
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    lines += s"""{"commitInfo":{"timestamp":$now,"operation":${
      jstr("DELETE")},"operationParameters":{},"engineInfo":${
      jstr("graft")}}}"""
    lines ++= dvProtocolLines(st)
    perFile.foreach { case (fp, enc, off, size, card, _) =>
      lines ++= dvRewriteLines(byNorm(fp), enc, off, size, card, now)
    }
    if (cdfOn) touched.groupBy(_.partitionValues).foreach {
      case (pv, adds) =>
        val rows = filesToDF(spark, table, st.schema,
          st.partitionColumns, adds.toIndexedSeq, st.columnMappingMode)
          .filter(predicate)
          .select(dataSchema.fields.toIndexedSeq.map(f => col(f.name)): _*)
          .withColumn("_change_type", lit("delete"))
        // cdc files store PHYSICAL column names on mapped tables,
        // like the data files they sit next to
        val cdcRows =
          if (st.columnMappingMode == "none") rows
          else toPhysical(rows, dataSchema, Seq("_change_type"))
        lines ++= stageCdc(cdcRows, root, fs, pv)
    }
    val v = publishCommit(fs, new Path(root, "_delta_log"),
      st.version + 1, lines.toSeq, st.configuration)
    DeltaDml(v, perFile.map(_._6).sum, perFile.length)
  }

  /** `UPDATE ... SET ... WHERE ...` on a Delta table, COPY-ON-WRITE:
    * only files holding a matching live row rewrite (matched rows
    * under the assignments — evaluated against the PRE-update row,
    * SQL-style — unmatched rows verbatim); the commit removes the old
    * files and adds their replacements with fresh footer stats. A
    * touched file's deletion vector materializes in the rewrite (the
    * replacement carries no vector). Assignments to partition columns
    * refuse by name — they would move rows across the log's recorded
    * partitionValues. When CDF is enabled the matched rows stage as
    * `update_preimage`/`update_postimage` cdc files.
    *
    * Scale shape: one lineage scan finds touched files (O(touched)
    * driver strings + per-file match counts in the same job); one
    * rewrite job per partition-value group over ONLY those files. */
  def update(spark: SparkSession, table: String,
             predicate: org.apache.spark.sql.Column,
             set: Seq[(String, org.apache.spark.sql.Column)]): DeltaDml = {
    val st = state(spark, table, None)
    // row-tracking tables rewrite with MATERIALIZED ids (below)
    DeltaWriteGate.requireWritable(st, table, "UPDATE",
      removesData = true, addsData = true, rowTrackingHandled = true)
    require(set.nonEmpty, "UPDATE needs at least one assignment")
    set.foreach { case (c, _) =>
      require(st.schema.exists(_.name == c),
        s"UPDATE target column $c is not in the schema of $table")
      require(!st.partitionColumns.contains(c),
        s"UPDATE of partition column $c is unsupported — it would " +
          "move rows across the log's recorded partitionValues")
    }
    if (st.files.isEmpty) return DeltaDml(st.version, 0L, 0)
    val rowTracking = st.writerFeatures.contains("rowTracking")
    val rtNames: Option[(String, String)] =
      (st.configuration.get(MatRowIdKey),
        st.configuration.get(MatRowCommitKey)) match {
        case (Some(a), Some(b)) => Some((a, b))
        case _ => None
      }
    if (rowTracking && rtNames.isEmpty)
      throw new UnsupportedDeltaFeatureException(
        s"UPDATE on row-tracking table $table: no materialized " +
          "tracking column names recorded — rewritten rows could not " +
          "preserve their ids")
    val rtFields: Seq[StructField] = rtNames.toSeq
      .filter(_ => rowTracking)
      .flatMap(t => Seq(StructField(t._1, LongType),
        StructField(t._2, LongType)))
    val root = new Path(table)
    val fs = hadoopFs(spark, root)
    val byNorm: Map[String, DeltaAdd] =
      st.files.map(a => uriKey(root, a.path) -> a).toMap
    import spark.implicits._
    // touched files AND per-file match counts in one lineage job
    val counts: Array[(String, Long)] =
      filesToDF(spark, table, st.schema, st.partitionColumns, st.files,
        st.columnMappingMode, keepLineage = true)
        .filter(predicate)
        .groupBy(col("__fp")).agg(count(lit(1)).as("n"))
        .as[(String, Long)].collect()
    if (counts.isEmpty) return DeltaDml(st.version, 0L, 0)
    val touched = counts.map(t => byNorm(t._1))
    val cdfOn = st.configuration
      .get("delta.enableChangeDataFeed").contains("true")
    val dataSchema = StructType(st.schema.fields.filterNot(f =>
      st.partitionColumns.contains(f.name)))
    val setMap = set.toMap
    def updatedSelect(d: DataFrame): DataFrame =
      d.select(st.schema.fields.toIndexedSeq.map { f =>
        setMap.get(f.name) match {
          case Some(e) =>
            when(predicate, e.cast(f.dataType))
              .otherwise(col(f.name)).as(f.name)
          case None => col(f.name)
        }
      }: _*)
    val dataCols = dataSchema.fields.toIndexedSeq.map(f => col(f.name))
    val now = System.currentTimeMillis()
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    lines += s"""{"commitInfo":{"timestamp":$now,"operation":${
      jstr("UPDATE")},"operationParameters":{},"engineInfo":${
      jstr("graft")}}}"""
    val mapped = st.columnMappingMode != "none"
    val statsSchema = if (mapped) physicalStruct(dataSchema) else dataSchema
    val newAdds = scala.collection.mutable.ArrayBuffer.empty[DeltaAdd]
    val version = st.version + 1
    var rowIdCursor =
      if (!rowTracking) 0L else rowIdCursorStart(st)
    val rowIdCursor0 = rowIdCursor
    touched.groupBy(_.partitionValues).foreach { case (pv, adds) =>
      // row-tracking rewrites resolve each row's id/commit-version on
      // the rewrite scan and MATERIALIZE them: bystanders carry both,
      // predicate-fired rows take this commit's version
      val rows =
        if (!rowTracking)
          filesToDF(spark, table, st.schema, st.partitionColumns,
            adds.toIndexedSeq, st.columnMappingMode)
        else {
          import org.apache.spark.sql.functions.{broadcast, coalesce}
          val (ridN, rcvN) = rtNames.get
          val scanned = filesToDF(spark, table, st.schema,
            st.partitionColumns, adds.toIndexedSeq,
            st.columnMappingMode, keepLineage = true,
            extraPhysical = rtFields)
          val info = broadcast(adds.map(a =>
            (uriKey(root, a.path), a.baseRowId,
              a.defaultRowCommitVersion))
            .toSeq.toDF("__fp", "__rt_base", "__rt_dcv"))
          scanned.join(info, Seq("__fp"), "left")
            .select((st.schema.fields.toIndexedSeq
              .map(f => col(s"`${f.name}`")) ++ Seq(
              coalesce(col(s"`$ridN`"),
                col("__rt_base") + col("__pos")).as(ridN),
              when(predicate, lit(version).cast(LongType))
                .otherwise(coalesce(col(s"`$rcvN`"), col("__rt_dcv")))
                .as(rcvN))): _*)
        }
      val rtCols = rtFields.map(f => col(s"`${f.name}`"))
      // one projection applies the assignments AND keeps the
      // materialized tracking columns, then partition columns drop
      val rewritten0 = rows
        .select((st.schema.fields.toIndexedSeq.map { f =>
          setMap.get(f.name) match {
            case Some(e) =>
              when(predicate, e.cast(f.dataType))
                .otherwise(col(f.name)).as(f.name)
            case None => col(f.name)
          }
        } ++ (if (rowTracking) rtCols else Nil)): _*)
        .select((dataCols ++ (if (rowTracking) rtCols else Nil)): _*)
      // mapped tables rewrite under PHYSICAL column names — the same
      // on-disk shape the files they replace had
      val rewritten = stampCompatIds(
        if (mapped) toPhysical(rewritten0, dataSchema,
          passThrough = rtFields.map(_.name))
        else rewritten0, st)
      val stage = new Path(root, s".update-${java.util.UUID.randomUUID()}")
      rewritten.write.mode("overwrite").parquet(stage.toString)
      listParquet(fs, stage).foreach { p =>
        val dest = new Path(root, p.getName)
        if (!fs.rename(p, dest))
          throw new IllegalStateException(s"failed to move $p to $dest")
        val (rows0, lo, hi) =
          ScanPredicates.footerStats(spark, dest, statsSchema)
        newAdds += DeltaAdd(p.getName, pv,
          fs.getFileStatus(dest).getLen)
        val rowIdJson =
          if (!rowTracking) ""
          else {
            val b = rowIdCursor; rowIdCursor += rows0
            s""","baseRowId":$b,"defaultRowCommitVersion":$version"""
          }
        lines += s"""{"add":{"path":${jstr(urlEncode(p.getName))},""" +
          s""""partitionValues":${pvJsonOf(pv)},""" +
          s""""size":${fs.getFileStatus(dest).getLen},""" +
          s""""modificationTime":$now,"dataChange":true""" +
          rowIdJson +
          s""","stats":${jstr(statsJson(rows0, lo, hi, statsSchema))}}}"""
      }
      fs.delete(stage, true): Unit
      adds.foreach(a =>
        lines += s"""{"remove":{"path":${jstr(urlEncode(a.path))},""" +
          s""""deletionTimestamp":$now,"dataChange":true}}""")
      if (cdfOn) {
        val pre = rows.filter(predicate)
        val cdcRows0 = pre.select(dataCols: _*)
          .withColumn("_change_type", lit("update_preimage"))
          .unionByName(updatedSelect(pre).select(dataCols: _*)
            .withColumn("_change_type", lit("update_postimage")))
        val cdcRows =
          if (mapped) toPhysical(cdcRows0, dataSchema, Seq("_change_type"))
          else cdcRows0
        lines ++= stageCdc(cdcRows, root, fs, pv)
      }
    }
    if (rowTracking && rowIdCursor > rowIdCursor0)
      lines += domainJson(RowTrackingDomain,
        s"""{"rowIdHighWaterMark":${rowIdCursor - 1}}""")
    // the REWRITTEN rows (post-assignment) must still satisfy the
    // table's recorded obligations — an UPDATE can violate what an
    // append never could (e.g. SET a required column to NULL)
    DeltaWriteGate.validateAddsOrAbort(spark, table, st, st.schema,
      st.partitionColumns, newAdds.toSeq, "UPDATE", fs, root)
    val v = publishCommit(fs, new Path(root, "_delta_log"),
      st.version + 1, lines.toSeq, st.configuration)
    DeltaDml(v, counts.map(_._2).sum, touched.length)
  }

  /** Stage CDC `rows` (data columns + `_change_type`; partition
    * columns present when the table is partitioned — the staged write
    * strips them into dirs) under `_change_data/` and return cdc
    * action lines with each file's partition values. The
    * partition-aware variant of [[stageCdc]], for DML whose rows can
    * MOVE across partitions (MERGE). */
  private def stageCdcFiles(rows: DataFrame, root: Path, fs: FileSystem,
                            partitionBy: Seq[String]): Seq[String] = {
    val stage = new Path(root, s".cdc-${java.util.UUID.randomUUID()}")
    val w = rows.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(stage.toString)
    val cdcDir = new Path(root, "_change_data")
    fs.mkdirs(cdcDir)
    val lines = listParquet(fs, stage).map { p =>
      val rel = relativize(stage, p)
      val pv = hivePartitionValues(rel)
      val dest = new Path(cdcDir,
        s"cdc-${java.util.UUID.randomUUID()}.parquet")
      if (!fs.rename(p, dest))
        throw new IllegalStateException(s"failed to move $p to $dest")
      s"""{"cdc":{"path":${
        jstr(urlEncode(s"_change_data/${dest.getName}"))
      },"partitionValues":${
        pvJsonOf(partitionBy.map(c => c -> pv.get(c).flatten).toMap)
      },"size":${fs.getFileStatus(dest).getLen},"dataChange":false}}"""
    }
    fs.delete(stage, true): Unit
    lines
  }

  /** MERGE-ON-READ `UPDATE` — the write-amplification answer for
    * small updates on big files: instead of rewriting every touched
    * file ([[update]]'s copy-on-write), the matched rows' positions
    * join their files' deletion vectors (killing the OLD images) and
    * the NEW images append as fresh files — a one-row update on a
    * 1 GB file costs one tiny sidecar plus a one-row file. The shape
    * delta-spark itself uses for DV-enabled updates. Same semantics
    * as [[update]] (pre-update assignment evaluation, partition
    * columns not assignable, CDC pre/post images when enabled);
    * appended rows land under the rows' ORIGINAL partition values
    * (partition columns are not assignable, so none move). Reads stay
    * O(live rows); the vectored debt retires through
    * [[purgeDeletionVectors]] / [[optimize]] like any delete's. */
  def updateMor(spark: SparkSession, table: String,
                predicate: org.apache.spark.sql.Column,
                set: Seq[(String, org.apache.spark.sql.Column)]): DeltaDml = {
    val st = state(spark, table, None)
    // the MOR update is row-tracking-safe: the kill side never
    // rewrites a file (vectors), and the NEW images MATERIALIZE each
    // matched row's resolved id under the recorded column names
    DeltaWriteGate.requireWritable(st, table, "UPDATE",
      removesData = true, addsData = true, rowTrackingHandled = true)
    require(set.nonEmpty, "UPDATE needs at least one assignment")
    set.foreach { case (c, _) =>
      require(st.schema.exists(_.name == c),
        s"UPDATE target column $c is not in the schema of $table")
      require(!st.partitionColumns.contains(c),
        s"UPDATE of partition column $c is unsupported — it would " +
          "move rows across the log's recorded partitionValues")
    }
    if (st.files.isEmpty) return DeltaDml(st.version, 0L, 0)
    val rowTracking = st.writerFeatures.contains("rowTracking")
    val matNames: Option[(String, String)] =
      (st.configuration.get(MatRowIdKey),
        st.configuration.get(MatRowCommitKey)) match {
        case (Some(a), Some(b)) => Some((a, b))
        case _ => None
      }
    if (rowTracking && matNames.isEmpty)
      throw new UnsupportedDeltaFeatureException(
        s"UPDATE on row-tracking table $table: no materialized " +
          "tracking column names recorded " +
          s"($MatRowIdKey/$MatRowCommitKey) — rewritten rows could " +
          "not preserve their ids")
    val root = new Path(table)
    val fs = hadoopFs(spark, root)
    val byNorm: Map[String, DeltaAdd] =
      st.files.map(a => uriKey(root, a.path) -> a).toMap
    // one lineage scan feeds BOTH the kill set and the new images
    // (row-tracking tables resolve each row's id alongside)
    val matched = (if (rowTracking) rowIdResolvedScan(spark, table, st)
      else filesToDF(spark, table, st.schema, st.partitionColumns,
        st.files, st.columnMappingMode, keepLineage = true))
      .filter(predicate).persist()
    try {
      val perFile = writeDvPerFile(spark, root, st, matched)
      if (perFile.isEmpty) return DeltaDml(st.version, 0L, 0)
      val setMap = set.toMap
      val version = st.version + 1
      val updated = matched.select(
        (st.schema.fields.toIndexedSeq.map { f =>
          setMap.get(f.name) match {
            case Some(e) => e.cast(f.dataType).as(f.name)
            case None => col(f.name)
          }
        } ++ matNames.toSeq.filter(_ => rowTracking).flatMap {
          case (ridN, rcvN) => Seq(col("__rt_rid").as(ridN),
            lit(version).cast(LongType).as(rcvN))
        }): _*)
      val dataSchema = StructType(st.schema.fields.filterNot(f =>
        st.partitionColumns.contains(f.name)))
      val now = System.currentTimeMillis()
      val lines = scala.collection.mutable.ArrayBuffer.empty[String]
      lines += s"""{"commitInfo":{"timestamp":$now,"operation":${
        jstr("UPDATE")},"operationParameters":{},"engineInfo":${
        jstr("graft")}}}"""
      lines ++= dvProtocolLines(st)
      perFile.foreach { case (fp, enc, off, size, card, _) =>
        lines ++= dvRewriteLines(byNorm(fp), enc, off, size, card, now)
      }
      // the new images append through write()'s partition-dir layout
      // (physical column names and dirs on mapped tables)
      val mapped = st.columnMappingMode != "none"
      val physKey = physKeyOf(st.schema)
      val partitionDirs =
        if (mapped) st.partitionColumns.map(physKey)
        else st.partitionColumns
      val statsSchema =
        if (mapped) physicalStruct(dataSchema) else dataSchema
      val stage = new Path(root, s".update-${java.util.UUID.randomUUID()}")
      val stagedFrame = stampCompatIds(
        if (mapped) toPhysical(updated, st.schema,
          passThrough = matNames.toSeq.filter(_ => rowTracking)
            .flatMap(t => Seq(t._1, t._2)))
        else updated, st)
      val w = stagedFrame.write.mode("overwrite")
      (if (partitionDirs.nonEmpty)
         w.partitionBy(partitionDirs: _*)
       else w).parquet(stage.toString)
      val newAdds = scala.collection.mutable.ArrayBuffer.empty[DeltaAdd]
      // fresh base-row-id ranges for the image files (materialized
      // per-row values take precedence; the range advances the mark)
      var rowIdCursor =
        if (!rowTracking) 0L else rowIdCursorStart(st)
      val rowIdCursor0 = rowIdCursor
      listParquet(fs, stage).foreach { p =>
        val rel = relativize(stage, p)
        val (rows0, lo, hi) =
          ScanPredicates.footerStats(spark, p, statsSchema)
        if (rows0 > 0) {
          val dest = new Path(root, rel)
          fs.mkdirs(dest.getParent)
          if (!fs.rename(p, dest))
            throw new IllegalStateException(s"failed to move $p to $dest")
          val pv = hivePartitionValues(rel)
          newAdds += DeltaAdd(rel,
            partitionDirs.map(c => c -> pv.get(c).flatten).toMap,
            fs.getFileStatus(dest).getLen)
          val rowIdJson =
            if (!rowTracking) ""
            else {
              val b = rowIdCursor; rowIdCursor += rows0
              s""","baseRowId":$b,"defaultRowCommitVersion":$version"""
            }
          lines += s"""{"add":{"path":${jstr(urlEncode(rel))},""" +
            s""""partitionValues":${
              pvJsonOf(partitionDirs
                .map(c => c -> pv.get(c).flatten).toMap)
            },"size":${fs.getFileStatus(dest).getLen},""" +
            s""""modificationTime":$now,"dataChange":true""" +
            rowIdJson +
            s""","stats":${jstr(statsJson(rows0, lo, hi, statsSchema))}}}"""
        }
      }
      if (rowTracking && rowIdCursor > rowIdCursor0)
        lines += domainJson(RowTrackingDomain,
          s"""{"rowIdHighWaterMark":${rowIdCursor - 1}}""")
      fs.delete(stage, true): Unit
      if (st.configuration.get("delta.enableChangeDataFeed")
        .contains("true")) {
        val allCols = st.schema.fields.toIndexedSeq.map(f => col(f.name))
        val cdcRows0 = matched.select(allCols: _*)
          .withColumn("_change_type", lit("update_preimage"))
          .unionByName(updated.select(allCols: _*)
            .withColumn("_change_type", lit("update_postimage")))
        val cdcRows =
          if (mapped) toPhysical(cdcRows0, st.schema, Seq("_change_type"))
          else cdcRows0
        lines ++= stageCdcFiles(cdcRows, root, fs, partitionDirs)
      }
      DeltaWriteGate.validateAddsOrAbort(spark, table, st, st.schema,
        st.partitionColumns, newAdds.toSeq, "UPDATE", fs, root)
      val v = publishCommit(fs, new Path(root, "_delta_log"),
        st.version + 1, lines.toSeq, st.configuration)
      DeltaDml(v, perFile.map(_._6).sum, perFile.length)
    } finally matched.unpersist(): Unit
  }

  /** `MERGE INTO` a Delta table — the classic upsert (`WHEN MATCHED
    * THEN UPDATE SET *` / `WHEN NOT MATCHED THEN INSERT *`), the
    * plain-shape door onto [[mergeApply]]'s clause machinery. The
    * source must carry the full schema (the wholesale-replacement
    * contract), and keys must be UNIQUE. See [[mergeApply]] for the
    * cost model. */
  def merge(source: DataFrame, table: String,
            keyCols: Seq[String]): DeltaDml = {
    val st = state(source.sparkSession, table, None)
    InteropSchema.requireAppendCompatible(source.schema, st.schema, table)
    mergeApplyResolved(st, source, table, keyCols,
      matched = Seq(ManifestLake.MergeUpdate()),
      notMatched = Seq(ManifestLake.MergeInsert()),
      notMatchedBySource = Nil, scope = None, fullTableMerge = false)
  }

  /** Generalized `MERGE INTO` — the full Delta clause surface,
    * COPY-ON-WRITE ([[ManifestLake.mergeApply]]'s semantics on the
    * interop's staging):
    * {{{
    *   WHEN MATCHED [AND c] THEN UPDATE SET x = e, ... | UPDATE SET * | DELETE
    *   WHEN NOT MATCHED [AND c] THEN INSERT (x, ...) VALUES (e, ...) | INSERT *
    *   WHEN NOT MATCHED BY SOURCE [AND c] THEN UPDATE SET x = e, ... | DELETE
    * }}}
    * Clause conditions and values are Columns over the JOINED row:
    * target columns under their own names, source columns under
    * [[ManifestLake.MergeSrcPrefix]] ([[ManifestLake.mergeSrcCol]]).
    * Clauses apply FIRST-MATCH-WINS in declaration order (a NULL
    * condition is not a match); a matched row no clause fires on
    * carries over unchanged; a source row no insert clause fires on
    * is dropped. The source must be KEY-UNIQUE. MERGE never changes
    * the schema here. Updated rows may move PARTITIONS (the rewrite
    * stages through [[write]]'s partition-dir layout, physical names
    * on column-mapped tables). With CDF enabled, the commit stages
    * `update_preimage`/`update_postimage`, `delete` and `insert`
    * cdc images of exactly the rows a clause touched.
    *
    * `WHEN NOT MATCHED BY SOURCE` keeps the lake's cost contract:
    * it needs a `scope` (a target-only predicate — SQL derives it
    * from extra ON conjuncts — whose stats/partition bounds prune
    * candidate files like DELETE's, with the lake's documented
    * sync-boundary reading), OR `fullTableMerge = true` (the
    * explicit whole-table opt-in, standard Delta semantics), OR a
    * target provably small under
    * [[ManifestLake.NmbsSmallTableBytesConf]].
    *
    * Scale shape ([[MergeClauses]]' three passes over the persisted
    * source): one job over the source keys gives the duplicate-key
    * verdict; one key-column scan (column-pruned) semi-joined with
    * the source keys finds the key-matched files and keeps the
    * matched keys; one left join of the rewritten files' rows with
    * the source, unioned with the inserts (the source rows anti-joined
    * with the kept matched keys), feeds the data write, the CDC write
    * and the row counts, which the data write takes as it reads the
    * rows. The NMBS scope prunes on recorded stats/partition values
    * before one anti-join scan finds clause-fired files; ONLY files
    * holding a fired row rewrite. AQE broadcasts a small source. On a
    * 20,000-row, 4-file table with CDF on and a 200-row change batch
    * that is 9 Spark jobs (`MergeJobsSpec`). */
  def mergeApply(source: DataFrame, table: String, keyCols: Seq[String],
                 matched: Seq[ManifestLake.MergeMatched],
                 notMatched: Seq[ManifestLake.MergeInsert] = Nil,
                 notMatchedBySource: Seq[ManifestLake.MergeMatched] = Nil,
                 scope: Option[org.apache.spark.sql.Column] = None,
                 fullTableMerge: Boolean = false,
                 txn: Option[(String, Long)] = None): DeltaDml =
    mergeApplyResolved(state(source.sparkSession, table, None),
      source, table, keyCols, matched, notMatched,
      notMatchedBySource, scope, fullTableMerge, txn)

  /** [[mergeApply]] against an already-resolved state — one log
    * replay per statement whatever the entry point (merge() checks
    * schema compatibility against the SAME state it merges). The
    * source is persisted for the statement: its plan feeds the
    * key-uniqueness guard, the touched-file scans and the rewrite
    * join, and a nondeterministic source re-executed per job could
    * commit rows that disagree with its own images (the lake's
    * mergeApply discipline). The commit records delta-spark's MERGE
    * `operationMetrics`. */
  private def mergeApplyResolved(st: DeltaState, source: DataFrame,
      table: String, keyCols: Seq[String],
      matched: Seq[ManifestLake.MergeMatched],
      notMatched: Seq[ManifestLake.MergeInsert],
      notMatchedBySource: Seq[ManifestLake.MergeMatched],
      scope: Option[org.apache.spark.sql.Column],
      fullTableMerge: Boolean,
      txn: Option[(String, Long)] = None): DeltaDml = {
    val spark = source.sparkSession
    MergeClauses.requireValid(keyCols, matched, notMatched,
      notMatchedBySource)
    // a matched/NMBS clause rewrites target files (remove actions,
    // dataChange=true) — illegal on append-only tables; an insert-only
    // merge is a plain append and passes. Row-tracking tables rewrite
    // with MATERIALIZED ids (below), so merge preserves row ids.
    DeltaWriteGate.requireWritable(st, table, "MERGE",
      removesData = matched.nonEmpty || notMatchedBySource.nonEmpty,
      addsData = true, rowTrackingHandled = true)
    val rowTracking = st.writerFeatures.contains("rowTracking")
    val rtNames: Option[(String, String)] =
      (st.configuration.get(MatRowIdKey),
        st.configuration.get(MatRowCommitKey)) match {
        case (Some(a), Some(b)) => Some((a, b))
        case _ => None
      }
    if (rowTracking && rtNames.isEmpty)
      throw new UnsupportedDeltaFeatureException(
        s"MERGE on row-tracking table $table: no materialized " +
          "tracking column names recorded — rewritten rows could not " +
          "preserve their ids")
    val rtFields: Seq[StructField] = rtNames.toSeq
      .filter(_ => rowTracking)
      .flatMap(t => Seq(StructField(t._1, LongType),
        StructField(t._2, LongType)))
    keyCols.foreach(k => require(st.schema.exists(_.name == k),
      s"MERGE key column $k is not in the schema of $table"))
    val root = new Path(table)
    val fs = hadoopFs(spark, root)
    import spark.implicits._
    val stmt = new MergeClauses.Statement(source)
    try {
      // nondeterministic-merge guard: a key matched by 2+ source rows
      val summary = MergeClauses.summarize(stmt, keyCols)
      require(summary.duplicate.isEmpty,
        s"MERGE source has duplicate key rows on " +
          s"(${keyCols.mkString(", ")}) — which one updates the target " +
          "is undefined; deduplicate the source first")
      val effectiveFullTable = fullTableMerge ||
        (notMatchedBySource.nonEmpty && scope.isEmpty &&
          MergeClauses.nmbsSmallTable(spark,
        if (st.files.isEmpty) None else Some(st.files.map(_.size).sum)))
      if (notMatchedBySource.nonEmpty)
        require(scope.nonEmpty || effectiveFullTable,
          "WHEN NOT MATCHED BY SOURCE fires on any target row without a " +
            "source match — unscoped, that is O(table). Either add " +
            "target-only conjuncts to the ON clause (a prune-able scope) " +
            "or opt in to the whole-table pass with fullTableMerge = " +
            "true. Tables whose recorded size fits " +
            s"${ManifestLake.NmbsSmallTableBytesConf} run whole-table " +
            "automatically.")
      // one key-column scan: the files holding a key match and the
      // matched keys the insert anti-join reads (skipped when no clause
      // can use them — an NMBS-only sync never rewrites key-matched
      // files)
      val pr =
        if (matched.isEmpty && notMatched.isEmpty)
          MergeClauses.noProbe(stmt, keyCols)
        else MergeClauses.probe(stmt, filesToDF(spark, table, st.schema,
          st.partitionColumns, st.files, st.columnMappingMode,
          keepLineage = true)
          .select((keyCols.map(col) :+ col("__fp")).toIndexedSeq: _*),
          "__fp", keyCols)
      val touchedNames: Set[String] =
        if (matched.isEmpty) Set.empty else pr.files
      val touched = st.files.filter(a => touchedNames(uriKey(root, a.path)))
      // NMBS-fired files: scope-pruned candidates, one anti-join scan
      val nmbsTouched: Seq[DeltaAdd] =
        if (notMatchedBySource.isEmpty) Nil
        else {
          val zone = java.time.ZoneId.of(
            spark.sessionState.conf.sessionLocalTimeZone)
          val cands0 = st.files.filterNot(a =>
            touchedNames(uriKey(root, a.path)))
          val cands = scope match {
            case Some(sc) =>
              val preds = ScanPredicates.fromSqlCondition(
                org.apache.spark.sql.graftbridge.ColumnBridge.expression(sc))
              cands0.filterNot(a =>
                preds.exists(p => filePrunes(a, st, zone, p)))
            case None => cands0
          }
          if (cands.isEmpty) Nil
          else {
            val rowScope = scope
              .map(c => org.apache.spark.sql.functions.coalesce(c,
                lit(false)))
              .getOrElse(lit(true))
            val hit = filesToDF(spark, table, st.schema,
              st.partitionColumns, cands.toIndexedSeq,
              st.columnMappingMode, keepLineage = true)
              .join(stmt.cached.select(keyCols.map(col): _*).distinct(),
                keyCols, "left_anti")
              .where(rowScope)
              .withColumn("__nact",
                MergeClauses.actionIndex(notMatchedBySource))
              .filter(col("__nact") >= 0)
              .select(col("__fp")).distinct().as[String].collect().toSet
            cands.filter(a => hit(uriKey(root, a.path)))
          }
        }
      val rewriteSet = (touched ++ nmbsTouched).distinctBy(_.path)
      val version = st.version + 1
      // row-tracking rewrites resolve each row's id/commit-version on
      // the rewrite scan (materialized value, else base + position)
      // and MATERIALIZE them: survivors carry, UPDATE-fired rows take
      // this commit's version, inserts land null and inherit fresh
      val currentRows =
        if (rewriteSet.isEmpty)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            StructType(st.schema.fields ++ rtFields))
        else if (!rowTracking)
          filesToDF(spark, table, st.schema, st.partitionColumns,
            rewriteSet, st.columnMappingMode)
        else {
          import org.apache.spark.sql.functions.{broadcast, coalesce}
          val (ridN, rcvN) = rtNames.get
          val scanned = filesToDF(spark, table, st.schema,
            st.partitionColumns, rewriteSet, st.columnMappingMode,
            keepLineage = true, extraPhysical = rtFields)
          val info = broadcast(rewriteSet.map(a =>
            (uriKey(root, a.path), a.baseRowId,
              a.defaultRowCommitVersion))
            .toDF("__fp", "__rt_base", "__rt_dcv"))
          scanned.join(info, Seq("__fp"), "left")
            .select((st.schema.fields.toIndexedSeq
              .map(f => col(s"`${f.name}`")) ++ Seq(
              coalesce(col(s"`$ridN`"),
                col("__rt_base") + col("__pos")).as(ridN),
              coalesce(col(s"`$rcvN`"), col("__rt_dcv")).as(rcvN))): _*)
        }
      val cdfOn = st.configuration
        .get("delta.enableChangeDataFeed").contains("true")
      val ap = MergeClauses(currentRows, stmt, keyCols, st.schema,
        matched, notMatched, notMatchedBySource, scope, effectiveFullTable,
        pr, keep = cdfOn,
        extraCarry = rtFields,
        stampUpdated =
          if (!rowTracking) Map.empty
          else Map(rtNames.get._2 ->
            lit(version).cast(LongType)))
      // stage through the same partition-dir layout as write()
      // (physical column names and dirs on mapped tables)
      val mapped = st.columnMappingMode != "none"
      val physKey = physKeyOf(st.schema)
      val partitionDirs =
        if (mapped) st.partitionColumns.map(physKey) else st.partitionColumns
      val stage = new Path(root, s".merge-${java.util.UUID.randomUUID()}")
      val stagedFrame = stampCompatIds(
        if (mapped) toPhysical(ap.written, st.schema,
          passThrough = rtFields.map(_.name))
        else ap.written, st)
      val w = stagedFrame.write.mode("overwrite")
      (if (partitionDirs.nonEmpty)
         w.partitionBy(partitionDirs: _*)
       else w).parquet(stage.toString)
      val dataSchema = StructType(st.schema.fields.filterNot(f =>
        st.partitionColumns.contains(f.name)))
      val statsSchema =
        if (mapped) physicalStruct(dataSchema) else dataSchema
      val now = System.currentTimeMillis()
      val lines = scala.collection.mutable.ArrayBuffer.empty[String]
      txn.foreach { case (appId, v) =>
        lines += s"""{"txn":{"appId":${jstr(appId)},"version":$v,""" +
          s""""lastUpdated":$now}}"""
      }
      var insertedAny = false
      var rowIdCursor =
        if (!rowTracking) 0L else rowIdCursorStart(st)
      val rowIdCursor0 = rowIdCursor
      val newAdds = scala.collection.mutable.ArrayBuffer.empty[DeltaAdd]
      listParquet(fs, stage).foreach { p =>
        val rel = relativize(stage, p)
        val (rows0, lo, hi) =
          ScanPredicates.footerStats(spark, p, statsSchema)
        if (rows0 > 0) { // an all-no-op group stages an empty file — skip
          val dest = new Path(root, rel)
          fs.mkdirs(dest.getParent)
          if (!fs.rename(p, dest))
            throw new IllegalStateException(s"failed to move $p to $dest")
          insertedAny = true
          val pv = hivePartitionValues(rel)
          newAdds += DeltaAdd(rel,
            partitionDirs.map(c => c -> pv.get(c).flatten).toMap,
            fs.getFileStatus(dest).getLen)
          val rowIdJson =
            if (!rowTracking) ""
            else {
              val b = rowIdCursor; rowIdCursor += rows0
              s""","baseRowId":$b,"defaultRowCommitVersion":$version"""
            }
          lines += s"""{"add":{"path":${jstr(urlEncode(rel))},""" +
            s""""partitionValues":${
              pvJsonOf(partitionDirs
                .map(c => c -> pv.get(c).flatten).toMap)
            },"size":${fs.getFileStatus(dest).getLen},""" +
            s""""modificationTime":$now,"dataChange":true""" +
            rowIdJson +
            s""","stats":${jstr(statsJson(rows0, lo, hi, statsSchema))}}}"""
        }
      }
      if (rowTracking && rowIdCursor > rowIdCursor0)
        lines += domainJson(RowTrackingDomain,
          s"""{"rowIdHighWaterMark":${rowIdCursor - 1}}""")
      fs.delete(stage, true): Unit
      rewriteSet.foreach(a =>
        lines += s"""{"remove":{"path":${jstr(urlEncode(a.path))},""" +
          s""""deletionTimestamp":$now,"dataChange":true}}""")
      // a merge into an empty/no-match state with an empty source would
      // publish an empty commit — keep the version instead
      if (rewriteSet.isEmpty && !insertedAny) return DeltaDml(st.version, 0L, 0)
      // merged rows (updates applied, inserts included) must satisfy
      // the table's recorded obligations before anything publishes
      DeltaWriteGate.validateAddsOrAbort(spark, table, st, st.schema,
        st.partitionColumns, newAdds.toSeq, "MERGE", fs, root)
      // rowsAffected: clause-FIRED rows (matched + NMBS) plus fired
      // inserts, as the data write counted them
      val counts = ap.counts()
      if (cdfOn) {
        val cdcRows0 = ap.updatedPre
            .withColumn("_change_type", lit("update_preimage"))
          .unionByName(ap.updatedPost
            .withColumn("_change_type", lit("update_postimage")))
          .unionByName(ap.deletedOld
            .withColumn("_change_type", lit("delete")))
          .unionByName(ap.inserts
            .withColumn("_change_type", lit("insert")))
        val cdcRows =
          if (mapped) toPhysical(cdcRows0, st.schema, Seq("_change_type"))
          else cdcRows0
        lines ++= stageCdcFiles(cdcRows, root, fs, partitionDirs)
      }
      // delta-spark's MERGE metric names, values as strings
      val metrics = Seq(
        "numSourceRows" -> summary.rows,
        "numTargetRowsInserted" -> counts.inserted,
        "numTargetRowsUpdated" -> counts.updated,
        "numTargetRowsDeleted" -> counts.deleted,
        "numTargetRowsCopied" -> counts.copied,
        "numTargetFilesAdded" -> newAdds.size.toLong,
        "numTargetFilesRemoved" -> rewriteSet.size.toLong)
      val commitInfo = s"""{"commitInfo":{"timestamp":$now,"operation":${
        jstr("MERGE")},"operationParameters":{},"operationMetrics":${
        metrics.map { case (k, n) => s"${jstr(k)}:${jstr(n.toString)}" }
          .mkString("{", ",", "}")},"engineInfo":${jstr("graft")}}}"""
      val v = publishCommit(fs, new Path(root, "_delta_log"),
        st.version + 1, commitInfo +: lines.toSeq, st.configuration)
      DeltaDml(v, counts.fired + counts.inserted, rewriteSet.length)
    } finally stmt.release()
  }


  /** `CREATE TABLE … SHALLOW CLONE` — a METADATA-ONLY copy: the
    * target's version-0 log references the source's live data files
    * by ABSOLUTE path (the protocol's shallow-clone convention, the
    * same shape [[importFromIcebergMor]] publishes), so no data
    * moves whatever the table size. Schema, partitioning,
    * configuration (constraints included — they bind the clone's
    * writes too), protocol and per-file stats carry; deletion
    * vectors re-point as ABSOLUTE-path `p` descriptors (a `u`
    * descriptor resolves under the table root, which changes).
    * The clone gets a FRESH table id — it is a new table, not a
    * replacement the source's readers should follow. Time travel on
    * the clone starts at its own version 0, delta-spark's clone
    * semantics. Inline (`i`) vectors carry verbatim. */
  def shallowClone(spark: SparkSession, source: String, target: String,
                   version: Option[Long] = None): Long = {
    val st = state(spark, source, version)
    // a UniForm-enabled source refuses by name: the clone's files
    // live OUTSIDE its own root (shallow = shared source files), so
    // the property's promise — every writer session maintains the
    // Iceberg mirror — is unfulfillable on the clone; carrying it
    // would make every future commit there throw mid-hook instead
    if (st.configuration.get(UniForm.EnabledFormatsProp)
      .exists(_.split(',').map(_.trim.toLowerCase(java.util.Locale.ROOT))
        .contains("iceberg")))
      throw new UnsupportedDeltaFeatureException(
        s"shallow clone of $source: the table enables the UniForm " +
          "iceberg mirror (delta.universalFormat.enabledFormats), " +
          "which a shallow clone cannot maintain — its data files " +
          "live outside the clone root; disable the mirror first or " +
          "copy the data (CTAS)")
    val srcRoot = new Path(source)
    val dstRoot = new Path(target)
    val fs = hadoopFs(spark, dstRoot)
    val dstLog = new Path(dstRoot, "_delta_log")
    require(!fs.exists(dstLog) ||
      !fs.listStatus(dstLog).exists(s =>
        JsonRe.pattern.matcher(s.getPath.getName).matches()),
      s"$target is already a Delta table — DROP it first to re-clone")
    val srcFs = hadoopFs(spark, srcRoot)
    val srcAbs = srcFs.makeQualified(srcRoot)
    val now = System.currentTimeMillis()
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    lines += s"""{"commitInfo":{"timestamp":$now,"operation":${
      jstr("CLONE")},"operationParameters":{},"engineInfo":${
      jstr("graft")}}}"""
    val rf =
      if (st.minReaderVersion >= 3)
        s""","readerFeatures":${
          st.readerFeatures.map(jstr).mkString("[", ",", "]")}"""
      else ""
    val wf =
      if (st.minWriterVersion >= 7)
        s""","writerFeatures":${
          st.writerFeatures.map(jstr).mkString("[", ",", "]")}"""
      else ""
    lines += s"""{"protocol":{"minReaderVersion":${st.minReaderVersion
    },"minWriterVersion":${st.minWriterVersion}$rf$wf}}"""
    lines += metaDataJson(st.schema, st.partitionColumns, now,
      st.configuration)
    st.files.foreach { a =>
      val abs =
        if (a.path.startsWith("/") ||
          a.path.matches("^[A-Za-z][A-Za-z0-9+.-]*:.*")) a.path
        else new Path(srcAbs, a.path).toString
      val dvField = a.dv.map { d =>
        val re = d.storageType match {
          case "i" => d // inline payloads live in the log — carry
          case _ => d.copy(storageType = "p",
            pathOrInlineDv = DeltaDv.dvFilePath(srcAbs, d).get.toString)
        }
        s""","deletionVector":{"storageType":${jstr(re.storageType)},""" +
          s""""pathOrInlineDv":${jstr(re.pathOrInlineDv)},""" +
          s""""offset":${re.offset},"sizeInBytes":${re.sizeInBytes},""" +
          s""""cardinality":${re.cardinality}}"""
      }.getOrElse("")
      lines += s"""{"add":{"path":${jstr(urlEncode(abs))},""" +
        s""""partitionValues":${pvJsonOf(a.partitionValues)},""" +
        s""""size":${a.size},"modificationTime":$now,""" +
        s""""dataChange":true""" +
        a.stats.map(s => s""","stats":${jstr(s)}""").getOrElse("") +
        // row-tracking assignments carry — the clone serves the same
        // row ids as the source (positions are unchanged: same files)
        a.baseRowId.map(b => s""","baseRowId":$b""").getOrElse("") +
        a.defaultRowCommitVersion.map(v =>
          s""","defaultRowCommitVersion":$v""").getOrElse("") +
        dvField + "}}"
    }
    // live metadata domains carry (the row-tracking high-water mark
    // lives there — dropping it would hand the clone colliding ids,
    // though rowIdCursorStart guards that too)
    st.domains.toSeq.sortBy(_._1).foreach { case (n, cfg) =>
      lines += domainJson(n, cfg)
    }
    publishCommit(fs, dstLog, 0L, lines.toSeq, st.configuration)
  }

  // ------------------------------------------------- streaming sink

  /** The replay high-water mark for `appId`: the greatest `version`
    * any retained `txn` action recorded (checkpoints preserve the
    * per-app maxima, so log cleanup cannot forget it). -1 when the
    * stream has never committed, or the table does not exist yet.
    * Foreign writers' txn actions (delta-spark's streaming sink
    * writes the same shape) are honored identically. O(log replay)
    * driver-side metadata. */
  def lastTxnVersion(spark: SparkSession, table: String,
                     appId: String): Long = {
    val logDir = new Path(table, "_delta_log")
    if (!hadoopFs(spark, logDir).exists(logDir)) -1L
    else state(spark, table, None).appTransactions.getOrElse(appId, -1L)
  }

  /** EXACTLY-ONCE STREAMING APPEND into a Delta table — each
    * micro-batch commits as ONE append carrying the protocol's `txn`
    * action `(appId, batchId)`; a crash between the Delta commit and
    * the engine checkpoint advance replays the epoch, the recorded
    * high-water mark detects it, and the batch commits NOTHING twice.
    * `appId` defaults to the checkpoint path — stable across
    * restarts, distinct across sinks. Cost per batch is O(batch) at
    * any table size. */
  def streamToDelta(streamed: DataFrame, table: String,
      checkpoint: String, partitionBy: Seq[String] = Nil,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    streamed.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendTxnBatch(batch, batchId, table, partitionBy,
          checkpoint): Unit
      }
      .trigger(trigger)
      .start()

  /** EXACTLY-ONCE STREAMING UPSERT into a Delta table — the CDC-sink
    * shape: each micro-batch applies as ONE [[mergeApply]] commit
    * (update-matched / insert-unmatched, touched-files-only rewrite)
    * stamped with the `txn` action. The table must already exist (a
    * merge needs a recorded schema). Symmetric to
    * [[IcebergInterop.streamUpsert]]. */
  def streamUpsertToDelta(streamed: DataFrame, table: String,
      keyCols: Seq[String], checkpoint: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    streamed.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        upsertTxnBatch(batch, batchId, table, keyCols, checkpoint): Unit
      }
      .trigger(trigger)
      .start()

  /** [[streamToDelta]]'s per-epoch body, separable so a crash-replay
    * (same epoch re-executed) is directly testable. Returns whether
    * the batch committed (false = detected replay, skipped). */
  private[sources] def appendTxnBatch(batch: DataFrame, batchId: Long,
      table: String, partitionBy: Seq[String],
      appId: String): Boolean =
    if (batchId <= lastTxnVersion(batch.sparkSession, table, appId))
      false
    else {
      write(batch, table, partitionBy,
        txn = Some(appId -> batchId)): Unit
      true
    }

  /** [[streamUpsertToDelta]]'s per-epoch body — replay-guarded
    * upsert (update-matched / insert-unmatched on `keyCols`). */
  private[sources] def upsertTxnBatch(batch: DataFrame, batchId: Long,
      table: String, keyCols: Seq[String], appId: String): Boolean =
    if (batchId <= lastTxnVersion(batch.sparkSession, table, appId))
      false
    else {
      mergeApply(batch, table, keyCols,
        matched = Seq(ManifestLake.MergeUpdate()),
        notMatched = Seq(ManifestLake.MergeInsert()),
        txn = Some(appId -> batchId)): Unit
      true
    }

  /** Direct Iceberg → Delta conversion for MERGE-ON-READ tables — the
    * reverse of [[IcebergInterop.importFromDeltaMor]]: v2 position
    * deletes and deletion vectors are the same per-file kill sets, so
    * the delete parquet re-serializes as RoaringBitmap DV sidecars
    * (per file, on executors) and one version-0 Delta log publishes
    * the SHARED data files with their vectors — zero data movement.
    * Add actions reference the files by ABSOLUTE path (the protocol's
    * shallow-clone convention) and carry `numRecords` stats from the
    * Iceberg manifests. Equality deletes convert too — resolved to
    * per-file positions by ONE provenance scan at conversion time
    * (killed = all positions − the Iceberg kernel's survivors), the
    * only point where a scan is unavoidable. Partitioned specs and a
    * root already carrying a Delta log refuse by name. */
  def importFromIcebergMor(spark: SparkSession, table: String): Long = {
    val root = new Path(table)
    val fs = hadoopFs(spark, root)
    val logDir = new Path(root, "_delta_log")
    if (fs.exists(logDir) && fs.listStatus(logDir).exists(s =>
      JsonRe.pattern.matcher(s.getPath.getName).matches()))
      throw new UnsupportedDeltaFeatureException(
        s"$table already carries a Delta log — re-syncing a converted " +
          "table is the manifest-composed conversion's job")
    val ist = IcebergInterop.state(spark, table, None)
    require(ist.specs.getOrElse(ist.defaultSpecId, Nil).isEmpty &&
      ist.files.forall(_.partition.isEmpty),
      s"table $table is partitioned — identity re-declaration is the " +
        "manifest-composed conversion's job; compact deletes first")
    require(ist.files.nonEmpty, s"nothing to convert: $table is empty")
    import spark.implicits._
    // re-serialize the kill sets as per-file DV sidecars. POSITION
    // deletes convert metadata-only (their rows ARE (file, pos)).
    // EQUALITY deletes have no positional form, so they resolve to
    // positions with ONE provenance scan at conversion time: every
    // row position in the table, anti-joined against the Iceberg read
    // kernel's survivors (which applies the full sequence-ordered
    // pos+eq semantics) — killed = all − survivors. The scan projects
    // only the eq-key columns plus parquet metadata; cost tracks the
    // keyed surface once, never per read afterwards.
    val perFile: Array[(String, String, Long, Int, Long, Long)] =
      if (ist.posDeletes.isEmpty && ist.eqDeletes.isEmpty)
        Array.empty
      else if (ist.eqDeletes.isEmpty) {
        val dels = spark.read.parquet(ist.posDeletes: _*)
          .select(
            org.apache.spark.sql.functions.regexp_replace(col("file_path"),
              "^[A-Za-z][A-Za-z0-9+.-]*:/+", "/").as("__fp"),
            col("pos").cast("long").as("__pos"))
          .distinct()
        writeDvPerFile(spark, root,
          DeltaState(0L, ist.schema, Nil, Nil), dels)
      } else {
        def norm0(c: org.apache.spark.sql.Column) =
          org.apache.spark.sql.functions.regexp_replace(c,
            "^[A-Za-z][A-Za-z0-9+.-]*:/+", "/")
        val all = spark.read.parquet(ist.files.map(_.path): _*)
          .select(norm0(col("_metadata.file_path")).as("__fp"),
            col("_metadata.row_index").as("__pos"))
        val survivors = IcebergInterop.toDF(spark, ist,
            keepLineage = true)
          .select(col("__fp"), col("__pos"))
        val killed = all.join(survivors, Seq("__fp", "__pos"),
          "left_anti")
        writeDvPerFile(spark, root,
          DeltaState(0L, ist.schema, Nil, Nil), killed)
      }
    val dvByNorm = perFile.map(t => t._1 -> t).toMap
    val now = System.currentTimeMillis()
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    lines += s"""{"commitInfo":{"timestamp":$now,"operation":${
      jstr("CONVERT")},"operationParameters":{},"engineInfo":${
      jstr("graft")}}}"""
    if (perFile.nonEmpty)
      lines += s"""{"protocol":{"minReaderVersion":3,""" +
        """"minWriterVersion":7,""" +
        """"readerFeatures":["deletionVectors"],""" +
        """"writerFeatures":["deletionVectors"]}}"""
    else
      lines += """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""
    lines += metaDataJson(ist.schema, Nil, now)
    ist.files.foreach { f =>
      // the kill-set keys differ by branch: pos-delete rows carry the
      // manifests' RAW path strings, the eq-delete provenance scan
      // carries _metadata's percent-ESCAPED form — try both, so a
      // root needing URI escaping never silently drops its vector
      val dv = dvByNorm.get(normStr(f.path))
        .orElse(dvByNorm.get(normStr(new Path(f.path).toUri.toString)))
      lines += s"""{"add":{"path":${jstr(urlEncode(f.path))},""" +
        s""""partitionValues":{},"size":${f.bytes},""" +
        s""""modificationTime":$now,"dataChange":true,""" +
        s""""stats":${jstr(s"""{"numRecords":${f.records}}""")}""" +
        dv.map { case (_, enc, off, size, card, _) =>
          s""","deletionVector":{"storageType":"u",""" +
            s""""pathOrInlineDv":${jstr(enc)},"offset":$off,""" +
            s""""sizeInBytes":$size,"cardinality":$card}"""
        }.getOrElse("") + "}}"
    }
    publishCommit(fs, logDir, 0L, lines.toSeq)
  }

  /** `RESTORE TABLE ... TO VERSION AS OF v` — roll the table's LIVE
    * state back to `version` with one ordinary commit: files live at
    * `version` but not at head re-add (their content must still be on
    * disk — vacuumed files refuse by name), head files not live at
    * `version` remove, and the restored schema republishes when it
    * differs. History is preserved (the restore is itself a new
    * version; time travel to the undone versions still works) —
    * exactly delta-spark's RESTORE semantics. Metadata-only:
    * O(|live(v)| + |live(head)|) driver work, no data IO. */
  def restore(spark: SparkSession, table: String, version: Long): Long = {
    val head = state(spark, table, None)
    if (head.version == version) return head.version
    // a restore removes every post-target file (dataChange=true) —
    // illegal on append-only tables; re-added files are NOT
    // re-validated against constraints added since (delta-spark's
    // RESTORE semantics: the target version's rows come back as-were)
    DeltaWriteGate.requireWritable(head, table, "RESTORE",
      removesData = true, addsData = false)
    val target = state(spark, table, Some(version))
    val root = new Path(table)
    val fs = hadoopFs(spark, root)
    val headFiles = head.files.map(a => a.path -> a).toMap
    val targetFiles = target.files.map(a => a.path -> a).toMap
    (targetFiles.keySet -- headFiles.keySet).foreach { p =>
      if (!fs.exists(new Path(root, p)))
        throw new UnsupportedDeltaFeatureException(
          s"restoring $table to version $version needs $p, which is " +
            "no longer on disk (vacuumed) — that version is gone")
    }
    val now = System.currentTimeMillis()
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    lines += s"""{"commitInfo":{"timestamp":$now,"operation":${
      jstr("RESTORE")},"operationParameters":{"version":$version},""" +
      s""""engineInfo":${jstr("graft")}}}"""
    // configuration differences roll back too (a CDF enable/disable
    // between target and head) — RESTORE restores the target
    // version's FULL metadata, not just its schema
    if (target.schema.json != head.schema.json ||
      target.partitionColumns != head.partitionColumns ||
      target.configuration != head.configuration)
      lines += metaDataJson(target.schema, target.partitionColumns, now,
        target.configuration, target.metaId)
    (headFiles.keySet -- targetFiles.keySet).toSeq.sorted.foreach { p =>
      lines += s"""{"remove":{"path":${jstr(urlEncode(p))},""" +
        s""""deletionTimestamp":$now,"dataChange":true}}"""
    }
    // re-adds AND files whose vector differs at the restored version
    // (a DV change is a logical row change — the add must republish)
    targetFiles.toSeq.sortBy(_._1).foreach { case (p, a) =>
      val headA = headFiles.get(p)
      if (!headA.contains(a)) {
        if (headA.isDefined)
          lines += s"""{"remove":{"path":${jstr(urlEncode(p))},""" +
            s""""deletionTimestamp":$now,"dataChange":true}}"""
        lines += s"""{"add":{"path":${jstr(urlEncode(a.path))},""" +
          s""""partitionValues":${pvJsonOf(a.partitionValues)},""" +
          s""""size":${a.size},"modificationTime":$now,""" +
          s""""dataChange":true""" +
          a.stats.map(st => s""","stats":${jstr(st)}""").getOrElse("") +
          a.dv.map(d =>
            s""","deletionVector":{"storageType":${jstr(d.storageType)},""" +
              s""""pathOrInlineDv":${jstr(d.pathOrInlineDv)},""" +
              s""""offset":${d.offset},"sizeInBytes":${d.sizeInBytes},""" +
              s""""cardinality":${d.cardinality}}""").getOrElse("") +
          "}}"
      }
    }
    publishCommit(fs, new Path(root, "_delta_log"),
      head.version + 1, lines.toSeq, head.configuration)
  }

  // --------------------------------------------------- change data feed

  /** `ALTER TABLE … ADD COLUMNS` — metadata-only: one commit
    * republishing metaData with the widened schema (new columns are
    * nullable and read as NULL everywhere until data arrives — O(1)
    * at any table size). On COLUMN-MAPPED tables the new fields take
    * fresh field ids + `col-…` physical names and the commit bumps
    * `delta.columnMapping.maxColumnId`, so later appends stage them
    * physically like any mapped column. Existing names refuse by
    * name. */
  def addColumns(spark: SparkSession, table: String,
                 newCols: Seq[StructField]): Long = {
    require(newCols.nonEmpty, "addColumns needs at least one column")
    val st = state(spark, table, None)
    DeltaWriteGate.requireWritable(st, table, "ADD COLUMNS",
      removesData = false, addsData = false, rowTrackingHandled = true)
    newCols.find(f => st.schema.fieldNames.contains(f.name)).foreach(f =>
      throw new IllegalArgumentException(
        s"ALTER on $table: column '${f.name}' already exists " +
          s"(${st.schema(f.name).dataType.catalogString})"))
    val mapped = st.columnMappingMode != "none"
    var nextId = st.configuration
      .get("delta.columnMapping.maxColumnId")
      .flatMap(v => scala.util.Try(v.trim.toLong).toOption).getOrElse(0L)
    def annotate(dt: DataType): DataType = dt match {
      case s: StructType => StructType(s.fields.map { f =>
        nextId += 1
        val m = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
          .putLong("delta.columnMapping.id", nextId)
          .putString("delta.columnMapping.physicalName",
            s"col-${java.util.UUID.randomUUID()}")
          .build()
        StructField(f.name, annotate(f.dataType), f.nullable, m)
      })
      case a: org.apache.spark.sql.types.ArrayType =>
        a.copy(elementType = annotate(a.elementType))
      case m: org.apache.spark.sql.types.MapType =>
        m.copy(keyType = annotate(m.keyType),
          valueType = annotate(m.valueType))
      case other => other
    }
    val added =
      if (!mapped) newCols.map(_.copy(nullable = true))
      else annotate(StructType(newCols.map(_.copy(nullable = true))))
        .asInstanceOf[StructType].fields.toSeq
    val widened = StructType(st.schema.fields ++ added)
    val config =
      if (!mapped) st.configuration
      else st.configuration +
        ("delta.columnMapping.maxColumnId" -> nextId.toString)
    val now = System.currentTimeMillis()
    val lines = Seq(
      s"""{"commitInfo":{"timestamp":$now,"operation":${
        jstr("ADD COLUMNS")},"operationParameters":{},""" +
        s""""engineInfo":${jstr("graft")}}}""",
      metaDataJson(widened, st.partitionColumns, now, config, st.metaId))
    val root = new Path(table)
    publishCommit(hadoopFs(spark, root), new Path(root, "_delta_log"),
      st.version + 1, lines, config)
  }

  /** `ALTER TABLE … RENAME COLUMN` — COLUMN-MAPPED tables only (the
    * protocol's rule: unmapped data files are name-keyed, so a rename
    * would orphan every existing value): metadata-only republish with
    * the new logical name over the SAME field id + physical name.
    * Partition column renames update the recorded partitionColumns
    * (the dirs are physically named already). */
  def renameColumn(spark: SparkSession, table: String,
                   from: String, to: String): Long = {
    val st = state(spark, table, None)
    DeltaWriteGate.requireWritable(st, table, "RENAME COLUMN",
      removesData = false, addsData = false, rowTrackingHandled = true)
    if (st.columnMappingMode == "none")
      throw new UnsupportedDeltaFeatureException(
        s"RENAME COLUMN on $table needs column mapping — unmapped data " +
          "files are name-keyed and would orphan the values; recreate " +
          "the table with columnMapping=\"name\"")
    require(st.schema.fieldNames.contains(from),
      s"ALTER on $table: no column '$from'")
    require(!st.schema.fieldNames.contains(to),
      s"ALTER on $table: column '$to' already exists")
    val widened = StructType(st.schema.fields.map(f =>
      if (f.name == from) f.copy(name = to) else f))
    val parts = st.partitionColumns.map(c => if (c == from) to else c)
    val now = System.currentTimeMillis()
    val lines = Seq(
      s"""{"commitInfo":{"timestamp":$now,"operation":${
        jstr("RENAME COLUMN")},"operationParameters":{},""" +
        s""""engineInfo":${jstr("graft")}}}""",
      metaDataJson(widened, parts, now, st.configuration, st.metaId))
    val root = new Path(table)
    publishCommit(hadoopFs(spark, root), new Path(root, "_delta_log"),
      st.version + 1, lines, st.configuration)
  }

  /** `ALTER TABLE … ALTER COLUMN <c> TYPE <wider>` — the WRITE side
    * of the `typeWidening` table feature (PROTOCOL.md §Type
    * Widening), metadata-only at ANY table size: the recorded schema
    * re-types the column, the field's metadata appends the
    * `delta.typeWidening.typeChanges` entry (`fromType`/`toType` —
    * how foreign readers know narrow physical values are legitimate),
    * and the protocol declares `typeWidening` on BOTH sides
    * (minReader 3 / minWriter 7). Existing data files keep their
    * narrow physical type — the read path serves them up-cast under
    * the current schema (Spark 4's vectorized parquet reader
    * promotes) — and later appends stage the wide type. Supported
    * widenings are the integral chain byte → short → int → long,
    * int-family → double, and float → double; anything else
    * (decimal re-scaling, date → timestamp) refuses by name.
    * Partition columns refuse — their values live in path strings
    * whose parse type anchors layout and pruning. */
  def widenColumnType(spark: SparkSession, table: String,
                      name: String, to: DataType): Long = {
    val st = state(spark, table, None)
    DeltaWriteGate.requireWritable(st, table, "CHANGE COLUMN",
      removesData = false, addsData = false, rowTrackingHandled = true)
    val field = st.schema.fields.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"ALTER on $table: no column '$name'"))
    val from = field.dataType
    if (from == to) return st.version
    if (st.partitionColumns.contains(name))
      throw new UnsupportedDeltaFeatureException(
        s"CHANGE COLUMN on $table: '$name' is a partition column — " +
          "its values are path strings parsed under the declared " +
          "type; re-typing it would re-anchor layout and pruning")
    val allowed: Set[(DataType, DataType)] = Set(
      (ByteType, ShortType), (ByteType, IntegerType),
      (ByteType, LongType), (ByteType, DoubleType),
      (ShortType, IntegerType), (ShortType, LongType),
      (ShortType, DoubleType),
      (IntegerType, LongType), (IntegerType, DoubleType),
      (FloatType, DoubleType))
    if (!allowed((from, to)))
      throw new UnsupportedDeltaFeatureException(
        s"CHANGE COLUMN $name TYPE ${to.sql} on $table: " +
          s"${from.sql} → ${to.sql} is not a widening this writer " +
          "serves (byte/short/int up the integral chain or to " +
          "double, float → double are)")
    val deltaName = Map[DataType, String](ByteType -> "byte",
      ShortType -> "short", IntegerType -> "integer",
      LongType -> "long", FloatType -> "float", DoubleType -> "double")
    val ChangesKey = "delta.typeWidening.typeChanges"
    val prior: Seq[org.apache.spark.sql.types.Metadata] =
      if (field.metadata.contains(ChangesKey))
        field.metadata.getMetadataArray(ChangesKey).toSeq
      else Nil
    val entry = new org.apache.spark.sql.types.MetadataBuilder()
      .putString("fromType", deltaName(from))
      .putString("toType", deltaName(to)).build()
    val fm = new org.apache.spark.sql.types.MetadataBuilder()
      .withMetadata(field.metadata)
      .putMetadataArray(ChangesKey, (prior :+ entry).toArray).build()
    val widened = StructType(st.schema.fields.map(f =>
      if (f.name == name) f.copy(dataType = to, metadata = fm) else f))
    // protocol: typeWidening is a READER + writer feature — narrow
    // physical values under a wide declared type are only legal for
    // readers that know the feature. Legacy-implied features carry
    // over on both sides at the upgrade (the enableRowTracking
    // discipline).
    val needsProto = !(st.readerFeatures.contains("typeWidening") &&
      st.writerFeatures.contains("typeWidening"))
    val legacy = st.minWriterVersion < 7 && st.writerFeatures.isEmpty
    val legacyImplied =
      (if (legacy && st.minWriterVersion >= 2)
        Seq("appendOnly", "invariants") else Nil) ++
        (if (legacy && st.minWriterVersion >= 3)
          Seq("checkConstraints") else Nil) ++
        (if (legacy && st.minWriterVersion >= 4)
          Seq("changeDataFeed", "generatedColumns") else Nil) ++
        (if (legacy && st.minWriterVersion >= 5)
          Seq("columnMapping") else Nil) ++
        (if (legacy && st.minWriterVersion >= 6)
          Seq("identityColumns") else Nil)
    val legacyReader =
      if (st.minReaderVersion >= 3) Nil
      else if (st.minReaderVersion == 2) Seq("columnMapping")
      else Nil
    val rf = (st.readerFeatures ++ legacyReader ++
      Seq("typeWidening")).distinct
    val wf = (st.writerFeatures ++ legacyImplied ++ rf).distinct
    val now = System.currentTimeMillis()
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    lines += s"""{"commitInfo":{"timestamp":$now,"operation":${
      jstr("CHANGE COLUMN")},"operationParameters":{},""" +
      s""""engineInfo":${jstr("graft")}}}"""
    if (needsProto)
      lines += s"""{"protocol":{"minReaderVersion":3,""" +
        s""""minWriterVersion":7,""" +
        s""""readerFeatures":${rf.map(jstr).mkString("[", ",", "]")},""" +
        s""""writerFeatures":${wf.map(jstr).mkString("[", ",", "]")}}}"""
    lines += metaDataJson(widened, st.partitionColumns, now,
      st.configuration, st.metaId)
    val root = new Path(table)
    publishCommit(hadoopFs(spark, root), new Path(root, "_delta_log"),
      st.version + 1, lines.toSeq, st.configuration)
  }

  /** The field-metadata key PROTOCOL.md §Column Default Values
    * records a column's default expression under (delta-spark's own
    * key): writers apply it when an insert OMITS the column. */
  private[sources] val CurrentDefaultKey = "CURRENT_DEFAULT"

  /** `ALTER TABLE … ALTER COLUMN c SET DEFAULT <expr>` —
    * PROTOCOL.md §Column Default Values as ONE metadata-only commit:
    * the recorded schema gains the field's `CURRENT_DEFAULT`
    * metadata (the expression's ORIGINAL SQL text — how foreign
    * writers learn the obligation) and the protocol declares the
    * `allowColumnDefaults` WRITER feature (writer-only: reads are
    * untouched, the reader side stays as recorded). From then on any
    * session's append that omits the column applies the default
    * ([[write]]'s fill), and explicit values win (the spec's rule).
    * The expression must fold to a constant NOW — column references,
    * non-deterministic calls and runtime errors refuse at
    * declaration, not at some later insert. Nested fields, generated
    * columns (they derive), identity columns (they allocate) and
    * partition columns (their values anchor layout as path strings)
    * refuse by name. Note the protocol's asymmetry with Iceberg v3:
    * Delta has NO initial-default — existing rows are unaffected,
    * and ADD COLUMN with a default is forbidden outright. */
  def setColumnDefault(spark: SparkSession, table: String,
                       name: String, defaultSql: String): Long = {
    val st = state(spark, table, None)
    DeltaWriteGate.requireWritable(st, table, "ALTER COLUMN SET DEFAULT",
      removesData = false, addsData = false, rowTrackingHandled = true)
    val field = st.schema.fields.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"SET DEFAULT on $table: no top-level column '$name' " +
          "(nested-field defaults are not in the protocol's surface)"))
    if (field.metadata.contains("delta.generationExpression"))
      throw new UnsupportedDeltaFeatureException(
        s"SET DEFAULT on $table: '$name' is a GENERATED column — " +
          "omitted values derive from its generation expression; a " +
          "default would shadow it")
    if (field.metadata.contains("delta.identity.start"))
      throw new UnsupportedDeltaFeatureException(
        s"SET DEFAULT on $table: '$name' is an IDENTITY column — " +
          "omitted values allocate past the high-water mark; a " +
          "default would collide with allocation")
    if (st.partitionColumns.contains(name))
      throw new UnsupportedDeltaFeatureException(
        s"SET DEFAULT on $table: '$name' is a partition column — " +
          "its values anchor directory layout and pruning")
    // the expression must be a constant: analyze it with NO input
    // relation (column references fail analysis right here), require
    // determinism, and EVALUATE it so a runtime error (1/0) refuses
    // at declaration instead of poisoning every later insert
    val folded =
      try spark.sql(s"SELECT CAST(($defaultSql) AS ${field.dataType.sql})")
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalArgumentException(
            s"SET DEFAULT on $table.$name: '$defaultSql' is not a " +
              s"constant expression castable to ${field.dataType.sql} " +
              s"(${e.getSimpleMessage})", e)
      }
    require(folded.queryExecution.analyzed.expressions
        .forall(_.deterministic),
      s"SET DEFAULT on $table.$name: '$defaultSql' is " +
        "non-deterministic — a default must fold to one constant, " +
        "not a fresh value per row")
    folded.head(): Unit
    val fm = new MetadataBuilder().withMetadata(field.metadata)
      .putString(CurrentDefaultKey, defaultSql).build()
    val updated = StructType(st.schema.fields.map(f =>
      if (f.name == name) f.copy(metadata = fm) else f))
    // protocol: allowColumnDefaults is WRITER-ONLY — the reader side
    // stays as recorded (the changeDataFeed-enable discipline); a
    // legacy table upgrades to writer 7 carrying its legacy-implied
    // features
    val protoLines: Seq[String] =
      if (st.writerFeatures.contains("allowColumnDefaults")) Nil
      else {
        val legacy = st.minWriterVersion < 7 && st.writerFeatures.isEmpty
        val legacyImplied =
          (if (legacy && st.minWriterVersion >= 2)
            Seq("appendOnly", "invariants") else Nil) ++
            (if (legacy && st.minWriterVersion >= 3)
              Seq("checkConstraints") else Nil) ++
            (if (legacy && st.minWriterVersion >= 4)
              Seq("changeDataFeed", "generatedColumns") else Nil) ++
            (if (legacy && st.minWriterVersion >= 5)
              Seq("columnMapping") else Nil) ++
            (if (legacy && st.minWriterVersion >= 6)
              Seq("identityColumns") else Nil)
        val rfField =
          if (st.minReaderVersion >= 3)
            s""""readerFeatures":${
              st.readerFeatures.map(jstr).mkString("[", ",", "]")},"""
          else ""
        val wf = (st.writerFeatures ++ legacyImplied :+
          "allowColumnDefaults").distinct
          .map(jstr).mkString("[", ",", "]")
        Seq(s"""{"protocol":{"minReaderVersion":${st.minReaderVersion
        },"minWriterVersion":7,$rfField"writerFeatures":$wf}}""")
      }
    val now = System.currentTimeMillis()
    val lines = Seq(
      s"""{"commitInfo":{"timestamp":$now,"operation":${
        jstr("ALTER COLUMN")},"operationParameters":{},""" +
        s""""engineInfo":${jstr("graft")}}}""") ++ protoLines ++ Seq(
      metaDataJson(updated, st.partitionColumns, now,
        st.configuration, st.metaId))
    val root = new Path(table)
    publishCommit(hadoopFs(spark, root), new Path(root, "_delta_log"),
      st.version + 1, lines, st.configuration)
  }

  /** `ALTER TABLE … ALTER COLUMN c DROP DEFAULT` — removes the
    * field's `CURRENT_DEFAULT` metadata in one metadata-only commit.
    * The protocol feature stays declared (features are permanent);
    * later appends omitting the column refuse with the ordinary
    * missing-column error. A column with no default no-ops. */
  def dropColumnDefault(spark: SparkSession, table: String,
                        name: String): Long = {
    val st = state(spark, table, None)
    DeltaWriteGate.requireWritable(st, table, "ALTER COLUMN DROP DEFAULT",
      removesData = false, addsData = false, rowTrackingHandled = true)
    val field = st.schema.fields.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"DROP DEFAULT on $table: no top-level column '$name'"))
    if (!field.metadata.contains(CurrentDefaultKey)) return st.version
    val fm = new MetadataBuilder().withMetadata(field.metadata)
      .remove(CurrentDefaultKey).build()
    val updated = StructType(st.schema.fields.map(f =>
      if (f.name == name) f.copy(metadata = fm) else f))
    val now = System.currentTimeMillis()
    val lines = Seq(
      s"""{"commitInfo":{"timestamp":$now,"operation":${
        jstr("ALTER COLUMN")},"operationParameters":{},""" +
        s""""engineInfo":${jstr("graft")}}}""",
      metaDataJson(updated, st.partitionColumns, now,
        st.configuration, st.metaId))
    val root = new Path(table)
    publishCommit(hadoopFs(spark, root), new Path(root, "_delta_log"),
      st.version + 1, lines, st.configuration)
  }

  /** `ALTER TABLE … DROP COLUMN` — COLUMN-MAPPED tables only (the
    * protocol's rule), metadata-only: the field leaves the recorded
    * schema; its physical values stay in the files, invisible to
    * by-physical-name projection. Partition columns refuse (the
    * layout would dangle). */
  def dropColumns(spark: SparkSession, table: String,
                  names: Seq[String]): Long = {
    require(names.nonEmpty, "dropColumns needs at least one column")
    val st = state(spark, table, None)
    DeltaWriteGate.requireWritable(st, table, "DROP COLUMNS",
      removesData = false, addsData = false, rowTrackingHandled = true)
    // dropping a column a recorded CHECK constraint or invariant
    // references would orphan the obligation — later writes could not
    // validate it; refuse by the constraint's name first
    names.foreach { n =>
      st.configuration.foreach { case (k, sql) =>
        if (k.startsWith("delta.constraints.") &&
          sql.toLowerCase.matches(s".*\\b${java.util.regex.Pattern
            .quote(n.toLowerCase)}\\b.*"))
          throw new UnsupportedDeltaFeatureException(
            s"DROP COLUMN $n on $table: CHECK constraint " +
              s"'${k.stripPrefix("delta.constraints.")}' ($sql) " +
              "references it — drop the constraint first")
      }
    }
    if (st.columnMappingMode == "none")
      throw new UnsupportedDeltaFeatureException(
        s"DROP COLUMN on $table needs column mapping — unmapped readers " +
          "resolve by name and would keep serving the values")
    names.foreach { n =>
      require(st.schema.fieldNames.contains(n),
        s"ALTER on $table: no column '$n'")
      require(!st.partitionColumns.contains(n),
        s"ALTER on $table: '$n' is a partition column — the layout " +
          "would dangle; rewrite the table to change partitioning")
    }
    require(names.size < st.schema.size,
      s"ALTER on $table would drop every column")
    val widened = StructType(
      st.schema.fields.filterNot(f => names.contains(f.name)))
    val now = System.currentTimeMillis()
    val lines = Seq(
      s"""{"commitInfo":{"timestamp":$now,"operation":${
        jstr("DROP COLUMNS")},"operationParameters":{},""" +
        s""""engineInfo":${jstr("graft")}}}""",
      metaDataJson(widened, st.partitionColumns, now, st.configuration,
        st.metaId))
    val root = new Path(table)
    publishCommit(hadoopFs(spark, root), new Path(root, "_delta_log"),
      st.version + 1, lines, st.configuration)
  }

  /** Enable the table's CHANGE DATA FEED (`ALTER TABLE … SET
    * TBLPROPERTIES ('delta.enableChangeDataFeed' = 'true')` analog):
    * one metadata-only commit republishing metaData with the property
    * plus the protocol upgrade the feature requires
    * (minWriterVersion 4). From that version on, [[changeFeed]]
    * serves row-level changes. No-op if already enabled. */
  def enableChangeDataFeed(spark: SparkSession, table: String): Long = {
    val st = state(spark, table, None)
    if (st.configuration.get("delta.enableChangeDataFeed")
      .contains("true")) return st.version
    DeltaWriteGate.requireWritable(st, table, "SET TBLPROPERTIES",
      removesData = false, addsData = false, rowTrackingHandled = true)
    val root = new Path(table)
    val fs = hadoopFs(spark, root)
    val now = System.currentTimeMillis()
    // the protocol line only ever UPGRADES the WRITER side, and the
    // reader side stays AS RECORDED: a writer-features table (any
    // reader version) adds changeDataFeed to writerFeatures —
    // readerFeatures appear only when minReaderVersion is already 3
    // (bumping reader 1/2 to 3 with an empty feature list would drop
    // the implicit columnMapping capability and lock out pre-v3
    // readers for no reason); a legacy table raises minWriterVersion
    // to 4 keeping its reader version (column-mapped tables are
    // already at writer 5, which subsumes 4's obligations)
    val protoLines: Seq[String] =
      if (st.minWriterVersion >= 7 || st.writerFeatures.nonEmpty) {
        if (st.writerFeatures.contains("changeDataFeed")) Nil
        else {
          val rfField =
            if (st.minReaderVersion >= 3)
              s""""readerFeatures":${
                st.readerFeatures.map(jstr).mkString("[", ",", "]")},"""
            else ""
          val wf = (st.writerFeatures :+ "changeDataFeed").distinct
            .map(jstr).mkString("[", ",", "]")
          Seq(s"""{"protocol":{"minReaderVersion":${st.minReaderVersion
          },"minWriterVersion":7,$rfField"writerFeatures":$wf}}""")
        }
      } else if (st.minWriterVersion < 4)
        Seq(s"""{"protocol":{"minReaderVersion":${st.minReaderVersion},""" +
          """"minWriterVersion":4}}""")
      else Nil
    val lines = Seq(
      s"""{"commitInfo":{"timestamp":$now,"operation":${
        jstr("SET TBLPROPERTIES")},"operationParameters":{},""" +
        s""""engineInfo":${jstr("graft")}}}""") ++ protoLines ++ Seq(
      metaDataJson(st.schema, st.partitionColumns, now,
        st.configuration + ("delta.enableChangeDataFeed" -> "true"),
        st.metaId))
    publishCommit(fs, new Path(root, "_delta_log"), st.version + 1,
      lines, st.configuration + ("delta.enableChangeDataFeed" -> "true"))
  }

  /** `ALTER TABLE … SET TBLPROPERTIES` — a metadata-only republish
    * merging `props` into the recorded configuration. Properties this
    * module gives dedicated (protocol-upgrading) doors refuse by name
    * and point at them; `delta.appendOnly=true` on a table-features
    * table adds the `appendOnly` writer feature in the same commit
    * (legacy writer 2 already implies it). From the commit on, every
    * write path enforces the property ([[DeltaWriteGate]]). */
  def setProperties(spark: SparkSession, table: String,
                    props: Map[String, String]): Long = {
    require(props.nonEmpty, "setProperties needs at least one property")
    val st = state(spark, table, None)
    DeltaWriteGate.requireWritable(st, table, "SET TBLPROPERTIES",
      removesData = false, addsData = false, rowTrackingHandled = true)
    props.keys.foreach { k =>
      require(!k.startsWith("delta.columnMapping."),
        s"$k cannot change via SET TBLPROPERTIES — mapping mode is " +
          "fixed at table creation (write(columnMapping = ...))")
      require(k != "delta.enableChangeDataFeed",
        "use enableChangeDataFeed(...) — CDF needs its own protocol " +
          "upgrade (minWriterVersion 4 / changeDataFeed feature)")
      require(k != "delta.enableInCommitTimestamps",
        "use the dedicated ICT enablement path — the first ICT commit " +
          "must record enablement version and timestamp")
    }
    val featuresTable = st.minWriterVersion >= 7 ||
      st.writerFeatures.nonEmpty
    val protoLines: Seq[String] =
      if (props.get("delta.appendOnly").contains("true") &&
        featuresTable && !st.writerFeatures.contains("appendOnly")) {
        val rfField =
          if (st.minReaderVersion >= 3)
            s""""readerFeatures":${
              st.readerFeatures.map(jstr).mkString("[", ",", "]")},"""
          else ""
        val wf = (st.writerFeatures :+ "appendOnly").distinct
          .map(jstr).mkString("[", ",", "]")
        Seq(s"""{"protocol":{"minReaderVersion":${st.minReaderVersion
        },"minWriterVersion":7,$rfField"writerFeatures":$wf}}""")
      } else Nil
    val config = st.configuration ++ props
    val now = System.currentTimeMillis()
    val lines = Seq(
      s"""{"commitInfo":{"timestamp":$now,"operation":${
        jstr("SET TBLPROPERTIES")},"operationParameters":{},""" +
        s""""engineInfo":${jstr("graft")}}}""") ++ protoLines ++ Seq(
      metaDataJson(st.schema, st.partitionColumns, now, config,
        st.metaId))
    val root = new Path(table)
    publishCommit(hadoopFs(spark, root), new Path(root, "_delta_log"),
      st.version + 1, lines, config)
  }

  /** `ALTER TABLE … ADD CONSTRAINT <name> CHECK (<sql>)` — Delta's
    * CHECK-constraint door: existing data validates FIRST with one
    * scan (SQL CHECK semantics — NULL passes), then a metadata-only
    * commit records `delta.constraints.<name>` and upgrades the
    * protocol's writer side to carry the obligation
    * (`minWriterVersion` 3 on legacy tables; the `checkConstraints`
    * feature on table-features tables). Every later write path
    * validates its staged files against it ([[DeltaWriteGate]]) —
    * and so must any spec-compliant foreign writer. */
  def addCheckConstraint(spark: SparkSession, table: String,
                         name: String, predicateSql: String): Long = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit ||
      c == '_' || c == '-'),
      s"constraint name '$name' — letters, digits, _ and - only")
    val st = state(spark, table, None)
    DeltaWriteGate.requireWritable(st, table, "ADD CONSTRAINT",
      removesData = false, addsData = false, rowTrackingHandled = true)
    val key = s"delta.constraints.$name"
    require(!st.configuration.contains(key),
      s"constraint '$name' already exists on $table " +
        s"(${st.configuration(key)})")
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    val bad = read(spark, table)
      .filter(not(coalesce(expr(predicateSql), lit(true))))
      .limit(1).collect()
    bad.headOption.foreach(row =>
      throw new DeltaWriteGate.DeltaConstraintViolationException(
        s"adding CHECK constraint '$name' ($predicateSql) on $table: " +
          s"existing data violates it — e.g. $row. Nothing committed."))
    val featuresTable = st.minWriterVersion >= 7 ||
      st.writerFeatures.nonEmpty
    val protoLines: Seq[String] =
      if (featuresTable) {
        if (st.writerFeatures.contains("checkConstraints")) Nil
        else {
          val rfField =
            if (st.minReaderVersion >= 3)
              s""""readerFeatures":${
                st.readerFeatures.map(jstr).mkString("[", ",", "]")},"""
            else ""
          val wf = (st.writerFeatures :+ "checkConstraints").distinct
            .map(jstr).mkString("[", ",", "]")
          Seq(s"""{"protocol":{"minReaderVersion":${st.minReaderVersion
          },"minWriterVersion":7,$rfField"writerFeatures":$wf}}""")
        }
      } else if (st.minWriterVersion < 3)
        Seq(s"""{"protocol":{"minReaderVersion":${st.minReaderVersion
        },"minWriterVersion":3}}""")
      else Nil
    val config = st.configuration + (key -> predicateSql)
    val now = System.currentTimeMillis()
    val lines = Seq(
      s"""{"commitInfo":{"timestamp":$now,"operation":${
        jstr("ADD CONSTRAINT")},"operationParameters":{},""" +
        s""""engineInfo":${jstr("graft")}}}""") ++ protoLines ++ Seq(
      metaDataJson(st.schema, st.partitionColumns, now, config,
        st.metaId))
    val root = new Path(table)
    publishCommit(hadoopFs(spark, root), new Path(root, "_delta_log"),
      st.version + 1, lines, config)
  }

  /** `ALTER TABLE … DROP CONSTRAINT` — metadata-only; unknown names
    * refuse (a silent no-op would leave the caller believing a
    * constraint was lifted). */
  def dropCheckConstraint(spark: SparkSession, table: String,
                          name: String): Long = {
    val st = state(spark, table, None)
    DeltaWriteGate.requireWritable(st, table, "DROP CONSTRAINT",
      removesData = false, addsData = false, rowTrackingHandled = true)
    val key = s"delta.constraints.$name"
    require(st.configuration.contains(key),
      s"no CHECK constraint '$name' on $table")
    val config = st.configuration - key
    val now = System.currentTimeMillis()
    val lines = Seq(
      s"""{"commitInfo":{"timestamp":$now,"operation":${
        jstr("DROP CONSTRAINT")},"operationParameters":{},""" +
        s""""engineInfo":${jstr("graft")}}}""",
      metaDataJson(st.schema, st.partitionColumns, now, config,
        st.metaId))
    val root = new Path(table)
    publishCommit(hadoopFs(spark, root), new Path(root, "_delta_log"),
      st.version + 1, lines, config)
  }

  /** Row-level CHANGES between two commit versions (both inclusive) —
    * the `table_changes(...)` read. Output = the table columns plus
    * `_change_type` (insert / delete / update_preimage /
    * update_postimage), `_commit_version`, `_commit_timestamp`.
    *
    * Per the protocol: a commit carrying `cdc` actions serves its
    * changes from those `_change_data` files ALONE (they are
    * authoritative and complete — how update pre/post images arrive);
    * a commit without them derives changes from its add/remove
    * actions — `dataChange=true` adds are inserts, `dataChange=true`
    * removes are deletes read from the removed file's content (still
    * on disk until vacuum — a vacuumed file refuses by name).
    * `dataChange=false` pairs (compaction, DV purge) emit nothing.
    * The derivation is only sound when the feed was ENABLED at the
    * commit (writers must then emit cdc for partial-file changes), so
    * a data-changing commit with the property off refuses by name, as
    * do DV-bearing changes without cdc (file-level derivation would
    * mislabel surviving rows) and a schema change inside the range
    * (one output schema must fit every batch).
    *
    * Scale shape: one log pass, O(range) metadata; each commit's rows
    * come from exactly the files that changed — never a snapshot
    * diff. */
  def changeFeed(spark: SparkSession, table: String,
                 fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion >= 0 && toVersion >= fromVersion,
      s"bad change-feed range [$fromVersion, $toVersion]")
    val head = currentVersion(spark, table).getOrElse(
      throw new IllegalArgumentException(
        s"not a Delta table: no _delta_log under $table"))
    require(toVersion <= head,
      s"version $toVersion does not exist in $table (head is $head)")
    val pre =
      if (fromVersion == 0) None
      else Some(state(spark, table, Some(fromVersion - 1)))
    var schema: Option[StructType] = pre.map(_.schema)
    var partCols: Seq[String] = pre.map(_.partitionColumns).getOrElse(Nil)
    var mode: String = pre.map(_.columnMappingMode).getOrElse("none")
    var cdfOn = pre.exists(_.configuration
      .get("delta.enableChangeDataFeed").contains("true"))
    var live: Map[String, DeltaAdd] =
      pre.map(_.files.map(a => a.path -> a).toMap).getOrElse(Map.empty)
    val root = new Path(table)
    val fs = hadoopFs(spark, root)
    val batches = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    (fromVersion to toVersion).foreach { v =>
      val adds = scala.collection.mutable.ArrayBuffer.empty[DeltaAdd]
      val removes =
        scala.collection.mutable.ArrayBuffer.empty[(String, Boolean)]
      val cdcs = scala.collection.mutable
        .ArrayBuffer.empty[(String, Map[String, Option[String]])]
      var ts = 0L
      parseCommit(spark, table, v).foreach {
        case CommitInfoAction(t) => ts = t
        case ProtocolAction(minReader, feats, _, _) =>
          val unsupported = feats.filterNot(
            Set("deletionVectors", "columnMapping",
              "v2Checkpoint", "timestampNtz", "typeWidening"))
          if (minReader > 3 || unsupported.nonEmpty)
            throw new UnsupportedDeltaFeatureException(
              s"version $v of $table requires an unsupported reader " +
                s"(minReaderVersion=$minReader, features " +
                s"${unsupported.mkString("[", ", ", "]")})")
        case MetaAction(sc, pc, m2, cfg, _) =>
          schema.foreach { s0 =>
            if (!InteropSchema.sameShape(s0, sc))
              throw new UnsupportedDeltaFeatureException(
                s"the schema of $table changes at version $v inside " +
                  "the change-feed range — split the read at the " +
                  "schema-change version")
          }
          schema = Some(sc); partCols = pc; mode = m2
          cdfOn = cfg.get("delta.enableChangeDataFeed").contains("true")
        case AddAction(a) => adds += a
        case RemoveAction(p, dc) => removes += (p -> dc)
        case CdcAction(p, pv) => cdcs += (p -> pv)
        case _: SidecarAction => // never in commit files
      }
      if (ts == 0L)
        ts = fs.getFileStatus(
          new Path(new Path(root, "_delta_log"), f"$v%020d.json"))
          .getModificationTime
      val sc = schema.getOrElse(
        throw new IllegalStateException(
          s"no metaData action by version $v of $table"))
      val dAdds = adds.filter(_.dataChange).toSeq
      val dRems = removes.collect { case (p, true) => p }.toSeq
      val batch: Option[DataFrame] =
        if (cdcs.nonEmpty) {
          val cdcSchema = StructType(sc.fields :+
            StructField("_change_type", StringType))
          Some(filesToDF(spark, table, cdcSchema, partCols,
            cdcs.toSeq.map { case (p, pv) => DeltaAdd(p, pv, 0L) }, mode))
        } else if (dAdds.isEmpty && dRems.isEmpty) None
        else {
          if (!cdfOn)
            throw new UnsupportedDeltaFeatureException(
              s"the change data feed is not enabled at version $v of " +
                s"$table (delta.enableChangeDataFeed) — without it, " +
                "add/remove actions cannot be soundly read as " +
                "row-level changes")
          val remAdds = dRems.map(p => live.getOrElse(p,
            throw new IllegalStateException(
              s"version $v of $table removes $p, which is not live at " +
                s"version ${v - 1} — inconsistent log")))
          if ((dAdds ++ remAdds).exists(_.dv.nonEmpty))
            throw new UnsupportedDeltaFeatureException(
              s"version $v of $table changes deletion vectors without " +
                "cdc actions — file-level derivation would mislabel " +
                "the surviving rows")
          remAdds.foreach { a =>
            if (!fs.exists(new Path(root, a.path)))
              throw new UnsupportedDeltaFeatureException(
                s"removed file ${a.path} of $table is no longer on " +
                  s"disk (vacuumed) — the deletes of version $v cannot " +
                  "be reconstructed")
          }
          val ins =
            if (dAdds.isEmpty) None
            else Some(filesToDF(spark, table, sc, partCols, dAdds, mode)
              .withColumn("_change_type", lit("insert")))
          val del =
            if (remAdds.isEmpty) None
            else Some(filesToDF(spark, table, sc, partCols, remAdds, mode)
              .withColumn("_change_type", lit("delete")))
          Some((ins.toSeq ++ del.toSeq).reduce(_ unionByName _))
        }
      batch.foreach(b => batches += b
        .withColumn("_commit_version", lit(v))
        .withColumn("_commit_timestamp", timestamp_millis(lit(ts))))
      // EVERY add re-enters the live map, dataChange or not — an
      // OPTIMIZE / DV-purge commit (dataChange=false) replaces files
      // a LATER commit in the range may legitimately remove; dropping
      // them here would misreport that log as inconsistent
      live = live -- removes.map(_._1) ++ adds.map(a => a.path -> a)
    }
    if (batches.isEmpty) {
      val outSchema = StructType(
        schema.map(_.fields).getOrElse(Array.empty[StructField]) ++ Seq(
          StructField("_change_type", StringType),
          StructField("_commit_version", LongType),
          StructField("_commit_timestamp", TimestampType)))
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], outSchema)
    } else batches.reduce(_ unionByName _)
  }

  /** One commit's change surface as FILE ACTIONS — what a Delta
    * Sharing server's `/changes` endpoint publishes (the protocol
    * serves files + metadata, never rows; the CLIENT reassembles).
    * `kind` ∈ add / cdf / remove; removed files carry the partition
    * values they were LIVE under (the pre-image the client needs to
    * rebuild delete rows). Mirrors [[changeFeed]]'s walk — cdc
    * actions supersede file-level derivation version by version, and
    * file-level derivation refuses when CDF was not enabled — so
    * server and local read agree on every refusal. */
  final case class ShareChangeAction(kind: String, path: String,
      partitionValues: Map[String, Option[String]], version: Long,
      timestamp: Long)

  private[sources] def shareChangeActions(spark: SparkSession,
      table: String, fromVersion: Long, toVersion: Long)
      : Seq[ShareChangeAction] = {
    require(fromVersion >= 0 && toVersion >= fromVersion,
      s"bad change range [$fromVersion, $toVersion]")
    val pre =
      if (fromVersion == 0) None
      else Some(state(spark, table, Some(fromVersion - 1)))
    var cdfOn = pre.exists(_.configuration
      .get("delta.enableChangeDataFeed").contains("true"))
    var live: Map[String, DeltaAdd] =
      pre.map(_.files.map(a => a.path -> a).toMap).getOrElse(Map.empty)
    val root = new Path(table)
    val fs = hadoopFs(spark, root)
    val out = Seq.newBuilder[ShareChangeAction]
    (fromVersion to toVersion).foreach { v =>
      val adds = scala.collection.mutable.ArrayBuffer.empty[DeltaAdd]
      val removes =
        scala.collection.mutable.ArrayBuffer.empty[(String, Boolean)]
      val cdcs = scala.collection.mutable
        .ArrayBuffer.empty[(String, Map[String, Option[String]])]
      var ts = 0L
      parseCommit(spark, table, v).foreach {
        case CommitInfoAction(t) => ts = t
        case MetaAction(_, _, _, cfg, _) =>
          cdfOn = cfg.get("delta.enableChangeDataFeed").contains("true")
        case AddAction(a) => adds += a
        case RemoveAction(p, dc) => removes += (p -> dc)
        case CdcAction(p, pv) => cdcs += (p -> pv)
        case _ =>
      }
      if (ts == 0L)
        ts = fs.getFileStatus(
          new Path(new Path(root, "_delta_log"), f"$v%020d.json"))
          .getModificationTime
      val dAdds = adds.filter(_.dataChange).toSeq
      val dRems = removes.collect { case (p, true) => p }.toSeq
      if (cdcs.nonEmpty)
        cdcs.foreach { case (p, pv) =>
          out += ShareChangeAction("cdf", p, pv, v, ts)
        }
      else if (dAdds.nonEmpty || dRems.nonEmpty) {
        if (!cdfOn)
          throw new UnsupportedDeltaFeatureException(
            s"the change data feed is not enabled at version $v of " +
              s"$table (delta.enableChangeDataFeed) — without it, " +
              "add/remove actions cannot be soundly served as changes")
        dAdds.foreach(a =>
          out += ShareChangeAction("add", a.path, a.partitionValues,
            v, ts))
        dRems.foreach { p =>
          val a = live.getOrElse(p, throw new IllegalStateException(
            s"version $v of $table removes $p, which is not live at " +
              s"version ${v - 1} — inconsistent log"))
          out += ShareChangeAction("remove", p, a.partitionValues, v, ts)
        }
      }
      live = live -- removes.map(_._1) ++ adds.map(a => a.path -> a)
    }
    out.result()
  }

  /** REORG-style deletion-vector PURGE — the compaction every DV
    * refusal in this module points at: each DV-bearing file rewrites
    * WITHOUT its deleted rows (grouped by partition values, so one
    * scan + one staged write per partition group, not per file), and
    * one commit removes the vectored files and adds their clean
    * replacements (`dataChange = false` — no logical rows changed,
    * the Delta maintenance marker). After the purge the state carries
    * no vectors, so [[checkpoint]], [[vacuum]] and
    * [[importToManifest]] apply again. Untouched files are not
    * rewritten — cost tracks the vectored surface, not the table. */
  def purgeDeletionVectors(spark: SparkSession, table: String): Long = {
    val st = state(spark, table, None)
    DeltaWriteGate.requireWritable(st, table,
      "REORG PURGE", removesData = false, addsData = false)
    val dvAdds = st.files.filter(_.dv.nonEmpty)
    if (dvAdds.isEmpty) return st.version
    val root = new Path(table)
    val fs = hadoopFs(spark, root)
    val mapped = st.columnMappingMode != "none"
    val dataSchema = StructType(st.schema.fields.filterNot(f =>
      st.partitionColumns.contains(f.name)))
    val now = System.currentTimeMillis()
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    lines += s"""{"commitInfo":{"timestamp":$now,"operation":${
      jstr("PURGE")},"operationParameters":{},"engineInfo":${
      jstr("graft")}}}"""
    dvAdds.groupBy(_.partitionValues).foreach { case (pv, adds) =>
      // the group's survivors in one pass: scan the vectored files
      // with their row positions, anti-join the decoded deletes;
      // mapped tables rewrite under physical names like the files
      // they replace
      val clean0 = filesToDF(spark, table, dataSchema, Nil, adds,
        st.columnMappingMode)
      val clean = stampCompatIds(
        if (mapped) toPhysical(clean0, dataSchema) else clean0, st)
      val stage = new Path(root, s".purge-${java.util.UUID.randomUUID()}")
      clean.write.mode("overwrite").parquet(stage.toString)
      val staged = listParquet(fs, stage)
      staged.foreach { p =>
        val dest = new Path(root, p.getName)
        if (!fs.rename(p, dest))
          throw new IllegalStateException(s"failed to move $p to $dest")
        val pvJson = pv.map {
          case (k, Some(v)) => s"${jstr(k)}:${jstr(v)}"
          case (k, None) => s"${jstr(k)}:null"
        }.mkString("{", ",", "}")
        lines += s"""{"add":{"path":${jstr(urlEncode(p.getName))},""" +
          s""""partitionValues":$pvJson,""" +
          s""""size":${fs.getFileStatus(dest).getLen},""" +
          s""""modificationTime":$now,"dataChange":false}}"""
      }
      fs.delete(stage, true): Unit
      adds.foreach(a =>
        lines += s"""{"remove":{"path":${jstr(urlEncode(a.path))},""" +
          s""""deletionTimestamp":$now,"dataChange":false}}""")
    }
    publishCommit(fs, new Path(root, "_delta_log"), st.version + 1,
      lines.toSeq, st.configuration)
  }

  /** OPTIMIZE — bin-pack compaction and optional multi-dimensional
    * Z-ORDER clustering, the Delta maintenance pair:
    *
    *   - `zorderBy = Nil`: per partition, files SMALLER than
    *     `targetFileBytes` coalesce into ~target-sized replacements
    *     (a group of one small file is left alone — nothing to gain).
    *   - `zorderBy = cols`: per partition, ALL plain files rewrite
    *     range-clustered on the interleaved z-value
    *     ([[ZOrder.clusterByZ]]), tightening every dimension's
    *     per-file min/max so [[readWhere]]'s stats pruning skips on
    *     any of them.
    *
    * The commit is pure maintenance: adds and removes carry
    * `dataChange = false` (no logical rows change), so the CHANGE
    * DATA FEED emits nothing for it and a change-feed range spanning
    * the optimize stays exact. Rewritten files re-record footer stats.
    * DV-bearing files are excluded (purge first — their rewrite is
    * [[purgeDeletionVectors]]' job); column-mapped tables refuse by
    * name. Returns the committed version, or the current one when
    * nothing qualifies. */
  /** INCREMENTAL liquid-clustering selection: which of a partition
    * group's files an implicit (recorded-clustering) OPTIMIZE must
    * rewrite, as independent REWRITE UNITS. Files whose recorded key
    * ranges are pairwise DISJOINT and well-sized are already
    * clustered and stay untouched — only overlap components (≥2
    * files whose ranges intersect, e.g. a fresh append spanning the
    * key space plus the clustered files it overlaps) and small
    * strays (< target/2 — rewrite outputs average ≥ target/2, so
    * re-picking cannot loop) rewrite, so routine maintenance on a
    * mostly-clustered table costs O(new + overlapped files), not
    * O(table). Each unit is a maximal RUN of range-consecutive
    * rewritten components: rewriting a run produces files confined
    * to the run's own key span, so kept files' ranges stay disjoint
    * from every output — the pairwise-disjointness the dl18 gate
    * pins survives any interleaving of kept and rewritten files.
    * Everything the stats cannot PROVE disjoint rewrites: a
    * stats-less or incomparably-typed file overlaps the whole key
    * space, which degrades to a full re-cluster, never a wrong skip.
    * Multi-column clustering re-clusters the whole group: z-order
    * output bounding boxes are not pairwise disjoint, so an overlap
    * test could never converge there. */
  private def clusteringUnits(st: DeltaState, adds: Seq[DeltaAdd],
      cols: Seq[String], targetFileBytes: Long,
      zone: java.time.ZoneId): Seq[Seq[DeltaAdd]] = {
    if (cols.length != 1) return Seq(adds)
    val field = st.schema.find(_.name == cols.head) match {
      case Some(f) => f
      case None => return Seq(adds)
    }
    val key =
      if (st.columnMappingMode == "none") field.name
      else physicalName(field)
    def boundsOf(a: DeltaAdd): Option[(Either[Long, String],
        Either[Long, String])] =
      a.stats.flatMap(s =>
        scala.util.Try(org.json4s.jackson.JsonMethods.parse(s)).toOption)
        .flatMap { j =>
          for {
            lo <- statsBound(field.dataType, j \ "minValues" \ key, zone)
            hi <- statsBound(field.dataType, j \ "maxValues" \ key, zone)
          } yield (lo, hi)
        }
    val boxed = adds.map(a => a -> boundsOf(a))
    // a file that can't prove its range overlaps everything — the
    // whole group re-clusters (never a wrong skip)
    if (boxed.exists(_._2.isEmpty)) return Seq(adds)
    var incomparable = false
    def cmp(x: Either[Long, String], y: Either[Long, String]): Int =
      ScanPredicates.compareValues(x, y).getOrElse {
        incomparable = true; 0
      }
    val sorted = boxed.map { case (a, b) => (a, b.get) }
      .sortWith((p, q) => cmp(p._2._1, q._2._1) < 0)
    // interval sweep: range-overlap components, in key order
    val comps =
      scala.collection.mutable.ArrayBuffer
        .empty[scala.collection.mutable.ArrayBuffer[DeltaAdd]]
    var curHi: Option[Either[Long, String]] = None
    sorted.foreach { case (a, (lo, hi)) =>
      if (curHi.forall(h => cmp(lo, h) > 0)) {
        comps += scala.collection.mutable.ArrayBuffer(a)
        curHi = Some(hi)
      } else {
        comps.last += a
        if (cmp(hi, curHi.get) > 0) curHi = Some(hi)
      }
    }
    if (incomparable) return Seq(adds)
    // kept = a lone well-sized file with a range of its own; every
    // maximal run of non-kept components between kept files rewrites
    // as ONE unit (≥2 files — a lone small stray has nothing to pack
    // with and waits for company)
    def kept(c: scala.collection.mutable.ArrayBuffer[DeltaAdd]): Boolean =
      c.length == 1 && c.head.size >= targetFileBytes / 2
    val units = scala.collection.mutable.ArrayBuffer.empty[Seq[DeltaAdd]]
    val run = scala.collection.mutable.ArrayBuffer.empty[DeltaAdd]
    def flush(): Unit = {
      if (run.length >= 2) units += run.toSeq
      run.clear()
    }
    comps.foreach(c => if (kept(c)) flush() else run ++= c)
    flush()
    units.toSeq
  }

  def optimize(spark: SparkSession, table: String,
               targetFileBytes: Long = 128L * 1024 * 1024,
               zorderBy: Seq[String] = Nil): Long = {
    val st = state(spark, table, None)
    // dataChange=false rewrites are LEGAL on append-only tables
    // (delta-spark allows OPTIMIZE there) — removesData=false.
    // Row-tracking tables rewrite with MATERIALIZED ids (below), so
    // compaction never reassigns a row id.
    DeltaWriteGate.requireWritable(st, table, "OPTIMIZE",
      removesData = false, addsData = false, rowTrackingHandled = true)
    val rowTracking = st.writerFeatures.contains("rowTracking")
    val matNames: Option[(String, String)] =
      (st.configuration.get(MatRowIdKey),
        st.configuration.get(MatRowCommitKey)) match {
        case (Some(a), Some(b)) => Some((a, b))
        case _ => None
      }
    if (rowTracking && matNames.isEmpty)
      throw new UnsupportedDeltaFeatureException(
        s"OPTIMIZE on row-tracking table $table: no materialized " +
          "tracking column names recorded — rewritten rows could not " +
          "preserve their ids")
    val mapped = st.columnMappingMode != "none"
    zorderBy.foreach(c => require(st.schema.exists(_.name == c),
      s"z-order column $c is not in the schema of $table"))
    require(zorderBy.forall(c => !st.partitionColumns.contains(c)),
      "z-ordering a partition column is a no-op — it is constant " +
        "within every rewrite group")
    // LIQUID CLUSTERING: an OPTIMIZE with no explicit z-order set
    // re-clusters on the table's RECORDED clustering columns (the
    // delta.clustering domain) — maintaining the clustering is what
    // makes accepting the `clustering` writer feature honest. A
    // recorded column the schema no longer carries refuses by name.
    val effZorder: Seq[String] =
      if (zorderBy.nonEmpty) zorderBy
      else clusteringColumnsOf(st, table).getOrElse(Nil).map { c =>
        if (!st.schema.exists(_.name == c))
          throw new UnsupportedDeltaFeatureException(
            s"table $table records clustering column $c which is not " +
              "in the schema — refusing to OPTIMIZE rather than drop " +
              "its clustering")
        c
      }.filterNot(st.partitionColumns.contains)
    val dataSchema = StructType(st.schema.fields.filterNot(f =>
      st.partitionColumns.contains(f.name)))
    val plain = st.files.filter(_.dv.isEmpty)
    val zone = java.time.ZoneId.of(
      spark.sessionState.conf.sessionLocalTimeZone)
    val groups = plain.groupBy(_.partitionValues).toSeq.flatMap {
      case (pv, adds) =>
        // each unit rewrites independently (its own clusterByZ +
        // range split), so a unit's output stays confined to its own
        // key span and never straddles a kept file's range
        val units: Seq[Seq[DeltaAdd]] =
          if (zorderBy.nonEmpty) Seq(adds) // explicit: full re-layout
          else if (effZorder.nonEmpty)
            clusteringUnits(st, adds, effZorder, targetFileBytes, zone)
          else Seq(adds.filter(_.size < targetFileBytes))
        // one lone small file has nothing to pack with; a z-order
        // rewrite of a single file still tightens its clustering only
        // if there are ≥ 2 files or the caller asked for layout change
        units.filter(u =>
          u.size >= 2 || (zorderBy.nonEmpty && u.nonEmpty)).map(pv -> _)
    }
    if (groups.isEmpty) return st.version
    val root = new Path(table)
    val fs = hadoopFs(spark, root)
    val now = System.currentTimeMillis()
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    lines += s"""{"commitInfo":{"timestamp":$now,"operation":${
      jstr("OPTIMIZE")},"operationParameters":{},"engineInfo":${
      jstr("graft")}}}"""
    // fresh base-row-id ranges for compacted files (materialized
    // per-row values carry the truth; the range advances the mark)
    var rowIdCursor =
      if (!rowTracking) 0L else rowIdCursorStart(st)
    val rowIdCursor0 = rowIdCursor
    val version = st.version + 1
    groups.foreach { case (pv, adds) =>
      val grouped =
        if (!rowTracking)
          filesToDF(spark, table, dataSchema, Nil, adds,
            st.columnMappingMode)
        else {
          // resolve each row's id/commit-version (materialized value,
          // else base + position) and MATERIALIZE both into the
          // compacted rows — OPTIMIZE moves rows across files, so
          // inheritance alone cannot survive it
          import org.apache.spark.sql.functions.{broadcast, coalesce}
          import spark.implicits._
          val (ridN, rcvN) = matNames.get
          val extras = Seq(StructField(ridN, LongType),
            StructField(rcvN, LongType))
          val scanned = filesToDF(spark, table, dataSchema, Nil, adds,
            st.columnMappingMode, keepLineage = true,
            extraPhysical = extras)
          val info = broadcast(adds.map(a =>
            (uriKey(new Path(table), a.path), a.baseRowId,
              a.defaultRowCommitVersion))
            .toDF("__fp", "__rt_base", "__rt_dcv"))
          scanned.join(info, Seq("__fp"), "left")
            .select((dataSchema.fields.toIndexedSeq
              .map(f => col(s"`${f.name}`")) ++ Seq(
              coalesce(col(s"`$ridN`"),
                col("__rt_base") + col("__pos")).as(ridN),
              coalesce(col(s"`$rcvN`"), col("__rt_dcv")).as(rcvN))): _*)
        }
      val nOut = math.max(1L,
        math.ceil(adds.map(_.size).sum.toDouble / targetFileBytes).toLong)
        .toInt
      val packed0 =
        if (effZorder.nonEmpty) ZOrder.clusterByZ(grouped, effZorder, nOut)
        else grouped.coalesce(nOut)
      val packed = stampCompatIds(
        if (mapped) toPhysical(packed0, dataSchema,
          passThrough = matNames.toSeq.filter(_ => rowTracking)
            .flatMap(t => Seq(t._1, t._2)))
        else packed0, st)
      val stage = new Path(root, s".optimize-${java.util.UUID.randomUUID()}")
      packed.write.mode("overwrite").parquet(stage.toString)
      val pvJson = pv.map {
        case (k, Some(v)) => s"${jstr(k)}:${jstr(v)}"
        case (k, None) => s"${jstr(k)}:null"
      }.mkString("{", ",", "}")
      listParquet(fs, stage).foreach { p =>
        val dest = new Path(root, p.getName)
        if (!fs.rename(p, dest))
          throw new IllegalStateException(s"failed to move $p to $dest")
        val statsSchema =
          if (mapped) physicalStruct(dataSchema) else dataSchema
        val (rows, lo, hi) =
          ScanPredicates.footerStats(spark, dest, statsSchema)
        val rowIdJson =
          if (!rowTracking) ""
          else {
            val b = rowIdCursor; rowIdCursor += rows
            s""","baseRowId":$b,"defaultRowCommitVersion":$version"""
          }
        lines += s"""{"add":{"path":${jstr(urlEncode(p.getName))},""" +
          s""""partitionValues":$pvJson,""" +
          s""""size":${fs.getFileStatus(dest).getLen},""" +
          s""""modificationTime":$now,"dataChange":false""" +
          rowIdJson +
          s""","stats":${jstr(statsJson(rows, lo, hi, statsSchema))}}}"""
      }
      fs.delete(stage, true): Unit
      adds.foreach(a =>
        lines += s"""{"remove":{"path":${jstr(urlEncode(a.path))},""" +
          s""""deletionTimestamp":$now,"dataChange":false}}""")
    }
    if (rowTracking && rowIdCursor > rowIdCursor0)
      lines += domainJson(RowTrackingDomain,
        s"""{"rowIdHighWaterMark":${rowIdCursor - 1}}""")
    publishCommit(fs, new Path(root, "_delta_log"), st.version + 1,
      lines.toSeq, st.configuration)
  }

  /** Compact the log at its head (or a named `version`) into a
    * single-part checkpoint + `_last_checkpoint` — the artifact
    * [[read]] starts from instead of replaying every JSON commit.
    * A versioned checkpoint is what [[vacuum]] writes at the oldest
    * RETAINED version so every retained version stays resolvable
    * after older JSON commits drop. Vectored states checkpoint under
    * the table-features protocol with per-add `deletionVector`
    * structs (the protocol's checkpoint schema), so DML-heavy tables
    * compact their logs without purging first. */
  def checkpoint(spark: SparkSession, table: String,
                 version: Option[Long] = None): Long = {
    val st = state(spark, table, version)
    DeltaWriteGate.requireCheckpointable(st, table)
    val logDir = new Path(table, "_delta_log")
    val fs = hadoopFs(spark, logDir)
    // v2-policy tables get the spec's V2 form natively: a sidecar-
    // bearing checkpoint whose add actions split across parallel
    // parquet files — the shape a 100 TB table's million-file state
    // actually needs (one classic single-part file serializes the
    // whole state through one writer)
    if (st.configuration.get("delta.checkpointPolicy").contains("v2"))
      return checkpointV2(spark, fs, logDir, st, version)
    import spark.implicits._
    // the checkpoint records the protocol VERBATIM — replaying from
    // the checkpoint must reconstruct exactly what replaying the JSON
    // log would (widening a (1,7) writer-features table to reader 3,
    // or downgrading a CDF table's writer 4 to 2, both make the two
    // replays disagree and misrepresent the table to foreign readers)
    val proto = CkProtocol(st.minReaderVersion, st.minWriterVersion,
      if (st.minReaderVersion >= 3) Some(st.readerFeatures) else None,
      if (st.minWriterVersion >= 7) Some(st.writerFeatures) else None)
    // metaData carries the RECORDED configuration and table id — a
    // checkpoint that regenerated the id or dropped the configuration
    // (delta.enableChangeDataFeed, columnMapping.mode...) would make
    // replay-from-checkpoint silently disagree with replay-from-JSON
    val rows =
      CkRow(Some(proto), None, None) +:
        CkRow(None, Some(CkMeta(
          st.metaId.getOrElse(java.util.UUID.randomUUID().toString),
          CkFormat("parquet", Map.empty), st.schema.json,
          st.partitionColumns, st.configuration,
          System.currentTimeMillis())), None) +:
        // txn high-water marks survive the checkpoint (the protocol
        // requires it) — or a replay-from-checkpoint would forget a
        // stream's last batch and let a crashed epoch double-commit
        (st.appTransactions.toSeq.sortBy(_._1).map { case (a, v) =>
          CkRow(None, None, None, txn = Some(CkTxn(a, v)))
        } ++
        // live domainMetadata actions survive the checkpoint (the
        // spec requires it — row tracking's high-water mark lives
        // in the delta.rowTracking domain)
        st.domains.toSeq.sortBy(_._1).map { case (n, cfg) =>
          CkRow(None, None, None,
            domainMetadata = Some(CkDomain(n, cfg)))
        } ++
        st.files.map(a => CkRow(None, None, Some(CkAdd(
          urlEncode(a.path),
          a.partitionValues.map { case (k, v) => k -> v.orNull },
          a.size, 0L, dataChange = false, stats = a.stats,
          deletionVector = a.dv.map(d => CkDv(d.storageType,
            d.pathOrInlineDv, d.offset, d.sizeInBytes,
            d.cardinality)),
          baseRowId = a.baseRowId,
          defaultRowCommitVersion = a.defaultRowCommitVersion)))))
    val target = new Path(logDir, f"${st.version}%020d.checkpoint.parquet")
    // idempotent: a checkpoint for this version already exists — it
    // replays to the same state (checkpoints are deterministic
    // functions of the log), so keep it (e.g. vacuum re-checkpointing
    // an already-checkpointed retained head)
    if (fs.exists(target)) return st.version
    val stage = new Path(logDir, s".ck-${java.util.UUID.randomUUID()}")
    rows.toDF().coalesce(1).write.parquet(stage.toString)
    val part = listParquet(fs, stage).head
    if (!fs.rename(part, target)) {
      fs.delete(stage, true): Unit
      if (fs.exists(target)) return st.version // raced: same content
      throw new IllegalStateException(s"failed to publish checkpoint $target")
    }
    fs.delete(stage, true)
    // the hint names the NEWEST checkpoint; a versioned (historical)
    // checkpoint must not rewind it — state() resolves from the
    // listing either way, the hint is best-effort
    if (version.forall(v => currentVersion(spark, table).contains(v))) {
      val lc = fs.create(new Path(logDir, "_last_checkpoint"), true)
      try lc.write(
        s"""{"version":${st.version},"size":${rows.size}}"""
          .getBytes(StandardCharsets.UTF_8))
      finally lc.close()
    }
    st.version
  }

  /** Enable V2 CHECKPOINTS (`delta.checkpointPolicy = v2`): one
    * metadata commit recording the policy and upgrading the protocol
    * to declare `v2Checkpoint` on BOTH sides — reader 3 (a v2
    * checkpoint is unreadable to pre-v3 readers, so the spec requires
    * the declaration) and writer 7 with the legacy-implied writer
    * features carried over, the [[dvProtocolLines]] discipline. From
    * this commit on [[checkpoint]] writes the sidecar-bearing V2
    * form. */
  def enableV2Checkpoints(spark: SparkSession, table: String): Long = {
    val st = state(spark, table, None)
    if (st.configuration.get("delta.checkpointPolicy").contains("v2"))
      return st.version
    DeltaWriteGate.requireWritable(st, table, "SET TBLPROPERTIES",
      removesData = false, addsData = false, rowTrackingHandled = true)
    val root = new Path(table)
    val fs = hadoopFs(spark, root)
    val now = System.currentTimeMillis()
    val rf0 =
      if (st.minReaderVersion >= 3) st.readerFeatures
      else if (st.minReaderVersion == 2 || st.columnMappingMode != "none")
        st.readerFeatures :+ "columnMapping"
      else st.readerFeatures
    val legacy = st.minWriterVersion < 7 && st.writerFeatures.isEmpty
    val legacyImplied =
      (if (legacy && st.minWriterVersion >= 2)
        Seq("appendOnly", "invariants") else Nil) ++
        (if (legacy && st.minWriterVersion >= 3)
          Seq("checkConstraints") else Nil) ++
        (if (legacy && st.minWriterVersion >= 4)
          Seq("changeDataFeed", "generatedColumns") else Nil) ++
        (if (legacy && st.minWriterVersion >= 5)
          Seq("columnMapping") else Nil) ++
        (if (legacy && st.minWriterVersion >= 6)
          Seq("identityColumns") else Nil)
    val rf = (rf0 :+ "v2Checkpoint").distinct
    val wf = (st.writerFeatures ++ legacyImplied ++ rf0 :+
      "v2Checkpoint").distinct
    val config = st.configuration + ("delta.checkpointPolicy" -> "v2")
    val lines = Seq(
      s"""{"commitInfo":{"timestamp":$now,"operation":${
        jstr("SET TBLPROPERTIES")},"operationParameters":{},""" +
        s""""engineInfo":${jstr("graft")}}}""",
      s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        s""""readerFeatures":${rf.map(jstr).mkString("[", ",", "]")},""" +
        s""""writerFeatures":${wf.map(jstr).mkString("[", ",", "]")}}}""",
      metaDataJson(st.schema, st.partitionColumns, now, config,
        st.metaId))
    publishCommit(fs, new Path(root, "_delta_log"), st.version + 1,
      lines, config)
  }

  // ------------------------------------------------------ row tracking

  /** The protocol's row-tracking metadata domain — its configuration
    * JSON carries `rowIdHighWaterMark`, the largest assigned row id. */
  private[sources] val RowTrackingDomain = "delta.rowTracking"

  /** The liquid-clustering domain (writer feature `clustering`): the
    * protocol records the clustering columns as domain metadata
    * `delta.clustering` with configuration
    * `{"clusteringColumns":[["a"],["b"]]}` (each entry a nested-name
    * path). Data commits preserve it by never touching domains;
    * [[optimize]] RE-CLUSTERS on it. */
  private[sources] val ClusteringDomain = "delta.clustering"

  /** The recorded liquid-clustering columns, or None when the table
    * carries no `delta.clustering` domain. Nested column paths and
    * unrecognized configuration shapes refuse BY NAME — silently
    * ignoring them would let OPTIMIZE destroy the table's clustering
    * while claiming to maintain it. */
  private[sources] def clusteringColumnsOf(st: DeltaState,
      table: String): Option[Seq[String]] =
    st.domains.get(ClusteringDomain).map { cfg =>
      import org.json4s._
      def bad(): Nothing =
        throw new UnsupportedDeltaFeatureException(
          s"table $table carries a delta.clustering domain this " +
            s"writer cannot interpret ($cfg) — refusing rather than " +
            "drop or ignore its clustering")
      val parsed = scala.util.Try(
        org.json4s.jackson.JsonMethods.parse(cfg)).getOrElse(bad())
      (parsed \ "clusteringColumns") match {
        case JArray(cols) => cols.map {
          case JArray(List(JString(n))) => n
          case JArray(parts) if parts.length > 1 =>
            throw new UnsupportedDeltaFeatureException(
              s"table $table clusters on a NESTED column (" +
                parts.collect { case JString(s) => s }
                  .mkString(".") + ") — this writer z-clusters " +
                "top-level columns only")
          case JString(n) => n // lenient: flat names seen in the wild
          case _ => bad()
        }
        case _ => bad()
      }
    }

  /** The config keys naming the MATERIALIZED tracking columns —
    * physical columns rewritten files carry so preserved row ids win
    * over base-id inheritance. */
  private[sources] val MatRowIdKey =
    "delta.rowTracking.materializedRowIdColumnName"
  private[sources] val MatRowCommitKey =
    "delta.rowTracking.materializedRowCommitVersionColumnName"

  private def rowIdHwmOf(domains: Map[String, String]): Long =
    domains.get(RowTrackingDomain).flatMap { cfg =>
      import org.json4s._
      scala.util.Try(org.json4s.jackson.JsonMethods.parse(cfg)).toOption
        .flatMap(j => (j \ "rowIdHighWaterMark") match {
          case JInt(n) => Some(n.toLong)
          case JLong(n) => Some(n)
          case _ => None
        })
    }.getOrElse(-1L)

  /** The first safe row id to assign: past the domain's recorded
    * high-water mark AND past every live file's assigned range — a
    * foreign log whose domain lags its assignments (or lost it) must
    * never be handed colliding ids. A baseRowId-carrying live file
    * with NO numRecords stats refuses by name (r15): guessing 0 would
    * understate its range end, and if the domain mark also lags,
    * fresh allocations could collide with that file's tail ids —
    * the same refusal [[enableRowTracking]]'s backfill makes. */
  private def rowIdCursorStart(st: DeltaState): Long =
    (rowIdHwmOf(st.domains) max
      st.files.flatMap(a => a.baseRowId.map(b =>
        b + numRecordsOf(a).getOrElse(
          throw new UnsupportedDeltaFeatureException(
            s"row-tracking table: live file ${a.path} carries " +
              s"baseRowId=$b but records no numRecords stats — its " +
              "assigned row-id range end is unknowable, and fresh " +
              "allocations could collide with it; refusing rather " +
              "than risk duplicate row ids")) - 1))
        .foldLeft(-1L)(_ max _)) + 1

  private def domainJson(domain: String, configuration: String,
                         removed: Boolean = false): String =
    s"""{"domainMetadata":{"domain":${jstr(domain)},""" +
      s""""configuration":${jstr(configuration)},"removed":$removed}}"""

  /** Enable ROW TRACKING: one commit upgrades the protocol to writer
    * 7 declaring `rowTracking` + `domainMetadata` (legacy-implied
    * features carried, reader side untouched — row tracking has no
    * reader feature), records `delta.enableRowTracking=true`, and
    * BACKFILLS every live file with an assigned `baseRowId` /
    * `defaultRowCommitVersion` (dataChange=false re-adds), publishing
    * the `delta.rowTracking` domain's high-water mark. From this
    * commit on, appends assign fresh row-id ranges; verbs this writer
    * cannot preserve row ids through (CoW rewrites) refuse by name.
    * O(live files) metadata, no data IO. */
  def enableRowTracking(spark: SparkSession, table: String): Long = {
    val st = state(spark, table, None)
    if (st.writerFeatures.contains("rowTracking") &&
      st.configuration.get("delta.enableRowTracking").contains("true"))
      return st.version
    DeltaWriteGate.requireWritable(st, table, "SET TBLPROPERTIES",
      removesData = false, addsData = false, rowTrackingHandled = true)
    // only files WITHOUT an assignment backfill — re-enabling (or
    // enabling a foreign table whose writer already assigned) must
    // never move an existing file's row ids
    val backfill: Seq[(DeltaAdd, Long)] =
      st.files.filter(_.baseRowId.isEmpty).map(a =>
        a -> numRecordsOf(a).getOrElse(
          throw new UnsupportedDeltaFeatureException(
            s"enableRowTracking on $table: live file ${a.path} " +
              "records no numRecords stats — cannot backfill base " +
              "row ids")))
    val root = new Path(table)
    val fs = hadoopFs(spark, root)
    val now = System.currentTimeMillis()
    val version = st.version + 1
    // writer 7 with legacy-implied features carried over (the
    // enableV2Checkpoints discipline); reader-side features that are
    // also writer features stay listed on the writer side
    val legacy = st.minWriterVersion < 7 && st.writerFeatures.isEmpty
    val legacyImplied =
      (if (legacy && st.minWriterVersion >= 2)
        Seq("appendOnly", "invariants") else Nil) ++
        (if (legacy && st.minWriterVersion >= 3)
          Seq("checkConstraints") else Nil) ++
        (if (legacy && st.minWriterVersion >= 4)
          Seq("changeDataFeed", "generatedColumns") else Nil) ++
        (if (legacy && st.minWriterVersion >= 5)
          Seq("columnMapping") else Nil) ++
        (if (legacy && st.minWriterVersion >= 6)
          Seq("identityColumns") else Nil)
    val rf =
      if (st.minReaderVersion >= 3) st.readerFeatures
      else Nil
    val wf = (st.writerFeatures ++ legacyImplied ++ rf ++
      Seq("domainMetadata", "rowTracking")).distinct
    // record the MATERIALIZED tracking column names up front (kept if
    // a foreign writer already chose them) — the rewrite paths write
    // preserved ids under these physical names
    val matSuffix = java.util.UUID.randomUUID().toString
    val config = st.configuration +
      ("delta.enableRowTracking" -> "true") +
      (MatRowIdKey -> st.configuration.getOrElse(MatRowIdKey,
        s"_row-id-col-$matSuffix")) +
      (MatRowCommitKey -> st.configuration.getOrElse(MatRowCommitKey,
        s"_row-commit-version-col-$matSuffix"))
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    lines += s"""{"commitInfo":{"timestamp":$now,"operation":${
      jstr("SET TBLPROPERTIES")},"operationParameters":{},""" +
      s""""engineInfo":${jstr("graft")}}}"""
    lines += s"""{"protocol":{"minReaderVersion":${st.minReaderVersion},""" +
      s""""minWriterVersion":7,""" +
      (if (st.minReaderVersion >= 3)
        s""""readerFeatures":${rf.map(jstr).mkString("[", ",", "]")},"""
      else "") +
      s""""writerFeatures":${wf.map(jstr).mkString("[", ",", "]")}}}"""
    lines += metaDataJson(st.schema, st.partitionColumns, now, config,
      st.metaId)
    var cursor = rowIdCursorStart(st)
    backfill.foreach { case (a, n) =>
      val b = cursor; cursor += n
      lines += s"""{"add":{"path":${jstr(urlEncode(a.path))},""" +
        s""""partitionValues":${pvJsonOf(a.partitionValues)},""" +
        s""""size":${a.size},"modificationTime":$now,""" +
        s""""dataChange":false""" +
        a.stats.map(st0 => s""","stats":${jstr(st0)}""").getOrElse("") +
        a.dv.map(d =>
          s""","deletionVector":{"storageType":${jstr(d.storageType)},""" +
            s""""pathOrInlineDv":${jstr(d.pathOrInlineDv)},""" +
            s""""offset":${d.offset},"sizeInBytes":${d.sizeInBytes},""" +
            s""""cardinality":${d.cardinality}}""").getOrElse("") +
        s""","baseRowId":$b,"defaultRowCommitVersion":$version}}"""
    }
    lines += domainJson(RowTrackingDomain,
      s"""{"rowIdHighWaterMark":${cursor - 1}}""")
    publishCommit(fs, new Path(root, "_delta_log"), version,
      lines.toSeq, config)
  }

  /** Enable LIQUID CLUSTERING (`ALTER TABLE … CLUSTER BY`): one
    * commit upgrades the protocol to writer 7 declaring `clustering`
    * + `domainMetadata` (legacy-implied features carried, the
    * [[enableRowTracking]] discipline) and publishes the
    * `delta.clustering` domain recording `cols`. From then on
    * [[optimize]] re-clusters on them; appends stay legal — the
    * protocol allows adding unclustered data. O(1) metadata, no data
    * IO. */
  def enableClustering(spark: SparkSession, table: String,
                       cols: Seq[String]): Long = {
    require(cols.nonEmpty, "enableClustering needs at least one column")
    val st = state(spark, table, None)
    cols.foreach(c => require(st.schema.exists(_.name == c),
      s"clustering column $c is not in the schema of $table"))
    require(cols.forall(c => !st.partitionColumns.contains(c)),
      s"clustering a partition column of $table is a no-op — it is " +
        "constant within every file group")
    DeltaWriteGate.requireWritable(st, table, "ALTER TABLE CLUSTER BY",
      removesData = false, addsData = false,
      rowTrackingHandled = true)
    val root = new Path(table)
    val fs = hadoopFs(spark, root)
    val now = System.currentTimeMillis()
    val version = st.version + 1
    val legacy = st.minWriterVersion < 7 && st.writerFeatures.isEmpty
    val legacyImplied =
      (if (legacy && st.minWriterVersion >= 2)
        Seq("appendOnly", "invariants") else Nil) ++
        (if (legacy && st.minWriterVersion >= 3)
          Seq("checkConstraints") else Nil) ++
        (if (legacy && st.minWriterVersion >= 4)
          Seq("changeDataFeed", "generatedColumns") else Nil) ++
        (if (legacy && st.minWriterVersion >= 5)
          Seq("columnMapping") else Nil) ++
        (if (legacy && st.minWriterVersion >= 6)
          Seq("identityColumns") else Nil)
    val rf = if (st.minReaderVersion >= 3) st.readerFeatures else Nil
    val wf = (st.writerFeatures ++ legacyImplied ++ rf ++
      Seq("domainMetadata", "clustering")).distinct
    val colsJson = cols.map(c => s"[${jstr(c)}]")
      .mkString("[", ",", "]")
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    lines += s"""{"commitInfo":{"timestamp":$now,"operation":${
      jstr("CLUSTER BY")},"operationParameters":{},""" +
      s""""engineInfo":${jstr("graft")}}}"""
    lines += s"""{"protocol":{"minReaderVersion":${st.minReaderVersion},""" +
      s""""minWriterVersion":7,""" +
      (if (st.minReaderVersion >= 3)
        s""""readerFeatures":${rf.map(jstr).mkString("[", ",", "]")},"""
      else "") +
      s""""writerFeatures":${wf.map(jstr).mkString("[", ",", "]")}}}"""
    lines += domainJson(ClusteringDomain,
      s"""{"clusteringColumns":$colsJson}""")
    publishCommit(fs, new Path(root, "_delta_log"), version,
      lines.toSeq, st.configuration)
  }

  /** Read the live rows of a row-tracking table WITH their row ids:
    * every data column plus `_row_id` and `_row_commit_version`,
    * deletion vectors applied, with the spec's precedence — a
    * MATERIALIZED tracking value (written by merge-on-read updates
    * and OPTIMIZE, named by the `delta.rowTracking.materialized*`
    * configs) wins; rows that never materialized inherit
    * `baseRowId + position` and the file's `defaultRowCommitVersion`;
    * files a foreign writer added without assignment serve NULL.
    *
    * Scale shape: the id columns ride the ONE data scan — a broadcast
    * of (file → base, version) joins on the scan's metadata path,
    * positions come from parquet `row_index`; no extra pass. */
  def readRowIds(spark: SparkSession, table: String,
                 version: Option[Long] = None): DataFrame = {
    val st = state(spark, table, version)
    if (!st.writerFeatures.contains("rowTracking"))
      throw new UnsupportedDeltaFeatureException(
        s"table $table does not declare the rowTracking writer " +
          "feature (enableRowTracking is the door)")
    Seq("_row_id", "_row_commit_version").foreach(n =>
      if (st.schema.exists(_.name == n))
        throw new UnsupportedDeltaFeatureException(
          s"table $table declares a data column named $n — it " +
            "shadows the row-tracking output column"))
    if (st.files.isEmpty)
      return filesToDF(spark, table, st.schema, st.partitionColumns,
        st.files, st.columnMappingMode)
        .withColumn("_row_id", lit(null).cast(LongType))
        .withColumn("_row_commit_version", lit(null).cast(LongType))
    rowIdResolvedScan(spark, table, st)
      .withColumnRenamed("__rt_rid", "_row_id")
      .withColumnRenamed("__rt_rcv", "_row_commit_version")
      .drop("__fp", "__pos")
  }

  /** The row-tracking-resolved scan: data columns + `__rt_rid` /
    * `__rt_rcv` (materialized value, else `baseRowId + position` /
    * the file's `defaultRowCommitVersion`) + `__fp`/`__pos` — shared
    * by [[readRowIds]] and the DML paths that materialize carried
    * ids into rewritten rows. */
  private def rowIdResolvedScan(spark: SparkSession, table: String,
                                st: DeltaState): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, coalesce}
    val matRid = st.configuration.get(MatRowIdKey)
    val matRcv = st.configuration.get(MatRowCommitKey)
    val extras = (matRid.toSeq ++ matRcv.toSeq)
      .map(n => StructField(n, LongType))
    val df = filesToDF(spark, table, st.schema, st.partitionColumns,
      st.files, st.columnMappingMode, keepLineage = true,
      extraPhysical = extras)
    import spark.implicits._
    val info = broadcast(st.files.map(a =>
      (uriKey(new Path(table), a.path), a.baseRowId,
        a.defaultRowCommitVersion))
      .toDF("__fp", "__rt_base", "__rt_dcv"))
    df.join(info, Seq("__fp"), "left")
      .withColumn("__rt_rid",
        coalesce((matRid.map(n => col(s"`$n`")).toSeq :+
          (col("__rt_base") + col("__pos"))): _*))
      .withColumn("__rt_rcv",
        coalesce((matRcv.map(n => col(s"`$n`")).toSeq :+
          col("__rt_dcv")): _*))
      .drop((matRid.toSeq ++ matRcv.toSeq :+ "__rt_base" :+ "__rt_dcv")
        : _*)
  }

  /** The V2 checkpoint writer: add actions split across SIDECAR
    * parquet files under `_delta_log/_sidecars/` (bounded rows each —
    * at scale, written and later read in parallel), referenced by a
    * top-level `<v>.checkpoint.<uuid>.parquet` holding
    * checkpointMetadata / protocol / metaData / txn rows plus the
    * sidecar references — exactly the artifact the read side's
    * `CkV2Re` path consumes. Idempotent per version like the classic
    * form. */
  private[sources] def checkpointV2(spark: SparkSession, fs: FileSystem,
      logDir: Path, st: DeltaState, version: Option[Long],
      rowsPerSidecar: Int = 100000): Long = {
    import spark.implicits._
    val existing = fs.listStatus(logDir).map(_.getPath.getName)
      .exists { case CkV2Re(v, _, _) => v.toLong == st.version
                case _ => false }
    if (existing) return st.version
    val uuid = java.util.UUID.randomUUID().toString
    val sideDir = new Path(logDir, "_sidecars")
    fs.mkdirs(sideDir)
    val now = System.currentTimeMillis()
    val sidecars = st.files.grouped(rowsPerSidecar).zipWithIndex.map {
      case (group, i) =>
        val rows = group.map(a => CkSideRow(Some(CkAdd(
          urlEncode(a.path),
          a.partitionValues.map { case (k, v) => k -> v.orNull },
          a.size, 0L, dataChange = false, stats = a.stats,
          deletionVector = a.dv.map(d => CkDv(d.storageType,
            d.pathOrInlineDv, d.offset, d.sizeInBytes,
            d.cardinality)),
          baseRowId = a.baseRowId,
          defaultRowCommitVersion = a.defaultRowCommitVersion))))
        val stage = new Path(logDir, s".sc-$uuid-$i")
        rows.toDF().coalesce(1).write.parquet(stage.toString)
        val part = listParquet(fs, stage).head
        val dest = new Path(sideDir, s"$uuid-$i.parquet")
        if (!fs.rename(part, dest))
          throw new IllegalStateException(s"failed to move $part")
        fs.delete(stage, true): Unit
        CkSidecarRef(dest.getName, fs.getFileStatus(dest).getLen, now)
    }.toSeq
    val proto = CkProtocol(st.minReaderVersion, st.minWriterVersion,
      if (st.minReaderVersion >= 3) Some(st.readerFeatures) else None,
      if (st.minWriterVersion >= 7) Some(st.writerFeatures) else None)
    val top: Seq[CkV2Row] =
      CkV2Row(checkpointMetadata = Some(CkCheckpointMeta(st.version))) +:
        CkV2Row(protocol = Some(proto)) +:
        CkV2Row(metaData = Some(CkMeta(
          st.metaId.getOrElse(java.util.UUID.randomUUID().toString),
          CkFormat("parquet", Map.empty), st.schema.json,
          st.partitionColumns, st.configuration, now))) +:
        (st.appTransactions.toSeq.sortBy(_._1).map { case (a, v) =>
          CkV2Row(txn = Some(CkTxn(a, v)))
        } ++ st.domains.toSeq.sortBy(_._1).map { case (n, cfg) =>
          CkV2Row(domainMetadata = Some(CkDomain(n, cfg)))
        } ++ sidecars.map(sc => CkV2Row(sidecar = Some(sc))))
    val target = new Path(logDir,
      f"${st.version}%020d.checkpoint.$uuid.parquet")
    val stage = new Path(logDir, s".ckv2-$uuid")
    top.toDF().coalesce(1).write.parquet(stage.toString)
    val part = listParquet(fs, stage).head
    if (!fs.rename(part, target))
      throw new IllegalStateException(
        s"failed to publish v2 checkpoint $target")
    fs.delete(stage, true): Unit
    if (version.forall(v =>
      currentVersion(spark, logDir.getParent.toString).contains(v))) {
      val lc = fs.create(new Path(logDir, "_last_checkpoint"), true)
      try lc.write(
        s"""{"version":${st.version},"size":${top.size}}"""
          .getBytes(StandardCharsets.UTF_8))
      finally lc.close()
    }
    st.version
  }

  /** Delta-side retention (`VACUUM` + log cleanup in one pass): keep
    * the newest `keepLast` versions — a checkpoint lands AT the oldest
    * retained version first (so every retained version resolves
    * without the dropped JSONs), then dropped commit JSONs, superseded
    * checkpoints, and data files NO retained version references are
    * deleted. Returns the number of data files deleted.
    *
    * Ownership and safety rules:
    *   - A table whose root also holds a manifest-lake log refuses by
    *     name: an exported mirror ([[exportFromManifest]]) BORROWS the
    *     manifest's files, and "unreferenced by the Delta log" says
    *     nothing about what the owning manifest references — use the
    *     manifest's own VACUUM there.
    *   - Only visible `*.parquet` files older than the oldest RETAINED
    *     commit are candidates: a concurrent writer's staging dir is
    *     dot-hidden, and its already-moved files are newer than the
    *     retained head by construction (the mtime guard real Delta's
    *     retention period provides).
    *   - Time travel to a dropped version fails by name afterwards —
    *     the Delta contract. */
  def vacuum(spark: SparkSession, table: String, keepLast: Int = 2): Int = {
    require(keepLast >= 1, "must retain at least the current version")
    // the vacuumProtocolCheck feature's whole duty: run the writer
    // (and transitively reader) protocol check BEFORE deleting files
    val stHead = state(spark, table, None)
    DeltaWriteGate.requireWritable(stHead, table,
      "VACUUM", removesData = false, addsData = false,
      rowTrackingHandled = true)
    val root = new Path(table)
    val fs = hadoopFs(spark, root)
    require(ManifestLake.currentVersion(spark, table).isEmpty,
      s"$table is a manifest-lake table with a Delta mirror — its data " +
        "files are owned by the manifest; run the manifest VACUUM " +
        "(the mirror's add actions borrow, they do not own)")
    val logDir = new Path(root, "_delta_log")
    val names = fs.listStatus(logDir).map(_.getPath.getName)
    val versions = names.collect { case JsonRe(v) => v.toLong }.sorted
    val (drop, keep) = versions.splitAt(math.max(0, versions.size - keepLast))
    // checkpointProtection (r15): this vacuum's log cleanup deletes
    // dropped commit jsons and their checkpoints — exactly the
    // metadata cleanup the feature protects below
    // `delta.requireCheckpointProtectionBeforeVersion`. A cleanup
    // crossing that line must preserve the protected checkpoint
    // structure, which this writer does not model — refuse by name
    // rather than destroy what the table declared protected.
    if (stHead.writerFeatures.contains("checkpointProtection")) {
      val protV = stHead.configuration
        .get("delta.requireCheckpointProtectionBeforeVersion")
        .flatMap(v => scala.util.Try(v.toLong).toOption).getOrElse(-1L)
      if (drop.exists(_ < protV))
        throw new UnsupportedDeltaFeatureException(
          s"VACUUM on $table would clean up log versions below the " +
            s"checkpointProtection line (version $protV) — this " +
            "writer does not produce protected checkpoints; retain " +
            "more versions or clean up with a protection-aware engine")
    }
    val oldestKeep = keep.head
    if (drop.nonEmpty) checkpoint(spark, table, Some(oldestKeep))
    val keepStates = keep.map(v => v -> state(spark, table, Some(v))).toMap
    val live = keepStates.values.flatMap(_.files.map(_.path)).toSet
    // deletion-vector sidecars any RETAINED version still references
    // (the oldest retained version is DV-free — checkpoint enforced it
    // — but newer retained versions may carry vectors from DML)
    val liveDv = keepStates.values.flatMap(_.files.flatMap(_.dv))
      .flatMap(d => DeltaDv.dvFilePath(root, d))
      .map(p => relativize(root, p)).toSet
    val cutoff = fs.getFileStatus(
      new Path(logDir, f"$oldestKeep%020d.json")).getModificationTime
    var deleted = 0
    def walk(dir: Path): Unit = fs.listStatus(dir).foreach { st =>
      val nm = st.getPath.getName
      if (st.isDirectory) {
        if (!nm.startsWith(".") && !nm.startsWith("_")) walk(st.getPath)
      } else if (nm.endsWith(".parquet") && !nm.startsWith(".")) {
        val rel = relativize(root, st.getPath)
        if (!live(rel) && st.getModificationTime < cutoff) {
          if (fs.delete(st.getPath, false)) deleted += 1
        }
      } else if (nm.startsWith("deletion_vector_") && nm.endsWith(".bin")) {
        // superseded vectors (a later delete unioned them into a new
        // file, a rewrite materialized them, or their version dropped)
        val rel = relativize(root, st.getPath)
        if (!liveDv(rel) && st.getModificationTime < cutoff) {
          if (fs.delete(st.getPath, false)) deleted += 1
        }
      }
    }
    walk(root)
    val dropSet = drop.toSet
    drop.foreach(v => fs.delete(new Path(logDir, f"$v%020d.json"), false))
    // BOTH checkpoint shapes of dropped versions die — a surviving
    // multi-part checkpoint would keep a dropped version falsely
    // "resolvable" (the guard in state() checks for any checkpoint)
    // while its data files are already gone
    names.foreach {
      case n @ CkRe(cv) if dropSet(cv.toLong) =>
        fs.delete(new Path(logDir, n), false): Unit
      case n @ CkPartRe(cv, _, _) if dropSet(cv.toLong) =>
        fs.delete(new Path(logDir, n), false): Unit
      case n @ CkV2Re(cv, _, _) if dropSet(cv.toLong) =>
        fs.delete(new Path(logDir, n), false): Unit
      case _ => ()
    }
    // v2 checkpoint SIDECARS: the spec allows sharing them across
    // checkpoints, so a dropped checkpoint's sidecars are only dead
    // once no SURVIVING v2 checkpoint references them — sweep
    // _delta_log/_sidecars against the surviving reference set (else
    // every checkpoint cycle leaks its add-set worth of parquet)
    val sidecarDir = new Path(logDir, "_sidecars")
    if (fs.exists(sidecarDir)) {
      val referenced: Set[String] = names.collect {
        case n @ CkV2Re(cv, _, ext) if !dropSet(cv.toLong) => (n, ext)
      }.flatMap { case (n, ext) =>
        val file = new Path(logDir, n)
        if (ext == "json")
          parseActionLines(readUtf8(fs, file), file).collect {
            case SidecarAction(p) => p.split('/').last
          }
        else {
          val rows = spark.read.parquet(file.toString)
          if (rows.columns.contains("sidecar"))
            rows.select("sidecar.path").collect()
              .flatMap(r => Option(r.getString(0)))
              .map(_.split('/').last).toSeq
          else Nil
        }
      }.toSet
      fs.listStatus(sidecarDir).foreach { s0 =>
        if (!referenced(s0.getPath.getName) &&
          s0.getModificationTime < cutoff)
          fs.delete(s0.getPath, false): Unit
      }
    }
    // _last_checkpoint may name a checkpoint the drop loop just
    // deleted — external readers (delta-spark, delta-rs) resolve
    // through the hint, so it must move to the newest SURVIVING
    // checkpoint (the one this vacuum wrote at the oldest retained
    // version, superseded only by a newer pre-existing one)
    if (drop.nonEmpty) {
      val surviving = (names.collect { case CkRe(cv) => cv.toLong } ++
        names.collect { case CkPartRe(cv, _, _) => cv.toLong })
        .filterNot(dropSet).toSeq :+ oldestKeep
      val newest = surviving.max
      val size = keepStates.get(newest).map(_.files.size + 2)
        .getOrElse(state(spark, table, Some(newest)).files.size + 2)
      val lc = fs.create(new Path(logDir, "_last_checkpoint"), true)
      try lc.write(s"""{"version":$newest,"size":$size}"""
        .getBytes(StandardCharsets.UTF_8))
      finally lc.close()
    }
    deleted
  }

  // ---------------------------------------------------- format conversion

  /** `CONVERT TO DELTA` for a RAW parquet directory (optionally
    * Hive-partitioned), in place and METADATA-ONLY: publishes a
    * version-0 `_delta_log` whose add actions reference the existing
    * parquet files VERBATIM — adopting a 100 TB directory costs one
    * log commit plus one footer read per file (row counts for the
    * `numRecords` stats every downstream fast path expects), and the
    * footer reads run DISTRIBUTED on the executors, never a driver
    * loop. Partition columns derive from the Hive path segments —
    * recorded in the schema (Spark's own partition discovery types
    * them), absent from the data files, exactly Delta's convention;
    * a mixed layout (files disagreeing on partition keys) refuses by
    * name. The directory must not already be a Delta table. */
  def convertParquet(spark: SparkSession, dir: String): Long = {
    val root = new Path(dir)
    val fs = hadoopFs(spark, root)
    require(!fs.exists(new Path(root, "_delta_log")),
      s"$dir already carries a _delta_log — it IS a Delta table")
    // full schema, partition columns included, via Spark's own
    // parquet partition discovery (the types a Spark reader of the
    // raw directory would serve)
    val schema = spark.read.parquet(dir).schema
    val rootPath = fs.makeQualified(root).toUri.getPath
      .stripSuffix("/") + "/"
    val statuses = {
      val out = scala.collection.mutable.ArrayBuffer
        .empty[org.apache.hadoop.fs.LocatedFileStatus]
      val it = fs.listFiles(root, true)
      while (it.hasNext) {
        val f = it.next()
        val rel = f.getPath.toUri.getPath.stripPrefix(rootPath)
        if (f.isFile && f.getPath.getName.endsWith(".parquet") &&
          !rel.split('/').exists(s => s.startsWith("_") ||
            s.startsWith(".")))
          out += f
      }
      out.toSeq.sortBy(_.getPath.toString)
    }
    require(statuses.nonEmpty, s"no parquet files under $dir")
    val rels = statuses.map(_.getPath.toUri.getPath.stripPrefix(rootPath))
    val partCols: Seq[String] = rels.head.split('/').init
      .filter(_.contains('=')).map(_.split("=", 2)(0)).toSeq
    rels.find(r => ManifestLake.partitionValues(r).keySet !=
      partCols.toSet).foreach(r =>
      throw new UnsupportedDeltaFeatureException(
        s"file $r carries partition keys ${ManifestLake
          .partitionValues(r).keySet.mkString(",")} but the layout " +
          s"is ${partCols.mkString(",")} — a mixed layout cannot " +
          "convert under one partitioning"))
    partCols.foreach(c => require(schema.exists(_.name == c),
      s"partition path column $c is not in the discovered schema " +
        s"of $dir"))
    // row counts: one footer read per file, on the executors
    val paths = statuses.map(_.getPath.toString)
    val counts: Map[String, Long] = spark.sparkContext
      .parallelize(paths, math.max(1, math.min(paths.size,
        spark.sparkContext.defaultParallelism)))
      .map { p =>
        val conf = new org.apache.hadoop.conf.Configuration()
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new Path(p), conf))
        try p -> scala.jdk.CollectionConverters
          .ListHasAsScala(rd.getFooter.getBlocks).asScala
          .map(_.getRowCount.toLong).sum
        finally rd.close()
      }.collect().toMap
    val now = System.currentTimeMillis()
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    lines += s"""{"commitInfo":{"timestamp":$now,"operation":${
      jstr("CONVERT")},"operationParameters":{},""" +
      s""""engineInfo":${jstr("graft")}}}"""
    lines += """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""
    lines += metaDataJson(schema, partCols, now)
    statuses.foreach { f =>
      val rel = f.getPath.toUri.getPath.stripPrefix(rootPath)
      val pv = ManifestLake.partitionValues(rel)
        .map { case (k, v) => k -> Option(v) }
      lines += s"""{"add":{"path":${jstr(urlEncode(rel))},""" +
        s""""partitionValues":${pvJsonOf(pv)},""" +
        s""""size":${f.getLen},"modificationTime":${
          f.getModificationTime},"dataChange":true,""" +
        s""""stats":${jstr(s"""{"numRecords":${
          counts(f.getPath.toString)}}""")}}}"""
    }
    publishCommit(fs, new Path(root, "_delta_log"), 0L, lines.toSeq,
      Map.empty)
  }

  /** Metadata-only manifest-lake → Delta conversion, in place: publish
    * (or re-sync) a `_delta_log` NEXT TO the existing manifest, whose
    * add actions reference the manifest snapshot's live parquet files
    * verbatim — zero data movement, the CONVERT TO DELTA shape. At
    * 100 TB this is the only conversion that makes sense: both formats
    * store plain parquet, so interop is a log translation, not a
    * rewrite. Re-running after manifest commits diffs the two live
    * sets (adds for new files, removes for gone ones), keeping the
    * Delta mirror current.
    *
    * Files carrying deletion vectors refuse by name (a Delta reader
    * would resurrect the deleted rows): run
    * `REORG TABLE … APPLY (PURGE)` first. Partition columns derive
    * from the manifest's Hive path segments — present in the recorded
    * schema, absent from the data files, exactly Delta's convention. */
  def exportFromManifest(spark: SparkSession, table: String): Long = {
    val snap = ManifestLake.snapshot(spark, table)
    snap.entries.find(_.dv.nonEmpty).foreach(e =>
      throw new UnsupportedDeltaFeatureException(
        s"file ${e.path} carries a deletion vector — run REORG TABLE " +
          "… APPLY (PURGE) before exporting to Delta, or the mirror " +
          "would resurrect its deleted rows"))
    val schema = snap.schema.getOrElse(ManifestLake.read(spark, table).schema)
    val partCols = orderedPartKeys(
      snap.entries.headOption.map(_.path).getOrElse(""))
    snap.entries.foreach(e =>
      require(orderedPartKeys(e.path) == partCols,
        s"mixed partition layouts in $table cannot export: ${e.path} " +
          s"vs [${partCols.mkString(", ")}]"))
    val root = new Path(table)
    val fs = hadoopFs(spark, root)
    val logDir = new Path(root, "_delta_log")
    val prior =
      if (fs.exists(logDir) && fs.listStatus(logDir).exists(s =>
        JsonRe.pattern.matcher(s.getPath.getName).matches()))
        Some(state(spark, table, None))
      else None
    // re-exporting over an existing mirror removes stale paths —
    // gate it like any other data-removing commit (the mirror's rows
    // already passed the MANIFEST's own constraints at lake-write)
    prior.foreach(p => DeltaWriteGate.requireWritable(p, table,
      "CONVERT", removesData = true, addsData = true))
    val priorPaths = prior.map(_.files.map(_.path).toSet).getOrElse(Set.empty)
    val livePaths = snap.entries.map(_.path).toSet
    val now = System.currentTimeMillis()
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    lines += s"""{"commitInfo":{"timestamp":$now,"operation":${
      jstr("CONVERT")},"operationParameters":{},"engineInfo":${
      jstr("graft")}}}"""
    if (prior.isEmpty) {
      lines += """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""
      lines += metaDataJson(schema, partCols, now)
    } else if (prior.exists(p => p.schema.json != schema.json ||
      p.partitionColumns != partCols))
      lines += metaDataJson(schema, partCols, now)
    (priorPaths -- livePaths).toSeq.sorted.foreach { p =>
      lines += s"""{"remove":{"path":${jstr(urlEncode(p))},""" +
        s""""deletionTimestamp":$now,"dataChange":true}}"""
    }
    snap.entries.filterNot(e => priorPaths(e.path))
      .sortBy(_.path).foreach { e =>
        val pv = ManifestLake.partitionValues(e.path)
        val pvJson = partCols.map { c =>
          pv.get(c) match {
            case Some("__HIVE_DEFAULT_PARTITION__") | None =>
              s"${jstr(c)}:null"
            case Some(v) => s"${jstr(c)}:${jstr(urlDecode(v))}"
          }
        }.mkString("{", ",", "}")
        val size = e.bytes.getOrElse(
          fs.getFileStatus(new Path(root, e.path)).getLen)
        lines += s"""{"add":{"path":${jstr(urlEncode(e.path))},""" +
          s""""partitionValues":$pvJson,"size":$size,""" +
          s""""modificationTime":$now,"dataChange":true}}"""
      }
    publishCommit(fs, logDir, prior.map(_.version + 1).getOrElse(0L),
      lines.toSeq, prior.map(_.configuration).getOrElse(Map.empty))
  }

  /** Metadata-only Delta → manifest-lake conversion, in place: register
    * the Delta table's live files as a manifest version next to the
    * `_delta_log` — after which the full native surface (DML, stats,
    * blooms, CDF, z-order, generated partitioning...) applies without
    * rewriting a byte. Requires the physical layout delta-spark
    * produces anyway: Hive-style partition directories that AGREE with
    * each add action's partitionValues (the manifest derives partition
    * semantics from paths) — a mismatch refuses by name rather than
    * silently mis-partitioning. */
  def importToManifest(spark: SparkSession, table: String): Long = {
    val st = state(spark, table, None)
    require(st.files.forall(_.dv.isEmpty),
      s"table $table holds deletion-vector files — a metadata-only " +
        "import would register the data files WITHOUT their deletes " +
        "and resurrect deleted rows; purge the vectors first " +
        "(purgeDeletionVectors)")
    require(st.columnMappingMode == "none",
      s"table $table uses column mapping — the manifest would serve " +
        "physical column names; reads only")
    st.files.foreach { f =>
      val fromPath = hivePartitionValues(f.path)
        .map { case (k, v) => k -> v }
      val fromLog = st.partitionColumns.map(c =>
        c -> f.partitionValues.get(c).flatten).toMap
      require(fromPath == fromLog,
        s"file ${f.path}: Hive path segments $fromPath disagree with " +
          s"the log's partitionValues $fromLog — the manifest derives " +
          "partition semantics from paths; re-layout before importing")
    }
    val root = new Path(table)
    val fs = hadoopFs(spark, root)
    val entries = st.files.sortBy(_.path).map(f =>
      ManifestLake.FileEntry(f.path, bytes = Some(f.size)))
    ManifestLake.commitLog(fs, root, full = true,
      adds = entries.map(_.line), removes = Nil,
      prev = ManifestLake.currentVersion(spark, table),
      schema = Some(st.schema))
  }

  /** Ordered Hive partition keys of a relative path (segment order is
    * the partition column order). */
  private def orderedPartKeys(rel: String): Seq[String] =
    rel.split('/').init.toSeq.collect {
      case seg if seg.contains('=') => seg.split("=", 2)(0)
    }

  /** Monotonic in-commit timestamp for the next commit when the table
    * enables `inCommitTimestamps` (Delta 3.3+): at least wall clock,
    * strictly after the previous commit's own ICT (read from its
    * FIRST line — the feature requires commitInfo first). A
    * checkpoint-truncated predecessor falls back to the wall clock —
    * still monotonic, since ICTs never run ahead of it by contract. */
  private def nextIct(fs: FileSystem, logDir: Path,
                      version: Long): Long = {
    import org.json4s._
    def ictOf(v: Long): Option[Long] = {
      val p = new Path(logDir, f"$v%020d.json")
      if (!fs.exists(p)) None
      else {
        val in = new java.io.BufferedReader(
          new java.io.InputStreamReader(fs.open(p),
            StandardCharsets.UTF_8))
        val first = try in.readLine() finally in.close()
        scala.util.Try(org.json4s.jackson.JsonMethods.parse(first))
          .toOption.map(j => j \ "commitInfo" \ "inCommitTimestamp")
          .collect { case JInt(t) => t.toLong; case JLong(t) => t }
      }
    }
    // a checkpoint-truncated predecessor falls back to the NEWEST
    // retained commit's ICT — a lower bound on the truncated one, so
    // the emitted timestamp stays ≥ every retained ICT even when a
    // burst ran the clock ahead of wall time (the exact predecessor
    // bound needs its JSON; retention on ICT tables should keep it)
    val prevIct: Long =
      if (version == 0) Long.MinValue
      else ictOf(version - 1).orElse {
        // one listing, newest retained commit below `version`
        fs.listStatus(logDir).iterator.map(_.getPath.getName)
          .collect { case JsonRe(v) => v.toLong }
          .filter(_ < version).maxOption.flatMap(ictOf)
      }.getOrElse(Long.MinValue)
    math.max(System.currentTimeMillis(), prevIct + 1)
  }

  private def publishCommit(fs: FileSystem, logDir: Path, version: Long,
                            lines0: Seq[String],
                            config: Map[String, String] =
                              Map.empty): Long = {
    // inCommitTimestamps: the commit's own monotonic clock lands in
    // commitInfo (first action) — a spec-compliant reader of an
    // ICT-enabled table resolves TIMESTAMP AS OF through it, so a
    // commit WITHOUT the field would silently break such readers
    val lines =
      if (!config.get("delta.enableInCommitTimestamps").contains("true"))
        lines0
      else {
        val ict = nextIct(fs, logDir, version)
        lines0.zipWithIndex.map {
          case (l, 0) if l.startsWith("""{"commitInfo":{""") =>
            s"""{"commitInfo":{"inCommitTimestamp":$ict,""" +
              l.stripPrefix("""{"commitInfo":{""")
          case (l, _) => l
        }
      }
    fs.mkdirs(logDir)
    val commit = new Path(logDir, f"$version%020d.json")
    val tmp = new Path(logDir, f".$version%020d.json.${
      java.util.UUID.randomUUID()}.tmp")
    val out = fs.create(tmp, false)
    try out.write(lines.mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
    commitRaceHook.getAndSet(() => ()).apply()
    // exists()+rename is check-then-act: on POSIX filesystems Hadoop's
    // rename silently REPLACES the destination, so two racing
    // committers could both "win" the version and one commit would
    // vanish — publish through the lake's atomic create-if-absent
    // primitive (hard-link on file:, fail-on-exists rename on HDFS)
    val published = ManifestLake.RenameCommit.publish(fs, tmp, commit)
    if (!published) {
      fs.delete(tmp, false)
      throw new ConcurrentDeltaCommitException(
        s"version $version was committed concurrently — re-read and retry")
    }
    // UniForm-style auto-mirror: a committed configuration carrying
    // delta.universalFormat.enabledFormats=iceberg re-syncs the
    // Iceberg mirror from ANY writer session — enablement rides the
    // TABLE PROPERTY, not process state, so a fresh JVM's append
    // keeps the mirror current without re-enabling. The action parse
    // is paid only by enabled tables (one Map lookup otherwise).
    val table = logDir.getParent.toString
    if (UniForm.mirrorEnabled(config, table)) {
      val acts = parseActionLines(lines.mkString("\n"), commit)
      UniForm.afterDeltaCommit(None, table, UniForm.CommitSummary(
        version,
        adds = acts.collect { case AddAction(a) =>
          UniForm.CommitAdd(a.path, a.size, numRecordsOf(a),
            a.dv.nonEmpty)
        },
        removes = acts.collect { case RemoveAction(p, _) => p },
        metaSchemaJson = acts.collectFirst {
          case m: MetaAction => m.schema.json
        },
        metaPartCols = acts.collectFirst {
          case m: MetaAction => m.partitionColumns
        }))
    }
    version
  }

  // checkpoint action rows (object-level so Spark can derive encoders)
  private[sources] final case class CkProtocol(minReaderVersion: Int,
                                      minWriterVersion: Int,
                                      readerFeatures: Option[Seq[String]] =
                                        None,
                                      writerFeatures: Option[Seq[String]] =
                                        None)
  private[sources] final case class CkFormat(provider: String,
                                    options: Map[String, String])
  private[sources] final case class CkMeta(id: String, format: CkFormat,
                                  schemaString: String,
                                  partitionColumns: Seq[String],
                                  configuration: Map[String, String],
                                  createdTime: Long)
  private[sources] final case class CkDv(storageType: String,
                                 pathOrInlineDv: String, offset: Long,
                                 sizeInBytes: Int, cardinality: Long)
  private[sources] final case class CkAdd(path: String,
                                 partitionValues: Map[String, String],
                                 size: Long, modificationTime: Long,
                                 dataChange: Boolean,
                                 stats: Option[String] = None,
                                 deletionVector: Option[CkDv] = None,
                                 baseRowId: Option[Long] = None,
                                 defaultRowCommitVersion: Option[Long] =
                                   None)
  private[sources] final case class CkTxn(appId: String, version: Long,
                                 lastUpdated: Option[Long] = None)
  private[sources] final case class CkDomain(domain: String,
                                 configuration: String,
                                 removed: Boolean = false)
  private[sources] final case class CkRow(protocol: Option[CkProtocol],
                                 metaData: Option[CkMeta],
                                 add: Option[CkAdd],
                                 txn: Option[CkTxn] = None,
                                 domainMetadata: Option[CkDomain] = None)
  // v2-checkpoint action rows: the top-level file's shape (no adds —
  // those live in sidecars) and the sidecar files' (adds only)
  private[sources] final case class CkCheckpointMeta(version: Long)
  private[sources] final case class CkSidecarRef(path: String,
                                 sizeInBytes: Long,
                                 modificationTime: Long)
  private[sources] final case class CkV2Row(
      checkpointMetadata: Option[CkCheckpointMeta] = None,
      protocol: Option[CkProtocol] = None,
      metaData: Option[CkMeta] = None,
      txn: Option[CkTxn] = None,
      sidecar: Option[CkSidecarRef] = None,
      domainMetadata: Option[CkDomain] = None)
  private[sources] final case class CkSideRow(add: Option[CkAdd])

  // ------------------------------------------------------------- helpers

  /** Lenient numeric/boolean accessors over schemaString field
    * metadata — foreign writers serialize the identity keys as JSON
    * numbers/booleans, but strings have been seen in the wild. */
  private def metaLong(m: Metadata, key: String): Option[Long] =
    if (!m.contains(key)) None
    else scala.util.Try(m.getLong(key)).toOption
      .orElse(scala.util.Try(m.getDouble(key).toLong).toOption)
      .orElse(scala.util.Try(m.getString(key).trim.toLong).toOption)

  private def metaBool(m: Metadata, key: String): Option[Boolean] =
    if (!m.contains(key)) None
    else scala.util.Try(m.getBoolean(key)).toOption
      .orElse(scala.util.Try(
        m.getString(key).trim.toBoolean).toOption)

  /** One IDENTITY column's recorded contract:
    * (name, start, step, allowExplicitInsert, highWaterMark). */
  private def identityOf(f: StructField)
      : Option[(String, Long, Long, Boolean, Option[Long])] =
    if (!f.metadata.contains("delta.identity.start") &&
      !f.metadata.contains("delta.identity.step")) None
    else Some((f.name,
      metaLong(f.metadata, "delta.identity.start").getOrElse(1L),
      metaLong(f.metadata, "delta.identity.step").getOrElse(1L),
      metaBool(f.metadata, "delta.identity.allowExplicitInsert")
        .getOrElse(false),
      metaLong(f.metadata, "delta.identity.highWaterMark")))

  /** The recorded schema with identity high-water marks advanced —
    * what an identity-advancing commit's metaData republish
    * serializes. */
  private def withIdentityHwm(schema: StructType,
                              hwms: Map[String, Long]): StructType =
    if (hwms.isEmpty) schema
    else StructType(schema.fields.map(f => hwms.get(f.name) match {
      case Some(h) => f.copy(metadata =
        new MetadataBuilder().withMetadata(f.metadata)
          .putLong("delta.identity.highWaterMark", h).build())
      case None => f
    }))

  private def metaDataJson(schema: StructType, partitionBy: Seq[String],
                           now: Long,
                           configuration: Map[String, String] = Map.empty,
                           id: Option[String] = None): String = {
    val parts = partitionBy.map(jstr).mkString("[", ",", "]")
    val config = configuration.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }
      .mkString("{", ",", "}")
    // the id is the table's STABLE identity — a republish (schema
    // change, property change) carries the prior one so a foreign
    // client holding the table open does not see a table replacement
    s"""{"metaData":{"id":${jstr(
      id.getOrElse(java.util.UUID.randomUUID().toString))},""" +
      s""""format":{"provider":"parquet","options":{}},""" +
      s""""schemaString":${jstr(schema.json)},""" +
      s""""partitionColumns":$parts,"configuration":$config,""" +
      s""""createdTime":$now}}"""
  }

  private def listParquet(fs: FileSystem, dir: Path): Seq[Path] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Path]
    val it = fs.listFiles(dir, true)
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) out += f.getPath
    }
    out.toSeq
  }

  private def relativize(base: Path, p: Path): String = {
    val b = base.toUri.getPath.stripSuffix("/") + "/"
    val full = p.toUri.getPath
    require(full.startsWith(b), s"$p is not under $base")
    full.stripPrefix(b)
  }

  /** Hive-style `k=v` path segments → partition values (URL-decoded;
    * the writer-side twin of the values the reader takes from the log). */
  private def hivePartitionValues(rel: String): Map[String, Option[String]] =
    rel.split('/').init.collect {
      case seg if seg.contains('=') =>
        val Array(k, v) = seg.split("=", 2)
        k -> (if (v == "__HIVE_DEFAULT_PARTITION__") None
              else Some(urlDecode(v)))
    }.toMap

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def urlDecode(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")

  private def urlEncode(s: String): String =
    s.split('/').map(seg =>
      java.net.URLEncoder.encode(seg, "UTF-8").replace("+", "%20"))
      .mkString("/")
}
