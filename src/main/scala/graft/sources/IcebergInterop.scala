package graft.sources

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import org.apache.avro.file.{DataFileStream, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession, functions}
import org.apache.spark.sql.types._

/** Apache Iceberg TABLE-FORMAT interop, pure Spark — no iceberg jar
  * (the image ships none; plain `avro` is enough, because Iceberg's
  * avro files are SELF-DESCRIBING and a `GenericDatumReader` reads
  * them without compiled schemas).
  *
  * The Iceberg spec (iceberg.apache.org/spec) under a Hadoop catalog:
  * `metadata/v<N>.metadata.json` (named by `version-hint.text`) names
  * the current snapshot; the snapshot names a MANIFEST LIST (avro);
  * each manifest-list row names a MANIFEST (avro) of data-file entries
  * (status added/existing/deleted, file path, format, counts). Unlike
  * Delta/Hive, Iceberg data files carry ALL columns — partition
  * transforms are a pruning concern, not a reconstruction one — so a
  * read is: replay metadata → live file set → one parquet scan under
  * the converted schema.
  *
  *   - [[read]] / [[readSnapshot]] serve the table at the current (or
  *     a named) snapshot — including BOTH v2 merge-on-read delete
  *     kinds: POSITION deletes anti-join `(file_path, pos)` rows
  *     against the scan's `_metadata` file/row-index columns (the
  *     same per-file-position machinery the native lake's deletion
  *     vectors use), and EQUALITY deletes apply sequence-number-aware
  *     (a delete row kills matching rows only in data files with a
  *     strictly smaller data sequence number, so re-inserts after the
  *     delete survive — the spec's ordering). Anything this reader
  *     cannot serve CORRECTLY refuses by name
  *     ([[UnsupportedIcebergFeatureException]]): non-parquet data
  *     files, nested/dropped-column equality keys, type promotion
  *     across schema evolution. Column resolution is BY FIELD ID on
  *     evolved tables (each file resolves against the schema its
  *     adding snapshot recorded, falling back to its own footer ids,
  *     then to name mapping) — renames serve old files under their
  *     physical names, added columns null-fill, and a drop+re-add
  *     never resurfaces dropped values. [[renameColumn]] /
  *     [[addColumn]] / [[dropColumn]] are the metadata-only evolution
  *     commits.
  *   - [[readWhere]] is the pruned read: manifest partition tuples ×
  *     the table's declared transforms decide which data files can
  *     hold a match, fail-open, with the exact predicate applied to
  *     the survivors.
  *   - [[write]] produces a conformant v1 Hadoop-catalog table:
  *     staged parquet + a manifest avro + a manifest list avro + the
  *     next `v<N>.metadata.json`, published via the same
  *     rename-if-absent optimistic protocol the Hadoop catalog uses
  *     (`version-hint.text` updated after). Appends reference prior
  *     manifests verbatim — O(new files) metadata per commit. A
  *     `partitionBy` spec writes real partition tuples (one write job,
  *     synthetic tuple columns), and spec CHANGES append under a fresh
  *     spec id — an id already referenced by older manifests is never
  *     redefined.
  *   - [[importToManifest]] / [[exportFromManifest]] are the
  *     metadata-only migrations, both directions zero-rewrite: import
  *     registers the live files as a [[ManifestLake]] version in place
  *     (they already hold every column), unlocking the native surface;
  *     export publishes/re-syncs an Iceberg mirror referencing the
  *     manifest's live files verbatim.
  */
object IcebergInterop {

  final class UnsupportedIcebergFeatureException(msg: String)
    extends RuntimeException(msg)

  final class ConcurrentIcebergCommitException(msg: String)
    extends RuntimeException(msg)

  /** Test seam: runs between a snapshot's version choice and its
    * metadata publication — lets a spec interleave a racing commit
    * deterministically (the DeltaInterop.commitRaceHook pattern). */
  private[sources] val commitRaceHook =
    new java.util.concurrent.atomic.AtomicReference[() => Unit](() => ())

  /** Bounded blind-append retries after a lost version race — the
    * ManifestLake `MaxCommitRebases` discipline. */
  private val MaxCommitRetries = 10

  /** One live data file (absolute URI, per the spec) with its recorded
    * row count. `seq` is the v2 DATA SEQUENCE NUMBER (entry-level, or
    * inherited from the manifest-list row; 0 on v1 tables) — the
    * ordering equality deletes resolve against. `specId` names the
    * partition spec the entry was written under and `partition` its
    * recorded partition tuple (spec-field name → raw avro value;
    * empty on unpartitioned specs or manifests that omit the field);
    * `lower`/`upper` are the entry's recorded per-column value bounds
    * (decoded from the spec's single-value binary serialization,
    * column name keyed; truncated string bounds stay sound — the spec
    * truncates lower bounds down and upper bounds up). Partition
    * tuples and bounds are the two evidence sources [[readWhere]]
    * prunes on. `firstRowId` is the file's v3 ROW-LINEAGE origin —
    * explicit when the manifest records `first_row_id` (field 142),
    * otherwise assigned by the spec's inheritance walk (manifest
    * `first_row_id`, or the adding snapshot's `first-row-id`, plus
    * the record counts of preceding null-id data files); None on
    * pre-v3 tables or when no inheritance source resolves. */
  final case class IceFile(path: String, records: Long, bytes: Long,
                           seq: Long = 0L, specId: Int = 0,
                           partition: Map[String, AnyRef] = Map.empty,
                           lower: Map[String, Either[Long, String]] =
                             Map.empty,
                           upper: Map[String, Either[Long, String]] =
                             Map.empty,
                           snapId: Long = -1L,
                           manifest: String = "",
                           fileSeq: Long = -1L,
                           format: String = "parquet",
                           firstRowId: Option[Long] = None,
                           lineageUnresolved: Boolean = false,
                           sortOrderId: Option[Int] = None)

  /** One field of a table sort order (spec §Sorting): the source
    * column (resolved to its top-level name), sort direction and
    * null placement. Non-identity transforms are carried by name so
    * the write path can tell "honorable" orders (all identity) from
    * ones it must not pretend to satisfy. */
  final case class IceSortField(source: String, asc: Boolean,
                                nullsFirst: Boolean,
                                transform: String = "identity")

  /** The table's schema-evolution evidence, resolved once per
    * [[state]] call: every schema the metadata retains as ordered
    * `(fieldId, name, type)` triples, which schema each snapshot wrote
    * under, and the EFFECTIVE schema's id/field-id map. Field ids are
    * Iceberg's column identity — a rename keeps the id, a drop+re-add
    * takes a fresh one — so [[toDF]] resolves every data file's
    * columns by ID against the schema it was written under (null-fill
    * for columns the file predates, old physical names for renamed
    * columns), exactly the spec's projection rule. */
  final case class SchemaEvolution(
      currentSchemaId: Long = 0L,
      lastColumnId: Long = 0L,
      fieldIds: Map[String, Long] = Map.empty,
      schemaFields: Map[Long, Seq[(Long, String, DataType)]] = Map.empty,
      snapshotSchemaIds: Map[Long, Long] = Map.empty,
      // v3 COLUMN DEFAULTS (spec: `initial-default` is the value every
      // row written BEFORE the field existed must serve — decoded here
      // to a Spark-literal-ready value, keyed by field id; serving
      // NULL instead would be silently wrong). `writeDefaults` maps
      // current-schema field names to their raw `write-default` JSON —
      // [[write]] APPLIES the default when an append omits the column
      // (decode failure refuses by name where it surfaces).
      initialDefaults: Map[Long, Any] = Map.empty,
      writeDefaults: Map[String, org.json4s.JValue] = Map.empty) {
    /** True when any two retained schemas disagree on (id, name,
      * type) — the only case where per-file resolution is needed. */
    def evolved: Boolean =
      schemaFields.values.map(_.toSet).toSet.size > 1
  }

  /** One field of a partition spec: `transform(source) AS name`, with
    * `source` already resolved from the spec's `source-id` to a
    * top-level column name (spec fields whose source id is nested or
    * dropped are omitted — pruning on them fails open). */
  final case class SpecField(name: String, transform: String,
                             source: String)

  // pruning predicates: the shared [[ScanPredicate]] ADT (ScanEq /
  // ScanBetween), spoken by this module's readWhere and Delta's

  /** One v2 EQUALITY-DELETE file: rows carry values for `cols` (the
    * schema names the file's `equality_ids` resolve to), deleting any
    * matching row in data files with a STRICTLY SMALLER sequence
    * number. */
  final case class EqDelete(path: String, seq: Long, cols: Seq[String])

  /** One Iceberg v3 DELETION VECTOR: a Puffin `deletion-vector-v1`
    * blob killing positions of exactly one data file
    * (`referenced_data_file`), addressed by byte range — the v3
    * replacement for position-delete parquet. */
  final case class IceDvDelete(referenced: String, path: String,
                               offset: Long, size: Long,
                               records: Long = 0L)

  /** `posDeletes` are v2 POSITION-DELETE parquet files (rows of
    * `(file_path, pos)`) the read must kill per file, and
    * `posDeleteRefs` maps those that reference exactly one data file to
    * its path; `dvDeletes` are
    * v3 deletion vectors (Puffin blobs, one per referenced data
    * file); `eqDeletes` are value-keyed and sequence-ordered. `table`
    * is the path the state was resolved from (what read plans name). */
  final case class IceState(metadataVersion: Long, snapshotId: Long,
                            schema: StructType, files: Seq[IceFile],
                            posDeletes: Seq[String] = Nil,
                            eqDeletes: Seq[EqDelete] = Nil,
                            specs: Map[Int, Seq[SpecField]] = Map.empty,
                            defaultSpecId: Int = 0,
                            evo: SchemaEvolution = SchemaEvolution(),
                            formatVersion: Int = 1,
                            dvDeletes: Seq[IceDvDelete] = Nil,
                            defaultSortOrderId: Int = 0,
                            sortFields: Seq[IceSortField] = Nil,
                            posDeleteRefs: Map[String, String] = Map.empty,
                            table: String)

  private def hadoopFs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  private def jLong(v: org.json4s.JValue): Long = {
    import org.json4s._
    v match {
      case JInt(i) => i.toLong
      case JLong(l) => l
      case _ => -1L
    }
  }

  // ---------------------------------------------------------------- read

  def read(spark: SparkSession, table: String): DataFrame = {
    // WAP sessions (`spark.wap.branch`) read their own branch when it
    // exists — Iceberg's audit pattern — and fall back to the head
    val wap = Option(spark.conf.get("spark.wap.branch", null))
      .filter(_.nonEmpty)
    wap.flatMap(b => refs(spark, table).get(b)) match {
      case Some((snapId, "branch")) =>
        toDF(spark, state(spark, table, Some(snapId)))
      case _ => toDF(spark, state(spark, table, None))
    }
  }

  /** Time travel to a named snapshot id. */
  def readSnapshot(spark: SparkSession, table: String,
                   snapshotId: Long): DataFrame =
    toDF(spark, state(spark, table, Some(snapshotId)))

  /** `TIMESTAMP AS OF` resolution — the spec's rule: the snapshot
    * that was CURRENT at the instant, i.e. the latest snapshot-log
    * entry with `timestamp-ms` ≤ the asked time (the log is the
    * sequence of current snapshots over time, so rollbacks resolve
    * the way a reader at that instant saw the table). Falls back to
    * the snapshots list when the metadata carries no log. A timestamp
    * before the first retained entry refuses by name. */
  def snapshotAt(spark: SparkSession, table: String,
                 timestampMs: Long): Long = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val metaDir = new Path(table, "metadata")
    val fs = hadoopFs(spark, metaDir)
    val version = currentMetadataVersion(fs, table).getOrElse(
      throw new IllegalArgumentException(
        s"no v*.metadata.json under $table/metadata"))
    val metaJson = JsonMethods.parse(readText(fs,
      new Path(metaDir, s"v$version.metadata.json")))
    def entries(field: String): Seq[(Long, Long)] =
      (metaJson \ field) match {
        case JArray(xs) => xs.flatMap { e =>
          (jLong(e \ "timestamp-ms"), jLong(e \ "snapshot-id")) match {
            case (ts, id) if ts >= 0 && id >= 0 => Some(ts -> id)
            case _ => None
          }
        }
        case _ => Nil
      }
    val log = entries("snapshot-log") match {
      case Nil => entries("snapshots")
      case xs => xs
    }
    require(log.nonEmpty, s"no snapshots recorded for $table")
    val retained: Set[Long] = (metaJson \ "snapshots") match {
      case JArray(xs) => xs.map(s => jLong(s \ "snapshot-id")).toSet
      case _ => Set.empty
    }
    val eligible = log.sortBy(_._1).takeWhile(_._1 <= timestampMs)
      .filter(e => retained(e._2))
    require(eligible.nonEmpty,
      s"timestamp $timestampMs is before the first retained snapshot " +
        s"of $table (earliest is ${log.map(_._1).min}) — older history " +
        "has been expired")
    eligible.last._2
  }

  /** Time travel by TIMESTAMP — `TIMESTAMP AS OF`. */
  def readTimestamp(spark: SparkSession, table: String,
                    timestampMs: Long): DataFrame =
    readSnapshot(spark, table, snapshotAt(spark, table, timestampMs))

  /** PARTITION-PRUNED foreign-table read — the metadata path that
    * makes a 100 TB foreign Iceberg table queryable for a one-day /
    * one-bucket question: each manifest entry's recorded partition
    * tuple is tested against `preds` through the table's declared
    * transforms (spec Appendix B semantics — identity, bucket[N] via
    * murmur3_x86_32 of the single-value binary encoding, truncate[W],
    * year/month/day/hour), and a data file is dropped only when it
    * PROVABLY holds no matching row. Everything else fails OPEN:
    * unknown transforms, nested/dropped source columns, value shapes
    * this evaluator does not model all keep the file — and the full
    * predicate is then applied EXACTLY to the survivors, so the result
    * is always the same rows as `read(...).filter(...)`, scanned from
    * fewer files. Range predicates prune through monotone transforms
    * only (identity / truncate / the time transforms); bucket prunes
    * equality alone, by construction. Pruning is O(live files) over
    * metadata already resolved by [[state]] — no data file is opened
    * to decide. */
  def readWhere(spark: SparkSession, table: String,
                preds: Seq[ScanPredicate],
                snapshotId: Option[Long] = None): DataFrame =
    ScanPredicates.residual(readPruned(spark, table, preds, snapshotId),
      preds)

  /** The prune WITHOUT the residual — for callers that already hold
    * the full predicate in their plan (the SQL rule keeps the original
    * Filter above the swapped-in scan). Columns resolve
    * case-insensitively, matching SQL analysis. */
  def readPruned(spark: SparkSession, table: String,
                 preds: Seq[ScanPredicate],
                 snapshotId: Option[Long] = None): DataFrame = {
    val st = state(spark, table, snapshotId)
    def exact(c: String): String =
      st.schema.fieldNames.find(_.equalsIgnoreCase(c)).getOrElse(c)
    val resolved = preds.map {
      case ScanEq(c, v) => ScanEq(exact(c), v)
      case ScanBetween(c, lo, hi) => ScanBetween(exact(c), lo, hi)
    }
    val kept = st.files.filter(f =>
      !resolved.exists(p => filePrunes(f, st.specs, st.schema, p)))
    toDF(spark, st.copy(files = kept))
  }

  // ------------------------------------------------- partition pruning

  /** True when `f`'s recorded partition tuple OR column bounds PROVE
    * no row can match `pred`. Any missing piece — no spec field on
    * the predicate column, absent tuple value or bound, unmodeled
    * transform or value shape — returns false (keep the file). */
  private[sources] def filePrunes(f: IceFile,
      specs: Map[Int, Seq[SpecField]], schema: StructType,
      pred: ScanPredicate): Boolean = {
    import ScanPredicates.{canonicalValue, compareValues}
    val dt = schema.find(_.name == pred.column).map(_.dataType) match {
      case Some(t) => t
      case None => return false
    }
    // evidence 2: the entry's recorded min/max for the column — the
    // manifest-level analog of parquet footer skipping, no partition
    // layout required. One-sided bounds prune one-sidedly.
    def outsideBounds: Boolean = {
      val lb = f.lower.get(pred.column)
      val ub = f.upper.get(pred.column)
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
    if (outsideBounds) return true
    specs.getOrElse(f.specId, Nil).filter(_.source == pred.column)
      .exists { sf =>
        f.partition.get(sf.name) match {
          case None => false
          case Some(null) =>
            // a present-NULL tuple value under a null-preserving
            // transform means every row is null in the source column —
            // and neither `=` nor BETWEEN matches null
            nullPreserving(sf.transform)
          case Some(raw) =>
            (storedValue(raw), pred) match {
              case (Some(stored), ScanEq(_, v)) =>
                (for {
                  cv <- canonicalValue(dt, v)
                  out <- transformValue(sf.transform, cv, dt)
                  c <- compareValues(out, stored)
                } yield c != 0).getOrElse(false)
              case (Some(stored), ScanBetween(_, lo, hi))
                if monotoneTransform(sf.transform) =>
                (for {
                  cl <- canonicalValue(dt, lo)
                  ch <- canonicalValue(dt, hi)
                  tl <- transformValue(sf.transform, cl, dt)
                  th <- transformValue(sf.transform, ch, dt)
                  cLo <- compareValues(stored, tl)
                  cHi <- compareValues(stored, th)
                } yield cLo < 0 || cHi > 0).getOrElse(false)
              case _ => false
            }
        }
      }
  }

  /** Iceberg's transforms all map null to null; `void` maps EVERYTHING
    * to null, so a stored null under it says nothing about the rows. */
  private def nullPreserving(t: String): Boolean =
    t == "identity" || t.startsWith("bucket[") ||
      t.startsWith("truncate[") ||
      t == "year" || t == "month" || t == "day" || t == "hour"

  /** Transforms through which `lo <= x <= hi` implies
    * `t(lo) <= t(x) <= t(hi)` — what lets a range predicate prune.
    * (String truncation is code-point-prefix, monotone under UTF-8
    * byte order, which is how `ScanPredicates.compareValues`
    * compares.) */
  private def monotoneTransform(t: String): Boolean =
    t == "identity" || t.startsWith("truncate[") ||
      t == "year" || t == "month" || t == "day" || t == "hour"

  /** A recorded identity tuple value converted to the column's Spark
    * EXTERNAL type for the fill broadcast. Identity fill is a
    * correctness feature (migrated files omit the column), so an
    * unmodeled combination REFUSES by name — serving file nulls
    * instead would be silent data loss. */
  private def identityExternal(dt: DataType, raw: AnyRef): Any =
    (dt, raw) match {
      case (ByteType, n: Number) => n.byteValue
      case (ShortType, n: Number) => n.shortValue
      case (IntegerType, n: Number) => n.intValue
      case (LongType, n: Number) => n.longValue
      case (FloatType, n: Number) => n.floatValue
      case (DoubleType, n: Number) => n.doubleValue
      case (BooleanType, b: java.lang.Boolean) => b.booleanValue
      case (StringType, s) => s.toString
      case (DateType, n: Number) =>
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(n.longValue))
      case (TimestampType, n: Number) =>
        val us = n.longValue
        val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
        t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
        t
      case (TimestampNTZType, n: Number) =>
        java.time.LocalDateTime.ofEpochSecond(
          Math.floorDiv(n.longValue, 1000000L),
          (Math.floorMod(n.longValue, 1000000L) * 1000L).toInt,
          java.time.ZoneOffset.UTC)
      case (other, v) => throw new UnsupportedIcebergFeatureException(
        s"cannot reconstruct an identity-partitioned ${other.sql} " +
          s"column from recorded partition value $v " +
          s"(${v.getClass.getSimpleName}) — refusing rather than " +
          "serving the data file's (possibly absent) values")
    }

  /** A Hive partition-directory value parsed under the column's type
    * to the tuple's avro shape. Outer None = unparseable / unmodeled
    * type; inner None = the Hive null marker. Sessions are pinned UTC,
    * so timestamp directory values render and parse in UTC. */
  private def hivePathValue(dt: DataType,
                            raw: String): Option[Option[AnyRef]] = {
    if (raw == "__HIVE_DEFAULT_PARTITION__") return Some(None)
    val s = ScanPredicates.unescapePath(raw)
    try dt match {
      case ByteType | ShortType | IntegerType =>
        Some(Some(Integer.valueOf(s)))
      case LongType => Some(Some(java.lang.Long.valueOf(s)))
      case StringType => Some(Some(s))
      case DateType => Some(Some(
        Integer.valueOf(java.time.LocalDate.parse(s).toEpochDay.toInt)))
      case TimestampType | TimestampNTZType =>
        val l = java.time.LocalDateTime.parse(s,
          ScanPredicates.PartitionTsFmt)
        Some(Some(java.lang.Long.valueOf(Math.multiplyExact(
          l.toEpochSecond(java.time.ZoneOffset.UTC), 1000000L) +
          l.getNano / 1000)))
      case _ => None
    } catch {
      case _: IllegalArgumentException => None
      case _: java.time.format.DateTimeParseException => None
    }
  }

  /** A manifest partition-tuple value in the canonical compare shape.
    * Only exact integer and string physical types are modeled —
    * float/double/binary partition values fail open. */
  private def storedValue(raw: AnyRef): Option[Either[Long, String]] =
    raw match {
      case n: java.lang.Integer => Some(Left(n.longValue))
      case n: java.lang.Long => Some(Left(n.longValue))
      case s: CharSequence => Some(Right(s.toString))
      case _ => None
    }

  /** Spec Appendix B transform evaluation over the canonical value.
    * None = not modeled (pruning fails open). */
  private[sources] def transformValue(transform: String,
      value: Either[Long, String],
      dt: DataType): Option[Either[Long, String]] = {
    val Bucket = """bucket\[(\d+)\]""".r
    val Truncate = """truncate\[(\d+)\]""".r
    def timeUnits(unit: String, v: Long): Option[Long] = {
      // micros for timestamps, epoch days for dates
      val days = dt match {
        case TimestampType | TimestampNTZType =>
          Math.floorDiv(v, 86400000000L)
        case DateType => v
        case _ => return None
      }
      unit match {
        case "day" => Some(days)
        case "hour" => dt match {
          case TimestampType | TimestampNTZType =>
            Some(Math.floorDiv(v, 3600000000L))
          case _ => None // hour(date) is not a thing
        }
        case "month" =>
          val d = java.time.LocalDate.ofEpochDay(days)
          Some((d.getYear - 1970).toLong * 12 + (d.getMonthValue - 1))
        case "year" =>
          Some((java.time.LocalDate.ofEpochDay(days).getYear - 1970).toLong)
        case _ => None
      }
    }
    transform match {
      case "identity" => Some(value)
      case Bucket(n) =>
        val buckets = n.toInt
        if (buckets <= 0) None
        else {
          val hash = value match {
            // int/long/date/timestamp all hash as the 8-byte
            // little-endian long (spec: hashLong)
            case Left(l) =>
              val b = new Array[Byte](8)
              var i = 0
              while (i < 8) { b(i) = ((l >>> (8 * i)) & 0xff).toByte; i += 1 }
              murmur3x86(b)
            case Right(s) =>
              murmur3x86(s.getBytes(StandardCharsets.UTF_8))
          }
          Some(Left(((hash % buckets) + buckets) % buckets))
        }
      case Truncate(w) =>
        val width = w.toInt
        if (width <= 0) None
        else value match {
          case Left(l) => Some(Left(l - (((l % width) + width) % width)))
          case Right(s) => // first W CODE POINTS, per the spec
            val cps = s.codePointCount(0, s.length)
            Some(Right(if (cps <= width) s
            else s.substring(0, s.offsetByCodePoints(0, width))))
        }
      case "year" | "month" | "day" | "hour" =>
        value match {
          case Left(l) => timeUnits(transform, l).map(Left(_))
          case _ => None
        }
      case _ => None // void, unknown, future transforms: fail open
    }
  }

  /** murmur3_x86_32, seed 0 — the hash the spec's bucket transform
    * names. Pinned against the spec's Appendix B test vectors in
    * IcebergPruneSpec. */
  private[sources] def murmur3x86(bytes: Array[Byte]): Int = {
    val c1 = 0xcc9e2d51
    val c2 = 0x1b873593
    var h1 = 0
    val nblocks = bytes.length / 4
    var i = 0
    while (i < nblocks) {
      val base = i * 4
      var k1 = (bytes(base) & 0xff) | ((bytes(base + 1) & 0xff) << 8) |
        ((bytes(base + 2) & 0xff) << 16) | ((bytes(base + 3) & 0xff) << 24)
      k1 *= c1
      k1 = Integer.rotateLeft(k1, 15)
      k1 *= c2
      h1 ^= k1
      h1 = Integer.rotateLeft(h1, 13)
      h1 = h1 * 5 + 0xe6546b64
      i += 1
    }
    var k1 = 0
    val tail = nblocks * 4
    val rem = bytes.length & 3
    if (rem == 3) k1 ^= (bytes(tail + 2) & 0xff) << 16
    if (rem >= 2) k1 ^= (bytes(tail + 1) & 0xff) << 8
    if (rem >= 1) {
      k1 ^= bytes(tail) & 0xff
      k1 *= c1
      k1 = Integer.rotateLeft(k1, 15)
      k1 *= c2
      h1 ^= k1
    }
    h1 ^= bytes.length
    h1 ^= h1 >>> 16
    h1 *= 0x85ebca6b
    h1 ^= h1 >>> 13
    h1 *= 0xc2b2ae35
    h1 ^= h1 >>> 16
    h1
  }

  private[sources] def toDF(spark: SparkSession, st: IceState,
                            keepLineage: Boolean = false,
                            extraPhysical: Seq[StructField] = Nil)
      : DataFrame =
    if (st.files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], st.schema)
    else {
      // `extraPhysical` columns (the v3 materialized-lineage fields)
      // join the REQUESTED parquet schema on the metadata-keyed scan
      // only — files that never materialized them null-fill, and the
      // caller resolves the nulls by inheritance. Lineage callers
      // refuse non-parquet files before reaching here.
      require(extraPhysical.isEmpty || keepLineage,
        "extraPhysical columns ride the lineage-keyed scan")
      import org.apache.spark.sql.functions.{broadcast, col, lit, regexp_replace, when}
      def norm(c: org.apache.spark.sql.Column) =
        regexp_replace(c, "^[A-Za-z][A-Za-z0-9+.-]*:/+", "/")
      def normStr(s: String): String =
        s.replaceFirst("^[A-Za-z][A-Za-z0-9+.-]*:/+", "/")
      // `__fp` carries `_metadata.file_path`'s URI percent-escapes (a
      // space-valued partition dir arrives as `%20`) while manifests
      // and spec-compliant delete files record RAW paths — every map
      // joined against `__fp` keys BOTH forms ([[ForeignDv.forms]])
      def fpForms(p: String): Seq[String] = ForeignDv.forms(p)
      // ---- column resolution: BY FIELD ID when the table has evolved
      // schemas (rename keeps an id, drop+re-add takes a fresh one);
      // by name on the never-evolved fast path (zero per-file work).
      // A file's write-time schema resolves through the snapshot that
      // added it; files whose snapshot is no longer retained fall back
      // to the ids in their own parquet footer, and files carrying
      // neither read under the current names (the spec's name-mapping
      // fallback). Files sharing a projection scan together — group
      // count is O(distinct historical schemas), not O(files).
      val cur: Seq[(Long, String, DataType)] =
        st.evo.schemaFields.getOrElse(st.evo.currentSchemaId,
          st.schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
            (-(i + 1).toLong, f.name, f.dataType)
          })
      // identity = same physical name AND same type as the current
      // schema; a file holding a PROMOTED column (int→long) must go
      // through the grouped path even when names agree — the parquet
      // reader cannot serve int32 pages under a bigint read schema
      val identitySig: Seq[Option[(String, DataType)]] =
        cur.map(t => Some((t._2, t._3)))
      def mappingOf(f: IceFile): Option[Map[Long, (String, DataType)]] =
        st.evo.snapshotSchemaIds.get(f.snapId)
          .flatMap(sid => st.evo.schemaFields.get(sid))
          .map(_.map(t => t._1 -> (t._2, t._3)).toMap)
          .orElse(footerFieldIds(spark, f.path).map(m =>
            m.flatMap { case (id, phys) =>
              cur.find(_._1 == id).map(c => id -> (phys, c._3))
            }))
      // sig entries carry the FILE's write-time type; the projection
      // casts up to the current type where the spec allows promotion
      // (int→long, float→double, decimal precision-widen at equal
      // scale) and refuses everything else by name
      // ORC data files (the add_files migration shape) read BY NAME
      // under the current schema — such files carry no Iceberg field
      // ids, which is exactly the spec's name-mapping fallback; missing
      // columns (identity-partition sources) null-fill and the tuple
      // fill below restores them. Spark's `row_index` metadata column
      // is parquet-only, so row-level lineage and merge-on-read
      // deletes over ORC files refuse by name rather than serve a
      // silently-wrong kill join.
      val orcFiles = st.files.filter(_.format == "orc")
      // AVRO data files (the other add_files shape) serve by NAME too,
      // through the jar-less GenericDatumReader scan below — same
      // restrictions as ORC (no parquet row_index ⇒ no lineage, no
      // MOR application)
      val avroFiles = st.files.filter(_.format == "avro")
      if (orcFiles.nonEmpty || avroFiles.nonEmpty) {
        val ex = (orcFiles ++ avroFiles).head.path
        if (st.evo.initialDefaults.nonEmpty)
          throw new UnsupportedIcebergFeatureException(
            s"the schema declares initial-default column values but " +
              s"ORC/AVRO data files (e.g. $ex) read by NAME — this " +
              "reader cannot tell a genuinely null value from a " +
              "predates-the-column null there, and serving NULL " +
              "where the spec says serve the default is silently " +
              "wrong; rewrite those files to parquet first")
        if (keepLineage)
          throw new UnsupportedIcebergFeatureException(
            s"row-level lineage needs parquet row_index metadata — " +
              s"ORC/AVRO data files (e.g. $ex) serve " +
              "reads only; rewrite to parquet for DML")
        if (st.posDeletes.nonEmpty || st.eqDeletes.nonEmpty ||
          st.dvDeletes.nonEmpty)
          throw new UnsupportedIcebergFeatureException(
            s"merge-on-read deletes over ORC/AVRO data files — " +
              "position application needs parquet row_index " +
              "metadata; compact with the owning engine first")
      }
      val pqFiles = st.files.filterNot(f =>
        f.format == "orc" || f.format == "avro")
      // a default-bearing schema forces PER-FILE resolution even when
      // retained schemas agree (older schemas may have been expired):
      // the default must serve exactly for files that predate the
      // column, which only the per-file signature walk can tell
      val grouped: Option[Seq[(Seq[String], Seq[Option[(String, DataType)]])]] =
        if (!st.evo.evolved && st.evo.initialDefaults.isEmpty) None
        else {
          val perFile = pqFiles.map { f =>
            val sig = mappingOf(f) match {
              case Some(m) => cur.map { case (id, _, dt) =>
                m.get(id).map { case (phys, histDt) =>
                  if (histDt != dt && !legalPromotion(histDt, dt))
                    throw new UnsupportedIcebergFeatureException(
                      s"data file ${f.path} was written with field id " +
                        s"$id as ${histDt.sql} but the current schema " +
                        s"declares ${dt.sql} — not one of the spec's " +
                        "legal type promotions (int→long, " +
                        "float→double, decimal precision widening)")
                  (phys, histDt)
                }
              }
              case None =>
                // name-mapping fallback: the file carries neither a
                // resolvable snapshot schema nor footer field ids. On
                // a default-bearing schema that is unservable — this
                // reader cannot tell whether the file predates the
                // defaulted column (must serve the default) or holds
                // it (must serve stored values)
                if (st.evo.initialDefaults.nonEmpty)
                  throw new UnsupportedIcebergFeatureException(
                    s"data file ${f.path} resolves by name mapping " +
                      "only (no snapshot schema, no footer field ids) " +
                      "but the schema declares initial-default column " +
                      "values — cannot decide between the default and " +
                      "stored values; refusing rather than guess")
                cur.map(t => Some((t._2, t._3)))
            }
            f.path -> sig
          }
          if (perFile.forall(_._2 == identitySig)) None
          else Some(perFile.groupBy(_._2).toSeq.map { case (sig, fs0) =>
            (fs0.map(_._1), sig)
          })
        }
      def metaCols = Seq(
        norm(col("_metadata.file_path")).as("__fp"),
        col("_metadata.row_index").as("__pos"))
      def orcScan(withMeta: Boolean): Option[DataFrame] =
        if (orcFiles.isEmpty) None
        else {
          val base = spark.read.schema(st.schema)
            .orc(orcFiles.map(_.path): _*)
          Some(
            if (!withMeta) base
            else base.select(col("*") +:
              Seq(norm(col("_metadata.file_path")).as("__fp"),
                lit(null).cast("long").as("__pos")): _*))
        }
      def avroScanOpt(withMeta: Boolean): Option[DataFrame] =
        if (avroFiles.isEmpty) None
        else Some(avroDataScan(spark, avroFiles, st.schema, withMeta))
      def withOrc(pq: Option[DataFrame], withMeta: Boolean): DataFrame =
        (pq.toSeq ++ orcScan(withMeta).toSeq ++
          avroScanOpt(withMeta).toSeq).reduce(_ unionByName _)
      val (data, keyedScan) = grouped match {
        case None =>
          val d =
            if (pqFiles.isEmpty) None
            else Some(spark.read.schema(st.schema)
              .parquet(pqFiles.map(_.path): _*))
          // the keyed scan re-reads under the widened schema when
          // extra physical (lineage) columns are requested
          val dk =
            if (extraPhysical.isEmpty) d
            else if (pqFiles.isEmpty) None
            else Some(spark.read
              .schema(StructType(st.schema.fields ++ extraPhysical))
              .parquet(pqFiles.map(_.path): _*))
          (withOrc(d, withMeta = false),
            () => withOrc(dk.map(_.select(col("*") +: metaCols: _*)),
              withMeta = true))
        case Some(groups) =>
          def scan(paths: Seq[String],
                   sig: Seq[Option[(String, DataType)]],
                   withMeta: Boolean): DataFrame = {
            // read under the file's write-time types, cast up to the
            // current schema where they differ (legal promotions only
            // — checked at sig construction)
            val phys = StructType(sig.flatMap(_.map { case (p, dt) =>
              StructField(p, dt)
            }) ++ (if (withMeta) extraPhysical else Nil))
            val proj = cur.zip(sig).map {
              case ((_, name, cdt), Some((p, fdt))) =>
                (if (fdt == cdt) col(p) else col(p).cast(cdt)).as(name)
              case ((id, name, dt), None) =>
                // the file predates this column: serve the schema's
                // v3 initial-default when one is recorded (the spec's
                // rule), else null-fill as before
                st.evo.initialDefaults.get(id) match {
                  case Some(d) => lit(d).cast(dt).as(name)
                  case None => lit(null).cast(dt).as(name)
                }
            } ++ (if (withMeta) extraPhysical.map(f => col(f.name))
                  else Nil)
            val base = spark.read.schema(phys).parquet(paths: _*)
            val all = if (withMeta) proj ++ metaCols else proj
            base.select(all: _*)
          }
          (withOrc(groups.map { case (p, s) =>
            scan(p, s, withMeta = false) }.reduceOption(_ union _),
            withMeta = false),
            () => withOrc(groups.map { case (p, s) =>
              scan(p, s, withMeta = true) }.reduceOption(_ union _),
              withMeta = true))
      }
      // IDENTITY-partitioned columns: the recorded tuple value is
      // authoritative per spec — and the ONLY source of the column for
      // add_files-migrated data files that omit it (reading those
      // without the fill would serve silent nulls). Resolution is one
      // broadcast of (file → recorded identity values) joined on the
      // scan's metadata file path, then a per-column when() — a single
      // scan whatever the partition count, never a union per tuple.
      // The broadcast is O(live files), the metadata the driver
      // already holds.
      def recorded(f: IceFile): Seq[(String, Option[AnyRef])] =
        st.specs.getOrElse(f.specId, Nil)
          .filter(sf => sf.transform == "identity" &&
            st.schema.exists(_.name == sf.source))
          .flatMap(sf =>
            f.partition.get(sf.name).map(v => sf.source -> Option(v)))
      val identCols: Seq[String] =
        st.files.flatMap(f => recorded(f).map(_._1)).distinct
      if (st.posDeletes.isEmpty && st.eqDeletes.isEmpty &&
        st.dvDeletes.isEmpty && identCols.isEmpty)
        return (if (keepLineage) keyedScan() else data)
      // metadata-derived delete keys and the identity fill both resolve
      // against the SCAN — attach them once, before any join hides the
      // file source (on the grouped path, inside each branch, BEFORE
      // the union erases per-scan metadata columns)
      val keyed0 = keyedScan()
      val keyed =
        if (identCols.isEmpty) keyed0
        else {
          val fillSchema = StructType(
            StructField("__fp", StringType) +: identCols.flatMap(c =>
              Seq(StructField(s"__t_$c", st.schema(c).dataType),
                StructField(s"__th_$c", BooleanType, nullable = false))))
          val fillRows = st.files.flatMap { f =>
            val rec = recorded(f).toMap
            val tail = identCols.flatMap { c =>
              rec.get(c) match {
                case Some(vOpt) => Seq(vOpt
                  .map(identityExternal(st.schema(c).dataType, _)).orNull,
                  true)
                case None => Seq(null, false)
              }
            }
            fpForms(f.path).map(k => Row.fromSeq(k +: tail))
          }.distinctBy(_.getString(0))
          val fillDf = spark.createDataFrame(
            fillRows.asJava, fillSchema)
          val joined = keyed0.join(broadcast(fillDf), Seq("__fp"), "left")
          identCols.foldLeft(joined) { (acc, c) =>
            acc.withColumn(c,
              when(col(s"__th_$c"), col(s"__t_$c")).otherwise(col(c)))
          }.drop(identCols.flatMap(c => Seq(s"__t_$c", s"__th_$c")): _*)
        }
      if (st.posDeletes.isEmpty && st.eqDeletes.isEmpty &&
        st.dvDeletes.isEmpty)
        return (if (keepLineage) keyed else keyed.drop("__fp", "__pos"))
      // v2 merge-on-read, POSITION deletes: PER-FILE application
      // ([[RowLive]]) — the task scanning a data file probes
      // only its own kill set; each delete FILE decodes once per
      // executor into a (data file → bitmap) map under the shared
      // LRU cap. `_metadata.row_index` supplies the position; no
      // join, no Exchange (the prior whole-scan anti-join was the
      // 100× read ceiling on heavily-vectored tables). Position
      // deletes are path-keyed per spec, so no sequence comparison
      // is needed (a later re-insert is a new path).
      val posApplied =
        if (st.posDeletes.isEmpty && st.dvDeletes.isEmpty) keyed
        else {
          // v2 position-delete parquet that references one data file
          // is that file's own I-token (its first probe decodes only
          // its own delete files); delete files referencing several
          // data files share one I-token across the snapshot; a v3
          // deletion vector is its referenced file's own P-token —
          // all compose per file via the Multi separator
          val (scoped, shared) =
            st.posDeletes.partition(st.posDeleteRefs.contains)
          val sharedToken =
            if (shared.isEmpty) None
            else Some(ForeignDv.icebergToken(shared))
          val scopedByFile: Map[String, String] =
            scoped.groupBy(st.posDeleteRefs).toSeq.flatMap {
              case (data, dels) =>
                val tok = ForeignDv.icebergToken(dels)
                fpForms(data).map(_ -> tok)
            }.toMap
          val dvByFile: Map[String, String] =
            st.dvDeletes.flatMap(d => fpForms(d.referenced).map(_ ->
              ForeignDv.puffinToken(d.path, d.offset, d.size))).toMap
          val refs: Map[String, String] =
            st.files.flatMap { f =>
              fpForms(f.path).flatMap { k =>
                val toks = scopedByFile.get(k).toSeq ++ sharedToken.toSeq ++
                  dvByFile.get(k).toSeq
                // single-token values reuse one instance per token:
                // Java serialization back-references it, so the
                // broadcast costs O(files + delete paths), not
                // O(files × delete paths)
                if (toks.isEmpty) None
                else if (toks.size == 1) Some(k -> toks.head)
                else Some(k -> toks.mkString(ForeignDv.Multi))
              }
            }.toMap
          keyed.filter(DeletionVectors.livePredicate(spark, st.table, refs,
            col("__fp"), col("__pos")))
        }
      // EQUALITY deletes: a delete row kills every data row whose key
      // columns match (null-safe) in files with a STRICTLY SMALLER
      // data sequence number — the spec's ordering, which is what lets
      // a re-insert after the delete survive. Each row learns its
      // file's sequence number from a broadcast (path → seq) map; each
      // distinct key-column set applies as one anti-join, delete rows
      // carrying their file's sequence number as a literal.
      val eqApplied =
        if (st.eqDeletes.isEmpty) posApplied
        else {
          import spark.implicits._
          val fileSeq = broadcast(
            st.files.flatMap(f => fpForms(f.path).map(k => (k, f.seq)))
              .toDF("__fp", "__seq"))
          val withSeq = posApplied.join(fileSeq, Seq("__fp"))
          st.eqDeletes.groupBy(_.cols.sorted).values
            .foldLeft(withSeq) { (acc, dels) =>
              val cols = dels.head.cols
              val delRows = dels.map { d =>
                spark.read.parquet(d.path)
                  .select(cols.map(c => col(c).as(s"__d_$c")) :+
                    lit(d.seq).as("__dseq"): _*)
              }.reduce(_ unionByName _)
              val cond = cols.map(c => acc(c) <=> delRows(s"__d_$c"))
                .reduce(_ && _) && delRows("__dseq") > acc("__seq")
              acc.join(delRows, cond, "left_anti")
            }
            .drop("__seq")
        }
      if (keepLineage) eqApplied else eqApplied.drop("__fp", "__pos")
    }

  def state(spark: SparkSession, table: String,
            snapshotId: Option[Long]): IceState = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val metaDir = new Path(table, "metadata")
    val fs = hadoopFs(spark, metaDir)
    require(fs.exists(metaDir),
      s"not an Iceberg table: no metadata dir under $table")
    val version = currentMetadataVersion(fs, table).getOrElse(
      throw new IllegalArgumentException(
        s"no v*.metadata.json under $table/metadata"))
    val metaJson = JsonMethods.parse(readText(fs,
      new Path(metaDir, s"v$version.metadata.json")))
    val formatVersion = jLong(metaJson \ "format-version")
    // v3 is served READ-ONLY (deletion vectors; unknown v3 features
    // refuse where they surface) — the write paths refuse v3 by name
    // at publish time
    if (formatVersion > 3)
      throw new UnsupportedIcebergFeatureException(
        s"table $table is format-version $formatVersion — v1/v2 are " +
          "supported, v3 read-only")
    // every retained schema, keyed by schema-id — the "schemas" list,
    // with the legacy single "schema" field as a one-entry fallback
    val schemaNodes: Seq[(Long, JValue)] = (metaJson \ "schemas") match {
      case JArray(xs) if xs.nonEmpty =>
        xs.map(s => (jLong(s \ "schema-id") match {
          case -1L => 0L
          case id => id
        }) -> s)
      case _ => (metaJson \ "schema") match {
        case JNothing => Nil
        case s => Seq((jLong(s \ "schema-id") match {
          case -1L => 0L
          case id => id
        }) -> s)
      }
    }
    val curSchemaId = jLong(metaJson \ "current-schema-id") match {
      case -1L => schemaNodes.headOption.map(_._1).getOrElse(0L)
      case id => id
    }
    val snapshots = (metaJson \ "snapshots") match {
      case JArray(xs) => xs
      case _ => Nil
    }
    val snapshotSchemaIds: Map[Long, Long] = snapshots.flatMap { s =>
      (jLong(s \ "snapshot-id"), jLong(s \ "schema-id")) match {
        case (sid, schId) if sid >= 0 && schId >= 0 => Some(sid -> schId)
        case _ => None
      }
    }.toMap
    // v3 row lineage: each snapshot records where its row-id range
    // begins — the inheritance fallback for manifests that predate
    // explicit `first_row_id` stamping (graft's own pre-lineage v3
    // appends wrote exactly one data manifest per commit, so the
    // adding snapshot's origin IS the manifest's origin)
    val snapFirstRowId: Map[Long, Long] = snapshots.flatMap { s =>
      (jLong(s \ "snapshot-id"), jLong(s \ "first-row-id")) match {
        case (sid, frid) if sid >= 0 && frid >= 0 => Some(sid -> frid)
        case _ => None
      }
    }.toMap
    val snapId = snapshotId.getOrElse(jLong(metaJson \ "current-snapshot-id"))
    // the EFFECTIVE schema: an explicit time travel serves the schema
    // the snapshot was committed under (the spec's rule — a later
    // rename must not leak into a historical read); a current read
    // serves current-schema-id, which a metadata-only evolution can
    // advance past the current snapshot's recorded id
    val effSchemaId: Long = snapshotId
      .flatMap(id => snapshotSchemaIds.get(id))
      .filter(id => schemaNodes.exists(_._1 == id))
      .getOrElse(curSchemaId)
    val schemaJson = schemaNodes.find(_._1 == effSchemaId).map(_._2)
      .orElse(schemaNodes.headOption.map(_._2))
      .getOrElse(metaJson \ "schema")
    val schema = icebergSchemaToSpark(schemaJson, table)
    // v3 COLUMN DEFAULTS on the effective schema — initial-default
    // serves where added-column null-fill sat; write-default refuses
    // data-adding commits by name (pre-v3 metadata never carries
    // either, so this is free on v1/v2 tables)
    val (initialDefaults, writeDefaults) =
      schemaDefaults(schemaJson, schema, table)
    // (id, name, type) triples per retained schema — [[toDF]]'s
    // per-file projection evidence. Schemas that fail to convert
    // (e.g. a dropped type this reader never served) are omitted;
    // files resolving to them fall back to footer ids.
    val schemaFieldTriples: Map[Long, Seq[(Long, String, DataType)]] =
      schemaNodes.flatMap { case (sid, node) =>
        scala.util.Try {
          val st0 = icebergSchemaToSpark(node, table)
          val ids = (node \ "fields") match {
            case JArray(fs0) => fs0.map(f => jLong(f \ "id"))
            case _ => Nil
          }
          sid -> st0.fields.toSeq.zip(ids).collect {
            case (f, id) if id >= 0 => (id, f.name, f.dataType)
          }
        }.toOption
      }.toMap
    if (snapId == -1L) // no snapshot yet: an empty table
      return IceState(version, -1L, schema, Nil,
        evo = SchemaEvolution(effSchemaId,
          jLong(metaJson \ "last-column-id") max schema.length.toLong,
          schemaFieldTriples.getOrElse(effSchemaId, Nil)
            .map(t => t._2 -> t._1).toMap,
          schemaFieldTriples, snapshotSchemaIds,
          initialDefaults, writeDefaults),
        formatVersion = formatVersion.toInt, table = table)
    val snap = snapshots.find(s => jLong(s \ "snapshot-id") == snapId)
      .getOrElse(throw new IllegalArgumentException(
        s"snapshot $snapId not found in $table (have " +
          s"${snapshots.map(s => jLong(s \ "snapshot-id")).mkString(", ")})"))
    // pre-manifest-list layouts (ancient v1: the snapshot carries an
    // inline `manifests` path array) synthesize list rows — spec id 0
    // and this snapshot as the adder, exactly the defaults such
    // metadata predates
    val manifestListRows: Seq[GenericRecord] =
      (snap \ "manifest-list") match {
        case JString(p) => avroRows(fs, new Path(p))
        case _ => (snap \ "manifests") match {
          case JArray(ps) if ps.nonEmpty => ps.flatMap {
            case JString(mp) =>
              val r = new GenericData.Record(ManifestFileSchema)
              r.put("manifest_path", mp)
              r.put("manifest_length", 0L)
              r.put("partition_spec_id", 0)
              r.put("added_snapshot_id", snapId)
              Some(r)
            case _ => None
          }
          case _ => throw new UnsupportedIcebergFeatureException(
            s"snapshot $snapId of $table carries neither a " +
              "manifest-list nor an inline manifests array")
        }
      }
    // top-level field id → name, for equality_ids resolution
    val fieldIdToName: Map[Long, String] = (schemaJson \ "fields") match {
      case JArray(fs0) => fs0.flatMap { f =>
        ((f \ "id"), (f \ "name")) match {
          case (id, JString(n)) if jLong(id) >= 0 => Some(jLong(id) -> n)
          case _ => None
        }
      }.toMap
      case _ => Map.empty
    }
    // partition specs: `partition-specs` keyed by spec-id, with the
    // legacy flat `partition-spec` field as spec 0 fallback. Spec
    // fields whose source-id is not a top-level column drop here —
    // pruning on them fails open.
    def parseSpecFields(v: JValue): Seq[SpecField] = v match {
      case JArray(sfs) => sfs.flatMap { f =>
        ((f \ "name"), (f \ "transform"), jLong(f \ "source-id")) match {
          case (JString(n), JString(t), sid) if sid >= 0 =>
            fieldIdToName.get(sid).map(src => SpecField(n, t, src))
          case _ => None
        }
      }
      case _ => Nil
    }
    val specs: Map[Int, Seq[SpecField]] = {
      val multi = (metaJson \ "partition-specs") match {
        case JArray(xs) => xs.flatMap { sp =>
          jLong(sp \ "spec-id") match {
            case -1L => None
            case sid => Some(sid.toInt -> parseSpecFields(sp \ "fields"))
          }
        }.toMap
        case _ => Map.empty[Int, Seq[SpecField]]
      }
      if (multi.nonEmpty) multi
      else (metaJson \ "partition-spec") match {
        case arr @ JArray(_) => Map(0 -> parseSpecFields(arr))
        case _ => Map.empty
      }
    }
    val files = Seq.newBuilder[IceFile]
    val posDeletes = Seq.newBuilder[String]
    val posDeleteRefs = Map.newBuilder[String, String]
    val eqDeletes = Seq.newBuilder[EqDelete]
    val dvDeletes = Seq.newBuilder[IceDvDelete]
    // v3 manifest-level first_row_id inheritance (r16, the spec's
    // ORDER-BASED walk): a data manifest lacking the explicit field
    // takes the adding snapshot's `first-row-id` PLUS the added-rows
    // counts of that snapshot's PRECEDING null-id data manifests, in
    // manifest-list order — list order is assignment order (appends
    // prepend new manifests and carry prior rows verbatim, so a
    // snapshot's own manifests keep their relative order forever).
    // A preceding manifest with no usable added-rows count poisons
    // the snapshot's later manifests: their origins are unknowable,
    // and serving NULL lineage there would be silently wrong — the
    // lineage read refuses by name instead (plain reads unaffected).
    val inheritedFirstRowId = Map.newBuilder[String, Long]
    val poisonedManifests = Set.newBuilder[String]
    if (formatVersion >= 3) {
      val cursors = scala.collection.mutable.Map.empty[Long, Option[Long]]
      manifestListRows.foreach { mf =>
        val isData = fieldOpt(mf, "content")
          .map(_.asInstanceOf[Number].intValue).getOrElse(0) == 0
        if (isData && fieldOpt(mf, "first_row_id").isEmpty) {
          val snap = fieldOpt(mf, "added_snapshot_id")
            .map(_.asInstanceOf[Number].longValue).getOrElse(-1L)
          val mp = mf.get("manifest_path").toString
          snapFirstRowId.get(snap) match {
            case None => () // snapshot predates lineage: legit null
            case Some(base) =>
              cursors.getOrElseUpdate(snap, Some(base)) match {
                case Some(cur) =>
                  inheritedFirstRowId += mp -> cur
                  fieldOpt(mf, "added_rows_count")
                    .map(_.asInstanceOf[Number].longValue) match {
                    case Some(n) => cursors(snap) = Some(cur + n)
                    case None => cursors(snap) = None // poison the rest
                  }
                case None => poisonedManifests += mp
              }
          }
        }
      }
    }
    val manifestFirstRowId: Map[String, Long] = inheritedFirstRowId.result()
    val unresolvedManifests: Set[String] = poisonedManifests.result()
    manifestListRows.foreach { mf =>
      val content = fieldOpt(mf, "content")
        .map(_.asInstanceOf[Number].intValue).getOrElse(0)
      // manifest-list content: 0 = data manifest, 1 = DELETE manifest
      // (v2 merge-on-read); the manifest's sequence number is inherited
      // by entries that do not carry their own
      val mfSeq = fieldOpt(mf, "sequence_number")
        .map(_.asInstanceOf[Number].longValue).getOrElse(0L)
      val mfSpecId = fieldOpt(mf, "partition_spec_id")
        .map(_.asInstanceOf[Number].intValue).getOrElse(0)
      val mfAddedSnap = fieldOpt(mf, "added_snapshot_id")
        .map(_.asInstanceOf[Number].longValue).getOrElse(-1L)
      val mPath = mf.get("manifest_path").toString
      // v3 row-lineage inheritance cursor: data files that record no
      // explicit `first_row_id` take the manifest's origin (explicit
      // `first_row_id` list field, else the adding snapshot's
      // `first-row-id`) plus the record counts of the null-id data
      // files before them — the spec's assignment walk. Explicit
      // entries never consume the cursor.
      var rowIdCursor: Option[Long] =
        if (formatVersion < 3 || content != 0) None
        else fieldOpt(mf, "first_row_id")
          .map(_.asInstanceOf[Number].longValue)
          .orElse(manifestFirstRowId.get(mPath))
      val mfLineageUnresolved = unresolvedManifests.contains(mPath)
      avroRows(fs, new Path(mPath)).foreach { entry =>
        val status = entry.get("status").asInstanceOf[Number].intValue
        if (status != 2) { // 0 existing, 1 added — 2 deleted drops
          val entrySeq = fieldOpt(entry, "sequence_number")
            .orElse(fieldOpt(entry, "data_sequence_number"))
            .map(_.asInstanceOf[Number].longValue).getOrElse(mfSeq)
          // the snapshot that ADDED this entry (explicit, or inherited
          // from the manifest-list row) — the key [[toDF]] resolves the
          // file's write-time schema through
          val entrySnap = fieldOpt(entry, "snapshot_id")
            .map(_.asInstanceOf[Number].longValue).getOrElse(mfAddedSnap)
          val df = entry.get("data_file").asInstanceOf[GenericRecord]
          val fileContent = fieldOpt(df, "content")
            .map(_.asInstanceOf[Number].intValue).getOrElse(0)
          val fmt = df.get("file_format").toString
          // parquet everywhere; ORC and AVRO data files (the
          // add_files migration shapes) serve by-name; puffin
          // carries v3 DVs
          if (!fmt.equalsIgnoreCase("parquet") &&
            !(fileContent == 0 && (fmt.equalsIgnoreCase("orc") ||
              fmt.equalsIgnoreCase("avro"))) &&
            !(fileContent == 1 && fmt.equalsIgnoreCase("puffin")))
            throw new UnsupportedIcebergFeatureException(
              s"file format $fmt in $table — parquet data/delete " +
                "files, ORC/AVRO data files and puffin deletion " +
                "vectors are served")
          fileContent match {
            case 0 =>
              if (content != 0)
                throw new UnsupportedIcebergFeatureException(
                  s"table $table lists a data file (content=0) inside " +
                    "a DELETE manifest — malformed metadata; refusing " +
                    "rather than guessing which rows survive")
              val recs =
                df.get("record_count").asInstanceOf[Number].longValue
              // the inheritance cursor feeds ADDED entries only — an
              // EXISTING entry must record its origin explicitly (the
              // spec's carry rule); a null one has no lineage (it was
              // rewritten before the table tracked row ids)
              val frid: Option[Long] =
                fieldOpt(df, "first_row_id")
                  .map(_.asInstanceOf[Number].longValue)
                  .orElse {
                    if (status != 1) None
                    else {
                      val v = rowIdCursor
                      rowIdCursor = rowIdCursor.map(_ + recs)
                      v
                    }
                  }
              files += IceFile(df.get("file_path").toString, recs,
                df.get("file_size_in_bytes").asInstanceOf[Number].longValue,
                entrySeq, mfSpecId, entryPartition(df),
                entryBounds(df, "lower_bounds", fieldIdToName, schema),
                entryBounds(df, "upper_bounds", fieldIdToName, schema),
                snapId = entrySnap, manifest = mPath,
                fileSeq = fieldOpt(entry, "file_sequence_number")
                  .map(_.asInstanceOf[Number].longValue)
                  .getOrElse(entrySeq),
                format = fmt.toLowerCase(java.util.Locale.ROOT),
                firstRowId = if (formatVersion < 3) None else frid,
                lineageUnresolved = formatVersion >= 3 &&
                  mfLineageUnresolved && status == 1 &&
                  fieldOpt(df, "first_row_id").isEmpty,
                sortOrderId = fieldOpt(df, "sort_order_id")
                  .map(_.asInstanceOf[Number].intValue))
            case 1 if fmt.equalsIgnoreCase("puffin") =>
              // v3 DELETION VECTOR: one Puffin blob per referenced
              // data file, addressed by byte range — all three v3
              // fields are mandatory for this entry shape
              val referenced = fieldOpt(df, "referenced_data_file")
                .map(_.toString).getOrElse(
                  throw new UnsupportedIcebergFeatureException(
                    s"puffin deletion vector in $table lacks " +
                      "referenced_data_file — cannot resolve which " +
                      "data file it kills"))
              val off = fieldOpt(df, "content_offset")
                .map(_.asInstanceOf[Number].longValue)
              val len = fieldOpt(df, "content_size_in_bytes")
                .map(_.asInstanceOf[Number].longValue)
              if (off.isEmpty || len.isEmpty)
                throw new UnsupportedIcebergFeatureException(
                  s"puffin deletion vector in $table lacks " +
                    "content_offset/content_size_in_bytes — a whole-" +
                    "file Puffin read (footer resolution) is not " +
                    "supported; write blob-addressed entries")
              dvDeletes += IceDvDelete(referenced,
                df.get("file_path").toString, off.get, len.get,
                records = Option(df.get("record_count"))
                  .map(_.asInstanceOf[Number].longValue).getOrElse(0L))
            case 1 => // position deletes: (file_path, pos) rows
              val path = df.get("file_path").toString
              posDeletes += path
              // file-scoped: the entry names its one data file, or its
              // file_path column's lower and upper bounds are equal
              fieldOpt(df, "referenced_data_file").map(_.toString)
                .orElse {
                  def bound(f: String) = entryBounds(df, f,
                    Map(PosFilePathFieldId -> "file_path"),
                    StructType(Seq(StructField("file_path", StringType))))
                    .get("file_path")
                  (bound("lower_bounds"), bound("upper_bounds")) match {
                    case (Some(Right(lo)), Some(Right(hi))) if lo == hi =>
                      Some(lo)
                    case _ => None
                  }
                }.foreach(r => posDeleteRefs += path -> r)
            case 2 => // equality deletes: value rows + field-id key set
              val ids = fieldOpt(df, "equality_ids") match {
                case Some(xs: java.util.Collection[_]) =>
                  xs.asScala.toSeq.map(_.asInstanceOf[Number].longValue)
                case _ => Nil
              }
              if (ids.isEmpty)
                throw new UnsupportedIcebergFeatureException(
                  s"equality delete file in $table carries no " +
                    "equality_ids — cannot resolve its key columns")
              val cols = ids.map(id => fieldIdToName.getOrElse(id,
                throw new UnsupportedIcebergFeatureException(
                  s"equality delete in $table keys on field id $id, " +
                    "which is not a top-level column of the current " +
                    "schema — nested or dropped-column equality " +
                    "deletes are not supported")))
              eqDeletes += EqDelete(df.get("file_path").toString,
                entrySeq, cols)
            case other => throw new UnsupportedIcebergFeatureException(
              s"unknown delete-file content=$other in $table")
          }
        }
      }
    }
    // table sort orders (spec §Sorting): the DEFAULT order's fields
    // resolved to top-level column names by source-id against the
    // effective schema — what the write path sorts appends by and
    // stamps `sort_order_id` under. An unresolvable source (nested,
    // dropped) marks the field's transform "unresolved" so the writer
    // carries the order verbatim but never pretends to satisfy it.
    val defaultSortId: Int =
      jLong(metaJson \ "default-sort-order-id") match {
        case -1L => 0
        case id => id.toInt
      }
    val sortFields: Seq[IceSortField] = (metaJson \ "sort-orders") match {
      case JArray(orders) =>
        orders.find(o => jLong(o \ "order-id") == defaultSortId)
          .toSeq.flatMap(o => (o \ "fields") match {
            case JArray(fs0) => fs0.map { f =>
              val srcId = jLong(f \ "source-id")
              val asc = (f \ "direction") match {
                case JString(dir0) => !dir0.equalsIgnoreCase("desc")
                case _ => true
              }
              val nf = (f \ "null-order") match {
                case JString(n) => n.equalsIgnoreCase("nulls-first")
                case _ => asc // spec defaults: asc→first, desc→last
              }
              val tr = (f \ "transform") match {
                case JString(t) if fieldIdToName.contains(srcId) => t
                case JString(_) => "unresolved"
                case _ =>
                  if (fieldIdToName.contains(srcId)) "identity"
                  else "unresolved"
              }
              IceSortField(fieldIdToName.getOrElse(srcId, s"#$srcId"),
                asc, nf, tr)
            }
            case _ => Nil
          })
      case _ => Nil
    }
    IceState(version, snapId, schema, files.result(), posDeletes.result(),
      eqDeletes.result(), specs,
      jLong(metaJson \ "default-spec-id") match {
        case -1L => 0
        case id => id.toInt
      },
      SchemaEvolution(effSchemaId,
        jLong(metaJson \ "last-column-id") max
          schemaFieldTriples.values.flatten.map(_._1)
            .foldLeft(0L)(_ max _),
        schemaFieldTriples.getOrElse(effSchemaId,
          schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
            ((i + 1).toLong, f.name, f.dataType)
          }).map(t => t._2 -> t._1).toMap,
        schemaFieldTriples, snapshotSchemaIds,
        initialDefaults, writeDefaults),
      formatVersion.toInt, dvDeletes.result(),
      defaultSortId, sortFields, posDeleteRefs.result(), table)
  }

  /** An entry's `lower_bounds`/`upper_bounds` map decoded to the
    * canonical compare shape: keys are field ids resolved to
    * top-level column names, values the spec's single-value binary
    * serialization under the column's type (ints/dates 4-byte LE,
    * longs/timestamps 8-byte LE, strings UTF-8). Unmodeled types,
    * unresolvable ids, and malformed payloads are simply absent —
    * bounds are pruning evidence, and absent evidence fails open.
    * Avro surfaces the map either as a real map or as the spec's
    * array-of-(key, value) records; both shapes parse. */
  private def entryBounds(df: GenericRecord, field: String,
      fieldIdToName: Map[Long, String],
      schema: StructType): Map[String, Either[Long, String]] = {
    def decode(id: Long, raw: AnyRef): Option[(String, Either[Long, String])] =
      for {
        name <- fieldIdToName.get(id)
        dt <- schema.find(_.name == name).map(_.dataType)
        bytes <- raw match {
          case b: java.nio.ByteBuffer =>
            val arr = new Array[Byte](b.remaining())
            b.duplicate().get(arr)
            Some(arr)
          case b: Array[Byte] => Some(b)
          case _ => None
        }
        v <- dt match {
          case ByteType | ShortType | IntegerType | DateType
            if bytes.length == 4 =>
            Some(Left(
              java.nio.ByteBuffer.wrap(bytes)
                .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt.toLong))
          case LongType | TimestampType | TimestampNTZType
            if bytes.length == 8 =>
            Some(Left(
              java.nio.ByteBuffer.wrap(bytes)
                .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong))
          case StringType =>
            Some(Right(new String(bytes, StandardCharsets.UTF_8)))
          case _ => None
        }
      } yield name -> v
    fieldOpt(df, field) match {
      case Some(m: java.util.Map[_, _]) =>
        m.asScala.flatMap {
          case (k: Number, v: AnyRef) => decode(k.longValue, v)
          case _ => None
        }.toMap
      case Some(arr: java.lang.Iterable[_]) =>
        arr.asScala.flatMap {
          case r: GenericRecord
            if r.getSchema.getField("key") != null &&
              r.getSchema.getField("value") != null =>
            r.get("key") match {
              case k: Number => decode(k.longValue, r.get("value"))
              case _ => None
            }
          case _ => None
        }.toMap
      case _ => Map.empty
    }
  }

  /** A manifest entry's partition tuple: field name → raw avro value
    * (Utf8 normalized; explicit nulls kept — a present-null means
    * every row's transform output is null). */
  private def entryPartition(df: GenericRecord): Map[String, AnyRef] =
    fieldOpt(df, "partition") match {
      case Some(r: GenericRecord) =>
        r.getSchema.getFields.asScala.map { fld =>
          fld.name -> (r.get(fld.pos) match {
            case u: org.apache.avro.util.Utf8 => u.toString
            case x => x
          })
        }.toMap
      case _ => Map.empty
    }

  // ------------------------------------------------- incremental reads

  /** The table's snapshot lineage, oldest → newest: the snapshot-log
    * when present (the spec's append-ordered history, pruned in step
    * with expiry), else the snapshots list ordered by
    * (timestamp, id). Ids only — O(metadata), no manifest opened. */
  def snapshotLineage(spark: SparkSession, table: String): Seq[Long] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val metaDir = new Path(table, "metadata")
    val fs = hadoopFs(spark, metaDir)
    val version = currentMetadataVersion(fs, table).getOrElse(
      throw new IllegalArgumentException(
        s"no v*.metadata.json under $table/metadata"))
    val metaJson = JsonMethods.parse(readText(fs,
      new Path(metaDir, s"v$version.metadata.json")))
    (metaJson \ "snapshot-log") match {
      case JArray(xs) if xs.nonEmpty =>
        xs.map(e => jLong(e \ "snapshot-id")).filter(_ >= 0)
      case _ => (metaJson \ "snapshots") match {
        case JArray(xs) => xs.map(s =>
          (jLong(s \ "timestamp-ms"), jLong(s \ "snapshot-id")))
          .filter(_._2 >= 0).sorted.map(_._2)
        case _ => Nil
      }
    }
  }

  /** One snapshot's changes relative to its predecessor. `rewrites` =
    * a prior manifest disappeared or a new manifest carries EXISTING /
    * DELETED entries (compaction, overwrite, delete-rewrite);
    * `addedDeletes` = a new DELETE manifest appeared. Both make the
    * snapshot non-incremental. */
  final case class IceChanges(added: Seq[IceFile], rewrites: Boolean,
                              addedDeletes: Boolean)

  /** Appended data files of `snapId` vs `parentId` — the manifest-list
    * DIFF (new manifests only are opened, so a pure append costs
    * O(its new files), never a snapshot replay). */
  def changesAt(spark: SparkSession, table: String, snapId: Long,
                parentId: Option[Long]): IceChanges = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val metaDir = new Path(table, "metadata")
    val fs = hadoopFs(spark, metaDir)
    val version = currentMetadataVersion(fs, table).getOrElse(
      throw new IllegalArgumentException(
        s"no v*.metadata.json under $table/metadata"))
    val metaJson = JsonMethods.parse(readText(fs,
      new Path(metaDir, s"v$version.metadata.json")))
    def manifestList(id: Long): String = {
      val snaps = (metaJson \ "snapshots") match {
        case JArray(xs) => xs
        case _ => Nil
      }
      snaps.find(s => jLong(s \ "snapshot-id") == id)
        .flatMap(s => (s \ "manifest-list") match {
          case JString(p) => Some(p)
          case _ => None
        })
        .getOrElse(throw new IllegalArgumentException(
          s"snapshot $id of $table is no longer resolvable — it was " +
            "expired from the metadata; restart the stream from a " +
            "live snapshot"))
    }
    val childRows = avroRows(fs, new Path(manifestList(snapId)))
    val parentPaths: Set[String] = parentId.map(p =>
      avroRows(fs, new Path(manifestList(p)))
        .map(_.get("manifest_path").toString).toSet)
      .getOrElse(Set.empty)
    val childPaths = childRows.map(_.get("manifest_path").toString).toSet
    var rewrites = !parentPaths.subsetOf(childPaths)
    var addedDeletes = false
    val added = Seq.newBuilder[IceFile]
    childRows.filterNot(r => parentPaths(r.get("manifest_path").toString))
      .foreach { mf =>
        val content = fieldOpt(mf, "content")
          .map(_.asInstanceOf[Number].intValue).getOrElse(0)
        if (content != 0) addedDeletes = true
        else {
          val mfSeq = fieldOpt(mf, "sequence_number")
            .map(_.asInstanceOf[Number].longValue).getOrElse(0L)
          val mfSpecId = fieldOpt(mf, "partition_spec_id")
            .map(_.asInstanceOf[Number].intValue).getOrElse(0)
          avroRows(fs, new Path(mf.get("manifest_path").toString))
            .foreach { entry =>
              val status = entry.get("status").asInstanceOf[Number].intValue
              if (status != 1) rewrites = true
              else {
                val entrySeq = fieldOpt(entry, "sequence_number")
                  .map(_.asInstanceOf[Number].longValue).getOrElse(mfSeq)
                val df = entry.get("data_file").asInstanceOf[GenericRecord]
                val fmt = df.get("file_format").toString
                if (!fmt.equalsIgnoreCase("parquet"))
                  throw new UnsupportedIcebergFeatureException(
                    s"file format $fmt in $table — only parquet is served")
                if (fieldOpt(df, "content")
                  .map(_.asInstanceOf[Number].intValue).getOrElse(0) != 0)
                  addedDeletes = true
                else added += IceFile(df.get("file_path").toString,
                  df.get("record_count").asInstanceOf[Number].longValue,
                  df.get("file_size_in_bytes")
                    .asInstanceOf[Number].longValue,
                  entrySeq, mfSpecId, entryPartition(df))
              }
            }
        }
      }
    IceChanges(added.result(), rewrites, addedDeletes)
  }

  /** Newest `v<N>.metadata.json` — the version-hint is consulted first
    * (the Hadoop-catalog fast path) but the listing wins if it is
    * ahead (a crashed writer may have updated one and not the other). */
  private def currentMetadataVersion(fs: FileSystem,
                                     table: String): Option[Long] = {
    val metaDir = new Path(table, "metadata")
    val MetaRe = """v(\d+)\.metadata\.json""".r
    val listed = fs.listStatus(metaDir).map(_.getPath.getName).collect {
      case MetaRe(v) => v.toLong
    }
    listed.reduceOption(_ max _)
  }

  /** Field access tolerant of absent fields — GenericData.Record.get
    * THROWS on a name outside the file's schema, and real Iceberg
    * files differ by version in which optional fields they carry. */
  private def fieldOpt(r: GenericRecord, name: String): Option[AnyRef] =
    Option(r.getSchema.getField(name)).flatMap(_ => Option(r.get(name)))

  /** Every record of a self-describing avro file. */
  /** Hand-rolled AVRO data-file scan — `spark-avro` is absent from
    * this classpath, but avro CORE is here (the same
    * GenericDatumReader that already parses Iceberg's own avro
    * metadata), so `add_files`-migrated avro data serves by NAME
    * under the current schema: one task per file decodes its
    * GenericRecords into Rows. Scalar leaf types only — the
    * migrated-table surface; nested/array/map columns refuse by name
    * UP FRONT on the driver, never a mid-scan surprise. Missing
    * columns null-fill and the identity tuple fill restores
    * partition sources, exactly the ORC name-mapping path.
    * `withMeta` attaches the normalized `__fp` (and a null `__pos` —
    * avro carries no row_index) so the tuple-fill broadcast joins
    * uniformly across formats. */
  private def avroDataScan(spark: SparkSession, files: Seq[IceFile],
      schema: StructType, withMeta: Boolean): DataFrame = {
    schema.fields.foreach(f => f.dataType match {
      case BooleanType | ByteType | ShortType | IntegerType |
           LongType | FloatType | DoubleType | StringType |
           BinaryType | DateType | TimestampType | TimestampNTZType =>
      case other => throw new UnsupportedIcebergFeatureException(
        s"avro data files: column ${f.name} is ${other.sql} — the " +
          "jar-less avro decoder serves scalar columns only; " +
          "rewrite to parquet for nested types")
    })
    val names = schema.fields.map(_.name)
    val types = schema.fields.map(_.dataType)
    val out = StructType(schema.fields ++
      (if (withMeta) Seq(StructField("__fp", StringType),
        StructField("__pos", LongType)) else Nil))
    val rows = spark.sparkContext
      .parallelize(files.map(_.path), math.max(1, files.size))
      .flatMap { pstr =>
        val p = new Path(pstr)
        val fs0 = p.getFileSystem(
          new org.apache.hadoop.conf.Configuration())
        val in = fs0.open(p)
        val stream = new DataFileStream[GenericRecord](in,
          new GenericDatumReader[GenericRecord]())
        val fp = dmlNormStr(pstr)
        try stream.iterator().asScala.map { rec =>
          val vals = names.indices.map { i =>
            val raw =
              if (rec.getSchema.getField(names(i)) == null) null
              else rec.get(names(i))
            decodeAvroScalar(raw, types(i), names(i))
          }
          Row.fromSeq(if (withMeta) vals :+ fp :+ null else vals)
        }.toList
        finally {
          scala.util.Try(stream.close()): Unit
          scala.util.Try(in.close()): Unit
        }
      }
    spark.createDataFrame(rows, out)
  }

  /** One avro leaf value → the Spark external type `createDataFrame`
    * expects; logical date/timestamp[-ntz] decode from their spec
    * int/long encodings. An unmodeled combination REFUSES by name —
    * never a silently-null column. */
  private def decodeAvroScalar(raw: AnyRef, dt: DataType,
      name: String): Any = (raw, dt) match {
    case (null, _) => null
    case (b: java.lang.Boolean, BooleanType) => b
    case (n: Number, ByteType) => n.byteValue
    case (n: Number, ShortType) => n.shortValue
    case (n: Number, IntegerType) => n.intValue
    case (n: Number, LongType) => n.longValue
    case (n: Number, FloatType) => n.floatValue
    case (n: Number, DoubleType) => n.doubleValue
    case (s, StringType)
      if s.isInstanceOf[org.apache.avro.util.Utf8] ||
        s.isInstanceOf[String] => s.toString
    case (bb: java.nio.ByteBuffer, BinaryType) =>
      val a = new Array[Byte](bb.remaining()); bb.duplicate().get(a); a
    case (n: Number, DateType) =>
      java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(n.longValue))
    case (n: Number, TimestampType) =>
      val micros = n.longValue
      val ts = new java.sql.Timestamp(
        Math.floorDiv(micros, 1000000L) * 1000L)
      ts.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
      ts
    case (n: Number, TimestampNTZType) =>
      java.time.LocalDateTime.ofEpochSecond(
        Math.floorDiv(n.longValue, 1000000L),
        (Math.floorMod(n.longValue, 1000000L) * 1000L).toInt,
        java.time.ZoneOffset.UTC)
    case (other, _) => throw new IllegalArgumentException(
      s"avro value of ${other.getClass.getName} does not decode to " +
        s"${dt.sql} for column $name")
  }

  private def avroRows(fs: FileSystem, p: Path): Seq[GenericRecord] = {
    val in = fs.open(p)
    try {
      val stream = new DataFileStream[GenericRecord](in,
        new GenericDatumReader[GenericRecord]())
      try stream.iterator().asScala.toList
      finally stream.close()
    } finally scala.util.Try(in.close())
  }

  private def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536, false)
      new String(out.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
  }

  // ------------------------------------------------------- schema mapping

  private[sources] def icebergSchemaToSpark(
      schemaJson: org.json4s.JValue, table: String): StructType = {
    import org.json4s._
    def convert(t: JValue): DataType = t match {
      case JString(s) => primitive(s)
      case obj =>
        (obj \ "type") match {
          case JString("struct") =>
            StructType((obj \ "fields") match {
              case JArray(fs) => fs.map { f =>
                val name = (f \ "name") match {
                  case JString(n) => n
                  case _ => throw new IllegalStateException(
                    s"Iceberg schema field without name in $table")
                }
                val required = (f \ "required") == JBool(true)
                StructField(name, convert(f \ "type"), nullable = !required)
              }
              case _ => Nil
            })
          case JString("list") =>
            ArrayType(convert(obj \ "element"),
              containsNull = (obj \ "element-required") != JBool(true))
          case JString("map") =>
            MapType(convert(obj \ "key"), convert(obj \ "value"),
              valueContainsNull = (obj \ "value-required") != JBool(true))
          case JString(other) =>
            throw new UnsupportedIcebergFeatureException(
              s"Iceberg $other column type in $table — primitives, " +
                "structs, lists and maps are supported by this reader")
          case _ => throw new IllegalStateException(
            s"unparseable Iceberg type $obj in $table")
        }
    }
    def primitive(s: String): DataType = s match {
      case "boolean" => BooleanType
      case "int" => IntegerType
      case "long" => LongType
      case "float" => FloatType
      case "double" => DoubleType
      case "date" => DateType
      case "string" => StringType
      case "binary" => BinaryType
      case "timestamp" => TimestampNTZType
      case "timestamptz" => TimestampType
      case d if d.startsWith("decimal(") =>
        val Array(p, sc) = d.stripPrefix("decimal(").stripSuffix(")")
          .split(',').map(_.trim.toInt)
        DecimalType(p, sc)
      // v3 VARIANT serves natively: Iceberg v3 adopted the SAME
      // binary variant encoding Spark 4's parquet reader speaks
      // (metadata+value binary pair under the VARIANT logical type),
      // so the scan resolves it like any other column and
      // `variant_get` extraction works downstream — the Delta side
      // has served `variantType` since r13b, this closes the
      // asymmetry
      case "variant" => org.apache.spark.sql.types.VariantType
      // v3's OTHER new types stay refused BY NAME (not an anonymous
      // parse failure): geometry/geography carry CRS semantics, the
      // ns timestamps overflow micros, and `unknown` has no values
      // to serve
      case v3t if v3t == "unknown" ||
        v3t == "timestamp_ns" || v3t == "timestamptz_ns" ||
        v3t == "geometry" || v3t.startsWith("geometry(") ||
        v3t == "geography" || v3t.startsWith("geography(") =>
        throw new UnsupportedIcebergFeatureException(
          s"Iceberg v3 type '$v3t' in $table — this reader does not " +
            "serve it; refusing by name rather than misread the column")
      case other => throw new UnsupportedIcebergFeatureException(
        s"Iceberg primitive type '$other' in $table — not mapped")
    }
    convert(schemaJson) match {
      case st: StructType => st
      case other => throw new IllegalStateException(
        s"Iceberg schema of $table is not a struct: $other")
    }
  }

  /** The v3 COLUMN-DEFAULT declarations of a schema node:
    * (field-id → decoded `initial-default`, names of top-level fields
    * carrying `write-default`). The spec (v3) makes `initial-default`
    * the value every row written BEFORE the field existed must serve
    * — [[toDF]]'s by-id projection substitutes it where the null-fill
    * sat. Defaults on NESTED fields refuse by name: this reader fills
    * top-level columns only, and skipping a recorded default would
    * serve silently wrong NULLs — the one hazard class the refusal
    * discipline exists for. */
  private[sources] def schemaDefaults(schemaJson: org.json4s.JValue,
      schema: StructType, table: String)
      : (Map[Long, Any], Map[String, org.json4s.JValue]) = {
    import org.json4s._
    def nestedCarriesDefault(t: JValue): Boolean = (t \ "type") match {
      case JString("struct") => (t \ "fields") match {
        case JArray(fs) => fs.exists(f =>
          (f \ "initial-default") != JNothing ||
            (f \ "write-default") != JNothing ||
            nestedCarriesDefault(f \ "type"))
        case _ => false
      }
      case JString("list") => nestedCarriesDefault(t \ "element")
      case JString("map") => nestedCarriesDefault(t \ "key") ||
        nestedCarriesDefault(t \ "value")
      case _ => false
    }
    (schemaJson \ "fields") match {
      case JArray(fs) =>
        val inits = Map.newBuilder[Long, Any]
        val writes = Map.newBuilder[String, JValue]
        fs.foreach { f =>
          val name = (f \ "name") match {
            case JString(n) => n
            case _ => "?"
          }
          if (nestedCarriesDefault(f \ "type"))
            throw new UnsupportedIcebergFeatureException(
              s"column $name of $table declares a default on a NESTED " +
                "field — this reader fills top-level columns only and " +
                "refuses rather than serve NULL where the spec says " +
                "serve the default")
          val dt = schema.find(_.name == name).map(_.dataType)
          (f \ "initial-default") match {
            case JNothing => ()
            case dj =>
              val id = jLong(f \ "id")
              dt.foreach(t => inits += id ->
                decodeDefault(t, dj, name, table))
          }
          (f \ "write-default") match {
            case JNothing => ()
            case dj => writes += name -> dj
          }
        }
        (inits.result(), writes.result())
      case _ => (Map.empty, Map.empty)
    }
  }

  /** Iceberg JSON single-value serialization → a Spark-literal-ready
    * value, under the field's converted Spark type. Shapes this
    * decoder does not model refuse BY NAME — a guessed default is a
    * silently wrong value on every pre-existing row. */
  private def decodeDefault(dt: DataType, j: org.json4s.JValue,
      field: String, table: String): Any = {
    import org.json4s._
    def refuse(): Nothing =
      throw new UnsupportedIcebergFeatureException(
        s"column $field of $table declares default " +
          s"${org.json4s.jackson.JsonMethods.compact(
            org.json4s.jackson.JsonMethods.render(j))} which this " +
          s"reader cannot decode as ${dt.sql} — refusing rather than " +
          "serve a wrong value on pre-existing rows")
    try (dt, j) match {
      case (_, JNull) => null
      case (BooleanType, JBool(b)) => b
      case (IntegerType, JInt(n)) => n.toInt
      case (IntegerType, JLong(n)) => n.toInt
      case (LongType, JInt(n)) => n.toLong
      case (LongType, JLong(n)) => n
      case (FloatType, JDouble(d)) => d.toFloat
      case (FloatType, JDecimal(d)) => d.toFloat
      case (FloatType, JInt(n)) => n.toFloat
      case (DoubleType, JDouble(d)) => d
      case (DoubleType, JDecimal(d)) => d.toDouble
      case (DoubleType, JInt(n)) => n.toDouble
      case (_: DecimalType, JString(s)) => new java.math.BigDecimal(s)
      case (_: DecimalType, JDouble(d)) =>
        java.math.BigDecimal.valueOf(d)
      case (_: DecimalType, JDecimal(d)) => d.bigDecimal
      case (_: DecimalType, JInt(n)) =>
        new java.math.BigDecimal(n.bigInteger)
      case (StringType, JString(s)) => s
      case (DateType, JString(s)) => java.sql.Date.valueOf(s)
      case (TimestampNTZType, JString(s)) =>
        java.time.LocalDateTime.parse(s)
      case (TimestampType, JString(s)) =>
        java.time.OffsetDateTime.parse(s).toInstant
      case (BinaryType, JString(s)) =>
        val hex = s.stripPrefix("0x").stripPrefix("0X")
        if (hex.isEmpty || hex.length % 2 != 0 ||
          !hex.forall(c => Character.digit(c, 16) >= 0)) refuse()
        hex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
      case _ => refuse()
    } catch {
      case _: IllegalArgumentException => refuse()
      case _: java.time.format.DateTimeParseException => refuse()
    }
  }

  private def sparkTypeToIceberg(dt: DataType): String = dt match {
    case BooleanType => "boolean"
    case IntegerType => "int"
    case LongType => "long"
    case FloatType => "float"
    case DoubleType => "double"
    case DateType => "date"
    case StringType => "string"
    case BinaryType => "binary"
    case TimestampNTZType => "timestamp"
    case TimestampType => "timestamptz"
    case d: DecimalType => s"decimal(${d.precision}, ${d.scale})"
    case other => throw new UnsupportedIcebergFeatureException(
      s"cannot write Spark type ${other.sql} as an Iceberg primitive")
  }

  private[sources] def icebergSchemaJson(schema: StructType, schemaId: Long = 0L,
                                firstFieldId: Long = 1L): String = {
    val fields = schema.fields.zipWithIndex.map { case (f, i) =>
      s"""{"id":${firstFieldId + i},"name":${jstr(f.name)},""" +
        s""""required":${!f.nullable},""" +
        s""""type":${jstr(sparkTypeToIceberg(f.dataType))}}"""
    }.mkString("[", ",", "]")
    s"""{"type":"struct","schema-id":$schemaId,"fields":$fields}"""
  }

  // --------------------------------------------------------------- write

  /** The avro physical type of a partition-tuple value:
    * `transform(source)` per the spec's result-type table. None =
    * this writer cannot partition by that combination (refused by
    * name at write time — never a wrong tuple). */
  private[sources] def tupleAvroType(transform: String,
                                     dt: DataType): Option[String] = {
    val Bucket = """bucket\[(\d+)\]""".r
    val Truncate = """truncate\[(\d+)\]""".r
    def sourcePhysical: Option[String] = dt match {
      case ByteType | ShortType | IntegerType => Some("int")
      case LongType => Some("long")
      case StringType => Some("string")
      case DateType => Some("int") // epoch days
      case TimestampType | TimestampNTZType => Some("long") // micros
      case _ => None
    }
    transform match {
      case "identity" => sourcePhysical
      case Truncate(_) => dt match { // spec: int, long, string (jar-less
        case ByteType | ShortType | IntegerType => Some("int")
        case LongType => Some("long") // subset; decimal/binary refuse)
        case StringType => Some("string")
        case _ => None
      }
      case Bucket(_) => dt match {
        case ByteType | ShortType | IntegerType | LongType | StringType |
             DateType | TimestampType | TimestampNTZType => Some("int")
        case _ => None
      }
      case "day" | "month" | "year" => dt match {
        case DateType | TimestampType | TimestampNTZType => Some("int")
        case _ => None
      }
      case "hour" => dt match {
        case TimestampType | TimestampNTZType => Some("int")
        case _ => None
      }
      case _ => None
    }
  }

  /** One spec field's tuple value for one row — null in, null out;
    * shares [[transformValue]] with the read-side pruner, so a tuple a
    * write records and the prune decision a read takes can never
    * disagree. */
  private def evalTuple(sf: SpecField, dt: DataType,
                        v: Any): Option[Either[Long, String]] =
    Option(v).flatMap(x => ScanPredicates.canonicalValue(dt, x))
      .flatMap(c => transformValue(sf.transform, c, dt))

  /** The synthetic write-partitioning column for one spec field. A
    * Scala closure (not codegen) is the honest choice here: it is the
    * write path's one narrow projection, and it reuses the EXACT
    * evaluator the reader prunes with. */
  private def tupleColumn(sf: SpecField, dt: DataType,
                          avroType: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, udf}
    def asLong(e: Either[Long, String]): Long = e match {
      case Left(l) => l
      case Right(s) => throw new IllegalStateException(
        s"transform ${sf.transform} produced a string for a numeric " +
          s"tuple field ${sf.name}: $s")
    }
    def asStr(e: Either[Long, String]): String = e match {
      case Right(s) => s
      case Left(l) => throw new IllegalStateException(
        s"transform ${sf.transform} produced a number for a string " +
          s"tuple field ${sf.name}: $l")
    }
    val src = col(sf.source)
    (dt, avroType) match {
      case (ByteType | ShortType | IntegerType | LongType, "string") =>
        throw new UnsupportedIcebergFeatureException(
          s"integer source ${sf.source} cannot yield a string tuple")
      case (ByteType | ShortType | IntegerType | LongType, _) =>
        udf((v: java.lang.Long) =>
          evalTuple(sf, dt, v).map(asLong)).apply(src.cast("long"))
      case (StringType, "string") =>
        udf((v: String) => evalTuple(sf, dt, v).map(asStr)).apply(src)
      case (StringType, _) =>
        udf((v: String) => evalTuple(sf, dt, v).map(asLong)).apply(src)
      case (DateType, _) =>
        udf((v: java.sql.Date) => evalTuple(sf, dt, v).map(asLong)).apply(src)
      case (TimestampType, _) =>
        udf((v: java.sql.Timestamp) =>
          evalTuple(sf, dt, v).map(asLong)).apply(src)
      case (TimestampNTZType, _) =>
        udf((v: java.time.LocalDateTime) =>
          evalTuple(sf, dt, v).map(asLong)).apply(src)
      case (other, _) => throw new UnsupportedIcebergFeatureException(
        s"cannot partition by ${sf.transform}(${sf.source}) over Spark " +
          s"type ${other.sql}")
    }
  }

  private def manifestEntrySchema(
      partFields: Seq[(SpecField, String, Int)],
      v2: Boolean = false,
      dv: Boolean = false,
      lineage: Boolean = false,
      referenced: Boolean = false): org.apache.avro.Schema = {
    val partJson = partFields.map { case (sf, avroType, fid) =>
      s"""{"name":${jstr(sf.name)},"type":["null","$avroType"],""" +
        s""""default":null,"field-id":$fid}"""
    }.mkString(",")
    // bounds maps use the spec's array-of-(key, value) shape with the
    // manifest schema's OFFICIAL field ids (125-130)
    def boundsField(name: String, fid: Int, kId: Int, vId: Int): String =
      s"""{"name":"$name","type":["null",{"type":"array","items":
         |{"type":"record","name":"k${kId}_v$vId","fields":[
         |{"name":"key","type":"int","field-id":$kId},
         |{"name":"value","type":"bytes","field-id":$vId}]},
         |"logicalType":"map"}],"default":null,"field-id":$fid}"""
        .stripMargin.replace("\n", "")
    // v2 entries carry explicit (inheritable) sequence numbers and
    // the data_file's content discriminator (0 data / 1 position
    // deletes / 2 equality deletes) — the spec's required v2 fields
    val seqFields =
      if (!v2) ""
      else """{"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},""" +
        """{"name":"file_sequence_number","type":["null","long"],"default":null,"field-id":4},"""
    val contentField =
      if (!v2) ""
      else """{"name":"content","type":"int","field-id":134},"""
    val equalityIdsField =
      if (!v2) ""
      else """,{"name":"equality_ids","type":["null",{"type":"array","items":"int"}],"default":null,"field-id":135}"""
    // deletion-vector addressing (spec data_file fields 143-145):
    // which data file the blob kills and its byte range in the Puffin;
    // a file-scoped position-delete entry carries field 143 alone
    val referencedField =
      if (!dv && !referenced) ""
      else """,{"name":"referenced_data_file","type":["null","string"],"default":null,"field-id":143}"""
    val dvFields =
      if (!dv) ""
      else """,{"name":"content_offset","type":["null","long"],"default":null,"field-id":144},""" +
        """{"name":"content_size_in_bytes","type":["null","long"],"default":null,"field-id":145}"""
    // v3 row lineage (spec data_file field 142): the file's explicit
    // row-id origin — stamped on every v3 data file this writer adds,
    // so readers never need the inheritance walk on graft tables
    val lineageField =
      if (!lineage) ""
      else """,{"name":"first_row_id","type":["null","long"],"default":null,"field-id":142}"""
    new org.apache.avro.Schema.Parser().parse(
      s"""{"type":"record","name":"manifest_entry","fields":[
         |{"name":"status","type":"int","field-id":0},
         |{"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
         |$seqFields
         |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
         |  $contentField
         |  {"name":"file_path","type":"string","field-id":100},
         |  {"name":"file_format","type":"string","field-id":101},
         |  {"name":"partition","type":{"type":"record","name":"r102","fields":[$partJson]},"field-id":102},
         |  {"name":"record_count","type":"long","field-id":103},
         |  {"name":"file_size_in_bytes","type":"long","field-id":104},
         |  {"name":"sort_order_id","type":["null","int"],"default":null,"field-id":140},
         |  ${boundsField("lower_bounds", 125, 126, 127)},
         |  ${boundsField("upper_bounds", 128, 129, 130)}
         |  $equalityIdsField
         |  $referencedField
         |  $dvFields
         |  $lineageField
         |]},"field-id":2}
         |]}""".stripMargin.replace("\n", ""))
  }

  /** A canonical bound encoded as the spec's single-value binary
    * serialization under the column's type; None = not encodable. */
  private def encodeBound(dt: DataType,
      v: Either[Long, String]): Option[java.nio.ByteBuffer] =
    (dt, v) match {
      case (ByteType | ShortType | IntegerType | DateType, Left(l)) =>
        val b = java.nio.ByteBuffer.allocate(4)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        b.putInt(l.toInt); b.flip()
        Some(b)
      case (LongType | TimestampType | TimestampNTZType, Left(l)) =>
        val b = java.nio.ByteBuffer.allocate(8)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        b.putLong(l); b.flip()
        Some(b)
      case (StringType, Right(s)) =>
        Some(java.nio.ByteBuffer.wrap(
          s.getBytes(StandardCharsets.UTF_8)))
      case _ => None
    }

  private val ManifestFileSchema = new org.apache.avro.Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string","field-id":500},
      |{"name":"manifest_length","type":"long","field-id":501},
      |{"name":"partition_spec_id","type":"int","field-id":502},
      |{"name":"added_snapshot_id","type":["null","long"],"default":null,"field-id":503}
      |]}""".stripMargin.replace("\n", ""))

  /** The v2 manifest-list row: the spec's REQUIRED v2 fields —
    * `content` (0 data / 1 deletes), the manifest's `sequence_number`
    * (what entries without their own inherit) and
    * `min_sequence_number`, plus the per-status file/row counts. */
  private val ManifestFileSchemaV2 = new org.apache.avro.Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string","field-id":500},
      |{"name":"manifest_length","type":"long","field-id":501},
      |{"name":"partition_spec_id","type":"int","field-id":502},
      |{"name":"content","type":"int","field-id":517},
      |{"name":"sequence_number","type":"long","field-id":515},
      |{"name":"min_sequence_number","type":"long","field-id":516},
      |{"name":"added_snapshot_id","type":"long","field-id":503},
      |{"name":"added_files_count","type":"int","field-id":504},
      |{"name":"existing_files_count","type":"int","field-id":505},
      |{"name":"deleted_files_count","type":"int","field-id":506},
      |{"name":"added_rows_count","type":"long","field-id":512},
      |{"name":"existing_rows_count","type":"long","field-id":513},
      |{"name":"deleted_rows_count","type":"long","field-id":514},
      |{"name":"first_row_id","type":["null","long"],"default":null,"field-id":520}
      |]}""".stripMargin.replace("\n", ""))

  private def manifestListRowV2(path: String, length: Long, specId: Int,
      content: Int, seq: Long, minSeq: Long, addedSnap: Long,
      counts: (Int, Int, Int, Long, Long, Long),
      firstRowId: Option[Long] = None): GenericRecord = {
    val r = new GenericData.Record(ManifestFileSchemaV2)
    // v3 row lineage (manifest_file field 520): the data manifest's
    // row-id origin, preserved when the manifest is carried — the
    // nullable field is invisible to v2 readers' schema resolution
    firstRowId.foreach(v => r.put("first_row_id", java.lang.Long.valueOf(v)))
    r.put("manifest_path", path)
    r.put("manifest_length", length)
    r.put("partition_spec_id", specId)
    r.put("content", content)
    r.put("sequence_number", seq)
    r.put("min_sequence_number", minSeq)
    r.put("added_snapshot_id", addedSnap)
    r.put("added_files_count", counts._1)
    r.put("existing_files_count", counts._2)
    r.put("deleted_files_count", counts._3)
    r.put("added_rows_count", counts._4)
    r.put("existing_rows_count", counts._5)
    r.put("deleted_rows_count", counts._6)
    r
  }

  /** Re-encode a prior manifest-list row under the v2 schema: every
    * recorded field carries verbatim; the counts a v1-written row
    * never recorded compute by reading the manifest once (paid once,
    * at the first v2 commit after an upgrade). */
  private def carryManifestRowV2(fs: FileSystem, pm: GenericRecord,
      fallbackSnap: Long): GenericRecord = {
    def num(n: String): Option[Long] =
      fieldOpt(pm, n).map(_.asInstanceOf[Number].longValue)
    val counts = (num("added_files_count"), num("existing_files_count"),
      num("deleted_files_count"), num("added_rows_count"),
      num("existing_rows_count"), num("deleted_rows_count")) match {
      case (Some(a), Some(e), Some(d), Some(ar), Some(er), Some(dr)) =>
        (a.toInt, e.toInt, d.toInt, ar, er, dr)
      case _ =>
        var af = 0; var ef = 0; var df = 0
        var ar = 0L; var er = 0L; var dr = 0L
        avroRows(fs,
          new Path(pm.get("manifest_path").toString)).foreach { entry =>
          val st = entry.get("status").asInstanceOf[Number].intValue
          val rows = entry.get("data_file").asInstanceOf[GenericRecord]
            .get("record_count").asInstanceOf[Number].longValue
          st match {
            case 2 => df += 1; dr += rows
            case 0 => ef += 1; er += rows
            case _ => af += 1; ar += rows
          }
        }
        (af, ef, df, ar, er, dr)
    }
    manifestListRowV2(pm.get("manifest_path").toString,
      pm.get("manifest_length").asInstanceOf[Number].longValue,
      fieldOpt(pm, "partition_spec_id")
        .map(_.asInstanceOf[Number].intValue).getOrElse(0),
      fieldOpt(pm, "content")
        .map(_.asInstanceOf[Number].intValue).getOrElse(0),
      num("sequence_number").getOrElse(0L),
      num("min_sequence_number")
        .orElse(num("sequence_number")).getOrElse(0L),
      num("added_snapshot_id").getOrElse(fallbackSnap),
      counts,
      firstRowId = num("first_row_id"))
  }

  /** Write `df` as an Iceberg v1 commit. `overwrite` starts the
    * snapshot's manifest list fresh; append carries the prior
    * snapshot's manifests verbatim (O(new files) metadata).
    *
    * `partitionBy` declares a partition SPEC — Iceberg data files
    * carry every column, so this is purely the pruning metadata
    * [[readWhere]] resolves: each data file is written under one
    * transform tuple (one Spark write job, partitioned by the
    * synthetic tuple columns) and its manifest entry records that
    * tuple. Appends must keep the table's current default spec (a
    * different one refuses by name — evolve via overwrite); transform
    * evaluation is the same code the read-side pruner runs, so write
    * tuple and prune verdict cannot disagree. */
  def write(df0: DataFrame, table: String,
            overwrite: Boolean = false,
            partitionBy: Seq[SpecField] = Nil,
            streamMark: Option[(String, Long)] = None,
            branch: Option[String] = None): Long = {
    val spark = df0.sparkSession
    val root = new Path(table)
    val fs = hadoopFs(spark, root)
    val metaDir = new Path(root, "metadata")
    // WRITE-AUDIT-PUBLISH: an explicit `branch` (or the session's
    // `spark.wap.branch`, Iceberg's own WAP conf) lands the append on
    // that ref — `main` and the current pointer stay pinned until
    // [[fastForward]] publishes the branch. The parent state is the
    // BRANCH head (created from the current head on first write).
    val toBranch: Option[String] = branch.orElse(
      Option(spark.conf.get("spark.wap.branch", null)).filter(_.nonEmpty))
    if (toBranch.isDefined && overwrite)
      throw new UnsupportedIcebergFeatureException(
        s"overwrite of $table under wap branch ${toBranch.get} — " +
          "branch writes are appends; publish with fastForward, then " +
          "overwrite main")
    val prior =
      if (fs.exists(metaDir) &&
        currentMetadataVersion(fs, table).isDefined) {
        val cur = state(spark, table, None)
        toBranch match {
          case Some(b) =>
            Some(refs(spark, table).get(b) match {
              case Some((snapId, kind)) =>
                if (kind != "branch")
                  throw new UnsupportedIcebergFeatureException(
                    s"wap ref $b of $table is a $kind — appends " +
                      "target branches, not tags")
                state(spark, table, Some(snapId))
              case None => cur // first write forks from the head
            })
          case None => Some(cur)
        }
      }
      else None
    // v3 `write-default`: an append that OMITS a defaulted column
    // APPLIES the recorded default (the spec's writer duty — an
    // undecodable default refuses by name inside decodeDefault);
    // omitted columns without one still refuse in
    // requireAppendCompatible below
    val df = prior.filter(_ => !overwrite)
      .map(p => applyWriteDefaults(df0, p, table)).getOrElse(df0)
    prior.foreach { p =>
      if (!overwrite) {
        InteropSchema.requireAppendCompatible(df.schema, p.schema, table)
        val current = p.specs.getOrElse(p.defaultSpecId, Nil)
        if (partitionBy != current)
          throw new UnsupportedIcebergFeatureException(
            s"append to $table declares partition spec $partitionBy " +
              s"but the table's current default spec is $current — an " +
              "append keeps the table's spec; change it with an " +
              "overwrite commit")
      }
    }
    // stage with parquet FIELD IDS stamped into the footers — the ids
    // the published schema will record (prior ids on append/same-shape
    // overwrite, fresh ids continuing last-column-id on an evolving
    // overwrite, positional on create). Spark writes them natively
    // from the `parquet.field.id` field metadata, making every file
    // this writer produces resolvable by id for foreign readers and
    // for [[toDF]] after renames.
    val ids: Map[String, Long] = prior
      .filter(p => !overwrite || InteropSchema.sameShape(df.schema, p.schema))
      .map(_.evo.fieldIds)
      .filter(m => df.schema.fieldNames.forall(m.contains))
      .getOrElse {
        val first = prior.map(_.evo.lastColumnId + 1).getOrElse(1L)
        df.schema.fieldNames.zipWithIndex
          .map { case (n, i) => n -> (first + i) }.toMap
      }
    val stamped = stampFieldIds(df, ids)
    // DEFAULT SORT ORDER honored on write (spec §Sorting — Iceberg's
    // range write-distribution): when every field of the table's
    // default order is an identity transform over a written top-level
    // column, the append range-distributes + sorts within files by it
    // and the staged entries are stamped `sort_order_id`; any other
    // order (bucketed transform, nested/dropped source) is CARRIED in
    // metadata but never stamped — this writer does not pretend
    // unsorted data is sorted. Partitioned tables keep the tuple
    // distribution and sort within each partition's files.
    val order = prior.map(_.sortFields).getOrElse(Nil)
    val honoredSortId: Int = prior.map(_.defaultSortOrderId)
      .filter(_ > 0)
      .filter(_ => order.nonEmpty && order.forall(f =>
        f.transform == "identity" &&
          df.schema.fieldNames.contains(f.source)))
      .getOrElse(0)
    val sortExprs: Seq[Column] =
      if (honoredSortId == 0) Nil
      else order.map(f => (f.asc, f.nullsFirst) match {
        case (true, true) => functions.col(f.source).asc_nulls_first
        case (true, false) => functions.col(f.source).asc_nulls_last
        case (false, true) => functions.col(f.source).desc_nulls_first
        case (false, false) => functions.col(f.source).desc_nulls_last
      })
    val moved =
      if (partitionBy.isEmpty) stageUnpartitioned(spark,
        if (sortExprs.isEmpty) stamped
        else stamped.repartitionByRange(sortExprs: _*)
          .sortWithinPartitions(sortExprs: _*),
        root, fs)
      else stagePartitioned(spark, stamped, root, fs, partitionBy,
        sortExprs)
    // COMMIT with blind-append auto-retry (the ManifestLake
    // `commitAppendWithRebase` discipline on the Iceberg side): an
    // APPEND that loses the metadata-version race re-resolves the
    // winner's state, RE-PROVES schema compatibility, the partition
    // spec and the staged footers' field ids against it, and retries
    // at the next version — the staged data files are version-free so
    // nothing rewrites. Overwrites and streamMark-stamped commits
    // (the sink owns replay decisions) keep RAISING the named
    // conflict.
    var attemptPrior = prior
    var attempts = 0
    while (true) {
      try return publishSnapshot(fs, root, df.schema, moved,
        attemptPrior, overwrite,
        if (overwrite) "overwrite" else "append", partitionBy, streamMark,
        sortOrderId = honoredSortId, toBranch = toBranch)
      catch { case e: ConcurrentIcebergCommitException =>
        attempts += 1
        if (overwrite || streamMark.nonEmpty || attempts > MaxCommitRetries)
          throw e
        val ws = state(spark, table, None)
        def abortRetry(why: String): Nothing = {
          moved.foreach(f => scala.util.Try(
            fs.delete(new Path(f.path), false)): Unit)
          throw new ConcurrentIcebergCommitException(
            s"append to $table lost the race to a commit that $why — " +
              "cannot rebase; staged files removed, nothing landed")
        }
        if (!scala.util.Try(InteropSchema.requireAppendCompatible(
          df.schema, ws.schema, table)).isSuccess)
          abortRetry("changed the schema")
        if (partitionBy != ws.specs.getOrElse(ws.defaultSpecId, Nil))
          abortRetry("changed the default partition spec")
        // staged parquet footers already carry OUR field ids — if the
        // winner renumbered any written column (drop + re-add), the
        // staged files would serve wrong-by-id to foreign readers
        if (!df.schema.fieldNames.forall(n =>
          ws.evo.fieldIds.get(n).contains(ids(n))))
          abortRetry("renumbered column field ids")
        // the staged files' physical layout was produced under the
        // sort order read at stage time — a winner that changed the
        // default order would make the stamped (or omitted)
        // sort_order_id a lie about these files
        if (ws.defaultSortOrderId != prior.map(_.defaultSortOrderId)
          .getOrElse(0))
          abortRetry("changed the default sort order")
        // a branch write rebases onto the WINNER's branch head (the
        // winner may itself have advanced the branch)
        attemptPrior = toBranch match {
          case Some(b) => Some(refs(spark, table).get(b) match {
            case Some((snapId, "branch")) =>
              state(spark, table, Some(snapId))
            case Some((_, kind)) =>
              abortRetry(s"turned wap ref $b into a $kind")
            case None => ws
          })
          case None => Some(ws)
        }
      }
    }
    -1L // unreachable — the loop returns or throws
  }

  /** Metadata-only FORMAT UPGRADE v1 → v2 (the spec's one legal
    * direction — downgrades never happen): the current metadata
    * document republishes with `format-version: 2` and the v2-required
    * fields; existing snapshots and manifests keep sequence number 0
    * (the spec's upgrade rule — inheritance defaults cover them) and
    * every later commit takes the next sequence number. Opens the
    * merge-on-read write path ([[deleteMor]]) and delete-manifest
    * carrying appends. No data or manifest files move. */
  def upgradeFormat(spark: SparkSession, table: String,
                    target: Int = 2): Long = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    require(target == 2 || target == 3,
      s"upgradeFormat target $target — 2 and 3 are the supported " +
        "format versions")
    val root = new Path(table)
    val fs = hadoopFs(spark, root)
    val metaDir = new Path(root, "metadata")
    val version = currentMetadataVersion(fs, table).getOrElse(
      throw new IllegalArgumentException(
        s"no v*.metadata.json under $table/metadata"))
    val metaJson = JsonMethods.parse(readText(fs,
      new Path(metaDir, s"v$version.metadata.json")))
    if (jLong(metaJson \ "format-version") >= target) return version
    // a v1 table targeted at 3 upgrades through 2 first (sequence
    // semantics), then the v3 republish below stacks on top
    if (jLong(metaJson \ "format-version") < 2 && target == 3) {
      upgradeFormat(spark, table, 2): Unit
      return upgradeFormat(spark, table, 3)
    }
    if (target == 3) return upgradeToV3(spark, fs, metaDir, version,
      metaJson)
    val lastPartitionId: Long = ((metaJson \ "partition-specs") match {
      case JArray(sps) => sps.flatMap(sp => (sp \ "fields") match {
        case JArray(fs0) => fs0.map(f => jLong(f \ "field-id"))
        case _ => Nil
      })
      case _ => (metaJson \ "partition-spec") match {
        case JArray(fs0) => fs0.map(f => jLong(f \ "field-id"))
        case _ => Nil
      }
    }).foldLeft(999L)(_ max _)
    val v2Only = Set("last-sequence-number", "last-partition-id",
      "default-sort-order-id", "sort-orders")
    val upgraded = JObject(metaJson.asInstanceOf[JObject].obj.map {
      case ("format-version", _) => "format-version" -> (JInt(2): JValue)
      case ("last-updated-ms", _) =>
        "last-updated-ms" -> (JLong(System.currentTimeMillis()): JValue)
      case other => other
    }.filterNot(f => v2Only(f._1)) ++ List[(String, JValue)](
      "last-sequence-number" -> JLong(0L),
      "last-partition-id" -> JLong(lastPartitionId),
      "default-sort-order-id" -> JInt(0),
      "sort-orders" -> JArray(List(JObject(List(
        "order-id" -> (JInt(0): JValue),
        "fields" -> (JArray(Nil): JValue)))))))
    val nextVersion = version + 1
    val metaTarget = new Path(metaDir, s"v$nextVersion.metadata.json")
    val metaTmp = new Path(metaDir,
      s".v$nextVersion.metadata.json.${java.util.UUID.randomUUID()}.tmp")
    val out = fs.create(metaTmp, false)
    try out.write(JsonMethods.compact(JsonMethods.render(upgraded))
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if (!ManifestLake.RenameCommit.publish(fs, metaTmp, metaTarget)) {
      fs.delete(metaTmp, false)
      throw new ConcurrentIcebergCommitException(
        s"metadata version $nextVersion of $root was committed " +
          "concurrently — re-read the table and retry")
    }
    val hint = fs.create(new Path(metaDir, "version-hint.text"), true)
    try hint.write(nextVersion.toString.getBytes(StandardCharsets.UTF_8))
    finally hint.close()
    nextVersion
  }

  /** The v2 → v3 metadata republish: `format-version` 3 plus the
    * v3-required `next-row-id` (row lineage starts at 0 — rows
    * written BEFORE the upgrade carry no assigned lineage, the spec's
    * upgrade convention; every post-upgrade snapshot claims its
    * `first-row-id`/`added-rows` range from here). Everything else
    * carries verbatim. */
  private def upgradeToV3(spark: SparkSession, fs: FileSystem,
      metaDir: Path, version: Long,
      metaJson: org.json4s.JValue): Long = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val upgraded = JObject(metaJson.asInstanceOf[JObject].obj.map {
      case ("format-version", _) => "format-version" -> (JInt(3): JValue)
      case ("last-updated-ms", _) =>
        "last-updated-ms" -> (JLong(System.currentTimeMillis()): JValue)
      case other => other
    }.filterNot(_._1 == "next-row-id") ++
      List[(String, JValue)]("next-row-id" -> JLong(0L)))
    val nextVersion = version + 1
    val metaTarget = new Path(metaDir, s"v$nextVersion.metadata.json")
    val metaTmp = new Path(metaDir,
      s".v$nextVersion.metadata.json.${java.util.UUID.randomUUID()}.tmp")
    val out = fs.create(metaTmp, false)
    try out.write(JsonMethods.compact(JsonMethods.render(upgraded))
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if (!ManifestLake.RenameCommit.publish(fs, metaTmp, metaTarget)) {
      fs.delete(metaTmp, false)
      throw new ConcurrentIcebergCommitException(
        s"v3 metadata of $metaDir was committed concurrently — " +
          "re-read the table and retry")
    }
    val hint = fs.create(new Path(metaDir, "version-hint.text"), true)
    try hint.write(nextVersion.toString.getBytes(StandardCharsets.UTF_8))
    finally hint.close()
    nextVersion
  }

  /** `ALTER TABLE … SET TBLPROPERTIES` — a metadata-only republish
    * merging `props` into the table's properties map; everything else
    * (snapshots, refs, specs, schemas) carries verbatim. The
    * `graft.stream.*` replay markers refuse by name — they are the
    * streaming sink's ledger, not user configuration. */
  def setProperties(spark: SparkSession, table: String,
                    props: Map[String, String]): Long = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    require(props.nonEmpty, "setProperties needs at least one property")
    props.keys.foreach(k => require(!k.startsWith("graft.stream."),
      s"$k is the streaming sink's replay ledger — not settable"))
    val root = new Path(table)
    val fs = hadoopFs(spark, root)
    val metaDir = new Path(root, "metadata")
    val version = currentMetadataVersion(fs, table).getOrElse(
      throw new IllegalArgumentException(
        s"no v*.metadata.json under $table/metadata"))
    val metaJson = JsonMethods.parse(readText(fs,
      new Path(metaDir, s"v$version.metadata.json")))
    val delta: List[(String, JValue)] =
      props.toList.sortBy(_._1).map { case (k, v) =>
        k -> (JString(v): JValue) }
    val next = JObject(metaJson.asInstanceOf[JObject].obj.map {
      case ("last-updated-ms", _) =>
        "last-updated-ms" -> (JLong(System.currentTimeMillis()): JValue)
      case ("properties", JObject(kvs)) =>
        "properties" -> (JObject(
          kvs.filterNot(kv => props.contains(kv._1)) ++ delta): JValue)
      case other => other
    } match {
      case fields if fields.exists(_._1 == "properties") => fields
      case fields => fields :+
        ("properties" -> (JObject(delta): JValue))
    })
    val nextVersion = version + 1
    val metaTarget = new Path(metaDir, s"v$nextVersion.metadata.json")
    val metaTmp = new Path(metaDir,
      s".v$nextVersion.metadata.json.${java.util.UUID.randomUUID()}.tmp")
    val out = fs.create(metaTmp, false)
    try out.write(JsonMethods.compact(JsonMethods.render(next))
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if (!ManifestLake.RenameCommit.publish(fs, metaTmp, metaTarget)) {
      fs.delete(metaTmp, false)
      throw new ConcurrentIcebergCommitException(
        s"metadata version $nextVersion of $root was committed " +
          "concurrently — re-read the table and retry")
    }
    val hint = fs.create(new Path(metaDir, "version-hint.text"), true)
    try hint.write(nextVersion.toString.getBytes(StandardCharsets.UTF_8))
    finally hint.close()
    nextVersion
  }

  /** Declare the table's DEFAULT SORT ORDER (spec §Sorting — the
    * `ALTER TABLE … WRITE ORDERED BY` surface): a metadata-only
    * republish that records the order under the next `order-id` (an
    * identical existing order is reused) and points
    * `default-sort-order-id` at it. Later [[write]]s range-distribute
    * and sort by the order, stamping `sort_order_id` on the staged
    * manifest entries; [[optimize]] re-sorts rewrites by it. An empty
    * `fields` declares the table UNSORTED again
    * (`default-sort-order-id` back to order 0). Only identity
    * transforms over top-level columns are declarable — transform
    * sort orders and nested/unknown columns refuse by name. Returns
    * the order id now default. */
  def replaceSortOrder(spark: SparkSession, table: String,
                       fields: Seq[IceSortField]): Int = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    fields.foreach { f =>
      if (f.transform != "identity")
        throw new UnsupportedIcebergFeatureException(
          s"sort order field ${f.source} declares transform " +
            s"${f.transform} — only identity sort orders are " +
            "declarable by this writer")
    }
    require(fields.map(_.source).distinct.size == fields.size,
      s"sort order for $table repeats a column")
    val root = new Path(table)
    val fs = hadoopFs(spark, root)
    val metaDir = new Path(root, "metadata")
    val version = currentMetadataVersion(fs, table).getOrElse(
      throw new IllegalArgumentException(
        s"no v*.metadata.json under $table/metadata"))
    val metaJson = JsonMethods.parse(readText(fs,
      new Path(metaDir, s"v$version.metadata.json")))
    // top-level field ids of the CURRENT schema — the order's
    // source-id vocabulary
    val curSchemaId = jLong(metaJson \ "current-schema-id") match {
      case -1L => 0L
      case id => id
    }
    val schemaNode: JValue = (metaJson \ "schemas") match {
      case JArray(xs) if xs.nonEmpty =>
        xs.find(s => jLong(s \ "schema-id") == curSchemaId)
          .getOrElse(xs.head)
      case _ => metaJson \ "schema"
    }
    val nameToId: Map[String, Long] = (schemaNode \ "fields") match {
      case JArray(fs0) => fs0.flatMap { f =>
        ((f \ "name"), jLong(f \ "id")) match {
          case (JString(n), id) if id >= 0 => Some(n -> id)
          case _ => None
        }
      }.toMap
      case _ => Map.empty
    }
    val wantJson: List[JValue] = fields.toList.map { f =>
      val sid = nameToId.getOrElse(f.source,
        throw new UnsupportedIcebergFeatureException(
          s"sort order column ${f.source} is not a top-level column " +
            s"of the current schema of $table"))
      JObject(List(
        "transform" -> JString("identity"),
        "source-id" -> JInt(sid),
        "direction" -> JString(if (f.asc) "asc" else "desc"),
        "null-order" -> JString(
          if (f.nullsFirst) "nulls-first" else "nulls-last")))
    }
    val priorOrders: List[JValue] = (metaJson \ "sort-orders") match {
      case JArray(xs) => xs
      case _ => List(JObject(List(
        "order-id" -> JInt(0), "fields" -> JArray(Nil))))
    }
    def orderFields(o: JValue): List[JValue] = (o \ "fields") match {
      case JArray(xs) => xs
      case _ => Nil
    }
    val (orderId, nextOrders) =
      if (fields.isEmpty) {
        // back to unsorted: order 0 must exist for the pointer
        val withZero =
          if (priorOrders.exists(o => jLong(o \ "order-id") == 0L))
            priorOrders
          else JObject(List("order-id" -> (JInt(0): JValue),
            "fields" -> (JArray(Nil): JValue))) :: priorOrders
        (0, withZero)
      } else priorOrders.find(o => orderFields(o) == wantJson) match {
        case Some(existing0) =>
          (jLong(existing0 \ "order-id").toInt, priorOrders)
        case None =>
          val nid = (priorOrders.map(o => jLong(o \ "order-id"))
            .filter(_ >= 0).foldLeft(0L)(_ max _) + 1).toInt
          (nid, priorOrders :+ (JObject(List(
            "order-id" -> (JInt(nid): JValue),
            "fields" -> (JArray(wantJson): JValue))): JValue))
      }
    val next = JObject(metaJson.asInstanceOf[JObject].obj.map {
      case ("last-updated-ms", _) =>
        "last-updated-ms" -> (JLong(System.currentTimeMillis()): JValue)
      case ("sort-orders", _) =>
        "sort-orders" -> (JArray(nextOrders): JValue)
      case ("default-sort-order-id", _) =>
        "default-sort-order-id" -> (JInt(orderId): JValue)
      case other => other
    } match {
      case fs0 =>
        val have = fs0.map(_._1).toSet
        fs0 ++
          (if (have("sort-orders")) Nil
           else List("sort-orders" -> (JArray(nextOrders): JValue))) ++
          (if (have("default-sort-order-id")) Nil
           else List("default-sort-order-id" ->
             (JInt(orderId): JValue)))
    })
    val nextVersion = version + 1
    val metaTarget = new Path(metaDir, s"v$nextVersion.metadata.json")
    val metaTmp = new Path(metaDir,
      s".v$nextVersion.metadata.json.${java.util.UUID.randomUUID()}.tmp")
    val out = fs.create(metaTmp, false)
    try out.write(JsonMethods.compact(JsonMethods.render(next))
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if (!ManifestLake.RenameCommit.publish(fs, metaTmp, metaTarget)) {
      fs.delete(metaTmp, false)
      throw new ConcurrentIcebergCommitException(
        s"metadata version $nextVersion of $root was committed " +
          "concurrently — re-read the table and retry")
    }
    val hint = fs.create(new Path(metaDir, "version-hint.text"), true)
    try hint.write(nextVersion.toString.getBytes(StandardCharsets.UTF_8))
    finally hint.close()
    orderId
  }

  /** PARTITION SPEC EVOLUTION (spec §Partition Evolution) — the
    * metadata-only republish that makes `fields` the table's DEFAULT
    * spec for FUTURE writes while every already-written file stays
    * under the spec it was committed with: reads resolve tuples and
    * pruning PER FILE by spec-id, so re-partitioning a 100 TB table
    * costs one metadata version, never a data rewrite — the point of
    * the feature at scale (the previous route here was a full-table
    * overwrite). The new spec lands in `partition-specs` under the
    * next spec-id (an IDENTICAL existing spec is reused); field-ids
    * of equivalent fields (same source-id + transform) CARRY OVER
    * from prior specs (the spec's id-reuse rule — a re-added field
    * keeps its identity), fresh fields continue past
    * `last-partition-id`. Transform × source-type combinations this
    * writer cannot stage refuse NOW, at declaration, not at the
    * first append. Dropping a field from a format-version 1 table
    * refuses by name (v1 preserves dropped fields as `void`
    * placeholders, which this writer does not stage — upgrade to v2
    * first). Returns the spec id now default. */
  def evolveSpec(spark: SparkSession, table: String,
                 fields: Seq[SpecField]): Int = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    require(fields.map(_.name).distinct.size == fields.size,
      s"partition spec for $table repeats a field name")
    val root = new Path(table)
    val fs = hadoopFs(spark, root)
    val metaDir = new Path(root, "metadata")
    val version = currentMetadataVersion(fs, table).getOrElse(
      throw new IllegalArgumentException(
        s"no v*.metadata.json under $table/metadata"))
    val metaJson = JsonMethods.parse(readText(fs,
      new Path(metaDir, s"v$version.metadata.json")))
    val formatVersion: Long = jLong(metaJson \ "format-version") max 1L
    val curSchemaId = jLong(metaJson \ "current-schema-id") match {
      case -1L => 0L
      case id => id
    }
    val schemaNode: JValue = (metaJson \ "schemas") match {
      case JArray(xs) if xs.nonEmpty =>
        xs.find(s => jLong(s \ "schema-id") == curSchemaId)
          .getOrElse(xs.head)
      case _ => metaJson \ "schema"
    }
    val nameToId: Map[String, Long] = (schemaNode \ "fields") match {
      case JArray(fs0) => fs0.flatMap { f =>
        ((f \ "name"), jLong(f \ "id")) match {
          case (JString(n), id) if id >= 0 => Some(n -> id)
          case _ => None
        }
      }.toMap
      case _ => Map.empty
    }
    val sparkSchema = icebergSchemaToSpark(schemaNode, table)
    // validate every declared field against the CURRENT schema — a
    // spec this writer could not stage an append under refuses here
    fields.foreach { sf =>
      val dt = sparkSchema.find(_.name == sf.source).map(_.dataType)
        .getOrElse(throw new UnsupportedIcebergFeatureException(
          s"partition source column ${sf.source} is not a top-level " +
            s"column of the current schema of $table"))
      if (tupleAvroType(sf.transform, dt).isEmpty)
        throw new UnsupportedIcebergFeatureException(
          s"cannot partition $table by ${sf.transform}(${sf.source}) " +
            s"over ${dt.sql} — not a transform/type combination this " +
            "writer models")
      if (sf.transform != "identity" && nameToId.contains(sf.name))
        throw new UnsupportedIcebergFeatureException(
          s"partition field name ${sf.name} of $table collides with a " +
            "schema column — derived partition fields need their own " +
            "name")
    }
    val priorSpecs: Seq[JValue] = (metaJson \ "partition-specs") match {
      case JArray(xs) => xs
      case _ => (metaJson \ "partition-spec") match {
        case arr @ JArray(fs0) if fs0.nonEmpty =>
          Seq(JObject(List("spec-id" -> JInt(0), "fields" -> arr)))
        case _ =>
          Seq(JObject(List("spec-id" -> (JInt(0): JValue),
            "fields" -> (JArray(Nil): JValue))))
      }
    }
    val defaultSpecId = jLong(metaJson \ "default-spec-id") match {
      case -1L => 0L
      case id => id
    }
    def fieldsOf(node: JValue): Seq[JValue] = (node \ "fields") match {
      case JArray(xs) => xs
      case _ => Nil
    }
    // v1 cannot express a dropped field without a void placeholder
    if (formatVersion < 2) {
      val cur = priorSpecs.find(n => jLong(n \ "spec-id") == defaultSpecId)
        .map(fieldsOf).getOrElse(Nil)
      val keptKeys = fields.map(sf =>
        (nameToId.getOrElse(sf.source, -1L), sf.transform)).toSet
      val dropped = cur.filter { f =>
        !keptKeys((jLong(f \ "source-id"), (f \ "transform") match {
          case JString(t) => t
          case _ => ""
        }))
      }
      if (dropped.nonEmpty)
        throw new UnsupportedIcebergFeatureException(
          s"dropping partition fields from format-version 1 table " +
            s"$table — v1 spec evolution preserves dropped fields as " +
            "void placeholders, which this writer does not stage; " +
            "upgradeFormat to 2 first")
    }
    // field-id assignment: reuse the id of any EQUIVALENT prior field
    // (same source-id + transform); fresh fields continue past the
    // highest id ever assigned
    val priorFieldIds: Map[(Long, String), Long] =
      priorSpecs.flatMap(fieldsOf).flatMap { f =>
        ((f \ "transform"), jLong(f \ "source-id"),
          jLong(f \ "field-id")) match {
          case (JString(t), sid, fid) if sid >= 0 && fid >= 0 =>
            Some((sid, t) -> fid)
          case _ => None
        }
      }.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).min }
    var nextFieldId: Long =
      (priorSpecs.flatMap(fieldsOf).map(f => jLong(f \ "field-id")) :+
        jLong(metaJson \ "last-partition-id")).foldLeft(999L)(_ max _) + 1
    val wantJson: List[JValue] = fields.toList.map { sf =>
      val sid = nameToId(sf.source)
      val fid = priorFieldIds.getOrElse((sid, sf.transform), {
        val v = nextFieldId; nextFieldId += 1; v
      })
      JObject(List("name" -> JString(sf.name),
        "transform" -> JString(sf.transform),
        "source-id" -> JInt(sid), "field-id" -> JInt(fid)))
    }
    def sameFields(node: JValue): Boolean = {
      val fs0 = fieldsOf(node)
      fs0.length == wantJson.length && fs0.zip(wantJson).forall {
        case (a, b) => (a \ "name") == (b \ "name") &&
          (a \ "transform") == (b \ "transform") &&
          jLong(a \ "source-id") == jLong(b \ "source-id")
      }
    }
    val (specId, nextSpecs) = priorSpecs.find(sameFields) match {
      case Some(existing0) =>
        (jLong(existing0 \ "spec-id").toInt, priorSpecs)
      case None =>
        val nid = (priorSpecs.map(n => jLong(n \ "spec-id"))
          .filter(_ >= 0).foldLeft(-1L)(_ max _) + 1).toInt
        (nid, priorSpecs :+ (JObject(List(
          "spec-id" -> (JInt(nid): JValue),
          "fields" -> (JArray(wantJson): JValue))): JValue))
    }
    if (specId == defaultSpecId && priorSpecs.find(sameFields).isDefined)
      return specId // already the default — nothing to publish
    val highestFieldId: Long = nextSpecs.flatMap(fieldsOf)
      .map(f => jLong(f \ "field-id")).foldLeft(999L)(_ max _)
    val defaultFieldsJson: JValue =
      nextSpecs.find(n => jLong(n \ "spec-id") == specId.toLong)
        .map(n => JArray(fieldsOf(n).toList): JValue)
        .getOrElse(JArray(wantJson))
    val next = JObject(metaJson.asInstanceOf[JObject].obj.map {
      case ("last-updated-ms", _) =>
        "last-updated-ms" -> (JLong(System.currentTimeMillis()): JValue)
      case ("partition-specs", _) =>
        "partition-specs" -> (JArray(nextSpecs.toList): JValue)
      case ("default-spec-id", _) =>
        "default-spec-id" -> (JInt(specId): JValue)
      case ("partition-spec", _) => // legacy mirror of the default
        "partition-spec" -> defaultFieldsJson
      case ("last-partition-id", _) =>
        "last-partition-id" -> (JLong(highestFieldId): JValue)
      case other => other
    } match {
      case fs0 =>
        val have = fs0.map(_._1).toSet
        fs0 ++
          (if (have("partition-specs")) Nil
           else List("partition-specs" ->
             (JArray(nextSpecs.toList): JValue))) ++
          (if (have("default-spec-id")) Nil
           else List("default-spec-id" -> (JInt(specId): JValue))) ++
          (if (have("last-partition-id") || formatVersion < 2) Nil
           else List("last-partition-id" ->
             (JLong(highestFieldId): JValue)))
    })
    val nextVersion = version + 1
    val metaTarget = new Path(metaDir, s"v$nextVersion.metadata.json")
    val metaTmp = new Path(metaDir,
      s".v$nextVersion.metadata.json.${java.util.UUID.randomUUID()}.tmp")
    val out = fs.create(metaTmp, false)
    try out.write(JsonMethods.compact(JsonMethods.render(next))
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if (!ManifestLake.RenameCommit.publish(fs, metaTmp, metaTarget)) {
      fs.delete(metaTmp, false)
      throw new ConcurrentIcebergCommitException(
        s"metadata version $nextVersion of $root was committed " +
          "concurrently — re-read the table and retry")
    }
    val hint = fs.create(new Path(metaDir, "version-hint.text"), true)
    try hint.write(nextVersion.toString.getBytes(StandardCharsets.UTF_8))
    finally hint.close()
    specId
  }

  /** `ALTER TABLE … ADD PARTITION FIELD` — [[evolveSpec]] with the
    * current default spec plus one field. A field the spec already
    * carries refuses by name. */
  def addPartitionField(spark: SparkSession, table: String,
                        field: SpecField): Int = {
    val cur = currentDefaultSpecFields(spark, table)
    if (cur.exists(f => f.source == field.source &&
        f.transform == field.transform))
      throw new UnsupportedIcebergFeatureException(
        s"$table is already partitioned by " +
          s"${field.transform}(${field.source})")
    evolveSpec(spark, table, cur :+ field)
  }

  /** `ALTER TABLE … DROP PARTITION FIELD` — [[evolveSpec]] with the
    * current default spec minus the matching field (matched by
    * transform × source). A field the spec does not carry refuses by
    * name. */
  def dropPartitionField(spark: SparkSession, table: String,
                         field: SpecField): Int = {
    val cur = currentDefaultSpecFields(spark, table)
    val kept = cur.filterNot(f => f.source == field.source &&
      f.transform == field.transform)
    if (kept.size == cur.size)
      throw new UnsupportedIcebergFeatureException(
        s"${field.transform}(${field.source}) is not a field of the " +
          s"current partition spec of $table — nothing to drop")
    evolveSpec(spark, table, kept)
  }

  /** The current DEFAULT spec's fields, source ids resolved to
    * top-level column names — one metadata read. A spec field whose
    * source this writer cannot name (nested or dropped column)
    * refuses: evolution must not silently discard what it cannot
    * carry. */
  private def currentDefaultSpecFields(spark: SparkSession,
      table: String): Seq[SpecField] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val root = new Path(table)
    val fs = hadoopFs(spark, root)
    val metaDir = new Path(root, "metadata")
    val version = currentMetadataVersion(fs, table).getOrElse(
      throw new IllegalArgumentException(
        s"no v*.metadata.json under $table/metadata"))
    val metaJson = JsonMethods.parse(readText(fs,
      new Path(metaDir, s"v$version.metadata.json")))
    val curSchemaId = jLong(metaJson \ "current-schema-id") match {
      case -1L => 0L
      case id => id
    }
    val schemaNode: JValue = (metaJson \ "schemas") match {
      case JArray(xs) if xs.nonEmpty =>
        xs.find(s => jLong(s \ "schema-id") == curSchemaId)
          .getOrElse(xs.head)
      case _ => metaJson \ "schema"
    }
    val idToName: Map[Long, String] = (schemaNode \ "fields") match {
      case JArray(fs0) => fs0.flatMap { f =>
        ((f \ "name"), jLong(f \ "id")) match {
          case (JString(n), id) if id >= 0 => Some(id -> n)
          case _ => None
        }
      }.toMap
      case _ => Map.empty
    }
    val defaultSpecId = jLong(metaJson \ "default-spec-id") match {
      case -1L => 0L
      case id => id
    }
    val specNode: Option[JValue] = (metaJson \ "partition-specs") match {
      case JArray(xs) =>
        xs.find(n => jLong(n \ "spec-id") == defaultSpecId)
      case _ => (metaJson \ "partition-spec") match {
        case arr @ JArray(fs0) if fs0.nonEmpty =>
          Some(JObject(List("spec-id" -> JInt(0), "fields" -> arr)))
        case _ => None
      }
    }
    specNode.map(n => (n \ "fields") match {
      case JArray(fs0) => fs0.map { f =>
        ((f \ "name"), (f \ "transform"), jLong(f \ "source-id")) match {
          case (JString(nm), JString(t), sid) =>
            idToName.get(sid).map(src => SpecField(nm, t, src))
              .getOrElse(throw new UnsupportedIcebergFeatureException(
                s"partition field $nm of $table sources field id " +
                  s"$sid, which is not a top-level column of the " +
                  "current schema — cannot evolve a spec this writer " +
                  "cannot fully name"))
          case _ => throw new UnsupportedIcebergFeatureException(
            s"unreadable partition field in the default spec of $table")
        }
      }
      case _ => Nil
    }).getOrElse(Nil)
  }

  /** The table's recorded properties map — [[setProperties]]' read
    * side, one metadata read. */
  def properties(spark: SparkSession, table: String)
      : Map[String, String] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val root = new Path(table)
    val fs = hadoopFs(spark, root)
    val version = currentMetadataVersion(fs, table).getOrElse(
      throw new IllegalArgumentException(
        s"no v*.metadata.json under $table/metadata"))
    JsonMethods.parse(readText(fs, new Path(new Path(root, "metadata"),
      s"v$version.metadata.json"))) \ "properties" match {
      case JObject(kvs) => kvs.collect {
        case (k, JString(v)) => k -> v }.toMap
      case _ => Map.empty
    }
  }

  /** `DESCRIBE HISTORY` — one row per RETAINED snapshot (expired ones
    * are gone by design): snapshot id, sequence number (0 on v1),
    * wall-clock timestamp, operation, and whether it is current.
    * One metadata read, no data IO. */
  def history(spark: SparkSession, table: String): DataFrame = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    import spark.implicits._
    val root = new Path(table)
    val fs = hadoopFs(spark, root)
    val metaDir = new Path(root, "metadata")
    val version = currentMetadataVersion(fs, table).getOrElse(
      throw new IllegalArgumentException(
        s"no v*.metadata.json under $table/metadata"))
    val metaJson = JsonMethods.parse(readText(fs,
      new Path(metaDir, s"v$version.metadata.json")))
    val current = jLong(metaJson \ "current-snapshot-id")
    val rows = (metaJson \ "snapshots") match {
      case JArray(xs) => xs.map { sn =>
        val id = jLong(sn \ "snapshot-id")
        val op = (sn \ "summary" \ "operation") match {
          case JString(s) => s
          case _ => ""
        }
        (id, jLong(sn \ "sequence-number") max 0L,
          jLong(sn \ "timestamp-ms"), op, id == current)
      }
      case _ => Nil
    }
    rows.toDF("snapshot_id", "sequence_number", "timestamp_ms",
      "operation", "is_current")
  }

  // ------------------------------------------------- inspection tables

  /** `$snapshots` — Iceberg's snapshots inspection table: one row per
    * RETAINED snapshot with commit time, operation, manifest list and
    * the full summary map. One metadata read, no data IO. */
  def snapshotsTable(spark: SparkSession, table: String): DataFrame = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    import spark.implicits._
    val metaDir = new Path(table, "metadata")
    val fs = hadoopFs(spark, metaDir)
    val version = currentMetadataVersion(fs, table).getOrElse(
      throw new IllegalArgumentException(
        s"no v*.metadata.json under $table/metadata"))
    val metaJson = JsonMethods.parse(readText(fs,
      new Path(metaDir, s"v$version.metadata.json")))
    val current = jLong(metaJson \ "current-snapshot-id")
    val rows = (metaJson \ "snapshots") match {
      case JArray(xs) => xs.map { sn =>
        val summary = (sn \ "summary") match {
          case JObject(kvs) => kvs.collect {
            case (k, JString(v)) => k -> v }.toMap
          case _ => Map.empty[String, String]
        }
        val id = jLong(sn \ "snapshot-id")
        (jLong(sn \ "timestamp-ms"), id,
          jLong(sn \ "sequence-number") max 0L,
          summary.getOrElse("operation", ""),
          (sn \ "manifest-list") match {
            case JString(ml) => ml
            case _ => null
          },
          jLong(sn \ "schema-id") match {
            case -1L => None
            case sid => Some(sid)
          },
          id == current, summary)
      }
      case _ => Nil
    }
    rows.toDF("committed_at_ms", "snapshot_id", "sequence_number",
      "operation", "manifest_list", "schema_id", "is_current", "summary")
  }

  /** `$manifests` — the current snapshot's manifest-list rows: path,
    * length, spec id, content (0 data / 1 deletes), sequence numbers
    * and the added/existing/deleted counts where the list records
    * them (v1 lists lack counts → null). One metadata read plus the
    * manifest-list avro, no manifest or data IO. */
  def manifestsTable(spark: SparkSession, table: String): DataFrame = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    import spark.implicits._
    val metaDir = new Path(table, "metadata")
    val fs = hadoopFs(spark, metaDir)
    val version = currentMetadataVersion(fs, table).getOrElse(
      throw new IllegalArgumentException(
        s"no v*.metadata.json under $table/metadata"))
    val metaJson = JsonMethods.parse(readText(fs,
      new Path(metaDir, s"v$version.metadata.json")))
    val current = jLong(metaJson \ "current-snapshot-id")
    val listPath: Option[String] = (metaJson \ "snapshots") match {
      case JArray(xs) => xs
        .find(sn => jLong(sn \ "snapshot-id") == current)
        .flatMap(sn => (sn \ "manifest-list") match {
          case JString(ml) => Some(ml)
          case _ => None
        })
      case _ => None
    }
    def num(r: GenericRecord, f: String): Option[Long] =
      fieldOpt(r, f).map(_.asInstanceOf[Number].longValue)
    val rows = listPath.toSeq.flatMap(ml =>
      avroRows(fs, new Path(ml))).map { mf =>
      (mf.get("manifest_path").toString,
        num(mf, "manifest_length").getOrElse(0L),
        num(mf, "partition_spec_id").getOrElse(0L).toInt,
        num(mf, "content").getOrElse(0L).toInt,
        num(mf, "sequence_number"),
        num(mf, "min_sequence_number"),
        num(mf, "added_snapshot_id"),
        num(mf, "added_files_count")
          .orElse(num(mf, "added_data_files_count")),
        num(mf, "existing_files_count")
          .orElse(num(mf, "existing_data_files_count")),
        num(mf, "deleted_files_count")
          .orElse(num(mf, "deleted_data_files_count")),
        num(mf, "added_rows_count"),
        num(mf, "existing_rows_count"),
        num(mf, "deleted_rows_count"))
    }
    rows.toDF("path", "length", "partition_spec_id", "content",
      "sequence_number", "min_sequence_number", "added_snapshot_id",
      "added_files_count", "existing_files_count",
      "deleted_files_count", "added_rows_count", "existing_rows_count",
      "deleted_rows_count")
  }

  /** `$files` — the current snapshot's live file surface: data files
    * (content 0) plus the delete surface — position-delete parquet
    * and v3 DV puffin (content 1), equality deletes (content 2).
    * Partition tuples stringify per value. O(files) metadata from the
    * already-resolved state, no data IO. */
  def filesTable(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    val st = state(spark, table, None)
    def strTuple(m: Map[String, AnyRef]): Map[String, String] =
      m.map { case (k, v) => k -> (if (v == null) null else v.toString) }
    val data = st.files.map(f =>
      (0, f.path, f.format.toUpperCase(java.util.Locale.ROOT),
        f.specId, strTuple(f.partition), Option(f.records),
        Option(f.bytes), f.sortOrderId, f.seq,
        if (f.snapId >= 0) Some(f.snapId) else None, f.firstRowId))
    val pos = st.posDeletes.map(p =>
      (1, p, "PARQUET", st.defaultSpecId, Map.empty[String, String],
        Option.empty[Long], Option.empty[Long], Option.empty[Int], 0L,
        Option.empty[Long], Option.empty[Long]))
    val dv = st.dvDeletes.map(d =>
      (1, d.path, "PUFFIN", st.defaultSpecId, Map.empty[String, String],
        Option.empty[Long], Option.empty[Long], Option.empty[Int], 0L,
        Option.empty[Long], Option.empty[Long]))
    val eq = st.eqDeletes.map(e =>
      (2, e.path, "PARQUET", st.defaultSpecId, Map.empty[String, String],
        Option.empty[Long], Option.empty[Long], Option.empty[Int],
        e.seq, Option.empty[Long], Option.empty[Long]))
    (data ++ pos ++ dv ++ eq).toDF("content", "file_path",
      "file_format", "spec_id", "partition", "record_count",
      "file_size_in_bytes", "sort_order_id", "sequence_number",
      "snapshot_id", "first_row_id")
  }

  /** `$partitions` — the data surface grouped by partition tuple:
    * file/row/byte totals per tuple. O(files) metadata. */
  def partitionsTable(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    val st = state(spark, table, None)
    st.files.groupBy(f => (f.specId, f.partition)).toSeq.map {
      case ((specId, tuple), fs0) =>
        (tuple.map { case (k, v) =>
          k -> (if (v == null) null else v.toString) },
          specId, fs0.size.toLong, fs0.map(_.records).sum,
          fs0.map(_.bytes).sum)
    }.toDF("partition", "spec_id", "data_file_count", "record_count",
      "total_size_bytes")
  }

  // --------------------------------------------------- table statistics

  /** COMPUTE TABLE STATISTICS (spec §Table statistics): one
    * distributed aggregation pass over the LIVE rows computes
    * per-column NDV (HLL++ — deterministic, no data collected), a
    * spec-shaped Puffin statistics file lands under `metadata/`, and
    * the table metadata republishes with the `statistics` entry for
    * the CURRENT snapshot (replacing a prior entry for the same
    * snapshot — stats are per-snapshot). Blob payloads carry the
    * count as 8 LE bytes under the `graft-ndv-v1` type; the `ndv`
    * value ALSO rides the blob-metadata `properties` map, which is
    * how engines consume Iceberg NDV for planning (the footer is
    * read, the sketch only parsed when merging) — a foreign reader
    * skips the unknown blob type and still gets the number. Returns
    * the snapshot id the stats describe. */
  def computeStats(spark: SparkSession, table: String,
                   cols: Seq[String] = Nil): Long = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val st = state(spark, table, None)
    require(st.snapshotId != -1L,
      s"computeStats: $table has no current snapshot")
    val targets =
      if (cols.isEmpty) st.schema.fields.toSeq.map(_.name)
      else {
        cols.foreach(c => require(st.schema.exists(_.name == c),
          s"computeStats column $c is not in the schema of $table"))
        cols
      }
    val df = toDF(spark, st)
    val aggs = targets.map(c =>
      functions.approx_count_distinct(functions.col(c)).as(c))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val ndv: Seq[(String, Long)] =
      targets.zipWithIndex.map { case (c, i) => c -> row.getLong(i) }
    val root = new Path(table)
    val fs = hadoopFs(spark, root)
    val metaDir = new Path(root, "metadata")
    val version = currentMetadataVersion(fs, table).get
    val metaJson = JsonMethods.parse(readText(fs,
      new Path(metaDir, s"v$version.metadata.json")))
    val seq = jLong(metaJson \ "last-sequence-number") max 0L
    // one Puffin stats file: framed 8-byte counts + the JSON footer
    val statsPath = new Path(metaDir,
      s"${java.util.UUID.randomUUID()}.stats")
    val magic = "PFA1".getBytes(StandardCharsets.UTF_8)
    var footerSize = 0L
    val out = fs.create(statsPath, false)
    try {
      out.write(magic)
      var offset = 4L
      val placed = ndv.map { case (c, n) =>
        val payload = java.nio.ByteBuffer.allocate(8)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(n).array()
        out.write(payload)
        val here = offset
        offset += payload.length
        (c, n, here, payload.length.toLong)
      }
      val blobsJson = placed.map { case (c, n, off, size) =>
        val fid = st.evo.fieldIds.getOrElse(c, 0L)
        s"""{"type":"graft-ndv-v1","fields":[$fid],""" +
          s""""snapshot-id":${st.snapshotId},""" +
          s""""sequence-number":$seq,""" +
          s""""offset":$off,"length":$size,""" +
          s""""properties":{"ndv":${jstr(n.toString)},""" +
          s""""column":${jstr(c)}}}"""
      }.mkString(",")
      val payload = (s"""{"blobs":[$blobsJson],""" +
        s""""properties":{"created-by":${jstr("graft")}}}""")
        .getBytes(StandardCharsets.UTF_8)
      out.write(magic)
      out.write(payload)
      val tail = java.nio.ByteBuffer.allocate(8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      tail.putInt(payload.length)
      tail.putInt(0)
      out.write(tail.array())
      out.write(magic)
      footerSize = 4L + payload.length + 8L + 4L
    } finally out.close()
    val fileSize = fs.getFileStatus(statsPath).getLen
    val entry: JValue = JObject(List(
      "snapshot-id" -> JLong(st.snapshotId),
      "statistics-path" -> JString(statsPath.toString),
      "file-size-in-bytes" -> JLong(fileSize),
      "file-footer-size-in-bytes" -> JLong(footerSize),
      "blob-metadata" -> JArray(ndv.map { case (c, n) =>
        JObject(List(
          "type" -> JString("graft-ndv-v1"),
          "snapshot-id" -> (JLong(st.snapshotId): JValue),
          "sequence-number" -> (JLong(seq): JValue),
          "fields" -> (JArray(List(
            JLong(st.evo.fieldIds.getOrElse(c, 0L)))): JValue),
          "properties" -> (JObject(List(
            "ndv" -> (JString(n.toString): JValue),
            "column" -> (JString(c): JValue))): JValue))): JValue
      }.toList)))
    // replace any prior entry for the SAME snapshot, keep others —
    // the replaced entry's file (ours, now unreferenced) deletes
    // after the publish lands
    val superseded = Seq.newBuilder[String]
    val next = JObject(metaJson.asInstanceOf[JObject].obj.map {
      case ("last-updated-ms", _) =>
        "last-updated-ms" -> (JLong(System.currentTimeMillis()): JValue)
      case ("statistics", JArray(xs)) =>
        val (old, kept) = xs.partition(e =>
          jLong(e \ "snapshot-id") == st.snapshotId)
        old.foreach(e => (e \ "statistics-path") match {
          case JString(p) => superseded += p
          case _ => ()
        })
        "statistics" -> (JArray(kept :+ entry): JValue)
      case other => other
    } match {
      case fs0 if fs0.exists(_._1 == "statistics") => fs0
      case fs0 => fs0 :+ ("statistics" -> (JArray(List(entry)): JValue))
    })
    val nextVersion = version + 1
    val metaTarget = new Path(metaDir, s"v$nextVersion.metadata.json")
    val metaTmp = new Path(metaDir,
      s".v$nextVersion.metadata.json.${java.util.UUID.randomUUID()}.tmp")
    val o2 = fs.create(metaTmp, false)
    try o2.write(JsonMethods.compact(JsonMethods.render(next))
      .getBytes(StandardCharsets.UTF_8))
    finally o2.close()
    if (!ManifestLake.RenameCommit.publish(fs, metaTmp, metaTarget)) {
      fs.delete(metaTmp, false)
      fs.delete(statsPath, false)
      throw new ConcurrentIcebergCommitException(
        s"metadata version $nextVersion of $root was committed " +
          "concurrently — re-read the table and retry")
    }
    val hint = fs.create(new Path(metaDir, "version-hint.text"), true)
    try hint.write(nextVersion.toString.getBytes(StandardCharsets.UTF_8))
    finally hint.close()
    superseded.result().foreach(p =>
      scala.util.Try(fs.delete(new Path(p), false)): Unit)
    st.snapshotId
  }

  /** `$stats` — the recorded statistics surface: one row per
    * (statistics file, column) with the NDV read from the footer's
    * blob-metadata PROPERTIES (no blob parse — exactly how engines
    * consume it). One metadata read. */
  def statsTable(spark: SparkSession, table: String): DataFrame = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    import spark.implicits._
    val metaDir = new Path(table, "metadata")
    val fs = hadoopFs(spark, metaDir)
    val version = currentMetadataVersion(fs, table).getOrElse(
      throw new IllegalArgumentException(
        s"no v*.metadata.json under $table/metadata"))
    val metaJson = JsonMethods.parse(readText(fs,
      new Path(metaDir, s"v$version.metadata.json")))
    val rows = (metaJson \ "statistics") match {
      case JArray(entries) => entries.flatMap { e =>
        val snap = jLong(e \ "snapshot-id")
        val path = (e \ "statistics-path") match {
          case JString(p) => p
          case _ => null
        }
        (e \ "blob-metadata") match {
          case JArray(bs) => bs.map { b =>
            val props = (b \ "properties") match {
              case JObject(kvs) => kvs.collect {
                case (k, JString(v)) => k -> v }.toMap
              case _ => Map.empty[String, String]
            }
            val btype = (b \ "type") match {
              case JString(s0) => s0
              case _ => ""
            }
            (snap, path, btype, props.getOrElse("column", null),
              props.get("ndv").map(_.toLong))
          }
          case _ => Nil
        }
      }
      case _ => Nil
    }
    rows.toDF("snapshot_id", "statistics_path", "blob_type", "column",
      "ndv")
  }

  /** PARTITION STATISTICS (spec §Partition statistics): one
    * spec-shaped PARQUET file per compute — a row per partition tuple
    * of the current snapshot with `spec_id`, record/file/byte totals
    * — registered under the metadata `partition-statistics` list for
    * the CURRENT snapshot (same-snapshot recompute replaces). All
    * numbers come from the already-resolved manifests: O(files)
    * metadata, no data IO; the parquet write is one driver-built
    * DataFrame of O(partitions) rows. Carried by commits and pruned
    * by expiry exactly like [[computeStats]]' entries. Returns the
    * snapshot id described. */
  def computePartitionStats(spark: SparkSession, table: String): Long = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    import spark.implicits._
    val st = state(spark, table, None)
    require(st.snapshotId != -1L,
      s"computePartitionStats: $table has no current snapshot")
    val rows = st.files.groupBy(f => (f.specId, f.partition)).toSeq
      .map { case ((specId, tuple), fs0) =>
        (tuple.map { case (k, v) =>
          k -> (if (v == null) null else v.toString) },
          specId, fs0.map(_.records).sum, fs0.size.toLong,
          fs0.map(_.bytes).sum)
      }
    val df = rows.toDF("partition", "spec_id", "data_record_count",
      "data_file_count", "total_data_file_size_in_bytes")
    val root = new Path(table)
    val fs = hadoopFs(spark, root)
    val metaDir = new Path(root, "metadata")
    val stage = new Path(root,
      s".pstats-${java.util.UUID.randomUUID()}")
    df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val part = fs.listStatus(stage).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).getOrElse(
        throw new IllegalStateException(
          s"partition-stats staging produced no parquet under $stage"))
    val statsPath = new Path(metaDir,
      s"${java.util.UUID.randomUUID()}-partition-stats.parquet")
    if (!fs.rename(part, statsPath))
      throw new IllegalStateException(
        s"failed to move $part to $statsPath")
    fs.delete(stage, true): Unit
    val fileSize = fs.getFileStatus(statsPath).getLen
    val version = currentMetadataVersion(fs, table).get
    val metaJson = JsonMethods.parse(readText(fs,
      new Path(metaDir, s"v$version.metadata.json")))
    val entry: JValue = JObject(List(
      "snapshot-id" -> JLong(st.snapshotId),
      "statistics-path" -> JString(statsPath.toString),
      "file-size-in-bytes" -> JLong(fileSize)))
    val superseded = Seq.newBuilder[String]
    val next = JObject(metaJson.asInstanceOf[JObject].obj.map {
      case ("last-updated-ms", _) =>
        "last-updated-ms" -> (JLong(System.currentTimeMillis()): JValue)
      case ("partition-statistics", JArray(xs)) =>
        val (old, kept) = xs.partition(e =>
          jLong(e \ "snapshot-id") == st.snapshotId)
        old.foreach(e => (e \ "statistics-path") match {
          case JString(p) => superseded += p
          case _ => ()
        })
        "partition-statistics" -> (JArray(kept :+ entry): JValue)
      case other => other
    } match {
      case fs0 if fs0.exists(_._1 == "partition-statistics") => fs0
      case fs0 => fs0 :+
        ("partition-statistics" -> (JArray(List(entry)): JValue))
    })
    val nextVersion = version + 1
    val metaTarget = new Path(metaDir, s"v$nextVersion.metadata.json")
    val metaTmp = new Path(metaDir,
      s".v$nextVersion.metadata.json.${java.util.UUID.randomUUID()}.tmp")
    val o2 = fs.create(metaTmp, false)
    try o2.write(JsonMethods.compact(JsonMethods.render(next))
      .getBytes(StandardCharsets.UTF_8))
    finally o2.close()
    if (!ManifestLake.RenameCommit.publish(fs, metaTmp, metaTarget)) {
      fs.delete(metaTmp, false)
      fs.delete(statsPath, false)
      throw new ConcurrentIcebergCommitException(
        s"metadata version $nextVersion of $root was committed " +
          "concurrently — re-read the table and retry")
    }
    val hint = fs.create(new Path(metaDir, "version-hint.text"), true)
    try hint.write(nextVersion.toString.getBytes(StandardCharsets.UTF_8))
    finally hint.close()
    superseded.result().foreach(p =>
      scala.util.Try(fs.delete(new Path(p), false)): Unit)
    st.snapshotId
  }

  /** The recorded partition-statistics file for the CURRENT snapshot,
    * read back as a DataFrame (None when no entry describes it). */
  def partitionStats(spark: SparkSession, table: String)
      : Option[DataFrame] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val st = state(spark, table, None)
    val metaDir = new Path(table, "metadata")
    val fs = hadoopFs(spark, metaDir)
    val version = currentMetadataVersion(fs, table).get
    val metaJson = JsonMethods.parse(readText(fs,
      new Path(metaDir, s"v$version.metadata.json")))
    (metaJson \ "partition-statistics") match {
      case JArray(xs) => xs
        .find(e => jLong(e \ "snapshot-id") == st.snapshotId)
        .flatMap(e => (e \ "statistics-path") match {
          case JString(p) => Some(spark.read.parquet(p))
          case _ => None
        })
      case _ => None
    }
  }

  /** The current snapshot's recorded NDV per column — the planning
    * read of [[computeStats]]' output (empty when no stats entry
    * describes the current snapshot). */
  def tableNdv(spark: SparkSession, table: String): Map[String, Long] = {
    val st = state(spark, table, None)
    statsTable(spark, table).collect()
      .filter(r => r.getLong(0) == st.snapshotId &&
        !r.isNullAt(3) && !r.isNullAt(4))
      .map(r => r.getString(3) -> r.getLong(4)).toMap
  }

  // ----------------------------------------------------- branches & tags

  /** The table's named REFS: `name → (snapshotId, type)` where type
    * is `branch` or `tag` (the spec's `refs` metadata map). The
    * `main` branch is implicit — when the metadata declares none, the
    * current snapshot serves as it, exactly how Iceberg resolves an
    * un-declared main. O(1) metadata, no data IO. */
  def refs(spark: SparkSession, table: String)
      : Map[String, (Long, String)] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val metaDir = new Path(table, "metadata")
    val fs = hadoopFs(spark, metaDir)
    val version = currentMetadataVersion(fs, table).getOrElse(
      throw new IllegalArgumentException(
        s"no v*.metadata.json under $table/metadata"))
    val metaJson = JsonMethods.parse(readText(fs,
      new Path(metaDir, s"v$version.metadata.json")))
    val declared: Map[String, (Long, String)] =
      (metaJson \ "refs") match {
        case JObject(kvs) => kvs.flatMap { case (name, node) =>
          val sid = jLong(node \ "snapshot-id")
          if (sid < 0) None
          else Some(name -> (sid, (node \ "type") match {
            case JString(tp) => tp
            case _ => "branch"
          }))
        }.toMap
        case _ => Map.empty
      }
    val cur = jLong(metaJson \ "current-snapshot-id")
    if (!declared.contains("main") && cur >= 0)
      declared + ("main" -> (cur -> "branch"))
    else declared
  }

  /** Ref name → snapshot id; unknown names refuse BY NAME listing the
    * refs that exist (never a silent head read). */
  def resolveRef(spark: SparkSession, table: String, name: String): Long =
    refs(spark, table).getOrElse(name,
      throw new IllegalArgumentException(
        s"no branch or tag named '$name' on $table — refs: " +
          refs(spark, table).keys.toSeq.sorted.mkString("[", ", ", "]")))._1

  /** Time travel by BRANCH or TAG name — `VERSION AS OF 'tag'`. */
  def readRef(spark: SparkSession, table: String, name: String): DataFrame =
    readSnapshot(spark, table, resolveRef(spark, table, name))

  /** The `$refs` metadata table: one row per ref (implicit `main`
    * included), with its snapshot id and type. */
  def refsTable(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    refs(spark, table).toSeq.sortBy(_._1)
      .map { case (n, (sid, tp)) => (n, sid, tp) }
      .toDF("name", "snapshot_id", "type")
  }

  /** Create or move a TAG (`refType = "tag"`) or BRANCH (`"branch"`)
    * to `snapshotId` (default: the current snapshot) — one
    * metadata-version publication, no data IO. The snapshot must be
    * retained; `main` cannot be re-typed to a tag. */
  def createRef(spark: SparkSession, table: String, name: String,
                refType: String = "tag",
                snapshotId: Option[Long] = None): Unit = {
    require(refType == "tag" || refType == "branch",
      s"ref type must be 'tag' or 'branch', got '$refType'")
    require(!(name == "main" && refType == "tag"),
      "'main' is the table's head branch — it cannot become a tag")
    import org.json4s._
    transformMetadata(spark, table) { metaJson =>
      val snaps: Set[Long] = (metaJson \ "snapshots") match {
        case JArray(xs) => xs.map(s => jLong(s \ "snapshot-id")).toSet
        case _ => Set.empty
      }
      val target = snapshotId.getOrElse(
        jLong(metaJson \ "current-snapshot-id"))
      require(snaps.contains(target),
        s"snapshot $target is not retained by $table — a ref must " +
          "name a live snapshot")
      // Iceberg semantics: `main` IS the current-snapshot pointer.
      // DECLARING it at the head is fine; re-pointing it elsewhere
      // without moving current-snapshot-id would make `VERSION AS OF
      // 'main'` and a bare read diverge — the lockstep move
      // (snapshot-log entry included) is rollback's job.
      require(name != "main" ||
        target == jLong(metaJson \ "current-snapshot-id"),
        "'main' tracks current-snapshot-id — move the head with " +
          "rollbackToSnapshot, which keeps the ref, the pointer and " +
          "the snapshot log in lockstep")
      val entry: JValue = JObject(List(
        "snapshot-id" -> JLong(target), "type" -> JString(refType)))
      metaJson match {
        case JObject(kvs) =>
          val existing = kvs.collectFirst {
            case ("refs", JObject(rs)) => rs
          }.getOrElse(Nil)
          JObject(kvs.filterNot(_._1 == "refs") :+
            ("refs" -> (JObject(existing.filterNot(_._1 == name) :+
              (name -> entry)): JValue)))
        case other => other
      }
    }
  }

  /** Drop a ref. Dropping `main` refuses (the head must stay
    * addressable); dropping an unknown name refuses by name. */
  def dropRef(spark: SparkSession, table: String, name: String): Unit = {
    require(name != "main", "cannot drop the 'main' branch")
    import org.json4s._
    transformMetadata(spark, table) { metaJson =>
      val existing = metaJson \ "refs" match {
        case JObject(rs) => rs
        case _ => Nil
      }
      require(existing.exists(_._1 == name),
        s"no branch or tag named '$name' on $table")
      metaJson match {
        case JObject(kvs) =>
          JObject(kvs.filterNot(_._1 == "refs") :+
            ("refs" -> (JObject(
              existing.filterNot(_._1 == name)): JValue)))
        case other => other
      }
    }
  }

  /** One metadata-document transform published as the next version —
    * the shared tail of every metadata-only verb (refs, rollback,
    * evolution): read-modify-write with the same atomic
    * create-if-absent publication DML uses, so a racing writer
    * surfaces as [[ConcurrentIcebergCommitException]], never a lost
    * update. */
  private def transformMetadata(spark: SparkSession, table: String)(
      f: org.json4s.JValue => org.json4s.JValue): Unit = {
    import org.json4s.jackson.JsonMethods
    val metaDir = new Path(table, "metadata")
    val fs = hadoopFs(spark, metaDir)
    val version = currentMetadataVersion(fs, table).getOrElse(
      throw new IllegalArgumentException(
        s"no v*.metadata.json under $table/metadata"))
    val metaJson = JsonMethods.parse(readText(fs,
      new Path(metaDir, s"v$version.metadata.json")))
    val newMeta = f(metaJson)
    val nextVersion = version + 1
    val metaTarget = new Path(metaDir, s"v$nextVersion.metadata.json")
    val metaTmp = new Path(metaDir,
      s".v$nextVersion.metadata.json.${java.util.UUID.randomUUID()}.tmp")
    val out = fs.create(metaTmp, false)
    try out.write(JsonMethods.compact(JsonMethods.render(newMeta))
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
    val published = ManifestLake.RenameCommit.publish(fs, metaTmp, metaTarget)
    if (!published) {
      fs.delete(metaTmp, false)
      throw new ConcurrentIcebergCommitException(
        s"metadata version $nextVersion of $table was committed " +
          "concurrently — re-read the table and retry")
    }
    val hint = fs.create(new Path(metaDir, "version-hint.text"), true)
    try hint.write(nextVersion.toString.getBytes(StandardCharsets.UTF_8))
    finally hint.close()
  }

  /** `rollback_to_snapshot` — Iceberg's METADATA-ONLY rollback: the
    * current-snapshot pointer moves to a RETAINED older snapshot in a
    * new metadata version; no snapshot is created, no file moves, and
    * the rolled-past snapshots stay addressable (an expiry pass
    * retires them on its own schedule). The snapshot-log records the
    * rollback (the spec's rule: the log is the sequence of CURRENT
    * snapshots over time, not of commits). */
  /** FAST-FORWARD publish — the finish line of write-audit-publish:
    * point the CURRENT pointer (and a declared `main`) at `branch`'s
    * head, provided the head provably DESCENDS from the current
    * snapshot by the recorded `parent-snapshot-id` chain. A diverged
    * branch, an expired intermediate snapshot, or foreign snapshots
    * that never recorded parents make ancestry unprovable — refuse by
    * name, never splice history. Metadata-only; the snapshot-log
    * gains the published head (it tracks current-pointer changes).
    * Returns the published snapshot id. */
  def fastForward(spark: SparkSession, table: String,
                  branch: String): Long = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val root = new Path(table)
    val fs = hadoopFs(spark, root)
    val metaDir = new Path(root, "metadata")
    val version = currentMetadataVersion(fs, table).getOrElse(
      throw new IllegalArgumentException(
        s"no v*.metadata.json under $table/metadata"))
    val metaJson = JsonMethods.parse(readText(fs,
      new Path(metaDir, s"v$version.metadata.json")))
    val target = (metaJson \ "refs" \ branch) match {
      case JObject(kvs) =>
        val kind = kvs.collectFirst { case ("type", JString(t)) => t }
          .getOrElse("branch")
        if (kind != "branch")
          throw new UnsupportedIcebergFeatureException(
            s"fastForward target $branch of $table is a $kind — " +
              "only branches publish")
        kvs.collectFirst { case ("snapshot-id", v) => jLong(v) }
          .getOrElse(-1L)
      case _ => throw new IllegalArgumentException(
        s"fastForward: $table declares no branch named $branch")
    }
    val current = jLong(metaJson \ "current-snapshot-id")
    if (target == current) return current
    // ancestry: id → recorded parent (None = no parent recorded)
    val parents: Map[Long, Option[Long]] =
      (metaJson \ "snapshots") match {
        case JArray(xs) => xs.map(s =>
          jLong(s \ "snapshot-id") -> ((s \ "parent-snapshot-id") match {
            case JInt(p) => Some(p.toLong)
            case JLong(p) => Some(p)
            case _ => None
          })).toMap
        case _ => Map.empty
      }
    var cursor: Option[Long] = Some(target)
    var proved = current == -1L
    var hops = 0
    while (!proved && cursor.isDefined && hops <= parents.size) {
      hops += 1
      parents.get(cursor.get) match {
        case Some(Some(p)) =>
          if (p == current) proved = true else cursor = Some(p)
        case Some(None) => cursor = None // provable ROOT, head not met
        case None =>
          throw new UnsupportedIcebergFeatureException(
            s"fastForward of $table to $branch: ancestry walk " +
              s"reached snapshot ${cursor.get}, which the metadata " +
              "does not retain (expired, or a foreign snapshot " +
              "without parent-snapshot-id) — descent from the " +
              "current head is unprovable; refusing to splice " +
              "history")
      }
    }
    if (!proved)
      throw new UnsupportedIcebergFeatureException(
        s"fastForward of $table to $branch: the branch head $target " +
          s"does not descend from the current snapshot $current — " +
          "the table diverged under the branch; rebase the branch " +
          "(re-append onto the new head) instead")
    val now = System.currentTimeMillis()
    val logEntry: JValue = JObject(List(
      "timestamp-ms" -> (JLong(now): JValue),
      "snapshot-id" -> (JLong(target): JValue)))
    val next = JObject(metaJson.asInstanceOf[JObject].obj.map {
      case ("last-updated-ms", _) =>
        "last-updated-ms" -> (JLong(now): JValue)
      case ("current-snapshot-id", _) =>
        "current-snapshot-id" -> (JLong(target): JValue)
      case ("snapshot-log", JArray(xs)) =>
        "snapshot-log" -> (JArray(xs :+ logEntry): JValue)
      case ("refs", JObject(kvs)) =>
        "refs" -> (JObject(kvs.map {
          case ("main", JObject(fields)) =>
            "main" -> (JObject(fields.map {
              case ("snapshot-id", _) =>
                "snapshot-id" -> (JLong(target): JValue)
              case kv => kv
            }): JValue)
          case kv => kv
        }): JValue)
      case other => other
    })
    val nextVersion = version + 1
    val metaTarget = new Path(metaDir, s"v$nextVersion.metadata.json")
    val metaTmp = new Path(metaDir,
      s".v$nextVersion.metadata.json.${java.util.UUID.randomUUID()}.tmp")
    val out = fs.create(metaTmp, false)
    try out.write(JsonMethods.compact(JsonMethods.render(next))
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if (!ManifestLake.RenameCommit.publish(fs, metaTmp, metaTarget)) {
      fs.delete(metaTmp, false)
      throw new ConcurrentIcebergCommitException(
        s"metadata version $nextVersion of $root was committed " +
          "concurrently — re-read the table and retry the publish")
    }
    val hint = fs.create(new Path(metaDir, "version-hint.text"), true)
    try hint.write(nextVersion.toString.getBytes(StandardCharsets.UTF_8))
    finally hint.close()
    target
  }

  /** DML and maintenance verbs do NOT honor `spark.wap.branch` —
    * running them there would silently mutate MAIN from inside an
    * audit session. Refuse by name while the conf is set. */
  private def requireNoWapBranch(spark: SparkSession, table: String,
                                 verb: String): Unit =
    Option(spark.conf.get("spark.wap.branch", null)).filter(_.nonEmpty)
      .foreach(b => throw new UnsupportedIcebergFeatureException(
        s"$verb on $table inside wap session (spark.wap.branch=$b) — " +
          "only appends and reads honor the wap branch; publish with " +
          "fastForward (or unset the conf) first"))

  def rollbackTo(spark: SparkSession, table: String,
                 snapshotId: Long): Long = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val root = new Path(table)
    val fs = hadoopFs(spark, root)
    val metaDir = new Path(root, "metadata")
    val version = currentMetadataVersion(fs, table).getOrElse(
      throw new IllegalArgumentException(
        s"no v*.metadata.json under $table/metadata"))
    val metaJson = JsonMethods.parse(readText(fs,
      new Path(metaDir, s"v$version.metadata.json")))
    val known = (metaJson \ "snapshots") match {
      case JArray(xs) => xs.map(s => jLong(s \ "snapshot-id"))
      case _ => Nil
    }
    require(known.contains(snapshotId),
      s"snapshot $snapshotId is not retained in $table (have " +
        s"${known.mkString(", ")}) — an expired snapshot cannot be " +
        "rolled back to")
    if (jLong(metaJson \ "current-snapshot-id") == snapshotId)
      return version
    val now = System.currentTimeMillis()
    val logEntry: JValue = JObject(List(
      "timestamp-ms" -> (JLong(now): JValue),
      "snapshot-id" -> (JLong(snapshotId): JValue)))
    val next = JObject(metaJson.asInstanceOf[JObject].obj.map {
      case ("current-snapshot-id", _) =>
        "current-snapshot-id" -> (JLong(snapshotId): JValue)
      case ("last-updated-ms", _) =>
        "last-updated-ms" -> (JLong(now): JValue)
      case ("snapshot-log", JArray(xs)) =>
        "snapshot-log" -> (JArray(xs :+ logEntry): JValue)
      // a declared `main` branch follows the current pointer — a
      // stale main would serve the undone head via VERSION AS OF
      // 'main' and shield it from expiry
      case ("refs", JObject(kvs)) =>
        "refs" -> (JObject(kvs.map {
          case ("main", JObject(fields)) =>
            "main" -> (JObject(fields.map {
              case ("snapshot-id", _) =>
                "snapshot-id" -> (JLong(snapshotId): JValue)
              case kv => kv
            }): JValue)
          case kv => kv
        }): JValue)
      case other => other
    })
    val nextVersion = version + 1
    val metaTarget = new Path(metaDir, s"v$nextVersion.metadata.json")
    val metaTmp = new Path(metaDir,
      s".v$nextVersion.metadata.json.${java.util.UUID.randomUUID()}.tmp")
    val out = fs.create(metaTmp, false)
    try out.write(JsonMethods.compact(JsonMethods.render(next))
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if (!ManifestLake.RenameCommit.publish(fs, metaTmp, metaTarget)) {
      fs.delete(metaTmp, false)
      throw new ConcurrentIcebergCommitException(
        s"metadata version $nextVersion of $root was committed " +
          "concurrently — re-read the table and retry")
    }
    val hint = fs.create(new Path(metaDir, "version-hint.text"), true)
    try hint.write(nextVersion.toString.getBytes(StandardCharsets.UTF_8))
    finally hint.close()
    nextVersion
  }

  // ------------------------------------------------------ row-level DML

  /** One row-level DML commit's outcome. */
  final case class IceDml(snapshotId: Long, rowsAffected: Long,
                          filesTouched: Int)

  private def dmlNormStr(s: String): String =
    s.replaceFirst("^[A-Za-z][A-Za-z0-9+.-]*:/+", "/")

  /** `DELETE FROM` an Iceberg table, COPY-ON-WRITE: only data files
    * holding a matching row rewrite (without their matched rows); the
    * commit is one `overwrite` snapshot through [[publishRewrite]] —
    * untouched manifests carry verbatim, so metadata work tracks the
    * TOUCHED surface, not the table. SQL NULL semantics: a row
    * deletes only when the predicate is TRUE. Rewritten rows re-enter
    * under the table's current default partition spec (the engines'
    * rule for rewrites). Merge-on-read delete files must compact
    * first ([[compactDeletes]]) — copy-on-write over uncompacted
    * deletes would have to re-apply their semantics file by file. */
  def delete(spark: SparkSession, table: String,
             predicate: org.apache.spark.sql.Column): IceDml = {
    import org.apache.spark.sql.functions.{coalesce, col, count, lit}
    requireNoWapBranch(spark, table, "DELETE")
    val root = new Path(table)
    val fs = hadoopFs(spark, root)
    val st = state(spark, table, None)
    require(st.posDeletes.isEmpty && st.eqDeletes.isEmpty &&
      st.dvDeletes.isEmpty,
      s"table $table carries merge-on-read delete files — run " +
        "compactDeletes first (on v3, use deleteMor: row deletes " +
        "write deletion vectors natively); copy-on-write DML would " +
        "silently resurrect their deleted rows otherwise")
    if (st.files.isEmpty) return IceDml(st.snapshotId, 0L, 0)
    import spark.implicits._
    // touched files and per-file match counts in one lineage job
    val counts: Array[(String, Long)] =
      toDF(spark, st, keepLineage = true).filter(predicate)
        .groupBy(col("__fp")).agg(count(lit(1)).as("n"))
        .as[(String, Long)].collect()
    if (counts.isEmpty) return IceDml(st.snapshotId, 0L, 0)
    // raw + URI-escaped keys: `__fp` carries `_metadata.file_path`'s
    // percent-escapes (space-valued partition dirs arrive as `%20`)
    // while the manifest records the raw path
    val byNorm = st.files.flatMap(f =>
      ForeignDv.forms(f.path).map(_ -> f)).toMap
    val touched = counts.map(t => byNorm(t._1)).toSeq
    // survivors of ONLY the touched files; NULL-evaluating rows keep.
    // v3 survivors MATERIALIZE their resolved row lineage — a delete
    // never updates a surviving row, so both columns carry verbatim
    val survivors = (if (st.formatVersion >= 3)
        lineageResolved(spark, st.copy(files = touched), table)
          .drop("__fp", "__pos")
      else toDF(spark, st.copy(files = touched)))
      .filter(coalesce(!predicate, lit(true)))
    val added = stageRewritten(spark, fs, root, st, survivors)
    val snap = publishRewrite(spark, fs, root, st, added,
      touched.map(_.path).toSet, "overwrite", lineageSafe = true)
    IceDml(snap, counts.map(_._2).sum, touched.size)
  }

  /** `UPDATE ... SET ... WHERE ...` on an Iceberg table,
    * COPY-ON-WRITE: only files holding a matching row rewrite, with
    * assignments evaluated against the PRE-update row (SQL-style);
    * same snapshot/manifest economics as [[delete]]. Rewritten rows
    * re-enter under the current default spec, so an update that moves
    * a row's partition value lands it in the right tuple. */
  def update(spark: SparkSession, table: String,
             predicate: org.apache.spark.sql.Column,
             set: Seq[(String, org.apache.spark.sql.Column)]): IceDml = {
    import org.apache.spark.sql.functions.{col, count, lit, when}
    requireNoWapBranch(spark, table, "UPDATE")
    val root = new Path(table)
    val fs = hadoopFs(spark, root)
    val st = state(spark, table, None)
    require(st.posDeletes.isEmpty && st.eqDeletes.isEmpty &&
      st.dvDeletes.isEmpty,
      s"table $table carries merge-on-read delete files — run " +
        "compactDeletes first (on v3, use deleteMor: row deletes " +
        "write deletion vectors natively); copy-on-write DML would " +
        "silently resurrect their deleted rows otherwise")
    require(set.nonEmpty, "UPDATE needs at least one assignment")
    set.foreach { case (c, _) =>
      require(st.schema.exists(_.name == c),
        s"UPDATE target column $c is not in the schema of $table")
    }
    if (st.files.isEmpty) return IceDml(st.snapshotId, 0L, 0)
    import spark.implicits._
    val counts: Array[(String, Long)] =
      toDF(spark, st, keepLineage = true).filter(predicate)
        .groupBy(col("__fp")).agg(count(lit(1)).as("n"))
        .as[(String, Long)].collect()
    if (counts.isEmpty) return IceDml(st.snapshotId, 0L, 0)
    // raw + URI-escaped keys: `__fp` carries `_metadata.file_path`'s
    // percent-escapes (space-valued partition dirs arrive as `%20`)
    // while the manifest records the raw path
    val byNorm = st.files.flatMap(f =>
      ForeignDv.forms(f.path).map(_ -> f)).toMap
    val touched = counts.map(t => byNorm(t._1)).toSeq
    val setMap = set.toMap
    val v3 = st.formatVersion >= 3
    // v3 rewrites MATERIALIZE lineage: every row carries its resolved
    // `_row_id`; rows the predicate fires on take this commit's
    // sequence as `_last_updated_sequence_number`, bystanders in the
    // same files carry their old one
    val base =
      if (v3) lineageResolved(spark, st.copy(files = touched), table)
        .drop("__fp", "__pos")
      else toDF(spark, st.copy(files = touched))
    val newSeq: Long =
      if (!v3) 0L
      else {
        val meta = org.json4s.jackson.JsonMethods.parse(readText(fs,
          new Path(new Path(table),
            s"metadata/v${st.metadataVersion}.metadata.json")))
        (jLong(meta \ "last-sequence-number") max 0L) + 1L
      }
    val rewritten = base
      .select((st.schema.fields.toIndexedSeq.map { f =>
        setMap.get(f.name) match {
          case Some(e) =>
            when(predicate, e.cast(f.dataType))
              .otherwise(col(f.name)).as(f.name)
          case None => col(f.name)
        }
      } ++ (if (!v3) Nil
            else Seq(col(RowIdCol),
              when(predicate, lit(newSeq))
                .otherwise(col(LastUpdatedCol)).as(LastUpdatedCol))))
        : _*)
    val added = stageRewritten(spark, fs, root, st, rewritten)
    val snap = publishRewrite(spark, fs, root, st, added,
      touched.map(_.path).toSet, "overwrite", lineageSafe = true)
    IceDml(snap, counts.map(_._2).sum, touched.size)
  }

  /** `MERGE INTO` an Iceberg table — the classic upsert (`WHEN
    * MATCHED THEN UPDATE SET *` / `WHEN NOT MATCHED THEN INSERT *`),
    * the plain-shape door onto [[mergeApply]]'s clause machinery. The
    * source must carry the full schema (the wholesale-replacement
    * contract), and keys must be unique. See [[mergeApply]] for the
    * cost model. */
  def merge(source: DataFrame, table: String,
            keyCols: Seq[String]): IceDml = {
    requireNoWapBranch(source.sparkSession, table, "MERGE")
    val st = state(source.sparkSession, table, None)
    InteropSchema.requireAppendCompatible(source.schema, st.schema, table)
    mergeApplyResolved(st, source, table, keyCols,
      matched = Seq(ManifestLake.MergeUpdate()),
      notMatched = Seq(ManifestLake.MergeInsert()),
      notMatchedBySource = Nil, scope = None, fullTableMerge = false)
  }

  /** Generalized `MERGE INTO` — the full clause surface
    * ([[ManifestLake.mergeApply]]'s semantics on the interop's
    * copy-on-write staging):
    * {{{
    *   WHEN MATCHED [AND c] THEN UPDATE SET x = e, ... | UPDATE SET * | DELETE
    *   WHEN NOT MATCHED [AND c] THEN INSERT (x, ...) VALUES (e, ...) | INSERT *
    *   WHEN NOT MATCHED BY SOURCE [AND c] THEN UPDATE SET x = e, ... | DELETE
    * }}}
    * Clause conditions/values are Columns over the JOINED row: target
    * columns under their own names, source columns under
    * [[ManifestLake.MergeSrcPrefix]] ([[ManifestLake.mergeSrcCol]]);
    * FIRST-MATCH-WINS in declaration order, TRUE-only condition
    * gating, key-unique source. Rewritten and inserted rows re-derive
    * their partition tuples under the current default spec (a clause
    * that moves a partition value lands the row correctly).
    *
    * `WHEN NOT MATCHED BY SOURCE` keeps the lake's cost contract:
    * a `scope` predicate (pruned on manifest bounds/partition tuples
    * like DELETE's, with the documented sync-boundary reading), OR
    * `fullTableMerge = true`, OR a target provably small under
    * [[ManifestLake.NmbsSmallTableBytesConf]].
    *
    * Scale shape ([[MergeClauses]]' three passes over the persisted
    * source): one job over the source keys gives the duplicate-key
    * verdict; one key-column scan (column-pruned) semi-joined with
    * the source keys finds the key-matched files and keeps the
    * matched keys; one left join of the rewritten files' rows with
    * the source, unioned with the inserts (the source rows anti-joined
    * with the kept matched keys), is the data write, which counts
    * the rows as it reads them. The NMBS scope prunes candidates
    * on recorded bounds before one anti-join scan finds clause-fired
    * files; ONLY files holding a fired row rewrite; untouched
    * manifests carry verbatim through [[publishRewrite]], and the
    * snapshot summary records the added and deleted files and
    * records. AQE broadcasts a small source. On a 20,000-row, 4-file
    * table and a 200-row change batch that is 6 Spark jobs
    * (`MergeJobsSpec`). */
  def mergeApply(source: DataFrame, table: String, keyCols: Seq[String],
                 matched: Seq[ManifestLake.MergeMatched],
                 notMatched: Seq[ManifestLake.MergeInsert] = Nil,
                 notMatchedBySource: Seq[ManifestLake.MergeMatched] = Nil,
                 scope: Option[org.apache.spark.sql.Column] = None,
                 fullTableMerge: Boolean = false): IceDml = {
    requireNoWapBranch(source.sparkSession, table, "MERGE")
    mergeApplyResolved(state(source.sparkSession, table, None),
      source, table, keyCols, matched, notMatched,
      notMatchedBySource, scope, fullTableMerge)
  }

  /** [[mergeApply]] against an already-resolved state — one
    * metadata/manifest replay per statement whatever the entry
    * point (merge() checks schema compatibility against the SAME
    * state it merges). The source is persisted for the statement:
    * its plan feeds the key-uniqueness guard, the touched-file
    * scans and the rewrite join, and a nondeterministic source
    * re-executed per job could commit rows that disagree with its
    * own counts (the lake's mergeApply discipline). A MERGE that
    * stages nothing and rewrites nothing publishes no snapshot. */
  private def mergeApplyResolved(st: IceState, source: DataFrame,
      table: String, keyCols: Seq[String],
      matched: Seq[ManifestLake.MergeMatched],
      notMatched: Seq[ManifestLake.MergeInsert],
      notMatchedBySource: Seq[ManifestLake.MergeMatched],
      scope: Option[org.apache.spark.sql.Column],
      fullTableMerge: Boolean): IceDml = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val spark = source.sparkSession
    MergeClauses.requireValid(keyCols, matched, notMatched,
      notMatchedBySource)
    val root = new Path(table)
    val fs = hadoopFs(spark, root)
    require(st.posDeletes.isEmpty && st.eqDeletes.isEmpty &&
      st.dvDeletes.isEmpty,
      s"table $table carries merge-on-read delete files — run " +
        "compactDeletes first (on v3, use deleteMor: row deletes " +
        "write deletion vectors natively); copy-on-write DML would " +
        "silently resurrect their deleted rows otherwise")
    keyCols.foreach(k => require(st.schema.exists(_.name == k),
      s"MERGE key column $k is not in the schema of $table"))
    import spark.implicits._
    val stmt = new MergeClauses.Statement(source)
    try {
      require(MergeClauses.summarize(stmt, keyCols).duplicate.isEmpty,
        s"MERGE source has duplicate key rows on " +
          s"(${keyCols.mkString(", ")}) — which one updates the target " +
          "is undefined; deduplicate the source first")
      val effectiveFullTable = fullTableMerge ||
        (notMatchedBySource.nonEmpty && scope.isEmpty &&
          MergeClauses.nmbsSmallTable(spark,
          if (st.files.isEmpty) None else Some(st.files.map(_.bytes).sum)))
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
        else MergeClauses.probe(stmt, toDF(spark, st, keepLineage = true)
          .select((keyCols.map(col) :+ col("__fp")).toIndexedSeq: _*),
          "__fp", keyCols)
      val touchedNames: Set[String] =
        if (matched.isEmpty) Set.empty else pr.files
      val touched = st.files.filter(f =>
        ForeignDv.forms(f.path).exists(touchedNames))
      // NMBS-fired files: bound-pruned candidates, one anti-join scan
      val nmbsTouched: Seq[IceFile] =
        if (notMatchedBySource.isEmpty) Nil
        else {
          val touchedPaths = touched.map(_.path).toSet
          val cands0 = st.files.filterNot(f => touchedPaths(f.path))
          val cands = scope match {
            case Some(sc) =>
              val preds = ScanPredicates.fromSqlCondition(
                org.apache.spark.sql.graftbridge.ColumnBridge.expression(sc))
              cands0.filterNot(f =>
                preds.exists(p => filePrunes(f, st.specs, st.schema, p)))
            case None => cands0
          }
          if (cands.isEmpty) Nil
          else {
            val rowScope = scope.map(c => coalesce(c, lit(false)))
              .getOrElse(lit(true))
            val hit = toDF(spark, st.copy(files = cands.toIndexedSeq),
              keepLineage = true)
              .join(stmt.cached.select(keyCols.map(col): _*).distinct(),
                keyCols, "left_anti")
              .where(rowScope)
              .withColumn("__nact",
                MergeClauses.actionIndex(notMatchedBySource))
              .filter(col("__nact") >= 0)
              .select(col("__fp")).distinct().as[String].collect().toSet
            cands.filter(f => ForeignDv.forms(f.path).exists(hit))
          }
        }
      val rewriteSet = (touched ++ nmbsTouched).distinctBy(_.path)
      // v3 rewrites MATERIALIZE row lineage: the rewrite scan resolves
      // `_row_id`/`_last_updated_sequence_number`, survivors carry
      // them (UPDATE-fired rows take this commit's sequence), inserts
      // land null and inherit fresh ids from their file's origin
      val v3 = st.formatVersion >= 3
      val lineageFields =
        if (!v3) Nil
        else Seq(StructField(RowIdCol, LongType),
          StructField(LastUpdatedCol, LongType))
      val currentRows =
        if (rewriteSet.isEmpty)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            StructType(st.schema.fields ++ lineageFields))
        else if (v3)
          lineageResolved(spark,
            st.copy(files = rewriteSet.toIndexedSeq), table)
            .drop("__fp", "__pos")
        else toDF(spark, st.copy(files = rewriteSet.toIndexedSeq))
          .drop("__fp", "__pos")
      val newSeq: Long =
        if (!v3) 0L
        else {
          val meta = org.json4s.jackson.JsonMethods.parse(readText(fs,
            new Path(new Path(table),
              s"metadata/v${st.metadataVersion}.metadata.json")))
          (jLong(meta \ "last-sequence-number") max 0L) + 1L
        }
      val applied = MergeClauses(currentRows, stmt, keyCols, st.schema,
        matched, notMatched, notMatchedBySource, scope, effectiveFullTable,
        pr, keep = false,
        extraCarry = lineageFields,
        stampUpdated =
          if (!v3) Map.empty
          else Map(LastUpdatedCol -> lit(newSeq)))
      val added = stageRewritten(spark, fs, root, st, applied.written)
      // nothing staged and nothing to remove: no snapshot
      if (rewriteSet.isEmpty && added.isEmpty)
        return IceDml(st.snapshotId, 0L, 0)
      val counts = applied.counts()
      val snap = publishRewrite(spark, fs, root, st, added,
        rewriteSet.map(_.path).toSet, "overwrite", lineageSafe = true,
        summary = Map(
          "added-data-files" -> added.size.toString,
          "deleted-data-files" -> rewriteSet.size.toString,
          "added-records" -> added.map(_.records).sum.toString,
          "deleted-records" -> rewriteSet.map(_.records).sum.toString))
      IceDml(snap, counts.fired + counts.inserted, rewriteSet.size)
    } finally stmt.release()
  }


  /** MERGE-ON-READ `DELETE` — Iceberg v2 POSITION DELETES, the
    * write-amplification answer for small deletes on big files:
    * matched live rows' `(file_path, pos)` pairs land as
    * position-delete parquet files (the spec's reserved field ids
    * 2147483546/2147483545, sorted by file then position) under a
    * DELETE manifest (`content = 1`) at the commit's sequence number;
    * data files are NEVER rewritten — a one-row delete on a 1 GB file
    * costs one tiny parquet. Position deletes are PATH-KEYED, so rows
    * a later append re-inserts survive naturally (new files, new
    * paths — unlike equality deletes, no sequence comparison is even
    * needed). Deletes are CUMULATIVE across commits (each new delete
    * file adds positions; earlier ones keep applying), and
    * [[compactDeletes]] retires the debt.
    *
    * Requires format-version 2 ([[upgradeFormat]] is the metadata-only
    * door); a PARTITIONED default spec refuses by name — this writer
    * emits GLOBAL (unpartitioned-spec) position deletes only, and a
    * partition-scoped delete manifest it cannot model would misapply
    * under a foreign reader's partition pruning. The copy-on-write
    * [[delete]] covers both refusals.
    *
    * Scale shape: one lineage scan finds matched pairs; the delete
    * files write DISTRIBUTED (positions never collect — the driver
    * sees O(delete files) descriptors); the commit carries every
    * prior manifest verbatim. */
  def deleteMor(spark: SparkSession, table: String,
                predicate: org.apache.spark.sql.Column): IceDml = {
    import org.apache.spark.sql.functions.{col, count, lit}
    requireNoWapBranch(spark, table, "MOR DELETE")
    val root = new Path(table)
    val fs = hadoopFs(spark, root)
    val st = state(spark, table, None)
    requireMorWritable(st, table, "deletes", allowPartitioned = true)
    if (st.files.isEmpty) return IceDml(st.snapshotId, 0L, 0)
    import spark.implicits._
    // live rows only (existing deletes already applied by the scan),
    // so re-deleting dead rows is naturally a no-op
    val matched = toDF(spark, st, keepLineage = true).filter(predicate)
      .select(col("__fp"), col("__pos")).persist()
    try {
      val counts: Array[(String, Long)] =
        matched.groupBy(col("__fp")).agg(count(lit(1)).as("n"))
          .as[(String, Long)].collect()
      if (counts.isEmpty) return IceDml(st.snapshotId, 0L, 0)
      // v3 tables delete with DELETION VECTORS (Puffin blobs, one per
      // touched file) — the spec's v3 row-level delete encoding
      if (st.formatVersion >= 3)
        return deleteMorDv(spark, fs, root, st, matched, counts)
      val (delFiles, delParts) = stageMorDeletesByTuple(spark, fs, root,
        st, matched, counts.map(_._1).toIndexedSeq)
      val snap = publishMor(spark, fs, root, st, delFiles, Nil, "delete",
        delPartitions = delParts)
      IceDml(snap, counts.map(_._2).sum, counts.length)
    } finally matched.unpersist(): Unit
  }

  /** MERGE-ON-READ `UPDATE` — position-delete the matched rows' OLD
    * images and append their NEW images, in ONE snapshot at ONE
    * sequence number: position deletes are path-keyed, so the
    * appended image files (fresh paths) are untouched by their own
    * commit's delete rows — the one-snapshot MOR-update shape the
    * engines use. Same guards and semantics as
    * [[deleteMor]]/[[update]] (pre-update assignment evaluation,
    * v2 required; partitioned tables stamp tuples into both
    * manifests, and assignments to partition source columns refuse —
    * they would move rows across tuples). */
  def updateMor(spark: SparkSession, table: String,
                predicate: org.apache.spark.sql.Column,
                set: Seq[(String, org.apache.spark.sql.Column)]): IceDml = {
    import org.apache.spark.sql.functions.{col, count, lit}
    requireNoWapBranch(spark, table, "MOR UPDATE")
    val root = new Path(table)
    val fs = hadoopFs(spark, root)
    val st = state(spark, table, None)
    requireMorWritable(st, table, "updates", allowPartitioned = true)
    require(set.nonEmpty, "UPDATE needs at least one assignment")
    val specSources =
      st.specs.getOrElse(st.defaultSpecId, Nil).map(_.source).toSet
    set.foreach { case (c, _) =>
      require(st.schema.exists(_.name == c),
        s"UPDATE target column $c is not in the schema of $table")
      require(!specSources.contains(c),
        s"UPDATE of partition source column $c is unsupported on the " +
          "merge-on-read path — it would move rows across tuples; " +
          "use the copy-on-write update")
    }
    if (st.files.isEmpty) return IceDml(st.snapshotId, 0L, 0)
    import spark.implicits._
    // v3 scans resolve row lineage alongside __fp/__pos — the new
    // images MATERIALIZE each matched row's `_row_id`, so an update
    // preserves lineage instead of reassigning it
    val matched = (if (st.formatVersion >= 3)
        lineageResolved(spark, st, table)
      else toDF(spark, st, keepLineage = true))
      .filter(predicate).persist()
    try {
      val counts: Array[(String, Long)] =
        matched.groupBy(col("__fp")).agg(count(lit(1)).as("n"))
          .as[(String, Long)].collect()
      if (counts.isEmpty) return IceDml(st.snapshotId, 0L, 0)
      val setMap = set.toMap
      val updated = matched.select(
        (st.schema.fields.toIndexedSeq.map { f =>
          setMap.get(f.name) match {
            case Some(e) => e.cast(f.dataType).as(f.name)
            case None => col(f.name)
          }
        } ++ (if (st.formatVersion >= 3) Seq(col(RowIdCol)) else Nil))
          : _*)
      // v3 tables kill the old images with DELETION VECTORS — same
      // one-snapshot shape, vectors instead of position parquet
      if (st.formatVersion >= 3)
        return updateMorDv(spark, fs, root, st,
          matched.select(col("__fp"), col("__pos")), counts, updated)
      val (delFiles, delParts) = stageMorDeletesByTuple(spark, fs, root,
        st, matched.select(col("__fp"), col("__pos")),
        counts.map(_._1).toIndexedSeq)
      val added = stageRewritten(spark, fs, root, st, updated)
      val snap = publishMor(spark, fs, root, st, delFiles, added,
        "overwrite", delPartitions = delParts)
      IceDml(snap, counts.map(_._2).sum, counts.length)
    } finally matched.unpersist(): Unit
  }

  /** ZERO-SCAN key deletion — v2 EQUALITY DELETES, the CDC-apply
    * shape: every table row whose `keys` columns match a key row
    * (null-safe) dies, and THE TABLE IS NEVER READ — the commit
    * writes only the key rows as equality-delete parquet (content=2,
    * `equality_ids` naming the key columns' field ids) at the next
    * sequence number. The spec's strictly-smaller rule does the rest
    * on read: the delete kills rows in files with a SMALLER data
    * sequence, so a later re-insert of the same key survives. This is
    * the operation that makes streaming upserts O(changed keys) at
    * 100 TB — a billion-row table takes a thousand-key delete for the
    * cost of writing a thousand rows.
    *
    * Returns `rowsAffected = -1`: counting matches would cost the
    * very table scan this operation exists to avoid. Same v2 +
    * unpartitioned-spec guards as [[deleteMor]]; key columns must be
    * top-level table columns with matching types. */
  def deleteByKeys(spark: SparkSession, table: String,
                   keys: DataFrame): IceDml = {
    requireNoWapBranch(spark, table, "DELETE BY KEYS")
    val root = new Path(table)
    val fs = hadoopFs(spark, root)
    val st = state(spark, table, None)
    requireMorWritable(st, table, "key deletes")
    require(keys.columns.nonEmpty, "deleteByKeys needs key columns")
    keys.schema.fields.foreach { f =>
      val tf = st.schema.find(_.name == f.name).getOrElse(
        throw new IllegalArgumentException(
          s"key column ${f.name} is not in the schema of $table"))
      require(tf.dataType == f.dataType,
        s"key column ${f.name} is ${f.dataType.sql} but the table " +
          s"records ${tf.dataType.sql} — a mistyped equality delete " +
          "would silently match nothing")
    }
    val eqIds: Seq[Int] = keys.columns.toIndexedSeq.map(c =>
      st.evo.fieldIds.getOrElse(c,
        throw new IllegalArgumentException(
          s"key column $c has no recorded field id in $table")).toInt)
    val ids = keys.columns.zip(eqIds.map(_.toLong)).toMap
    val stamped = stampFieldIds(keys.distinct(), ids)
    val stage = new Path(root, s".eqdel-${java.util.UUID.randomUUID()}")
    stamped.write.mode("overwrite").parquet(stage.toString)
    val dataDir = new Path(root, "data")
    fs.mkdirs(dataDir)
    val delFiles = fs.listStatus(stage).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).flatMap { p =>
        val rows = parquetRowCount(spark, p)
        if (rows == 0) { fs.delete(p, false); None }
        else {
          val dest = new Path(dataDir, s"eq-delete-${p.getName}")
          if (!fs.rename(p, dest))
            throw new IllegalStateException(s"failed to move $p to $dest")
          Some((dest.toString, rows, fs.getFileStatus(dest).getLen))
        }
      }.toSeq
    fs.delete(stage, true): Unit
    if (delFiles.isEmpty) return IceDml(st.snapshotId, 0L, 0)
    val snap = publishMor(spark, fs, root, st, delFiles, Nil, "delete",
      eqIds = eqIds)
    IceDml(snap, -1L, 0)
  }

  /** ZERO-SCAN UPSERT (the CDC-apply / streaming-upsert shape Flink
    * writes): ONE snapshot carrying an equality-delete manifest on
    * the source's keys AND a data manifest with the source rows, both
    * at the commit's sequence number. The spec's strictly-smaller
    * rule makes it atomic: the delete kills old versions (their files
    * have smaller data sequences) but NOT the rows appended in this
    * very commit (same sequence) — no reader ever observes the
    * deleted-but-not-yet-reinserted state a two-commit upsert leaks.
    * The table is never read; cost is O(source) at ANY table size —
    * what makes per-minute CDC batches feasible against 100 TB.
    * Duplicate source keys refuse (which version wins is undefined);
    * the merge-on-read debt retires through [[compactDeletes]]. */
  def upsertByKeys(source0: DataFrame, table: String,
                   keyCols: Seq[String],
                   summary: Map[String, String] = Map.empty): IceDml = {
    import org.apache.spark.sql.functions.{col, count, lit}
    val spark = source0.sparkSession
    requireNoWapBranch(spark, table, "KEYED UPSERT")
    val root = new Path(table)
    val fs = hadoopFs(spark, root)
    val st = state(spark, table, None)
    requireMorWritable(st, table, "upserts")
    require(keyCols.nonEmpty, "upsertByKeys needs at least one key")
    keyCols.foreach(k => require(source0.columns.contains(k),
      s"key column $k is not in the source"))
    // v3 write-defaults apply to the APPENDED images exactly as they
    // do to plain appends — an image is a row this writer supplies
    val source = applyWriteDefaults(source0, st, table)
    InteropSchema.requireAppendCompatible(source.schema, st.schema, table)
    val dup = source.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n")).filter(col("n") > 1).limit(1)
    require(dup.isEmpty,
      s"upsert source has duplicate key rows on " +
        s"(${keyCols.mkString(", ")}) — which version lands is " +
        "undefined; deduplicate the source first")
    val eqIds: Seq[Int] = keyCols.map(c =>
      st.evo.fieldIds.getOrElse(c,
        throw new IllegalArgumentException(
          s"key column $c has no recorded field id in $table")).toInt)
    // the delete leg: just the key columns, stamped with their ids
    val ids = keyCols.zip(eqIds.map(_.toLong)).toMap
    val keyRows = stampFieldIds(
      source.select(keyCols.map(col): _*).distinct(), ids)
    val stage = new Path(root, s".upsert-${java.util.UUID.randomUUID()}")
    keyRows.write.mode("overwrite").parquet(stage.toString)
    val dataDir = new Path(root, "data")
    fs.mkdirs(dataDir)
    val delFiles = fs.listStatus(stage).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).flatMap { p =>
        val rows = parquetRowCount(spark, p)
        if (rows == 0) { fs.delete(p, false); None }
        else {
          val dest = new Path(dataDir, s"eq-delete-${p.getName}")
          if (!fs.rename(p, dest))
            throw new IllegalStateException(s"failed to move $p to $dest")
          Some((dest.toString, rows, fs.getFileStatus(dest).getLen))
        }
      }.toSeq
    fs.delete(stage, true): Unit
    // the data leg: the full source rows under the table's schema
    val added = stageRewritten(spark, fs, root, st,
      source.select(st.schema.fields.toIndexedSeq.map(f =>
        col(f.name).cast(f.dataType).as(f.name)): _*))
    if (delFiles.isEmpty && added.isEmpty)
      return IceDml(st.snapshotId, 0L, 0)
    val snap = publishMor(spark, fs, root, st, delFiles, added,
      "overwrite", eqIds = eqIds, summary = summary)
    IceDml(snap, -1L, 0)
  }

  /** [[streamUpsert]]'s replay high-water mark for `appId`: the
    * `graft.stream.<appId>.batch-id` TABLE PROPERTY (persisted by
    * every upsert commit and carried forward by every metadata
    * publication — expiry-proof), max'd with any surviving snapshot
    * summary stamp (the pre-property location, so tables written
    * before the property existed still replay exactly-once). -1 when
    * the stream has never committed. O(snapshots) metadata. */
  def lastStreamBatch(spark: SparkSession, table: String,
                      appId: String): Long = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val root = new Path(table)
    val fs = hadoopFs(spark, root)
    val metaDir = new Path(root, "metadata")
    currentMetadataVersion(fs, table) match {
      case None => -1L
      case Some(v) =>
        val metaJson = JsonMethods.parse(readText(fs,
          new Path(metaDir, s"v$v.metadata.json")))
        val fromProp: Long =
          (metaJson \ "properties" \ s"graft.stream.$appId.batch-id") match {
            case JString(b) =>
              scala.util.Try(b.toLong).toOption.getOrElse(-1L)
            case _ => -1L
          }
        val fromSummaries: Long = (metaJson \ "snapshots") match {
          case JArray(xs) => xs.flatMap { sn =>
            val sm = sn \ "summary"
            ((sm \ "graft.app-id"), (sm \ "graft.batch-id")) match {
              case (JString(a), JString(b)) if a == appId =>
                scala.util.Try(b.toLong).toOption
              case _ => None
            }
          }.foldLeft(-1L)(_ max _)
          case _ => -1L
        }
        fromProp max fromSummaries
    }
  }

  /** EXACTLY-ONCE STREAMING UPSERT into a v2 Iceberg table — the
    * CDC-sink shape: each micro-batch applies as ONE zero-scan
    * [[upsertByKeys]] snapshot stamped `(graft.app-id, graft.batch-id)`
    * in its summary; a crash between the snapshot commit and the
    * checkpoint advance replays the epoch, the stamp detects it, and
    * the batch commits NOTHING twice. Cost per batch is O(batch) at
    * any table size — the equality-delete economics, continuously. */
  def streamUpsert(streamed: DataFrame, table: String,
      keyCols: Seq[String], checkpoint: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    streamed.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        upsertBatch(batch, batchId, table, keyCols, checkpoint): Unit
      }
      .trigger(trigger)
      .start()

  /** [[streamUpsert]]'s per-epoch body, separable so a crash-replay
    * (same epoch re-executed) is directly testable. Returns whether
    * the batch committed (false = detected replay, skipped). */
  private[sources] def upsertBatch(batch: DataFrame, batchId: Long,
      table: String, keyCols: Seq[String], appId: String): Boolean = {
    val spark = batch.sparkSession
    if (batchId <= lastStreamBatch(spark, table, appId)) false
    else {
      upsertByKeys(batch, table, keyCols,
        summary = Map("graft.app-id" -> appId,
          "graft.batch-id" -> batchId.toString)): Unit
      true
    }
  }

  /** EXACTLY-ONCE STREAMING APPEND into an Iceberg table — the
    * non-keyed sibling of [[streamUpsert]] (and the symmetric twin of
    * [[DeltaInterop.streamToDelta]]): each micro-batch commits as ONE
    * append snapshot stamped `(graft.app-id, graft.batch-id)` in its
    * summary AND as the expiry-proof `graft.stream.<appId>.batch-id`
    * table property; a crash-replayed epoch detects the mark and
    * commits nothing twice. `appId` defaults to the checkpoint path.
    * A first batch CREATES the table. Cost per batch is O(batch). */
  def streamAppend(streamed: DataFrame, table: String,
      checkpoint: String,
      partitionBy: Seq[SpecField] = Nil,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    streamed.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendBatch(batch, batchId, table, partitionBy,
          checkpoint): Unit
      }
      .trigger(trigger)
      .start()

  /** [[streamAppend]]'s per-epoch body — replay-guarded append. */
  private[sources] def appendBatch(batch: DataFrame, batchId: Long,
      table: String, partitionBy: Seq[SpecField],
      appId: String): Boolean = {
    val spark = batch.sparkSession
    val metaDir = new Path(table, "metadata")
    val exists = hadoopFs(spark, metaDir).exists(metaDir) &&
      currentMetadataVersion(hadoopFs(spark, metaDir), table).isDefined
    if (exists && batchId <= lastStreamBatch(spark, table, appId)) false
    else {
      write(batch, table, overwrite = false, partitionBy,
        streamMark = Some(appId -> batchId)): Unit
      true
    }
  }

  /** Direct Delta → Iceberg conversion for VECTORED tables — the
    * migration the manifest-composed [[CrossFormat.deltaToIceberg]]
    * refuses without a purge: deletion vectors and position deletes
    * are the SAME thing (per-file position kill sets), so the
    * merge-on-read debt converts as O(deleted rows) delete-parquet
    * writes while every data file is SHARED in place — never a data
    * rewrite. Publishes a FRESH v2 table: one snapshot at sequence 1
    * carrying a data manifest over Delta's live files plus a delete
    * manifest with the decoded positions (vectors decode on
    * executors; the driver ships descriptors). Unpartitioned,
    * unmapped Delta only, and a root already carrying Iceberg
    * metadata refuses — all by name. Record counts ride the adds'
    * stats when present, one footer open per file otherwise. */
  def importFromDeltaMor(spark: SparkSession, table: String): Long = {
    import org.apache.spark.sql.functions.col
    val root = new Path(table)
    val fs = hadoopFs(spark, root)
    val metaDir = new Path(root, "metadata")
    if (fs.exists(metaDir) && currentMetadataVersion(fs, table).isDefined)
      throw new UnsupportedIcebergFeatureException(
        s"$table already carries Iceberg metadata — re-syncing a " +
          "converted table is the manifest-composed conversion's job")
    val dst = DeltaInterop.state(spark, table, None)
    require(dst.columnMappingMode == "none",
      s"table $table uses column mapping — its files carry physical " +
        "names this conversion cannot re-declare; reads only")
    require(dst.partitionColumns.isEmpty,
      s"table $table is partitioned — Delta data files omit partition " +
        "columns, which Iceberg data files must carry; purge the " +
        "vectors and convert through CrossFormat.deltaToIceberg")
    require(dst.files.nonEmpty, s"nothing to convert: $table is empty")
    import spark.implicits._
    val rootStr = root.toString
    val vectored = dst.files.filter(_.dv.nonEmpty)
    val delFiles: Seq[(String, Long, Long)] =
      if (vectored.isEmpty) Nil
      else {
        val descriptors = vectored.map { a =>
          val d = a.dv.get
          (new Path(root, a.path).toString, d.storageType,
            d.pathOrInlineDv, d.offset, d.sizeInBytes)
        }
        val delRows = spark.createDataset(descriptors)
          .flatMap { case (fp, st0, payload, off, size) =>
            val r = new Path(rootStr)
            val fs0 = r.getFileSystem(
              new org.apache.hadoop.conf.Configuration())
            DeltaDv.deserialize(DeltaDv.bitmapBytes(fs0, r,
                DeltaDv.DvDescriptor(st0, payload, off, size, -1L)))
              .map(p => (fp, p))
          }.toDF("file_path", "pos")
        stageDeleteParquet(spark, fs, root, delRows)
      }
    val dataFiles: Seq[IceFile] = dst.files.map { a =>
      val abs = new Path(root, a.path)
      val rows = DeltaInterop.numRecordsOf(a)
        .getOrElse(parquetRowCount(spark, abs))
      IceFile(abs.toString, rows, a.size)
    }
    // fresh v2 table document
    val snapshotId = math.abs(java.util.UUID.randomUUID()
      .getMostSignificantBits)
    val uuid = java.util.UUID.randomUUID().toString
    val now = System.currentTimeMillis()
    val schemaJsonStr = icebergSchemaJson(dst.schema)
    val entrySchema = manifestEntrySchema(Nil, v2 = true)
    def entryOf(path: String, rows: Long, bytes: Long,
                content: Int): GenericRecord = {
      val e = new GenericData.Record(entrySchema)
      e.put("status", 1)
      e.put("snapshot_id", snapshotId)
      val dfRec = new GenericData.Record(
        entrySchema.getField("data_file").schema())
      dfRec.put("content", content)
      dfRec.put("file_path", path)
      dfRec.put("file_format", "PARQUET")
      dfRec.put("partition", new GenericData.Record(
        entrySchema.getField("data_file").schema()
          .getField("partition").schema()))
      dfRec.put("record_count", rows)
      dfRec.put("file_size_in_bytes", bytes)
      e.put("data_file", dfRec)
      e
    }
    fs.mkdirs(metaDir)
    val avroMetaBase = Map("format-version" -> "2",
      "partition-spec" -> "[]", "partition-spec-id" -> "0",
      "schema" -> schemaJsonStr)
    val dataManifest = new Path(metaDir, s"$uuid-m0.avro")
    writeAvro(fs, dataManifest, entrySchema,
      avroMetaBase + ("content" -> "data"),
      dataFiles.map(f => entryOf(f.path, f.records, f.bytes, 0)))
    val listEntries =
      scala.collection.mutable.ArrayBuffer.empty[GenericRecord]
    listEntries += manifestListRowV2(dataManifest.toString,
      fs.getFileStatus(dataManifest).getLen, 0, content = 0,
      seq = 1L, minSeq = 1L, snapshotId,
      (dataFiles.size, 0, 0, dataFiles.map(_.records).sum, 0L, 0L))
    if (delFiles.nonEmpty) {
      val delManifest = new Path(metaDir, s"$uuid-m1.avro")
      writeAvro(fs, delManifest, entrySchema,
        avroMetaBase + ("content" -> "deletes"),
        delFiles.map { case (p, r, b) => entryOf(p, r, b, 1) })
      listEntries += manifestListRowV2(delManifest.toString,
        fs.getFileStatus(delManifest).getLen, 0, content = 1,
        seq = 1L, minSeq = 1L, snapshotId,
        (delFiles.size, 0, 0, delFiles.map(_._2).sum, 0L, 0L))
    }
    val listPath = new Path(metaDir, s"snap-$snapshotId-1-$uuid.avro")
    writeAvro(fs, listPath, ManifestFileSchemaV2,
      Map("format-version" -> "2"), listEntries.toSeq)
    val json =
      s"""{"format-version":2,"table-uuid":${jstr(uuid)},
         |"location":${jstr(root.toString)},"last-updated-ms":$now,
         |"last-sequence-number":1,
         |"last-partition-id":999,
         |"default-sort-order-id":0,
         |"sort-orders":[{"order-id":0,"fields":[]}],
         |"last-column-id":${dst.schema.length},
         |"schema":$schemaJsonStr,
         |"schemas":[$schemaJsonStr],
         |"current-schema-id":0,
         |"partition-spec":[],"default-spec-id":0,
         |"partition-specs":[{"spec-id":0,"fields":[]}],
         |"properties":{},
         |"current-snapshot-id":$snapshotId,
         |"snapshots":[{"snapshot-id":$snapshotId,"sequence-number":1,
         |"timestamp-ms":$now,"summary":{"operation":"append"},
         |"manifest-list":${jstr(listPath.toString)},"schema-id":0}],
         |"snapshot-log":[{"timestamp-ms":$now,"snapshot-id":$snapshotId}]
         |}""".stripMargin.replace("\n", "")
    val metaTarget = new Path(metaDir, "v1.metadata.json")
    val metaTmp = new Path(metaDir,
      s".v1.metadata.json.${java.util.UUID.randomUUID()}.tmp")
    val out = fs.create(metaTmp, false)
    try out.write(json.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if (!ManifestLake.RenameCommit.publish(fs, metaTmp, metaTarget)) {
      fs.delete(metaTmp, false)
      throw new ConcurrentIcebergCommitException(
        s"v1 metadata of $root was committed concurrently")
    }
    val hint = fs.create(new Path(metaDir, "version-hint.text"), true)
    try hint.write("1".getBytes(StandardCharsets.UTF_8))
    finally hint.close()
    snapshotId
  }

  private def requireMorWritable(st: IceState, table: String,
                                 what: String,
                                 allowPartitioned: Boolean = false): Unit = {
    if (st.formatVersion < 2)
      throw new UnsupportedIcebergFeatureException(
        s"table $table is format-version 1 — merge-on-read $what " +
          "need v2 sequence semantics; upgradeFormat first, or use " +
          "the copy-on-write path")
    // position deletes stamp their target files' tuples and are
    // partition-capable; EQUALITY deletes stay global, which the
    // spec ties to an unpartitioned spec
    if (!allowPartitioned &&
      st.specs.getOrElse(st.defaultSpecId, Nil).nonEmpty)
      throw new UnsupportedIcebergFeatureException(
        s"table $table is partitioned — this writer emits GLOBAL " +
          "(unpartitioned-spec) equality deletes only; use the " +
          "position-delete or copy-on-write path")
  }

  /** Stage `matched` `(__fp, __pos)` pairs as position-delete
    * parquet, ONE staging group per touched PARTITION TUPLE — a
    * delete file's manifest entry carries exactly one tuple, so
    * foreign readers prune delete files by partition like data
    * files. Returns the staged files plus the path → tuple map the
    * manifest writer stamps. Unpartitioned tables collapse to one
    * group (the prior behavior verbatim). */
  private def stageMorDeletesByTuple(spark: SparkSession, fs: FileSystem,
      root: Path, st: IceState, matched: DataFrame,
      touched: Seq[String])
      : (Seq[(String, Long, Long)], Map[String, Map[String, AnyRef]]) = {
    import org.apache.spark.sql.functions.col
    // keyed on BOTH the raw manifest path and its URI-escaped form:
    // the grouped `__fp` values come from `_metadata.file_path`, whose
    // percent-escapes survive (a space-valued partition dir shows as
    // `%20`) while the manifest records the raw path — a raw-only map
    // would silently group such files under the EMPTY tuple and their
    // delete files would never partition-match for foreign readers
    val tupleOf: Map[String, Map[String, AnyRef]] =
      st.files.flatMap(f =>
        ForeignDv.forms(f.path).map(_ -> f.partition)).toMap
    val groups = touched.groupBy(fp =>
      tupleOf.getOrElse(fp, Map.empty[String, AnyRef]))
    val files = Seq.newBuilder[(String, Long, Long)]
    val parts = Map.newBuilder[String, Map[String, AnyRef]]
    groups.foreach { case (tuple, fps) =>
      val subset =
        if (groups.size == 1) matched
        else matched.filter(col("__fp").isin(fps: _*))
      stageMorDeleteFiles(spark, fs, root, st, subset).foreach { t =>
        files += t
        parts += t._1 -> tuple
      }
    }
    (files.result(), parts.result())
  }

  /** Stage `matched`'s `(__fp, __pos)` pairs as position-delete
    * parquet files (spec field ids, sorted by file then position)
    * under `data/`, keyed on the RECORDED manifest paths. Returns
    * O(delete files) `(path, rows, bytes)` — positions never reach
    * the driver. */
  private def stageMorDeleteFiles(spark: SparkSession, fs: FileSystem,
      root: Path, st: IceState,
      matched: DataFrame): Seq[(String, Long, Long)] = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // raw + URI-escaped keys, as in stageMorDeletesByTuple: the
    // delete file's file_path column must record the RAW manifest
    // path, or spec-compliant foreign readers never path-match it
    val pathMap = st.files.flatMap(f =>
      ForeignDv.forms(f.path).map(_ -> f.path)).toMap
    val bc = spark.sparkContext.broadcast(pathMap)
    val delRows = matched.as[(String, Long)]
      .map { case (fp, pos) => (bc.value.getOrElse(fp, fp), pos) }
      .toDF("file_path", "pos")
    stageDeleteParquet(spark, fs, root, delRows)
  }

  /** Stage ready `(file_path, pos)` rows as spec-conformant
    * position-delete parquet under `data/` (reserved field ids,
    * sorted by file then position). */
  private def stageDeleteParquet(spark: SparkSession, fs: FileSystem,
      root: Path, delRows: DataFrame): Seq[(String, Long, Long)] = {
    import org.apache.spark.sql.functions.col
    val stamped = stampFieldIds(
      delRows.sortWithinPartitions(col("file_path"), col("pos")),
      Map("file_path" -> 2147483546L, "pos" -> 2147483545L))
    val stage = new Path(root, s".mor-${java.util.UUID.randomUUID()}")
    stamped.write.mode("overwrite").parquet(stage.toString)
    val dataDir = new Path(root, "data")
    fs.mkdirs(dataDir)
    val delFiles = fs.listStatus(stage).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).flatMap { p =>
        val rows = parquetRowCount(spark, p)
        if (rows == 0) { fs.delete(p, false); None }
        else {
          val dest = new Path(dataDir, s"delete-${p.getName}")
          if (!fs.rename(p, dest))
            throw new IllegalStateException(s"failed to move $p to $dest")
          Some((dest.toString, rows, fs.getFileStatus(dest).getLen))
        }
      }.toSeq
    fs.delete(stage, true): Unit
    delFiles
  }

  /** Publish one merge-on-read snapshot: a DELETE manifest for
    * `delFiles` (+ optionally a DATA manifest for `added` images,
    * both at the commit's sequence number), every prior manifest
    * carried verbatim. */
  /** The default spec's `(field, avro type, field-id)` triples plus
    * its declared fields JSON — the partition machinery a MOR commit
    * needs to stamp tuples into its delete/data manifests (the same
    * resolution [[publishRewrite]] performs for CoW rewrites). Empty
    * for unpartitioned tables. */
  private def morPartFields(priorMeta: org.json4s.JValue, st: IceState)
      : (Seq[(SpecField, String, Int)], String) = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val sfs = st.specs.getOrElse(st.defaultSpecId, Nil)
    if (sfs.isEmpty) return (Nil, "[]")
    val node: Option[JValue] = ((priorMeta \ "partition-specs") match {
      case JArray(xs) =>
        xs.find(sp => jLong(sp \ "spec-id") == st.defaultSpecId)
      case _ => None
    }).orElse((priorMeta \ "partition-spec") match {
      case arr @ JArray(_) if st.defaultSpecId == 0 =>
        Some(JObject(List("spec-id" -> JInt(0), "fields" -> arr)))
      case _ => None
    })
    val fields = sfs.zipWithIndex.map { case (sf, i) =>
      val dt = st.schema.find(_.name == sf.source).map(_.dataType)
        .getOrElse(throw new UnsupportedIcebergFeatureException(
          s"partition source column ${sf.source} missing from the " +
            "schema — cannot stamp merge-on-read partition tuples"))
      val avroType = tupleAvroType(sf.transform, dt).getOrElse(
        throw new UnsupportedIcebergFeatureException(
          s"cannot re-encode ${sf.transform}(${sf.source}) over " +
            s"${dt.sql} — not a transform/type combination this " +
            "writer models"))
      val fid = node.map(n => (n \ "fields") match {
        case JArray(fs0) if fs0.length > i => jLong(fs0(i) \ "field-id")
        case _ => -1L
      }).filter(_ >= 0).map(_.toInt).getOrElse(1000 + i)
      (sf, avroType, fid)
    }
    val specJson = node.map(n =>
      JsonMethods.compact(JsonMethods.render(n \ "fields")))
      .getOrElse("[]")
    (fields, specJson)
  }

  private def putPartition(entrySchema: org.apache.avro.Schema,
      dfRec: GenericData.Record,
      partFields: Seq[(SpecField, String, Int)],
      tuple: Map[String, AnyRef]): Unit = {
    val partRec = new GenericData.Record(
      entrySchema.getField("data_file").schema()
        .getField("partition").schema())
    partFields.foreach { case (sf, avroType, _) =>
      tuple.get(sf.name).filter(_ != null).foreach { v =>
        partRec.put(sf.name, avroType match {
          case "int" => Integer.valueOf(v.asInstanceOf[Number].intValue)
          case "long" => java.lang.Long.valueOf(
            v.asInstanceOf[Number].longValue)
          case _ => v.toString
        })
      }
    }
    dfRec.put("partition", partRec)
  }

  private def publishMor(spark: SparkSession, fs: FileSystem,
      root: Path, st: IceState, delFiles: Seq[(String, Long, Long)],
      added: Seq[IceFile], operation: String,
      eqIds: Seq[Int] = Nil,
      summary: Map[String, String] = Map.empty,
      delPartitions: Map[String, Map[String, AnyRef]] = Map.empty): Long = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val metaDir = new Path(root, "metadata")
    val priorMeta = JsonMethods.parse(readText(fs,
      new Path(metaDir, s"v${st.metadataVersion}.metadata.json")))
    // v3: MOR commits are lineage-neutral on the delete side (no
    // data file moves, no row gains or loses its id — equality
    // deletes publish fine) and added image files stamp explicit
    // first_row_id origins below, so keyed upserts work too
    val v3 = jLong(priorMeta \ "format-version") > 2
    val priorNextRowId: Long =
      if (!v3) 0L else jLong(priorMeta \ "next-row-id") max 0L
    val newSeq = (jLong(priorMeta \ "last-sequence-number") max 0L) + 1L
    val snapshotId = math.abs(java.util.UUID.randomUUID()
      .getMostSignificantBits)
    val uuid = java.util.UUID.randomUUID().toString
    val curSchemaId = jLong(priorMeta \ "current-schema-id") match {
      case -1L => 0L
      case id => id
    }
    val schemaJsonStr = ((priorMeta \ "schemas") match {
      case JArray(xs) if xs.nonEmpty =>
        xs.find(sc => jLong(sc \ "schema-id") == curSchemaId)
          .getOrElse(xs.head)
      case _ => priorMeta \ "schema"
    }) match {
      case node => JsonMethods.compact(JsonMethods.render(node))
    }
    // partitioned tables stamp the default spec's tuples into BOTH
    // manifests (delete entries carry their target files' tuples so
    // foreign readers prune delete files by partition); equality
    // deletes stay global — their entries are spec-less by the
    // unpartitioned guard on that path
    val (partFields, specJson) = morPartFields(priorMeta, st)
    val entrySchema = manifestEntrySchema(partFields, v2 = true,
      lineage = v3)
    // position-delete entries name their data file when they have one
    val posDeletes = eqIds.isEmpty
    val delSchema =
      if (!posDeletes) entrySchema
      else manifestEntrySchema(partFields, v2 = true, lineage = v3,
        referenced = true)
    val listEntries =
      scala.collection.mutable.ArrayBuffer.empty[GenericRecord]
    val manifestPath = new Path(metaDir, s"$uuid-m0.avro")
    if (delFiles.nonEmpty) {
    writeAvro(fs, manifestPath, delSchema,
      Map("format-version" -> "2", "content" -> "deletes",
        "partition-spec" -> specJson,
        "partition-spec-id" -> st.defaultSpecId.toString,
        "schema" -> schemaJsonStr),
      delFiles.map { case (path, rows, bytes) =>
        val e = new GenericData.Record(delSchema)
        e.put("status", 1)
        e.put("snapshot_id", snapshotId)
        val dfRec = new GenericData.Record(
          delSchema.getField("data_file").schema())
        // content 1 = position deletes, 2 = equality deletes (which
        // also record the key columns' field ids)
        dfRec.put("content", if (eqIds.nonEmpty) 2 else 1)
        if (eqIds.nonEmpty) {
          val arr = new java.util.ArrayList[Integer]()
          eqIds.foreach(id => arr.add(Integer.valueOf(id)))
          dfRec.put("equality_ids", arr)
        }
        dfRec.put("file_path", path)
        dfRec.put("file_format", "PARQUET")
        if (posDeletes)
          referencedDataFile(spark, new Path(path))
            .foreach(dfRec.put("referenced_data_file", _))
        putPartition(delSchema, dfRec, partFields,
          delPartitions.getOrElse(path, Map.empty))
        dfRec.put("record_count", rows)
        dfRec.put("file_size_in_bytes", bytes)
        e.put("data_file", dfRec)
        e
      })
    listEntries += manifestListRowV2(manifestPath.toString,
      fs.getFileStatus(manifestPath).getLen, st.defaultSpecId,
      content = 1, seq = newSeq, minSeq = newSeq, snapshotId,
      (delFiles.size, 0, 0, delFiles.map(_._2).sum, 0L, 0L))
    }
    if (added.nonEmpty) {
      val dataManifest = new Path(metaDir, s"$uuid-m1.avro")
      writeAvro(fs, dataManifest, entrySchema,
        Map("format-version" -> "2", "content" -> "data",
          "partition-spec" -> specJson,
          "partition-spec-id" -> st.defaultSpecId.toString,
          "schema" -> schemaJsonStr),
        {
          var rowIdCursor = priorNextRowId
          added.map { f =>
            val e = new GenericData.Record(entrySchema)
            e.put("status", 1)
            e.put("snapshot_id", snapshotId)
            val dfRec = new GenericData.Record(
              entrySchema.getField("data_file").schema())
            dfRec.put("content", 0)
            dfRec.put("file_path", f.path)
            dfRec.put("file_format", "PARQUET")
            putPartition(entrySchema, dfRec, partFields, f.partition)
            dfRec.put("record_count", f.records)
            dfRec.put("file_size_in_bytes", f.bytes)
            if (v3) {
              dfRec.put("first_row_id",
                java.lang.Long.valueOf(rowIdCursor))
              rowIdCursor += f.records
            }
            e.put("data_file", dfRec)
            e
          }
        })
      listEntries += manifestListRowV2(dataManifest.toString,
        fs.getFileStatus(dataManifest).getLen, st.defaultSpecId,
        content = 0, seq = newSeq, minSeq = newSeq, snapshotId,
        (added.size, 0, 0, added.map(_.records).sum, 0L, 0L),
        firstRowId = if (v3) Some(priorNextRowId) else None)
    }
    val priorList: Seq[GenericRecord] = (priorMeta \ "snapshots") match {
      case JArray(xs) =>
        xs.find(sn => jLong(sn \ "snapshot-id") == st.snapshotId)
          .toSeq.flatMap(sn => (sn \ "manifest-list") match {
            case JString(ml) => avroRows(fs, new Path(ml))
            case _ => Nil
          })
      case _ => Nil
    }
    val listPath = new Path(metaDir, s"snap-$snapshotId-1-$uuid.avro")
    writeAvro(fs, listPath, ManifestFileSchemaV2,
      Map("format-version" -> "2"),
      listEntries.toSeq ++
        priorList.map(pm => carryManifestRowV2(fs, pm, snapshotId)))
    publishDmlDoc(fs, root, priorMeta, st.metadataVersion,
      snapshotId, listPath, operation, curSchemaId, Some(newSeq),
      summary,
      // v3 snapshots claim their row-id range (0-wide for pure
      // delete-file commits; the upsert's image files consume one)
      rowLineage =
        if (!v3) None
        else Some((priorNextRowId, added.map(_.records).sum)))
  }

  // ------------------------------------------------- v3 row lineage

  /** The v3 reserved lineage column names and field ids (spec
    * "Reserved Field IDs": `_row_id` 2147483540,
    * `_last_updated_sequence_number` 2147483539). */
  private[sources] val RowIdCol = "_row_id"
  private[sources] val LastUpdatedCol = "_last_updated_sequence_number"
  private[sources] val RowIdFieldId = 2147483540L
  private[sources] val LastUpdatedFieldId = 2147483539L

  /** Read the live rows of a v3 table WITH their row lineage: every
    * data column plus `_row_id` and `_last_updated_sequence_number`,
    * deletion vectors applied. Per the spec's assignment rule, a
    * MATERIALIZED value (written by merge-on-read updates and
    * rewrites) takes precedence; rows that never materialized inherit
    * `first_row_id + row position` and the file's data sequence
    * number; rows in files that predate the v3 upgrade (no recorded
    * or inheritable origin) serve NULL lineage — they never had ids
    * to lose.
    *
    * Scale shape: the lineage columns ride the ONE data scan — a
    * broadcast of (file → origin, sequence) joins on the scan's
    * metadata path, positions come from parquet `row_index`; no extra
    * pass, no shuffle. Parquet-only (ORC/avro carry no row_index). */
  def readRowLineage(spark: SparkSession, table: String,
                     snapshotId: Option[Long] = None): DataFrame = {
    val st = state(spark, table, snapshotId)
    lineageResolved(spark, st, table).drop("__fp", "__pos")
  }

  /** [[readRowLineage]]'s body over a resolved state, `__fp`/`__pos`
    * retained for DML callers (the v3 update carries `_row_id` into
    * its new images through this). */
  private def lineageResolved(spark: SparkSession, st: IceState,
                              table: String): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, coalesce, col, lit, when}
    if (st.formatVersion < 3)
      throw new UnsupportedIcebergFeatureException(
        s"table $table is format-version ${st.formatVersion} — row " +
          "lineage is a v3 feature (upgradeFormat(spark, t, 3) first)")
    Seq(RowIdCol, LastUpdatedCol).foreach(n =>
      if (st.schema.exists(_.name == n))
        throw new UnsupportedIcebergFeatureException(
          s"table $table declares a data column named $n — it shadows " +
            "the v3 reserved lineage name"))
    val extras = Seq(StructField(RowIdCol, LongType),
      StructField(LastUpdatedCol, LongType))
    if (st.files.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType(st.schema.fields ++ extras))
      .withColumn("__fp", lit(null).cast(StringType))
      .withColumn("__pos", lit(null).cast(LongType))
    st.files.find(_.format != "parquet").foreach(bad =>
      throw new UnsupportedIcebergFeatureException(
        s"row lineage over $table needs parquet row_index metadata — " +
          s"${bad.path} is a ${bad.format} data file"))
    // a file whose manifest's row-id origin is UNKNOWABLE (a foreign
    // snapshot's earlier manifest recorded no added-rows count to
    // advance the spec's order-based walk by) must not serve NULL
    // lineage as if it predated the upgrade — refuse by name
    st.files.find(_.lineageUnresolved).foreach(bad =>
      throw new UnsupportedIcebergFeatureException(
        s"row lineage over $table: the manifest holding ${bad.path} " +
          "inherits its first-row-id from a preceding manifest whose " +
          "added-rows count is unrecorded — the origin is unknowable " +
          "and serving NULL ids would be silently wrong; rewrite the " +
          "affected files (OPTIMIZE materializes lineage) first"))
    val df = toDF(spark, st, keepLineage = true, extraPhysical = extras)
    import spark.implicits._
    val origins = broadcast(
      st.files.flatMap(f => ForeignDv.forms(f.path).map(k =>
        (k, f.firstRowId, f.seq))).distinct
        .toDF("__fp", "__frid", "__fseq"))
    df.join(origins, Seq("__fp"), "left")
      .withColumn(RowIdCol,
        coalesce(col(RowIdCol), col("__frid") + col("__pos")))
      .withColumn(LastUpdatedCol,
        when(col(RowIdCol).isNull, lit(null).cast(LongType))
          .otherwise(coalesce(col(LastUpdatedCol), col("__fseq"))))
      .drop("__frid", "__fseq")
  }

  // --------------------------------------------- v3 deletion vectors

  /** One framed `deletion-vector-v1` blob: 4-byte BE length (magic +
    * vector), magic D1 D3 39 64, the STANDARD portable 64-bit roaring
    * bitmap, big-endian CRC-32 of magic+vector — exactly what the
    * read side ([[ForeignDv.puffinBits]]) decodes. */
  private[sources] def dvBlobBytes(vector: Array[Byte]): Array[Byte] = {
    val magic = Array(0xD1.toByte, 0xD3.toByte, 0x39.toByte, 0x64.toByte)
    val len = 4 + vector.length
    val out = java.nio.ByteBuffer.allocate(4 + len + 4) // BE by default
    out.putInt(len)
    out.put(magic)
    out.put(vector)
    val crc = new java.util.zip.CRC32
    crc.update(magic)
    crc.update(vector)
    out.putInt(crc.getValue.toInt)
    out.array()
  }

  /** Decode one deletion vector's positions from its Puffin byte
    * range — the uncached executor-side read the DV MERGE uses
    * (the scan path goes through [[ForeignDv]]'s LRU instead). */
  private[sources] def readPuffinDvPositions(path: String, offset: Long,
      size: Long, conf: org.apache.hadoop.conf.Configuration)
      : Array[Long] = {
    val p = new Path(path)
    val in = p.getFileSystem(conf).open(p)
    val payload =
      try {
        in.seek(offset)
        val buf = new Array[Byte](size.toInt)
        in.readFully(buf)
        buf
      } finally in.close()
    val len = java.nio.ByteBuffer.wrap(payload, 0, 4).getInt()
    require(len >= 4 && len + 8 <= payload.length,
      s"malformed deletion-vector blob at $path:$offset")
    DeltaDv.deserializePortable64(
      java.util.Arrays.copyOfRange(payload, 8, 4 + len))
  }

  /** Write ONE Puffin file holding one `deletion-vector-v1` blob per
    * entry of `blobs` (`(referencedDataFile, portable64Vector,
    * cardinality)`), per the Puffin spec: magic `PFA1`, the framed
    * blobs, a JSON FooterPayload describing each blob (type, byte
    * range, snapshot/sequence lineage, referenced-data-file +
    * cardinality properties), its 4-byte LE size, 4 zero flag bytes
    * (uncompressed footer), closing magic. Returns each blob's
    * `(referenced, content_offset, content_size_in_bytes,
    * cardinality)` for the delete manifest. */
  private def writePuffinDv(fs: FileSystem, path: Path,
      blobs: Seq[(String, Array[Byte], Long)], snapshotId: Long,
      seq: Long): Seq[(String, Long, Long, Long)] = {
    val magic = "PFA1".getBytes(StandardCharsets.UTF_8)
    val out = fs.create(path, false)
    try {
      out.write(magic)
      var offset = 4L
      val placed = blobs.map { case (referenced, vector, card) =>
        val framed = dvBlobBytes(vector)
        out.write(framed)
        val here = offset
        offset += framed.length
        (referenced, here, framed.length.toLong, card)
      }
      val blobsJson = placed.map { case (referenced, off, size, card) =>
        s"""{"type":"deletion-vector-v1","fields":[],""" +
          s""""snapshot-id":$snapshotId,"sequence-number":$seq,""" +
          s""""offset":$off,"length":$size,"properties":{""" +
          s""""referenced-data-file":${jstr(referenced)},""" +
          s""""cardinality":${jstr(card.toString)}}}"""
      }.mkString(",")
      val payload = (s"""{"blobs":[$blobsJson],""" +
        s""""properties":{"created-by":${jstr("graft")}}}""")
        .getBytes(StandardCharsets.UTF_8)
      out.write(magic)
      out.write(payload)
      val tail = java.nio.ByteBuffer.allocate(8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      tail.putInt(payload.length)
      tail.putInt(0) // flags: footer uncompressed
      out.write(tail.array())
      out.write(magic)
      placed
    } finally out.close()
  }

  /** The v3 MERGE-ON-READ delete — [[deleteMor]]'s deletion-vector
    * leg: per TOUCHED data file the fresh kill positions merge with
    * the file's existing vector (the spec's at-most-one-DV-per-file
    * rule) and serialize on EXECUTORS; the driver streams the merged
    * blobs into one Puffin file and publishes ONE delete manifest
    * carrying the COMPLETE vector surface — re-vectored files point
    * at the new blobs, untouched files carry their recorded Puffin
    * ranges — while prior delete manifests drop from the list (their
    * every entry is represented; the pure-DV precondition below makes
    * that safe). Mixed legacy MOR debt (v2 position/equality deletes
    * on an upgraded table) refuses by name — consolidating parquet
    * deletes into vectors is compaction's job, not a delete's.
    *
    * Scale shape: one lineage scan; per-file merge cost is the file's
    * vector, on the executor that holds it; driver memory is
    * O(touched files × compressed bitmap), the same bound the Delta
    * DV writer carries. The consolidated delete manifest re-lists
    * every live vector — O(vectored files) METADATA rows per commit
    * (entries only, never blob bytes); carrying disjoint prior delete
    * manifests verbatim would need per-entry manifest provenance and
    * is the next refinement if vectored-file counts grow past what
    * one manifest comfortably holds (the 100k-entry manifest bound is
    * pinned in MetadataScaleSpec). */
  private def deleteMorDv(spark: SparkSession, fs: FileSystem,
      root: Path, st: IceState,
      matched: DataFrame, counts: Array[(String, Long)]): IceDml = {
    val metaDir = new Path(root, "metadata")
    val priorMeta = org.json4s.jackson.JsonMethods.parse(readText(fs,
      new Path(metaDir, s"v${st.metadataVersion}.metadata.json")))
    val newSeq = (jLong(priorMeta \ "last-sequence-number") max 0L) + 1L
    val snapshotId = math.abs(java.util.UUID.randomUUID()
      .getMostSignificantBits)
    val dvEntries = mergedDvEntries(spark, fs, root, st, matched,
      snapshotId, newSeq)
    val snap = publishDvMor(spark, fs, root, st, priorMeta, dvEntries,
      snapshotId, newSeq, "delete")
    IceDml(snap, counts.map(_._2).sum, counts.length)
  }

  /** The v3 MERGE-ON-READ update — [[updateMor]]'s deletion-vector
    * leg: the matched rows' OLD images vector out (the
    * [[deleteMorDv]] merge machinery) and their NEW images append, in
    * ONE snapshot at ONE sequence number — vectors are path-keyed, so
    * the appended image files (fresh paths) are untouched by their
    * own commit's kill side, the same one-snapshot shape as the v2
    * position-delete update. The new images MATERIALIZE row lineage:
    * each carries its old row's resolved `_row_id` (null for rows
    * predating the v3 upgrade — those inherit a fresh id from the
    * image file's origin, the spec's null-assignment rule) and
    * `_last_updated_sequence_number` = this commit's sequence, under
    * the reserved field ids, so an update PRESERVES lineage. */
  private def updateMorDv(spark: SparkSession, fs: FileSystem,
      root: Path, st: IceState, matched: DataFrame,
      counts: Array[(String, Long)], updated: DataFrame): IceDml = {
    import org.apache.spark.sql.functions.lit
    val metaDir = new Path(root, "metadata")
    val priorMeta = org.json4s.jackson.JsonMethods.parse(readText(fs,
      new Path(metaDir, s"v${st.metadataVersion}.metadata.json")))
    val newSeq = (jLong(priorMeta \ "last-sequence-number") max 0L) + 1L
    val snapshotId = math.abs(java.util.UUID.randomUUID()
      .getMostSignificantBits)
    val dvEntries = mergedDvEntries(spark, fs, root, st, matched,
      snapshotId, newSeq)
    val added = stageRewritten(spark, fs, root, st,
      updated.withColumn(LastUpdatedCol, lit(newSeq)))
    val snap = publishDvMor(spark, fs, root, st, priorMeta, dvEntries,
      snapshotId, newSeq, "overwrite", added)
    IceDml(snap, counts.map(_._2).sum, counts.length)
  }

  /** The shared v3 vector-merge core: per TOUCHED file the fresh kill
    * positions merge with the file's existing vector ON EXECUTORS and
    * serialize; the driver streams merged blobs into one Puffin file
    * and returns the COMPLETE vector surface (new blobs + carried
    * recorded ranges, superseded entries dropped by either path
    * form). Mixed v2 parquet deletes refuse by name. */
  private def mergedDvEntries(spark: SparkSession, fs: FileSystem,
      root: Path, st: IceState, matched: DataFrame,
      snapshotId: Long, newSeq: Long)
      : Seq[(String, String, Long, Long, Long)] = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    if (st.posDeletes.nonEmpty || st.eqDeletes.nonEmpty)
      throw new UnsupportedIcebergFeatureException(
        s"table $root carries v2 position/equality delete files next " +
          "to v3 deletion vectors — run compactDeletes (it retires " +
          "all three encodings together) before vector DML")
    // keyed by BOTH path forms ([[ForeignDv.forms]]): the scan's
    // `__fp` is scheme-normalized + URI-escaped while a foreign
    // manifest may record either shape — a missed lookup here would
    // silently DROP the old vector from the merge (resurrected rows)
    val existing: Map[String, IceDvDelete] =
      st.dvDeletes.flatMap(d =>
        ForeignDv.forms(d.referenced).map(_ -> d)).toMap
    val merged: Array[(String, Array[Byte], Long)] =
      matched.select(col("__fp"), col("__pos")).as[(String, Long)]
        .groupByKey(_._1)
        .mapGroups { (fp, it) =>
          val fresh = it.map(_._2).toArray
          val old = existing.get(fp)
            .map(d => readPuffinDvPositions(d.path, d.offset, d.size,
              new org.apache.hadoop.conf.Configuration()))
            .getOrElse(Array.empty[Long])
          val all = (old ++ fresh).distinct.sorted
          (fp, DeltaDv.serializePortable64(all.toIndexedSeq),
            all.length.toLong)
        }.collect()
    val dataDir = new Path(root, "data")
    fs.mkdirs(dataDir)
    val puffinPath = new Path(dataDir,
      s"dv-${java.util.UUID.randomUUID()}.puffin")
    val placed = writePuffinDv(fs, puffinPath,
      merged.toIndexedSeq, snapshotId, newSeq)
    // the complete vector surface: new blobs for touched files,
    // recorded ranges carried for the rest — superseded entries match
    // by EITHER path form, or a re-vectored file would carry two DVs
    val touched = placed.map(_._1).toSet
    // new entries record the data file's path AS THE MANIFEST RECORDS
    // IT (foreign readers match referenced_data_file textually against
    // their own file list), not the scan's normalized form
    val recordedPath: Map[String, String] =
      st.files.flatMap(f =>
        ForeignDv.forms(f.path).map(_ -> f.path)).toMap
    placed.map { case (ref, off, size, card) =>
      (recordedPath.getOrElse(ref, ref), puffinPath.toString, off,
        size, card)
    } ++ st.dvDeletes
      .filterNot(d => ForeignDv.forms(d.referenced).exists(touched))
      .map(d => (d.referenced, d.path, d.offset, d.size, d.records))
  }

  /** Publish a v3 DELETION-VECTOR commit: one delete manifest whose
    * entries are Puffin-addressed (`file_format=PUFFIN`,
    * `referenced_data_file`, `content_offset`/`content_size_in_bytes`,
    * `record_count` = cardinality, the target file's partition tuple
    * for pruning), a manifest list carrying every prior DATA manifest
    * verbatim and NO prior delete manifest (the caller consolidated
    * them), and the v3 metadata document (snapshot `first-row-id` =
    * the table's `next-row-id`, `added-rows` 0 — a delete adds no
    * rows, so the lineage counter holds). */
  private def publishDvMor(spark: SparkSession, fs: FileSystem,
      root: Path, st: IceState, priorMeta: org.json4s.JValue,
      dvEntries: Seq[(String, String, Long, Long, Long)],
      snapshotId: Long, newSeq: Long, operation: String,
      added: Seq[IceFile] = Nil): Long = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val metaDir = new Path(root, "metadata")
    val uuid = java.util.UUID.randomUUID().toString
    val curSchemaId = jLong(priorMeta \ "current-schema-id") match {
      case -1L => 0L
      case id => id
    }
    val schemaJsonStr = ((priorMeta \ "schemas") match {
      case JArray(xs) if xs.nonEmpty =>
        xs.find(sc => jLong(sc \ "schema-id") == curSchemaId)
          .getOrElse(xs.head)
      case _ => priorMeta \ "schema"
    }) match {
      case node => JsonMethods.compact(JsonMethods.render(node))
    }
    val (partFields, specJson) = morPartFields(priorMeta, st)
    val entrySchema = manifestEntrySchema(partFields, v2 = true,
      dv = true, lineage = true)
    // both path forms again: new entries key by the scan's normalized
    // `__fp`, carried ones by the manifest's recorded path
    val tupleOf: Map[String, Map[String, AnyRef]] =
      st.files.flatMap(f =>
        ForeignDv.forms(f.path).map(_ -> f.partition)).toMap
    val manifestPath = new Path(metaDir, s"$uuid-m0.avro")
    writeAvro(fs, manifestPath, entrySchema,
      Map("format-version" -> "2", "content" -> "deletes",
        "partition-spec" -> specJson,
        "partition-spec-id" -> st.defaultSpecId.toString,
        "schema" -> schemaJsonStr),
      dvEntries.map { case (referenced, path, off, size, card) =>
        val e = new GenericData.Record(entrySchema)
        e.put("status", 1)
        e.put("snapshot_id", snapshotId)
        val dfRec = new GenericData.Record(
          entrySchema.getField("data_file").schema())
        dfRec.put("content", 1)
        dfRec.put("file_path", path)
        dfRec.put("file_format", "PUFFIN")
        putPartition(entrySchema, dfRec, partFields,
          tupleOf.getOrElse(referenced, Map.empty))
        dfRec.put("record_count", card)
        dfRec.put("file_size_in_bytes", size)
        dfRec.put("referenced_data_file", referenced)
        dfRec.put("content_offset", off)
        dfRec.put("content_size_in_bytes", size)
        e.put("data_file", dfRec)
        e
      })
    val listEntries =
      scala.collection.mutable.ArrayBuffer.empty[GenericRecord]
    listEntries += manifestListRowV2(manifestPath.toString,
      fs.getFileStatus(manifestPath).getLen, st.defaultSpecId,
      content = 1, seq = newSeq, minSeq = newSeq, snapshotId,
      (dvEntries.size, 0, 0, dvEntries.map(_._5).sum, 0L, 0L))
    // updateMor's NEW images: a data manifest at the SAME sequence
    // number — vectors are path-keyed, so the fresh paths are
    // untouched by this commit's own kill side. Each image file
    // records an explicit row-id origin from the table's next-row-id
    // (materialized `_row_id` values take precedence row by row; only
    // rows predating the upgrade — materialized null — inherit).
    var rowIdCursor = jLong(priorMeta \ "next-row-id") max 0L
    if (added.nonEmpty) {
      val dataManifest = new Path(metaDir, s"$uuid-m1.avro")
      writeAvro(fs, dataManifest, entrySchema,
        Map("format-version" -> "2", "content" -> "data",
          "partition-spec" -> specJson,
          "partition-spec-id" -> st.defaultSpecId.toString,
          "schema" -> schemaJsonStr),
        added.map { f =>
          val e = new GenericData.Record(entrySchema)
          e.put("status", 1)
          e.put("snapshot_id", snapshotId)
          val dfRec = new GenericData.Record(
            entrySchema.getField("data_file").schema())
          dfRec.put("content", 0)
          dfRec.put("file_path", f.path)
          dfRec.put("file_format", "PARQUET")
          putPartition(entrySchema, dfRec, partFields, f.partition)
          dfRec.put("record_count", f.records)
          dfRec.put("file_size_in_bytes", f.bytes)
          dfRec.put("first_row_id",
            java.lang.Long.valueOf(rowIdCursor))
          rowIdCursor += f.records
          e.put("data_file", dfRec)
          e
        })
      listEntries += manifestListRowV2(dataManifest.toString,
        fs.getFileStatus(dataManifest).getLen, st.defaultSpecId,
        content = 0, seq = newSeq, minSeq = newSeq, snapshotId,
        (added.size, 0, 0, added.map(_.records).sum, 0L, 0L),
        firstRowId = Some(jLong(priorMeta \ "next-row-id") max 0L))
    }
    val priorList: Seq[GenericRecord] = (priorMeta \ "snapshots") match {
      case JArray(xs) =>
        xs.find(sn => jLong(sn \ "snapshot-id") == st.snapshotId)
          .toSeq.flatMap(sn => (sn \ "manifest-list") match {
            case JString(ml) => avroRows(fs, new Path(ml))
            case _ => Nil
          })
      case _ => Nil
    }
    // prior DATA manifests carry; prior DELETE manifests drop — every
    // live vector is re-represented in the consolidated manifest
    val carriedData = priorList.filter(pm => fieldOpt(pm, "content")
      .map(_.asInstanceOf[Number].intValue).getOrElse(0) == 0)
    val listPath = new Path(metaDir, s"snap-$snapshotId-1-$uuid.avro")
    writeAvro(fs, listPath, ManifestFileSchemaV2,
      Map("format-version" -> "2"),
      listEntries.toSeq ++
        carriedData.map(pm => carryManifestRowV2(fs, pm, snapshotId)))
    publishDmlDoc(fs, root, priorMeta, st.metadataVersion,
      snapshotId, listPath, operation, curSchemaId, Some(newSeq),
      rowLineage = Some((jLong(priorMeta \ "next-row-id") max 0L,
        added.map(_.records).sum)))
  }

  /** Stage a DML rewrite's surviving rows as data files under the
    * table's current default spec, field ids stamped; empty outputs
    * (a rewrite that deleted every row) clean up rather than commit
    * zero-record files. */
  private def stageRewritten(spark: SparkSession, fs: FileSystem,
      root: Path, st: IceState, rows: DataFrame): Seq[IceFile] = {
    val ids: Map[String, Long] =
      (if (st.schema.fieldNames.forall(st.evo.fieldIds.contains))
        st.evo.fieldIds
      else st.schema.fieldNames.zipWithIndex
        .map { case (n, i) => n -> (i + 1).toLong }.toMap) ++
        // v3 materialized lineage columns stamp the spec's RESERVED
        // field ids — foreign readers resolve them by id
        Seq(RowIdCol -> RowIdFieldId,
          LastUpdatedCol -> LastUpdatedFieldId)
          .filter { case (n, _) => rows.schema.fieldNames.contains(n) }
    val stamped = stampFieldIds(rows, ids)
    val spec = st.specs.getOrElse(st.defaultSpecId, Nil)
    val staged =
      if (spec.isEmpty) stageUnpartitioned(spark, stamped, root, fs)
      else stagePartitioned(spark, stamped, root, fs, spec)
    val (kept, empty) = staged.partition(_.records > 0)
    empty.foreach(f => fs.delete(new Path(f.path), false): Unit)
    kept
  }

  /** Publish a COPY-ON-WRITE DML snapshot: `added` files enter under
    * the table's default spec; files in `removedPaths` leave.
    * Metadata economics: manifests holding NO removed file carry
    * VERBATIM in the new manifest list; only manifests that lost a
    * file rewrite, their survivors re-entered as status=0 EXISTING
    * under their ORIGINAL snapshot ids (so by-field-id column
    * resolution across schema evolution keeps working for old files).
    * Table identity (uuid), schemas, partition specs, properties,
    * prior snapshots and the snapshot log all carry forward verbatim
    * — time travel to the pre-DML snapshot still serves the removed
    * rows until an expiry pass drops it. Format-version 2 tables
    * refuse by name (this writer's manifest-list rows carry no
    * sequence numbers, which v2 readers require). */
  private def publishRewrite(spark: SparkSession, fs: FileSystem,
      root: Path, st: IceState, added: Seq[IceFile],
      removedPaths: Set[String], operation: String,
      lineageSafe: Boolean = false,
      regroup: Boolean = false,
      summary: Map[String, String] = Map.empty): Long = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    def compactJ(v: JValue): String =
      JsonMethods.compact(JsonMethods.render(v))
    val metaDir = new Path(root, "metadata")
    val priorMeta = JsonMethods.parse(readText(fs,
      new Path(metaDir, s"v${st.metadataVersion}.metadata.json")))
    // a v3 rewrite is legal ONLY when the caller materialized row
    // lineage into the rewritten rows (`lineageSafe`) — the CoW
    // delete/update paths do; anything else would silently reassign
    // every rewritten row's id
    if (jLong(priorMeta \ "format-version") > 2 && !lineageSafe)
      throw new UnsupportedIcebergFeatureException(
        s"table $root is format-version " +
          s"${jLong(priorMeta \ "format-version")} — this rewrite " +
          "path does not materialize row lineage, and a v3 rewrite " +
          "that drops assigned row ids is spec-illegal (CoW " +
          "delete/update, OPTIMIZE and compactDeletes carry lineage " +
          "and are supported)")
    val v2 = jLong(priorMeta \ "format-version") >= 2
    val v3 = jLong(priorMeta \ "format-version") >= 3
    // v3: fresh files allocate their row-id origins from next-row-id
    // (materialized `_row_id` values take precedence row by row);
    // EXISTING survivors carry their recorded origins explicitly
    val priorNextRowId: Long =
      if (!v3) 0L else jLong(priorMeta \ "next-row-id") max 0L
    val fileRowIds: Map[String, Long] =
      if (!v3) Map.empty
      else {
        var cursor = priorNextRowId
        added.map { f =>
          f.path -> { val v = cursor; cursor += f.records; v }
        }.toMap
      }
    // v2 commits take the next sequence number; rewritten survivors
    // keep their ORIGINAL data sequence numbers (entry-level, so the
    // manifest-list inheritance cannot re-stamp them — the spec's
    // EXISTING-entry rule)
    val newSeq: Long =
      if (!v2) 0L
      else (jLong(priorMeta \ "last-sequence-number") max 0L) + 1L
    val snapshotId = math.abs(java.util.UUID.randomUUID()
      .getMostSignificantBits)
    val uuid = java.util.UUID.randomUUID().toString
    val now = System.currentTimeMillis()
    // the current schema node, verbatim — DML never changes the schema
    val curSchemaId = jLong(priorMeta \ "current-schema-id") match {
      case -1L => 0L
      case id => id
    }
    val schemaNode: JValue = (priorMeta \ "schemas") match {
      case JArray(xs) if xs.nonEmpty =>
        xs.find(s => jLong(s \ "schema-id") == curSchemaId)
          .getOrElse(xs.head)
      case _ => priorMeta \ "schema"
    }
    val schemaJsonStr = compactJ(schemaNode)
    val schemaFieldIds: Map[String, Long] =
      (schemaNode \ "fields") match {
        case JArray(fs0) => fs0.flatMap { f =>
          ((f \ "name"), jLong(f \ "id")) match {
            case (JString(n), id) if id >= 0 => Some(n -> id)
            case _ => None
          }
        }.toMap
        case _ => Map.empty
      }
    // spec nodes by id, verbatim from the prior metadata
    val specNodes: Map[Int, JValue] =
      ((priorMeta \ "partition-specs") match {
        case JArray(xs) => xs.flatMap(sp => jLong(sp \ "spec-id") match {
          case -1L => None
          case sid => Some(sid.toInt -> sp)
        })
        case _ => Nil
      }).toMap match {
        case m if m.nonEmpty => m
        case _ => (priorMeta \ "partition-spec") match {
          case arr @ JArray(_) => Map(0 -> JObject(List(
            "spec-id" -> JInt(0), "fields" -> arr)))
          case _ => Map.empty
        }
      }
    def partFieldsOf(specId: Int): Seq[(SpecField, String, Int)] = {
      val sfs = st.specs.getOrElse(specId, Nil)
      val node = specNodes.get(specId)
      val declared = node.map(n => (n \ "fields") match {
        case JArray(fs0) => fs0.length
        case _ => 0
      }).getOrElse(sfs.length)
      if (declared != sfs.length)
        throw new UnsupportedIcebergFeatureException(
          s"partition spec $specId of $root has fields whose source " +
            "columns are not resolvable top-level columns — rewriting " +
            "its manifests would drop partition tuple fields a " +
            "foreign reader prunes on")
      sfs.zipWithIndex.map { case (sf, i) =>
        val dt = st.schema.find(_.name == sf.source).map(_.dataType)
          .getOrElse(throw new UnsupportedIcebergFeatureException(
            s"partition source column ${sf.source} missing from the " +
              s"schema of $root"))
        val avroType = tupleAvroType(sf.transform, dt).getOrElse(
          throw new UnsupportedIcebergFeatureException(
            s"cannot re-encode ${sf.transform}(${sf.source}) over " +
              s"${dt.sql} — not a transform/type combination this " +
              "writer models"))
        val fid = node.map(n => (n \ "fields") match {
          case JArray(fs0) if fs0.length > i =>
            jLong(fs0(i) \ "field-id")
          case _ => -1L
        }).filter(_ >= 0).map(_.toInt).getOrElse(1000 + i)
        (sf, avroType, fid)
      }
    }
    def writeManifest(name: String, specId: Int,
        entries: Seq[(IceFile, Int, Long)]): (Path, Long) = {
      val partFields = partFieldsOf(specId)
      val entrySchema = manifestEntrySchema(partFields, v2, lineage = v3)
      val target = new Path(metaDir, name)
      writeAvro(fs, target, entrySchema,
        Map("format-version" -> (if (v2) "2" else "1"),
          "content" -> "data",
          "partition-spec" -> specNodes.get(specId)
            .map(n => compactJ(n \ "fields")).getOrElse("[]"),
          "partition-spec-id" -> specId.toString,
          "schema" -> schemaJsonStr),
        entries.map { case (f, status, snap) =>
          val e = new GenericData.Record(entrySchema)
          e.put("status", status)
          if (snap >= 0) e.put("snapshot_id", snap)
          if (v2 && status == 0) { // EXISTING keeps its original sequence
            e.put("sequence_number", f.seq)
            // strict v2 readers require EXPLICIT sequence fields on
            // non-ADDED entries — inheritance only applies to status=1
            e.put("file_sequence_number",
              if (f.fileSeq >= 0) f.fileSeq else f.seq)
          }
          val dfRec = new GenericData.Record(
            entrySchema.getField("data_file").schema())
          if (v2) dfRec.put("content", 0)
          dfRec.put("file_path", f.path)
          dfRec.put("file_format", "PARQUET")
          val partRec = new GenericData.Record(
            entrySchema.getField("data_file").schema()
              .getField("partition").schema())
          partFields.foreach { case (sf, avroType, _) =>
            f.partition.get(sf.name).filter(_ != null).foreach { v =>
              partRec.put(sf.name, avroType match {
                case "int" => Integer.valueOf(
                  v.asInstanceOf[Number].intValue)
                case "long" => java.lang.Long.valueOf(
                  v.asInstanceOf[Number].longValue)
                case _ => v.toString
              })
            }
          }
          dfRec.put("partition", partRec)
          dfRec.put("record_count", f.records)
          dfRec.put("file_size_in_bytes", f.bytes)
          // v3 row lineage: ADDED files record their fresh origin,
          // EXISTING survivors carry their recorded one (a null stays
          // null — the file predates lineage and never had ids)
          if (v3)
            (if (status == 1) fileRowIds.get(f.path) else f.firstRowId)
              .foreach(v0 =>
                dfRec.put("first_row_id", java.lang.Long.valueOf(v0)))
          def boundsRecord(field: String,
              m: Map[String, Either[Long, String]]): Unit =
            if (m.nonEmpty) {
              val itemSchema = entrySchema.getField("data_file").schema()
                .getField(field).schema().getTypes.get(1).getElementType
              val arr = new java.util.ArrayList[GenericRecord]()
              m.foreach { case (colName, bound) =>
                for {
                  id <- schemaFieldIds.get(colName)
                  dt <- st.schema.find(_.name == colName).map(_.dataType)
                  bytes <- encodeBound(dt, bound)
                } {
                  val r = new GenericData.Record(itemSchema)
                  r.put("key", id.toInt)
                  r.put("value", bytes)
                  arr.add(r)
                }
              }
              if (!arr.isEmpty) dfRec.put(field, arr)
            }
          boundsRecord("lower_bounds", f.lower)
          boundsRecord("upper_bounds", f.upper)
          e.put("data_file", dfRec)
          e
        })
      (target, fs.getFileStatus(target).getLen)
    }
    def listRow(path: String, length: Long, specId: Int,
        addedSnap: Long): GenericRecord = {
      val r = new GenericData.Record(ManifestFileSchema)
      r.put("manifest_path", path)
      r.put("manifest_length", length)
      r.put("partition_spec_id", specId)
      r.put("added_snapshot_id", addedSnap)
      r
    }
    // the new manifest list: added files first, then prior manifests
    // carried or rewritten by whether they lost a file
    val listEntries =
      scala.collection.mutable.ArrayBuffer.empty[GenericRecord]
    if (added.nonEmpty) {
      val (p, len) = writeManifest(s"$uuid-m0.avro", st.defaultSpecId,
        added.map(f => (f, 1, snapshotId)))
      listEntries +=
        (if (v2) manifestListRowV2(p.toString, len, st.defaultSpecId,
          content = 0, seq = newSeq, minSeq = newSeq, snapshotId,
          (added.size, 0, 0, added.map(_.records).sum, 0L, 0L),
          firstRowId = if (v3) Some(priorNextRowId) else None)
        else listRow(p.toString, len, st.defaultSpecId, snapshotId))
    }
    val byManifest: Map[String, Seq[IceFile]] = st.files.groupBy(_.manifest)
    val priorList: Seq[GenericRecord] = (priorMeta \ "snapshots") match {
      case JArray(xs) =>
        xs.find(s => jLong(s \ "snapshot-id") == st.snapshotId)
          .toSeq.flatMap(s => (s \ "manifest-list") match {
            case JString(ml) => avroRows(fs, new Path(ml))
            case _ => Nil
          })
      case _ => Nil
    }
    var mIdx = 1
    if (regroup) {
      // MANIFEST COMPACTION ([[rewriteManifests]]): every live data
      // entry re-lists as EXISTING — original sequence numbers,
      // snapshot ids and row-id origins — in ONE consolidated
      // manifest per spec-id; delete manifests carry verbatim; the
      // prior data manifests simply leave the list (they stay
      // reachable from prior snapshots until expiry). Planning cost
      // returns to O(live files), however many commits built the
      // table up.
      st.files.groupBy(_.specId).toSeq.sortBy(_._1).foreach {
        case (specId, group) =>
          val (p, len) = writeManifest(s"$uuid-m$mIdx.avro", specId,
            group.map(f => (f, 0, f.snapId)))
          mIdx += 1
          listEntries +=
            (if (v2) manifestListRowV2(p.toString, len, specId,
              content = 0, seq = newSeq,
              minSeq = group.map(_.seq).foldLeft(newSeq)(_ min _),
              snapshotId,
              (0, group.size, 0, 0L, group.map(_.records).sum, 0L))
            else listRow(p.toString, len, specId, snapshotId))
      }
      priorList.foreach { pm =>
        val content = fieldOpt(pm, "content")
          .map(_.asInstanceOf[Number].intValue).getOrElse(0)
        if (content != 0)
          listEntries += carryManifestRowV2(fs, pm, snapshotId)
      }
    } else
    priorList.foreach { pm =>
      val mPath = pm.get("manifest_path").toString
      val group = byManifest.getOrElse(mPath, Nil)
      val survivors = group.filterNot(f => removedPaths.contains(f.path))
      if (survivors.size == group.size) {
        // untouched: carry verbatim (under the version's list schema)
        listEntries +=
          (if (v2) carryManifestRowV2(fs, pm, snapshotId)
          else listRow(mPath,
            pm.get("manifest_length").asInstanceOf[Number].longValue,
            fieldOpt(pm, "partition_spec_id")
              .map(_.asInstanceOf[Number].intValue).getOrElse(0),
            fieldOpt(pm, "added_snapshot_id")
              .map(_.asInstanceOf[Number].longValue).getOrElse(snapshotId)))
      } else if (survivors.nonEmpty) {
        val specId = survivors.head.specId
        val (p, len) = writeManifest(s"$uuid-m$mIdx.avro", specId,
          survivors.map(f => (f, 0, f.snapId)))
        mIdx += 1
        listEntries +=
          (if (v2) manifestListRowV2(p.toString, len, specId,
            content = 0, seq = newSeq,
            minSeq = survivors.map(_.seq).foldLeft(newSeq)(_ min _),
            snapshotId,
            (0, survivors.size, 0, 0L, survivors.map(_.records).sum, 0L))
          else listRow(p.toString, len, specId, snapshotId))
      } // fully-removed manifests simply drop from the list
    }
    val listPath = new Path(metaDir, s"snap-$snapshotId-1-$uuid.avro")
    writeAvro(fs, listPath,
      if (v2) ManifestFileSchemaV2 else ManifestFileSchema,
      Map("format-version" -> (if (v2) "2" else "1")),
      listEntries.toSeq)
    // next metadata json: the prior document verbatim, with only the
    // snapshot bookkeeping advanced (v3: the snapshot claims its
    // row-id range and next-row-id moves past it)
    publishDmlDoc(fs, root, priorMeta, st.metadataVersion, snapshotId,
      listPath, operation, curSchemaId,
      if (v2) Some(newSeq) else None, summary,
      rowLineage =
        if (v3) Some((priorNextRowId, added.map(_.records).sum))
        else None)
  }

  /** The DML commits' shared metadata-document publication: the prior
    * document verbatim with only the snapshot bookkeeping advanced
    * (last-updated, current snapshot, snapshots + log appended, and
    * the sequence counter when `seq` is set — v2 commits). */
  private def publishDmlDoc(fs: FileSystem, root: Path,
      priorMeta: org.json4s.JValue, metadataVersion: Long,
      snapshotId: Long, listPath: Path, operation: String,
      curSchemaId: Long, seq: Option[Long],
      summary: Map[String, String] = Map.empty,
      rowLineage: Option[(Long, Long)] = None): Long = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val metaDir = new Path(root, "metadata")
    val now = System.currentTimeMillis()
    val newSnapshot: JValue = JObject(
      List("snapshot-id" -> (JLong(snapshotId): JValue)) ++
        seq.toList.map(n => "sequence-number" -> (JLong(n): JValue)) ++
        // v3 row lineage: the snapshot records where its row-id range
        // starts and how many rows it added
        rowLineage.toList.flatMap { case (first, added) =>
          List("first-row-id" -> (JLong(first): JValue),
            "added-rows" -> (JLong(added): JValue))
        } ++
        List[(String, JValue)](
          "timestamp-ms" -> JLong(now),
          "summary" -> JObject(
            ("operation" -> (JString(operation): JValue)) ::
              summary.toList.map { case (k, v) =>
                k -> (JString(v): JValue) }),
          "manifest-list" -> JString(listPath.toString),
          "schema-id" -> JLong(curSchemaId)))
    val logEntry: JValue = JObject(List(
      "timestamp-ms" -> JLong(now), "snapshot-id" -> JLong(snapshotId)))
    def appended(v: JValue, extra: JValue): JValue = v match {
      case JArray(xs) => JArray(xs :+ extra)
      case _ => JArray(List(extra))
    }
    // a streaming-upsert commit ALSO persists its replay high-water
    // mark as a table property — snapshot summaries are expirable
    // (expireSnapshots drops the stamped snapshot, and a crash-replay
    // after expiry would then commit twice), while properties carry
    // forward through every metadata publication
    val propDelta: List[(String, JValue)] =
      (summary.get("graft.app-id"), summary.get("graft.batch-id")) match {
        case (Some(a), Some(b)) =>
          List(s"graft.stream.$a.batch-id" -> JString(b))
        case _ => Nil
      }
    val nextMeta = JObject(priorMeta.asInstanceOf[JObject].obj.map {
      case ("last-updated-ms", _) => "last-updated-ms" -> JLong(now)
      case ("last-sequence-number", _) if seq.isDefined =>
        "last-sequence-number" -> JLong(seq.get)
      case ("next-row-id", _) if rowLineage.isDefined =>
        "next-row-id" -> JLong(rowLineage.get._1 + rowLineage.get._2)
      case ("current-snapshot-id", _) =>
        "current-snapshot-id" -> JLong(snapshotId)
      case ("snapshots", v) => "snapshots" -> appended(v, newSnapshot)
      case ("snapshot-log", v) => "snapshot-log" -> appended(v, logEntry)
      case ("properties", JObject(kvs)) if propDelta.nonEmpty =>
        "properties" -> JObject(
          kvs.filterNot(kv => propDelta.exists(_._1 == kv._1)) ++ propDelta)
      // a declared `main` branch advances with the commit (tags and
      // other branches stay pinned)
      case ("refs", JObject(kvs)) =>
        "refs" -> JObject(kvs.map {
          case ("main", JObject(fields)) =>
            "main" -> (JObject(fields.map {
              case ("snapshot-id", _) =>
                "snapshot-id" -> (JLong(snapshotId): JValue)
              case kv => kv
            }): JValue)
          case kv => kv
        })
      case other => other
    } match {
      case fields =>
        val have = fields.map(_._1).toSet
        fields ++
          (if (have("snapshots")) Nil
           else List("snapshots" -> JArray(List(newSnapshot)))) ++
          (if (have("snapshot-log")) Nil
           else List("snapshot-log" -> JArray(List(logEntry)))) ++
          (if (have("current-snapshot-id")) Nil
           else List("current-snapshot-id" -> JLong(snapshotId))) ++
          (if (have("properties") || propDelta.isEmpty) Nil
           else List("properties" -> JObject(propDelta))) ++
          (if (have("next-row-id") || rowLineage.isEmpty) Nil
           else List("next-row-id" ->
             (JLong(rowLineage.get._1 + rowLineage.get._2): JValue)))
    })
    val nextVersion = metadataVersion + 1
    val metaTarget = new Path(metaDir, s"v$nextVersion.metadata.json")
    val metaTmp = new Path(metaDir,
      s".v$nextVersion.metadata.json.${java.util.UUID.randomUUID()}.tmp")
    val out = fs.create(metaTmp, false)
    try out.write(JsonMethods.compact(JsonMethods.render(nextMeta))
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
    val published = ManifestLake.RenameCommit.publish(fs, metaTmp, metaTarget)
    if (!published) {
      fs.delete(metaTmp, false)
      throw new ConcurrentIcebergCommitException(
        s"metadata version $nextVersion of $root was committed " +
          "concurrently — re-read the table and retry")
    }
    val hint = fs.create(new Path(metaDir, "version-hint.text"), true)
    try hint.write(nextVersion.toString.getBytes(StandardCharsets.UTF_8))
    finally hint.close()
    snapshotId
  }

  /** Re-select with `parquet.field.id` metadata on every column so the
    * parquet writer records Iceberg's field ids in the footers. */
  private def stampFieldIds(df: DataFrame,
                            ids: Map[String, Long]): DataFrame = {
    import org.apache.spark.sql.functions.col
    df.select(df.schema.fields.toSeq.map { f =>
      val m = new MetadataBuilder().withMetadata(f.metadata)
        .putLong("parquet.field.id", ids(f.name)).build()
      col(f.name).as(f.name, m)
    }: _*)
  }

  // ------------------------------------------------ schema evolution

  /** Metadata-only column RENAME — the field id (the column's
    * identity) is unchanged, so every existing data file keeps
    * resolving by id under its recorded physical name; no data moves.
    * Appends after the rename must use the new name. */
  def renameColumn(spark: SparkSession, table: String,
                   from: String, to: String): Unit =
    evolveSchema(spark, table) { (fields, _) =>
      import org.json4s._
      require(fields.exists(f => (f \ "name") == JString(from)),
        s"no column named $from in $table")
      if (fields.exists(f => (f \ "name") == JString(to)))
        throw new UnsupportedIcebergFeatureException(
          s"cannot rename $from to $to in $table — a column named " +
            s"$to already exists")
      (fields.map {
        case JObject(fs0) if fs0.contains("name" -> JString(from)) =>
          JObject(fs0.map {
            case ("name", _) => "name" -> JString(to)
            case kv => kv
          })
        case f => f
      }, 0L)
    }

  /** Metadata-only column ADD under a fresh field id (last-column-id
    * + 1). The column is optional per spec — existing files null-fill
    * on read; appends must then carry it. */
  def addColumn(spark: SparkSession, table: String,
                name: String, dataType: DataType): Unit =
    evolveSchema(spark, table) { (fields, lastColumnId) =>
      import org.json4s._
      if (fields.exists(f => (f \ "name") == JString(name)))
        throw new UnsupportedIcebergFeatureException(
          s"cannot add column $name to $table — it already exists")
      val newId = lastColumnId + 1
      (fields :+ JObject(List(
        "id" -> JInt(newId), "name" -> JString(name),
        "required" -> JBool(false),
        "type" -> JString(sparkTypeToIceberg(dataType)))), newId)
    }

  /** `ALTER TABLE … ADD COLUMN … DEFAULT <v>` — the WRITE side of v3
    * column defaults: the new field declares the given value as BOTH
    * `initial-default` (rows written before the field existed serve
    * it — the read side's [[toDF]] projection) and `write-default`
    * (appends omitting the column apply it — [[write]]'s fill), the
    * same pairing Spark's own `ADD COLUMN … DEFAULT` creates.
    * Pre-v3 tables refuse by name (defaults are a v3 schema
    * capability); values this writer cannot encode under the spec's
    * JSON single-value serialization refuse by name. Metadata-only —
    * no data moves. */
  def addColumnWithDefault(spark: SparkSession, table: String,
      name: String, dataType: DataType, default: Any): Unit = {
    import org.json4s._
    val st = state(spark, table, None)
    if (st.formatVersion < 3)
      throw new UnsupportedIcebergFeatureException(
        s"column defaults on $table need format-version 3 (the spec " +
          s"added them there) — the table is v${st.formatVersion}; " +
          "upgradeFormat(table, 3) first")
    val dj = encodeDefault(dataType, default, name, table)
    evolveSchema(spark, table) { (fields, lastColumnId) =>
      if (fields.exists(f => (f \ "name") == JString(name)))
        throw new UnsupportedIcebergFeatureException(
          s"cannot add column $name to $table — it already exists")
      val newId = lastColumnId + 1
      (fields :+ JObject(List(
        "id" -> JInt(newId), "name" -> JString(name),
        "required" -> JBool(false),
        "type" -> JString(sparkTypeToIceberg(dataType)),
        "initial-default" -> dj,
        "write-default" -> dj)), newId)
    }
  }

  /** The v3 writer duty [[write]] and [[upsertByKeys]] share: an
    * append-shaped source that OMITS a `write-default`-bearing column
    * gets the recorded default filled in (explicit values always
    * win — the fold only touches absent columns). */
  private def applyWriteDefaults(df: DataFrame, st: IceState,
      table: String): DataFrame =
    st.evo.writeDefaults.foldLeft(df) { case (acc, (name, j)) =>
      if (acc.columns.contains(name) ||
        !st.schema.fieldNames.contains(name)) acc
      else {
        val dt = st.schema(name).dataType
        acc.withColumn(name, org.apache.spark.sql.functions
          .lit(decodeDefault(dt, j, name, table)).cast(dt))
      }
    }

  /** A Scala value → the spec's JSON single-value serialization under
    * the declared type — [[decodeDefault]]'s inverse; unencodable
    * combinations refuse by name. */
  private def encodeDefault(dt: DataType, v: Any, field: String,
      table: String): org.json4s.JValue = {
    import org.json4s._
    (dt, v) match {
      case (BooleanType, b: Boolean) => JBool(b)
      case (IntegerType, n: Int) => JInt(n)
      case (LongType, n: Long) => JLong(n)
      case (LongType, n: Int) => JLong(n.toLong)
      case (FloatType, f: Float) => JDouble(f.toDouble)
      case (DoubleType, d: Double) => JDouble(d)
      case (StringType, s: String) => JString(s)
      case (DateType, d: java.sql.Date) => JString(d.toString)
      case (_: DecimalType, d: java.math.BigDecimal) =>
        JString(d.toPlainString)
      case (_: DecimalType, d: BigDecimal) =>
        JString(d.bigDecimal.toPlainString)
      case (TimestampNTZType, t: java.time.LocalDateTime) =>
        JString(t.toString)
      case (TimestampType, t: java.time.Instant) =>
        JString(java.time.OffsetDateTime
          .ofInstant(t, java.time.ZoneOffset.UTC).toString)
      case (BinaryType, b: Array[Byte]) =>
        JString("0x" + b.map("%02x".format(_)).mkString)
      case _ =>
        throw new UnsupportedIcebergFeatureException(
          s"cannot declare $v (${v.getClass.getSimpleName}) as the " +
            s"default of $field ${dt.sql} on $table — not a " +
            "type/value combination this writer encodes under the " +
            "spec's JSON single-value serialization")
    }
  }

  /** `ALTER TABLE … ADD COLUMNS` — [[addColumn]] for several fields
    * in ONE metadata version (fresh ids continuing from
    * last-column-id, optional per spec). */
  def addColumns(spark: SparkSession, table: String,
                 newCols: Seq[StructField]): Unit = {
    require(newCols.nonEmpty, "addColumns needs at least one column")
    evolveSchema(spark, table) { (fields, lastColumnId) =>
      import org.json4s._
      var next = lastColumnId
      val added = newCols.toList.map { f =>
        if (fields.exists(x => (x \ "name") == JString(f.name)))
          throw new IllegalArgumentException(
            s"ALTER on $table: column '${f.name}' already exists")
        next += 1
        JObject(List(
          "id" -> JInt(next), "name" -> JString(f.name),
          "required" -> JBool(false),
          "type" -> JString(sparkTypeToIceberg(f.dataType)))): JValue
      }
      (fields ++ added, next)
    }
  }

  /** `ALTER TABLE … DROP COLUMNS` — [[dropColumn]] for several fields
    * in ONE metadata version (ids retire; partition-spec sources
    * refuse). */
  def dropColumns(spark: SparkSession, table: String,
                  names: Seq[String]): Unit = {
    require(names.nonEmpty, "dropColumns needs at least one column")
    val sourced = specSourceIds(spark, table)
    evolveSchema(spark, table) { (fields, _) =>
      import org.json4s._
      val victims = names.map { n =>
        fields.find(f => (f \ "name") == JString(n))
          .getOrElse(throw new IllegalArgumentException(
            s"ALTER on $table: no column '$n'"))
      }
      victims.foreach { v =>
        if (sourced.contains(jLong(v \ "id")))
          throw new UnsupportedIcebergFeatureException(
            s"cannot drop a partition-spec source column of $table — " +
              "rewrite the table under a new spec first")
      }
      require(victims.size < fields.size,
        s"ALTER on $table would drop every column")
      (fields.filterNot(victims.contains), 0L)
    }
  }

  /** The Iceberg spec's legal primitive TYPE PROMOTIONS — the only
    * (write-time → current) pairs the by-id read kernel serves by
    * casting up; everything else refuses by name. */
  private[sources] def legalPromotion(from: DataType, to: DataType): Boolean =
    (from, to) match {
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (f: DecimalType, t: DecimalType) =>
        f.scale == t.scale && t.precision >= f.precision
      case _ => false
    }

  /** Metadata-only column TYPE PROMOTION — the spec's legal widenings
    * only (int→long, float→double, decimal precision widening at
    * equal scale). The field id is unchanged, so every existing data
    * file keeps resolving by id; the read kernel serves old files
    * under their write-time type and casts up. Appends after the
    * promotion use the new type. */
  def promoteColumn(spark: SparkSession, table: String,
                    name: String, to: DataType): Unit =
    evolveSchema(spark, table) { (fields, lastColumnId) =>
      import org.json4s._
      val victim = fields.find(f => (f \ "name") == JString(name))
        .getOrElse(throw new IllegalArgumentException(
          s"no column named $name in $table"))
      val fromS = (victim \ "type") match {
        case JString(s) => s
        case _ => throw new UnsupportedIcebergFeatureException(
          s"column $name of $table has a nested type — promotion " +
            "applies to primitives")
      }
      val toS = sparkTypeToIceberg(to)
      val DecRe = """decimal\((\d+),\s*(\d+)\)""".r
      val ok = (fromS.replace(" ", ""), toS.replace(" ", "")) match {
        case ("int", "long") => true
        case ("float", "double") => true
        case (DecRe(p1, s1), DecRe(p2, s2)) =>
          s1 == s2 && p2.toInt >= p1.toInt
        case _ => false
      }
      if (!ok)
        throw new UnsupportedIcebergFeatureException(
          s"cannot promote $name of $table from $fromS to $toS — the " +
            "spec allows int→long, float→double, and decimal " +
            "precision widening at equal scale only")
      (fields.map {
        case f if (f \ "name") == JString(name) =>
          JObject(f.asInstanceOf[JObject].obj.map {
            case ("type", _) => "type" -> (JString(toS): JValue)
            case kv => kv
          })
        case f => f
      }, lastColumnId)
    }

  /** Metadata-only column DROP. The field id retires with it — a
    * later [[addColumn]] under the same name takes a FRESH id, so old
    * files' values for the dropped column never resurface (the spec's
    * id-resolution rule, pinned in IcebergEvolutionSpec). Refuses when
    * a partition spec sources the column (its tuples would become
    * unresolvable). */
  def dropColumn(spark: SparkSession, table: String,
                 name: String): Unit =
    evolveSchema(spark, table) { (fields, _) =>
      import org.json4s._
      val victim = fields.find(f => (f \ "name") == JString(name))
        .getOrElse(throw new IllegalArgumentException(
          s"no column named $name in $table"))
      require(fields.length > 1,
        s"cannot drop the only column of $table")
      val victimId = jLong(victim \ "id")
      if (specSourceIds(spark, table).contains(victimId))
        throw new UnsupportedIcebergFeatureException(
          s"cannot drop column $name of $table — a partition spec " +
            "sources it; rewrite the table under a new spec first")
      (fields.filterNot(_ == victim), 0L)
    }

  /** Every field id any retained partition spec sources. */
  private def specSourceIds(spark: SparkSession,
                            table: String): Set[Long] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val metaDir = new Path(table, "metadata")
    val fs = hadoopFs(spark, metaDir)
    val version = currentMetadataVersion(fs, table).getOrElse(return Set.empty)
    val metaJson = JsonMethods.parse(readText(fs,
      new Path(metaDir, s"v$version.metadata.json")))
    val multi = (metaJson \ "partition-specs") match {
      case JArray(xs) => xs.flatMap(sp => (sp \ "fields") match {
        case JArray(fs0) => fs0.map(f => jLong(f \ "source-id"))
        case _ => Nil
      })
      case _ => Nil
    }
    val legacy = (metaJson \ "partition-spec") match {
      case JArray(fs0) => fs0.map(f => jLong(f \ "source-id"))
      case _ => Nil
    }
    (multi ++ legacy).filter(_ >= 0).toSet
  }

  /** Publish the next metadata version with an EVOLVED current schema
    * and nothing else changed: `transform` maps (current fields,
    * last-column-id) to (new fields, highest field id it assigned —
    * 0 when none). The new schema appends to `schemas` under the next
    * schema-id; snapshots, specs, uuid and the snapshot log carry
    * verbatim, so history and time travel are untouched. */
  private def evolveSchema(spark: SparkSession, table: String)(
      transform: (List[org.json4s.JValue], Long) =>
        (List[org.json4s.JValue], Long)): Unit = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    def compactJ(v: JValue): String =
      JsonMethods.compact(JsonMethods.render(v))
    val metaDir = new Path(table, "metadata")
    val fs = hadoopFs(spark, metaDir)
    val version = currentMetadataVersion(fs, table).getOrElse(
      throw new IllegalArgumentException(
        s"no v*.metadata.json under $table/metadata"))
    val metaJson = JsonMethods.parse(readText(fs,
      new Path(metaDir, s"v$version.metadata.json")))
    // metadata-only evolution: every other top-level field (v3's
    // next-row-id included) carries verbatim, so v1-v3 are all safe
    if (jLong(metaJson \ "format-version") > 3)
      throw new UnsupportedIcebergFeatureException(
        s"table $table is format-version " +
          s"${jLong(metaJson \ "format-version")} — v1/v2/v3 " +
          "metadata is what this writer evolves")
    val curId = jLong(metaJson \ "current-schema-id") match {
      case -1L => 0L
      case id => id
    }
    val priorSchemas: List[JValue] = (metaJson \ "schemas") match {
      case JArray(xs) if xs.nonEmpty => xs
      case _ => (metaJson \ "schema") match {
        case JNothing => throw new IllegalStateException(
          s"metadata of $table carries no schema")
        case s => List(s)
      }
    }
    val curNode = priorSchemas
      .find(s => jLong(s \ "schema-id") == curId)
      .getOrElse(priorSchemas.head)
    val curFields: List[JValue] = (curNode \ "fields") match {
      case JArray(fs0) => fs0
      case _ => throw new IllegalStateException(
        s"current schema of $table has no fields array")
    }
    val lastColumnId = jLong(metaJson \ "last-column-id") max
      curFields.map(f => jLong(f \ "id")).foldLeft(0L)(_ max _)
    val (newFields, maxAssigned) = transform(curFields, lastColumnId)
    val newSid = priorSchemas.map(s => jLong(s \ "schema-id"))
      .foldLeft(0L)(_ max _) + 1
    val newNode = JObject(List(
      "type" -> JString("struct"), "schema-id" -> JInt(newSid),
      "fields" -> JArray(newFields)))
    val newLci = lastColumnId max maxAssigned
    val now = System.currentTimeMillis()
    val replaced = Set("schema", "schemas", "current-schema-id",
      "last-column-id", "last-updated-ms")
    val newMeta = metaJson match {
      case JObject(kvs) => JObject(
        kvs.filterNot(kv => replaced(kv._1)) ++ List(
          "schema" -> newNode,
          "schemas" -> JArray(priorSchemas :+ newNode),
          "current-schema-id" -> JInt(newSid),
          "last-column-id" -> JInt(newLci),
          "last-updated-ms" -> JInt(now)))
      case other => other
    }
    val nextVersion = version + 1
    val metaTarget = new Path(metaDir, s"v$nextVersion.metadata.json")
    val metaTmp = new Path(metaDir,
      s".v$nextVersion.metadata.json.${java.util.UUID.randomUUID()}.tmp")
    val out = fs.create(metaTmp, false)
    try out.write(compactJ(newMeta).getBytes(StandardCharsets.UTF_8))
    finally out.close()
    val published = ManifestLake.RenameCommit.publish(fs, metaTmp, metaTarget)
    if (!published) {
      fs.delete(metaTmp, false)
      throw new ConcurrentIcebergCommitException(
        s"metadata version $nextVersion of $table was committed " +
          "concurrently — re-read the table and retry")
    }
    val hint = fs.create(new Path(metaDir, "version-hint.text"), true)
    try hint.write(nextVersion.toString.getBytes(StandardCharsets.UTF_8))
    finally hint.close()
  }

  /** The `(field id → physical column name)` map recorded in one
    * parquet footer, or None when the file carries no field ids — the
    * per-file fallback [[toDF]] resolves evolved columns through when
    * the adding snapshot has been expired from the metadata. Bounded:
    * it runs only for that unresolvable subset of an EVOLVED table,
    * never on the common path. */
  private def footerFieldIds(spark: SparkSession,
                             path: String): Option[Map[Long, String]] = {
    val conf = spark.sessionState.newHadoopConf()
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new Path(path), conf))
    try {
      val fields = reader.getFooter.getFileMetaData.getSchema
        .getFields.asScala
      val withIds = fields.flatMap(f => Option(f.getId)
        .map(id => id.intValue.toLong -> f.getName))
      if (withIds.isEmpty) None else Some(withIds.toMap)
    } finally reader.close()
  }

  /** The position-delete `file_path` column's field id (spec-reserved). */
  private val PosFilePathFieldId = 2147483546L

  /** The one data file a position-delete parquet file references: its
    * `file_path` column's footer statistics, when every row group's
    * min and max are that same path. None when they differ or the
    * footer records none. */
  private def referencedDataFile(spark: SparkSession, p: Path)
      : Option[String] = {
    val conf = spark.sessionState.newHadoopConf()
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
    try {
      val stats = reader.getFooter.getBlocks.asScala.toSeq.map(
        _.getColumns.asScala.find(_.getPath.toDotString == "file_path")
          .map(_.getStatistics).filter(s => s != null && s.hasNonNullValue))
      if (stats.isEmpty || stats.exists(_.isEmpty)) None
      else stats.flatten.flatMap(s => Seq(s.genericGetMin, s.genericGetMax))
        .collect { case b: org.apache.parquet.io.api.Binary =>
          b.toStringUsingUTF8 }.distinct match {
          case Seq(one) => Some(one)
          case _ => None
        }
    } finally reader.close()
  }

  private def parquetRowCount(spark: SparkSession, p: Path): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
    try reader.getFooter.getBlocks.asScala.map(_.getRowCount.toLong).sum
    finally reader.close()
  }


  private def stageUnpartitioned(spark: SparkSession, df: DataFrame,
      root: Path, fs: FileSystem): Seq[IceFile] = {
    val stage = new Path(root, s".stage-${java.util.UUID.randomUUID()}")
    df.write.mode("overwrite").parquet(stage.toString)
    val dataDir = new Path(root, "data")
    fs.mkdirs(dataDir)
    val moved = fs.listStatus(stage).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).map { p =>
        val dest = new Path(dataDir, p.getName)
        if (!fs.rename(p, dest))
          throw new IllegalStateException(s"failed to move $p to $dest")
        val (rows, lo, hi) = ScanPredicates.footerStats(spark, dest, df.schema)
        IceFile(dest.toString, rows, fs.getFileStatus(dest).getLen,
          lower = lo, upper = hi)
      }.toSeq
    fs.delete(stage, true): Unit
    moved
  }

  /** One write job partitioned by the synthetic tuple columns; staged
    * `__gpN=value/` directories carry each file's tuple (values parsed
    * back under the known per-field type — no Hive type inference),
    * and the data files themselves carry every source column (the
    * synthetic columns are what partitionBy strips). */
  private def stagePartitioned(spark: SparkSession, df: DataFrame,
      root: Path, fs: FileSystem,
      spec: Seq[SpecField],
      sortExprs: Seq[Column] = Nil): Seq[IceFile] = {
    import org.apache.spark.sql.functions.col
    val typed = spec.map { sf =>
      val dt = df.schema.find(_.name == sf.source).map(_.dataType)
        .getOrElse(throw new UnsupportedIcebergFeatureException(
          s"partition source column ${sf.source} missing from the " +
            "DataFrame being written"))
      val avroType = tupleAvroType(sf.transform, dt).getOrElse(
        throw new UnsupportedIcebergFeatureException(
          s"cannot partition by ${sf.transform}(${sf.source}) over " +
            s"${dt.sql} — not a transform/type combination this " +
            "writer models"))
      (sf, dt, avroType)
    }
    val gpNames = typed.indices.map(i => s"__gp$i")
    require(!df.columns.exists(gpNames.contains),
      "reserved __gpN column name collision")
    val staged = df.select(col("*") +: typed.zipWithIndex.map {
      case ((sf, dt, avroType), i) =>
        tupleColumn(sf, dt, avroType).as(s"__gp$i")
    }: _*)
    val stage = new Path(root, s".stage-${java.util.UUID.randomUUID()}")
    // hash-distribute by tuple (Iceberg's hash distribution mode):
    // without it every task writes a sliver into every partition and
    // the file count is O(tasks × tuples); with it, O(tuples). The
    // trade-off — a single-tuple batch serializes into one task — is
    // the spec'd write-mode trade-off, not an accident.
    // a declared (honorable) sort order sorts WITHIN each partition's
    // files — the tuple distribution stays, the local order is what
    // the stamped sort_order_id promises
    val distributed = staged.repartition(gpNames.map(col): _*)
    (if (sortExprs.isEmpty) distributed
     else distributed.sortWithinPartitions(
       (gpNames.map(col) ++ sortExprs): _*))
      .write.mode("overwrite").partitionBy(gpNames: _*)
      .parquet(stage.toString)
    val dataDir = new Path(root, "data")
    fs.mkdirs(dataDir)
    // walk __gp0=…/__gp1=…/part-*.parquet; dir values decode by the
    // KNOWN avro type of each field (Hive %-escaping, null marker)
    def decode(raw: String, avroType: String): AnyRef =
      if (raw == "__HIVE_DEFAULT_PARTITION__") null
      else avroType match {
        case "int" => Integer.valueOf(ScanPredicates.unescapePath(raw))
        case "long" =>
          java.lang.Long.valueOf(ScanPredicates.unescapePath(raw))
        case _ => ScanPredicates.unescapePath(raw)
      }
    val moved = Seq.newBuilder[IceFile]
    def walk(dir: Path, tuple: Map[String, AnyRef]): Unit =
      fs.listStatus(dir).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory && name.contains("=")) {
          val eq = name.indexOf('=')
          val gpIdx = gpNames.indexOf(name.substring(0, eq))
          if (gpIdx >= 0) {
            val (sf, _, avroType) = typed(gpIdx)
            walk(st.getPath, tuple +
              (sf.name -> decode(name.substring(eq + 1), avroType)))
          }
        } else if (!st.isDirectory && name.endsWith(".parquet")) {
          // a unique name: the same part-00000 recurs in every tuple dir
          val dest = new Path(dataDir,
            s"${java.util.UUID.randomUUID()}.parquet")
          if (!fs.rename(st.getPath, dest))
            throw new IllegalStateException(
              s"failed to move ${st.getPath} to $dest")
          val (rows, lo, hi) = ScanPredicates.footerStats(spark, dest, df.schema)
          moved += IceFile(dest.toString, rows,
            fs.getFileStatus(dest).getLen, partition = tuple,
            lower = lo, upper = hi)
        }
      }
    walk(stage, Map.empty)
    fs.delete(stage, true): Unit
    moved.result()
  }

  /** The shared commit tail of [[write]] and [[exportFromManifest]]:
    * one manifest avro for `newFiles`, a manifest list (prior
    * manifests carried verbatim unless `overwrite`), and the next
    * `v<N>.metadata.json` published create-if-absent.
    *
    * Table IDENTITY and history carry forward — a real Iceberg client
    * holding the table open fails its refresh if the `table-uuid`
    * changes under it, id-based column resolution misbinds if a
    * foreign table's (non-positional) field ids are regenerated, and
    * `snapshot-log` is the table's rollback lineage — so the prior
    * metadata's uuid, CURRENT schema JSON (original field ids), and
    * snapshot-log entries are reused verbatim whenever the incoming
    * schema matches the recorded one (always true for appends, which
    * [[write]] guards). A genuine schema CHANGE (overwrite) evolves
    * per spec instead of resetting: new field ids continue from the
    * prior `last-column-id`, the new schema gets the next schema-id,
    * and prior schemas stay listed so earlier snapshots' `schema-id`
    * references remain resolvable. Prior snapshots stay addressable
    * either way — expiry is a separate maintenance concern, Iceberg's
    * own retention model. */
  private def publishSnapshot(fs: FileSystem, root: Path,
      schema: StructType, newFiles: Seq[IceFile],
      prior: Option[IceState], overwrite: Boolean,
      operation: String, spec: Seq[SpecField] = Nil,
      streamMark: Option[(String, Long)] = None,
      existing: Seq[IceFile] = Nil,
      sortOrderId: Int = 0,
      toBranch: Option[String] = None): Long = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    def compactJ(v: JValue): String = JsonMethods.compact(JsonMethods.render(v))
    val metaDir = new Path(root, "metadata")
    val snapshotId = math.abs(java.util.UUID.randomUUID()
      .getMostSignificantBits)
    val uuid = java.util.UUID.randomUUID().toString
    val priorMeta: Option[JValue] = prior.map(p =>
      JsonMethods.parse(readText(fs,
        new Path(metaDir, s"v${p.metadataVersion}.metadata.json"))))
    // FORMAT VERSION carries forward (a 2→1 downgrade is illegal per
    // spec — sequence numbers would vanish under a reader's feet);
    // fresh tables write v1, upgraded/foreign v2 tables publish v2
    // commits with the NEXT sequence number
    val formatVersion: Int = priorMeta.map(m =>
      jLong(m \ "format-version")).filter(_ >= 1).getOrElse(1L).toInt
    if (formatVersion > 3)
      throw new UnsupportedIcebergFeatureException(
        s"table $root is format-version $formatVersion — served " +
          "read-only (this writer publishes v1-v3 commits)")
    val v2 = formatVersion >= 2
    val v3 = formatVersion >= 3
    // v3 ROW LINEAGE: every commit that adds rows claims the next
    // range of row ids — the snapshot records first-row-id, the
    // metadata's next-row-id advances by the added record count
    val priorNextRowId: Long = priorMeta
      .map(m => jLong(m \ "next-row-id")).filter(_ >= 0).getOrElse(0L)
    // files that already CARRY a row-id origin (compaction survivors,
    // rewrites whose rows materialize `_row_id`) preserve it; only
    // fresh files allocate from next-row-id, in manifest order
    val fileRowIds: Map[String, Long] =
      if (!v3) Map.empty
      else {
        var cursor = priorNextRowId
        newFiles.map { f =>
          f.path -> f.firstRowId.getOrElse {
            val v = cursor; cursor += f.records; v
          }
        }.toMap
      }
    val addedRows: Long =
      newFiles.filter(_.firstRowId.isEmpty).map(_.records).sum
    val newSeq: Long =
      if (!v2) 0L
      else priorMeta.map(m => jLong(m \ "last-sequence-number"))
        .filter(_ >= 0).getOrElse(0L) + 1L
    // identity carries forward: regenerating the uuid per commit makes
    // every commit look like a table REPLACEMENT to a foreign client
    val tableUuid = priorMeta.flatMap(m => (m \ "table-uuid") match {
      case JString(u) => Some(u)
      case _ => None
    }).getOrElse(uuid)
    val priorSchemaNode: Option[JValue] = priorMeta.map { m =>
      val curId = jLong(m \ "current-schema-id")
      (m \ "schemas") match {
        case JArray(xs) if xs.nonEmpty =>
          xs.find(s => jLong(s \ "schema-id") == curId).getOrElse(xs.head)
        case _ => m \ "schema"
      }
    }.filter(_ != JNothing)
    // an APPEND always writes under the table's recorded schema (it
    // passed requireAppendCompatible — evolving field ids on a mere
    // nullability narrowing would orphan the old ids); only an
    // overwrite that genuinely changes the shape evolves the schema
    val reusePrior = prior.nonEmpty && priorSchemaNode.nonEmpty &&
      (!overwrite || prior.exists(p =>
        InteropSchema.sameShape(p.schema, schema)))
    val (schemaJsonStr, currentSchemaId, lastColumnId, schemasJson) =
      if (reusePrior) {
        val node = priorSchemaNode.get
        val sid = jLong(node \ "schema-id") match {
          case -1L => 0L
          case id => id
        }
        val lci = priorMeta.map(m => jLong(m \ "last-column-id"))
          .filter(_ >= 0).getOrElse(schema.length.toLong)
        val schemas = priorMeta.map(m => m \ "schemas") match {
          case Some(JArray(xs)) if xs.nonEmpty =>
            xs.map(compactJ).mkString("[", ",", "]")
          case _ => s"[${compactJ(node)}]"
        }
        (compactJ(node), sid, lci, schemas)
      } else {
        // a new table, or an overwrite that CHANGES the schema: evolve
        // per spec — continue field ids from the prior last-column-id,
        // take the next schema-id, keep prior schemas resolvable
        val firstFieldId = priorMeta.map(m => jLong(m \ "last-column-id"))
          .filter(_ >= 0).map(_ + 1).getOrElse(1L)
        val sid = priorMeta.map(m => jLong(m \ "current-schema-id"))
          .filter(_ >= 0).map(_ + 1).getOrElse(0L)
        val sj = icebergSchemaJson(schema, sid, firstFieldId)
        val priorSchemas = priorMeta.map(m => m \ "schemas") match {
          case Some(JArray(xs)) => xs.map(compactJ)
          case _ => priorSchemaNode.map(compactJ).toList
        }
        (sj, sid, firstFieldId + schema.length - 1,
          (priorSchemas :+ sj).mkString("[", ",", "]"))
      }
    // ---- partition-spec resolution: prior specs carry VERBATIM (old
    // snapshots' manifests resolve their tuples against them forever);
    // the new manifest's spec either MATCHES an existing one (reuse its
    // id and field ids) or appends under the next id — a spec's meaning
    // is never redefined under an id already referenced
    val schemaFieldIds: Map[String, Long] =
      (JsonMethods.parse(schemaJsonStr) \ "fields") match {
        case JArray(fs0) => fs0.flatMap { f =>
          ((f \ "name"), jLong(f \ "id")) match {
            case (JString(n), id) if id >= 0 => Some(n -> id)
            case _ => None
          }
        }.toMap
        case _ => Map.empty
      }
    val wantFields: Seq[(String, String, Long)] = spec.map { sf =>
      (sf.name, sf.transform, schemaFieldIds.getOrElse(sf.source,
        throw new UnsupportedIcebergFeatureException(
          s"partition source column ${sf.source} is not a top-level " +
            s"column of the schema being written to $root")))
    }
    val priorSpecs: Seq[JValue] =
      priorMeta.map(m => m \ "partition-specs") match {
        case Some(JArray(xs)) => xs
        case _ => priorMeta.map(m => m \ "partition-spec") match {
          case Some(arr @ JArray(fs0)) if fs0.nonEmpty =>
            Seq(JObject(List("spec-id" -> JInt(0), "fields" -> arr)))
          case _ => Nil
        }
      }
    def specMatches(node: JValue): Boolean = (node \ "fields") match {
      case JArray(fs0) => fs0.length == wantFields.length &&
        fs0.zip(wantFields).forall { case (f, (n, t, sid)) =>
          (f \ "name") == JString(n) && (f \ "transform") == JString(t) &&
            jLong(f \ "source-id") == sid
        }
      case _ => wantFields.isEmpty
    }
    val matchedSpec = priorSpecs.find(specMatches)
    val specNode: JValue = matchedSpec.getOrElse {
      val nextId = priorSpecs.map(n => jLong(n \ "spec-id"))
        .filter(_ >= 0).reduceOption(_ max _).map(_ + 1).getOrElse(0L)
      JObject(List("spec-id" -> JInt(nextId),
        "fields" -> JArray(wantFields.zipWithIndex.map {
          case ((n, t, sid), i) =>
            JObject(List("name" -> JString(n), "transform" -> JString(t),
              "source-id" -> JInt(sid), "field-id" -> JInt(1000 + i)))
        }.toList)))
    }
    val specId = jLong(specNode \ "spec-id").toInt
    val allSpecsJson =
      (if (matchedSpec.isDefined) priorSpecs else priorSpecs :+ specNode)
        .map(compactJ).mkString("[", ",", "]") match {
        case "[]" => s"[${compactJ(specNode)}]" // fresh table
        case s => s
      }
    val legacySpecJson = compactJ(specNode \ "fields")
    // avro partition-record fields: field ids from the RESOLVED spec
    // node, physical types from transform × source column type
    val partFields: Seq[(SpecField, String, Int)] =
      spec.zipWithIndex.map { case (sf, i) =>
        val dt = schema.find(_.name == sf.source).map(_.dataType)
          .getOrElse(throw new UnsupportedIcebergFeatureException(
            s"partition source column ${sf.source} missing from the " +
              s"written schema of $root"))
        val avroType = tupleAvroType(sf.transform, dt).getOrElse(
          throw new UnsupportedIcebergFeatureException(
            s"cannot partition $root by ${sf.transform}(${sf.source}) " +
              s"over ${dt.sql} — not a transform/type combination this " +
              "writer models"))
        val fid = ((specNode \ "fields") match {
          case JArray(fs0) => jLong(fs0(i) \ "field-id")
          case _ => -1L
        }) match {
          case -1L => 1000 + i
          case id => id.toInt
        }
        (sf, avroType, fid)
      }
    val entrySchema = manifestEntrySchema(partFields, v2, lineage = v3)
    // the new manifest
    val manifestPath = new Path(metaDir, s"$uuid-m0.avro")
    fs.mkdirs(metaDir)
    writeAvro(fs, manifestPath, entrySchema,
      Map("format-version" -> formatVersion.toString,
        "content" -> "data",
        "partition-spec" -> legacySpecJson,
        "partition-spec-id" -> specId.toString,
        "schema" -> schemaJsonStr),
      (newFiles.map((_, true)) ++ existing.map((_, false))).map {
        case (f, isAdded) =>
        val e = new GenericData.Record(entrySchema)
        if (isAdded) {
          e.put("status", 1) // ADDED — sequence numbers inherit
          e.put("snapshot_id", snapshotId)
        } else {
          // UNTOUCHED survivor of a replace commit (compaction):
          // status=0 with its ORIGINAL data sequence number recorded
          // entry-level, so manifest-list inheritance cannot re-stamp
          // it — rows that never materialized
          // `_last_updated_sequence_number` keep reporting the seq
          // that actually last updated them (spec's EXISTING rule)
          e.put("status", 0)
          if (f.snapId >= 0) e.put("snapshot_id", f.snapId)
          if (v2) {
            e.put("sequence_number", f.seq)
            e.put("file_sequence_number",
              if (f.fileSeq >= 0) f.fileSeq else f.seq)
          }
        }
        val dfRec = new GenericData.Record(
          entrySchema.getField("data_file").schema())
        if (v2) dfRec.put("content", 0)
        dfRec.put("file_path", f.path)
        dfRec.put("file_format", "PARQUET")
        val partRec = new GenericData.Record(
          entrySchema.getField("data_file").schema()
            .getField("partition").schema())
        partFields.foreach { case (sf, avroType, _) =>
          f.partition.get(sf.name).filter(_ != null).foreach { v =>
            partRec.put(sf.name, avroType match {
              case "int" => Integer.valueOf(
                v.asInstanceOf[Number].intValue)
              case "long" => java.lang.Long.valueOf(
                v.asInstanceOf[Number].longValue)
              case _ => v.toString
            })
          }
        }
        dfRec.put("partition", partRec)
        dfRec.put("record_count", f.records)
        dfRec.put("file_size_in_bytes", f.bytes)
        // sort_order_id (spec field 140): added files take the
        // commit's order (0 = unsorted, left null); EXISTING
        // survivors keep their recorded layout evidence
        (if (isAdded) Some(sortOrderId).filter(_ > 0) else f.sortOrderId)
          .foreach(v => dfRec.put("sort_order_id", Integer.valueOf(v)))
        // v3 row lineage: every added data file records its explicit
        // row-id origin (preserved or freshly allocated above);
        // EXISTING survivors carry their recorded one (a null stays
        // null — the file predates lineage and never had ids)
        if (v3)
          (if (isAdded) fileRowIds.get(f.path) else f.firstRowId)
            .foreach(v =>
              dfRec.put("first_row_id", java.lang.Long.valueOf(v)))
        // recorded bounds (when the stager extracted them) — what a
        // reader, foreign or ours, prunes files on
        def boundsRecord(field: String,
                         m: Map[String, Either[Long, String]]): Unit =
          if (m.nonEmpty) {
            val itemSchema = entrySchema.getField("data_file").schema()
              .getField(field).schema().getTypes.get(1).getElementType
            val arr = new java.util.ArrayList[GenericRecord]()
            m.foreach { case (colName, bound) =>
              for {
                id <- schemaFieldIds.get(colName)
                dt <- schema.find(_.name == colName).map(_.dataType)
                bytes <- encodeBound(dt, bound)
              } {
                val r = new GenericData.Record(itemSchema)
                r.put("key", id.toInt)
                r.put("value", bytes)
                arr.add(r)
              }
            }
            if (!arr.isEmpty) dfRec.put(field, arr)
          }
        boundsRecord("lower_bounds", f.lower)
        boundsRecord("upper_bounds", f.upper)
        e.put("data_file", dfRec)
        e
      })
    val manifestLen = fs.getFileStatus(manifestPath).getLen
    // the manifest list: prior manifests carried verbatim on append
    val priorManifests: Seq[GenericRecord] =
      if (overwrite) Nil
      else prior.toSeq.filter(_.snapshotId != -1L).flatMap { p =>
        val snaps = priorMeta.map(m => m \ "snapshots") match {
          case Some(JArray(xs)) => xs
          case _ => Nil
        }
        snaps.find(s => jLong(s \ "snapshot-id") == p.snapshotId)
          .toSeq.flatMap(s => (s \ "manifest-list") match {
            case JString(ml) => avroRows(fs, new Path(ml))
            case _ => Nil
          })
      }
    val listPath = new Path(metaDir, s"snap-$snapshotId-1-$uuid.avro")
    if (!v2) {
      val newEntry = {
        val r = new GenericData.Record(ManifestFileSchema)
        r.put("manifest_path", manifestPath.toString)
        r.put("manifest_length", manifestLen)
        r.put("partition_spec_id", specId)
        r.put("added_snapshot_id", snapshotId)
        r
      }
      // prior manifest-file rows re-encode under OUR list schema (their
      // extra columns drop; the four this reader and writer agree on
      // stay) — EXCEPT a delete manifest: dropping its `content=1`
      // marker would re-label it as a data manifest for foreign readers
      val carried = priorManifests.map { pm =>
        val pmContent = fieldOpt(pm, "content")
          .map(_.asInstanceOf[Number].intValue).getOrElse(0)
        if (pmContent != 0)
          throw new UnsupportedIcebergFeatureException(
            s"append to $root would carry a DELETE manifest whose " +
              "content marker this writer's v1 manifest-list schema " +
              "does not encode — a foreign reader would misread it as " +
              "data; compact the deletes first (compactDeletes) or " +
              "upgrade the table (upgradeFormat)")
        val r = new GenericData.Record(ManifestFileSchema)
        r.put("manifest_path", pm.get("manifest_path").toString)
        r.put("manifest_length",
          pm.get("manifest_length").asInstanceOf[Number].longValue)
        r.put("partition_spec_id", fieldOpt(pm, "partition_spec_id")
          .map(_.asInstanceOf[Number].intValue).getOrElse(0))
        r.put("added_snapshot_id", fieldOpt(pm, "added_snapshot_id")
          .map(_.asInstanceOf[Number].longValue).getOrElse(snapshotId))
        r
      }
      writeAvro(fs, listPath, ManifestFileSchema,
        Map("format-version" -> "1"), newEntry +: carried)
    } else {
      // v2 list rows carry the spec's required content / sequence /
      // count fields. The new manifest takes the commit's sequence
      // number (its entries inherit it); carried rows keep their own
      // recorded values — INCLUDING delete manifests, whose content=1
      // marker this schema encodes, so appends to merge-on-read
      // tables no longer refuse (new files get a HIGHER sequence than
      // every existing delete, which is exactly the spec's rule for
      // "deletes never apply to later data")
      val newEntry = manifestListRowV2(manifestPath.toString, manifestLen,
        specId, content = 0, seq = newSeq,
        minSeq = existing.map(_.seq).filter(_ >= 0)
          .foldLeft(newSeq)(_ min _),
        addedSnap = snapshotId,
        counts = (newFiles.size, existing.size, 0,
          newFiles.map(_.records).sum, existing.map(_.records).sum, 0L),
        firstRowId = if (v3) Some(priorNextRowId) else None)
      val carried = priorManifests.map(pm =>
        carryManifestRowV2(fs, pm, snapshotId))
      writeAvro(fs, listPath, ManifestFileSchemaV2,
        Map("format-version" -> "2"), newEntry +: carried)
    }

    // next metadata json, rename-if-absent (the Hadoop-catalog commit).
    // PRIOR snapshots carry forward verbatim — time travel addresses
    // them until an expiry pass removes them, Iceberg's own retention
    // model.
    val nextVersion = prior.map(_.metadataVersion + 1).getOrElse(1L)
    val now = System.currentTimeMillis()
    val metaTarget = new Path(metaDir, s"v$nextVersion.metadata.json")
    val metaTmp = new Path(metaDir,
      s".v$nextVersion.metadata.json.${java.util.UUID.randomUUID()}.tmp")
    val priorSnapshotsJson: Seq[String] =
      priorMeta.map(m => m \ "snapshots") match {
        case Some(JArray(xs)) => xs.map(compactJ)
        case _ => Nil
      }
    // a streaming append stamps its (app, batch) into the snapshot
    // summary like the upsert sink does — the visible half of the
    // replay guard (the durable half is the table property below)
    val summaryJson = ("\"operation\":" + jstr(operation)) +
      streamMark.map { case (a, b) =>
        s""","graft.app-id":${jstr(a)},"graft.batch-id":${jstr(b.toString)}"""
      }.getOrElse("")
    val newSnapshotJson =
      s"""{"snapshot-id":$snapshotId,""" +
        // the spec's ancestry pointer — what fast-forward walks to
        // prove a branch head descends from the current one
        prior.filter(_.snapshotId != -1L)
          .map(p => s""""parent-snapshot-id":${p.snapshotId},""")
          .getOrElse("") +
        (if (v2) s""""sequence-number":$newSeq,""" else "") +
        (if (v3) s""""first-row-id":$priorNextRowId,""" +
          s""""added-rows":$addedRows,""" else "") +
        s""""timestamp-ms":$now,""" +
        s""""summary":{$summaryJson},""" +
        s""""manifest-list":${jstr(listPath.toString)},""" +
        s""""schema-id":$currentSchemaId}"""
    val snapshotsJson =
      (priorSnapshotsJson :+ newSnapshotJson).mkString("[", ",", "]")
    // snapshot-log is the table's rollback lineage — resetting it to
    // only the new entry erases history a foreign client navigates by
    val priorLogJson: Seq[String] =
      priorMeta.map(m => m \ "snapshot-log") match {
        case Some(JArray(xs)) => xs.map(compactJ)
        case _ => Nil
      }
    // a BRANCH write moves only its ref: the current pointer and the
    // snapshot-log (which tracks CURRENT-pointer changes per spec)
    // stay untouched until a fast-forward publishes the branch
    val logJson =
      (if (toBranch.isDefined) priorLogJson
       else priorLogJson :+
         s"""{"timestamp-ms":$now,"snapshot-id":$snapshotId}""")
        .mkString("[", ",", "]")
    // v2 REQUIRED top-level fields beyond v1's: last-sequence-number,
    // last-partition-id, sort-orders/default-sort-order-id
    val lastPartitionId: Long =
      (JsonMethods.parse(allSpecsJson) match {
        case JArray(sps) => sps.flatMap(sp => (sp \ "fields") match {
          case JArray(fs0) => fs0.map(f => jLong(f \ "field-id"))
          case _ => Nil
        })
        case _ => Nil
      }).foldLeft(999L)(_ max _)
    // SORT ORDERS carry VERBATIM: a foreign (or [[replaceSortOrder]]-
    // declared) table's `sort-orders`/`default-sort-order-id` survive
    // every commit — resetting them to order 0 would leave a foreign
    // reader's default-sort-order-id dangling. v1 metadata carries
    // them too when present (optional in v1, required in v2).
    val (sortOrdersJson, defaultSortIdJson) = priorMeta
      .map(m => (m \ "sort-orders", m \ "default-sort-order-id"))
      .collect { case (so @ JArray(xs), dsi) if xs.nonEmpty =>
        (compactJ(so), jLong(dsi) match {
          case -1L => 0L
          case id => id
        })
      }
      .getOrElse(("""[{"order-id":0,"fields":[]}]""", 0L))
    val sortFields0 =
      s""""default-sort-order-id":$defaultSortIdJson,
         |"sort-orders":$sortOrdersJson,
         |""".stripMargin
    val v2Fields =
      (if (!v2) {
        // optional in v1 — emitted only when the table declares one
        if (defaultSortIdJson == 0L &&
          sortOrdersJson == """[{"order-id":0,"fields":[]}]""") ""
        else sortFields0
      }
      else s""""last-sequence-number":$newSeq,
           |"last-partition-id":$lastPartitionId,
           |""".stripMargin + sortFields0) +
        (if (!v3) ""
         else s""""next-row-id":${priorNextRowId + addedRows},""" + "\n")
    // properties and refs carry forward VERBATIM — dropping them
    // would erase table configuration (the streaming replay marker
    // lives there) and every branch/tag; a declared `main` branch
    // advances to the new head like Iceberg's own writers move it
    val propsJson = {
      val prior0: List[(String, JValue)] =
        priorMeta.map(m => m \ "properties") match {
          case Some(JObject(kvs)) => kvs
          case _ => Nil
        }
      // the EXPIRY-PROOF replay high-water mark, exactly like the
      // upsert sink's property ledger ([[publishDmlDoc]])
      val delta: List[(String, JValue)] = streamMark.toList.map {
        case (a, b) =>
          s"graft.stream.$a.batch-id" -> (JString(b.toString): JValue)
      }
      compactJ(JObject(
        prior0.filterNot(kv => delta.exists(_._1 == kv._1)) ++ delta))
    }
    val refsField: String = toBranch match {
      case Some(b) =>
        // the branch ref advances (created on first write); `main`
        // and every other ref stay pinned
        val prior0: List[(String, JValue)] =
          priorMeta.map(m => m \ "refs") match {
            case Some(JObject(kvs)) => kvs
            case _ => Nil
          }
        val entry: JValue = JObject(List(
          "snapshot-id" -> (JLong(snapshotId): JValue),
          "type" -> (JString("branch"): JValue)))
        val advanced = prior0.filterNot(_._1 == b) :+ (b -> entry)
        s""""refs":${compactJ(JObject(advanced))},"""
      case None => priorMeta.map(m => m \ "refs") match {
        case Some(JObject(kvs)) if kvs.nonEmpty =>
          val advanced = kvs.map {
            case ("main", JObject(fields)) =>
              "main" -> (JObject(fields.map {
                case ("snapshot-id", _) =>
                  "snapshot-id" -> (JLong(snapshotId): JValue)
                case kv => kv
              }): JValue)
            case kv => kv
          }
          s""""refs":${compactJ(JObject(advanced))},"""
        case _ => ""
      }
    }
    // statistics / partition-statistics entries carry VERBATIM: they
    // describe the snapshots they NAME (which stay addressable), not
    // the new head — dropping them would erase recorded NDV planning
    // stats on every commit; expiry prunes entries with their
    // snapshots
    val carriedStats: String = priorMeta.map(m =>
      List("statistics", "partition-statistics").flatMap(k =>
        (m \ k) match {
          case arr @ JArray(xs) if xs.nonEmpty =>
            Some(s""""$k":${compactJ(arr)},""")
          case _ => None
        }).mkString).getOrElse("")
    // metadata-log: the spec's previous-metadata lineage (what
    // foreign clients time-travel metadata by) — prior entries carry,
    // this commit appends the file it supersedes, capped at the
    // spec's previous-versions default (100)
    val metadataLogField: String = prior.map { p =>
      val priorEntries: Seq[String] =
        priorMeta.map(m => m \ "metadata-log") match {
          case Some(JArray(xs)) => xs.map(compactJ)
          case _ => Nil
        }
      val priorTs = priorMeta.map(m => jLong(m \ "last-updated-ms"))
        .filter(_ > 0).getOrElse(now)
      val entry = s"""{"timestamp-ms":$priorTs,"metadata-file":${
        jstr(new Path(metaDir,
          s"v${p.metadataVersion}.metadata.json").toString)}}"""
      s""""metadata-log":${(priorEntries :+ entry).takeRight(100)
        .mkString("[", ",", "]")},"""
    }.getOrElse("")
    val json =
      s"""{"format-version":$formatVersion,"table-uuid":${jstr(tableUuid)},
         |"location":${jstr(root.toString)},"last-updated-ms":$now,
         |$v2Fields"last-column-id":$lastColumnId,
         |"schema":$schemaJsonStr,
         |"schemas":$schemasJson,
         |"current-schema-id":$currentSchemaId,
         |"partition-spec":$legacySpecJson,"default-spec-id":$specId,
         |"partition-specs":$allSpecsJson,
         |"properties":$propsJson,
         |$refsField$carriedStats$metadataLogField"current-snapshot-id":${
           if (toBranch.isEmpty) snapshotId
           else priorMeta.map(m => jLong(m \ "current-snapshot-id"))
             .getOrElse(-1L)},
         |"snapshots":$snapshotsJson,
         |"snapshot-log":$logJson
         |}""".stripMargin.replace("\n", "")
    val out = fs.create(metaTmp, false)
    try out.write(json.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    commitRaceHook.getAndSet(() => ()).apply()
    // atomic create-if-absent (hard-link on file:): exists()+rename is
    // a TOCTOU race where two committers can both "win" the version
    val published = ManifestLake.RenameCommit.publish(fs, metaTmp, metaTarget)
    if (!published) {
      fs.delete(metaTmp, false)
      throw new ConcurrentIcebergCommitException(
        s"metadata version $nextVersion of $root was committed " +
          "concurrently — re-read the table and retry")
    }
    val hint = fs.create(new Path(metaDir, "version-hint.text"), true)
    try hint.write(nextVersion.toString.getBytes(StandardCharsets.UTF_8))
    finally hint.close()
    snapshotId
  }

  private def writeAvro(fs: FileSystem, target: Path,
                        schema: org.apache.avro.Schema,
                        meta: Map[String, String],
                        rows: Seq[GenericRecord]): Unit = {
    val out = fs.create(target, false)
    val writer = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
    meta.foreach { case (k, v) => writer.setMeta(k, v) }
    writer.create(schema, out)
    try rows.foreach(writer.append)
    finally writer.close() // closes the stream
  }

  // --------------------------------------------------------- conversion

  /** Compact away MERGE-ON-READ delete debt — v2 position/equality
    * deletes AND v3 deletion vectors: data files a delete touches
    * rewrite WITHOUT their deleted rows, files no delete touches
    * carry verbatim, and one overwrite-style snapshot publishes the
    * clean file set with NO delete manifests (prior snapshots stay
    * addressable until expiry). On v3 the rewritten survivors
    * MATERIALIZE their row lineage and kept files preserve recorded
    * origins, so compaction never reassigns a row id. After the
    * compaction, appends and [[importToManifest]] apply again. Cost
    * tracks the deleted surface: only touched files rewrite. */
  def compactDeletes(spark: SparkSession, table: String): Long = {
    requireNoWapBranch(spark, table, "compactDeletes")
    val st = state(spark, table, None)
    // all three delete encodings (v2 position/equality parquet, v3
    // deletion vectors) compose in the read and retire together here
    // — compaction is the remedy for mixed debt, so it must never
    // refuse it (DML atop mixed debt refuses and points HERE)
    if (st.posDeletes.isEmpty && st.eqDeletes.isEmpty &&
      st.dvDeletes.isEmpty) return st.snapshotId
    val root = new Path(table)
    val fs = hadoopFs(spark, root)
    import org.apache.spark.sql.functions.{col, regexp_replace}
    def norm(c: org.apache.spark.sql.Column) =
      regexp_replace(c, "^[A-Za-z][A-Za-z0-9+.-]*:/+", "/")
    def normStr(s: String): String =
      s.replaceFirst("^[A-Za-z][A-Za-z0-9+.-]*:/+", "/")
    // v3 deletion vectors name their target file directly; v2
    // position deletes name theirs in rows
    val touched =
      (if (st.posDeletes.isEmpty) Set.empty[String]
       else spark.read.parquet(st.posDeletes: _*)
         .select(norm(col("file_path")).as("fp")).distinct()
         .collect().map(_.getString(0)).toSet) ++
        st.dvDeletes.flatMap(d => ForeignDv.forms(d.referenced))
    // an equality delete can touch ANY file with a smaller sequence
    // number — rewrite everything below the newest delete's sequence
    val maxEqSeq =
      if (st.eqDeletes.isEmpty) Long.MinValue
      else st.eqDeletes.map(_.seq).max
    // match either path spelling: delete files record raw paths per
    // spec, but pre-fix graft sidecars carried the escaped lineage form
    val (rewrite, keep) = st.files.partition(f =>
      ForeignDv.forms(f.path).exists(touched) || f.seq < maxEqSeq)
    val dataDir = new Path(root, "data")
    fs.mkdirs(dataDir)
    val rewritten =
      if (rewrite.isEmpty) Nil
      else {
        // copy the full state (specs for the identity fill, evo for
        // renamed-generation resolution) — only the file set narrows.
        // v3 survivors MATERIALIZE their resolved row lineage: kept
        // files preserve recorded origins, rewritten rows carry their
        // ids in-file, so compaction never reassigns lineage
        val clean0 =
          if (st.formatVersion >= 3)
            lineageResolved(spark, st.copy(files = rewrite), table)
              .drop("__fp", "__pos")
          else toDF(spark, st.copy(files = rewrite))
        val clean =
          if (st.schema.fieldNames.forall(st.evo.fieldIds.contains))
            stampFieldIds(clean0, st.evo.fieldIds ++
              Seq(RowIdCol -> RowIdFieldId,
                LastUpdatedCol -> LastUpdatedFieldId)
                .filter(kv => clean0.schema.fieldNames.contains(kv._1)))
          else clean0
        val stage = new Path(root,
          s".compact-${java.util.UUID.randomUUID()}")
        clean.write.mode("overwrite").parquet(stage.toString)
        val conf = spark.sessionState.newHadoopConf()
        val moved = fs.listStatus(new Path(stage.toString)).map(_.getPath)
          .filter(_.getName.endsWith(".parquet")).map { p =>
            val dest = new Path(dataDir, p.getName)
            if (!fs.rename(p, dest))
              throw new IllegalStateException(s"failed to move $p to $dest")
            val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
              org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
                dest, conf))
            val rows = try reader.getFooter.getBlocks.asScala
              .map(_.getRowCount.toLong).sum
            finally reader.close()
            IceFile(dest.toString, rows, fs.getFileStatus(dest).getLen)
          }.toSeq
        fs.delete(stage, true): Unit
        moved
      }
    // keep files ride as EXISTING entries with their ORIGINAL data
    // sequence numbers — re-adding them would re-stamp every
    // unmaterialized row's `_last_updated_sequence_number` with the
    // compaction's sequence (r15 lineage fix)
    publishSnapshot(fs, root, st.schema, rewritten,
      Some(st), overwrite = true, operation = "replace",
      existing = keep)
  }

  /** OPTIMIZE — bin-pack compaction and optional Z-ORDER clustering
    * for the Iceberg side (`rewrite_data_files` strategy binpack /
    * sort): per partition tuple, small files (or ALL plain files when
    * `zorderBy` is given) rewrite into ~target-sized replacements,
    * clustered on the interleaved z-value when ordering — footer
    * bounds re-record, so [[readWhere]]'s stats pruning tightens on
    * every z dimension. Publishes one `replace` snapshot carrying the
    * untouched files verbatim. Merge-on-read delete files must be
    * compacted first ([[compactDeletes]]); mixed partition specs among
    * live files refuse by name (one manifest declares one spec).
    * Returns the new snapshot id, or the current one when nothing
    * qualifies. */
  /** Iceberg `rewrite_manifests` — METADATA compaction (SQL:
    * `OPTIMIZE graft_iceberg.t REWRITE MANIFESTS`): every live data
    * entry re-lists as EXISTING — original sequence number, snapshot
    * id and row-id origin preserved, so time-ordering semantics
    * (equality-delete applicability, lineage) are untouched — in ONE
    * consolidated manifest per partition spec, published as a
    * `replace` snapshot that adds and removes NOTHING. Data files are
    * never read or moved; prior manifests stay reachable from prior
    * snapshots until [[expireSnapshots]] collects them. The 100 TB
    * point: a table built by per-minute appends accumulates one
    * manifest per commit, and scan planning reads every one of them —
    * this returns planning to O(live files) metadata without touching
    * a data byte. No-ops (returns the current snapshot) when the
    * manifest count is already minimal. On v3, a live file whose
    * row-id origin the inheritance walk cannot resolve refuses by
    * name — re-listing it would materialize an explicit null
    * ("predates lineage") where today's read refuses, a silent
    * downgrade. */
  def rewriteManifests(spark: SparkSession, table: String): Long = {
    requireNoWapBranch(spark, table, "rewriteManifests")
    val root = new Path(table)
    val fs = hadoopFs(spark, root)
    val st = state(spark, table, None)
    if (st.files.isEmpty) return st.snapshotId
    val dataManifests = st.files.map(_.manifest).distinct.size
    val specCount = st.files.map(_.specId).distinct.size
    if (dataManifests <= specCount) return st.snapshotId
    if (st.formatVersion >= 3 && st.files.exists(_.lineageUnresolved))
      throw new UnsupportedIcebergFeatureException(
        s"a live file of $table has an unresolvable row-id origin — " +
          "rewriting its manifest entry would record an explicit " +
          "null origin where lineage reads refuse today; resolve the " +
          "origin (rewrite the file) before compacting manifests")
    publishRewrite(spark, fs, root, st, added = Nil,
      removedPaths = Set.empty, operation = "replace",
      lineageSafe = true, regroup = true)
  }

  def optimize(spark: SparkSession, table: String,
               targetFileBytes: Long = 128L * 1024 * 1024,
               zorderBy: Seq[String] = Nil): Long = {
    requireNoWapBranch(spark, table, "OPTIMIZE")
    val st = state(spark, table, None)
    require(st.posDeletes.isEmpty && st.eqDeletes.isEmpty &&
      st.dvDeletes.isEmpty,
      s"table $table carries delete files — compact them first " +
        "(compactDeletes handles v2 parquet deletes and v3 deletion " +
        "vectors alike), then OPTIMIZE")
    zorderBy.foreach(c => require(st.schema.exists(_.name == c),
      s"z-order column $c is not in the schema of $table"))
    val spec = st.specs.getOrElse(st.defaultSpecId, Nil)
    if (st.files.exists(_.specId != st.defaultSpecId))
      throw new UnsupportedIcebergFeatureException(
        s"live files of $table span multiple partition specs — one " +
          "rewrite manifest declares one spec; overwrite under the " +
          "current spec first")
    // a declared (honorable) default sort order turns the implicit
    // OPTIMIZE into a SORT rewrite: files not stamped with the
    // current order id rewrite alongside the small strays; files the
    // order already shaped (stamped, well-sized) carry verbatim —
    // declare-then-OPTIMIZE re-sorts the table once, and routine
    // maintenance thereafter costs only the unsorted/small tail
    val sortable = zorderBy.isEmpty && st.defaultSortOrderId > 0 &&
      st.sortFields.nonEmpty && st.sortFields.forall(f =>
        f.transform == "identity" &&
          st.schema.fieldNames.contains(f.source))
    val groups = st.files.groupBy(_.partition).toSeq.flatMap {
      case (tuple, fs0) =>
        val picked =
          if (zorderBy.nonEmpty) fs0
          else if (sortable) {
            // files not yet shaped by the current order rewrite
            // (sorted + stamped); once everything is stamped, only
            // the plain ≥2-small-files merge fires — incremental
            // maintenance, never a standing whole-table rewrite
            val unstamped = fs0.filterNot(
              _.sortOrderId.contains(st.defaultSortOrderId))
            if (unstamped.nonEmpty) unstamped
            else {
              val small = fs0.filter(_.bytes < targetFileBytes)
              if (small.size < 2) Nil else small
            }
          }
          else fs0.filter(_.bytes < targetFileBytes)
        if ((zorderBy.isEmpty && !sortable && picked.size < 2) ||
          picked.isEmpty) None
        else Some(tuple -> picked)
    }
    if (groups.isEmpty) return st.snapshotId
    val root = new Path(table)
    val fs = hadoopFs(spark, root)
    val dataDir = new Path(root, "data")
    fs.mkdirs(dataDir)
    val rewrittenPaths = groups.flatMap(_._2.map(_.path)).toSet
    val keep = st.files.filterNot(f => rewrittenPaths(f.path))
    val rewritten = groups.flatMap { case (tuple, picked) =>
      // v3 rewrites MATERIALIZE row lineage — compaction must not
      // reassign ids (kept files preserve their recorded origins)
      val grouped0 =
        if (st.formatVersion >= 3)
          lineageResolved(spark, st.copy(files = picked,
            posDeletes = Nil, eqDeletes = Nil), table)
            .drop("__fp", "__pos")
        else toDF(spark, st.copy(files = picked,
          posDeletes = Nil, eqDeletes = Nil))
      val grouped =
        if (st.schema.fieldNames.forall(st.evo.fieldIds.contains))
          stampFieldIds(grouped0, st.evo.fieldIds ++
            Seq(RowIdCol -> RowIdFieldId,
              LastUpdatedCol -> LastUpdatedFieldId)
              .filter(kv => grouped0.schema.fieldNames.contains(kv._1)))
        else grouped0
      val nOut = math.max(1L, math.ceil(
        picked.map(_.bytes).sum.toDouble / targetFileBytes).toLong).toInt
      val packed =
        if (zorderBy.nonEmpty) ZOrder.clusterByZ(grouped, zorderBy, nOut)
        else if (sortable) {
          val exprs = st.sortFields.map(f => (f.asc, f.nullsFirst) match {
            case (true, true) => functions.col(f.source).asc_nulls_first
            case (true, false) => functions.col(f.source).asc_nulls_last
            case (false, true) => functions.col(f.source).desc_nulls_first
            case (false, false) => functions.col(f.source).desc_nulls_last
          })
          grouped.repartitionByRange(nOut, exprs: _*)
            .sortWithinPartitions(exprs: _*)
        }
        else grouped.coalesce(nOut)
      val stage = new Path(root, s".optimize-${java.util.UUID.randomUUID()}")
      packed.write.mode("overwrite").parquet(stage.toString)
      val moved = fs.listStatus(stage).map(_.getPath)
        .filter(_.getName.endsWith(".parquet")).map { p =>
          val dest = new Path(dataDir, p.getName)
          if (!fs.rename(p, dest))
            throw new IllegalStateException(s"failed to move $p to $dest")
          val (rows, lo, hi) =
            ScanPredicates.footerStats(spark, dest, st.schema)
          IceFile(dest.toString, rows, fs.getFileStatus(dest).getLen,
            partition = tuple, lower = lo, upper = hi)
        }.toSeq
      fs.delete(stage, true): Unit
      moved
    }
    // untouched files carry as EXISTING with their original data
    // sequence numbers (see compactDeletes — same r15 lineage fix)
    publishSnapshot(fs, root, st.schema, rewritten, Some(st),
      overwrite = true, operation = "replace", spec = spec,
      existing = keep,
      sortOrderId = if (sortable) st.defaultSortOrderId else 0)
  }

  /** Iceberg's retention maintenance (`expireSnapshots`): drop every
    * snapshot but the newest `keepLast`, publish the pruned metadata
    * as the next version, and physically delete what only the dropped
    * snapshots referenced — their manifest lists, their manifests, and
    * their data files. Returns the number of data files deleted.
    *
    * Ownership discipline (the [[ManifestLake.vacuum]] rule, applied
    * to the Iceberg side): data files are deleted ONLY under the
    * writer's own `data/` directory. A mirror published by
    * [[exportFromManifest]] references the manifest table's files
    * in place — outside `data/` — and expiring mirror snapshots must
    * never reach into what the manifest table owns; those entries are
    * dropped from metadata and left on disk for the owner's VACUUM.
    * (The converse composition — a manifest VACUUM collecting `data/`
    * files an old Iceberg-only snapshot still references after
    * [[importToManifest]] — is the shared-files caveat every
    * cross-format conversion carries: retention on one format must be
    * ≥ the other's reader horizon.) */
  /** Iceberg `remove_orphan_files` — the storage-hygiene maintenance
    * op: deletes files under the table location that NO retained
    * snapshot (nor the table metadata itself) references and that
    * are OLDER than the grace interval — the debris failed or
    * abandoned writes leave behind, which [[expireSnapshots]] can
    * never collect because no snapshot ever pointed at it. The
    * referenced set is built from a FULL metadata walk: every
    * `v*.metadata.json` and the version-hint, every snapshot's
    * manifest list, every manifest, every entry's file path
    * (any status — a DELETED entry's file may still serve an older
    * snapshot), and the statistics / partition-statistics files.
    * Both raw and URI-escaped path forms count as referenced (the
    * manifest may record either). The grace interval (default 3
    * days) protects in-flight writes whose commit has not published
    * yet — matching Iceberg's own default. `dryRun` returns the
    * candidates without deleting. Metadata-only: no data file is
    * ever opened. Returns the deleted (or would-delete) paths,
    * sorted. */
  def removeOrphanFiles(spark: SparkSession, table: String,
                        olderThanMs: Long = 3L * 24 * 3600 * 1000,
                        dryRun: Boolean = false): Seq[String] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    require(olderThanMs >= 0, "olderThanMs must be non-negative")
    val root = new Path(table)
    val fs = hadoopFs(spark, root)
    val metaDir = new Path(root, "metadata")
    val version = currentMetadataVersion(fs, table).getOrElse(
      throw new IllegalArgumentException(
        s"no v*.metadata.json under $table/metadata"))
    val metaJson = JsonMethods.parse(readText(fs,
      new Path(metaDir, s"v$version.metadata.json")))
    val referenced = Set.newBuilder[String]
    def ref(p: String): Unit =
      ForeignDv.forms(p).foreach(f => referenced += new Path(f)
        .toUri.getPath)
    // every snapshot's full reachability, any status — expiry owns
    // narrowing the snapshot set; orphan removal must never touch
    // anything the metadata can still name
    val snaps = (metaJson \ "snapshots") match {
      case JArray(xs) => xs
      case _ => Nil
    }
    snaps.foreach { s =>
      (s \ "manifest-list") match {
        case JString(ml) =>
          ref(ml)
          avroRows(fs, new Path(ml)).foreach { mf =>
            val mPath = mf.get("manifest_path").toString
            ref(mPath)
            avroRows(fs, new Path(mPath)).foreach { entry =>
              ref(entry.get("data_file")
                .asInstanceOf[GenericRecord].get("file_path").toString)
            }
          }
        case _ => ()
      }
    }
    Seq("statistics", "partition-statistics").foreach { k =>
      (metaJson \ k) match {
        case JArray(xs) => xs.foreach { e =>
          Seq("statistics-path", "path").foreach(f => (e \ f) match {
            case JString(p) => ref(p)
            case _ => ()
          })
        }
        case _ => ()
      }
    }
    val cutoff = System.currentTimeMillis() - olderThanMs
    val refSet = referenced.result()
    val candidates = Seq.newBuilder[String]
    def keepByName(name: String): Boolean =
      name == "version-hint.text" || name.endsWith(".metadata.json") ||
        name.startsWith(".") // in-flight rename-commit temporaries
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val f = it.next()
      if (f.isFile) {
        val p = f.getPath
        if (!keepByName(p.getName) &&
          !refSet.contains(p.toUri.getPath) &&
          f.getModificationTime < cutoff)
          candidates += p.toString
      }
    }
    val out = candidates.result().sorted
    if (!dryRun) out.foreach(p => fs.delete(new Path(p), false): Unit)
    out
  }

  def expireSnapshots(spark: SparkSession, table: String,
                      keepLast: Int = 2): Int = {
    require(keepLast >= 1, "must retain at least the current snapshot")
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val root = new Path(table)
    val fs = hadoopFs(spark, root)
    val metaDir = new Path(root, "metadata")
    val version = currentMetadataVersion(fs, table).getOrElse(
      throw new IllegalArgumentException(
        s"no v*.metadata.json under $table/metadata"))
    val metaJson = JsonMethods.parse(readText(fs,
      new Path(metaDir, s"v$version.metadata.json")))
    val snaps = (metaJson \ "snapshots") match {
      case JArray(xs) => xs
      case _ => Nil
    }
    if (snaps.length <= keepLast) return 0
    def snapId(s: JValue): Long = (s \ "snapshot-id") match {
      case JInt(i) => i.toLong
      case JLong(l) => l
      case _ => -1L
    }
    def snapTs(s: JValue): Long = (s \ "timestamp-ms") match {
      case JInt(i) => i.toLong
      case JLong(l) => l
      case _ => 0L
    }
    // "newest" is decided by timestamp (id tie-break) — the spec does
    // not order the snapshots array, and foreign writers list in any
    // order; and the CURRENT snapshot must survive, or the expiry
    // would delete the table's own head data out from under it.
    // Snapshots a BRANCH or TAG names are ref-reachable and survive
    // regardless of age — expiring a tagged snapshot would leave the
    // ref dangling and its readers fileless.
    val refIds: Set[Long] = (metaJson \ "refs") match {
      case JObject(kvs) =>
        kvs.map(kv => jLong(kv._2 \ "snapshot-id")).filter(_ >= 0).toSet
      case _ => Set.empty
    }
    val ordered = snaps.sortBy(s => (snapTs(s), snapId(s)))
    val (dropCand, keepTail) =
      ordered.splitAt(ordered.length - keepLast)
    val (refKept, drop) = dropCand.partition(s => refIds(snapId(s)))
    val keep = refKept ++ keepTail
    if (drop.isEmpty) return 0
    val currentId = (metaJson \ "current-snapshot-id") match {
      case JInt(i) => i.toLong
      case JLong(l) => l
      case _ => -1L
    }
    if (currentId != -1L && !keep.exists(s => snapId(s) == currentId))
      throw new IllegalStateException(
        s"expireSnapshots(keepLast=$keepLast) on $table would drop the " +
          s"CURRENT snapshot $currentId — the newest $keepLast " +
          "snapshots by timestamp do not include the head; the " +
          "metadata is inconsistent (or a foreign writer recorded " +
          "non-monotonic timestamps) and nothing was expired")
    // liveness walk: manifest lists + manifests + data files of the
    // RETAINED snapshots — anything a retained snapshot can reach must
    // survive, shared manifests included (appends carry them verbatim)
    def reach(ss: Seq[JValue]): (Set[String], Set[String], Set[String]) = {
      val lists = Set.newBuilder[String]
      val manifests = Set.newBuilder[String]
      val data = Set.newBuilder[String]
      ss.foreach { s =>
        (s \ "manifest-list") match {
          case JString(ml) =>
            lists += ml
            avroRows(fs, new Path(ml)).foreach { mf =>
              val mPath = mf.get("manifest_path").toString
              manifests += mPath
              avroRows(fs, new Path(mPath)).foreach { entry =>
                if (entry.get("status").asInstanceOf[Number].intValue != 2)
                  data += entry.get("data_file")
                    .asInstanceOf[GenericRecord].get("file_path").toString
              }
            }
          case _ => ()
        }
      }
      (lists.result(), manifests.result(), data.result())
    }
    val (keepLists, keepManifests, keepData) = reach(keep)
    val (dropLists, dropManifests, dropData) = reach(drop)
    // publish the pruned metadata FIRST (rename-if-absent): a reader
    // racing the deletes resolves either the old version (files still
    // present) or the new one (no dropped references)
    val keptIds = keep.map(snapId).toSet
    // statistics entries describing dropped snapshots expire WITH
    // them — their files (writer-owned, under metadata/) delete below
    val dropStatsFiles = Seq.newBuilder[String]
    val newAst = metaJson.transformField {
      case JField("snapshots", _) =>
        JField("snapshots", JArray(keep.toList))
      case JField("snapshot-log", JArray(xs)) =>
        JField("snapshot-log", JArray(xs.filter(e =>
          (e \ "snapshot-id") match {
            case JInt(i) => keptIds(i.toLong)
            case JLong(l) => keptIds(l)
            case _ => false
          })))
      case JField(k @ ("statistics" | "partition-statistics"),
          JArray(xs)) =>
        val (kept0, dropped0) = xs.partition(e =>
          keptIds(jLong(e \ "snapshot-id")))
        dropped0.foreach { e =>
          val p = (e \ "statistics-path") match {
            case JString(s0) => Some(s0)
            case _ => (e \ "path") match {
              case JString(s0) => Some(s0)
              case _ => None
            }
          }
          p.foreach(dropStatsFiles += _)
        }
        JField(k, JArray(kept0))
    }
    val newJson = JsonMethods.compact(JsonMethods.render(newAst))
    val nextVersion = version + 1
    val metaTarget = new Path(metaDir, s"v$nextVersion.metadata.json")
    val metaTmp = new Path(metaDir,
      s".v$nextVersion.metadata.json.${java.util.UUID.randomUUID()}.tmp")
    val out = fs.create(metaTmp, false)
    try out.write(newJson.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if (!ManifestLake.RenameCommit.publish(fs, metaTmp, metaTarget)) {
      fs.delete(metaTmp, false)
      throw new ConcurrentIcebergCommitException(
        s"metadata version $nextVersion of $root was committed " +
          "concurrently — re-read the table and retry the expiry")
    }
    val hint = fs.create(new Path(metaDir, "version-hint.text"), true)
    try hint.write(nextVersion.toString.getBytes(StandardCharsets.UTF_8))
    finally hint.close()
    // physical deletes: only what NO retained snapshot reaches, and
    // data only under the writer-owned data/ directory
    (dropLists -- keepLists).foreach(p =>
      fs.delete(new Path(p), false): Unit)
    (dropManifests -- keepManifests).foreach(p =>
      fs.delete(new Path(p), false): Unit)
    val dataDirPath = fs.makeQualified(new Path(root, "data")).toUri.getPath
      .stripSuffix("/") + "/"
    val deadData = (dropData -- keepData).filter(p =>
      new Path(p).toUri.getPath.startsWith(dataDirPath))
    deadData.foreach(p => fs.delete(new Path(p), false): Unit)
    // expired statistics files live under writer-owned metadata/
    dropStatsFiles.result().foreach(p =>
      fs.delete(new Path(p), false): Unit)
    deadData.size
  }

  /** Metadata-only manifest-lake → Iceberg export, in place: publish
    * (or re-sync) an Iceberg mirror whose snapshot references the
    * manifest's live files VERBATIM — zero data movement, the dl3
    * contract with the roles reversed. HIVE-PARTITIONED layouts export
    * as IDENTITY partition specs: each file's path values parse under
    * the schema's column types into real partition tuples (the
    * add_files migration shape — data files omit the identity columns
    * and readers, this one's fill included, reconstruct them from the
    * tuple, which the spec makes authoritative). One named refusal
    * keeps the mirror honest: deletion-vector files (an Iceberg reader
    * knows nothing of the sidecar and would resurrect deleted rows —
    * run `REORG TABLE … APPLY (PURGE)` first); a path value that does
    * not parse under its column's type also refuses by name — a wrong
    * tuple would serve wrong reconstructed values, not just miss a
    * prune. Each export publishes an overwrite-style snapshot of the
    * full live set; earlier mirror snapshots stay addressable until
    * expiry. */
  /** Iceberg `migrate` for a RAW parquet directory (optionally
    * Hive-partitioned), in place and METADATA-ONLY: publishes v1
    * metadata + one manifest whose entries reference the existing
    * parquet files VERBATIM — adopting a 100 TB directory costs one
    * metadata commit plus one footer read per file (the entry's
    * required `record_count`), and the footer reads run DISTRIBUTED
    * on the executors. Hive layouts become IDENTITY partition specs:
    * each file's path values parse under the discovered column types
    * into REAL partition tuples (the spec makes the tuple
    * authoritative; readers — this one's identity-fill included —
    * reconstruct the columns from it). Unparseable path values and
    * mixed layouts refuse by name; an existing Iceberg or Delta
    * table refuses (use the conversion paths). */
  def migrateParquet(spark: SparkSession, dir: String): Long = {
    val root = new Path(dir)
    val fs = hadoopFs(spark, root)
    val metaDir = new Path(root, "metadata")
    require(!(fs.exists(metaDir) &&
      currentMetadataVersion(fs, dir).isDefined),
      s"$dir already carries Iceberg metadata — it IS an Iceberg table")
    require(!fs.exists(new Path(root, "_delta_log")),
      s"$dir is a Delta table — convert with CrossFormat" +
        ".deltaToIceberg, which carries the log's state")
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
      throw new UnsupportedIcebergFeatureException(
        s"file $r carries partition keys ${ManifestLake
          .partitionValues(r).keySet.mkString(",")} but the layout " +
          s"is ${partCols.mkString(",")} — a mixed layout cannot " +
          "migrate under one partition spec"))
    val spec = partCols.map { c =>
      require(schema.exists(_.name == c),
        s"partition path column $c is not in the discovered schema " +
          s"of $dir")
      SpecField(c, "identity", c)
    }
    def tupleValue(c: String, raw: String): AnyRef =
      hivePathValue(schema(c).dataType, raw).getOrElse(
        throw new UnsupportedIcebergFeatureException(
          s"partition path value '$raw' of column $c does not parse " +
            s"as ${schema(c).dataType.sql} — refusing to migrate a " +
            "wrong tuple")).orNull
    val paths = statuses.map(_.getPath.toString)
    val counts: Map[String, Long] = spark.sparkContext
      .parallelize(paths, math.max(1, math.min(paths.size,
        spark.sparkContext.defaultParallelism)))
      .map { p =>
        val conf = new org.apache.hadoop.conf.Configuration()
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new Path(p), conf))
        try p -> rd.getFooter.getBlocks.asScala
          .map(_.getRowCount.toLong).sum
        finally rd.close()
      }.collect().toMap
    val files = statuses.map { f =>
      val rel = f.getPath.toUri.getPath.stripPrefix(rootPath)
      val tuple: Map[String, AnyRef] =
        ManifestLake.partitionValues(rel).map { case (k, v) =>
          k -> tupleValue(k, v)
        }
      IceFile(f.getPath.toString, counts(f.getPath.toString),
        f.getLen, partition = tuple)
    }
    publishSnapshot(fs, root, schema, files, None, overwrite = true,
      operation = "convert", spec = spec)
  }

  def exportFromManifest(spark: SparkSession, table: String): Long = {
    val snap = ManifestLake.snapshot(spark, table)
    snap.entries.find(_.dv.nonEmpty).foreach(e =>
      throw new UnsupportedIcebergFeatureException(
        s"file ${e.path} carries a deletion vector — run REORG TABLE " +
          "… APPLY (PURGE) before exporting to Iceberg, or the mirror " +
          "would resurrect its deleted rows"))
    val schema = snap.schema.getOrElse(ManifestLake.read(spark, table).schema)
    // Hive partition columns from the paths: one consistent key set
    // across every file (ordered as the first file's segments), each
    // named by the schema
    val rawParts: Seq[(String, Map[String, String])] =
      snap.entries.map(e => e.path -> ManifestLake.partitionValues(e.path))
    val partCols: Seq[String] = rawParts.headOption.map { case (p, _) =>
      p.split('/').init.filter(_.contains('=')).map(_.split("=", 2)(0)).toSeq
    }.getOrElse(Nil)
    rawParts.find(_._2.keySet != partCols.toSet).foreach { case (p, vs) =>
      throw new UnsupportedIcebergFeatureException(
        s"file $p carries partition keys ${vs.keySet.mkString(",")} " +
          s"but the table's layout is ${partCols.mkString(",")} — a " +
          "mixed layout cannot export as one partition spec")
    }
    val spec = partCols.map { c =>
      require(schema.exists(_.name == c),
        s"partition path column $c of $table is not in the recorded " +
          "schema — cannot export a spec for it")
      SpecField(c, "identity", c)
    }
    def tupleValue(c: String, raw: String): AnyRef =
      hivePathValue(schema(c).dataType, raw).getOrElse(
        throw new UnsupportedIcebergFeatureException(
          s"partition path value '$raw' of column $c does not parse " +
            s"as ${schema(c).dataType.sql} — refusing to export a " +
            "wrong tuple")).orNull
    val root = new Path(table)
    val fs = hadoopFs(spark, root)
    val conf = spark.sessionState.newHadoopConf()
    val files = snap.entries.sortBy(_.path).map { e =>
      val abs = new Path(root, e.path)
      val rows = e.rows.getOrElse {
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(abs, conf))
        try reader.getFooter.getBlocks.asScala.map(_.getRowCount.toLong).sum
        finally reader.close()
      }
      val tuple: Map[String, AnyRef] =
        ManifestLake.partitionValues(e.path).map { case (k, v) =>
          k -> tupleValue(k, v)
        }
      IceFile(abs.toString, rows,
        e.bytes.getOrElse(fs.getFileStatus(abs).getLen),
        partition = tuple)
    }
    val metaDir = new Path(root, "metadata")
    val prior =
      if (fs.exists(metaDir) && currentMetadataVersion(fs, table).isDefined)
        Some(state(spark, table, None))
      else None
    publishSnapshot(fs, root, schema, files, prior, overwrite = true,
      operation = "convert", spec = spec)
  }

  /** Current snapshot id straight from the current metadata JSON —
    * one directory list + one file read, no manifest parsing. The
    * cheap head-check callers ([[UniForm]]'s incremental sync) use to
    * prove the mirror wasn't moved out-of-band. */
  private[sources] def currentSnapshotId(spark: SparkSession,
                                         table: String): Option[Long] = {
    val root = new Path(table)
    val fs = hadoopFs(spark, root)
    val metaDir = new Path(root, "metadata")
    if (!fs.exists(metaDir)) return None
    currentMetadataVersion(fs, table).flatMap { v =>
      val j = org.json4s.jackson.JsonMethods.parse(
        readText(fs, new Path(metaDir, s"v$v.metadata.json")))
      jLong(j \ "current-snapshot-id") match {
        case -1L => None
        case id => Some(id)
      }
    }
  }

  /** The current-metadata HEAD of a table WITHOUT parsing a single
    * manifest: metadata version, snapshot id, current schema, specs,
    * format version — `files` empty. One directory list + one JSON
    * read, O(1) in table size. Enough for an APPEND publication
    * (prior manifests carry by reference from the manifest LIST;
    * nothing needs the per-file inventory) — the piece that makes
    * the UniForm mirror's steady-state append truly O(changed
    * files); only v1 heads qualify (v2+ can carry delete manifests
    * the light read cannot see, and the mirror is v1 by
    * construction). */
  private[sources] def stateLight(spark: SparkSession,
                                  table: String): Option[IceState] = {
    import org.json4s._
    val root = new Path(table)
    val fs = hadoopFs(spark, root)
    val metaDir = new Path(root, "metadata")
    if (!fs.exists(metaDir)) return None
    val version = currentMetadataVersion(fs, table).getOrElse(return None)
    val metaJson = org.json4s.jackson.JsonMethods.parse(
      readText(fs, new Path(metaDir, s"v$version.metadata.json")))
    if (jLong(metaJson \ "format-version") != 1L) return None
    val schemaJson = (metaJson \ "schemas") match {
      case JArray(xs) if xs.nonEmpty =>
        val cur = jLong(metaJson \ "current-schema-id") match {
          case -1L => 0L
          case id => id
        }
        xs.find(sc => jLong(sc \ "schema-id") == cur).getOrElse(xs.head)
      case _ => metaJson \ "schema"
    }
    val schema = icebergSchemaToSpark(schemaJson, table)
    val fieldIdToName: Map[Long, String] = (schemaJson \ "fields") match {
      case JArray(fs0) => fs0.flatMap { f =>
        ((f \ "id"), (f \ "name")) match {
          case (id, JString(n)) if jLong(id) >= 0 => Some(jLong(id) -> n)
          case _ => None
        }
      }.toMap
      case _ => Map.empty
    }
    def parseSpecFields(v: JValue): Seq[SpecField] = v match {
      case JArray(sfs) => sfs.flatMap { f =>
        ((f \ "name"), (f \ "transform"), jLong(f \ "source-id")) match {
          case (JString(n), JString(t), sid) if sid >= 0 =>
            fieldIdToName.get(sid).map(src => SpecField(n, t, src))
          case _ => None
        }
      }
      case _ => Nil
    }
    val specs: Map[Int, Seq[SpecField]] = {
      val multi = (metaJson \ "partition-specs") match {
        case JArray(xs) => xs.flatMap { sp =>
          jLong(sp \ "spec-id") match {
            case -1L => None
            case sid => Some(sid.toInt -> parseSpecFields(sp \ "fields"))
          }
        }.toMap
        case _ => Map.empty[Int, Seq[SpecField]]
      }
      if (multi.nonEmpty) multi
      else (metaJson \ "partition-spec") match {
        case arr @ JArray(_) => Map(0 -> parseSpecFields(arr))
        case _ => Map.empty[Int, Seq[SpecField]]
      }
    }
    val defaultSpecId = jLong(metaJson \ "default-spec-id") match {
      case -1L => 0
      case id => id.toInt
    }
    Some(IceState(version, jLong(metaJson \ "current-snapshot-id"),
      schema, Nil, specs = specs, defaultSpecId = defaultSpecId,
      formatVersion = 1, table = table))
  }

  /** INCREMENTAL mirror publication for [[UniForm]]: one Iceberg
    * snapshot derived from a Delta commit's own add/remove actions —
    * O(changed files) metadata, never a full re-export. Adds publish
    * as an append (every prior manifest carried VERBATIM in the new
    * manifest list, resolved from the HEAD read alone — the per-file
    * inventory is never parsed, so a million-file mirror appends at
    * the same metadata cost as a ten-file one); a commit that also
    * removes paths publishes through the rewrite leg, which needs
    * the inventory to find survivors and rewrites only manifests
    * that lost a file. Paths are table-root-relative; partition
    * tuples reconstruct from the Hive path segments against the
    * mirror's recorded identity spec, exactly as the full export
    * does. Any shape this leg can't prove equivalent to the full
    * export refuses by name (the caller falls back to the full
    * re-export). */
  private[sources] def mirrorPublish(spark: SparkSession, table: String,
      adds: Seq[(String, Long, Option[Long])],
      removes: Seq[String]): Long = {
    val root = new Path(table)
    val fs = hadoopFs(spark, root)
    // append-only commits ride the LIGHT head (no manifest parse; a
    // v1 head cannot hide delete files); rewrites need the inventory
    val st =
      if (removes.isEmpty)
        stateLight(spark, table).getOrElse(state(spark, table, None))
      else state(spark, table, None)
    require(st.posDeletes.isEmpty && st.eqDeletes.isEmpty &&
      st.dvDeletes.isEmpty,
      s"mirror of $table carries delete files — not a shape the " +
        "incremental sync publishes over")
    val spec = st.specs.getOrElse(st.defaultSpecId, Nil)
    require(spec.forall(_.transform == "identity"),
      s"mirror of $table has non-identity partitioning — not a " +
        "path-reproducible spec")
    val conf = spark.sessionState.newHadoopConf()
    def tupleValue(c: String, raw: String): AnyRef = {
      val dt = st.schema.find(_.name == c).map(_.dataType).getOrElse(
        throw new IllegalArgumentException(
          s"partition path column $c of $table is not in the mirror " +
            "schema"))
      hivePathValue(dt, raw).getOrElse(
        throw new IllegalArgumentException(
          s"partition path value '$raw' of column $c does not parse " +
            s"as ${dt.sql}")).orNull
    }
    val iceAdds = adds.sortBy(_._1).map { case (rel, size, rowsOpt) =>
      val abs = new Path(root, rel)
      val pv = ManifestLake.partitionValues(rel)
      require(pv.keySet == spec.map(_.source).toSet,
        s"file $rel carries partition keys ${pv.keySet.mkString(",")} " +
          s"but the mirror's spec is ${spec.map(_.source).mkString(",")}")
      val rows = rowsOpt.getOrElse {
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            abs, conf))
        try reader.getFooter.getBlocks.asScala
          .map(_.getRowCount.toLong).sum
        finally reader.close()
      }
      IceFile(abs.toString, rows, size,
        partition = pv.map { case (k, v) => k -> tupleValue(k, v) })
    }
    if (removes.isEmpty)
      publishSnapshot(fs, root, st.schema, iceAdds, Some(st),
        overwrite = false, operation = "append", spec = spec)
    else {
      val live = st.files.map(_.path).toSet
      val removedAbs = removes.map(r => new Path(root, r).toString).toSet
      removedAbs.foreach(r => require(live(r),
        s"removed file $r is not live in the mirror of $table — the " +
          "mirror diverged from the Delta log"))
      publishRewrite(spark, fs, root, st, iceAdds, removedAbs,
        operation = "overwrite")
    }
  }

  /** Metadata-only Iceberg → manifest-lake migration, in place: the
    * live data files register as a manifest version (they carry every
    * column, so no layout requirement at all — simpler than the Delta
    * import), after which the native DML/stats/bloom surface applies
    * with zero rewrite. Files outside the table root refuse by name
    * (manifest entries are root-relative). */
  def importToManifest(spark: SparkSession, table: String): Long = {
    val st = state(spark, table, None)
    require(st.posDeletes.isEmpty && st.eqDeletes.isEmpty &&
      st.dvDeletes.isEmpty,
      s"table $table carries delete files — a metadata-only import " +
        "would register the data files WITHOUT their deletes and " +
        "resurrect deleted rows; compact the deletes first " +
        "(compactDeletes)")
    val root = new Path(table)
    val fs = hadoopFs(spark, root)
    val rootPath = root.toUri.getPath.stripSuffix("/") + "/"
    val entries = st.files.sortBy(_.path).map { f =>
      val p = new Path(f.path).toUri.getPath
      require(p.startsWith(rootPath),
        s"data file $p lives outside the table root $rootPath — " +
          "a manifest entry must be root-relative; copy it in first")
      val rel = p.stripPrefix(rootPath)
      // identity tuples are the authoritative source of their columns
      // (migrated files may omit them); the manifest lake reconstructs
      // Hive values from PATHS, so an identity tuple the path does not
      // reproduce would read back wrong — refuse by name
      val pathVals = ManifestLake.partitionValues(rel)
      st.specs.getOrElse(f.specId, Nil)
        .filter(_.transform == "identity").foreach { sf =>
          f.partition.get(sf.name).foreach { tupleRaw =>
            val dt = st.schema.find(_.name == sf.source).map(_.dataType)
            val pathParsed = for {
              d <- dt
              raw <- pathVals.get(sf.source)
              v <- hivePathValue(d, raw)
            } yield v.orNull
            if (!pathParsed.contains(tupleRaw))
              throw new UnsupportedIcebergFeatureException(
                s"file $rel records identity partition " +
                  s"${sf.source}=$tupleRaw but its path does not " +
                  "carry that value Hive-style — a metadata-only " +
                  "import would read the column back wrong; rewrite " +
                  "the table (CTAS) instead")
          }
        }
      ManifestLake.FileEntry(rel,
        rows = Some(f.records), bytes = Some(f.bytes))
    }
    ManifestLake.commitLog(fs, root, full = true,
      adds = entries.map(_.line), removes = Nil,
      prev = ManifestLake.currentVersion(spark, table),
      schema = Some(st.schema))
  }

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
}
