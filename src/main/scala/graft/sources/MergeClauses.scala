package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.functions.{broadcast, coalesce, col, count, lit,
  when}
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.LongAccumulator

import graft.sources.ManifestLake.{MergeDelete, MergeInsert, MergeMatched,
  MergeSrcPrefix, MergeUpdate}

/** The generalized-MERGE clause semantics shared by the lake and the
  * open-format interops (clause conditions/values over the joined row,
  * FIRST-MATCH-WINS in declaration order, TRUE-only condition gating,
  * `SET *`/`INSERT *` column resolution) factored over plain DataFrames
  * so [[ManifestLake.mergeApply]], [[DeltaInterop.mergeApply]] and
  * [[IcebergInterop.mergeApply]] apply identical semantics to their own
  * copy-on-write staging. Target columns appear under their own names,
  * source columns under [[ManifestLake.MergeSrcPrefix]]
  * ([[ManifestLake.mergeSrcCol]]).
  *
  * A copy-on-write MERGE over the persisted source is three passes:
  *  1. [[summarize]]: one job over the source's keys gives the
  *     duplicate-key verdict, the row count and the key bounds the lake
  *     prunes candidate files by;
  *  2. [[probe]]: the target's key columns semi-joined with the source
  *     keys give the touched files and the matched target keys (a
  *     broadcast and one job);
  *  3. [[apply]]: one left join of the rewritten files' rows with the
  *     source, unioned with the fired inserts (the source rows whose key
  *     no matched target key equals), computed once: its output feeds
  *     the data write, the change-feed images and the row counts, which
  *     the data write takes in accumulators as it reads the rows (two
  *     broadcasts, then one job per write).
  * On the `lake_cdc` shape (a 20,000-row table in 4 files, a 200-row
  * update/insert/delete batch) that is 7 jobs on the lake, 9 on Delta
  * and 6 on Iceberg (`MergeJobsSpec`). */
private[sources] object MergeClauses {

  /** One MERGE statement's source, persisted so every pass (and a
    * nondeterministic source's images) sees the same rows, plus the
    * rows its passes keep; [[release]] frees them all. */
  final class Statement(source: DataFrame) {
    val cached: DataFrame = source.select(source.columns.map(col): _*)
      .persist(StorageLevel.MEMORY_AND_DISK)
    private val kept = scala.collection.mutable.ArrayBuffer.empty[RDD[_]]
    /** `rows`, copied and persisted until [[release]]. */
    private[MergeClauses] def keep(rows: RDD[InternalRow])
        : RDD[InternalRow] = {
      val k = rows.map(_.copy()).persist(StorageLevel.MEMORY_AND_DISK)
      kept += k
      k
    }
    def release(): Unit = {
      kept.foreach(_.unpersist(blocking = false))
      cached.unpersist(): Unit
    }
  }

  /** What [[summarize]] finds in the source: its row count, the values
    * of one key that 2+ rows share (in key-column order), and per key
    * column the `[min, max]` of its non-null values as
    * `min(c).cast("string")` renders them (None when all are null). */
  final case class SourceSummary(rows: Long, duplicate: Option[Seq[Any]],
      bounds: Map[String, Option[(String, String)]])

  /** Pass 1: one job over the source's key columns. `groupBy` groups
    * them (with its own float normalization and collation-aware
    * equality), planned without adaptive execution so its shuffle and
    * the summary are two stages of one job; each reduced partition
    * reports its rows, a duplicated key and its key bounds. */
  def summarize(stmt: Statement, keyCols: Seq[String]): SourceSummary = {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    import org.apache.spark.sql.catalyst.util.TypeUtils
    import org.apache.spark.sql.types.StringType
    val grouped = stmt.cached.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)))
    val types = keyCols.indices.map(grouped.schema(_).dataType)
    val ni = keyCols.size
    val parts = PlanBridge.oneJobRows(grouped).mapPartitions { it =>
      val ords = types.map(TypeUtils.getInterpretedOrdering)
      val lo = new Array[Any](ni)
      val hi = new Array[Any](ni)
      var rows = 0L
      var dup: Option[InternalRow] = None
      it.foreach { k =>
        val n = k.getLong(ni)
        rows += n
        if (n > 1 && dup.isEmpty) dup = Some(k.copy())
        types.indices.foreach { i =>
          if (!k.isNullAt(i)) {
            val v = InternalRow.copyValue(k.get(i, types(i)))
            if (lo(i) == null || ords(i).lt(v, lo(i))) lo(i) = v
            if (hi(i) == null || ords(i).gt(v, hi(i))) hi(i) = v
          }
        }
      }
      Iterator((rows, dup, lo.toSeq, hi.toSeq))
    }.collect()
    val ords = types.map(TypeUtils.getInterpretedOrdering)
    val zone = grouped.sparkSession.sessionState.conf.sessionLocalTimeZone
    def render(v: Any, i: Int): String =
      Cast(Literal(v, types(i)), StringType, Some(zone)).eval().toString
    def extreme(vs: Seq[Any], better: (Any, Any) => Boolean): Option[Any] =
      vs.filter(_ != null).reduceOption((a, b) => if (better(b, a)) b else a)
    SourceSummary(parts.map(_._1).sum,
      parts.flatMap(_._2).headOption.map(r => types.indices.map(i =>
        CatalystTypeConverters.convertToScala(r.get(i, types(i)), types(i)))),
      keyCols.indices.map { i =>
        keyCols(i) -> extreme(parts.map(_._3(i)), ords(i).lt).map(l =>
          (render(l, i),
            render(extreme(parts.map(_._4(i)), ords(i).gt).get, i)))
      }.toMap)
  }

  /** What [[probe]] finds: the files holding a target row whose key
    * equals a source key, and those rows' keys (kept for the
    * statement) with the kept rows' size in bytes. */
  final case class Probe(files: Set[String], matchedKeys: DataFrame,
                         matchedBytes: Long)

  /** Pass 2: semi-join `targetKeys` (the live target rows' key columns
    * and `fileCol`, the file holding each) with the source keys. The
    * matched rows are kept; one job over them collects their files and
    * their size. */
  def probe(stmt: Statement, targetKeys: DataFrame, fileCol: String,
            keyCols: Seq[String]): Probe = {
    val hits = targetKeys.join(stmt.cached.select(keyCols.map(col): _*),
      keyCols, "left_semi")
    val rows = stmt.keep(PlanBridge.internalRows(hits))
    val fi = hits.schema.fieldIndex(fileCol)
    val rowBytes = hits.schema.defaultSize
    val parts = rows.mapPartitions { it =>
      val files = scala.collection.mutable.Set.empty[String]
      var bytes = 0L
      it.foreach { r =>
        files += r.getUTF8String(fi).toString
        bytes += (r match {
          case u: UnsafeRow => u.getSizeInBytes
          case _ => rowBytes
        })
      }
      Iterator((files.toSet, bytes))
    }.collect()
    Probe(parts.flatMap(_._1).toSet,
      PlanBridge.fromInternalRows(hits.sparkSession, rows, hits.schema)
        .select(keyCols.map(col): _*),
      parts.map(_._2).sum)
  }

  /** The probe of a target with nothing to scan: no files, no keys. */
  def noProbe(stmt: Statement, keyCols: Seq[String]): Probe =
    Probe(Set.empty, stmt.cached.select(keyCols.map(col): _*)
      .filter(lit(false)), 0L)

  /** Row counts of the data write, by what happened to each row. */
  final case class Counts(updated: Long, deleted: Long, copied: Long,
                          inserted: Long) {
    /** Rows a matched or not-matched-by-source clause fired on. */
    def fired: Long = updated + deleted
  }

  /** The composed clause application over the files being rewritten.
    * Every member reads the one computed join:
    *  - `written`: schema-ordered rewrite content — carried rows (no
    *    clause fired), UPDATE results and fired inserts; DELETE-fired
    *    rows dropped. Write it exactly once, then read [[counts]].
    *  - `inserts`: schema-ordered fired NOT MATCHED source rows.
    *  - `firedOld`: old images of every row a MATCHED or NMBS clause
    *    fired on (updates + deletes).
    *  - `updatedPre` / `updatedPost`: old/new images of UPDATE-fired
    *    rows (CDF `update_preimage`/`update_postimage`).
    *  - `deletedOld`: old images of DELETE-fired rows. */
  final class Applied private[MergeClauses] (val written: DataFrame,
      val inserts: DataFrame, val firedOld: DataFrame,
      val updatedPre: DataFrame, val updatedPost: DataFrame,
      val deletedOld: DataFrame, tally: Seq[LongAccumulator]) {
    /** The counts `written`'s write took as it read the rows: read them
      * after that write returned (zero before it ran). */
    def counts(): Counts = {
      val Seq(updated, deleted, copied, inserted) = tally.map(_.sum)
      Counts(updated, deleted, copied, inserted)
    }
  }

  /** Shared structural validation — the contracts that do not need
    * table state. */
  def requireValid(keyCols: Seq[String], matched: Seq[MergeMatched],
                   notMatched: Seq[MergeInsert],
                   notMatchedBySource: Seq[MergeMatched]): Unit = {
    require(keyCols.nonEmpty, "MERGE needs at least one key column")
    require(matched.nonEmpty || notMatched.nonEmpty ||
      notMatchedBySource.nonEmpty, "MERGE needs at least one WHEN clause")
    notMatchedBySource.foreach {
      case u: MergeUpdate => require(u.assignments.nonEmpty,
        "WHEN NOT MATCHED BY SOURCE UPDATE needs explicit " +
          "assignments — there is no source row to SET * from")
      case _ => ()
    }
  }

  /** A clause condition as a fire test: absent = always, NULL = no
    * (the SQL contract's TRUE-only gating). */
  private[sources] def fires(c: Option[Column]): Column =
    coalesce(c.getOrElse(lit(true)), lit(false))

  /** Shared small-table test for the unscoped-NMBS automatic
    * whole-table pass ([[ManifestLake.NmbsSmallTableBytesConf]]):
    * `recordedBytes` is the table's total recorded size, None when any
    * file's size is unrecorded (conservatively large). Malformed conf
    * values count as the default rather than failing DML. */
  def nmbsSmallTable(spark: org.apache.spark.sql.SparkSession,
                     recordedBytes: Option[Long]): Boolean = {
    val threshold = spark.conf
      .getOption(ManifestLake.NmbsSmallTableBytesConf)
      .flatMap(v => scala.util.Try(v.trim.toLong).toOption)
      .getOrElse(1L * 1024 * 1024 * 1024)
    threshold > 0 && recordedBytes.exists(_ <= threshold)
  }

  /** First-match-wins action index over clause conditions (offset by
    * `base` in the shared action space); -1 = no clause fired. */
  def actionIndexOf(conds: Seq[Option[Column]], base: Int = 0): Column =
    conds.zipWithIndex.foldRight(lit(-1)) { case ((c, i), rest) =>
      when(fires(c), lit(base + i)).otherwise(rest)
    }

  def actionIndex(clauses: Seq[MergeMatched], base: Int = 0): Column =
    actionIndexOf(clauses.map(_.condition), base)

  /** Pass 3: compose the clause application and compute it once.
    * `currentRows` is the rewritten files' live rows (schema columns,
    * plus `extraCarry`); `probe` holds the key of every live target
    * row whose key equals a source key ([[Probe.matchedKeys]]):
    * a source row whose key is not among them is NOT MATCHED (the
    * insert anti-join broadcasts them when the probe measured them
    * within the broadcast threshold). The join is on the key alone
    * and `scope` decides whether a key-equal row is MATCHED (SQL ON
    * semantics: a key-equal row failing the scope is not); NMBS
    * clauses fire on matchless rows inside the scope (everywhere, when
    * `effectiveFullTable`). The join and the fired
    * inserts run now as far as their broadcasts; their rows compute in
    * the first job that reads them, and `keep` holds them for the
    * statement's later jobs (the change-feed write) instead of
    * re-running the joins.
    *
    * `extraCarry` columns (present on `currentRows`, e.g. Iceberg v3
    * lineage) ride survivors VERBATIM — except UPDATE-fired rows,
    * where a `stampUpdated` entry overrides the carry (the
    * last-updated-sequence bump) — and land NULL on inserts (fresh
    * rows inherit downstream). CDC images stay schema-shaped. */
  def apply(currentRows: DataFrame, stmt: Statement,
            keyCols: Seq[String], schema: StructType,
            matched: Seq[MergeMatched], notMatched: Seq[MergeInsert],
            notMatchedBySource: Seq[MergeMatched],
            scope: Option[Column], effectiveFullTable: Boolean,
            probe: Probe, keep: Boolean,
            extraCarry: Seq[StructField] = Nil,
            stampUpdated: Map[String, Column] = Map.empty): Applied = {
    extraCarry.foreach(f => require(
      currentRows.columns.contains(f.name),
      s"extraCarry column ${f.name} missing from the rewrite scan"))
    require(schema.fieldNames.forall(!_.startsWith(MergeSrcPrefix)),
      s"MERGE target columns may not start with '$MergeSrcPrefix'")
    val source = stmt.cached
    val spark = source.sparkSession
    val srcNames = source.columns.toSeq
    def srcHas(n: String): Boolean = srcNames.exists(_.equalsIgnoreCase(n))
    keyCols.foreach(k => require(srcHas(k),
      s"MERGE source lacks key column '$k'"))
    val presentCol = MergeSrcPrefix + "__present"
    val srcP = source.select(
      (srcNames.map(c => col(s"`$c`").as(MergeSrcPrefix + c)) :+
        lit(1).as(presentCol)): _*)
    val joined = currentRows.join(srcP, keyCols.map(k =>
      col(s"`$k`") === col(MergeSrcPrefix + k)).reduce(_ && _), "left")
    // shared action space: matched clauses first, NMBS clauses after
    val isMatched = scope.foldLeft(col(presentCol).isNotNull)((m, c) =>
      m && coalesce(c, lit(false)))
    val scopeP = scope.map(c => coalesce(c, lit(false)))
      .getOrElse(lit(effectiveFullTable))
    val targetRows = joined.withColumn("__act",
      when(isMatched, actionIndex(matched))
        .otherwise(if (notMatchedBySource.isEmpty) lit(-1)
        else when(scopeP, actionIndex(notMatchedBySource, matched.size))
          .otherwise(lit(-1))))
    // fired NOT MATCHED inserts: the source rows no matched key equals
    val firedIns = {
      val srcKeyNames = keyCols.map(MergeSrcPrefix + _)
      val mk = probe.matchedKeys.select(keyCols.map(k =>
        col(s"`$k`").as(MergeSrcPrefix + k)): _*)
      val small = probe.matchedBytes <=
        spark.sessionState.conf.autoBroadcastJoinThreshold
      (if (notMatched.isEmpty) srcP.filter(lit(false))
       else srcP.join(if (small) broadcast(mk) else mk, srcKeyNames,
         "left_anti"))
        .withColumn("__iact", actionIndexOf(notMatched.map(_.condition)))
        .filter(col("__iact") >= 0)
    }
    val all = targetRows.withColumn("__iact", lit(null).cast(IntegerType))
      .unionByName(firedIns, allowMissingColumns = true)
    val computed = PlanBridge.internalRows(all)
    val kept = if (keep) stmt.keep(computed) else computed
    val rows = PlanBridge.fromInternalRows(spark, kept, all.schema)
    val isIns = col("__iact").isNotNull
    val rowClauses = matched ++ notMatchedBySource
    val deleteIdxs = rowClauses.zipWithIndex.collect {
      case (_: MergeDelete, i) => i }
    val updateIdxs = rowClauses.zipWithIndex.collect {
      case (_: MergeUpdate, i) => i }
    // the data write counts the rows as it reads them: updated,
    // deleted, copied, inserted
    val tally = Seq.fill(4)(spark.sparkContext.longAccumulator)
    val counted = {
      val Seq(nUpd, nDel, nCopy, nIns) = tally
      val (upd, del) = (updateIdxs.toSet, deleteIdxs.toSet)
      val (act, iact) = (all.schema.fieldIndex("__act"),
        all.schema.fieldIndex("__iact"))
      kept.map { r =>
        if (!r.isNullAt(iact)) nIns.add(1)
        else {
          val a = r.getInt(act)
          if (upd(a)) nUpd.add(1)
          else if (del(a)) nDel.add(1)
          else if (a == -1) nCopy.add(1)
        }
        r
      }
    }
    def updateValue(f: StructField): Column =
      rowClauses.zipWithIndex.foldRight(col(s"`${f.name}`")) {
        case ((u: MergeUpdate, i), rest) =>
          val v = u.assignments match {
            case None => // SET *: source value where the source has one
              if (srcHas(f.name)) col(MergeSrcPrefix + f.name)
              else col(s"`${f.name}`")
            case Some(as) => as.find(_._1.equalsIgnoreCase(f.name))
              .map(_._2).getOrElse(col(s"`${f.name}`"))
          }
          when(col("__act") === i, v.cast(f.dataType)).otherwise(rest)
        case (_, rest) => rest
      }
    def insertValue(f: StructField): Column =
      notMatched.zipWithIndex.foldRight(lit(null).cast(f.dataType)) {
        case ((cl, i), rest) =>
          val v = cl.assignments match {
            case None => // INSERT *: null where the source lacks it
              if (srcHas(f.name)) col(MergeSrcPrefix + f.name)
              else lit(null).cast(f.dataType)
            case Some(as) => as.find(_._1.equalsIgnoreCase(f.name))
              .map(_._2).getOrElse(lit(null).cast(f.dataType))
          }
          when(col("__iact") === i, v.cast(f.dataType)).otherwise(rest)
      }
    def carryValue(f: StructField): Column =
      stampUpdated.get(f.name) match {
        case Some(stamp) if updateIdxs.nonEmpty =>
          when(col("__act").isin(updateIdxs: _*), stamp)
            .otherwise(col(s"`${f.name}`"))
        case _ => col(s"`${f.name}`")
      }
    val schemaCols = schema.fields.toIndexedSeq
    def isAct(idxs: Seq[Int]): Column =
      if (idxs.isEmpty) lit(false) else col("__act").isin(idxs: _*)
    val written = PlanBridge.fromInternalRows(spark, counted, all.schema)
      .filter(isIns || !isAct(deleteIdxs))
      .select((schemaCols.map(f => when(isIns, insertValue(f))
          .otherwise(updateValue(f)).as(f.name)) ++
        extraCarry.map(f => when(isIns, lit(null).cast(f.dataType))
          .otherwise(carryValue(f)).as(f.name))): _*)
    val target = rows.filter(!isIns)
    val oldCols = schemaCols.map(f => col(s"`${f.name}`"))
    val updated = target.filter(isAct(updateIdxs))
    new Applied(written,
      inserts = rows.filter(isIns)
        .select(schemaCols.map(f => insertValue(f).as(f.name)): _*),
      firedOld = target.filter(col("__act") >= 0).select(oldCols: _*),
      updatedPre = updated.select(oldCols: _*),
      updatedPost = updated
        .select(schemaCols.map(f => updateValue(f).as(f.name)): _*),
      deletedOld = target.filter(isAct(deleteIdxs)).select(oldCols: _*),
      tally)
  }
}
