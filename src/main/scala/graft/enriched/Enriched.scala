package graft.enriched

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.bike.Transforms

/** The enriched layer — the reference's dbt models re-expressed as Spark
  * SQL-equivalent DataFrame programs (SURVEY §2.5; the model SQL itself is
  * not in the reference repo, so these definitions are the engine's frozen
  * canon, recovered from the downstream 7-column contract at
  * `/root/reference/dags/lib/index_to_elastic_with_spark.py:115-123` and
  * `/root/reference/dags/lib/k_means_with_spark.py:89-97`).
  *
  * Scale notes: SI is a true dimension (one row per station, ~1.5k today,
  * bounded by the physical network — it does NOT grow with observation
  * volume), so the SS⋈SI join broadcasts SI. SS and Lime are fact feeds;
  * they stream through scan→project with no shuffle. The union is
  * concatenation — also shuffle-free.
  */
object Enriched {

  /** `enriched_join_velib` — per-observation availability ⋈ static geo. */
  def enrichedJoinVelib(ssFormatted: DataFrame, siFormatted: DataFrame): DataFrame = {
    val geo = siFormatted.select(
      col("station_id"), col("lat"), col("lon"))
    ssFormatted.join(broadcast(geo), Seq("station_id"), "inner")
      .select(
        lit("velib").as("provider"),
        col("station_id").as("id"),
        col("last_reported_timestamp").as("time"),
        col("lat"),
        col("lon"),
        col("num_bikes_available").as("num_bikes"),
        col("num_docks_available").as("num_docks"))
  }

  /** `enriched_lime` — harmonize free bikes to the unified schema: each
    * free bike is one available bike with no dock slots (engine-defined
    * canon: num_docks = NULL, SURVEY §7.4). */
  def enrichedLime(limeFormatted: DataFrame): DataFrame =
    limeFormatted.select(
      lit("lime").as("provider"),
      col("bike_id").as("id"),
      col("last_reported_timestamp").as("time"),
      col("lat"),
      col("lon"),
      lit(1).as("num_bikes"),
      lit(null).cast("int").as("num_docks"))

  /** `enriched_join_velib_lime` — the cross-provider union. */
  def enrichedJoinVelibLime(ssFormatted: DataFrame, siFormatted: DataFrame,
                            limeFormatted: DataFrame): DataFrame =
    enrichedJoinVelib(ssFormatted, siFormatted)
      .unionByName(enrichedLime(limeFormatted))

  /** Enriched zone prefix — the reference's Airflow Variable default
    * (`index_to_elastic_with_spark.py:14`). */
  val EnrichedVelibLime = "enriched/default_velib_lime/enriched_join_velib_lime/"

  /** Pipeline stage: formatted zones → quality gate → enriched parquet.
    * Mirrors the DAG ordering `dbt_run >> dbt_test >> index_to_elastic`
    * (`/root/reference/dags/dag_bike.py:175`): violations abort the write
    * so the serving layer never sees bad data. Returns the output path.
    */
  /** The shared gate-then-write harness of both stage variants: build
    * the enriched union ONCE (persisted — the gate's one query and the
    * write each scan it; without the persist the join/union plan
    * executes twice AND the write could see different data than the
    * gate approved), refuse on any violation, hand the
    * schema-enforced frame to the writer, unpersist in the same call so
    * nothing leaks into the session. */
  private def gatedStage[A](ss: DataFrame, si: DataFrame, lime: DataFrame)
                           (write: DataFrame => A): A = {
    val enriched = enrichedJoinVelibLime(ss, si, lime)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val failures = QualityGate.failures(enriched)
      if (failures.nonEmpty)
        throw new QualityGate.QualityGateException(failures)
      write(Transforms.enforceSchema(enriched,
        graft.bike.BikeSchemas.enriched))
    } finally enriched.unpersist(blocking = false)
  }

  def runStage(ss: DataFrame, si: DataFrame, lime: DataFrame,
               lakeRoot: String, subfolder: String = "default"): String =
    gatedStage(ss, si, lime) { enforced =>
      val outPath = s"$lakeRoot/$EnrichedVelibLime$subfolder/"
      enforced.write.mode(SaveMode.Overwrite).parquet(outPath)
      outPath
    }

  /** [[runStage]]'s LAKE variant — the parity surface and the scale
    * surface as ONE code path: the same gate guards the write, but the
    * enriched rows land in a manifest-lake table time-partitioned at
    * HOUR granularity on the drop instant
    * ([[graft.pipeline.Ingest.dropInstant]] recovers it from the raw
    * key, so the reference's `YYYYMMDD/HHMMSS` layout and the lake's
    * `p_hour=yyyy-MM-dd-HH` partitions derive from the same clock
    * reading). Each pipeline run APPENDS its snapshot; serving a
    * window of drops is then an hour-pruned [[ManifestLake.readTsRange]]
    * instead of a raw-zone directory walk — at years of 10-minute
    * drops, the difference between reading one hour's files and
    * listing them all. The recorded generation enforces the layout on
    * every later append and pins the UTC zone the dated keys are
    * formatted in. */
  def runStageLake(ss: DataFrame, si: DataFrame, lime: DataFrame,
                   table: String, dropTs: java.sql.Timestamp): Long =
    gatedStage(ss, si, lime) { enforced =>
      graft.sources.ManifestLake.writeTimePartitioned(
        enforced.withColumn("drop_ts", lit(dropTs)),
        table, "drop_ts", append = true, dayCol = "p_hour",
        granularity = "hour")
    }
}

/** R4 — the dbt-test replacement: violation-count aggregations that gate
  * the enriched write, all in ONE query. The rows are grouped by the
  * uniqueness key `(provider, id, time)` (null keys group together, as
  * `groupBy` groups them); each group
  * carries its row count and its count of each row-check violation, and
  * one global aggregate sums the per-check counts and counts the groups
  * holding more than one row. The key shuffle is the cost of the
  * uniqueness check alone; the row checks ride along in its partial
  * aggregates.
  */
object QualityGate {

  final case class CheckResult(name: String, violations: Long)

  final class QualityGateException(val failures: Seq[CheckResult])
    extends RuntimeException(
      "quality gate failed: " +
        failures.map(f => s"${f.name}=${f.violations}").mkString(", "))

  /** The row-level checks, in report order: a row violates a check when
    * its predicate is true (a null predicate is no violation). */
  private val rowChecks: Seq[(String, Column)] = Seq(
    "provider_not_null" -> col("provider").isNull,
    "id_not_null" -> col("id").isNull,
    "provider_accepted_values" -> !col("provider").isin("velib", "lime"),
    "geo_in_range" -> (col("lat") < -90.0 || col("lat") > 90.0 ||
      col("lon") < -180.0 || col("lon") > 180.0),
    "counts_non_negative" -> (col("num_bikes") < 0 || col("num_docks") < 0))

  /** All checks over the enriched contract: the row checks, then
    * `provider_id_time_unique` (the number of keys held by more than one
    * row). */
  def checks(enriched: DataFrame): Seq[CheckResult] = {
    val perKey = enriched.groupBy(col("provider"), col("id"), col("time"))
      .agg(count(lit(1)).as("rows"), rowChecks.map { case (n, c) =>
        count(when(c, 1)).as(n)
      }: _*)
    val totals = rowChecks.map { case (n, _) =>
      coalesce(sum(col(n)), lit(0L)).as(n)
    } :+ count(when(col("rows") > 1, 1)).as("provider_id_time_unique")
    val row = perKey.agg(totals.head, totals.tail: _*).collect().head
    row.schema.fieldNames.toSeq.zipWithIndex.map { case (n, i) =>
      CheckResult(n, row.getLong(i))
    }
  }

  def failures(enriched: DataFrame): Seq[CheckResult] =
    checks(enriched).filter(_.violations > 0)
}
