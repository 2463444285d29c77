package graft.ml

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.exact

/** Correctness-gate entry for the ML path (SURVEY §2.6 M1/M2).
  *
  * The K-Means fit itself runs on the driver ([[WeightedKMeans.run]]):
  * one Spark job collects the window's `(lat, lon, weight)` rows, which
  * is bounded by the fleet because the pipeline trains on one drop (the
  * enriched `default/` folder is overwritten each run, and the window
  * keeps its trailing 90 minutes). The solve is seeded greedy k-means++
  * init (best of `2 + ⌊ln k⌋` D²·w-drawn candidates per center) and
  * weighted Lloyd under MLlib's defaults (at most 20 iterations, stop
  * once every center moves ≤ 1e-4, empty clusters keep their center).
  * Its init sampling makes the centers engine-internal, so the fit stays
  * spec-bounded: WeightedKMeansSpec pins the cross-mode WSSSE tolerance
  * and the objective against MLlib's own weighted fit. What IS
  * deterministic — and what this query pins against the DuckDB oracle —
  * is the fit input and the centroid arithmetic:
  * [[WeightedKMeans.prepare]]'s window filter + weight clamp, and the
  * per-group weighted mean sum(w·x)/sum(w), which is exactly the centroid
  * update step K-Means computes (k=1 per provider group).
  */
object MlQueries {

  /** Window covering the whole fixture: the filter operator runs (P4) but
    * the evidence here is the clamp + weighted-mean arithmetic. */
  private val WindowStart = Timestamp.valueOf("1970-01-01 00:00:00")
  private val WindowEnd = Timestamp.valueOf("2100-01-01 00:00:00")

  /** m2_kmeans_prep — per-provider weighted centroids over the enriched
    * fixture chain. Sums go through exact decimal arithmetic
    * ([[graft.functions.exact]]) so the result is partitioning-independent
    * and hash-exact against the oracle; the division is one deterministic
    * double op on two exact values. */
  def m2KmeansPrep(s: SparkSession, d: String): DataFrame = {
    val (ss, si, lime) = graft.bike.BikeQueries.formattedFixtures(s)
    val enriched = graft.enriched.Enriched.enrichedJoinVelibLime(ss, si, lime)
    val prepared = WeightedKMeans.prepare(enriched, WindowStart, WindowEnd)
    val w = col("weight").cast("double")
    prepared.groupBy(col("provider"))
      .agg(
        count(lit(1)).as("n_points"),
        sum(col("weight").cast("long")).as("total_weight"),
        (exact.decSum(w * col("lat").cast("double"), 6) /
          sum(col("weight")).cast("double")).as("wlat"),
        (exact.decSum(w * col("lon").cast("double"), 6) /
          sum(col("weight")).cast("double")).as("wlon"))
  }

  val m2Oracle: String = {
    val fx = graft.bike.BikeQueries.fixtureDir
    s"""WITH enriched AS (
       |  SELECT 'velib' AS provider, st.last_reported AS t,
       |    CAST(inf.lat AS REAL) AS lat, CAST(inf.lon AS REAL) AS lon,
       |    CAST(st.num_bikes_available AS INTEGER) AS num_bikes
       |  FROM (SELECT unnest(data.stations) AS st
       |        FROM read_json_auto('$fx/station_status.json')) ss,
       |       (SELECT unnest(data.stations) AS inf
       |        FROM read_json_auto('$fx/station_information.json')) si
       |  WHERE st.station_id = inf.station_id
       |  UNION ALL
       |  SELECT 'lime', bk.last_reported, CAST(bk.lat AS REAL),
       |    CAST(bk.lon AS REAL), 1
       |  FROM (SELECT unnest(data.bikes) AS bk
       |        FROM read_json_auto('$fx/free_bike_status.json'))),
       |prepared AS (
       |  SELECT provider,
       |    CASE WHEN num_bikes > 0 THEN num_bikes ELSE 1 END AS weight,
       |    lat, lon
       |  FROM enriched
       |  WHERE t >= 0 AND t <= epoch(TIMESTAMP '2100-01-01 00:00:00'))
       |SELECT provider,
       |  count(*) AS n_points,
       |  CAST(SUM(CAST(weight AS BIGINT)) AS BIGINT) AS total_weight,
       |  ${exact.decSumSql("CAST(weight AS DOUBLE) * CAST(lat AS DOUBLE)", 6)}
       |    / CAST(SUM(weight) AS DOUBLE) AS wlat,
       |  ${exact.decSumSql("CAST(weight AS DOUBLE) * CAST(lon AS DOUBLE)", 6)}
       |    / CAST(SUM(weight) AS DOUBLE) AS wlon
       |FROM prepared GROUP BY provider""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m2_kmeans_prep" -> (m2KmeansPrep _))

  val oracles: Map[String, String] = Map(
    "m2_kmeans_prep" -> m2Oracle)
}
