package graft.enriched

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec
import graft.bike.{BikeQueries, BikeSchemas, Transforms}

/** Enriched-stage behavior: join/union contract, inner-join drop semantics,
  * the quality gate blocking the write on injected violations, and the
  * end-to-end stage writing the 7-column parquet. */
class EnrichedSpec extends AnyFunSuite with Matchers with SparkSpec {

  private def fixtures = (
    Transforms.transformSs(Transforms.readRawJson(
      spark, s"${BikeQueries.fixtureDir}/station_status.json",
      BikeSchemas.ssRaw)),
    Transforms.transformSi(Transforms.readRawJson(
      spark, s"${BikeQueries.fixtureDir}/station_information.json",
      BikeSchemas.siRaw)),
    Transforms.transformLime(Transforms.readRawJson(
      spark, s"${BikeQueries.fixtureDir}/free_bike_status.json",
      BikeSchemas.limeRaw)))

  test("velib join keeps only stations present in BOTH feeds") {
    val (ss, si, _) = fixtures
    val ids = Enriched.enrichedJoinVelib(ss, si)
      .select(col("id")).collect().map(_.getString(0)).sorted
    // 1008 is SS-only, 1009 is SI-only — both must drop
    ids shouldBe Array("1001", "1002", "1003", "1004", "1005", "1006", "1007")
  }

  test("union carries 7 velib + 5 lime rows with the unified contract") {
    val (ss, si, lime) = fixtures
    val out = Enriched.enrichedJoinVelibLime(ss, si, lime)
    out.columns.toSeq shouldBe Seq("provider", "id", "time", "lat", "lon",
      "num_bikes", "num_docks")
    out.groupBy(col("provider")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap shouldBe
      Map("velib" -> 7L, "lime" -> 5L)
    // lime rows: one bike each, no docks
    out.filter(col("provider") === "lime")
      .select(col("num_bikes"), col("num_docks")).collect().foreach { r =>
        r.getInt(0) shouldBe 1
        r.isNullAt(1) shouldBe true
      }
  }

  test("velib join plans a broadcast of the SI dimension side") {
    val (ss, si, _) = fixtures
    val plan = Enriched.enrichedJoinVelib(ss, si)
      .queryExecution.executedPlan.toString
    plan should include("BroadcastHashJoin")
  }

  test("quality gate passes on the clean fixture chain") {
    val (ss, si, lime) = fixtures
    QualityGate.failures(
      Enriched.enrichedJoinVelibLime(ss, si, lime)) shouldBe empty
  }

  test("quality gate counts injected violations and aborts the stage") {
    val (ss, si, lime) = fixtures
    val dirty = Enriched.enrichedJoinVelibLime(ss, si, lime)
      .withColumn("provider",
        when(col("id") === "1001", lit(null).cast("string"))
          .when(col("id") === "1002", lit("uber"))
          .otherwise(col("provider")))
      .withColumn("lat",
        when(col("id") === "lime-0001", lit(123.45f)).otherwise(col("lat")))
    val byName = QualityGate.checks(dirty)
      .map(c => c.name -> c.violations).toMap
    byName("provider_not_null") shouldBe 1
    byName("provider_accepted_values") shouldBe 1
    byName("geo_in_range") shouldBe 1
    byName("id_not_null") shouldBe 0
    // duplicated row → uniqueness violation
    val duped = Enriched.enrichedJoinVelibLime(ss, si, lime)
    QualityGate.checks(duped.unionByName(duped.limit(1)))
      .find(_.name == "provider_id_time_unique").get.violations shouldBe 1
  }

  /** The gate as two passes — one row-check aggregate, then the
    * uniqueness count over `groupBy(provider, id, time)` — the reference
    * form the one-query [[QualityGate.checks]] must agree with. */
  private def twoPassChecks(enriched: DataFrame): Seq[QualityGate.CheckResult] = {
    val row = enriched.agg(
      count(when(col("provider").isNull, 1)).as("provider_not_null"),
      count(when(col("id").isNull, 1)).as("id_not_null"),
      count(when(!col("provider").isin("velib", "lime"), 1))
        .as("provider_accepted_values"),
      count(when(col("lat") < -90.0 || col("lat") > 90.0 ||
        col("lon") < -180.0 || col("lon") > 180.0, 1)).as("geo_in_range"),
      count(when(col("num_bikes") < 0 || col("num_docks") < 0, 1))
        .as("counts_non_negative")).collect().head
    val rowChecks = row.schema.fieldNames.toSeq.zipWithIndex.map {
      case (n, i) => QualityGate.CheckResult(n, row.getLong(i))
    }
    val dupes = enriched.groupBy(col("provider"), col("id"), col("time"))
      .count().filter(col("count") > 1).count()
    rowChecks :+ QualityGate.CheckResult("provider_id_time_unique", dupes)
  }

  private def dirtyFixture: DataFrame = {
    val (ss, si, lime) = fixtures
    Enriched.enrichedJoinVelibLime(ss, si, lime)
      .withColumn("provider",
        when(col("id") === "1001", lit(null).cast("string"))
          .when(col("id") === "1002", lit("uber"))
          .otherwise(col("provider")))
      .withColumn("lat",
        when(col("id") === "lime-0001", lit(123.45f)).otherwise(col("lat")))
  }

  private def enrichedRows(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3),
      BikeSchemas.enriched)

  private val t1 = java.sql.Timestamp.valueOf("2025-02-19 21:00:00")
  private val t2 = java.sql.Timestamp.valueOf("2025-02-19 21:10:00")

  test("the one-query gate equals the two-pass definition on the dirty " +
    "fixture, null keys, all-violating rows and an empty frame") {
    val (ss, si, lime) = fixtures
    val clean = Enriched.enrichedJoinVelibLime(ss, si, lime)
    // a null provider, id or time, and an all-null key, each duplicated;
    // a lone (null, null, t2) key; one clean duplicate pair; one id seen
    // at two times (not a duplicate) — 5 duplicated keys in all
    val nullKeys = enrichedRows(Seq(
      Row(null, "a", t1, 48.8f, 2.3f, 1, 2),
      Row(null, "a", t1, 48.8f, 2.3f, 1, 2),
      Row("velib", null, t1, 48.8f, 2.3f, 1, 2),
      Row("velib", null, t1, 48.8f, 2.3f, 3, 4),
      Row("lime", "b", null, 48.8f, 2.3f, 1, null),
      Row("lime", "b", null, 48.8f, 2.3f, 1, null),
      Row(null, null, null, 48.8f, 2.3f, 1, 2),
      Row(null, null, null, 48.8f, 2.3f, 1, 2),
      Row(null, null, t2, 48.8f, 2.3f, 1, 2),
      Row("velib", "c", t2, 48.8f, 2.3f, 1, 2),
      Row("velib", "c", t2, 48.8f, 2.3f, 1, 2),
      Row("velib", "d", t1, 48.8f, 2.3f, 1, 2),
      Row("velib", "d", t2, 48.8f, 2.3f, 1, 2)))
    // every row breaks every check a row can break at once — a null
    // provider is not also outside the accepted set, so half the rows
    // carry each — and every key is duplicated
    val allBad = enrichedRows((1 to 6).flatMap { i =>
      val provider = if (i % 2 == 0) null else "uber"
      Seq.fill(2)(Row(provider, null, t1, 91.0f + i, -181.0f, -1, -1))
    })
    val empty = clean.limit(0)
    Seq("clean" -> clean, "dirty" -> dirtyFixture, "null keys" -> nullKeys,
      "all violating" -> allBad, "empty" -> empty).foreach { case (what, df) =>
      withClue(s"$what: ") {
        QualityGate.checks(df) shouldBe twoPassChecks(df)
      }
    }
    QualityGate.checks(nullKeys)
      .find(_.name == "provider_id_time_unique").get.violations shouldBe 5
    all(QualityGate.checks(allBad).map(_.violations)) should be > 0L
    all(QualityGate.checks(empty).map(_.violations)) shouldBe 0L
  }

  test("the gate runs exactly one query execution") {
    val df = dirtyFixture
    val names = mutable.ArrayBuffer.empty[String]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        names.synchronized(names += funcName)
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit =
        names.synchronized(names += s"failed $funcName")
    }
    spark.listenerManager.register(listener)
    try {
      QualityGate.checks(df).map(_.name) shouldBe Seq("provider_not_null",
        "id_not_null", "provider_accepted_values", "geo_in_range",
        "counts_non_negative", "provider_id_time_unique")
      org.apache.spark.graftbridge.SparkTestBridge
        .drainListeners(spark.sparkContext)
      names.synchronized(names.toList) shouldBe List("collect")
    } finally spark.listenerManager.unregister(listener)
  }

  test("runStage writes the enriched parquet and gates dirty input") {
    val (ss, si, lime) = fixtures
    val lakeRoot = java.nio.file.Files.createTempDirectory("graft-enr").toString
    val out = Enriched.runStage(ss, si, lime, lakeRoot)
    out shouldBe s"$lakeRoot/${Enriched.EnrichedVelibLime}default/"
    val readBack = spark.read.parquet(out)
    readBack.count() shouldBe 12
    readBack.schema.fields.map(f => (f.name, f.dataType)).toSeq shouldBe
      BikeSchemas.enriched.fields.map(f => (f.name, f.dataType)).toSeq
    // dirty input → exception, nothing written
    val dirtyLime = lime.withColumn("lat", lit(999.0f))
    val lake2 = java.nio.file.Files.createTempDirectory("graft-enr2").toString
    a[QualityGate.QualityGateException] should be thrownBy
      Enriched.runStage(ss, si, dirtyLime, lake2)
    new java.io.File(s"$lake2/${Enriched.EnrichedVelibLime}").exists() shouldBe false
  }
}
