package graft.ml

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.graftbridge.SparkTestBridge
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec
import graft.bike.{BikeQueries, BikeSchemas, Transforms}
import graft.enriched.Enriched

class WeightedKMeansSpec extends AnyFunSuite with Matchers with SparkSpec {

  private def ts(sec: Long) = new Timestamp(sec * 1000L)

  private def enrichedFixture = {
    val ss = Transforms.transformSs(Transforms.readRawJson(
      spark, s"${BikeQueries.fixtureDir}/station_status.json",
      BikeSchemas.ssRaw))
    val si = Transforms.transformSi(Transforms.readRawJson(
      spark, s"${BikeQueries.fixtureDir}/station_information.json",
      BikeSchemas.siRaw))
    val lime = Transforms.transformLime(Transforms.readRawJson(
      spark, s"${BikeQueries.fixtureDir}/free_bike_status.json",
      BikeSchemas.limeRaw))
    Enriched.enrichedJoinVelibLime(ss, si, lime)
  }

  test("prepare: closed-interval filter + weight clamp to >= 1") {
    val prepared = WeightedKMeans.prepare(enrichedFixture,
      ts(1739999700L), ts(1740000100L))
    // in-window: velib 1001/1002/1003 (1004 t=..650 out, 1005 t=null out,
    // 1006/1007 out) + lime 1..4 (lime-0005 t=null out)
    prepared.count() shouldBe 7
    prepared.select(min(col("weight"))).collect().head.getInt(0) should be >= 1
    // station 1002 has 0 bikes → clamped weight 1
    prepared.filter(col("id") === "1002").select(col("weight"))
      .collect().head.getInt(0) shouldBe 1
  }

  test("replication parity mode trains on Σ max(weight,1) rows and serves " +
    "the 7-column contract") {
    val (served, _) = WeightedKMeans.run(enrichedFixture,
      ts(1739999700L), ts(1740000100L),
      WeightedKMeans.Params(k = 3, seed = 1L,
        mode = WeightedKMeans.Replication))
    served.columns.toSeq shouldBe Seq("provider", "id_concat", "location",
      "time", "num_bikes", "num_docks", "prediction")
    // weights: 1001→5, 1002→1, 1003→2, lime→1×4 ⇒ 12 replicated rows
    served.count() shouldBe 12
    served.select(countDistinct(col("prediction"))).collect()
      .head.getLong(0) shouldBe 3
    // id_concat is the serving key: replicas of one point share it
    served.filter(col("id_concat").startsWith("1001_"))
      .select(countDistinct(col("id_concat"))).collect()
      .head.getLong(0) shouldBe 1
  }

  test("native weightCol mode: one row per point, objective matches " +
    "replication within tolerance") {
    import spark.implicits._
    // well-separated synthetic clusters so both modes reach the optimum
    val pts = Seq(
      ("a", "p1", 0.0f, 0.0f, 5), ("a", "p2", 0.1f, 0.1f, 3),
      ("a", "p3", 10.0f, 10.0f, 4), ("a", "p4", 10.1f, 10.1f, 2),
      ("a", "p5", 20.0f, 0.0f, 6), ("a", "p6", 20.1f, 0.1f, 1))
      .toDF("provider", "id", "lat", "lon", "num_bikes")
      .withColumn("time", to_timestamp(lit("2025-02-19 21:00:00")))
      .withColumn("num_docks", lit(0))
    val window = (ts(0L), ts(4102444800L))
    val (servedNative, modelNative) = WeightedKMeans.run(pts,
      window._1, window._2,
      WeightedKMeans.Params(k = 3, seed = 1L,
        mode = WeightedKMeans.NativeWeight))
    val (servedRepl, modelRepl) = WeightedKMeans.run(pts,
      window._1, window._2,
      WeightedKMeans.Params(k = 3, seed = 1L,
        mode = WeightedKMeans.Replication))
    servedNative.count() shouldBe 6   // no blowup
    servedRepl.count() shouldBe 21    // Σ weights
    val (wNative, wRepl) =
      (WeightedKMeans.wssse(modelNative), WeightedKMeans.wssse(modelRepl))
    // identical objective: Σ wᵢ·d² == replicated Σ d²
    math.abs(wNative - wRepl) should be <= 1e-6 * math.max(wNative, 1.0)
  }

  test("null geo points are skipped, not crashed on") {
    val (served, _) = WeightedKMeans.run(enrichedFixture,
      ts(1739990000L), ts(1740000100L),
      WeightedKMeans.Params(k = 3, seed = 1L))
    // window now includes station 1004 (null lat) — it must be dropped
    served.filter(col("id_concat").startsWith("1004_")).count() shouldBe 0
  }

  /** A seeded Paris-bbox drop: 1,500 stations weighted 1–40 and 15,000
    * unit-weight bikes, all reported at one time inside [[FleetWindow]]. */
  private def fleet(seed: Long): DataFrame = {
    import spark.implicits._
    val r = new scala.util.Random(seed)
    def geo() = (48.815f + r.nextFloat() * 0.09f, 2.25f + r.nextFloat() * 0.17f)
    val stations = (0 until 1500).map { i =>
      val (lat, lon) = geo()
      ("velib", s"s$i", lat, lon, 1 + r.nextInt(40))
    }
    val bikes = (0 until 15000).map { i =>
      val (lat, lon) = geo()
      ("lime", s"b$i", lat, lon, 1)
    }
    (stations ++ bikes).toDF("provider", "id", "lat", "lon", "num_bikes")
      .withColumn("time", to_timestamp(lit("2025-02-19 21:00:00")))
      .withColumn("num_docks", lit(0))
  }

  private val FleetWindow = (ts(0L), ts(4102444800L))

  /** Σ wᵢ·min‖xᵢ−c‖² of `centers` over the prepared points. */
  private def wssseOf(prepared: DataFrame,
                      centers: Seq[org.apache.spark.ml.linalg.Vector]): Double =
    prepared.select(col("lat").cast("double"), col("lon").cast("double"),
      col("weight").cast("double")).collect().map { p =>
      p.getDouble(2) * centers.map { c =>
        val (a, b) = (p.getDouble(0) - c(0), p.getDouble(1) - c(1))
        a * a + b * b
      }.min
    }.sum

  test("driver fit matches MLlib's weighted K-Means objective on Paris-scale " +
    "drops: within 3% on every seed, no worse in the geomean") {
    val ratios = (1L to 4L).map { seed =>
      val df = fleet(seed).cache()
      val prepared = WeightedKMeans.prepare(df, FleetWindow._1, FleetWindow._2)
      val (_, model) = WeightedKMeans.run(df, FleetWindow._1, FleetWindow._2)
      val mllib = new KMeans().setK(12).setSeed(1L).setWeightCol("weight")
        .fit(new VectorAssembler().setInputCols(Array("lat", "lon"))
          .setOutputCol("features").transform(prepared))
      val ours = wssseOf(prepared, model.clusterCenters.toSeq)
      // trainingCost is the objective at the returned centers
      WeightedKMeans.wssse(model) shouldBe ours +- 1e-9 * ours
      model.clusterCenters.length shouldBe 12
      model.summary.numIter should (be >= 1 and be <= 20)
      val ratio = ours / wssseOf(prepared, mllib.clusterCenters.toSeq)
      df.unpersist()
      ratio
    }
    all(ratios) should be <= 1.03
    math.exp(ratios.map(math.log).sum / ratios.size) should be <= 1.00
  }

  /** [[fleet]] written as parquet and read back with the enriched schema,
    * as the pipeline reads it: collecting a scan is one Spark job. */
  private lazy val fleetParquet: DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft-wkm").toString
    fleet(1L).write.mode("overwrite").parquet(dir)
    spark.read.schema(BikeSchemas.enriched).parquet(dir)
  }

  test("the fit launches exactly one Spark job: the training-set collect") {
    val sc = spark.sparkContext
    val group = "weighted-kmeans-fit"
    val jobs = mutable.ArrayBuffer.empty[Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.jobGroup.id") == group))
          jobs.synchronized(jobs += e.jobId)
    }
    val df = fleetParquet
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "WeightedKMeans.run")
      val (served, model) =
        try WeightedKMeans.run(df, FleetWindow._1, FleetWindow._2)
        finally sc.clearJobGroup()
      SparkTestBridge.drainListeners(sc)
      jobs.synchronized(jobs.size) shouldBe 1
      // the result stays lazy and servable, a model like MLlib's own
      model.clusterCenters.length shouldBe 12
      (model.getK, model.getSeed, model.getWeightCol) shouldBe ((12, 1L, "weight"))
      model.summary.k shouldBe 12
      served.columns should contain("prediction")
    } finally sc.removeSparkListener(listener)
  }

  test("empty window: a window before every fixture time raises " +
    "EmptyWindowException") {
    an[WeightedKMeans.EmptyWindowException] should be thrownBy
      WeightedKMeans.run(enrichedFixture, ts(0L), ts(1000L))
  }

  test("empty window: a window whose only rows have null geo raises " +
    "EmptyWindowException") {
    import spark.implicits._
    val nullGeo = Seq(("velib", "n1", None, Some(2.3f), 4),
      ("lime", "n2", Some(48.86f), None, 1))
      .toDF("provider", "id", "lat", "lon", "num_bikes")
      .withColumn("time", to_timestamp(lit("2025-02-19 21:00:00")))
      .withColumn("num_docks", lit(0))
    an[WeightedKMeans.EmptyWindowException] should be thrownBy
      WeightedKMeans.run(nullGeo, FleetWindow._1, FleetWindow._2)
  }

  test("a window too large for the driver fails with a message naming the " +
    "window's points, wrapping spark.driver.maxResultSize") {
    val df = fleetParquet
    val ex = SparkTestBridge.withContextConf(spark.sparkContext,
        "spark.driver.maxResultSize", "1k") {
      the[WeightedKMeans.WindowTooLargeException] thrownBy
        WeightedKMeans.run(df, FleetWindow._1, FleetWindow._2)
    }
    ex.getMessage should include("too many points in window")
    ex.getMessage should include("spark.driver.maxResultSize")
    ex.getCause should not be null
  }
}
