package graft.serving

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec
import graft.bike.{BikeQueries, BikeSchemas, Transforms}
import graft.enriched.Enriched

class ServingSpec extends AnyFunSuite with Matchers with SparkSpec {

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

  test("prepare: id_concat key, [lon,lat] location, geo columns dropped") {
    val served = Serving.prepare(enrichedFixture)
    served.columns.toSeq shouldBe Seq("provider", "id", "time", "num_bikes",
      "num_docks", "id_concat", "location")
    val r1001 = served.filter(col("id") === "1001").collect().head
    r1001.getAs[String]("id_concat") shouldBe "1001_2025-02-19 21:19:50"
    val loc = r1001.getSeq[Float](r1001.fieldIndex("location"))
    loc.toList shouldBe List(2.275725f, 48.865983f) // GeoJSON order: lon first
    // null time → null key (upsert identity undefined, faithfully)
    served.filter(col("id") === "1005").collect()
      .head.getAs[String]("id_concat") shouldBe null
  }

  test("parquet sink round-trips and verifies the count") {
    val out = java.nio.file.Files.createTempDirectory("graft-sink").toString
    val sink = ParquetSink(s"$out/docs")
    sink.write(Serving.prepare(enrichedFixture))
    sink.verifiedCount(spark) shouldBe Some(12L)
  }

  test("listSubfolders + pickFirst mirror the reference's discovery") {
    val root = java.nio.file.Files.createTempDirectory("graft-list").toString
    Serving.listSubfolders(spark, s"$root/missing") shouldBe empty
    new java.io.File(s"$root/a").mkdirs()
    new java.io.File(s"$root/b").mkdirs()
    val subs = Serving.listSubfolders(spark, root)
    subs.map(_.split('/').last) shouldBe Seq("a", "b")
    Serving.pickFirst(subs, root) shouldBe subs.head
    an[IllegalStateException] should be thrownBy
      Serving.pickFirst(Seq.empty, root)
  }

  test("end-to-end index job: enriched stage → serve → verified count") {
    val lakeRoot = java.nio.file.Files.createTempDirectory("graft-serve").toString
    val ss = Transforms.transformSs(Transforms.readRawJson(
      spark, s"${BikeQueries.fixtureDir}/station_status.json",
      BikeSchemas.ssRaw))
    val si = Transforms.transformSi(Transforms.readRawJson(
      spark, s"${BikeQueries.fixtureDir}/station_information.json",
      BikeSchemas.siRaw))
    val lime = Transforms.transformLime(Transforms.readRawJson(
      spark, s"${BikeQueries.fixtureDir}/free_bike_status.json",
      BikeSchemas.limeRaw))
    Enriched.runStage(ss, si, lime, lakeRoot)
    val count = Serving.indexJob(spark, lakeRoot,
      ParquetSink(s"$lakeRoot/serving/all_bike_data"))
    count shouldBe Some(12L)
  }

  test("ES sink exposes the reference's option surface; unreachable " +
    "cluster fails the write, count verification degrades to None") {
    val sink = ElasticsearchSink("127.0.0.1", 1, "u", "p", // port 1: nothing listens
      "all_bike_data")
    sink.options shouldBe Map(
      "es.nodes" -> "127.0.0.1",
      "es.port" -> "1",
      "es.net.http.auth.user" -> "u",
      "es.net.http.auth.pass" -> "p",
      "es.nodes.wan.only" -> "true",
      "es.resource" -> "all_bike_data",
      "es.mapping.id" -> "id_concat",
      "es.index.auto.create" -> "false")
    sink.connectorAvailable shouldBe false
    an[Exception] should be thrownBy
      sink.write(Serving.prepare(enrichedFixture))
    sink.verifiedCount(spark) shouldBe None
  }

  /** `rowCount` against the count Spark's own read gives, on `dir`. */
  private def footerCountMatches(dir: String, expected: Long): Unit = {
    val counted = ParquetSink.rowCount(spark, dir)
    counted shouldBe spark.read.parquet(dir).count()
    counted shouldBe expected
  }

  test("rowCount: a multi-file write, counted from footers without a " +
    "Spark job") {
    import scala.collection.mutable
    import org.apache.spark.graftbridge.SparkTestBridge
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val dir = java.nio.file.Files.createTempDirectory("graft-rc").toString + "/t"
    spark.range(0, 1000, 1, 4).write.parquet(dir)
    new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet")) shouldBe 4
    val sc = spark.sparkContext
    val group = "parquet-row-count"
    val jobs = mutable.ArrayBuffer.empty[Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.jobGroup.id") == group))
          jobs.synchronized(jobs += e.jobId)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "ParquetSink.rowCount")
      try ParquetSink.rowCount(spark, dir) shouldBe 1000L
      finally sc.clearJobGroup()
      SparkTestBridge.drainListeners(sc)
      jobs.synchronized(jobs.size) shouldBe 0
    } finally sc.removeSparkListener(listener)
    footerCountMatches(dir, 1000L)
  }

  test("rowCount: partition subdirectories are walked") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rc").toString + "/p"
    spark.range(0, 100).withColumn("part", col("id") % 3)
      .write.partitionBy("part").parquet(dir)
    footerCountMatches(dir, 100L)
  }

  test("rowCount: an empty-DataFrame write counts 0") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rc").toString + "/e"
    spark.range(0, 10).filter(col("id") < 0).write.parquet(dir)
    footerCountMatches(dir, 0L)
  }

  test("rowCount: an overwrite that shrinks the output counts only the " +
    "new files") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rc").toString + "/o"
    spark.range(0, 1000, 1, 8).write.parquet(dir)
    spark.range(0, 10, 1, 1).write.mode("overwrite").parquet(dir)
    footerCountMatches(dir, 10L)
  }

  test("rowCount: _SUCCESS, .crc and other _/. files are not data") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rc").toString + "/c"
    spark.range(0, 50, 1, 2).write.parquet(dir)
    val names = new java.io.File(dir).list().toSeq
    names should contain("_SUCCESS")
    names.count(n => n.startsWith(".") && n.endsWith(".crc")) should be > 0
    // the local file system hides .crc files from listings itself; these
    // stray non-parquet files reach the name filter
    Seq("_stray", ".stray").foreach { n =>
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, n),
        "not parquet".getBytes("UTF-8"))
    }
    footerCountMatches(dir, 50L)
  }

  test("rowCount: a missing directory raises, not 0") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rc").toString
    a[java.io.FileNotFoundException] should be thrownBy
      ParquetSink.rowCount(spark, s"$dir/missing")
    a[java.io.FileNotFoundException] should be thrownBy
      ParquetSink(s"$dir/missing").verifiedCount(spark)
  }
}
