package graft.pipeline

import java.time.{Clock, Instant, ZoneOffset}

import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec
import graft.bike.{BikeJobs, BikeQueries}
import graft.ml.WeightedKMeans

class PipelineSpec extends AnyFunSuite with Matchers with SparkSpec {

  // fixed wall clock just after the fixture feed timestamps, so the
  // trailing-90-minute K-Means window covers them deterministically
  private val clock =
    Clock.fixed(Instant.ofEpochSecond(1740000300L), ZoneOffset.UTC)

  private def fixtureClient = new FixtureFeedClient(BikeQueries.fixtureDir)

  test("ingest drops bytes verbatim under the date/time raw layout") {
    val lakeRoot = java.nio.file.Files.createTempDirectory("graft-ing").toString
    val drop = Ingest.fetchStore(fixtureClient, Feed.VelibSs, lakeRoot, clock)
    drop shouldBe s"$lakeRoot/raw/velib/stations_status/20250219/212500/station_status.json"
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(drop)) shouldBe
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
        s"${BikeQueries.fixtureDir}/station_status.json"))
  }

  test("step retry: recovers after transient failures, reports attempts") {
    var calls = 0
    val flaky = new FeedClient {
      def fetch(feed: Feed): Array[Byte] = {
        calls += 1
        if (calls < 3) throw new RuntimeException("transient")
        fixtureClient.fetch(feed)
      }
    }
    val lakeRoot = java.nio.file.Files.createTempDirectory("graft-rty").toString
    val report = BikePipeline.run(spark, flaky, lakeRoot, clock,
      BikePipeline.RetryPolicy(retries = 2, delay = 0.millis),
      WeightedKMeans.Params(k = 3, seed = 1L))
    // exactly one fetch step needed 3 attempts; the rest ran clean
    report.steps.filter(_.name.startsWith("fetch_"))
      .map(_.attempts).sum shouldBe 5
  }

  test("retry exhaustion fails the pipeline") {
    val dead = new FeedClient {
      def fetch(feed: Feed): Array[Byte] = throw new RuntimeException("down")
    }
    val lakeRoot = java.nio.file.Files.createTempDirectory("graft-dead").toString
    val ex = the[RuntimeException] thrownBy BikePipeline.run(spark, dead,
      lakeRoot, clock, BikePipeline.RetryPolicy(retries = 1, delay = 0.millis))
    ex.getMessage should include("exhausted 2 attempts")
  }

  test("full DAG on fixtures: fan-out, barrier, enrich, serve, k-means") {
    val lakeRoot = java.nio.file.Files.createTempDirectory("graft-dag").toString
    val report = BikePipeline.run(spark, fixtureClient, lakeRoot, clock,
      BikePipeline.RetryPolicy(retries = 0, delay = 0.millis),
      WeightedKMeans.Params(k = 3, seed = 1L))

    report.steps.map(_.name) should contain allOf("fetch_ss", "fetch_si",
      "fetch_lime", "transform_ss", "transform_si", "transform_lime",
      "enriched_stage", "index_to_serving", "k_means")
    // serving saw the full 12-row enriched union
    report.servedCount shouldBe Some(12L)
    // k-means window [20:55, 22:25] keeps velib 1001/1002/1003/1004/1006/
    // 1007 (null-time 1005 drops; 1004 has null lat → skipped by the
    // assembler; 1008 not in SI) and lime 1-4 ⇒ 9 entities; replication
    // default is OFF (native weights) so rows == entities
    report.kmeansRows shouldBe 9L
    // formatted + enriched + usage zones all materialized
    new java.io.File(s"$lakeRoot/formatted/velib/stations_status/20250219/212500")
      .exists() shouldBe true
    new java.io.File(s"$lakeRoot/enriched/default_velib_lime/enriched_join_velib_lime/default")
      .exists() shouldBe true
    new java.io.File(s"$lakeRoot/usage/kmeans_results").exists() shouldBe true
  }

  test("step reports carry each step's wall time across its attempts") {
    val delay = 100.millis
    var siCalls = 0
    val flakySi = new FeedClient {
      def fetch(feed: Feed): Array[Byte] = {
        if (feed == Feed.VelibSi) {
          siCalls += 1
          if (siCalls < 3) throw new RuntimeException("transient")
        }
        fixtureClient.fetch(feed)
      }
    }
    val lakeRoot = java.nio.file.Files.createTempDirectory("graft-ms").toString
    val report = BikePipeline.run(spark, flakySi, lakeRoot, clock,
      BikePipeline.RetryPolicy(retries = 2, delay = delay),
      WeightedKMeans.Params(k = 3, seed = 1L))
    val fetchSi = report.steps.find(_.name == "fetch_si").get
    fetchSi.attempts shouldBe 3
    // two failed attempts, each followed by the retry delay
    fetchSi.millis should be >= 2 * delay.toMillis
    all(report.steps.map(_.millis)) should be >= 0L
    report.steps.find(_.name == "k_means").get.millis should be > 0L
  }

  test("an empty K-Means window skips the step: k_means reports " +
    "'skipped: empty window' and kmeansRows = 0") {
    // a day after the fixture drop: the trailing 90 minutes hold nothing
    val nextDay = Clock.fixed(Instant.ofEpochSecond(1740000300L + 86400L),
      ZoneOffset.UTC)
    val lakeRoot = java.nio.file.Files.createTempDirectory("graft-empty").toString
    val report = BikePipeline.run(spark, fixtureClient, lakeRoot, nextDay,
      BikePipeline.RetryPolicy(retries = 0, delay = 0.millis),
      WeightedKMeans.Params(k = 3, seed = 1L))
    val km = report.steps.find(_.name == "k_means").get
    km.output shouldBe "skipped: empty window"
    km.attempts shouldBe 1
    report.kmeansRows shouldBe 0L
    report.servedCount shouldBe Some(12L)
  }

  test("dated drops compose with hour partitioning: two pipeline runs " +
    "land as two p_hour partitions and a one-hour range reads only its " +
    "own drop") {
    import graft.enriched.Enriched
    import graft.sources.ManifestLake
    val lakeRoot = java.nio.file.Files.createTempDirectory("graft-tp").toString
    val table = s"$lakeRoot/enriched_lake/velib_lime"
    // the raw key written at 21:25 UTC parses back to the same instant —
    // one clock reading feeds both the reference layout and the lake
    Ingest.dropInstant(
      "lake/raw/velib/stations_status/20250219/212500/f.json") shouldBe
      Instant.ofEpochSecond(1740000300L)
    Seq(0L, 3600L).foreach { offset =>
      val c = Clock.fixed(Instant.ofEpochSecond(1740000300L + offset),
        ZoneOffset.UTC)
      val ssDrop = Ingest.fetchStore(fixtureClient, Feed.VelibSs, lakeRoot, c)
      val siDrop = Ingest.fetchStore(fixtureClient, Feed.VelibSi, lakeRoot, c)
      val lmDrop = Ingest.fetchStore(fixtureClient, Feed.LimeFbs, lakeRoot, c)
      val ss = spark.read.parquet(BikeJobs.runSs(spark, ssDrop, lakeRoot))
      val si = spark.read.parquet(BikeJobs.runSi(spark, siDrop, lakeRoot))
      val lm = spark.read.parquet(BikeJobs.runLime(spark, lmDrop, lakeRoot))
      Enriched.runStageLake(ss, si, lm, table,
        java.sql.Timestamp.from(Ingest.dropInstant(ssDrop)))
    }
    // one partition per drop hour, the reference's HH resolution
    ManifestLake.snapshot(spark, table).entries
      .flatMap(_.path.split('/').find(_.startsWith("p_hour=")))
      .distinct.sorted shouldBe
      Seq("p_hour=2025-02-19-21", "p_hour=2025-02-19-22")
    // the drop hour's window [21:00, 21:59:59] reads ONLY its drop: 12
    // enriched rows, and the other hour's files never enter the scan
    val hourStart = 1739998800L // 2025-02-19T21:00:00Z
    val hour = ManifestLake.readTsRange(spark, table, "drop_ts",
      java.sql.Timestamp.from(Instant.ofEpochSecond(hourStart)),
      java.sql.Timestamp.from(Instant.ofEpochSecond(hourStart + 3599L)))
    hour.count() shouldBe 12L
    val files = hour.inputFiles
    files should not be empty
    all(files) should include("p_hour=2025-02-19-21")
  }
}
