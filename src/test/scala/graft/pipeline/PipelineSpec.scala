package graft.pipeline

import java.io.File
import java.time.{Clock, Instant, ZoneOffset}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.concurrent.duration._

import org.apache.spark.graftbridge.SparkTestBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec
import graft.bike.{BikeJobs, BikeQueries}
import graft.ml.WeightedKMeans
import graft.serving.{ParquetSink, Sink}

class PipelineSpec extends AnyFunSuite with Matchers with SparkSpec {

  // fixed wall clock just after the fixture feed timestamps, so the
  // trailing-90-minute K-Means window covers them deterministically
  private val clock =
    Clock.fixed(Instant.ofEpochSecond(1740000300L), ZoneOffset.UTC)

  private def fixtureClient = new FixtureFeedClient(BikeQueries.fixtureDir)

  /** Sees the K-Means training collect succeed: the only collect of a
    * pipeline run whose rows carry the `weight` column. */
  private final class TrainingCollects extends QueryExecutionListener {
    val count = new AtomicInteger
    val seen = new CountDownLatch(1)
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit =
      if (funcName == "collect" && qe.analyzed.output.exists(_.name == "weight")) {
        count.incrementAndGet()
        seen.countDown()
      }
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()
  }

  private def withTrainingCollects[T](body: TrainingCollects => T): T = {
    val collects = new TrainingCollects
    spark.listenerManager.register(collects)
    try body(collects)
    finally spark.listenerManager.unregister(collects)
  }

  /** Spark job start times (ms) of job group `group` while `body` runs. */
  private def withGroupJobStarts[T](group: String)
                                   (body: mutable.ArrayBuffer[Long] => T): T = {
    val sc = spark.sparkContext
    val starts = mutable.ArrayBuffer.empty[Long]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.jobGroup.id") == group))
          starts.synchronized(starts += e.time)
    }
    sc.addSparkListener(listener)
    try body(starts)
    finally sc.removeSparkListener(listener)
  }

  test("ingest drops bytes verbatim under the date/time raw layout") {
    val lakeRoot = java.nio.file.Files.createTempDirectory("graft-ing").toString
    val drop = Ingest.fetchStore(fixtureClient, Feed.VelibSs, lakeRoot, clock)
    drop shouldBe s"$lakeRoot/raw/velib/stations_status/20250219/212500/station_status.json"
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(drop)) shouldBe
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
        s"${BikeQueries.fixtureDir}/station_status.json"))
  }

  test("step retry: recovers after transient failures, reports attempts") {
    // the three fetch steps call the client concurrently
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val flaky = new FeedClient {
      def fetch(feed: Feed): Array[Byte] = {
        if (calls.incrementAndGet() < 3) throw new RuntimeException("transient")
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

  test("step reports carry the rows each step wrote") {
    val lakeRoot = java.nio.file.Files.createTempDirectory("graft-rows").toString
    val report = BikePipeline.run(spark, fixtureClient, lakeRoot, clock,
      BikePipeline.RetryPolicy(retries = 0, delay = 0.millis),
      WeightedKMeans.Params(k = 3, seed = 1L))
    report.steps.map(s => s.name -> s.rows).toMap shouldBe Map(
      "fetch_ss" -> 0L, "fetch_si" -> 0L, "fetch_lime" -> 0L,
      // 8 status stations, 8 information stations, 5 free bikes
      "transform_ss" -> 8L, "transform_si" -> 8L, "transform_lime" -> 5L,
      "enriched_stage" -> 12L, "index_to_serving" -> 12L, "k_means" -> 9L)
    // each transform's count is its formatted zone's row count
    Seq("transform_ss", "transform_si", "transform_lime").foreach { n =>
      val step = report.steps.find(_.name == n).get
      spark.read.parquet(step.output).count() shouldBe step.rows
    }
  }

  test("one pipeline run on the fixture feeds launches exactly 12 Spark " +
    "jobs") {
    val sc = spark.sparkContext
    val group = "bike-pipeline-run"
    val lakeRoot = java.nio.file.Files.createTempDirectory("graft-jobs").toString
    withGroupJobStarts(group) { jobs =>
      sc.setJobGroup(group, "BikePipeline.run")
      val report =
        try BikePipeline.run(spark, fixtureClient, lakeRoot, clock,
          BikePipeline.RetryPolicy(retries = 0, delay = 0.millis),
          WeightedKMeans.Params(k = 3, seed = 1L))
        finally sc.clearJobGroup()
      SparkTestBridge.drainListeners(sc)
      report.servedCount shouldBe Some(12L)
      report.kmeansRows shouldBe 9L
      val n = jobs.synchronized(jobs.size)
      info(s"$n Spark jobs")
      // exact, not at most: a pool thread that dropped the caller's group
      // would leave its jobs uncounted
      n shouldBe 12
    }
  }

  test("a failed branch lets its siblings settle before run throws: their " +
    "formatted zones land and no job of the caller's group starts after") {
    val sc = spark.sparkContext
    val group = "bike-pipeline-failed-branch"
    val slowSsDeadLime = new FeedClient {
      def fetch(feed: Feed): Array[Byte] = feed match {
        case Feed.VelibSs => Thread.sleep(500); fixtureClient.fetch(feed)
        case Feed.LimeFbs => throw new RuntimeException("lime down")
        case _ => fixtureClient.fetch(feed)
      }
    }
    val lakeRoot = java.nio.file.Files.createTempDirectory("graft-fail").toString
    withGroupJobStarts(group) { jobs =>
      sc.setJobGroup(group, "BikePipeline.run")
      val ex =
        try the[RuntimeException] thrownBy BikePipeline.run(spark,
          slowSsDeadLime, lakeRoot, clock,
          BikePipeline.RetryPolicy(retries = 0, delay = 0.millis))
        finally sc.clearJobGroup()
      val thrownAt = System.currentTimeMillis()
      ex.getMessage shouldBe "step fetch_lime exhausted 1 attempts"
      Seq(BikeJobs.FormattedVelibSs, BikeJobs.FormattedVelibSi).foreach { zone =>
        new File(s"$lakeRoot/$zone/20250219/212500/_SUCCESS").exists() shouldBe true
      }
      // a branch still running would launch its transform's jobs by now
      Thread.sleep(1000)
      SparkTestBridge.drainListeners(sc)
      val late = jobs.synchronized(jobs.filter(_ > thrownAt).toList)
      late shouldBe empty
    }
  }

  test("a failed serving step fails the run with its own error, leaves the " +
    "usage zone unwritten and is not retried by k_means") {
    val deadSink = new Sink {
      def write(df: DataFrame): Unit = throw new RuntimeException("index down")
      def verifiedCount(spark: SparkSession): Option[Long] = None
    }
    val lakeRoot = java.nio.file.Files.createTempDirectory("graft-srv").toString
    withTrainingCollects { collects =>
      val ex = the[RuntimeException] thrownBy BikePipeline.run(spark,
        fixtureClient, lakeRoot, clock,
        BikePipeline.RetryPolicy(retries = 1, delay = 200.millis),
        WeightedKMeans.Params(k = 3, seed = 1L), Some(deadSink))
      ex.getMessage shouldBe "step index_to_serving exhausted 2 attempts"
      ex.getCause.getMessage shouldBe "index down"
      new File(s"$lakeRoot/usage/kmeans_results").exists() shouldBe false
      // k_means fitted once and gave up on serving's failure: a retry
      // would wait out the delay and fit again
      SparkTestBridge.drainListeners(spark.sparkContext)
      collects.count.get shouldBe 1
    }
  }

  test("serving and the K-Means fit overlap, and the usage zone lands " +
    "only after serving") {
    val lakeRoot = java.nio.file.Files.createTempDirectory("graft-ovl").toString
    val usage = new File(s"$lakeRoot/usage/kmeans_results")
    withTrainingCollects { collects =>
      val parquet = ParquetSink(s"$lakeRoot/serving/all_bike_data")
      val overlapping = new Sink {
        def write(df: DataFrame): Unit = {
          usage.exists() shouldBe false
          // serving is under way: the fit must finish without waiting on it
          collects.seen.await(60, TimeUnit.SECONDS) shouldBe true
          parquet.write(df)
          usage.exists() shouldBe false
        }
        def verifiedCount(spark: SparkSession): Option[Long] =
          parquet.verifiedCount(spark)
      }
      val report = BikePipeline.run(spark, fixtureClient, lakeRoot, clock,
        BikePipeline.RetryPolicy(retries = 0, delay = 0.millis),
        WeightedKMeans.Params(k = 3, seed = 1L), Some(overlapping))
      report.servedCount shouldBe Some(12L)
      report.kmeansRows shouldBe 9L
      usage.exists() shouldBe true
    }
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
