package graft.pipeline

import java.sql.Timestamp
import java.time.Clock

import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

import graft.bike.{BikeJobs, BikeSchemas}
import graft.enriched.Enriched
import graft.ml.WeightedKMeans
import graft.serving.{ParquetSink, Serving, Sink}

/** O1-O5 — the native pipeline runner replacing the reference's Airflow
  * DAG (`/root/reference/dags/dag_bike.py:166-175`):
  *
  * {{{
  * start → { fetch_ss, fetch_si, fetch_lime }      (3 parallel branches)
  *        → each its transform                      (still parallel)
  *        → barrier
  *        → enriched stage + quality gate           (replaces dbt run+test)
  *        → serving                                 (index_to_elastic)
  *        → weighted k-means
  * }}}
  *
  * Retry policy: 2 retries, 5-minute delay — the DAG's default_args
  * (`dag_bike.py:32-33`); delay injectable so tests run instantly. Step
  * results pass by return value (the Airflow XCom contract, O3). Cron
  * scheduling stays external, as in the reference (every 3 hours,
  * `dag_bike.py:36`).
  */
object BikePipeline {

  final case class RetryPolicy(retries: Int = 2, delay: FiniteDuration = 5.minutes)

  /** The local properties `SparkContext.setJobGroup` sets. */
  private val JobGroupKeys = Seq("spark.jobGroup.id", "spark.job.description",
    "spark.job.interruptOnCancel")

  /** One DAG step's outcome: attempts made, the step's output, `millis`,
    * the wall time across all attempts (retry delays included), and
    * `rows`, the rows the step wrote. Zone writes count their parquet
    * footers ([[ParquetSink.rowCount]], no Spark job); serving reports
    * its sink's verified count (0 for a sink that cannot count), k_means
    * its result rows, and the fetch steps, which write raw bytes, 0. */
  final case class StepReport(name: String, attempts: Int, output: String,
                              millis: Long, rows: Long)

  final case class PipelineReport(steps: Seq[StepReport],
                                  servedCount: Option[Long],
                                  kmeansRows: Long)

  /** A step's value plus how it ran. */
  private final case class Ran[T](name: String, value: T, attempts: Int,
                                  millis: Long) {
    def report(output: String, rows: Long): StepReport =
      StepReport(name, attempts, output, millis, rows)
  }

  /** Per-step retry wrapper (O1), timing all attempts.
    * [[WeightedKMeans.WindowTooLargeException]] is deterministic —
    * retrying cannot help — so it propagates immediately. */
  private def withRetry[T](name: String, policy: RetryPolicy)
                          (body: => T): Ran[T] = {
    val t0 = System.nanoTime()
    var attempt = 0
    var last: Option[Throwable] = None
    while (attempt <= policy.retries) {
      attempt += 1
      Try(body) match {
        case Success(v) =>
          return Ran(name, v, attempt, (System.nanoTime() - t0) / 1000000L)
        case Failure(e: WeightedKMeans.WindowTooLargeException) => throw e
        case Failure(e) =>
          last = Some(e)
          System.err.println(s"[pipeline] step $name attempt $attempt failed: " +
            s"${e.getMessage}")
          if (attempt <= policy.retries) Thread.sleep(policy.delay.toMillis)
      }
    }
    throw new RuntimeException(s"step $name exhausted ${policy.retries + 1} " +
      s"attempts", last.orNull)
  }

  /** Full DAG run on a lake rooted at `lakeRoot`. `clock` drives both the
    * raw-drop partition stamps and the K-Means trailing-90-minute window
    * (`k_means_with_spark.py:26-39`). */
  def run(spark: SparkSession, client: FeedClient, lakeRoot: String,
          clock: Clock = Clock.systemUTC(),
          retry: RetryPolicy = RetryPolicy(),
          kmeansParams: WeightedKMeans.Params = WeightedKMeans.Params(),
          servingSink: Option[Sink] = None): PipelineReport = {
    implicit val ec: ExecutionContext = ExecutionContext.global
    val sc = spark.sparkContext
    // The branches run on pool threads, which keep the Spark local
    // properties of whichever thread created them: hand them the caller's
    // job group, so cancelling or listening to that group covers the
    // whole drop.
    val jobGroup = JobGroupKeys.map(k => k -> sc.getLocalProperty(k))

    // O2 fan-out: ingest→transform per feed, in parallel.
    def branch(feed: Feed, transform: (SparkSession, String, String) => String,
               stepName: String): Future[Seq[StepReport]] = Future {
      jobGroup.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      try {
        val drop = withRetry(s"fetch_$stepName", retry) {
          Ingest.fetchStore(client, feed, lakeRoot, clock)
        }
        val formatted = withRetry(s"transform_$stepName", retry) {
          val out = transform(spark, drop.value, lakeRoot)
          (out, ParquetSink.rowCount(spark, out))
        }
        val (out, rows) = formatted.value
        Seq(drop.report(drop.value, 0L), formatted.report(out, rows))
      } finally JobGroupKeys.foreach(sc.setLocalProperty(_, null))
    }

    val branches = Future.sequence(Seq(
      branch(Feed.VelibSs, BikeJobs.runSs, "ss"),
      branch(Feed.VelibSi, BikeJobs.runSi, "si"),
      branch(Feed.LimeFbs, BikeJobs.runLime, "lime")))
    // O2 barrier: all transforms must land before the enriched stage.
    val branchReports = Await.result(branches, 30.minutes).flatten

    val formattedPath = Map(
      "ss" -> branchReports.find(_.name == "transform_ss").get.output,
      "si" -> branchReports.find(_.name == "transform_si").get.output,
      "lime" -> branchReports.find(_.name == "transform_lime").get.output)

    // Enriched stage + quality gate (replaces dbt_run >> dbt_test). The
    // transforms write exactly the declared formatted schemas
    // (Transforms.enforceSchema), so the reads declare them too and skip
    // the footer-inference job per feed.
    val enriched = withRetry("enriched_stage", retry) {
      val out = Enriched.runStage(
        spark.read.schema(BikeSchemas.ssFormatted).parquet(formattedPath("ss")),
        spark.read.schema(BikeSchemas.siFormatted).parquet(formattedPath("si")),
        spark.read.schema(BikeSchemas.limeFormatted)
          .parquet(formattedPath("lime")),
        lakeRoot)
      (out, ParquetSink.rowCount(spark, out))
    }
    val (enrichedPath, enrichedRows) = enriched.value

    // Serving (index_to_elastic analog; parquet sink by default offline).
    val sink = servingSink.getOrElse(ParquetSink(s"$lakeRoot/serving/all_bike_data"))
    val served = withRetry("index_to_serving", retry) {
      Serving.indexJob(spark, lakeRoot, sink)
    }

    // Weighted K-Means over the trailing 90 minutes (P4 window). An empty
    // window is a normal condition (a quiet feed, a re-run long after the
    // drop) — skip the step instead of burning retries on it.
    val kmeans = withRetry("k_means", retry) {
      val end = Timestamp.from(clock.instant())
      val start = Timestamp.from(clock.instant().minusSeconds(90 * 60))
      val input = spark.read.schema(BikeSchemas.enriched).parquet(enrichedPath)
      try {
        val (result, _) = WeightedKMeans.run(input, start, end, kmeansParams)
        val out = s"$lakeRoot/usage/kmeans_results/"
        result.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(out)
        (ParquetSink.rowCount(spark, out), out)
      } catch {
        case e: WeightedKMeans.EmptyWindowException =>
          System.err.println(s"[pipeline] k_means skipped: ${e.getMessage}")
          (0L, "skipped: empty window")
      }
    }
    val (kmeansRows, usagePath) = kmeans.value

    PipelineReport(
      branchReports ++ Seq(
        enriched.report(enrichedPath, enrichedRows),
        served.report(served.value.map(_.toString).getOrElse("-"),
          served.value.getOrElse(0L)),
        kmeans.report(usagePath, kmeansRows)),
      served.value, kmeansRows)
  }
}

/** CLI: run the whole DAG against fixture feeds (offline) or live HTTP.
  * `PipelineCli <lakeRoot> [fixtureDir] [epochSeconds]` — with a
  * fixtureDir the run is fully offline; with an epoch the clock is pinned
  * (fixture timestamps are from Feb 2025, so pass e.g. 1740000300 to put
  * them inside the K-Means window). */
object PipelineCli {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: PipelineCli <lakeRoot> [fixtureDir] [epochSeconds]")
    val lakeRoot = args(0)
    val client: FeedClient =
      if (args.length > 1) new FixtureFeedClient(args(1))
      else new HttpFeedClient()
    val clock =
      if (args.length > 2)
        java.time.Clock.fixed(java.time.Instant.ofEpochSecond(args(2).toLong),
          java.time.ZoneOffset.UTC)
      else Clock.systemUTC()
    val spark = graft.core.GraftSession.local(appName = "graft-pipeline")
    val report = BikePipeline.run(spark, client, lakeRoot, clock)
    report.steps.foreach(s =>
      println(f"[pipeline] ${s.name}%-20s attempts=${s.attempts} " +
        f"${s.millis}%6d ms rows=${s.rows}%-7d → ${s.output}"))
    println(s"[pipeline] served=${report.servedCount} kmeansRows=${report.kmeansRows}")
    spark.stop()
  }
}
