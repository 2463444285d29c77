package graft.pipeline

import java.sql.Timestamp
import java.time.Clock

import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future, Promise}
import scala.util.{Failure, Success, Try}
import scala.util.control.Exception.allCatch

import org.apache.spark.SparkContext
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
  *        → { serving (index_to_elastic),
  *            weighted k-means read + fit }         (side by side)
  *        → k-means result write (usage zone)
  * }}}
  *
  * K-Means reads only the enriched zone, so its read and fit
  * ([[WeightedKMeans.run]]) run beside serving; its result is written
  * only once serving has returned, so the usage zone still lands after
  * serving, as the reference's `index_to_elastic >> k_means` orders it,
  * and a failed serving step leaves the usage zone untouched.
  *
  * Retry policy: 2 retries, 5-minute delay — the DAG's default_args
  * (`dag_bike.py:32-33`); delay injectable so tests run instantly. Step
  * results pass by return value (the Airflow XCom contract, O3). Cron
  * scheduling stays external, as in the reference (every 3 hours,
  * `dag_bike.py:36`). `run` returns or throws only once every step it
  * started has settled: a failed step never leaves a sibling running
  * Spark jobs on the caller's session.
  */
object BikePipeline {

  final case class RetryPolicy(retries: Int = 2, delay: FiniteDuration = 5.minutes)

  /** The local properties `SparkContext.setJobGroup` sets. */
  private val JobGroupKeys = Seq("spark.jobGroup.id", "spark.job.description",
    "spark.job.interruptOnCancel")

  /** One DAG step's outcome: attempts made, the step's output, `millis`,
    * the wall time across all attempts (retry delays included; for
    * k_means also its wait for serving before the result write), and
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

  /** The k_means step was waiting to write its result when serving
    * failed. */
  private final class ServingFailedException(cause: Throwable)
    extends RuntimeException("index_to_serving failed; the K-Means result " +
      "is not written", cause)

  /** Per-step retry wrapper (O1), timing all attempts.
    * [[WeightedKMeans.WindowTooLargeException]] is deterministic, and a
    * [[ServingFailedException]] is another step's failure — retrying
    * cannot help either — so both propagate immediately. */
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
        case Failure(e: ServingFailedException) => throw e
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

  /** Runs `body` on a pool thread under the calling thread's job group.
    * Pool threads keep the Spark local properties of whichever thread
    * created them, so the group is handed over explicitly (and cleared
    * after): cancelling or listening to the caller's group then covers
    * the whole drop. The future holds `body`'s outcome, a fatal error
    * too: a plain `Future` never completes on one, and `run` would wait
    * on it forever. */
  private def inCallerJobGroup[T](sc: SparkContext)(body: => T)
                                 (implicit ec: ExecutionContext): Future[Try[T]] = {
    val jobGroup = JobGroupKeys.map(k => k -> sc.getLocalProperty(k))
    Future {
      jobGroup.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      try allCatch.withTry(body)
      finally JobGroupKeys.foreach(sc.setLocalProperty(_, null))
    }
  }

  /** Waits for a step started by [[inCallerJobGroup]] to settle, however
    * long its retries take: `run` must not return while a step it
    * started can still launch Spark jobs. */
  private def settle[T](step: Future[Try[T]]): Try[T] =
    Await.result(step, Duration.Inf)

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

    // O2 fan-out: ingest→transform per feed, in parallel.
    def branch(feed: Feed, transform: (SparkSession, String, String) => String,
               stepName: String): Future[Try[Seq[StepReport]]] =
      inCallerJobGroup(sc) {
        val drop = withRetry(s"fetch_$stepName", retry) {
          Ingest.fetchStore(client, feed, lakeRoot, clock)
        }
        val formatted = withRetry(s"transform_$stepName", retry) {
          val out = transform(spark, drop.value, lakeRoot)
          (out, ParquetSink.rowCount(spark, out))
        }
        val (out, rows) = formatted.value
        Seq(drop.report(drop.value, 0L), formatted.report(out, rows))
      }

    val branches = Seq(
      branch(Feed.VelibSs, BikeJobs.runSs, "ss"),
      branch(Feed.VelibSi, BikeJobs.runSi, "si"),
      branch(Feed.LimeFbs, BikeJobs.runLime, "lime"))
    // O2 barrier: all transforms must land before the enriched stage.
    // Every branch settles before the first failure is rethrown.
    val branchReports = branches.map(settle).flatMap(_.get)

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

    // Weighted K-Means over the trailing 90 minutes (P4 window), read and
    // fit beside serving; the result is written once serving has
    // returned. An empty window is a normal condition (a quiet feed, a
    // re-run long after the drop) — skip the step instead of burning
    // retries on it.
    val servingDone = Promise[Unit]()
    val kmeansRun = inCallerJobGroup(sc) {
      withRetry("k_means", retry) {
        val end = Timestamp.from(clock.instant())
        val start = Timestamp.from(clock.instant().minusSeconds(90 * 60))
        val input = spark.read.schema(BikeSchemas.enriched).parquet(enrichedPath)
        try {
          val (result, _) = WeightedKMeans.run(input, start, end, kmeansParams)
          Await.result(servingDone.future, Duration.Inf)
          val out = s"$lakeRoot/usage/kmeans_results/"
          result.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(out)
          (ParquetSink.rowCount(spark, out), out)
        } catch {
          case e: WeightedKMeans.EmptyWindowException =>
            System.err.println(s"[pipeline] k_means skipped: ${e.getMessage}")
            (0L, "skipped: empty window")
        }
      }
    }

    // Serving (index_to_elastic analog; parquet sink by default offline).
    val sink = servingSink.getOrElse(ParquetSink(s"$lakeRoot/serving/all_bike_data"))
    // every outcome, a fatal one too, must release the waiting k_means step
    val servedTry = allCatch.withTry(withRetry("index_to_serving", retry) {
      Serving.indexJob(spark, lakeRoot, sink)
    })
    servingDone.complete(servedTry.map(_ => ())
      .recoverWith { case e => Failure(new ServingFailedException(e)) })
    val kmeansTry = settle(kmeansRun)
    // serving's own failure comes first: k_means only waited on it
    val served = servedTry.get
    val kmeans = kmeansTry.get
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
