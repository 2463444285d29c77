package graftbench

import java.sql.Timestamp
import java.time.{Clock, Instant, ZoneOffset}

import scala.concurrent.duration._

import org.apache.spark.sql.functions.col

import graft.bike.{BikeJobs, BikeSchemas}
import graft.enriched.Enriched
import graft.ml.WeightedKMeans
import graft.pipeline.{BikePipeline, Feed, FeedClient, Ingest}
import graft.serving.{ParquetSink, Serving}

/** `bike_pipeline`: consecutive 10-minute GBFS drops, each one DAG run
  * (ingest → three transforms → enriched stage and quality gate →
  * parquet serving → weighted K-Means, k=12, seed=1) on a pinned clock.
  * Untraced, a drop is one [[BikePipeline.run]] with the default retry
  * count and zero delay. Traced, the benchmark calls the same step
  * functions in DAG order, one span each. After each drop, a lookup of
  * ten ids reads the served index. After the drops, the slice is one
  * round of `hot_corpus` ([[CorpusWorkload]] on [[BikeWorkload.HotDocs]]
  * documents) on the same session; its corpus is generated once, with
  * the warm-up state. */
final class BikeWorkload(run: Run) extends Workload {
  private val spark = run.spark
  private val full = new GbfsGen(run.seed)
  private val small = new GbfsGen(run.seed, stations = 150, bikes = 1500)
  private var gen = full
  private var lake: String = _
  private var drop = 0
  private val retry = BikePipeline.RetryPolicy(delay = Duration.Zero)
  private val hot = new CorpusWorkload(run, BikeWorkload.HotDocs)

  /** Serves the generator's current drop, as a live feed would. */
  private final class GenClient extends FeedClient {
    @volatile var current: GbfsGen#Drop = _
    def fetch(feed: Feed): Array[Byte] = feed.name match {
      case "velib_ss" => current.ss
      case "velib_si" => current.si
      case "lime_fbs" => current.lime
    }
  }
  private val client = new GenClient

  def prepare(dir: String, warm: Boolean): Unit = {
    gen = if (warm) small else full
    lake = s"$dir/lake"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(lake))
    drop = 0
    tracedRetries = 0
    if (warm) hot.prepare(s"$dir/hot", warm)
  }

  def warmup(): Unit =
    Run.concurrently({ round(-1); round(-1) }, hot.warmup())

  override def slice(): Unit = hot.round(0)

  def round(i: Int): Unit = {
    val d = gen.drop(drop)
    client.current = d
    val clock = Clock.fixed(Instant.ofEpochSecond(gen.epochOf(drop)),
      ZoneOffset.UTC)
    drop += 1
    val out =
      if (run.traced) run.op("drop")(tracedDrop(clock))
      else run.op("drop") {
        val rep = BikePipeline.run(spark, client, lake, clock, retry)
        (rep.servedCount, rep.kmeansRows,
          rep.steps.map(_.attempts - 1).sum)
      }
    out.foreach { case (served, kmRows, retries) =>
      run.named("pipeline_retries") =
        run.named.getOrElse("pipeline_retries", 0).asInstanceOf[Int] + retries
      run.check(served.contains(d.enrichedRows),
        s"drop $drop served $served rows, generated ${d.enrichedRows}")
      run.check(kmRows == d.windowRows,
        s"drop $drop clustered $kmRows rows, window holds ${d.windowRows}")
      lookup(drop - 1)
    }
  }

  /** A user's read of the served index: ten ids of the drop just served
    * (five stations, five bikes), each of which must come back once. */
  private def lookup(d: Int): Unit = {
    val r = Gen.rng(run.seed, 60000L + d)
    val want = (Seq.fill(5)("velib" -> gen.stationId(r.nextInt(gen.stations))) ++
      Seq.fill(5)("lime" -> gen.bikeId(d, r.nextInt(gen.bikes)))).distinct
    run.op("lookup")(run.call("serving", "lookup") {
      spark.read.parquet(s"$lake/serving/all_bike_data")
        .filter(col("id").isin(want.map(_._2): _*))
        .select("provider", "id").collect()
    }).foreach { rows =>
      val got = rows.map(x => x.getString(0) -> x.getString(1)).toSeq
      run.check(got.sorted == want.sorted,
        s"drop ${d + 1}: served-index lookup of ${want.size} ids returned " +
          s"${got.size} rows, ${got.distinct.intersect(want).size} of them probed")
    }
  }

  private var tracedRetries = 0

  /** [[BikePipeline.run]]'s retry rule, counted: attempts beyond the
    * first land in `pipeline.retries`. */
  private def attempt[T](body: => T): T = {
    var tries = 0
    while (true) {
      try return body
      catch {
        case e: WeightedKMeans.EmptyWindowException => throw e
        case e: Throwable if tries < retry.retries =>
          tries += 1; tracedRetries += 1
          System.err.println(s"[perfbench] retry after ${e.getMessage}")
      }
    }
    throw new IllegalStateException
  }

  /** The DAG steps in order, each in its own span. Quality-gate failure
    * raises out of [[Enriched.runStage]], failing the drop. */
  private def tracedDrop(clock: Clock): (Option[Long], Long, Int) = {
    val before = tracedRetries
    def branch(feed: Feed, m: String,
               f: (org.apache.spark.sql.SparkSession, String, String) => String) = {
      val raw = attempt(run.call("pipeline", "ingest")(
        Ingest.fetchStore(client, feed, lake, clock)))
      attempt(run.call("bike", m)(f(spark, raw, lake)))
    }
    val ss = branch(Feed.VelibSs, "ss", BikeJobs.runSs)
    val si = branch(Feed.VelibSi, "si", BikeJobs.runSi)
    val lime = branch(Feed.LimeFbs, "lime", BikeJobs.runLime)
    val enriched = attempt(run.call("enriched", "stage")(
      Enriched.runStage(spark.read.parquet(ss), spark.read.parquet(si),
        spark.read.parquet(lime), lake)))
    val served = attempt(run.call("serving", "index")(
      Serving.indexJob(spark, lake,
        ParquetSink(s"$lake/serving/all_bike_data"))))
    val rows = attempt(run.call("ml", "kmeans") {
      val end = Timestamp.from(clock.instant())
      val start = Timestamp.from(clock.instant().minusSeconds(90 * 60))
      val (result, model) = WeightedKMeans.run(
        spark.read.schema(BikeSchemas.enriched).parquet(enriched),
        start, end, WeightedKMeans.Params())
      val out = s"$lake/usage/kmeans_results/"
      result.write.mode("overwrite").parquet(out)
      run.calls.getOrElseUpdate("ml.kmeans_iters",
        scala.collection.mutable.ArrayBuffer.empty) +=
        model.summary.numIter.toDouble
      spark.read.parquet(out).count()
    })
    (served, rows, tracedRetries - before)
  }

  override def layerMetrics: Map[String, Double] = Map(
    "pipeline.ingest_ms" -> run.callMedian("pipeline.ingest"),
    "pipeline.retries" -> tracedRetries.toDouble,
    "bike.ss_ms" -> run.callMedian("bike.ss"),
    "bike.si_ms" -> run.callMedian("bike.si"),
    "bike.lime_ms" -> run.callMedian("bike.lime"),
    "enriched.stage_ms" -> run.callMedian("enriched.stage"),
    "serving.index_ms" -> run.callMedian("serving.index"),
    "serving.lookup_ms" -> run.callMedian("serving.lookup"),
    "ml.kmeans_ms" -> run.callMedian("ml.kmeans"),
    "ml.kmeans_iters" -> run.callMedian("ml.kmeans_iters")) ++
    hot.layerMetrics
}

object BikeWorkload {
  /** Documents of the slice's hot corpus. */
  val HotDocs = 2000
}
