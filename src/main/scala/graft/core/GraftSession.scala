package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory for the engine.
  *
  * Mirrors the reference's session bootstrap
  * (`/root/reference/dags/lib/transform_ss_velib_with_spark.py:47-54`) but
  * Spark-native: one JVM, UTC session timezone (the reference leaves the TZ
  * unset, so its `from_unixtime` output is cluster-TZ-dependent — we pin UTC
  * and document the divergence, SURVEY.md §7.4), AQE on, shuffle partitions
  * sized to the actual parallelism instead of the 200 default.
  *
  * `spark.sql.legacy.parquet.nanosAsLong=true` is kept for input
  * compatibility: some generations of the driver test tables store
  * `events.ts` as INT64 TIMESTAMP(NANOS), which Spark 4.x otherwise
  * rejects with PARQUET_TYPE_ILLEGAL. With the flag on that column
  * surfaces as a nanosecond-epoch Long; [[Tables.normalizeEventTs]]
  * converts whichever stored shape (nanos Long, TIMESTAMP_NTZ micros,
  * TimestampType) to a session-zoned TimestampType in one place.
  *
  * At cluster scale the same builder is used minus `.master(local)` —
  * spark-submit supplies master/memory and `shuffle.partitions` should be
  * ~2-3× total executor cores (set via --conf).
  */
object GraftSession {
  /** Cap on rendered plan strings (explain / AQE plan-update events /
    * UI). Spark's default is effectively unbounded, and a deeply
    * ITERATIVE operator (PageRank supersteps, HashMin rounds) whose
    * persisted stages nest InMemoryRelations produces plan strings
    * that grow EXPONENTIALLY with depth — AQE's onUpdatePlan then
    * OOMs the driver building a string nobody reads. 1 MiB keeps
    * every human use of explain intact and bounds the waste. */
  private val PlanStringCap = (1024 * 1024).toString

  /** Sample points per output partition of a range exchange
    * (`repartitionByRange`, the clustered writes, global sorts). Spark
    * seeds the sample from the RDD id, so a sampled bound depends on how
    * many RDDs the JVM made before. Spark's default of 100 samples every
    * row only of inputs up to 300 rows per output partition; 1,000
    * raises that to 3,000, so a clustered write of a small table gets
    * exact, reproducible file ranges. Larger inputs are still sampled. */
  private val RangeSamplePoints = "1000"

  /** Number of local cores: SPARK_GRAFT_CPUS env, else all available. */
  def defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())

  def local(cores: Int = defaultCores,
            appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.maxPlanStringLength", PlanStringCap)
      .config("spark.sql.execution.rangeExchange.sampleSizePerPartition",
        RangeSamplePoints)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Object-store access surface, mirroring the reference's per-job S3A
    * injection (`transform_ss_velib_with_spark.py:47-54`: access/secret
    * key from the connection store, endpoint, S3A filesystem impl).
    * Endpoint and credentials come from the caller's config — never
    * hardcoded here. */
  final case class S3aConf(endpoint: String, accessKey: String,
                           secretKey: String, pathStyleAccess: Boolean = false)

  def s3aConfMap(c: S3aConf): Map[String, String] = Map(
    "spark.hadoop.fs.s3a.endpoint" -> c.endpoint,
    "spark.hadoop.fs.s3a.access.key" -> c.accessKey,
    "spark.hadoop.fs.s3a.secret.key" -> c.secretKey,
    "spark.hadoop.fs.s3a.path.style.access" -> c.pathStyleAccess.toString,
    "spark.hadoop.fs.s3.impl" -> "org.apache.hadoop.fs.s3a.S3AFileSystem",
    "spark.hadoop.fs.s3a.aws.credentials.provider" ->
      "org.apache.hadoop.fs.s3a.SimpleAWSCredentialsProvider")

  /** Cluster-mode session: spark-submit supplies master/deploy-mode/
    * memory; this applies the engine confs (UTC session TZ, AQE, parquet
    * nanos, plan extensions) plus the optional S3A surface.
    * `shufflePartitions` should be ~2-3× total executor cores — there is
    * no universal default at cluster scale, so it is an explicit knob
    * here rather than the local builder's cores-count heuristic. */
  def cluster(appName: String = "graft",
              s3a: Option[S3aConf] = None,
              shufflePartitions: Option[Int] = None): SparkSession = {
    val b = SparkSession.builder()
      .appName(appName)
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.maxPlanStringLength", PlanStringCap)
      .config("spark.sql.execution.rangeExchange.sampleSizePerPartition",
        RangeSamplePoints)
    shufflePartitions.foreach(n =>
      b.config("spark.sql.shuffle.partitions", n.toString))
    s3a.map(s3aConfMap).getOrElse(Map.empty)
      .foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
