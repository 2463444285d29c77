package graft.serving

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Serving layer — the reference's `index_to_elastic` job re-expressed
  * behind a pluggable [[Sink]] (SURVEY §2.1 S6/S8/S9/S11;
  * `/root/reference/dags/lib/index_to_elastic_with_spark.py:96-155`).
  *
  * The contract to preserve is keyed upsert: every document carries
  * `id_concat = id + "_" + time` as its identity, so re-serving the same
  * window is idempotent. The concrete sink (Elasticsearch in the
  * reference; parquet/console for offline runs) is an implementation
  * detail behind the trait.
  */
trait Sink {
  def write(df: DataFrame): Unit

  /** S11 — post-write count verification (the reference's `match_all`
    * REST count, `index_to_elastic_with_spark.py:40-68`): the count comes
    * back from what the sink committed, not from the frame it was handed.
    * None when the sink cannot count (console). */
  def verifiedCount(spark: SparkSession): Option[Long]
}

final case class ParquetSink(path: String) extends Sink {
  def write(df: DataFrame): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** S11 as a footer count: see [[ParquetSink.rowCount]]. */
  def verifiedCount(spark: SparkSession): Option[Long] =
    Some(ParquetSink.rowCount(spark, path))
}

object ParquetSink {

  /** Rows in the parquet data under `dir`, summed from each file's footer
    * on the driver — no Spark job. This is the same verification as
    * `spark.read.parquet(dir).count()`: that count also answers from the
    * row groups' row counts (no column is required, so the reader decodes
    * no page), and it also reads the committed files back from storage.
    * The listing follows Spark's file index: names starting with `_`
    * (unless they hold a `=`, a partition directory) or `.` are skipped
    * — `_SUCCESS`, `.crc` checksums, `_temporary` — and subdirectories
    * are walked. A missing `dir` raises, as the read would. */
  def rowCount(spark: SparkSession, dir: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    def dataFiles(p: Path): Iterator[FileStatus] =
      fs.listStatus(p).iterator.filterNot(s => hidden(s.getPath.getName))
        .flatMap(s => if (s.isDirectory) dataFiles(s.getPath) else Iterator(s))
    dataFiles(root).map { status =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(status, conf))
      try reader.getRecordCount finally reader.close()
    }.sum
  }

  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")
}

final case class ConsoleSink(numRows: Int = 20) extends Sink {
  def write(df: DataFrame): Unit = df.show(numRows, truncate = false)
  def verifiedCount(spark: SparkSession): Option[Long] = None
}

/** S8 — the reference's ES write (`index_to_elastic_with_spark.py:139-150`),
  * two transports behind one contract:
  *
  *   - the es-hadoop connector, option-for-option
  *     (`org.elasticsearch.spark.sql`), used when its jar is on the
  *     classpath (it is not in this offline image);
  *   - a native REST `_bulk` fallback otherwise — each partition streams
  *     its rows as NDJSON index actions with `_id` taken from `mappingId`,
  *     which is exactly the connector's `es.mapping.id` keyed-upsert
  *     semantics. No driver collect; one HTTP round-trip per
  *     `bulkBatchSize` docs per partition.
  *
  * Both transports preserve the contract that matters: re-serving the
  * same window is idempotent because document identity is `id_concat`. */
final case class ElasticsearchSink(nodes: String, port: Int, user: String,
                                   password: String, index: String,
                                   mappingId: String = "id_concat",
                                   wanOnly: Boolean = true,
                                   autoCreate: Boolean = false,
                                   bulkBatchSize: Int = 500) extends Sink {
  val format = "org.elasticsearch.spark.sql"

  def options: Map[String, String] = Map(
    "es.nodes" -> nodes,
    "es.port" -> port.toString,
    "es.net.http.auth.user" -> user,
    "es.net.http.auth.pass" -> password,
    "es.nodes.wan.only" -> wanOnly.toString,
    "es.resource" -> index,
    "es.mapping.id" -> mappingId,
    "es.index.auto.create" -> autoCreate.toString)

  def connectorAvailable: Boolean =
    scala.util.Try(Class.forName(s"$format.DefaultSource15")).isSuccess ||
      scala.util.Try(Class.forName(s"$format.DefaultSource")).isSuccess

  private def firstNode: String = nodes.split(',').head.trim
  private def authHeader: String = "Basic " +
    java.util.Base64.getEncoder.encodeToString(
      s"$user:$password".getBytes("UTF-8"))

  def write(df: DataFrame): Unit =
    if (connectorAvailable)
      df.write.format(format).options(options).mode(SaveMode.Overwrite).save()
    else restBulkWrite(df)

  /** The native REST transport. Rows with a null `mappingId` get an
    * ES-assigned id (a create, not an upsert) — identity is undefined for
    * them, faithfully to the reference's null-key rows. */
  def restBulkWrite(df: DataFrame): Unit = {
    val url = s"http://$firstNode:$port/$index/_bulk"
    val auth = authHeader
    val batchSize = bulkBatchSize
    val payload = df.select(
      col(mappingId).cast("string").as("_id"),
      to_json(struct(df.columns.map(col).toIndexedSeq: _*)).as("_doc"))
    payload.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      rows.grouped(batchSize).foreach { batch =>
        val body = batch.iterator.map { r =>
          val action =
            if (r.isNullAt(0)) """{"index":{}}"""
            else s"""{"index":{"_id":${EsRest.jsonString(r.getString(0))}}}"""
          action + "\n" + r.getString(1)
        }.mkString("", "\n", "\n")
        EsRest.post(url, auth, body)
      }
    }
  }

  def verifiedCount(spark: SparkSession): Option[Long] =
    if (connectorAvailable)
      Some(spark.read.format(format).options(options).load(index).count())
    else EsRest.count(s"http://$firstNode:$port/$index/_count", authHeader)
}

/** Minimal HTTP plumbing for the REST transport — JDK-only (the offline
  * image ships no HTTP client deps). */
private[serving] object EsRest {

  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** POST the bulk body; non-2xx or `"errors":true` in the response fails
    * the task (Spark's task retry is the retry policy). */
  def post(url: String, auth: String, body: String): Unit = {
    val conn = new java.net.URL(url).openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    conn.setConnectTimeout(5000)
    conn.setReadTimeout(60000)
    conn.setRequestMethod("POST")
    conn.setRequestProperty("Content-Type", "application/x-ndjson")
    conn.setRequestProperty("Authorization", auth)
    conn.setDoOutput(true)
    val out = conn.getOutputStream
    try out.write(body.getBytes("UTF-8")) finally out.close()
    val code = conn.getResponseCode
    // getErrorStream is null when the error response has no body — a
    // 401 with an empty body must surface as the HTTP failure below,
    // not as an NPE that masks it
    val stream = if (code < 400) conn.getInputStream else conn.getErrorStream
    val resp =
      if (stream == null) ""
      else scala.io.Source.fromInputStream(stream).mkString
    conn.disconnect()
    if (code < 200 || code >= 300)
      throw new java.io.IOException(s"bulk write to $url failed: HTTP $code $resp")
    if (resp.contains("\"errors\":true"))
      throw new java.io.IOException(s"bulk write to $url had item errors: $resp")
  }

  /** GET `_count`; None when the cluster is unreachable (count
    * verification is a health signal, not a correctness gate). */
  def count(url: String, auth: String): Option[Long] =
    try {
      val conn = new java.net.URL(url).openConnection()
        .asInstanceOf[java.net.HttpURLConnection]
      conn.setConnectTimeout(5000)
      conn.setReadTimeout(30000)
      conn.setRequestProperty("Authorization", auth)
      val resp = scala.io.Source.fromInputStream(conn.getInputStream).mkString
      conn.disconnect()
      "\"count\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(resp).map(_.group(1).toLong)
    } catch { case _: java.io.IOException => None }
}

object Serving {

  /** F5/F7/P3 — serving projection: identity key, GeoJSON-ordered
    * `[lon, lat]` location array, raw geo columns dropped
    * (`index_to_elastic_with_spark.py:133-136`). */
  def prepare(enriched: DataFrame): DataFrame =
    enriched
      .withColumn("id_concat",
        concat(col("id"), lit("_"), col("time").cast("string")))
      .withColumn("location", array(col("lon"), col("lat")))
      .drop("lat", "lon")

  /** S9 — immediate-subdirectory listing via the Hadoop FS API (the
    * reference lists with a boto3 `Delimiter="/"` call,
    * `index_to_elastic_with_spark.py:16-38`). */
  def listSubfolders(spark: SparkSession, dir: String): Seq[String] = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) Seq.empty
    else fs.listStatus(path).filter(_.isDirectory)
      .map(_.getPath.toString).sorted.toSeq
  }

  /** The reference's pick-first semantics ("there is only one"), kept
    * faithfully but with a warning when the assumption is violated. */
  def pickFirst(subfolders: Seq[String], prefix: String): String = {
    if (subfolders.isEmpty)
      throw new IllegalStateException(s"No subfolders found in $prefix")
    if (subfolders.length > 1)
      System.err.println(s"[serving] WARNING: ${subfolders.length} " +
        s"subfolders under $prefix; picking first (${subfolders.head})")
    subfolders.head
  }

  /** The full serving job: discover the enriched drop (S9), read it with
    * the declared schema (S6), project to serving shape, write through the
    * sink (S8), verify the count (S11). Returns the verified count. */
  def indexJob(spark: SparkSession, lakeRoot: String, sink: Sink): Option[Long] = {
    val prefix = s"$lakeRoot/${graft.enriched.Enriched.EnrichedVelibLime}"
    val folder = pickFirst(listSubfolders(spark, prefix), prefix)
    val enriched = spark.read.schema(graft.bike.BikeSchemas.enriched)
      .parquet(folder)
    sink.write(prepare(enriched))
    val n = sink.verifiedCount(spark)
    n.foreach(c => println(s"[serving] total documents indexed: $c"))
    n
  }
}

/** S10 — debug parquet reader CLI (the reference's pandas inspection
  * script, `/root/reference/test/lire_donnees_parquet.py`). */
object DebugReader {
  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: DebugReader <parquet path>")
    val spark = graft.core.GraftSession.local(appName = "graft-debug-reader")
    val df = spark.read.parquet(args(0))
    df.printSchema()
    df.show(10, truncate = false)
    println(s"rows: ${df.count()}")
    spark.stop()
  }
}
