package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException, Trigger}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** The "offsets are versions" stream contract, pinned once per format
  * (`graft-lake`, `graft-delta`, `graft-iceberg`): start positions, the
  * per-trigger cap splitting an AvailableNow run, the lag metric, a
  * restart that resumes without re-emitting, and the named rewrite
  * refusal with its `ignoreChanges` opt-in. Each format keeps its own
  * option spellings and its own numeric-start rule (inclusive version
  * for the lake and Delta, exclusive snapshot id for Iceberg). A
  * commit the stream cannot read fails the query; it never streams as
  * an empty batch. */
class StreamContractSpec extends AnyFunSuite with Matchers with SparkSpec {

  private def freshDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def rows(n: Range): DataFrame = {
    import spark.implicits._
    n.map(i => (i.toLong, s"payload_$i")).toDF("id", "payload")
  }

  /** One format under the contract. `append`/`overwrite` commit and
    * return the new head position; `startAt(prev, next)` is the start
    * option value that streams from `next` on, given the position
    * `prev` committed just before it. */
  private case class Fmt(name: String, startKey: String, capKey: String,
                         lagMetric: String,
                         append: (DataFrame, String) => Long,
                         overwrite: (DataFrame, String) => Long,
                         startAt: (Long, Long) => String)

  private val formats = Seq(
    Fmt("graft-lake", "startingVersion", "maxVersionsPerTrigger",
      "versionsBehind",
      (df, t) => { ManifestLake.write(df, t)
        ManifestLake.currentVersion(spark, t).get },
      (df, t) => { ManifestLake.write(df, t, append = false)
        ManifestLake.currentVersion(spark, t).get },
      (_, next) => next.toString),
    Fmt("graft-delta", "startingVersion", "maxVersionsPerTrigger",
      "versionsBehind",
      (df, t) => { DeltaInterop.write(df, t)
        DeltaInterop.currentVersion(spark, t).get },
      (df, t) => { DeltaInterop.write(df, t, overwrite = true)
        DeltaInterop.currentVersion(spark, t).get },
      (_, next) => next.toString),
    Fmt("graft-iceberg", "startingSnapshot", "maxSnapshotsPerTrigger",
      "snapshotsBehind",
      (df, t) => IcebergInterop.write(df, t),
      (df, t) => IcebergInterop.write(df, t, overwrite = true),
      (prev, _) => prev.toString))

  /** Run the stream to the end of its log (AvailableNow) through a
    * foreachBatch collector; returns the query and each data batch's
    * ids in order. */
  private def run(f: Fmt, table: String, checkpoint: String,
                  options: Map[String, String] = Map.empty)
      : (StreamingQuery, Seq[Seq[Long]]) = {
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Long]]()
    val q = spark.readStream.format(f.name).options(options).load(table)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val ids = batch.select("id").collect().map(_.getLong(0)).toSeq
        if (ids.nonEmpty) batches.add(ids); ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    (q, batches.asScala.toSeq)
  }

  private def ids(f: Fmt, table: String, checkpoint: String,
                  options: Map[String, String] = Map.empty): Seq[Long] =
    run(f, table, checkpoint, options)._2.flatten

  for (f <- formats) {
    test(s"${f.name}: earliest replays every commit, a numeric start " +
      "streams from its commit on, latest skips history") {
      val t = freshDir("graft-contract") + "/t"
      val p1 = f.append(rows(1 to 10), t)
      val p2 = f.append(rows(11 to 20), t)
      f.append(rows(21 to 30), t)
      ids(f, t, freshDir("ck")).sorted shouldBe (1L to 30L)
      ids(f, t, freshDir("ck"), Map(f.startKey -> f.startAt(p1, p2)))
        .sorted shouldBe (11L to 30L)
      ids(f, t, freshDir("ck"), Map(f.startKey -> "latest")) shouldBe empty
    }

    test(s"${f.name}: ${f.capKey} splits an AvailableNow run into " +
      s"several batches, and ${f.lagMetric} counts what is left") {
      val t = freshDir("graft-contract") + "/t"
      (0 until 5).foreach(i => f.append(rows(i * 10 + 1 to i * 10 + 10), t))
      val (q, batches) = run(f, t, freshDir("ck"), Map(f.capKey -> "2"))
      // 5 commits at <= 2 per trigger: batches of 20, 20 and 10 rows
      batches.map(_.size) shouldBe Seq(20, 20, 10)
      batches.flatten.sorted shouldBe (1L to 50L)
      val lags = q.recentProgress.filter(_.numInputRows > 0)
        .map(_.sources.head.metrics.get(f.lagMetric))
      lags.toSeq shouldBe Seq("3", "1", "0")
    }

    test(s"${f.name}: a restart resumes from the checkpoint without " +
      "re-emitting") {
      val t = freshDir("graft-contract") + "/t"
      val ck = freshDir("ck")
      f.append(rows(1 to 10), t)
      f.append(rows(11 to 20), t)
      ids(f, t, ck).sorted shouldBe (1L to 20L)
      ids(f, t, ck) shouldBe empty
      f.append(rows(21 to 25), t)
      ids(f, t, ck).sorted shouldBe (21L to 25L)
    }

    test(s"${f.name}: a rewrite is refused by name unless ignoreChanges " +
      "opts into its added files") {
      val t = freshDir("graft-contract") + "/t"
      f.append(rows(1 to 10), t)
      f.overwrite(rows(101 to 105), t)
      val err = intercept[StreamingQueryException] {
        ids(f, t, freshDir("ck"))
      }
      err.getCause.getMessage should include("not incrementally streamable")
      err.getCause.getMessage should include("ignoreChanges")
      ids(f, t, freshDir("ck"), Map("ignoreChanges" -> "true"))
        .sorted shouldBe ((1L to 10L) ++ (101L to 105L))
    }
  }

  test("graft-iceberg: snapshotsBehind stays total when the consumed " +
    "snapshot is no longer in the lineage") {
    val t = freshDir("graft-contract-lag") + "/t"
    val s1 = IcebergInterop.write(rows(1 to 5), t)
    IcebergInterop.write(rows(6 to 10), t)
    val log = new IcebergStreamProvider().open(spark, t, None, Map.empty)
    log.lag(None) shouldBe 2
    log.lag(Some(s1)) shouldBe 1
    // an expired id counts the whole lineage; the named error is left
    // to the next trigger's offset planning
    log.lag(Some(-42L)) shouldBe 2
    an[IllegalArgumentException] should be thrownBy log.between(Some(-42L), None)
  }

  test("graft-iceberg: a snapshot of AVRO data files (the add_files " +
    "shape) fails the stream by name instead of committing an empty " +
    "batch") {
    val t = freshDir("graft-contract-avro") + "/t"
    val fs = new Path(t).getFileSystem(spark.sessionState.newHadoopConf())
    def parse(json: String) = new Schema.Parser().parse(json)
    def avro(rel: String, schema: Schema,
             recs: Seq[GenericRecord]): (String, Long) = {
      val p = new Path(t, rel)
      fs.mkdirs(p.getParent)
      val w = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](schema))
      w.create(schema, fs.create(p, true))
      try recs.foreach(w.append) finally w.close()
      (p.toString, fs.getFileStatus(p).getLen)
    }
    def record(schema: Schema, fields: (String, Any)*): GenericRecord = {
      val r = new GenericData.Record(schema)
      fields.foreach { case (k, v) => r.put(k, v) }
      r
    }
    val rowSchema = parse("""{"type":"record","name":"row","fields":[
      |{"name":"id","type":["null","long"],"default":null}]}""".stripMargin)
    val (data, dataLen) = avro("data/f1.avro", rowSchema,
      (1L to 5L).map(i => record(rowSchema, "id" -> i)))
    val entrySchema = parse(
      """{"type":"record","name":"manifest_entry","fields":[
        |{"name":"status","type":"int"},
        |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
        |  {"name":"file_path","type":"string"},
        |  {"name":"file_format","type":"string"},
        |  {"name":"partition","type":{"type":"record","name":"rp",
        |    "fields":[]}},
        |  {"name":"record_count","type":"long"},
        |  {"name":"file_size_in_bytes","type":"long"}
        |]}}]}""".stripMargin)
    val fileSchema = entrySchema.getField("data_file").schema()
    val (manifest, manifestLen) = avro("metadata/m1.avro", entrySchema,
      Seq(record(entrySchema, "status" -> 1, "data_file" ->
        record(fileSchema, "file_path" -> data, "file_format" -> "AVRO",
          "partition" -> record(fileSchema.getField("partition").schema()),
          "record_count" -> 5L, "file_size_in_bytes" -> dataLen))))
    val listSchema = parse(
      """{"type":"record","name":"manifest_file","fields":[
        |{"name":"manifest_path","type":"string"},
        |{"name":"manifest_length","type":"long"},
        |{"name":"partition_spec_id","type":"int"}]}""".stripMargin)
    val (list, _) = avro("metadata/snap-50.avro", listSchema,
      Seq(record(listSchema, "manifest_path" -> manifest,
        "manifest_length" -> manifestLen, "partition_spec_id" -> 0)))
    val meta = fs.create(new Path(t, "metadata/v1.metadata.json"), true)
    try meta.write(
      s"""{"format-version":1,"table-uuid":"av","location":"$t",
         |"last-updated-ms":1,"last-column-id":1,"current-schema-id":0,
         |"schemas":[{"type":"struct","schema-id":0,"fields":[
         |{"id":1,"name":"id","required":false,"type":"long"}]}],
         |"partition-specs":[{"spec-id":0,"fields":[]}],
         |"default-spec-id":0,"properties":{},"current-snapshot-id":50,
         |"snapshots":[{"snapshot-id":50,"timestamp-ms":1,
         |"summary":{"operation":"append"},
         |"manifest-list":"$list","schema-id":0}]}""".stripMargin
        .replace("\n", "").getBytes("UTF-8"))
    finally meta.close()
    // a batch read serves the rows ...
    IcebergInterop.read(spark, t).count() shouldBe 5L
    // ... and the stream refuses the snapshot rather than lose them
    val err = intercept[StreamingQueryException] {
      ids(formats.last, t, freshDir("ck"))
    }
    err.getCause.getMessage should include("AVRO")
    err.getCause.getMessage should include(t)
  }
}
