package graft.sources

import java.sql.Timestamp

import org.apache.spark.graftbridge.SparkTestBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit, rand, when}
import org.apache.spark.sql.types._
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import org.scalatest.time.{Seconds, Span}

import graft.SparkSpec

/** Pins the Spark job count and the outcome of one copy-on-write MERGE
  * on the lake, Delta and Iceberg, on the `lake_cdc` benchmark's shape:
  * a 20,000-row keyed table in 4 files and a 200-row change batch whose
  * `_op` column tags each row U (update), I (insert) or D (delete). The
  * batch is read from a parquet file, as the benchmark reads it; its
  * schema job runs before the counted job group. The Delta commit's
  * `operationMetrics` and the Iceberg snapshot summary are pinned too.
  * Also pins the job counts of the merge-on-read commits the benchmark
  * runs beside the MERGE (update, delete, append), the duplicate-key
  * refusal, the no-op MERGE and a nondeterministic source. */
class MergeJobsSpec extends AnyFunSuite with Matchers with SparkSpec
    with TimeLimits {

  private implicit val signaler: Signaler = ThreadSignaler

  private val Rows = 20000

  private val schema = StructType(Seq(
    StructField("key", LongType, nullable = false),
    StructField("provider", StringType), StructField("id", StringType),
    StructField("time", TimestampType), StructField("lat", FloatType),
    StructField("lon", FloatType), StructField("num_bikes", IntegerType),
    StructField("num_docks", IntegerType)))

  private def row(k: Long, v: Int): Row = Row(k, "p" + (k % 3), "s" + k,
    new Timestamp(1700000000000L + k * 1000L), (k % 90).toFloat,
    (k % 180).toFloat, v, if (k % 5 == 0) null else Int.box(v * 2))

  /** Keys 0 until 20,000 in 4 files of contiguous key ranges. */
  private def initial: DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize((0L until Rows).map(k => row(k, 1)), 4),
    schema)

  /** The change batch: 100 updates and 50 deletes of keys in the first
    * three files (the fourth file holds keys 15,000 and up) and 50 new
    * keys, written as one parquet file and read back. */
  private def batch(dir: String): DataFrame = {
    val upd = (0L until 100L).map(i => i * 149 % 15000)
    val del = (0L until 50L).map(i => 7 + i * 293 % 15000)
      .filterNot(upd.contains)
    require(del.size == 50 && (upd ++ del).distinct.size == 150)
    val ins = (0L until 50L).map(i => Rows + 1000 + i)
    val nulls = Row.fromSeq(Seq.fill(schema.size - 1)(null))
    val rows = upd.map(k => Row.fromSeq(row(k, 7).toSeq :+ "U")) ++
      ins.map(k => Row.fromSeq(row(k, 9).toSeq :+ "I")) ++
      del.map(k => Row.fromSeq((k +: nulls.toSeq) :+ "D"))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      schema.add("_op", StringType))
    df.write.parquet(dir)
    spark.read.parquet(dir)
  }

  private val matchedClauses = Seq(
    ManifestLake.MergeDelete(Some(ManifestLake.mergeSrcCol("_op") === "D")),
    ManifestLake.MergeUpdate())
  private val insertClauses = Seq(
    ManifestLake.MergeInsert(Some(ManifestLake.mergeSrcCol("_op") =!= "D")))

  private def fresh(): String =
    java.nio.file.Files.createTempDirectory("graft-mergejobs").toString

  /** One keyed table in each format. */
  private trait Fmt {
    def name: String
    def table: String
    def create(df: DataFrame = initial): Unit
    def version(): Long
    /** (rowsAffected, rewritten files); the lake reports no row count. */
    def merge(src: DataFrame): (Option[Long], Int)
    def count(): Long
    /** Change-feed rows of version `v`, or None without a change feed. */
    def changes(v: Long): Option[DataFrame]
    /** The commit metrics the newest version records, if the format
      * records any. */
    def metrics(): Option[Map[String, String]] = None
    def updateMor(pred: Column): Unit
    def deleteMor(pred: Column): Unit
    def append(df: DataFrame): Unit
  }

  private final class Lake(val table: String) extends Fmt {
    val name = "lake"
    def create(df: DataFrame): Unit = ManifestLake.write(df, table,
      append = false, statsCol = Some("key")): Unit
    def version(): Long = ManifestLake.currentVersion(spark, table).get
    def merge(src: DataFrame): (Option[Long], Int) = {
      val v = ManifestLake.mergeApply(src, table, Seq("key"), matchedClauses,
        insertClauses, recordChangeFeed = true)
      val removed = ManifestLake.changesBetween(spark, table, v - 1, v)
        .flatMap(_.removed).size
      (None, removed)
    }
    def count(): Long = ManifestLake.read(spark, table).count()
    def changes(v: Long): Option[DataFrame] =
      Some(ManifestLake.changeFeed(spark, table, v - 1, v))
    def updateMor(pred: Column): Unit = ManifestLake.updateMor(spark, table,
      pred, Seq("num_bikes" -> lit(3)), recordChangeFeed = true): Unit
    def deleteMor(pred: Column): Unit =
      ManifestLake.deleteMor(spark, table, pred, recordChangeFeed = true): Unit
    def append(df: DataFrame): Unit = ManifestLake.write(df, table): Unit
  }

  private final class Delta(val table: String) extends Fmt {
    val name = "delta"
    def create(df: DataFrame): Unit = {
      DeltaInterop.write(df, table)
      DeltaInterop.enableChangeDataFeed(spark, table): Unit
    }
    def version(): Long = DeltaInterop.currentVersion(spark, table).get
    def merge(src: DataFrame): (Option[Long], Int) = {
      val r = DeltaInterop.mergeApply(src, table, Seq("key"), matchedClauses,
        insertClauses)
      (Some(r.rowsAffected), r.filesTouched)
    }
    def count(): Long = DeltaInterop.read(spark, table).count()
    def changes(v: Long): Option[DataFrame] =
      Some(DeltaInterop.changeFeed(spark, table, v, v))
    override def metrics(): Option[Map[String, String]] = {
      import org.json4s._
      val log = java.nio.file.Paths.get(table, "_delta_log",
        f"${version()}%020d.json")
      java.nio.file.Files.readAllLines(log).toArray.map(_.toString)
        .map(org.json4s.jackson.JsonMethods.parse(_) \ "commitInfo")
        .collectFirst { case ci: JObject => ci \ "operationMetrics" }
        .collect { case JObject(kvs) =>
          kvs.collect { case (k, JString(v)) => k -> v }.toMap }
    }
    def updateMor(pred: Column): Unit = DeltaInterop.updateMor(spark, table,
      pred, Seq("num_bikes" -> lit(3))): Unit
    def deleteMor(pred: Column): Unit =
      DeltaInterop.delete(spark, table, pred): Unit
    def append(df: DataFrame): Unit = DeltaInterop.write(df, table): Unit
  }

  private final class Iceberg(val table: String) extends Fmt {
    val name = "iceberg"
    def create(df: DataFrame): Unit = {
      IcebergInterop.write(df, table)
      IcebergInterop.upgradeFormat(spark, table, 2): Unit
    }
    def version(): Long = IcebergInterop.snapshotLineage(spark, table).last
    def merge(src: DataFrame): (Option[Long], Int) = {
      val r = IcebergInterop.mergeApply(src, table, Seq("key"),
        matchedClauses, insertClauses)
      (Some(r.rowsAffected), r.filesTouched)
    }
    def count(): Long = IcebergInterop.read(spark, table).count()
    def changes(v: Long): Option[DataFrame] = None
    override def metrics(): Option[Map[String, String]] =
      IcebergInterop.snapshotsTable(spark, table)
        .filter(col("is_current")).select("summary").collect()
        .headOption.map(_.getMap[String, String](0).toMap)
    def updateMor(pred: Column): Unit = IcebergInterop.updateMor(spark,
      table, pred, Seq("num_bikes" -> lit(3))): Unit
    def deleteMor(pred: Column): Unit =
      IcebergInterop.deleteMor(spark, table, pred): Unit
    def append(df: DataFrame): Unit = IcebergInterop.write(df, table): Unit
  }

  private def formats(dir: String): Seq[Fmt] = Seq(new Lake(s"$dir/lake"),
    new Delta(s"$dir/delta"), new Iceberg(s"$dir/iceberg"))

  /** The Spark jobs `body` launches, counted by job group. Prints them
    * grouped by the engine line whose query launched them. */
  private def jobsOf[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.SparkListenerEvent
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val sc = spark.sparkContext
    val group = "merge-jobs-" + java.util.UUID.randomUUID()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val sites = new java.util.concurrent.ConcurrentHashMap[String, String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.jobGroup.id") == group))
          jobs.add(Option(e.properties.getProperty("spark.sql.execution.id"))
            .getOrElse("-")): Unit
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          s.details.linesIterator.map(_.trim)
            .find(l => l.startsWith("graft.sources.") &&
              !l.contains("MergeJobsSpec"))
            .foreach(l => sites.put(s.executionId.toString,
              l.substring(l.lastIndexOf('(') + 1).stripSuffix(")")))
        case _ => ()
      }
    }
    SparkTestBridge.drainListeners(sc)
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "MergeJobsSpec")
      val out = try body finally sc.clearJobGroup()
      SparkTestBridge.drainListeners(sc)
      import scala.jdk.CollectionConverters._
      val ids = jobs.asScala.toSeq
      info(ids.distinct.map(id => s"${sites.getOrDefault(id, "?")} x" +
        ids.count(_ == id)).mkString("jobs by query: ", ", ", ""))
      (out, ids.size)
    } finally sc.removeSparkListener(listener)
  }

  // three passes: one source-key job, the probe's broadcast and file
  // collect, the rewrite's two broadcasts and its write (plus the
  // change-feed write on the lake and Delta, and Delta's 2-job write
  // gate). Before the three-pass rewrite: 16, 26 and 18.
  private val cowJobs = Map("lake" -> 7, "delta" -> 9, "iceberg" -> 6)
  private val morJobs = Map(
    "lake" -> (7, 7, 1), "delta" -> (7, 3, 2), "iceberg" -> (5, 4, 1))

  // 3 of the 4 files rewrite: 15,000 rows, of which 100 update, 50
  // delete and 14,850 carry; 50 inserts land in a file of their own
  private val cowMetrics = Map(
    "delta" -> Map("numSourceRows" -> "200",
      "numTargetRowsInserted" -> "50", "numTargetRowsUpdated" -> "100",
      "numTargetRowsDeleted" -> "50", "numTargetRowsCopied" -> "14850",
      "numTargetFilesAdded" -> "4", "numTargetFilesRemoved" -> "3"),
    "iceberg" -> Map("operation" -> "overwrite",
      "added-data-files" -> "4", "deleted-data-files" -> "3",
      "added-records" -> "15000", "deleted-records" -> "15000"))

  test("one copy-on-write MERGE: exact job count, rows, rewritten files, " +
    "change-feed rows and commit metrics on every format") {
    val dir = fresh()
    val src = batch(s"$dir/batch")
    for (f <- formats(dir)) {
      f.create()
      val before = f.version()
      val ((affected, rewritten), jobs) = jobsOf(f.merge(src))
      info(s"${f.name}: $jobs Spark jobs")
      jobs shouldBe cowJobs(f.name)
      affected.foreach(_ shouldBe 200L)
      rewritten shouldBe 3
      f.count() shouldBe Rows.toLong
      f.version() should not be before
      f.metrics() shouldBe cowMetrics.get(f.name)
      f.changes(f.version()).foreach { cdf =>
        val byType = cdf.groupBy("_change_type").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        info(s"${f.name} change feed: $byType")
        if (f.name == "delta")
          byType shouldBe Map("update_preimage" -> 100L,
            "update_postimage" -> 100L, "delete" -> 50L, "insert" -> 50L)
        else byType shouldBe Map("delete" -> 150L, "insert" -> 150L)
      }
    }
  }

  test("merge-on-read update, delete and append keep their job counts") {
    val dir = fresh()
    val keys = (0L until 50L).map(_ * 311)
    val gone = (0L until 50L).map(_ * 311 + 5)
    val extra = spark.createDataFrame(spark.sparkContext.parallelize(
      (0L until 50L).map(k => row(Rows + 5000 + k, 4)), 1), schema)
    for (f <- formats(dir)) {
      f.create()
      val (_, upd) = jobsOf(f.updateMor(col("key").isin(keys: _*)))
      val (_, del) = jobsOf(f.deleteMor(col("key").isin(gone: _*)))
      val (_, app) = jobsOf(f.append(extra))
      info(s"${f.name}: update $upd, delete $del, append $app Spark jobs")
      (upd, del, app) shouldBe morJobs(f.name)
      f.count() shouldBe Rows.toLong
    }
  }

  test("duplicate source keys raise each format's message") {
    val dir = fresh()
    val dup = spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(row(5, 1), row(5, 2), row(6, 1)), 1), schema)
      .withColumn("_op", lit("U"))
    val messages = Map(
      "lake" -> "mergeApply source contains duplicate keys (e.g. [5])",
      "delta" -> "MERGE source has duplicate key rows on (key)",
      "iceberg" -> "MERGE source has duplicate key rows on (key)")
    for (f <- formats(dir)) {
      f.create()
      val before = f.version()
      val e = intercept[IllegalArgumentException](f.merge(dup))
      e.getMessage should include(messages(f.name))
      f.version() shouldBe before
    }
  }

  test("a MERGE where no key matches and no insert fires publishes " +
    "no version and returns") {
    val dir = fresh()
    // deletes of keys the table does not hold: the delete clause finds no
    // target row and the insert clause refuses D rows
    val none = spark.createDataFrame(spark.sparkContext.parallelize(
      (0L until 20L).map(k => row(Rows + 100 + k, 1)), 1), schema)
      .withColumn("_op", lit("D"))
    for (f <- formats(dir)) {
      f.create()
      val before = f.version()
      val (affected, rewritten) =
        failAfter(Span(120, Seconds))(f.merge(none))
      affected.foreach(_ shouldBe 0L)
      rewritten shouldBe 0
      f.version() shouldBe before
      f.count() shouldBe Rows.toLong
    }
  }

  test("a MERGE from a nondeterministic source commits rows equal to its " +
    "own change-feed images") {
    val dir = fresh()
    // 100 updates of existing keys and 100 candidate inserts whose
    // values and insert verdicts come from rand()
    val keys = spark.range(0, 100).union(spark.range(40000, 40100))
      .repartition(3)
    val src = keys.select(col("id").as("key"),
      (rand() * 1e6).cast("int").as("num_bikes"),
      when(col("id") < Rows, lit("U"))
        .when(rand() < 0.5, lit("I")).otherwise(lit("D")).as("_op"))
    for (f <- formats(dir)) {
      f.create()
      val (affected, _) = f.merge(src)
      val landed = (f match {
        case l: Lake => ManifestLake.read(spark, l.table)
        case d: Delta => DeltaInterop.read(spark, d.table)
        case i: Iceberg => IcebergInterop.read(spark, i.table)
      }).filter(col("key") < 100 || col("key") >= 40000)
        .select("key", "num_bikes").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      val inserted = landed.keys.count(_ >= 40000)
      affected.foreach(_ shouldBe (100L + inserted))
      landed.size shouldBe (100 + inserted)
      f.changes(f.version()).foreach { cdf =>
        val post = cdf.filter(col("_change_type").isin("insert",
            "update_postimage"))
          .select("key", "num_bikes").collect()
          .map(r => r.getLong(0) -> r.getInt(1)).toMap
        post shouldBe landed
      }
    }
  }

  test("the source summary groups keys as groupBy does: nested floats, " +
    "collated strings") {
    import org.apache.spark.sql.functions.{count, struct}
    val negZero = -0.0
    val otherNaN = java.lang.Double.longBitsToDouble(0x7ff8000000000001L)
    val nested = spark.createDataFrame(Seq((0.0, 1), (negZero, 2),
        (Double.NaN, 3), (otherNaN, 4), (1.5, 5)))
      .select(struct(col("_1").as("d")).as("k"), col("_2").as("v"))
    val collated = spark.sql("SELECT collate(c, 'UTF8_LCASE') AS k, 1 AS v " +
      "FROM VALUES ('a'), ('A'), ('b') AS t(c)")
    val distinct = spark.createDataFrame(Seq((3L, 1), (1L, 2), (2L, 3)))
      .toDF("k", "v")
    for ((src, dup) <- Seq(nested -> true, collated -> true,
        distinct -> false)) {
      src.groupBy("k").agg(count(lit(1)).as("n")).filter(col("n") > 1)
        .isEmpty shouldBe !dup
      val stmt = new MergeClauses.Statement(src)
      try {
        val summary = MergeClauses.summarize(stmt, Seq("k"))
        summary.duplicate.isDefined shouldBe dup
        summary.rows shouldBe src.count()
      } finally stmt.release()
    }
    val stmt = new MergeClauses.Statement(distinct)
    try MergeClauses.summarize(stmt, Seq("k")).bounds shouldBe
      Map("k" -> Some(("1", "3")))
    finally stmt.release()
  }

  test("target rows sharing a key: the probe measures every matched row, " +
    "and a MERGE over them stays exact without a broadcast of them") {
    val dir = fresh()
    // 2,000 target rows over 5 keys; the source updates those 5 keys and
    // inserts 5 more
    val shared = spark.createDataFrame(spark.sparkContext.parallelize(
      (0L until 2000L).map(i => row(i % 5, 1)), 4), schema)
    val src = spark.createDataFrame(spark.sparkContext.parallelize(
      (0L until 5L).map(k => Row.fromSeq(row(k, 7).toSeq :+ "U")) ++
        (100L until 105L).map(k => Row.fromSeq(row(k, 9).toSeq :+ "I")),
      1), schema.add("_op", StringType))
    val stmt = new MergeClauses.Statement(src)
    try {
      val pr = MergeClauses.probe(stmt,
        shared.select(col("key"), lit("f").as("__f")), "__f", Seq("key"))
      pr.files shouldBe Set("f")
      pr.matchedKeys.count() shouldBe 2000L
      // each kept row holds at least its 8-byte key
      pr.matchedBytes should be >= 2000L * 8
    } finally stmt.release()
    val threshold = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(threshold)
    spark.conf.set(threshold, "4096")
    try for (f <- formats(dir)) {
      f.create(shared)
      val (affected, _) = f.merge(src)
      affected.foreach(_ shouldBe 2005L)
      f.count() shouldBe 2005L
      val read = f match {
        case l: Lake => ManifestLake.read(spark, l.table)
        case d: Delta => DeltaInterop.read(spark, d.table)
        case i: Iceberg => IcebergInterop.read(spark, i.table)
      }
      read.filter(col("num_bikes") === 7).count() shouldBe 2000L
      read.filter(col("num_bikes") === 9).count() shouldBe 5L
    } finally saved.fold(spark.conf.unset(threshold))(
      spark.conf.set(threshold, _))
  }
}
