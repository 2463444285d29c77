package graftbench

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit, pmod, timestamp_seconds}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.sources.{DeltaInterop, IcebergInterop, ManifestLake}

/** `lake_cdc`: change batches applied to one keyed table held in each of
  * ManifestLake, DeltaInterop and IcebergInterop. Batches alternate
  * between copy-on-write (one MERGE whose clauses update, insert and
  * delete) and merge-on-read (`updateMor`, `deleteMor` and an append of
  * the inserts). After each batch, each format serves a snapshot count,
  * a 10-key point read, and an incremental read of the batch's versions
  * through its stream source. One round is a CoW batch and a MOR batch,
  * after which each format compacts. After the rounds, the slice is one
  * pass over some `gate_mix` rows ([[LakeWorkload.GateRows]]) on the same
  * session; its tables are generated once, with the warm-up state. */
final class LakeWorkload(run: Run) extends Workload {
  import LakeWorkload.{BatchRows, InitialRows}
  private val spark = run.spark
  private var gen: CdcGen = _
  private var dir: String = _
  private var batchNo = 0
  private val batchDirs = mutable.ArrayBuffer.empty[String]
  private val gate = new GateWorkload(run, LakeWorkload.GateRows)

  val schema: StructType = StructType(Seq(
    StructField("key", LongType, nullable = false),
    StructField("provider", StringType), StructField("id", StringType),
    StructField("time", TimestampType), StructField("lat", FloatType),
    StructField("lon", FloatType), StructField("num_bikes", IntegerType),
    StructField("num_docks", IntegerType)))

  private def toRow(x: CRow): Row = Row(x.key, x.provider, x.id,
    new Timestamp(x.timeS * 1000L), x.lat, x.lon, x.bikes,
    x.docks.map(Int.box).orNull)

  private def fromRow(r: Row): CRow = CRow(r.getLong(0), r.getString(1),
    r.getString(2), r.getTimestamp(3).getTime / 1000L, r.getFloat(4),
    r.getFloat(5), r.getInt(6),
    if (r.isNullAt(7)) None else Some(r.getInt(7)))

  private def frame(rows: Seq[CRow]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows.map(toRow),
      math.max(1, math.min(spark.sparkContext.defaultParallelism,
        rows.size / 1000 + 1))), schema)

  private def keyIn(keys: Seq[Long]): Column = col("key").isin(keys: _*)

  /** One table format behind the operations the workload needs. The
    * position is the version an incremental read starts after. */
  private abstract class Fmt(val name: String) {
    def table: String = s"$dir/$name"
    def create(df: DataFrame): Unit
    def position(): Long
    def mergeCow(src: DataFrame): Unit
    def updateMor(pred: Column, set: Seq[(String, Column)]): Unit
    def deleteMor(pred: Column): Unit
    def append(df: DataFrame): Unit
    def compact(): Unit
    def read(): DataFrame
    def stream(after: Long): DataFrame
    /** Change rows carry `_change_type` (a change feed); otherwise the
      * source emits appended data files (`ignoreChanges`). */
    def changeFeed: Boolean
  }

  private val cdcClauses = (
    Seq(ManifestLake.MergeDelete(Some(ManifestLake.mergeSrcCol("_op") === "D")),
      ManifestLake.MergeUpdate()),
    Seq(ManifestLake.MergeInsert(Some(ManifestLake.mergeSrcCol("_op") =!= "D"))))

  private object Lake extends Fmt("lake") {
    def create(df: DataFrame): Unit =
      ManifestLake.write(df, table, append = false, statsCol = Some("key"))
    def position(): Long = ManifestLake.currentVersion(spark, table).get
    def mergeCow(src: DataFrame): Unit = ManifestLake.mergeApply(src, table,
      Seq("key"), cdcClauses._1, cdcClauses._2, recordChangeFeed = true)
    def updateMor(pred: Column, set: Seq[(String, Column)]): Unit =
      ManifestLake.updateMor(spark, table, pred, set, recordChangeFeed = true)
    def deleteMor(pred: Column): Unit =
      ManifestLake.deleteMor(spark, table, pred, recordChangeFeed = true)
    def append(df: DataFrame): Unit = ManifestLake.write(df, table)
    def compact(): Unit = ManifestLake.compact(spark, table)
    def read(): DataFrame = ManifestLake.read(spark, table)
    def stream(after: Long): DataFrame = spark.readStream.format("graft-lake")
      .option("readChangeFeed", "true")
      .option("startingVersion", (after + 1).toString).load(table)
    def changeFeed = true
  }

  private object Delta extends Fmt("delta") {
    def create(df: DataFrame): Unit = {
      DeltaInterop.write(df, table)
      DeltaInterop.enableChangeDataFeed(spark, table)
    }
    def position(): Long = DeltaInterop.currentVersion(spark, table).get
    def mergeCow(src: DataFrame): Unit = DeltaInterop.mergeApply(src, table,
      Seq("key"), cdcClauses._1, cdcClauses._2)
    def updateMor(pred: Column, set: Seq[(String, Column)]): Unit =
      DeltaInterop.updateMor(spark, table, pred, set)
    // Delta's DELETE writes deletion vectors: it is the MOR delete.
    def deleteMor(pred: Column): Unit = DeltaInterop.delete(spark, table, pred)
    def append(df: DataFrame): Unit = DeltaInterop.write(df, table)
    def compact(): Unit = DeltaInterop.optimize(spark, table)
    def read(): DataFrame = DeltaInterop.read(spark, table)
    def stream(after: Long): DataFrame = spark.readStream.format("graft-delta")
      .option("readChangeFeed", "true")
      .option("startingVersion", (after + 1).toString).load(table)
    def changeFeed = true
  }

  private object Iceberg extends Fmt("iceberg") {
    def create(df: DataFrame): Unit = {
      IcebergInterop.write(df, table)
      IcebergInterop.upgradeFormat(spark, table, 2)
    }
    def position(): Long = IcebergInterop.snapshotLineage(spark, table).last
    // Copy-on-write DML refuses a table with delete files; the round's
    // compaction clears them before the next copy-on-write batch.
    def mergeCow(src: DataFrame): Unit = IcebergInterop.mergeApply(src,
      table, Seq("key"), cdcClauses._1, cdcClauses._2)
    def updateMor(pred: Column, set: Seq[(String, Column)]): Unit =
      IcebergInterop.updateMor(spark, table, pred, set)
    def deleteMor(pred: Column): Unit =
      IcebergInterop.deleteMor(spark, table, pred)
    def append(df: DataFrame): Unit = IcebergInterop.write(df, table)
    def compact(): Unit = {
      IcebergInterop.compactDeletes(spark, table)
      IcebergInterop.optimize(spark, table)
    }
    def read(): DataFrame = IcebergInterop.read(spark, table)
    def stream(after: Long): DataFrame =
      spark.readStream.format("graft-iceberg")
        .option("ignoreChanges", "true")
        .option("startingSnapshot", after.toString).load(table)
    def changeFeed = false
  }

  private val formats = Seq[Fmt](Lake, Delta, Iceberg)

  def prepare(d: String, warm: Boolean): Unit = {
    dir = d
    gen = if (warm) new CdcGen(run.seed, InitialRows / 10, BatchRows / 10)
      else new CdcGen(run.seed, InitialRows, BatchRows)
    batchNo = 0
    batchDirs.clear()
    val init = frame(gen.initial).cache()
    formats.foreach(f => f.create(init))
    init.unpersist()
    initialBytes = formats.map(f => f.name -> dirBytes(f.table)).toMap
    if (warm) gate.prepare(s"$d/gate", warm)
  }

  private var initialBytes: Map[String, Long] = Map.empty

  def warmup(): Unit = Run.concurrently(round(-1), gate.warmup())

  override def slice(): Unit = gate.round(0)

  /** A CoW batch and a MOR batch on every format, then each format's
    * three reads (checked batch by batch) and its compaction. */
  def round(i: Int): Unit = {
    val start = formats.map(f => f.name -> f.position()).toMap
    val b1 = batch()
    val afterCow = gen.live.clone()
    val mid = formats.map(f => f.name -> f.position()).toMap
    val b2 = batch()
    for (f <- formats) {
      reads(f, Seq(b1 -> start(f.name), b2 -> mid(f.name)), afterCow)
      run.op("compact")(run.call("sources", s"${f.name}.compact")(f.compact()))
    }
  }

  private def batch(): CdcBatch = {
    val b = gen.batch(batchNo)
    batchNo += 1
    // the change batch as a file, once: the write-amplification yardstick
    val bdir = s"$dir/batches/${b.index}"
    batchFrame(b).coalesce(1).write.parquet(bdir)
    batchDirs += bdir
    val ins = frame(b.inserts)
    for (f <- formats) {
      if (b.cow) commit(f, "merge")(f.mergeCow(spark.read.parquet(bdir)))
      else {
        val set = Seq(
          "num_bikes" -> pmod(col("key") * 7 + lit(b.index * 13L), lit(61L)).cast("int"),
          "num_docks" -> pmod(col("key") * 11 + lit(b.index * 17L), lit(41L)).cast("int"),
          "time" -> timestamp_seconds(lit(gen.morTime(b.index))))
        commit(f, "update_mor")(f.updateMor(keyIn(b.updates.map(_.key)), set))
        commit(f, "delete_mor")(f.deleteMor(keyIn(b.deletes)))
        commit(f, "append")(f.append(ins))
      }
    }
    b
  }

  /** The batch as the CDC feed a MERGE consumes: post-images tagged U or
    * I, deleted keys tagged D. */
  private def batchFrame(b: CdcBatch): DataFrame = {
    import org.apache.spark.sql.functions.typedLit
    val tagged = frame(b.updates).withColumn("_op", lit("U"))
      .unionByName(frame(b.inserts).withColumn("_op", lit("I")))
    val dels = spark.createDataFrame(spark.sparkContext.parallelize(
      b.deletes.map(k => Row(k)), 1),
      StructType(Seq(StructField("key", LongType, nullable = false))))
    val nulls = schema.fields.tail.map(f => typedLit[String](null).cast(f.dataType).as(f.name))
    tagged.unionByName(dels.select(col("key") +: nulls :+ lit("D").as("_op"): _*))
  }

  private val dmlKinds = Seq("merge", "update_mor", "delete_mor", "append")

  private def commit(f: Fmt, kind: String)(body: => Unit): Unit =
    run.op("commit")(run.call("sources", s"${f.name}.$kind")(body))

  /** Snapshot count, 10-key point read and incremental read, after the
    * copy-on-write and merge-on-read `batches`, each given with the
    * position its versions start after; `afterCow` is the reference state
    * between the two. */
  private def reads(f: Fmt, batches: Seq[(CdcBatch, Long)],
                    afterCow: collection.Map[Long, CRow]): Unit = {
    val live = gen.live
    val last = batches.last._1.index
    run.op("read")(run.call("sources", s"${f.name}.read")(f.read().count()))
      .foreach(n => run.check(n == live.size,
        s"${f.name} batch $last: snapshot count $n, reference ${live.size}"))
    val probe = {
      val r = Gen.rng(run.seed, 50000L + last)
      Seq.fill(10)(gen.keyOfRank(gen.zipfRank(r))).distinct
    }
    run.op("read")(run.call("sources", s"${f.name}.point")(
      f.read().filter(keyIn(probe)).collect())).foreach { rows =>
      val got = rows.map(fromRow).toSet
      val want = probe.flatMap(live.get).toSet
      run.check(got == want,
        s"${f.name} batch $last: point read ${got.size} rows differ " +
          s"from the reference's ${want.size}")
    }
    run.op("read")(run.call("sources", s"${f.name}.changes")(
      drainStream(f.stream(batches.head._2)))).foreach { rows =>
      if (f.changeFeed) {
        // split the feed at each batch's first version
        val bounds = batches.map(_._2) :+ Long.MaxValue
        for (((b, from), to) <- batches.zip(bounds.tail))
          checkChanges(f, b, rows.filter { r =>
            val v = r.getAs[Long]("_commit_version"); v > from && v <= to })
      } else checkAppended(f, batches(0)._1, batches(1)._1, afterCow, rows)
    }
  }

  private var streamNo = 0

  /** Run the stream to the end of the log and collect what it emits. */
  private def drainStream(df: DataFrame): Seq[Row] = {
    streamNo += 1
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Row]()
    val q = df.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.collect().foreach(got.add); ()
      }
      .option("checkpointLocation", s"$dir/checkpoints/$streamNo")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    got.asScala.toSeq
  }

  /** A change feed must emit exactly the batch: post-images of updates
    * and inserts, and the deleted keys. An update may be recorded as an
    * update pre/post-image pair or as a delete plus an insert of the same
    * key; a delete of a key with no post-image is a deletion. */
  private def checkChanges(f: Fmt, b: CdcBatch, rows: Seq[Row]): Unit = {
    val post = (b.updates ++ b.inserts).toSet
    val typed = rows.map(r => r.getAs[String]("_change_type") -> r)
    val gotPost = typed.filter(t => t._1 == "insert" || t._1 == "update_postimage")
      .map(t => fromRow(Row.fromSeq(schema.fieldNames.map(t._2.getAs[Any])))).toSet
    val postKeys = gotPost.map(_.key)
    val gotDel = typed.filter(_._1 == "delete").map(_._2.getAs[Long]("key"))
      .filterNot(postKeys).toSet
    run.check(gotPost == post && gotDel == b.deletes.toSet,
      s"${f.name} batch ${b.index}: change feed has ${gotPost.size} " +
        s"post-images and ${gotDel.size} deletes, batch has ${post.size} " +
        s"and ${b.deletes.size}")
  }

  /** An appended-files stream emits each data file a snapshot added,
    * once. The copy-on-write MERGE's rewritten files hold its post-images
    * and the rows that shared a file with a changed row, all live after
    * that batch; the merge-on-read batch's files hold exactly its
    * post-images (its deletes add delete files only). */
  private def checkAppended(f: Fmt, cow: CdcBatch, mor: CdcBatch,
                            afterCow: collection.Map[Long, CRow],
                            rows: Seq[Row]): Unit = {
    val emitted = rows.map(r =>
      fromRow(Row.fromSeq(schema.fieldNames.map(r.getAs[Any]))))
    val got = emitted.toSet
    val morPost = (mor.updates ++ mor.inserts).toSet
    val post = (cow.updates ++ cow.inserts).toSet ++ morPost
    val stray = (got -- morPost).filterNot(x => afterCow.get(x.key).contains(x))
    run.check(post.subsetOf(got) && stray.isEmpty && emitted.size == got.size,
      s"${f.name} batches ${cow.index},${mor.index}: stream emitted " +
        s"${emitted.size} rows (${got.size} distinct), ${stray.size} not " +
        s"live after the copy-on-write batch; batches hold ${post.size} " +
        "post-images")
  }

  private def dirBytes(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }

  override def finish(): Unit = {
    val ref = gen.digest(gen.live.values)
    for (f <- formats) {
      val rows = f.read().collect().map(fromRow)
      val got = gen.digest(rows)
      run.finalCheck(got == ref,
        s"${f.name}: final snapshot digest $got, reference $ref")
    }
    // amplification against the same data written once as plain parquet
    val batchBytes = batchDirs.map(dirBytes).sum.toDouble
    val added = formats.map(f => dirBytes(f.table) - initialBytes(f.name)).sum
    val snapDir = s"$dir/snapshot_plain"
    frame(gen.live.values.toSeq).coalesce(1).write.parquet(snapDir)
    val finalBytes = formats.map(f => dirBytes(f.table)).sum
    run.named("write_amp") = added / (formats.size * math.max(batchBytes, 1.0))
    run.named("space_amp") =
      finalBytes / (formats.size * dirBytes(snapDir).toDouble)
  }

  override def layerMetrics: Map[String, Double] = {
    val kinds = Seq("merge" -> "merge_ms", "update_mor" -> "update_mor_ms",
      "delete_mor" -> "delete_mor_ms", "append" -> "append_ms",
      "read" -> "read_ms", "point" -> "point_ms", "changes" -> "changes_ms",
      "compact" -> "compact_ms")
    formats.flatMap { f =>
      kinds.map { case (k, m) =>
        s"sources.${f.name}.$m" -> run.callMedian(s"sources.${f.name}.$k")
      } :+ (s"sources.${f.name}.jobs_per_commit" -> Trace.meanJobs(s =>
        s.module == "sources" && dmlKinds.exists(k => s.name == s"${f.name}.$k")))
    }.toMap ++ gate.layerMetrics
  }
}

object LakeWorkload {
  /** The measured table and batch sizes; the warm-up uses a tenth. */
  val InitialRows = 20000
  val BatchRows = 200

  /** The slice's `gate_mix` rows: the rows ROADMAP's performance items
    * name (queries, streaming, operators and the hot corpus's no-skew
    * text counterparts) and a stateful stream. */
  val GateRows: Seq[String] = Seq("q21_waiting_suppliers",
    "st7_session_window", "st8_stream_static", "ar1_association_rules",
    "dd13_duplicated_spans", "tx8_unigram_ppl")
}
