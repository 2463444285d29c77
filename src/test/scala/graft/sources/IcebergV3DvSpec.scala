package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.{ByteBuffer, ByteOrder}

import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** Iceberg FORMAT-VERSION 3 deletion vectors, read side: a
  * hand-written v3 table whose delete manifest references a Puffin
  * `deletion-vector-v1` blob (4-byte BE length, magic D1 D3 39 64,
  * STANDARD portable 64-bit roaring bitmap, BE CRC-32) applies
  * per-file with no Exchange in the plan; v3 tables refuse every
  * WRITE by name (read-only support), and malformed blobs fail
  * loudly, never silently wrong. */
class IcebergV3DvSpec extends AnyFunSuite with Matchers with SparkSpec {

  private def jnum(v: org.json4s.JValue): Long = v match {
    case org.json4s.JInt(i) => i.toLong
    case org.json4s.JLong(l) => l
    case other => fail(s"not a number: $other")
  }

  private def fresh(): String =
    java.nio.file.Files.createTempDirectory("graft-icev3").toString + "/t"

  private def writeText(table: String, rel: String, text: String): Unit = {
    val p = new Path(table, rel)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(p.getParent)
    val out = fs.create(p, true)
    try out.write(text.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** STANDARD portable 64-bit roaring serialization of sorted
    * positions (array containers only — enough for test kill sets). */
  private def roaring64(positions: Seq[Long]): Array[Byte] = {
    val buckets = positions.sorted.groupBy(p => (p >>> 32).toInt)
      .toSeq.sortBy(_._1)
    val out = new java.io.ByteArrayOutputStream()
    def le32(v: Int): Unit = {
      val b = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
      b.putInt(v); out.write(b.array())
    }
    def le16(v: Int): Unit = {
      out.write(v & 0xff); out.write((v >>> 8) & 0xff)
    }
    val cnt = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
    cnt.putLong(buckets.size.toLong); out.write(cnt.array())
    buckets.foreach { case (high, vals) =>
      le32(high)
      val containers = vals.map(v => (v & 0xffffffffL).toInt)
        .groupBy(v => (v >>> 16) & 0xffff).toSeq.sortBy(_._1)
      le32(12346) // SERIAL_COOKIE_NO_RUNCONTAINER
      le32(containers.size)
      containers.foreach { case (k, vs) =>
        le16(k.toInt); le16(vs.size - 1)
      }
      // offset header (cookie 12346 always carries one)
      var off = 4 + 4 + 4 * containers.size + 4 * containers.size
      containers.foreach { case (_, vs) =>
        le32(off); off += 2 * vs.size
      }
      containers.foreach { case (_, vs) =>
        vs.map(_ & 0xffff).sorted.foreach(le16)
      }
    }
    out.toByteArray
  }

  /** One `deletion-vector-v1` blob: BE length of magic+vector, the
    * magic bytes, the bitmap, BE CRC-32 of magic+vector. */
  private def dvBlob(positions: Seq[Long]): Array[Byte] = {
    val magic = Array(0xD1.toByte, 0xD3.toByte, 0x39.toByte, 0x64.toByte)
    val vector = roaring64(positions)
    val crc = new java.util.zip.CRC32
    crc.update(magic); crc.update(vector)
    val out = ByteBuffer.allocate(4 + 4 + vector.length + 4)
    out.putInt(4 + vector.length)
    out.put(magic); out.put(vector)
    out.putInt((crc.getValue & 0xffffffffL).toInt)
    out.array()
  }

  private val entrySchema = new org.apache.avro.Schema.Parser().parse(
    """{"type":"record","name":"manifest_entry","fields":[
      |{"name":"status","type":"int"},
      |{"name":"snapshot_id","type":["null","long"],"default":null},
      |{"name":"sequence_number","type":["null","long"],"default":null},
      |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
      |  {"name":"content","type":"int","default":0},
      |  {"name":"file_path","type":"string"},
      |  {"name":"file_format","type":"string"},
      |  {"name":"partition","type":{"type":"record","name":"rp","fields":[]}},
      |  {"name":"record_count","type":"long"},
      |  {"name":"file_size_in_bytes","type":"long"},
      |  {"name":"referenced_data_file","type":["null","string"],"default":null},
      |  {"name":"content_offset","type":["null","long"],"default":null},
      |  {"name":"content_size_in_bytes","type":["null","long"],"default":null}
      |]}}]}""".stripMargin.replace("\n", ""))

  private val listSchema = new org.apache.avro.Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string"},
      |{"name":"manifest_length","type":"long"},
      |{"name":"partition_spec_id","type":"int"},
      |{"name":"content","type":"int","default":0},
      |{"name":"sequence_number","type":"long","default":0},
      |{"name":"added_snapshot_id","type":["null","long"],"default":null}
      |]}""".stripMargin.replace("\n", ""))

  private def avro(t: String, rel: String,
                   schema: org.apache.avro.Schema,
                   rows: Seq[GenericRecord]): (String, Long) = {
    val p = new Path(t, rel)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(p.getParent)
    val out = fs.create(p, true)
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, out)
    try rows.foreach(w.append) finally w.close()
    (p.toString, fs.getFileStatus(p).getLen)
  }

  private def dataEntry(path: String, n: Long): GenericRecord = {
    val e = new GenericData.Record(entrySchema)
    e.put("status", 1); e.put("snapshot_id", 90L)
    e.put("sequence_number", 1L)
    val d = new GenericData.Record(
      entrySchema.getField("data_file").schema())
    d.put("content", 0); d.put("file_path", path)
    d.put("file_format", "PARQUET")
    d.put("partition", new GenericData.Record(entrySchema
      .getField("data_file").schema().getField("partition").schema()))
    d.put("record_count", n); d.put("file_size_in_bytes", 1L)
    e.put("data_file", d)
    e
  }

  private def dvEntry(puffin: String, referenced: String,
                      offset: Long, size: Long,
                      dropOffset: Boolean = false): GenericRecord = {
    val e = new GenericData.Record(entrySchema)
    e.put("status", 1); e.put("snapshot_id", 91L)
    e.put("sequence_number", 2L)
    val d = new GenericData.Record(
      entrySchema.getField("data_file").schema())
    d.put("content", 1); d.put("file_path", puffin)
    d.put("file_format", "PUFFIN")
    d.put("partition", new GenericData.Record(entrySchema
      .getField("data_file").schema().getField("partition").schema()))
    d.put("record_count", 2L); d.put("file_size_in_bytes", size)
    d.put("referenced_data_file", referenced)
    if (!dropOffset) {
      d.put("content_offset", offset)
      d.put("content_size_in_bytes", size)
    }
    e.put("data_file", d)
    e
  }

  /** Build a v3 table: two parquet data files (ids 0..9 / 10..19 by
    * position), a Puffin DV killing positions `kill` of file 1. */
  private def v3Table(kill: Seq[Long],
                      dropOffset: Boolean = false): (String, String) = {
    import spark.implicits._
    val t = fresh()
    val fs = new Path(t).getFileSystem(spark.sessionState.newHadoopConf())
    def stageParquet(name: String, ids: Seq[Long]): String = {
      val stage = fresh()
      ids.toDF("id").coalesce(1).write.parquet(stage)
      val part = fs.listStatus(new Path(stage)).map(_.getPath)
        .find(_.getName.endsWith(".parquet")).get
      fs.mkdirs(new Path(t, "data"))
      val dest = new Path(t, s"data/$name")
      fs.rename(part, dest) shouldBe true
      dest.toString
    }
    val f1 = stageParquet("f1.parquet", 0L to 9L)
    val f2 = stageParquet("f2.parquet", 10L to 19L)
    // puffin: a fake header, the blob, trailing junk — the manifest
    // addresses the blob by byte range
    val blob = dvBlob(kill)
    val header = "PFA1".getBytes(StandardCharsets.UTF_8)
    val puffin = new Path(t, "data/dv.puffin")
    val out = fs.create(puffin, true)
    try { out.write(header); out.write(blob); out.write(header) }
    finally out.close()
    val (mData, mDataLen) = avro(t, "metadata/m-data.avro", entrySchema,
      Seq(dataEntry(f1, 10L), dataEntry(f2, 10L)))
    val (mDel, mDelLen) = avro(t, "metadata/m-del.avro", entrySchema,
      Seq(dvEntry(puffin.toString, f1, header.length.toLong,
        blob.length.toLong, dropOffset)))
    def mf(path: String, len: Long, content: Int,
           seq: Long): GenericRecord = {
      val r = new GenericData.Record(listSchema)
      r.put("manifest_path", path); r.put("manifest_length", len)
      r.put("partition_spec_id", 0); r.put("content", content)
      r.put("sequence_number", seq); r.put("added_snapshot_id", 91L)
      r
    }
    val (listPath, _) = avro(t, "metadata/snap-91.avro", listSchema,
      Seq(mf(mData, mDataLen, 0, 1L), mf(mDel, mDelLen, 1, 2L)))
    writeText(t, "metadata/v1.metadata.json",
      s"""{"format-version":3,"table-uuid":"u3","location":"$t",
         |"last-updated-ms":1,"last-column-id":1,"last-sequence-number":2,
         |"schemas":[{"type":"struct","schema-id":0,"fields":[
         |{"id":1,"name":"id","required":false,"type":"long"}]}],
         |"current-schema-id":0,
         |"partition-specs":[{"spec-id":0,"fields":[]}],"default-spec-id":0,
         |"properties":{},"current-snapshot-id":91,
         |"snapshots":[{"snapshot-id":91,"timestamp-ms":1,
         |"sequence-number":2,"summary":{"operation":"delete"},
         |"manifest-list":"$listPath","schema-id":0}]
         |}""".stripMargin.replace("\n", ""))
    writeText(t, "metadata/version-hint.text", "1")
    (t, puffin.toString)
  }

  test("portable 64-bit roaring round-trips through the reader, " +
    "multi-bucket values included") {
    val positions = Seq(0L, 5L, 70000L, (1L << 33) + 7L, (1L << 33) + 8L)
    DeltaDv.deserializePortable64(roaring64(positions))
      .sorted shouldBe positions.sorted.toArray
  }

  test("a v3 deletion vector applies per-file: killed positions drop " +
    "from the referenced file only, and the plan has no Exchange") {
    import spark.implicits._
    val (t, _) = v3Table(kill = Seq(1L, 3L, 7L))
    val st = IcebergInterop.state(spark, t, None)
    st.formatVersion shouldBe 3
    st.dvDeletes should have size 1
    val df = IcebergInterop.read(spark, t)
    val plan = df.queryExecution.executedPlan.toString
    plan should not include "Exchange"
    plan should include("dv_live")
    // f1 holds ids 0..9 at positions 0..9 — ids 1,3,7 die; f2 intact
    df.count() shouldBe 17L
    df.select($"id").as[Long].collect().sorted shouldBe
      ((0L to 9L).filterNot(Seq(1L, 3L, 7L).contains) ++
        (10L to 19L)).toArray
  }

  test("the v3 WRITE surface: appends land with row-lineage " +
    "bookkeeping (first-row-id / added-rows / next-row-id); DML " +
    "refuses while MOR debt exists, compaction retires the vectors " +
    "(lineage materialized), and CoW DML then applies") {
    import spark.implicits._
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val (t, _) = v3Table(kill = Seq(1L))
    IcebergInterop.write(Seq(99L).toDF("id"), t)
    IcebergInterop.read(spark, t).count() shouldBe 20L // 19 live + 1
    val fs = new Path(t).getFileSystem(spark.sessionState.newHadoopConf())
    val metaDir = new Path(t, "metadata")
    val hv = new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(
      fs.open(new Path(metaDir, "version-hint.text"))),
      StandardCharsets.UTF_8).trim
    val meta = JsonMethods.parse(new String(
      org.apache.hadoop.io.IOUtils.readFullyToByteArray(
        fs.open(new Path(metaDir, s"v$hv.metadata.json"))),
      StandardCharsets.UTF_8))
    (meta \ "format-version") shouldBe JInt(3)
    jnum(meta \ "next-row-id") shouldBe 1L // 1 appended row
    val snaps = (meta \ "snapshots").asInstanceOf[JArray].arr
    val appendSnap = snaps.last
    jnum(appendSnap \ "first-row-id") shouldBe 0L
    jnum(appendSnap \ "added-rows") shouldBe 1L
    // copy-on-write DML refuses while merge-on-read debt exists
    intercept[IllegalArgumentException] {
      IcebergInterop.delete(spark, t,
        org.apache.spark.sql.functions.col("id") === 1L)
    }.getMessage should include("deleteMor")
    intercept[IllegalArgumentException] {
      IcebergInterop.importToManifest(spark, t)
    }
    // v3 compaction retires the vector (r14c: lineage materializes,
    // so the rewrite is legal) and CoW DML then applies
    IcebergInterop.compactDeletes(spark, t)
    val stc = IcebergInterop.state(spark, t, None)
    stc.dvDeletes shouldBe empty
    IcebergInterop.read(spark, t).count() shouldBe 20L
    IcebergInterop.delete(spark, t,
      org.apache.spark.sql.functions.col("id") === 2L)
    IcebergInterop.read(spark, t).count() shouldBe 19L
  }

  test("graft v3 deletion-vector DML round-trip: upgradeFormat(3), " +
    "deleteMor writes Puffin blobs the reader serves, a second " +
    "delete MERGES vectors (one DV per file), and the blob bytes " +
    "hand-verify against the spec's framing") {
    import spark.implicits._
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val t = fresh()
    IcebergInterop.write(
      (0L until 100L).map(i => (i, i % 10)).toDF("id", "g")
        .repartition(4), t)
    IcebergInterop.upgradeFormat(spark, t) // v2 first
    IcebergInterop.upgradeFormat(spark, t, 3)
    val fs = new Path(t).getFileSystem(spark.sessionState.newHadoopConf())
    def meta(): JValue = {
      val hv = new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(
          fs.open(new Path(t, "metadata/version-hint.text"))),
        StandardCharsets.UTF_8).trim
      JsonMethods.parse(new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(
          fs.open(new Path(t, s"metadata/v$hv.metadata.json"))),
        StandardCharsets.UTF_8))
    }
    jnum(meta() \ "format-version") shouldBe 3L
    jnum(meta() \ "next-row-id") shouldBe 0L
    // first DV delete
    val r1 = IcebergInterop.deleteMor(spark, t,
      org.apache.spark.sql.functions.col("id") % 7 === 0)
    r1.rowsAffected shouldBe (0L until 100L).count(_ % 7 == 0)
    IcebergInterop.read(spark, t).count() shouldBe
      (0L until 100L).count(_ % 7 != 0)
    val st1 = IcebergInterop.state(spark, t, None)
    st1.formatVersion shouldBe 3
    st1.dvDeletes should not be empty
    st1.posDeletes shouldBe empty
    // one DV per referenced file — the spec's at-most-one rule
    st1.dvDeletes.map(_.referenced).distinct.length shouldBe
      st1.dvDeletes.length
    // second delete MERGES into the existing vectors
    IcebergInterop.deleteMor(spark, t,
      org.apache.spark.sql.functions.col("id") % 5 === 0)
    IcebergInterop.read(spark, t).count() shouldBe
      (0L until 100L).count(i => i % 7 != 0 && i % 5 != 0)
    val st2 = IcebergInterop.state(spark, t, None)
    st2.dvDeletes.map(_.referenced).distinct.length shouldBe
      st2.dvDeletes.length
    // hand-verify one blob against the spec framing: BE length,
    // magic D1 D3 39 64, portable-64 roaring, BE CRC-32
    val d = st2.dvDeletes.head
    val in = fs.open(new Path(d.path))
    val payload = new Array[Byte](d.size.toInt)
    try { in.seek(d.offset); in.readFully(payload) } finally in.close()
    val len = ByteBuffer.wrap(payload, 0, 4).getInt()
    len shouldBe (payload.length - 8)
    payload.slice(4, 8) shouldBe
      Array(0xD1.toByte, 0xD3.toByte, 0x39.toByte, 0x64.toByte)
    val crc = new java.util.zip.CRC32
    crc.update(payload, 4, len)
    (crc.getValue & 0xffffffffL) shouldBe
      (ByteBuffer.wrap(payload, 4 + len, 4).getInt() & 0xffffffffL)
    val positions = DeltaDv.deserializePortable64(
      java.util.Arrays.copyOfRange(payload, 8, 4 + len))
    positions.length.toLong shouldBe d.records
    positions.toSeq shouldBe positions.toSeq.sorted
    // the Puffin FOOTER is spec-shaped: trailing magic, flags,
    // LE payload size, JSON listing deletion-vector-v1 blobs
    val pf = new Path(d.path)
    val flen = fs.getFileStatus(pf).getLen
    val fin = fs.open(pf)
    val all = new Array[Byte](flen.toInt)
    try fin.readFully(all) finally fin.close()
    new String(all, 0, 4, StandardCharsets.UTF_8) shouldBe "PFA1"
    new String(all, flen.toInt - 4, 4,
      StandardCharsets.UTF_8) shouldBe "PFA1"
    val payloadSize = ByteBuffer.wrap(all, flen.toInt - 12, 4)
      .order(ByteOrder.LITTLE_ENDIAN).getInt()
    val footer = new String(all, flen.toInt - 12 - payloadSize,
      payloadSize, StandardCharsets.UTF_8)
    footer should include("deletion-vector-v1")
    footer should include("referenced-data-file")
    // an append AFTER vector DML still lands and advances lineage
    IcebergInterop.write(Seq((1000L, 0L)).toDF("id", "g"), t)
    IcebergInterop.read(spark, t).count() shouldBe
      (0L until 100L).count(i => i % 7 != 0 && i % 5 != 0) + 1
    jnum(meta() \ "next-row-id") shouldBe 1L
  }

  test("v3 MOR UPDATE: old images vector out and new images append " +
    "in ONE snapshot; a later delete merges vectors over the mix") {
    import spark.implicits._
    val t = fresh()
    IcebergInterop.write(
      (0L until 60L).map(i => (i, i)).toDF("id", "v").repartition(3), t)
    IcebergInterop.upgradeFormat(spark, t)
    IcebergInterop.upgradeFormat(spark, t, 3)
    val snapsBefore = IcebergInterop.snapshotLineage(spark, t).size
    val r = IcebergInterop.updateMor(spark, t,
      org.apache.spark.sql.functions.col("id") < 10L,
      Seq("v" -> org.apache.spark.sql.functions
        .col("v").plus(1000L)))
    r.rowsAffected shouldBe 10L
    IcebergInterop.snapshotLineage(spark, t).size shouldBe
      snapsBefore + 1 // ONE snapshot for kill + append
    val out = IcebergInterop.read(spark, t)
    out.count() shouldBe 60L
    out.filter($"id" < 10L).select($"v").as[Long]
      .collect().sorted shouldBe (1000L until 1010L).toArray
    out.filter($"id" >= 10L).filter($"v" >= 1000L).count() shouldBe 0L
    val st = IcebergInterop.state(spark, t, None)
    st.dvDeletes should not be empty
    st.dvDeletes.map(_.referenced).distinct.length shouldBe
      st.dvDeletes.length
    // a later DV delete merges over the mixed old/new file surface
    IcebergInterop.deleteMor(spark, t,
      org.apache.spark.sql.functions.col("v") === 1005L)
    IcebergInterop.read(spark, t).count() shouldBe 59L
    IcebergInterop.read(spark, t).filter($"v" === 1005L)
      .count() shouldBe 0L
    val st2 = IcebergInterop.state(spark, t, None)
    st2.dvDeletes.map(_.referenced).distinct.length shouldBe
      st2.dvDeletes.length
  }

  test("v3 DV deletes refuse when v2 parquet delete files remain " +
    "(mixed MOR debt) — compact before upgrading") {
    import spark.implicits._
    val t = fresh()
    IcebergInterop.write(
      (0L until 50L).map(i => (i, i)).toDF("id", "v"), t)
    IcebergInterop.upgradeFormat(spark, t)
    // v2 position delete first, then upgrade to 3
    IcebergInterop.deleteMor(spark, t,
      org.apache.spark.sql.functions.col("id") === 1L)
    IcebergInterop.upgradeFormat(spark, t, 3)
    intercept[IcebergInterop.UnsupportedIcebergFeatureException] {
      IcebergInterop.deleteMor(spark, t,
        org.apache.spark.sql.functions.col("id") === 2L)
    }.getMessage should include("position/equality delete")
  }

  test("malformed v3 entries fail loudly: a DV without content_offset " +
    "refuses at state(), a corrupted magic fails the read") {
    val (t, _) = v3Table(kill = Seq(1L), dropOffset = true)
    intercept[IcebergInterop.UnsupportedIcebergFeatureException] {
      IcebergInterop.state(spark, t, None)
    }.getMessage should include("content_offset")
    // corrupt the magic in place
    val (t2, puffin) = v3Table(kill = Seq(1L))
    val p = new Path(puffin)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val bytes = org.apache.hadoop.io.IOUtils.readFullyToByteArray(fs.open(p))
    bytes(4 + 4) = 0x00 // first magic byte of the blob (after header+len)
    val out = fs.create(p, true)
    try out.write(bytes) finally out.close()
    val e = intercept[org.apache.spark.SparkException] {
      IcebergInterop.read(spark, t2).count()
    }
    e.getMessage should include("deletion-vector")
  }
}
