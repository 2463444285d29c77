package graft.sources

import org.apache.hadoop.fs.Path

/** PER-FILE application of FOREIGN merge-on-read kill sets — Delta
  * deletion vectors and Iceberg v2 position deletes — on the interop
  * read kernels.
  *
  * The prior shape decoded every vectored file's `(file, pos)` pairs
  * into one DataFrame and `left_anti`-joined the whole scan against it
  * — correct, but the join shuffles the ENTIRE scan on a heavily
  * vectored table (1% deletes on 10⁹ rows re-exchanges all 10⁹ rows).
  * This module reuses the native lake's answer ([[DeletionVectors]],
  * the audited fix of the same ceiling in r9): the task scanning a
  * file loads JUST THAT FILE's kill set (executor-globally cached
  * under the shared LRU byte cap), and the codegen'd [[RowLive]]
  * predicate probes a bitmap per row — no join, no Exchange, the
  * scan's pushdown and whole-stage codegen untouched. This object
  * holds the foreign tokens and their loaders;
  * [[DeletionVectors.KillSetCache]] dispatches and caches them.
  *
  * The loaders, chosen per token:
  *  - Delta (`D`-token): the add action's `deletionVector` descriptor
  *    — RoaringBitmap framing via [[DeltaDv.bitmapBytes]], one
  *    descriptor per data file by construction.
  *  - Iceberg (`I`-token): v2 position-delete parquet — one delete
  *    FILE covers many data files, so the loader reads the delete
  *    file ONCE per executor into a (data file → bits) map
  *    (spec-sorted by `file_path`, so the group split is one pass)
  *    and each scan task probes its own file's slot. Memory is
  *    O(deleted rows), bounded by the shared cache cap — the same
  *    contract the write path's per-file serialization has.
  */
object ForeignDv {

  private[sources] val Sep = "\u0001"

  /** Delta descriptor → token. */
  def deltaToken(d: DeltaDv.DvDescriptor): String =
    Seq("D", d.storageType, d.pathOrInlineDv, d.offset.toString,
      d.sizeInBytes.toString, d.cardinality.toString).mkString(Sep)

  /** Iceberg position-delete file set → token (shared by every data
    * file of the snapshot; the per-file probe is a map lookup). */
  def icebergToken(deleteFiles: Seq[String]): String =
    ("I" +: deleteFiles).mkString(Sep)

  /** Iceberg v3 deletion vector (one Puffin blob) → token. */
  def puffinToken(path: String, offset: Long, size: Long): String =
    Seq("P", path, offset.toString, size.toString).mkString(Sep)

  /** Multiple kill sets on one data file (e.g. a v3 DV plus legacy
    * position-delete parquet) compose with this separator. */
  val Multi = "\u0002"

  /** Strip a scheme prefix, keeping percent-escapes intact. */
  private def norm(s: String): String =
    s.replaceFirst("^[A-Za-z][A-Za-z0-9+.-]*:/+", "/")

  /** Both spellings a path may arrive under (raw + URI-escaped). */
  private[sources] def forms(p: String): Seq[String] = {
    val raw = norm(p)
    val esc = norm(new Path(p).toUri.toString)
    if (raw == esc) Seq(raw) else Seq(raw, esc)
  }

  /** One Delta descriptor's decoded bits. */
  private[sources] def loadDelta(table: String, token: String,
      hconf: Map[String, String]): DeletionVectors.DvBits = {
    val parts = token.split(Sep)
    val d = DeltaDv.DvDescriptor(parts(1), parts(2),
      parts(3).toLong, parts(4).toInt, parts(5).toLong)
    val root = new Path(table)
    val fs = root.getFileSystem(DeletionVectors.fsConf(hconf))
    DeletionVectors.bitsFor(
      DeltaDv.deserialize(DeltaDv.bitmapBytes(fs, root, d)).distinct.sorted)
  }

  /** One Iceberg v3 deletion vector's decoded bits. The blob (at
    * `content_offset`, spanning `content_size_in_bytes`) frames a
    * 4-byte big-endian length, the magic bytes D1 D3 39 64, a
    * STANDARD portable 64-bit roaring bitmap, and a big-endian CRC-32
    * of magic+vector ([[DeltaDv.deserializePortable64]] decodes the
    * bitmap). */
  private[sources] def loadPuffin(token: String,
      hconf: Map[String, String]): DeletionVectors.DvBits = {
    val parts = token.split(Sep)
    val (path, offset, size) =
      (parts(1), parts(2).toLong, parts(3).toInt)
    val p = new Path(path)
    val in = p.getFileSystem(DeletionVectors.fsConf(hconf)).open(p)
    val payload =
      try {
        in.seek(offset)
        val buf = new Array[Byte](size)
        in.readFully(buf)
        buf
      } finally in.close()
    val len = java.nio.ByteBuffer.wrap(payload, 0, 4).getInt()
    require(len >= 4 && len + 8 <= payload.length,
      s"malformed deletion-vector blob at $path:$offset — declared " +
        s"length $len exceeds content size $size")
    val magic = java.util.Arrays.copyOfRange(payload, 4, 8)
    require(java.util.Arrays.equals(magic,
      Array(0xD1.toByte, 0xD3.toByte, 0x39.toByte, 0x64.toByte)),
      s"bad deletion-vector magic at $path:$offset")
    val vector = java.util.Arrays.copyOfRange(payload, 8, 4 + len)
    val crc = java.nio.ByteBuffer.wrap(payload, 4 + len, 4).getInt()
    val check = new java.util.zip.CRC32
    check.update(payload, 4, len)
    require((check.getValue & 0xffffffffL) == (crc & 0xffffffffL),
      s"deletion-vector blob at $path:$offset fails its CRC-32")
    DeletionVectors.bitsFor(
      DeltaDv.deserializePortable64(vector).distinct.sorted)
  }

  /** One Iceberg position-delete FILE decoded to a per-data-file bits
    * map, keyed by both spellings of each data file's path. */
  private[sources] def loadDeleteFile(delPath: String,
      hconf: Map[String, String]): Map[String, DeletionVectors.DvBits] = {
    import org.apache.parquet.hadoop.ParquetReader
    import org.apache.parquet.hadoop.example.GroupReadSupport
    val acc = scala.collection.mutable.Map
      .empty[String, scala.collection.mutable.ArrayBuffer[Long]]
    val reader = ParquetReader
      .builder(new GroupReadSupport(), new Path(delPath))
      .withConf(DeletionVectors.fsConf(hconf)).build()
    try {
      var g = reader.read()
      while (g != null) {
        val fp = g.getBinary("file_path", 0).toStringUsingUTF8
        val pos = g.getLong("pos", 0)
        val buf = acc.getOrElseUpdate(norm(fp),
          scala.collection.mutable.ArrayBuffer.empty[Long])
        buf += pos
        g = reader.read()
      }
    } finally reader.close()
    acc.iterator.flatMap { case (fp, buf) =>
      val bits = DeletionVectors.bitsFor(buf.toArray.distinct.sorted)
      forms(fp).map(_ -> bits)
    }.toMap
  }
}
