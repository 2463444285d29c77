package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.types.{BooleanType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** PER-FILE deletion-vector storage and application.
  *
  * The r8 read path applied every vectored file's deleted
  * `(file_name, row_index)` pairs as ONE global broadcast anti-join —
  * correct, but a 100×-scale killer under mass deletes: a 10% MOR
  * delete on a 100 TB table is billions of pairs materialized on the
  * driver and shipped to every task. This module replaces it with the
  * shape Delta/Iceberg use (public docs: Delta deletion vectors,
  * Iceberg v2 position deletes): each data file's deleted row indexes
  * live in a dedicated BLOCK of a binary sidecar, the manifest entry's
  * `dv=` token records `relPath#offset#length`, and the task scanning a
  * file loads JUST ITS OWN block — O(that file's deletions) memory,
  * no join, no broadcast, nothing driver-side.
  *
  * On-disk block format (one block per data file, any number of blocks
  * per sidecar file): `varlong count, varlong firstIndex,
  * varlong delta...` — deltas of the strictly-increasing sorted index
  * list (LEB128 unsigned varints). A 50%-dense vector costs ~1 byte
  * per deleted row; offsets come from the manifest token so a reader
  * seeks directly with zero index IO.
  *
  * In memory a block decodes to either a bitmap (dense vectors:
  * O(1)/row membership) or a sorted long array (sparse: binary
  * search) — chosen per file by which is smaller. Loaded blocks are
  * cached executor-globally with an LRU byte cap, so one file's vector
  * loads once per executor, not once per task.
  *
  * Read-side application is the [[RowLive]] catalyst predicate (full
  * codegen via [[BinaryExpression.nullSafeCodeGen]]): a per-task
  * last-file memo makes the per-row cost one virtual call + one bitmap
  * probe, and the surrounding scan stays inside one whole-stage-codegen
  * stage — data-column filter/projection pushdown is untouched because
  * there is no longer a join in the plan at all. */
object DeletionVectors {

  /** A parsed `dv=` manifest token: the sidecar's table-relative path
    * plus the byte range of THIS file's block. */
  final case class DvRef(rel: String, offset: Long, length: Long)

  def encodeRef(r: DvRef): String = s"${r.rel}#${r.offset}#${r.length}"

  /** Inverse of [[encodeRef]]. The rel path never contains '#' (staged
    * names are version+uuid+part), so splitting from the right is
    * unambiguous. */
  def parseRef(token: String): DvRef = {
    val i2 = token.lastIndexOf('#')
    val i1 = token.lastIndexOf('#', i2 - 1)
    require(i1 > 0 && i2 > i1,
      s"malformed deletion-vector token '$token' (want rel#offset#length)")
    DvRef(token.substring(0, i1),
      token.substring(i1 + 1, i2).toLong,
      token.substring(i2 + 1).toLong)
  }

  // ---- varint block codec ----------------------------------------------

  private def writeVarLong(out: java.io.OutputStream, value: Long): Long = {
    var v = value
    var n = 0L
    while ((v & ~0x7fL) != 0L) {
      out.write(((v & 0x7f) | 0x80).toInt)
      v >>>= 7
      n += 1
    }
    out.write(v.toInt)
    n + 1
  }

  /** Encode one file's strictly-increasing sorted index list as a block;
    * returns the block's byte length. */
  private[sources] def writeBlock(out: java.io.OutputStream,
                                  sorted: Array[Long]): Long = {
    var n = writeVarLong(out, sorted.length.toLong)
    var prev = -1L
    var i = 0
    while (i < sorted.length) {
      val v = sorted(i)
      require(v > prev,
        s"deletion-vector indexes must be strictly increasing " +
          s"(saw $v after $prev) — a duplicate pair would corrupt dvrows")
      n += writeVarLong(out, if (i == 0) v else v - prev)
      prev = v
      i += 1
    }
    n
  }

  /** Decode a block back to the sorted index array. */
  private[sources] def decodeBlock(buf: Array[Byte]): Array[Long] = {
    var pos = 0
    def readVarLong(): Long = {
      var b = buf(pos) & 0xff
      pos += 1
      var v = (b & 0x7f).toLong
      var shift = 7
      while ((b & 0x80) != 0) {
        b = buf(pos) & 0xff
        pos += 1
        v |= (b & 0x7f).toLong << shift
        shift += 7
      }
      v
    }
    val count = readVarLong().toInt
    val out = new Array[Long](count)
    var prev = 0L
    var i = 0
    while (i < count) {
      prev = if (i == 0) readVarLong() else prev + readVarLong()
      out(i) = prev
      i += 1
    }
    out
  }

  // ---- in-memory representation ----------------------------------------

  /** One file's decoded vector. Dense vectors probe a bitmap in O(1);
    * sparse ones binary-search a sorted array — picked by whichever is
    * smaller in memory. */
  sealed trait DvBits {
    def contains(idx: Long): Boolean
    def sizeBytes: Long
    def cardinality: Long
  }

  private final class DvArray(sorted: Array[Long]) extends DvBits {
    def contains(idx: Long): Boolean =
      java.util.Arrays.binarySearch(sorted, idx) >= 0
    def sizeBytes: Long = 8L * sorted.length + 16
    def cardinality: Long = sorted.length.toLong
  }

  private final class DvBitmap(words: Array[Long], max: Long,
                               count: Long) extends DvBits {
    def contains(idx: Long): Boolean =
      idx >= 0 && idx <= max &&
        (words((idx >>> 6).toInt) & (1L << (idx & 63))) != 0
    def sizeBytes: Long = 8L * words.length + 24
    def cardinality: Long = count
  }

  private[sources] def bitsFor(sorted: Array[Long]): DvBits = {
    if (sorted.isEmpty) return new DvArray(sorted)
    val max = sorted(sorted.length - 1)
    // bitmap words vs 8-byte array entries: bitmap wins once density
    // passes 1/64 — the mass-delete regime the array would thrash in
    if (max < Int.MaxValue.toLong * 8 && max / 64 + 1 <= sorted.length) {
      val words = new Array[Long]((max >>> 6).toInt + 1)
      var i = 0
      while (i < sorted.length) {
        val v = sorted(i)
        words((v >>> 6).toInt) |= 1L << (v & 63)
        i += 1
      }
      new DvBitmap(words, max, sorted.length.toLong)
    } else new DvArray(sorted)
  }

  // ---- executor-global bounded cache -----------------------------------

  /** LRU of decoded kill sets under ONE byte cap, whatever their on-disk
    * dialect: a lake `dv=` block, a Delta descriptor, a Puffin blob, or
    * a whole Iceberg position-delete file decoded to a (data file →
    * bits) map. Keys embed the token (version, attempt and offset, or
    * the delete file's path), so a file's vector from a NEW commit is a
    * new key and stale entries simply age out. The entry just loaded
    * is never evicted, so one kill set larger than the cap still
    * serves. Synchronized access happens only on FILE switches (the
    * [[RowLive]] per-task memo absorbs per-row traffic), so contention
    * is O(files), not O(rows). */
  private[sources] final class KillSetCache(capBytes: Long) {
    private var total = 0L
    private val cache =
      new java.util.LinkedHashMap[String, (AnyRef, Long)](64, 0.75f, true)

    /** Bytes the cached kill sets hold now. */
    def bytes: Long = cache.synchronized(total)

    private def cached[V <: AnyRef](key: String, size: V => Long)(
        loader: => V): V = {
      cache.synchronized {
        val hit = cache.get(key)
        if (hit != null) return hit._1.asInstanceOf[V]
      }
      val v = loader
      val vBytes = size(v)
      cache.synchronized {
        val prev = cache.putIfAbsent(key, (v, vBytes))
        if (prev != null) prev._1.asInstanceOf[V]
        else {
          total += vBytes
          val it = cache.entrySet().iterator()
          while (total > capBytes && cache.size() > 1 && it.hasNext) {
            val e = it.next()
            if (e.getKey != key) {
              total -= e.getValue._2
              it.remove()
            }
          }
          v
        }
      }
    }

    /** THE token grammar, for the data file keyed `key`: `value` holds
      * one or more tokens joined by [[ForeignDv.Multi]] — a lake
      * `rel#offset#length` block, or a [[ForeignDv.Sep]]-framed Delta
      * descriptor (`D`), Puffin blob (`P`) or Iceberg position-delete
      * file set (`I`, whose files are probed for `key`). */
    def killSets(table: String, key: String, value: String,
                 hconf: Map[String, String]): Array[DvBits] =
      value.split(ForeignDv.Multi).flatMap { tok =>
        if (tok.startsWith("I" + ForeignDv.Sep))
          tok.split(ForeignDv.Sep).drop(1).flatMap(del =>
            cached(del, (m: Map[String, DvBits]) =>
              m.valuesIterator.map(_.sizeBytes).sum + 64L * m.size)(
              ForeignDv.loadDeleteFile(del, hconf)).get(key))
        else Array(cached(table + "\u0000" + tok, (b: DvBits) => b.sizeBytes)(
          if (tok.startsWith("D" + ForeignDv.Sep))
            ForeignDv.loadDelta(table, tok, hconf)
          else if (tok.startsWith("P" + ForeignDv.Sep))
            ForeignDv.loadPuffin(tok, hconf)
          else load(table, parseRef(tok), hconf)))
      }
  }

  /** The executor JVM's cache: -Dgraft.dv.cache.bytes caps it (default
    * 256 MiB). */
  private[sources] val cache = new KillSetCache(
    sys.props.get("graft.dv.cache.bytes").map(_.toLong)
      .getOrElse(256L * 1024 * 1024))

  /** The session's Hadoop conf as a serializable map — what the loaders
    * rebuild a `Configuration` from inside executor tasks (the same
    * propagation Spark itself uses for file access; local runs only
    * need the defaults, a real cluster carries its fs.* keys). */
  private[sources] def hadoopConfMap(spark: org.apache.spark.sql.SparkSession)
      : Map[String, String] = {
    import scala.jdk.CollectionConverters._
    spark.sparkContext.hadoopConfiguration.iterator().asScala
      .map(e => e.getKey -> e.getValue).toMap
  }

  private[sources] def fsConf(hconf: Map[String, String]): Configuration = {
    val c = new Configuration()
    hconf.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** THE row-liveness filter of all three formats: a [[RowLive]] over
    * (`fileCol`, `ridxCol`) carrying `refs` — each vectored data file's
    * key (however the caller's scan names files) → its kill-set token.
    * Evaluation loads the SCANNED file's kill set inside the scanning
    * task and probes per row: no join, no Exchange, nothing
    * materialized on the driver.
    *
    * ONE broadcast per (table, kill-set state), not per read: a
    * long-lived session re-reading an unchanged table reuses the cached
    * broadcast instead of accumulating blocks until GC and the
    * ContextCleaner catch up. Reuse needs the SAME refs (a file read
    * without a kill set must not meet a stale one — time travel and
    * restore bring such files back), the same SparkContext (a broadcast
    * outlives neither its context nor a session recycle) and the same
    * Hadoop conf (rotated fs credentials must reach the loader). A
    * superseded broadcast is unpersisted (non-blocking — executors
    * re-fetch from the driver if an in-flight task still holds it). */
  private[sources] def livePredicate(spark: org.apache.spark.sql.SparkSession,
      table: String, refs: Map[String, String],
      fileCol: org.apache.spark.sql.Column,
      ridxCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val conf = hadoopConfMap(spark)
    val sc = spark.sparkContext
    val env = envCache.compute(table, (_, c) =>
      if (c != null && (c.sc eq sc) && !sc.isStopped && c.refs == refs &&
        c.conf == conf) c
      else {
        if (c != null && (c.sc eq sc)) scala.util.Try(c.bc.unpersist(false))
        LiveEnv(sc, refs, conf, sc.broadcast((refs, conf)))
      }).bc
    ColumnBridge.column(RowLive(ColumnBridge.expression(fileCol),
      ColumnBridge.expression(ridxCol), table, env))
  }

  /** One [[envCache]] entry: the owning context, the refs and Hadoop
    * conf the broadcast carries, and the broadcast itself. */
  private final case class LiveEnv(sc: org.apache.spark.SparkContext,
      refs: Map[String, String], conf: Map[String, String],
      bc: org.apache.spark.broadcast.Broadcast[(Map[String, String],
        Map[String, String])])

  /** Per-table cache behind [[livePredicate]]. Bounded by the number of
    * distinct vectored tables a JVM touches. */
  private val envCache =
    new java.util.concurrent.ConcurrentHashMap[String, LiveEnv]()

  /** Seek-and-read exactly one block's byte range from its sidecar. */
  private def load(table: String, ref: DvRef,
                   hconf: Map[String, String]): DvBits = {
    val path = new Path(new Path(table), ref.rel)
    val in = path.getFileSystem(fsConf(hconf)).open(path)
    try {
      in.seek(ref.offset)
      val buf = new Array[Byte](ref.length.toInt)
      in.readFully(buf)
      bitsFor(decodeBlock(buf))
    } finally in.close()
  }

  /** Re-materialize refs as `(file_name, row_index)` rows — the
    * write-side consumer (cumulative union in a new MOR commit) and
    * spec introspection. Distributed: one task reads one file's block. */
  def pairsDF(spark: org.apache.spark.sql.SparkSession, table: String,
              refs: Seq[(String, String)],
              hconf: Map[String, String])
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    spark.createDataset(refs).repartition(
      math.min(refs.size, spark.sparkContext.defaultParallelism).max(1))
      .flatMap { case (fileName, token) =>
        val ref = parseRef(token)
        val path = new Path(new Path(table), ref.rel)
        val in = path.getFileSystem(fsConf(hconf)).open(path)
        val arr =
          try {
            in.seek(ref.offset)
            val buf = new Array[Byte](ref.length.toInt)
            in.readFully(buf)
            decodeBlock(buf)
          } finally in.close()
        arr.iterator.map(i => (fileName, i))
      }.toDF("file_name", "row_index")
  }

  /** Executor-side sidecar writer for one shuffle partition of
    * `(file_name, row_index)` pairs, pre-partitioned by file and sorted
    * by (file, index): streams per-file blocks into ONE staged sidecar
    * and emits `(file_name, sidecar_name, offset, length, count)` — the
    * only thing that ever reaches the driver is this O(touched files)
    * metadata. */
  private[sources] def writePartition(it: Iterator[(String, Long)],
      table: String, stagingDir: String, baseName: String,
      hconf: Map[String, String])
      : Iterator[(String, String, Long, Long, Long)] = {
    if (!it.hasNext) return Iterator.empty
    val tc = org.apache.spark.TaskContext.get()
    val name = f"$baseName-p${tc.partitionId}%05d-a${tc.taskAttemptId}.bin"
    val path = new Path(new Path(new Path(table), stagingDir), name)
    val fs = path.getFileSystem(fsConf(hconf))
    val raw = fs.create(path, true)
    val out = new java.io.BufferedOutputStream(raw, 1 << 16)
    val meta = Seq.newBuilder[(String, String, Long, Long, Long)]
    try {
      var offset = 0L
      var curFile: String = null
      var buf = new Array[Long](64)
      var n = 0
      def flush(): Unit = if (curFile != null) {
        val arr = java.util.Arrays.copyOf(buf, n)
        val len = writeBlock(out, arr)
        meta += ((curFile, name, offset, len, n.toLong))
        offset += len
        n = 0
      }
      while (it.hasNext) {
        val (f, idx) = it.next()
        if (f != curFile) { flush(); curFile = f }
        if (n == buf.length) buf = java.util.Arrays.copyOf(buf, n * 2)
        buf(n) = idx
        n += 1
      }
      flush()
    } finally {
      out.close()
    }
    meta.result().iterator
  }
}

/** Is row (`file`, `ridx`) LIVE under this read's kill sets? The
  * per-file replacement for a global anti-join, shared by the lake,
  * Delta and Iceberg ([[DeletionVectors.livePredicate]] builds it):
  * evaluated inside the scan's codegen stage, it memoizes the current
  * file's decoded kill sets (rows arrive file-by-file within a task)
  * and probes a bitmap per row. Files without a token short-circuit to
  * live. Deterministic: tokens address immutable blocks and delete
  * files pinned at plan time. */
case class RowLive(left: Expression, right: Expression, table: String,
                   env: org.apache.spark.broadcast.Broadcast[
                     (Map[String, String], Map[String, String])])
    extends BinaryExpression {

  /** The token per vectored file and the Hadoop conf ride a BROADCAST,
    * not the expression: as case-class fields they would serialize into
    * EVERY task binary of every stage scanning the table — at a mass
    * delete's 100k vectored files that's O(files) bytes per task. The
    * broadcast ships once per executor and the expression carries an
    * O(1) handle. */
  private def refs: Map[String, String] = env.value._1
  private def hconf: Map[String, String] = env.value._2

  override def dataType: DataType = BooleanType

  override def prettyName: String = "dv_live"

  /** Plan rendering: the tokens and the Hadoop conf are payload, not
    * structure — without this override every explain() prints opaque
    * broadcast internals. */
  override def stringArgs: Iterator[Any] =
    Iterator(left, right, table, s"${refs.size} vectored file(s)")

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, LongType) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (string file, long row_index), got " +
          s"${left.dataType.sql} and ${right.dataType.sql}")
    }

  @transient private var lastFile: UTF8String = _
  @transient private var lastBits: Array[DeletionVectors.DvBits] = _

  def live(file: UTF8String, ridx: Long): Boolean = {
    if (lastFile == null || !lastFile.equals(file)) {
      // clone: the scanner may reuse the UTF8String's backing buffer
      lastFile = file.clone()
      val key = file.toString
      lastBits = refs.get(key).fold(Array.empty[DeletionVectors.DvBits])(
        DeletionVectors.cache.killSets(table, key, _, hconf))
    }
    var i = 0
    while (i < lastBits.length) {
      if (lastBits(i).contains(ridx)) return false
      i += 1
    }
    true
  }

  override def nullSafeEval(f: Any, r: Any): Any =
    live(f.asInstanceOf[UTF8String], r.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val dv = ctx.addReferenceObj("rowLive", this, classOf[RowLive].getName)
    nullSafeCodeGen(ctx, ev, (f, r) => s"${ev.value} = $dv.live($f, $r);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
