package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generators. Every generator draws from streams derived
  * from (seed, stream id) alone, so one seed reproduces the same inputs
  * byte for byte in any JVM, and inputs never depend on timing. */
object Gen {
  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (stream * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL))

  def sha256(parts: Iterable[Array[Byte]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach(p => md.update(p))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}

/** Vélib' station status and information plus Lime free-bike status, at
  * Paris scale, one drop every 10 minutes of a pinned clock. The feeds
  * carry the edge values the quality gate accepts (FIXTURES.md): 0, 1
  * and missing integer flags, odd-cased and missing string booleans,
  * `num_bikes_available` of 0, 1 and large, a null-island bike, and
  * report times reaching past the K-Means 90-minute window. */
final class GbfsGen(seed: Long, val stations: Int = 1500,
                    val bikes: Int = 15000) {
  val baseEpoch = 1740000000L
  def epochOf(drop: Int): Long = baseEpoch + drop * 600L

  private val geo = {
    val r = Gen.rng(seed, 1)
    Array.tabulate(stations) { i =>
      (213600000L + i * 100L + r.nextInt(100),
        48.815 + r.nextDouble() * 0.09, 2.25 + r.nextDouble() * 0.17,
        10 + r.nextInt(60))
    }
  }

  /** One drop: the three payloads, the rows the enriched table must hold
    * and the rows inside the K-Means window. */
  final case class Drop(ss: Array[Byte], si: Array[Byte], lime: Array[Byte],
                        enrichedRows: Long, windowRows: Long)

  private def flag(r: SplittableRandom, key: String): String = {
    val u = r.nextInt(100)
    if (u < 5) "" // missing: the transform reads null
    else s""""$key":${if (u < 12) 0 else 1},"""
  }

  private val boolStrings = Array("true", "false", "TRUE", "False")

  private def strBool(r: SplittableRandom, key: String): String = {
    val u = r.nextInt(100)
    if (u < 6) ""
    else if (u < 80) s""""$key":"false","""
    else s""""$key":"${boolStrings(r.nextInt(boolStrings.length))}","""
  }

  /** The served `id` of station `i`. */
  def stationId(i: Int): String = geo(i)._1.toString

  /** The served `id` of Lime bike `b` in drop `d`, unique per drop: the
    * gate's (provider, id, time) key. */
  def bikeId(d: Int, b: Int): String = java.lang.Long.toString(
    (seed & 0xffffL) * 100000000L + d * 1000000L + b, 36).toUpperCase

  def drop(d: Int): Drop = {
    val t = epochOf(d)
    val r = Gen.rng(seed, 1000L + d)
    var window = 0L
    def reported(): Long = {
      val ts = t - r.nextInt(7200)
      if (ts >= t - 5400) window += 1
      ts
    }
    val ss = new StringBuilder(stations * 200)
    ss ++= s"""{"lastUpdatedOther":$t,"ttl":60,"data":{"stations":["""
    val si = new StringBuilder(stations * 200)
    si ++= s"""{"lastUpdatedOther":$t,"ttl":3600,"data":{"stations":["""
    for (i <- 0 until stations) {
      val (id, lat, lon, cap) = geo(i)
      val u = r.nextInt(100)
      val nb = if (u < 15) 0 else if (u < 30) 1 else if (u < 33) 150 + r.nextInt(50)
        else 2 + r.nextInt(cap)
      if (i > 0) { ss += ','; si += ',' }
      ss ++= s"""{"station_id":"$id","stationCode":"${10000 + i}",""" +
        s""""num_bikes_available":$nb,"num_docks_available":${r.nextInt(cap + 1)},""" +
        flag(r, "is_installed") + flag(r, "is_returning") +
        flag(r, "is_renting") + s""""last_reported":${reported()}}"""
      si ++= s"""{"station_id":"$id","stationCode":"${10000 + i}",""" +
        s""""name":"Station $i","lat":${"%.6f".format(lat)},""" +
        s""""lon":${"%.6f".format(lon)},"capacity":$cap,""" +
        s""""rental_methods":["CREDITCARD"]}"""
    }
    ss ++= "]}}"
    si ++= "]}}"
    val lime = new StringBuilder(bikes * 260)
    lime ++= s"""{"last_updated":$t,"ttl":0,"data":{"bikes":["""
    for (b <- 0 until bikes) {
      val id = bikeId(d, b)
      val (lat, lon) =
        if (b == 0) (0.0, 0.0) else
          (48.815 + r.nextDouble() * 0.09, 2.25 + r.nextDouble() * 0.17)
      if (b > 0) lime += ','
      lime ++= s"""{"bike_id":"$id","lat":${"%.6f".format(lat)},""" +
        s""""lon":${"%.6f".format(lon)},""" +
        strBool(r, "is_reserved") + strBool(r, "is_disabled") +
        s""""current_range_meters":${r.nextInt(40000)},""" +
        s""""vehicle_type_id":"lime_ebike","vehicle_type":"bike",""" +
        s""""last_reported":${reported()}}"""
    }
    lime ++= "]}}"
    Drop(ss.toString.getBytes(UTF_8), si.toString.getBytes(UTF_8),
      lime.toString.getBytes(UTF_8), stations.toLong + bikes, window)
  }
}

/** One row of the CDC table: the enriched 7-column schema plus a key. */
final case class CRow(key: Long, provider: String, id: String, timeS: Long,
                      lat: Float, lon: Float, bikes: Int,
                      docks: Option[Int]) {
  def canonical: String =
    s"$key|$provider|$id|$timeS|$lat|$lon|$bikes|${docks.getOrElse("null")}"
}

/** The CDC table and its change batches, with the reference key → row
  * state the batches produce. Updates draw ranks from a Zipf
  * ([[CdcGen.ZipfS]]) law over the initial keys (a fixed seeded
  * permutation of ranks), dropping draws of dead keys and keys already in
  * the batch; deletes pick live keys uniformly; inserts take fresh keys. */
final class CdcGen(seed: Long, val initialRows: Int, val batchRows: Int) {
  import CdcGen.ZipfS
  val baseEpoch = 1740000000L
  private val r = Gen.rng(seed, 2)
  private val zipfCdf: Array[Double] = {
    val c = new Array[Double](initialRows)
    var acc = 0.0
    for (i <- 0 until initialRows) {
      acc += math.pow(i + 1, -ZipfS); c(i) = acc
    }
    c.map(_ / acc)
  }
  private val mult = 7919L
  private val offset = math.floorMod(seed * 31L, initialRows.toLong)
  def keyOfRank(rank: Int): Long = ((rank - 1) * mult + offset) % initialRows

  /** A Zipf rank in 1..initialRows. */
  def zipfRank(rr: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(zipfCdf, rr.nextDouble())
    (if (i >= 0) i else -i - 1) + 1
  }

  val live = mutable.LongMap.empty[CRow]
  private var nextKey = initialRows.toLong

  private def randomRow(key: Long, rr: SplittableRandom, timeS: Long): CRow = {
    val velib = rr.nextInt(10) < 3
    CRow(key, if (velib) "velib" else "lime",
      if (velib) s"st${rr.nextInt(1500)}" else s"bk$key-${rr.nextInt(1000)}",
      timeS, (48.815 + rr.nextDouble() * 0.09).toFloat,
      (2.25 + rr.nextDouble() * 0.17).toFloat,
      if (velib) rr.nextInt(70) else 1,
      if (velib) Some(rr.nextInt(60)) else None)
  }

  val initial: IndexedSeq[CRow] = {
    val rows = (0 until initialRows).map(k =>
      randomRow(k.toLong, r, baseEpoch - r.nextInt(86400)))
    rows.foreach(x => live(x.key) = x)
    rows
  }

  def morBikes(key: Long, b: Int): Int = ((key * 7 + b * 13L) % 61).toInt
  def morDocks(key: Long, b: Int): Int = ((key * 11 + b * 17L) % 41).toInt
  def morTime(b: Int): Long = baseEpoch + 3600L + b * 600L
  def morImage(row: CRow, b: Int): CRow =
    row.copy(bikes = morBikes(row.key, b), docks = Some(morDocks(row.key, b)),
      timeS = morTime(b))

  /** Generate batch `b` and apply it to the reference state. */
  def batch(b: Int): CdcBatch = {
    val rr = Gen.rng(seed, 10000L + b)
    val cow = b % 2 == 0
    val nU = batchRows * 7 / 10
    val nI = batchRows * 2 / 10
    val nD = batchRows - nU - nI
    val upd = mutable.LinkedHashSet.empty[Long]
    var guard = 0
    while (upd.size < nU && guard < nU * 200) {
      val k = keyOfRank(zipfRank(rr))
      if (live.contains(k)) upd += k
      guard += 1
    }
    val del = mutable.LinkedHashSet.empty[Long]
    while (del.size < nD) {
      val k = rr.nextLong(initialRows.toLong)
      if (live.contains(k) && !upd(k)) del += k
    }
    val t = morTime(b)
    val updates = upd.toSeq.map { k =>
      if (cow) randomRow(k, rr, t) else morImage(live(k), b)
    }
    val inserts = (0 until nI).map { _ =>
      nextKey += 1; randomRow(nextKey, rr, t)
    }
    updates.foreach(x => live(x.key) = x)
    inserts.foreach(x => live(x.key) = x)
    del.foreach(live.remove)
    CdcBatch(b, cow, updates, inserts, del.toSeq)
  }

  /** Order-independent digest of a set of rows. */
  def digest(rows: Iterable[CRow]): (Long, Long) = {
    var sum = 0L
    var n = 0L
    rows.foreach { x =>
      sum += scala.util.hashing.MurmurHash3.stringHash(x.canonical).toLong *
        0x9E3779B97F4A7C15L
      n += 1
    }
    (n, sum)
  }
}

object CdcGen {
  val ZipfS = 1.1
}

/** One change batch. A copy-on-write batch carries full post-images to
  * MERGE; a merge-on-read batch's updates are [[CdcGen.morImage]]. */
final case class CdcBatch(index: Int, cow: Boolean, updates: Seq[CRow],
                          inserts: Seq[CRow], deletes: Seq[Long])

/** A corpus with one hot span: a carrier document holds a block of the
  * same token repeated, so the block's single 5-gram is the corpus's top
  * gram, at more than half of all gram occurrences. Near-duplicate pairs
  * (one token substituted) are planted among the other documents. */
final class CorpusGen(seed: Long, val docs: Int) {
  private val carrierPct = 80
  val hotRun = 60
  private val pairs = 50
  val hotToken = "ad"
  val k = 5
  val hotGram: String = Seq.fill(k)(hotToken).mkString(" ")
  private val r = Gen.rng(seed, 3)
  private val vocab: Array[String] = {
    val cons = "bcdfghjklmnprstvz"; val vow = "aeiou"
    Array.fill(3000) {
      (0 until 2 + r.nextInt(2)).map(_ =>
        s"${cons(r.nextInt(cons.length))}${vow(r.nextInt(vow.length))}")
        .mkString
    }
  }

  /** (doc_id, text) with the ids of carriers and planted pairs. */
  val (texts, carriers, planted) = {
    val out = new Array[String](docs)
    val carry = mutable.ArrayBuffer.empty[Long]
    val block = Seq.fill(hotRun)(hotToken).mkString(" ")
    for (i <- 0 until docs) {
      val n = 24 + r.nextInt(16)
      val toks = Array.fill(n)(vocab(r.nextInt(vocab.length)))
      if (r.nextInt(100) < carrierPct) {
        carry += i.toLong
        val at = r.nextInt(n + 1)
        out(i) = (toks.take(at).toSeq ++ Seq(block) ++ toks.drop(at).toSeq)
          .mkString(" ")
      } else out(i) = toks.mkString(" ")
    }
    val carrierSet = carry.toSet
    val free = (0 until docs).filterNot(i => carrierSet(i.toLong)).toArray
    val pp = (0 until pairs).map { p =>
      val (a, b) = (free(2 * p), free(2 * p + 1))
      val toks = out(a).split(" ")
      toks(r.nextInt(toks.length)) = vocab(r.nextInt(vocab.length))
      out(b) = toks.mkString(" ")
      (a.toLong, b.toLong)
    }
    (out.toIndexedSeq, carry.toSeq, pp)
  }

  /** Share of all k-gram occurrences held by the most frequent gram. */
  def topGramShare: Double = {
    val counts = mutable.HashMap.empty[String, Long]
    var total = 0L
    texts.foreach { t =>
      val toks = t.split(" ")
      for (i <- 0 to toks.length - k) {
        val g = toks.slice(i, i + k).mkString(" ")
        counts(g) = counts.getOrElse(g, 0L) + 1
        total += 1
      }
    }
    counts.values.max.toDouble / total
  }
}
