package graftbench

import java.nio.charset.StandardCharsets.UTF_8

/** The generators' own checks: one seed reproduces byte-identical
  * inputs and another seed differs; the hot corpus's top gram holds at
  * least half of all gram occurrences; the CDC update keys the workload
  * applies follow the stated Zipf exponent. All at the workloads' sizes. */
object SelfTest {
  private def gbfs(seed: Long): Seq[Array[Byte]] = {
    val g = new GbfsGen(seed)
    (0 until 3).flatMap { d => val x = g.drop(d); Seq(x.ss, x.si, x.lime) }
  }

  private def cdc(seed: Long): Seq[Array[Byte]] = {
    val g = new CdcGen(seed, LakeWorkload.InitialRows, LakeWorkload.BatchRows)
    val batches = (0 until 4).map(g.batch)
    (g.initial ++ batches.flatMap(b => b.updates ++ b.inserts))
      .map(_.canonical.getBytes(UTF_8)) ++
      batches.flatMap(_.deletes).map(k => k.toString.getBytes(UTF_8))
  }

  private def corpus(docs: Int)(seed: Long): Seq[Array[Byte]] =
    new CorpusGen(seed, docs).texts.map(_.getBytes(UTF_8))

  /** Tables are compared through their sorted rows, since a parquet
    * file embeds writer metadata. */
  private def gate(spark: org.apache.spark.sql.SparkSession, seed: Long,
                   dir: String): Seq[Array[Byte]] = {
    GateData.write(spark, seed, 0.001, dir)
    Seq("customer", "orders", "lineitem", "events", "documents").map { t =>
      spark.read.parquet(s"$dir/$t.parquet").collect().map(_.toString)
        .sorted.mkString("\n").getBytes(UTF_8)
    }
  }

  /** The Zipf exponent of the update keys the workload applies: the
    * least-squares slope of log(updates per key) on log(rank), over
    * geometric rank bins, across 300 batches at the workload's sizes.
    * Ranks 200 to 10,000 are used: there a key's chance to be in a batch
    * is still close to proportional to its draw probability (a batch
    * keeps each key once). */
  def zipfExponent(seed: Long): Double = {
    val batches = 300
    val g = new CdcGen(seed, LakeWorkload.InitialRows, LakeWorkload.BatchRows)
    val rankOf = (1 to g.initialRows).map(r => g.keyOfRank(r) -> r).toMap
    val counts = new Array[Int](g.initialRows + 2)
    for (b <- 0 until batches; x <- g.batch(b).updates) counts(rankOf(x.key)) += 1
    val pts = Iterator.iterate(200)(e => e * 3 / 2).takeWhile(_ * 3 / 2 <= 10000)
      .map { lo =>
        val hi = lo * 3 / 2
        (math.log(math.sqrt(lo.toDouble * (hi - 1))),
          math.log((lo until hi).map(counts(_)).sum.toDouble / (hi - lo)))
      }.toSeq
    val mx = pts.map(_._1).sum / pts.size
    val my = pts.map(_._2).sum / pts.size
    -pts.map { case (x, y) => (x - mx) * (y - my) }.sum /
      pts.map { case (x, _) => (x - mx) * (x - mx) }.sum
  }

  def run(work: String): Boolean = {
    val results = scala.collection.mutable.ArrayBuffer.empty[(String, Boolean)]
    def expect(name: String, ok: Boolean): Unit = {
      results += name -> ok
      System.err.println(s"[selftest] ${if (ok) "ok  " else "FAIL"} $name")
    }
    def reproducible(name: String, gen: Long => Seq[Array[Byte]]): Unit = {
      val (a, b, c) = (Gen.sha256(gen(11)), Gen.sha256(gen(11)),
        Gen.sha256(gen(12)))
      expect(s"$name: same seed, same bytes", a == b)
      expect(s"$name: other seed, other bytes", a != c)
    }
    reproducible("gbfs feeds", gbfs)
    reproducible("cdc table and batches", cdc)
    reproducible("hot corpus", corpus(BikeWorkload.HotDocs))
    val spark = graft.core.GraftSession.local(2, "perfbench-selftest")
    try reproducible("gate tables", {
      var n = 0
      seed => { n += 1; gate(spark, seed, s"$work/gate$n") }
    })
    finally spark.stop()
    for (docs <- Seq(BikeWorkload.HotDocs, CorpusWorkload.Docs)) {
      val share = new CorpusGen(11, docs).topGramShare
      expect(f"hot corpus of $docs docs: top-gram share $share%.3f >= 0.5",
        share >= 0.5)
    }
    val s = zipfExponent(11)
    expect(f"cdc update-key Zipf exponent estimate $s%.3f within 0.05 of " +
      f"${CdcGen.ZipfS}", math.abs(s - CdcGen.ZipfS) <= 0.05)
    results.forall(_._2)
  }
}
