package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** Plan audit for aggregation over the range-clustered layout: a
  * grouped aggregate over a [[ManifestLake.readRange]] window must
  *  1. SCAN only the files whose manifest range intersects the query
  *     window (file skipping survives under the agg — observable via
  *     the plan's input files), and
  *  2. aggregate map-side first (partial HashAggregate before the
  *     exchange), so what crosses the shuffle is one row per
  *     (partition × group), not the window's rows — with one file per
  *     Spark partition and pairwise-disjoint file ranges, that is the
  *     per-file-group partial aggregation the clustered write set up.
  * Together: the agg's cost is O(selectivity) scan + O(groups)
  * shuffle, independent of table size — the shape that survives
  * 100 TB. */
class ClusteredAggSpec extends AnyFunSuite with Matchers with SparkSpec {

  test("a grouped agg over a clustered range window scans only " +
    "intersecting files and partial-aggregates before the shuffle") {
    import spark.implicits._
    val t = java.nio.file.Files
      .createTempDirectory("graft-mlake-agg").toString + "/t"
    // 16 files clustered on id: file k covers ids (k*1000, (k+1)*1000]
    val rows = (1 to 16000).map(i => (i.toLong, i % 7, i * 1.0))
      .toDF("id", "grp", "x")
    ManifestLake.writeClustered(rows, t, "id", nFiles = 16)
    val snap = ManifestLake.snapshot(spark, t)
    snap.entries should have size 16

    // the window [2100, 3900] intersects exactly the two files covering
    // (2000, 3000] and (3000, 4000] — pinned at the manifest level...
    val candidates = ManifestLake.rangeCandidates(
      snap, "id", BigDecimal(2100), BigDecimal(3900))
    candidates should have size 2

    // ...and the AGGREGATE's scan reads exactly those files, nothing more
    val agg = ManifestLake.readRange(spark, t, "id", 2100.0, 3900.0)
      .groupBy("grp").agg(sum("x").as("sx"), count(lit(1)).as("n"))
    agg.inputFiles.toSeq.map(_.split('/').last).sorted shouldBe
      candidates.map(_.path.split('/').last).sorted

    // values are exact (skipping lost nothing)
    val got = agg.collect().map(r =>
      r.getInt(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val expect = (2100 to 3900).groupBy(_ % 7)
    got.keySet shouldBe expect.keySet
    expect.foreach { case (g, is) =>
      got(g)._1 shouldBe is.map(_.toDouble).sum
      got(g)._2 shouldBe is.size.toLong
    }

    // plan audit: map-side partial aggregation below the exchange —
    // each one-file partition collapses to ≤ |groups| rows before any
    // data moves (disjoint file ranges make those partials per-group
    // complete within their range)
    val plan = agg.queryExecution.executedPlan.toString
    plan should include("partial_sum")
    withClue(plan) {
      plan.linesIterator.exists(l =>
        l.contains("HashAggregate") && l.contains("partial_")) shouldBe true
    }
  }

  test("clustered compaction restores range skipping that interleaved " +
    "appends destroyed (the OPTIMIZE idiom)") {
    import spark.implicits._
    val t = java.nio.file.Files
      .createTempDirectory("graft-mlake-agg").toString + "/t"
    // 8 appends whose id ranges all interleave: every file spans the
    // whole value space, so range skipping prunes NOTHING
    (0 until 8).foreach { k =>
      ManifestLake.write(
        (0 until 1000).map(i => ((i * 8 + k).toLong, s"p$i"))
          .toDF("id", "payload").coalesce(1),
        t, statsCol = Some("id"))
    }
    val before = ManifestLake.snapshot(spark, t)
    ManifestLake.rangeCandidates(before, "id", BigDecimal(0),
      BigDecimal(499)).size shouldBe before.entries.size // no pruning
    val report = ManifestLake.compact(spark, t,
      targetFileBytes = 16 * 1024, clusterCol = Some("id"))
    report.filesAfter should be > 1
    val after = ManifestLake.snapshot(spark, t)
    // same rows, but a narrow window now touches a strict subset
    ManifestLake.read(spark, t).count() shouldBe 8000
    val pruned = ManifestLake.rangeCandidates(after, "id", BigDecimal(0),
      BigDecimal(499)).size
    pruned should be < after.entries.size
    ManifestLake.readRange(spark, t, "id", 0.0, 499.0)
      .count() shouldBe 500
  }

  test("disjoint query windows resolve to disjoint file sets (the " +
    "clustered write's pairwise-disjoint range contract)") {
    import spark.implicits._
    val t = java.nio.file.Files
      .createTempDirectory("graft-mlake-agg").toString + "/t"
    ManifestLake.writeClustered(
      (1 to 8000).map(i => (i.toLong, s"p$i")).toDF("id", "payload"),
      t, "id", nFiles = 8)
    val snap = ManifestLake.snapshot(spark, t)
    val lo = ManifestLake.rangeCandidates(
      snap, "id", BigDecimal(1), BigDecimal(1900)).map(_.path).toSet
    val hi = ManifestLake.rangeCandidates(
      snap, "id", BigDecimal(6100), BigDecimal(8000)).map(_.path).toSet
    lo should not be empty
    hi should not be empty
    lo.intersect(hi) shouldBe empty
    (lo.size + hi.size) should be < snap.files.size
  }

  test("a small clustered write's file ranges are exact and do not depend " +
    "on how many RDDs the session made before it") {
    import spark.implicits._
    val rows = (1 to 16000).map(i => (i.toLong, i % 7)).toDF("id", "grp")
    def ranges(): Seq[(BigDecimal, BigDecimal)] = {
      val t = java.nio.file.Files
        .createTempDirectory("graft-mlake-ranges").toString + "/t"
      ManifestLake.writeClustered(rows, t, "id", nFiles = 16)
      ManifestLake.snapshot(spark, t).entries.flatMap(_.range("id"))
        .map(r => (r.min, r.max)).sortBy(_._1)
    }
    val first = ranges()
    // the range exchange seeds its sample from the RDD id
    (1 to 37).foreach(_ => spark.sparkContext.emptyRDD[Int])
    ranges() shouldBe first
    first shouldBe (0 until 16).map(k =>
      (BigDecimal(k * 1000 + 1), BigDecimal((k + 1) * 1000)))
  }
}
