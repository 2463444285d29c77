package graft.text

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec
import graft.core.Tables

class DedupSpec extends AnyFunSuite with Matchers with SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("exact dedup: planted copies collapse to the original keeper") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val planted = docs.unionByName(
      docs.filter($"doc_id" < 5).withColumn("doc_id", $"doc_id" + 100000))
    val out = Dedup.exactDedup(planted)
    out.filter(!$"is_keeper").select($"doc_id").as[Long].collect()
      .sorted shouldBe (0L until 5L).map(_ + 100000).toArray
    out.filter($"is_keeper").count() shouldBe docs.count()
  }

  test("minhash-LSH near-dup: planted first-token edits are recovered, " +
    "originals are not near-dups of each other") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val planted = docs.unionByName(
      docs.filter($"doc_id" < 5)
        .withColumn("doc_id", $"doc_id" + 100000)
        .withColumn("text", regexp_replace($"text", "^\\S+", "qqq")))
    val pairs = Dedup.nearDupPairs(planted, threshold = 0.5)
      .select($"id_a", $"id_b", $"jaccard").collect()
    val plantedPairs = pairs.filter(r => r.getLong(1) == r.getLong(0) + 100000)
    plantedPairs should have length 5
    all(plantedPairs.map(_.getDouble(2))) should be > 0.5
    // every emitted pair is exact-Jaccard-verified above the threshold
    // (the natural corpus contains real near-dups too — that's fine)
    all(pairs.map(_.getDouble(2))) should be >= 0.5
    all(pairs.map(r => r.getLong(0) < r.getLong(1))) shouldBe true
  }

  test("simhash: exact copies share fingerprints (hamming 0)") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val planted = docs.unionByName(
      docs.filter($"doc_id" < 5).withColumn("doc_id", $"doc_id" + 100000))
    val pairs = Dedup.simhashPairs(planted, maxHamming = 3)
      .select($"id_a", $"id_b", $"hamming").collect()
    val plantedPairs = pairs.filter(r => r.getLong(1) == r.getLong(0) + 100000)
    plantedPairs should have length 5
    all(plantedPairs.map(_.getInt(2))) shouldBe 0
  }

  test("hot-bucket cap: a degenerate bucket of 1200 docs emits at most " +
    "cap² candidates and the truncation is reported") {
    import spark.implicits._
    // 1200 docs in one (band, bucket) — the all-empty/boilerplate shape
    // that would otherwise self-join 1200² — plus a small healthy bucket
    val hot = (0L until 1200L).map(i => (0, 42, i))
    val cool = Seq((1, 7, 5000L), (1, 7, 5001L))
    val buckets = (hot ++ cool).toDF("band", "bucket", "doc_id")
    val pairs = Dedup.candidatePairs(buckets, "doc_id", maxBucketSize = 50)
      .as[(Long, Long)].collect()
    graft.core.TransientCache.drain()
    val hotPairs = pairs.filter(_._1 < 5000L)
    hotPairs.length shouldBe 50 * 49 / 2 // C(cap, 2), not C(1200, 2)
    // the kept subset is deterministic (hash-ordered, not
    // smallest-id-biased): a second run keeps the identical sample
    val again = Dedup.candidatePairs(buckets, "doc_id", maxBucketSize = 50)
      .as[(Long, Long)].collect()
    graft.core.TransientCache.drain()
    again.sorted shouldBe pairs.sorted
    pairs should contain((5000L, 5001L)) // cool bucket untouched
    val reported = Dedup.truncatedBuckets(buckets, Seq("band", "bucket"), 50)
      .as[(Int, Int, Long)].collect()
    reported shouldBe Array((0, 42, 1200L))
  }

  test("simhash hot-bucket cap: 1200 identical docs complete with bounded " +
    "candidates; distinct docs are unaffected") {
    import spark.implicits._
    val degenerate = (0L until 1200L).map(i => (i, "same boilerplate header"))
    val distinct = Seq((9000L, "completely different text payload one"),
      (9001L, "completely different text payload one"))
    val docs = (degenerate ++ distinct).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(docs, maxBucketSize = 50)
      .select($"id_a", $"id_b").as[(Long, Long)].collect()
    graft.core.TransientCache.drain()
    // all 4 bands keep the same 50 hash-ordered ids (capBuckets samples by
    // xxhash64(id), not raw id) → C(50,2) after distinct
    val hotPairs = pairs.filter(_._1 < 9000L)
    hotPairs.length shouldBe 50 * 49 / 2
    pairs should contain((9000L, 9001L))
  }

  test("blocked n-gram jaccard: identical docs → 1.0, disjoint → 0.0") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e", "x"),
      (2L, "a b c d e", "x"),
      (3L, "p q r s t", "x")).toDF("doc_id", "text", "lang")
    val out = Dedup.blockedNgramJaccard(docs)
      .select($"id_a", $"id_b", $"jaccard").as[(Long, Long, Double)]
      .collect().sortBy(_._1)
    out shouldBe Array((1L, 2L, 1.0), (2L, 3L, 0.0))
  }

  test("shingles: short documents degrade to the full text") {
    import spark.implicits._
    val out = Dedup.withShingles(Seq((1L, "one two")).toDF("doc_id", "text"))
      .select($"shingles").collect().head.getSeq[String](0)
    out shouldBe Seq("one two")
  }

  test("winnow pairs: planted first-token edits are recovered with high " +
    "fingerprint overlap") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val planted = docs.unionByName(
      docs.filter($"doc_id" < 5)
        .withColumn("doc_id", $"doc_id" + 100000)
        .withColumn("text", regexp_replace($"text", "^\\S+", "qqq")))
    // maxDocFreq=30: the synthetic corpus's tiny vocabulary makes
    // cross-doc k-gram collisions much denser than real text, so the
    // production default (10) over-prunes here
    val pairs = Dedup.winnowPairs(planted, maxDocFreq = 30)
      .select($"id_a", $"id_b", $"n_shared").as[(Long, Long, Long)]
      .collect()
    graft.core.TransientCache.drain()
    val plantedPairs = pairs.filter { case (a, b, _) => b == a + 100000 }
    plantedPairs should have length 5
    // a first-token edit leaves almost the whole document intact: the
    // planted pair shares far more than the 3-fingerprint floor
    all(plantedPairs.map(_._3)) should be >= 5L
  }

  test("paragraph dedup keeps only the globally-first carrier of " +
    "repeated boilerplate and reassembles in order") {
    import spark.implicits._
    val docs = Seq(
      (1L, "unique one\n\nSHARED FOOTER\n\nunique two"),
      (2L, "fresh prose\n\nSHARED FOOTER"),
      (3L, "SHARED FOOTER\n\nlast words")).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(docs)
      .select($"doc_id", $"text_dedup", $"n_paras", $"n_kept")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    graft.core.TransientCache.drain()
    out(0) shouldBe ((1L, "unique one\n\nSHARED FOOTER\n\nunique two",
      3L, 3L))
    out(1) shouldBe ((2L, "fresh prose", 2L, 1L))
    out(2) shouldBe ((3L, "last words", 2L, 1L))
  }

  test("paragraph dedup: a doc made entirely of earlier paragraphs " +
    "comes back empty, and a within-doc repeat keeps its first copy") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha\n\nalpha\n\nbeta"),
      (2L, "beta\n\nalpha")).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(docs)
      .select($"doc_id", $"text_dedup", $"n_paras", $"n_kept")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    graft.core.TransientCache.drain()
    // doc 1: the second "alpha" (pos 1) loses to pos 0; beta survives
    out(0) shouldBe ((1L, "alpha\n\nbeta", 3L, 2L))
    // doc 2: both paragraphs first appeared in doc 1 — nothing left
    out(1) shouldBe ((2L, "", 2L, 0L))
  }

  test("duplicated spans: cross-doc k-gram windows count, within-doc " +
    "repeats do not, shorties surface with zero spans and null ratio") {
    import spark.implicits._
    val docs = Seq(
      // "a b c" (k=3) appears in docs 1 and 2 → both positions count;
      // doc 1's "x x x" repeats WITHIN doc 1 only → not duplicated
      (1L, "a b c d x x x x"),
      (2L, "z a b c"),
      (3L, "only two")).toDF("doc_id", "text")
    val out = Dedup.duplicatedSpans(docs, k = 3)
      .as[(Long, Long, Long, Option[Double])].collect().sortBy(_._1)
    // doc 1: 6 windows; only "a b c" is cross-doc duplicated
    out(0) shouldBe ((1L, 6L, 1L, Some(1.0 / 6)))
    // doc 2: 2 windows ("z a b", "a b c"); one duplicated
    out(1) shouldBe ((2L, 2L, 1L, Some(0.5)))
    // doc 3: shorter than k — zero spans, null ratio, still present
    out(2) shouldBe ((3L, 0L, 0L, None))
  }

  test("span removal: duplicated windows cut from every carrier but " +
    "the first, overlaps merge, keeper and unique text survive, " +
    "shorties untouched") {
    import spark.implicits._
    val docs = Seq(
      // "a b c" is in docs 1, 2 and 4 → doc 1 (min id) keeps it;
      // docs 2 and 4 lose those 3 tokens. Doc 2's "b c z" window is
      // NOT duplicated but its b/c tokens are covered by the cut.
      (1L, "a b c d e"),
      (2L, "z a b c z q"),
      (4L, "a b c"),
      // within-doc repeat only — nothing cross-doc, nothing removed
      (5L, "x x x x"),
      (7L, "hi")).toDF("doc_id", "text")
    val out = Dedup.removeDuplicatedSpans(docs, k = 3)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    out(0) shouldBe ((1L, 5L, 0L, "a b c d e")) // keeper: untouched
    out(1) shouldBe ((2L, 6L, 3L, "z z q")) // "a b c" cut, rest joins
    out(2) shouldBe ((4L, 3L, 3L, "")) // fully duplicated → empty
    out(3) shouldBe ((5L, 4L, 0L, "x x x x")) // within-doc only
    out(4) shouldBe ((7L, 1L, 0L, "hi")) // shorter than k
    // overlap merge: two overlapping duplicated windows in one doc
    // remove the UNION of their tokens, not double-count
    val docs2 = Seq(
      (1L, "p q r s t"), // keeper of both grams
      (2L, "p q r s t u")).toDF("doc_id", "text")
    val got2 = Dedup.removeDuplicatedSpans(docs2, k = 3)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    // doc 2's windows "p q r","q r s","r s t" are all duplicated →
    // tokens 0..4 cut once; "s t u" is unique to doc 2 but s,t are
    // covered — only "u" survives
    got2(1) shouldBe ((2L, 6L, 5L, "u"))
  }

  test("edit-distance join: planted pairs at distance 0/1/2 found, " +
    "distance-3 excluded, equals in-test brute force, no cartesian") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over it"),
      (2L, "the quick brown fox jumps over it"),   // dist 0 to 1
      (3L, "the quick brown fox bumps over it"),   // dist 1
      (4L, "tho quick brewn fox jumps over it"),   // dist 2
      (5L, "xyz quick brown fox jumps over it"),   // dist 3 (excluded vs 1)
      (6L, "completely different text entirely"),
      (7L, "zz"))                                   // shorter than k+1: dropped
      .toDF("doc_id", "text")
    val df = Dedup.editDistanceJoin(docs, k = 2, prefixLen = 32)
    val got = df.as[(Long, Long, Long)].collect().toSet
    // in-test brute force over the same normalization
    def norm(t: String) = t.toLowerCase.take(32)
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val rows = docs.as[(Long, String)].collect().filter(_._2.length > 2)
    val want = (for {
      (ia, ta) <- rows; (ib, tb) <- rows if ia < ib
      dist = lev(norm(ta), norm(tb)) if dist <= 2
    } yield (ia, ib, dist.toLong)).toSet
    got shouldBe want
    got.map(p => (p._1, p._2)) should contain allOf ((1L, 2L), (1L, 3L), (1L, 4L))
    (got.map(p => (p._1, p._2)) should not).contain((1L, 5L))
    // the plan is a keyed hash join on segments — never a cross product
    val plan = df.queryExecution.executedPlan.toString
    (plan should not).include("CartesianProduct")
    (plan should not).include("BroadcastNestedLoopJoin")
  }

  test("sizedPartitions clamps to [1, session shuffle partitions]: tiny " +
    "frames collapse, huge estimates cap at the session width") {
    import spark.implicits._
    // the session width is the documented cap, max(shuffle partitions,
    // default parallelism); the next test pins the max
    def cap = math.max(spark.conf.get("spark.sql.shuffle.partitions").toInt,
      spark.sparkContext.defaultParallelism)
    val tiny = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    Dedup.sizedPartitions(tiny) shouldBe 1
    // force a huge estimate with a tiny target so the cap engages
    val capped = Dedup.sizedPartitions(
      Tables.documents(spark, sf), targetBytes = 1L)
    capped shouldBe cap
    // never below 1, never above the cap, for any frame
    val mid = Dedup.sizedPartitions(Tables.documents(spark, sf))
    mid should be >= 1
    mid should be <= cap
  }

  test("sizedPartitions: a session shuffle width below the default " +
    "parallelism caps at the default parallelism") {
    val parallelism = spark.sparkContext.defaultParallelism
    assume(parallelism > 1, "needs a default parallelism above 1")
    val key = "spark.sql.shuffle.partitions"
    val previous = spark.conf.get(key)
    spark.conf.set(key, "1")
    try Dedup.sizedPartitions(Tables.documents(spark, sf),
      targetBytes = 1L) shouldBe parallelism
    finally spark.conf.set(key, previous)
  }
}
