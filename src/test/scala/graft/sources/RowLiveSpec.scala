package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** Pins the shared row-liveness machinery of the three formats: one
  * byte-capped LRU holds every decoded kill set (lake blocks, Delta
  * vectors, Iceberg delete maps), repeated reads of an unchanged
  * vectored table reuse ONE broadcast whose plan names the table, and
  * a reused broadcast never applies a kill set to a file the read
  * scans without one. */
class RowLiveSpec extends AnyFunSuite with Matchers with SparkSpec {

  private def fresh(): String =
    java.nio.file.Files.createTempDirectory("graft-rowlive").toString + "/t"

  private def ids(n: Int): DataFrame = {
    import spark.implicits._
    (1L to n.toLong).map(i => (i, i * 2)).toDF("id", "v").repartition(4)
  }

  /** The broadcast ids the plan's `dv_live` predicates carry. */
  private def envIds(df: DataFrame): Seq[Long] =
    df.queryExecution.analyzed.flatMap(_.expressions.flatMap(_.collect {
      case r: RowLive => r.env.id
    }))

  /** The id the next broadcast will get. */
  private def nextBroadcastId(): Long = {
    val b = spark.sparkContext.broadcast(0)
    try b.id finally b.destroy()
  }

  test("Delta vectors and Iceberg delete maps share one byte budget") {
    val hconf = DeletionVectors.hadoopConfMap(spark)
    val dt = fresh()
    DeltaInterop.write(ids(4000), dt)
    DeltaInterop.delete(spark, dt, col("id") % 3 === 0)
    val deltaToks = DeltaInterop.state(spark, dt, None).files
      .flatMap(_.dv).map(ForeignDv.deltaToken)
    val it = fresh()
    IcebergInterop.write(ids(4000), it)
    IcebergInterop.upgradeFormat(spark, it)
    IcebergInterop.deleteMor(spark, it, col("id") % 5 === 0)
    IcebergInterop.deleteMor(spark, it, col("id") % 7 === 0)
    val ist = IcebergInterop.state(spark, it, None)
    val dataKey = ForeignDv.forms(ist.files.head.path).head
    val icebergToks = ist.posDeletes.map(d => ForeignDv.icebergToken(Seq(d)))
    deltaToks.size should be >= 2
    icebergToks.size should be >= 2
    def load(c: DeletionVectors.KillSetCache): Seq[Long] =
      deltaToks.map { tok =>
        c.killSets(dt, "k", tok, hconf).map(_.cardinality).sum
      } ++ icebergToks.map { tok =>
        c.killSets(it, dataKey, tok, hconf).map(_.cardinality).sum
      }
    // every kill set's own size, each loaded into an empty cache
    val sizes = (deltaToks.map((dt, "k", _)) ++
      icebergToks.map((it, dataKey, _))).map { case (t, k, tok) =>
        val c = new DeletionVectors.KillSetCache(Long.MaxValue)
        c.killSets(t, k, tok, hconf)
        c.bytes
      }
    val cap = math.max(sizes.max, sizes.sum / 2)
    sizes.sum should be > cap
    val capped = new DeletionVectors.KillSetCache(cap)
    val unbounded = new DeletionVectors.KillSetCache(Long.MaxValue)
    // the capped cache evicts across dialects and stays within its cap,
    // serving the same kill sets as an unbounded one
    load(capped) shouldBe load(unbounded)
    capped.bytes should be <= cap
    unbounded.bytes shouldBe sizes.sum
    load(capped) shouldBe load(unbounded)
    capped.bytes should be <= cap
  }

  test("repeated reads of an unchanged vectored Delta or Iceberg table " +
    "reuse one broadcast, and the plan names the table") {
    val dt = fresh()
    DeltaInterop.write(ids(1000), dt)
    DeltaInterop.delete(spark, dt, col("id") % 10 === 0)
    val it = fresh()
    IcebergInterop.write(ids(1000), it)
    IcebergInterop.upgradeFormat(spark, it)
    IcebergInterop.deleteMor(spark, it, col("id") % 10 === 0)
    for ((t, read) <- Seq[(String, () => DataFrame)](
        dt -> (() => DeltaInterop.read(spark, dt)),
        it -> (() => IcebergInterop.read(spark, it)))) {
      val before = nextBroadcastId()
      val reads = (1 to 20).map(_ => read())
      (nextBroadcastId() - before - 1) should be <= 1L
      reads.flatMap(envIds).distinct should have size 1
      reads.last.queryExecution.executedPlan.toString should include(
        "dv_live")
      reads.last.queryExecution.analyzed.toString should include(t)
      reads.last.count() shouldBe 900L
    }
  }

  test("a lake DML after restore does not apply a reused broadcast's " +
    "stale kill set to a file that no longer carries one") {
    import spark.implicits._
    val t = fresh()
    // two files: ids 1..100 and 101..200
    ManifestLake.writeClustered(
      (1 to 200).map(i => (i.toLong, s"p$i")).toDF("id", "payload"),
      t, "id", nFiles = 2)
    ManifestLake.deleteMor(spark, t, col("id") === 150L) // v2: 2nd file
    ManifestLake.deleteMor(spark, t, col("id") === 50L)  // v3: 1st file
    ManifestLake.read(spark, t).count() shouldBe 198L
    // v4 = v2's files: the 1st file is back without a vector
    ManifestLake.restore(spark, t, 2L)
    ManifestLake.read(spark, t).count() shouldBe 199L
    // a MOR delete touching both files must see row 50 again
    ManifestLake.deleteMor(spark, t, col("id") === 50L || col("id") === 160L)
    ManifestLake.read(spark, t).count() shouldBe 197L
    ManifestLake.read(spark, t)
      .filter(col("id").isin(50L, 150L, 160L)).count() shouldBe 0L
  }

  test("Iceberg position deletes: each data file's token names only its " +
    "own delete files") {
    import spark.implicits._
    val it = fresh()
    IcebergInterop.write(ids(4000), it)
    IcebergInterop.upgradeFormat(spark, it)
    IcebergInterop.deleteMor(spark, it, col("id") % 5 === 0)
    IcebergInterop.deleteMor(spark, it, col("id") % 7 === 0)
    val st = IcebergInterop.state(spark, it, None)
    st.files.size shouldBe 4
    st.posDeletes.size shouldBe 8
    // every delete file the writer staged references one data file
    st.posDeleteRefs.keySet shouldBe st.posDeletes.toSet
    val read = IcebergInterop.read(spark, it)
    val refs = read.queryExecution.analyzed.flatMap(_.expressions.flatMap(
      _.collect { case r: RowLive => r.env.value._1 })).head
    st.files.foreach { f =>
      val tok = ForeignDv.forms(f.path).flatMap(refs.get).head
      val named = tok.split(ForeignDv.Sep).drop(1).toSet
      named.size shouldBe 2
      named.foreach(d => st.posDeleteRefs(d) shouldBe f.path)
    }
    val want = (1L to 4000L).filter(i => i % 5 != 0 && i % 7 != 0)
    read.select("id").as[Long].collect().sorted.toSeq shouldBe want
    read.filter(col("id") < 100L).count() shouldBe want.count(_ < 100L)
  }
}
