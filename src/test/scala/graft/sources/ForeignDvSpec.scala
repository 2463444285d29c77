package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** Pins the PER-FILE foreign kill-set application ([[RowLive]]):
  * a vectored Delta read and a position-deleted Iceberg read plan NO
  * Exchange (the r12 whole-scan anti-join is structurally gone — the
  * same done-criterion the native lake met in r9), results stay exact
  * across cumulative deletes, and the predicate sits inside the scan
  * stage as a codegen'd filter. */
class ForeignDvSpec extends AnyFunSuite with Matchers with SparkSpec {

  private def fresh(): String =
    java.nio.file.Files.createTempDirectory("graft-fdv").toString + "/t"

  test("vectored Delta read: no Exchange in the plan, per-file " +
    "predicate applies cumulative vectors exactly") {
    import spark.implicits._
    val t = fresh()
    DeltaInterop.write((1L to 1000L).map(i => (i, i * 2))
      .toDF("id", "v").repartition(4), t)
    DeltaInterop.delete(spark, t, col("id") % 10 === 0) // DV commit 1
    DeltaInterop.delete(spark, t, col("id") % 7 === 0)  // cumulative
    val df = DeltaInterop.read(spark, t)
    val plan = df.queryExecution.executedPlan.toString
    plan should not include "Exchange"
    plan should include("dv_live")
    df.count() shouldBe (1L to 1000L)
      .count(i => i % 10 != 0 && i % 7 != 0)
    df.filter($"id" % 10 === 0 || $"id" % 7 === 0).count() shouldBe 0L
    // filter pushdown under the DV predicate stays intact
    val pruned = DeltaInterop.read(spark, t).filter($"id" === 11L)
    pruned.queryExecution.executedPlan
      .toString should not include "Exchange"
    pruned.select($"v").as[Long].head() shouldBe 22L
  }

  test("position-deleted Iceberg read: no Exchange in the plan, one " +
    "delete file decodes once and serves every data file's probe") {
    import spark.implicits._
    val t = fresh()
    IcebergInterop.write((1L to 1000L).map(i => (i, i * 2))
      .toDF("id", "v").repartition(4), t)
    IcebergInterop.upgradeFormat(spark, t)
    IcebergInterop.deleteMor(spark, t, col("id") % 10 === 0)
    IcebergInterop.deleteMor(spark, t, col("id") % 7 === 0) // 2nd file
    val df = IcebergInterop.read(spark, t)
    val plan = df.queryExecution.executedPlan.toString
    plan should not include "Exchange"
    plan should include("dv_live")
    df.count() shouldBe (1L to 1000L)
      .count(i => i % 10 != 0 && i % 7 != 0)
    df.filter($"id" % 10 === 0 || $"id" % 7 === 0).count() shouldBe 0L
    // time travel BEFORE the deletes still serves every row
    val st = IcebergInterop.state(spark, t, None)
    val firstSnap = IcebergInterop.history(spark, t)
      .orderBy(col("timestamp_ms"), col("sequence_number"))
      .select("snapshot_id").limit(1).collect().head.getLong(0)
    IcebergInterop.readSnapshot(spark, t, firstSnap).count() shouldBe 1000L
    st.posDeletes.size should be >= 2 // one staged set per commit
  }

  test("a MOR re-insert after a position delete survives (path-keyed " +
    "semantics) under the per-file predicate") {
    import spark.implicits._
    val t = fresh()
    IcebergInterop.write((1L to 100L).map(i => (i, i))
      .toDF("id", "v"), t)
    IcebergInterop.upgradeFormat(spark, t)
    IcebergInterop.deleteMor(spark, t, col("id") === 50L)
    IcebergInterop.read(spark, t).count() shouldBe 99L
    IcebergInterop.write(Seq((50L, 5000L)).toDF("id", "v"), t)
    val out = IcebergInterop.read(spark, t)
    out.count() shouldBe 100L
    out.filter($"id" === 50L).select($"v").as[Long].head() shouldBe 5000L
  }
}
