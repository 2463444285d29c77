package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Correctness-gate entries for the manifest-lake operators that move
  * data (clustered write + stats-skipping range read; copy-on-write
  * MERGE). Each builds its lake table in a memoized temp dir — the build
  * is the offline step, the gated query is what a reader pays — and the
  * gate output is plain row data a DuckDB oracle re-derives from the
  * original parquet, so both rows are hash-exact. The pruning itself
  * (files skipped, untouched files carried verbatim) is pinned in
  * ManifestLakeSpec, where file counts are observable. */
object LakeQueries {

  /** One clustered lake table per (JVM, dataset dir, query): built on
    * first use, reused by later gate/bench invocations (same contract as
    * the staged events dir in StreamingQueries). Each gate row gets its
    * OWN table — lk2's merges and lk3's deletes must never mutate the
    * snapshot lk1's oracle describes. */
  private val builtTables =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def memoClustered(key: String, d: String, clusterCol: String,
                            nFiles: Int, extraStatsCols: Seq[String] = Nil)
                           (base: => DataFrame): String =
    builtTables.computeIfAbsent(s"$key:$d", _ => {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-lake-$key").toString
      ManifestLake.writeClustered(base, dir, clusterCol, nFiles,
        extraStatsCols = extraStatsCols)
      dir
    })

  private def clusteredLineitem(s: SparkSession, d: String): String =
    memoClustered("lk1", d, "l_extendedprice", nFiles = 16)(
      Tables.lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_extendedprice",
          "l_quantity"))

  /** lk1_clustered_range — the data-skipping read path end-to-end:
    * lineitem is range-clustered on `l_extendedprice` into the lake with
    * per-file footer stats recorded, and the query is a narrow range scan
    * through [[ManifestLake.readRange]] — at most ~1/16 of the files
    * open (the cluster width), the rest are skipped at the MANIFEST
    * level, before any listing or footer IO. The oracle filters the
    * original parquet, so the row proves skipping loses nothing. */
  def lk1ClusteredRange(s: SparkSession, d: String): DataFrame =
    ManifestLake.readRange(s, clusteredLineitem(s, d),
      "l_extendedprice", 900.0, 1100.0)
      .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity")

  val lk1Oracle: String =
    """SELECT l_orderkey, l_linenumber, l_extendedprice, l_quantity
      |FROM lineitem
      |WHERE l_extendedprice BETWEEN 900.0 AND 1100.0""".stripMargin

  /** The lk2 update set, derived deterministically from the ORIGINAL
    * customer table (never from the lake), so re-merging it is
    * content-idempotent: repeated gate/bench passes bump the version but
    * the snapshot's rows are identical every time. Keys ≡ 3 (mod 10) are
    * balance adjustments (WHEN MATCHED UPDATE); keys ≡ 0 (mod 97) are
    * re-keyed far outside the live key range (WHEN NOT MATCHED INSERT). */
  private[sources] def lk2Updates(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
      .select("c_custkey", "c_name", "c_nationkey", "c_acctbal",
        "c_mktsegment")
    c.filter(col("c_custkey") % 10 === 3)
      .withColumn("c_acctbal", col("c_acctbal") + 1000.0)
      .unionByName(c.filter(col("c_custkey") % 97 === 0)
        .withColumn("c_custkey", col("c_custkey") + 10000000L))
  }

  // clustered base so the merge's manifest-stats candidate pruning
  // has ranges to prune on: update keys bound which files can match
  private def mergedCustomer(s: SparkSession, d: String): String =
    memoClustered("lk2", d, "c_custkey", nFiles = 8)(
      Tables.customer(s, d)
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal",
          "c_mktsegment"))

  /** lk2_merge_upsert — copy-on-write MERGE through the gate: balance
    * updates replace matched customer rows, re-keyed rows insert, and
    * the query reads the merged snapshot back. IO shape (manifest-stats
    * candidate pruning → key-only touched-file scan → touched-only
    * rewrite) is pinned in ManifestLakeSpec; this row pins the RESULT
    * against DuckDB's anti-join + union re-derivation. The merge runs
    * every invocation (idempotent by construction), so the gate also
    * re-proves stability under repeated application. */
  def lk2MergeUpsert(s: SparkSession, d: String): DataFrame = {
    val table = mergedCustomer(s, d)
    ManifestLake.merge(lk2Updates(s, d), table, Seq("c_custkey"),
      statsCol = Some("c_custkey"))
    ManifestLake.read(s, table)
      .select("c_custkey", "c_name", "c_nationkey", "c_acctbal",
        "c_mktsegment")
  }

  val lk2Oracle: String =
    """WITH upd AS (
      |  SELECT c_custkey, c_name, c_nationkey,
      |    c_acctbal + 1000.0 AS c_acctbal, c_mktsegment
      |  FROM customer WHERE c_custkey % 10 = 3
      |  UNION ALL
      |  SELECT c_custkey + 10000000, c_name, c_nationkey, c_acctbal,
      |    c_mktsegment
      |  FROM customer WHERE c_custkey % 97 = 0)
      |SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
      |FROM upd
      |UNION ALL
      |SELECT c.c_custkey, c.c_name, c.c_nationkey, c.c_acctbal,
      |  c.c_mktsegment
      |FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM upd WHERE upd.c_custkey = c.c_custkey)
      |""".stripMargin

  /** lk3_delete_where — copy-on-write DELETE on its own clustered copy
    * (lk1's table must stay intact): rows below the price floor are
    * deleted with the predicate's range named, so only the low-range
    * files rewrite; re-running the gate hits the no-op path (nothing
    * matches ⇒ version unchanged), proving delete idempotence the same
    * way lk2 proves merge idempotence. */
  def lk3DeleteWhere(s: SparkSession, d: String): DataFrame = {
    val table = memoClustered("lk3", d, "l_extendedprice", nFiles = 16)(
      Tables.lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_extendedprice"))
    ManifestLake.delete(s, table, col("l_extendedprice") < 950.0,
      pruneRange = Some(("l_extendedprice", 0.0, 950.0)))
    ManifestLake.read(s, table)
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
  }

  val lk3Oracle: String =
    """SELECT l_orderkey, l_linenumber, l_extendedprice
      |FROM lineitem
      |WHERE l_extendedprice >= 950.0""".stripMargin

  /** lk4_time_travel — snapshot isolation through the gate: version 1 of
    * lk2's table is the ORIGINAL clustered customer write, and it must
    * read back bit-identical no matter how many merges have advanced the
    * head (the gate order runs lk2's merges first in the same JVM, so
    * this genuinely reads behind the head, not a fresh table). The
    * oracle is the plain customer projection — time travel means the old
    * snapshot IS the old data. */
  def lk4TimeTravel(s: SparkSession, d: String): DataFrame =
    ManifestLake.read(s, mergedCustomer(s, d), version = Some(1L))
      .select("c_custkey", "c_name", "c_nationkey", "c_acctbal",
        "c_mktsegment")

  val lk4Oracle: String =
    """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
      |FROM customer""".stripMargin

  /** lk5_sql_dml — the whole DML surface driven purely from `spark.sql`
    * (the dbt-analog completion): its own clustered customer copy is
    * registered as `graft_lake.lk5_customer`, then the gate runs
    * `MERGE INTO` (lk2's update set through the SQL resolution rule),
    * `DELETE FROM ... WHERE c_acctbal < 0` (prune bounds DERIVED from
    * the predicate against the recorded c_acctbal stats — no hint), and
    * a final SELECT joining the head against `VERSION AS OF 1` to flag
    * which surviving keys predate the merge. Each statement exercises
    * the Catalyst rewrite end-to-end; the oracle re-derives the final
    * state relationally, so the row is hash-exact. Invocation-stable:
    * re-merging restores exactly the rows the delete then removes
    * again. */
  def lk5SqlDml(s: SparkSession, d: String): DataFrame = {
    val dir = memoClustered("lk5", d, "c_custkey", nFiles = 8,
      extraStatsCols = Seq("c_acctbal"))(
      Tables.customer(s, d)
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal",
          "c_mktsegment"))
    LakeSql.register("lk5_customer", dir)
    lk2Updates(s, d).createOrReplaceTempView("lk5_updates")
    s.sql(
      """MERGE INTO graft_lake.lk5_customer t USING lk5_updates u
        |ON t.c_custkey = u.c_custkey
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    s.sql("DELETE FROM graft_lake.lk5_customer WHERE c_acctbal < 0")
    s.sql(
      """SELECT t.c_custkey, t.c_name, t.c_nationkey, t.c_acctbal,
        |  t.c_mktsegment,
        |  CASE WHEN o.c_custkey IS NULL THEN 0 ELSE 1 END AS in_v1
        |FROM graft_lake.lk5_customer t
        |LEFT JOIN (SELECT c_custkey FROM graft_lake.lk5_customer
        |           VERSION AS OF 1) o
        |ON t.c_custkey = o.c_custkey""".stripMargin)
  }

  val lk5Oracle: String =
    """WITH upd AS (
      |  SELECT c_custkey, c_name, c_nationkey,
      |    c_acctbal + 1000.0 AS c_acctbal, c_mktsegment
      |  FROM customer WHERE c_custkey % 10 = 3
      |  UNION ALL
      |  SELECT c_custkey + 10000000, c_name, c_nationkey, c_acctbal,
      |    c_mktsegment
      |  FROM customer WHERE c_custkey % 97 = 0),
      |merged AS (
      |  SELECT * FROM upd
      |  UNION ALL
      |  SELECT c.c_custkey, c.c_name, c.c_nationkey, c.c_acctbal,
      |    c.c_mktsegment
      |  FROM customer c
      |  WHERE NOT EXISTS (SELECT 1 FROM upd WHERE upd.c_custkey = c.c_custkey))
      |SELECT m.c_custkey, m.c_name, m.c_nationkey, m.c_acctbal,
      |  m.c_mktsegment,
      |  CASE WHEN o.c_custkey IS NULL THEN 0 ELSE 1 END AS in_v1
      |FROM merged m
      |LEFT JOIN (SELECT c_custkey FROM customer) o
      |  ON m.c_custkey = o.c_custkey
      |WHERE m.c_acctbal >= 0""".stripMargin

  /** The ls1 table: orders committed as FOUR lake versions (an initial
    * base + three appends, split deterministically on key), the shape an
    * hourly ingest leaves behind. Built once per (JVM, dataset dir). */
  private def versionedOrders(s: SparkSession, d: String): String =
    builtTables.computeIfAbsent(s"ls1:$d", _ => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-lake-ls1").toString
      val o = Tables.orders(s, d).select("o_orderkey", "o_custkey",
        "o_orderstatus", "o_totalprice", "o_orderpriority")
      (0 until 4).foreach(i =>
        ManifestLake.write(o.filter(col("o_orderkey") % 4 === i), dir,
          append = i > 0))
      dir
    })

  /** ls1_lake_stream — the lake as a STREAMING SOURCE through the gate:
    * `readStream.format("graft-lake")` over [[versionedOrders]], driven
    * to completion with AvailableNow into a memory sink. Each committed
    * version arrives as its own micro-batch resolved from the version's
    * delta record (O(new files), no snapshot resolution — the plumbing
    * is [[LakeStreamProvider]]), and the union of the batches must equal one
    * batch read of the table — which is exactly what the DuckDB oracle
    * re-derives from the original orders parquet. Restart/resume
    * semantics (checkpointed version watermark, no re-emission) are
    * pinned in LakeStreamSpec where a persistent checkpoint dir is
    * observable. */
  def ls1LakeStream(s: SparkSession, d: String): DataFrame = {
    val table = versionedOrders(s, d)
    graft.streaming.Streaming.runToMemory(s,
      s.readStream.format("graft-lake").load(table),
      "ls1_lake_stream_tbl",
      org.apache.spark.sql.streaming.OutputMode.Append())
  }

  val ls1Oracle: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |  o_orderpriority
      |FROM orders""".stripMargin

  /** dls1_delta_stream — a Delta-log table as a STREAMING SOURCE
    * through the gate: `readStream.format("graft-delta")` over a
    * four-commit Delta table (dl1's key-split shape, partitioned so
    * every emitted row's partition value comes from the LOG), driven to
    * completion with AvailableNow; the union of the per-commit batches
    * must equal what DuckDB derives from the original orders parquet.
    * Refusal/resume/rate-limit semantics live in DeltaStreamSpec. */
  def dls1DeltaStream(s: SparkSession, d: String): DataFrame = {
    val table = builtTables.computeIfAbsent(s"dls1:$d", _ => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-delta-dls1").toString + "/t"
      val o = Tables.orders(s, d).select("o_orderkey", "o_custkey",
        "o_totalprice", "o_orderpriority")
      (0 until 4).foreach(i =>
        DeltaInterop.write(o.filter(col("o_orderkey") % 4 === i), dir,
          partitionBy = Seq("o_orderpriority")))
      dir
    })
    graft.streaming.Streaming.runToMemory(s,
      s.readStream.format("graft-delta").load(table),
      "dls1_delta_stream_tbl",
      org.apache.spark.sql.streaming.OutputMode.Append())
  }

  val dls1Oracle: String =
    """SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
      |FROM orders""".stripMargin

  /** lk6_schema_evolution — add-column evolution through the gate: the
    * table is customer's (key, name, balance) projection; a second
    * commit appends re-keyed rows carrying a NEW `c_flag` column. The
    * manifest records the widened schema, so the head read serves the
    * original files' `c_flag` as null and the appended files' values —
    * which is exactly what the oracle re-derives with a NULL-projected
    * UNION ALL. Version 1 keeps the narrow shape (pinned in
    * SchemaEvolutionSpec; the gate row pins the widened head). Built
    * once per (JVM, dataset dir) like every lake gate table. */
  private def evolvedCustomer(s: SparkSession, d: String): String =
    builtTables.computeIfAbsent(s"lk6:$d", _ => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-lake-lk6").toString
      val c = Tables.customer(s, d)
        .select("c_custkey", "c_name", "c_acctbal")
      ManifestLake.write(c, dir)
      ManifestLake.write(
        c.withColumn("c_custkey", col("c_custkey") + 10000000L)
          .withColumn("c_flag", (col("c_custkey") % 2 === 0).cast("int")),
        dir)
      dir
    })

  def lk6SchemaEvolution(s: SparkSession, d: String): DataFrame =
    ManifestLake.read(s, evolvedCustomer(s, d))
      .select("c_custkey", "c_name", "c_acctbal", "c_flag")

  val lk6Oracle: String =
    """SELECT c_custkey, c_name, c_acctbal, CAST(NULL AS INTEGER) AS c_flag
      |FROM customer
      |UNION ALL
      |SELECT c_custkey + 10000000 AS c_custkey, c_name, c_acctbal,
      |  CAST((c_custkey + 10000000) % 2 = 0 AS INTEGER) AS c_flag
      |FROM customer""".stripMargin

  /** lk7_zorder_skip — multi-dimensional skipping through the gate:
    * lineitem z-ordered on (l_extendedprice, l_quantity) and queried
    * with a narrow range on the SECOND dimension — the query a 1-D
    * price-clustered layout cannot skip for at all (lk1 covers the
    * first-dimension path). File-level pruning on both dims is pinned
    * in ZOrderSpec where counts are observable; this row pins that the
    * skipped read loses nothing, against the oracle's plain filter. */
  def lk7ZorderSkip(s: SparkSession, d: String): DataFrame = {
    val table = builtTables.computeIfAbsent(s"lk7:$d", _ => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-lake-lk7").toString
      ZOrder.writeZOrdered(
        Tables.lineitem(s, d).select("l_orderkey", "l_linenumber",
          "l_extendedprice", "l_quantity"),
        dir, Seq("l_extendedprice", "l_quantity"), nFiles = 16)
      dir
    })
    ManifestLake.readRange(s, table, "l_quantity", 10.0, 15.0)
      .select("l_orderkey", "l_linenumber", "l_extendedprice",
        "l_quantity")
  }

  val lk7Oracle: String =
    """SELECT l_orderkey, l_linenumber, l_extendedprice, l_quantity
      |FROM lineitem
      |WHERE l_quantity BETWEEN 10.0 AND 15.0""".stripMargin

  /** cd1_change_feed — row-level CDC through the gate: its own
    * clustered customer copy takes one lk2-style MERGE, and the feed
    * over that single version must emit EXACTLY the merge's semantic
    * change set — a `delete` of every matched row's old image and an
    * `insert` of every update row — and nothing else: rows of
    * rewritten files that survived verbatim cancel in the diff, rows
    * of untouched files never enter it. That cancellation is what the
    * DuckDB oracle re-derives relationally from the original customer
    * table, so the row is hash-exact. IO ∝ changed files is pinned in
    * ManifestLakeSpec where file reads are observable. */
  def cd1ChangeFeed(s: SparkSession, d: String): DataFrame = {
    val table = builtTables.computeIfAbsent(s"cd1:$d", _ => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-lake-cd1").toString
      ManifestLake.writeClustered(
        Tables.customer(s, d)
          .select("c_custkey", "c_name", "c_nationkey", "c_acctbal",
            "c_mktsegment"),
        dir, "c_custkey", nFiles = 8)
      ManifestLake.merge(lk2Updates(s, d), dir, Seq("c_custkey"),
        statsCol = Some("c_custkey"))
      dir
    })
    ManifestLake.changeFeed(s, table, 1L, 2L)
      .select("_change_type", "c_custkey", "c_name", "c_nationkey",
        "c_acctbal", "c_mktsegment")
  }

  val cd1Oracle: String =
    """SELECT 'delete' AS _change_type, c_custkey, c_name, c_nationkey,
      |  c_acctbal, c_mktsegment
      |FROM customer WHERE c_custkey % 10 = 3
      |UNION ALL
      |SELECT 'insert' AS _change_type, c_custkey, c_name, c_nationkey,
      |  c_acctbal + 1000.0 AS c_acctbal, c_mktsegment
      |FROM customer WHERE c_custkey % 10 = 3
      |UNION ALL
      |SELECT 'insert' AS _change_type, c_custkey + 10000000 AS c_custkey,
      |  c_name, c_nationkey, c_acctbal, c_mktsegment
      |FROM customer WHERE c_custkey % 97 = 0""".stripMargin

  /** cf1_stream_changes — STREAMING CDC through the gate: a customer
    * table takes one recorded merge, and
    * `readStream.option("readChangeFeed", true)` drains it to
    * completion — version 1's initial data as inserts, then the
    * merge's recorded operation log (old images deleted, update rows
    * inserted) verbatim from its `_changes/` sidecars, each frame a
    * plain streamable scan. The oracle re-derives the union
    * relationally, so the row is hash-exact; resume/refusal semantics
    * live in LakeStreamSpec. */
  def cf1StreamChanges(s: SparkSession, d: String): DataFrame = {
    val table = builtTables.computeIfAbsent(s"cf1:$d", _ => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-lake-cf1").toString
      ManifestLake.writeClustered(
        Tables.customer(s, d)
          .select("c_custkey", "c_name", "c_nationkey", "c_acctbal",
            "c_mktsegment"),
        dir, "c_custkey", nFiles = 8)
      ManifestLake.merge(lk2Updates(s, d), dir, Seq("c_custkey"),
        statsCol = Some("c_custkey"), recordChangeFeed = true)
      dir
    })
    graft.streaming.Streaming.runToMemory(s,
      s.readStream.format("graft-lake")
        .option("readChangeFeed", "true").load(table),
      "cf1_stream_changes_tbl",
      org.apache.spark.sql.streaming.OutputMode.Append())
      .select("_change_type", "_commit_version", "c_custkey", "c_name",
        "c_nationkey", "c_acctbal", "c_mktsegment")
  }

  val cf1Oracle: String =
    """SELECT 'insert' AS _change_type, CAST(1 AS BIGINT) AS _commit_version,
      |  c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
      |FROM customer
      |UNION ALL
      |SELECT 'delete', 2, c_custkey, c_name, c_nationkey, c_acctbal,
      |  c_mktsegment
      |FROM customer WHERE c_custkey % 10 = 3
      |UNION ALL
      |SELECT 'insert', 2, c_custkey, c_name, c_nationkey,
      |  c_acctbal + 1000.0, c_mktsegment
      |FROM customer WHERE c_custkey % 10 = 3
      |UNION ALL
      |SELECT 'insert', 2, c_custkey + 10000000, c_name, c_nationkey,
      |  c_acctbal, c_mktsegment
      |FROM customer WHERE c_custkey % 97 = 0""".stripMargin

  /** lk10_metadata_count — COUNT(*) from the manifest alone: lk1's
    * clustered lineitem table (reused — a count mutates nothing)
    * answers through [[ManifestLake.fastCount]], which sums the
    * per-file row counts recorded at write time and scans NOTHING (the
    * no-data-IO proof lives in ManifestLakeSpec, where the count still
    * answers after the data files are deleted out-of-band). The oracle
    * counts the original parquet. */
  def lk10MetadataCount(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Seq(ManifestLake.fastCount(s, clusteredLineitem(s, d)))
      .toDF("n_rows")
  }

  val lk10Oracle: String =
    "SELECT CAST(count(*) AS BIGINT) AS n_rows FROM lineitem"

  /** mv1_incremental_agg — incremental view maintenance through the
    * gate: a per-nation balance view over its own clustered customer
    * copy is built from the initial feed, then the source takes a
    * CDC-recorded MERGE (lk2's update set) and a CDC-recorded DELETE,
    * and the view is refreshed INCREMENTALLY — the refresh reads only
    * the two versions' changed files plus the O(distinct keys) view,
    * never re-scanning the source. Decimal sums make the incremental
    * result bit-identical to re-aggregation, which is exactly what the
    * DuckDB oracle does from scratch — so the row is hash-exact (the
    * surface casts the exact decimal to DOUBLE on both sides; see the
    * result-builder comment). The
    * row additionally grades ITSELF: an in-engine scratch
    * re-aggregation is compared per group and emitted as the
    * `incr_matches_scratch` boolean, so maintenance drift flips a flag
    * in the row rather than only moving the hash.
    * Resume/idempotence/definition-guard semantics live in
    * MaterializedAggSpec. */
  /** The shared mv source + sum-view build (the DML script both mv gate
    * rows grade against): a clustered customer copy, a sum view built
    * from the initial feed, then a CDC-recorded MERGE and DELETE and an
    * incremental refresh. Memoized so mv1/mv3 build it once between
    * them, whichever runs first. */
  private def mv1Dirs(s: SparkSession, d: String): Array[String] =
    builtTables.computeIfAbsent(s"mv1:$d", _ => {
      val src = java.nio.file.Files
        .createTempDirectory("graft-lake-mv1src").toString
      val aggDir = java.nio.file.Files
        .createTempDirectory("graft-lake-mv1agg").toString
      ManifestLake.writeClustered(
        Tables.customer(s, d)
          .select("c_custkey", "c_name", "c_nationkey", "c_acctbal",
            "c_mktsegment"),
        src, "c_custkey", nFiles = 8,
        extraStatsCols = Seq("c_acctbal"))
      MaterializedAgg.refresh(s, src, aggDir,
        Seq("c_nationkey"), Seq("c_acctbal"))
      ManifestLake.merge(lk2Updates(s, d), src, Seq("c_custkey"),
        statsCol = Some("c_custkey"), recordChangeFeed = true)
      ManifestLake.delete(s, src, col("c_acctbal") < 0,
        recordChangeFeed = true)
      MaterializedAgg.refresh(s, src, aggDir,
        Seq("c_nationkey"), Seq("c_acctbal"))
      s"$src|$aggDir"
    }).split('|')

  def mv1IncrementalAgg(s: SparkSession, d: String): DataFrame = {
    val Array(src, agg) = mv1Dirs(s, d)
    // SELF-EVIDENCING row (the a4 pattern): re-aggregate the source
    // from scratch in-engine and carry a per-group equality flag — any
    // incremental-maintenance drift flips that group's boolean (and a
    // phantom/missing group changes the row count), so a red gate row
    // names its own cause instead of being a silent hash mismatch. The
    // scratch pass is the gate's grading harness, not the production
    // cost model — a production view never re-reads the source.
    val view = ManifestLake.read(s, agg)
      .select("c_nationkey", "c_acctbal_sum", "n_rows")
    val scratch = ManifestLake.read(s, src)
      .groupBy("c_nationkey")
      .agg(sum(col("c_acctbal").cast("decimal(27,2)"))
        .cast("decimal(27,2)").as("s_sum"),
        count(lit(1)).as("s_n"))
    // Surface type: the maintenance math and the incr-vs-scratch
    // comparison stay DECIMAL(27,2)-exact, but the EMITTED sum is cast
    // to DOUBLE. mv1 was the only gate row in all 126 whose output
    // carried a decimal128 column, and three rounds of driver-side
    // hash-only reds (rows+schema green, value-exact by the driver's
    // own parquet) isolated the red to the harness's decimal
    // canonicalization. Both sides now convert the same exact decimal
    // to the same double, so the hash is type-stable.
    val result = view.join(scratch, Seq("c_nationkey"), "full_outer")
      .select(col("c_nationkey"),
        col("c_acctbal_sum").cast("double").as("c_acctbal_sum"),
        col("n_rows"),
        ((col("c_acctbal_sum") <=> col("s_sum")) &&
          (col("n_rows") <=> col("s_n"))).as("incr_matches_scratch"))
    mv1Diagnostic(s, src, agg, result)
    result
  }

  /** When the Verify harness announces its output dir
    * (`spark.graft.verify.outDir`), dump a diagnostic sidecar next to
    * the gate parquet: the materialized view rows, the in-engine scratch
    * re-aggregation, the gate rows as THIS process evaluated them, the
    * per-group diff, the source/view table history, the change feed
    * aggregated per (version, change type), and the environment knobs
    * that could plausibly differ between this box and the driver's.
    * Motivation: the driver's artifact records only match booleans, so a
    * red `mv1_incremental_agg` row (r7, r8 — never reproduced locally)
    * arrives with no way to see WHICH value diverged. With the sidecar a
    * red row ships its own evidence. Best-effort: a sidecar failure
    * must never fail the gate row itself. */
  private def mv1Diagnostic(s: SparkSession, src: String, agg: String,
                            result: DataFrame): Unit =
    s.conf.getOption("spark.graft.verify.outDir").foreach { outDir =>
      try {
        def jstr(v: Any): String = v match {
          case null => "null"
          case b: Boolean => b.toString
          case n @ (_: Int | _: Long) => n.toString
          case other =>
            "\"" + other.toString.replace("\\", "\\\\")
              .replace("\"", "\\\"") + "\""
        }
        def rowsJson(df: DataFrame): String = {
          val cols = df.columns
          df.collect().map(r => cols.indices.map(i =>
            s"${jstr(cols(i))}: ${jstr(r.get(i))}")
            .mkString("{", ", ", "}"))
            .sorted.mkString("[\n    ", ",\n    ", "\n  ]")
        }
        val viewRows = ManifestLake.read(s, agg)
          .select("c_nationkey", "c_acctbal_sum", "n_rows")
        val scratchRows = ManifestLake.read(s, src)
          .groupBy("c_nationkey")
          .agg(sum(col("c_acctbal").cast("decimal(27,2)"))
            .cast("decimal(27,2)").as("s_sum"), count(lit(1)).as("s_n"))
        val feedAgg = ManifestLake
          .changeFeed(s, src, 0L,
            ManifestLake.currentVersion(s, src).getOrElse(0L))
          .groupBy("_commit_version", "_change_type")
          .agg(count(lit(1)).as("n"),
            sum(col("c_acctbal").cast("decimal(27,2)"))
              .cast("decimal(27,2)").as("acctbal_sum"))
        val diff = viewRows.join(scratchRows, Seq("c_nationkey"),
          "full_outer")
          .filter(!((col("c_acctbal_sum") <=> col("s_sum")) &&
            (col("n_rows") <=> col("s_n"))))
        val json =
          s"""{
  "env": {
    "spark_version": ${jstr(s.version)},
    "master": ${jstr(s.sparkContext.master)},
    "default_parallelism": ${s.sparkContext.defaultParallelism},
    "shuffle_partitions": ${jstr(
            s.conf.get("spark.sql.shuffle.partitions", "unset"))},
    "spark_graft_cpus": ${jstr(
            sys.env.getOrElse("SPARK_GRAFT_CPUS", "unset"))},
    "available_processors": ${Runtime.getRuntime.availableProcessors}
  },
  "source_history": ${rowsJson(ManifestLake.history(s, src))},
  "view_history": ${rowsJson(ManifestLake.history(s, agg))},
  "change_feed_by_version_type": ${rowsJson(feedAgg)},
  "view_rows": ${rowsJson(viewRows)},
  "scratch_rows": ${rowsJson(scratchRows)},
  "gate_rows_as_evaluated_here": ${rowsJson(result)},
  "view_vs_scratch_diff": ${rowsJson(diff)}
}
"""
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(outDir, "mv1_diagnostic.json"), json)
      } catch {
        case e: Throwable =>
          System.err.println(s"[mv1] diagnostic sidecar failed: $e")
      }
    }

  /** mv2_streaming_view — the STREAMING maintainer through the gate:
    * the same source lifecycle as mv1 (clustered customer → CDC-recorded
    * MERGE → CDC-recorded DELETE), but the view is kept current by
    * [[MaterializedAgg.stream]] — a `graft-lake` change-feed stream
    * feeding `foreachBatch` — run as TWO AvailableNow passes over one
    * checkpoint: the first drains the initial load, the DML lands while
    * the stream is down, the second drains exactly the two new
    * versions. What the row proves beyond mv1: the engine's offset
    * checkpoint resumes the maintenance mid-history (no re-emission of
    * version 1, or the sums would double), and the replay-guarded
    * foreachBatch commits land the identical decimal-exact totals the
    * from-scratch DuckDB oracle computes. Same emitted surface as mv1
    * (sums cast to DOUBLE; the maintenance math stays decimal), same
    * self-grading `incr_matches_scratch` flag from an in-engine scratch
    * re-aggregation. Crash-replay and definition-guard semantics are
    * pinned in MaterializedAggSpec. */
  def mv2StreamingView(s: SparkSession, d: String): DataFrame = {
    val dirs = builtTables.computeIfAbsent(s"mv2:$d", _ => {
      val src = java.nio.file.Files
        .createTempDirectory("graft-lake-mv2src").toString
      val aggDir = java.nio.file.Files
        .createTempDirectory("graft-lake-mv2agg").toString
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft-lake-mv2ckpt").toString
      ManifestLake.writeClustered(
        Tables.customer(s, d)
          .select("c_custkey", "c_name", "c_nationkey", "c_acctbal",
            "c_mktsegment"),
        src, "c_custkey", nFiles = 8,
        extraStatsCols = Seq("c_acctbal"))
      def drain(): Unit =
        MaterializedAgg.stream(s, src, aggDir,
          Seq("c_nationkey"), Seq("c_acctbal"), ckpt)
          .awaitTermination()
      drain() // pass 1: the initial load streams as version 1's inserts
      ManifestLake.merge(lk2Updates(s, d), src, Seq("c_custkey"),
        statsCol = Some("c_custkey"), recordChangeFeed = true)
      ManifestLake.delete(s, src, col("c_acctbal") < 0,
        recordChangeFeed = true)
      drain() // pass 2: resumes at the checkpointed version watermark
      s"$src|$aggDir"
    })
    val Array(src, agg) = dirs.split('|')
    val view = ManifestLake.read(s, agg)
      .select("c_nationkey", "c_acctbal_sum", "n_rows")
    val scratch = ManifestLake.read(s, src)
      .groupBy("c_nationkey")
      .agg(sum(col("c_acctbal").cast("decimal(27,2)"))
        .cast("decimal(27,2)").as("s_sum"),
        count(lit(1)).as("s_n"))
    view.join(scratch, Seq("c_nationkey"), "full_outer")
      .select(col("c_nationkey"),
        col("c_acctbal_sum").cast("double").as("c_acctbal_sum"),
        col("n_rows"),
        ((col("c_acctbal_sum") <=> col("s_sum")) &&
          (col("n_rows") <=> col("s_n"))).as("incr_matches_scratch"))
  }

  val mv1Oracle: String =
    """WITH upd AS (
      |  SELECT c_custkey, c_name, c_nationkey,
      |    c_acctbal + 1000.0 AS c_acctbal, c_mktsegment
      |  FROM customer WHERE c_custkey % 10 = 3
      |  UNION ALL
      |  SELECT c_custkey + 10000000, c_name, c_nationkey, c_acctbal,
      |    c_mktsegment
      |  FROM customer WHERE c_custkey % 97 = 0),
      |merged AS (
      |  SELECT * FROM upd
      |  UNION ALL
      |  SELECT c.c_custkey, c.c_name, c.c_nationkey, c.c_acctbal,
      |    c.c_mktsegment
      |  FROM customer c
      |  WHERE NOT EXISTS (SELECT 1 FROM upd WHERE upd.c_custkey = c.c_custkey))
      |SELECT c_nationkey,
      |  CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(27,2))) AS DECIMAL(27,2))
      |    AS DOUBLE) AS c_acctbal_sum,
      |  COUNT(*) AS n_rows,
      |  TRUE AS incr_matches_scratch
      |FROM merged
      |WHERE c_acctbal >= 0
      |GROUP BY c_nationkey""".stripMargin

  /** dl4_delta_sql — the Delta SQL surface through the gate: a grouped
    * aggregate with `VERSION AS OF 1` runs purely from `spark.sql`
    * against the registered `graft_delta` name, resolving through the
    * DeltaSqlRule rewrite onto the native parquet scan. Decimal-summed
    * totals cast to DOUBLE keep the float surface hash-exact (the mv1
    * contract). */
  def dl4DeltaSql(s: SparkSession, d: String): DataFrame = {
    DeltaSql.register("dl4_orders", dl1Table(s, d))
    s.sql(
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2)))
        |    AS DECIMAL(27,2)) AS DOUBLE) AS total
        |FROM graft_delta.dl4_orders VERSION AS OF 1
        |GROUP BY o_orderpriority""".stripMargin)
  }

  val dl4Oracle: String =
    """WITH v1 AS (
      |  SELECT o_totalprice, o_orderpriority FROM orders
      |  UNION ALL
      |  SELECT o_totalprice, o_orderpriority FROM orders
      |  WHERE o_orderkey % 97 = 0)
      |SELECT o_orderpriority, count(*) AS n_orders,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2)))
      |    AS DECIMAL(27,2)) AS DOUBLE) AS total
      |FROM v1 GROUP BY o_orderpriority""".stripMargin

  /** The shared Iceberg gate table: a v1 Hadoop-catalog table written
    * by the pure-Spark writer — base orders + an appended shifted
    * subset (second snapshot carrying the first's manifest verbatim).
    * Memoized as `dir|firstSnapshotId` so ic1/ic2 build once. */
  private def ic1Table(s: SparkSession, d: String): (String, Long) = {
    val v = builtTables.computeIfAbsent(s"ic1:$d", _ => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-ice-ic1").toString + "/t"
      val base = Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice",
          "o_orderpriority")
      val s0 = IcebergInterop.write(base, dir)
      IcebergInterop.write(
        base.filter(col("o_orderkey") % 97 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 10000000L),
        dir)
      s"$dir|$s0"
    })
    val Array(dir, s0) = v.split('|')
    (dir, s0.toLong)
  }

  /** ic1_iceberg_roundtrip — Iceberg interop through the gate: the
    * two-snapshot table (manifest-list → manifest → data-file replay,
    * schema converted from the Iceberg JSON) read at head must equal
    * DuckDB over the source parquet. Format conformance against
    * hand-written v2-shaped foreign metadata is pinned in
    * IcebergInteropSpec. */
  def ic1IcebergRoundtrip(s: SparkSession, d: String): DataFrame =
    IcebergInterop.read(s, ic1Table(s, d)._1)
      .filter(col("o_orderpriority") === "1-URGENT")

  val ic1Oracle: String =
    """WITH t AS (
      |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
      |  FROM orders
      |  UNION ALL
      |  SELECT o_orderkey + 10000000, o_custkey, o_totalprice,
      |    o_orderpriority
      |  FROM orders WHERE o_orderkey % 97 = 0)
      |SELECT * FROM t WHERE o_orderpriority = '1-URGENT'""".stripMargin

  /** ic2_iceberg_time_travel — snapshot-addressed reads: the FIRST
    * snapshot id serves the pre-append state exactly even though the
    * current metadata's head includes the appended manifest. */
  def ic2IcebergTimeTravel(s: SparkSession, d: String): DataFrame = {
    val (dir, s0) = ic1Table(s, d)
    IcebergInterop.readSnapshot(s, dir, s0)
  }

  val ic2Oracle: String =
    """SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
      |FROM orders""".stripMargin

  /** ic3_convert_export — metadata-only manifest → Iceberg conversion
    * through the gate (the dl3 contract with Iceberg as the target):
    * an UNPARTITIONED manifest table takes native DML (copy-on-write
    * delete), exports in place — the mirror snapshot references the
    * live parquet verbatim, zero data movement (file identity pinned
    * in IcebergInteropSpec) — and the ICEBERG read of the mirror must
    * equal DuckDB filtering the original parquet. */
  def ic3ConvertExport(s: SparkSession, d: String): DataFrame = {
    val table = builtTables.computeIfAbsent(s"ic3:$d", _ => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-ice-ic3").toString + "/t"
      ManifestLake.write(
        Tables.orders(s, d)
          .select("o_orderkey", "o_custkey", "o_totalprice",
            "o_orderpriority"),
        dir)
      ManifestLake.delete(s, dir, col("o_totalprice") < 50000.0)
      IcebergInterop.exportFromManifest(s, dir)
      dir
    })
    IcebergInterop.read(s, table)
      .filter(col("o_orderpriority").isin("2-HIGH", "3-MEDIUM"))
  }

  val ic3Oracle: String =
    """SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
      |FROM orders
      |WHERE o_totalprice >= 50000.0
      |  AND o_orderpriority IN ('2-HIGH', '3-MEDIUM')""".stripMargin

  /** ic4_iceberg_sql — the Iceberg SQL surface through the gate: a
    * grouped aggregate with `VERSION AS OF <first-snapshot-id>` runs
    * purely from `spark.sql` against the registered `graft_iceberg`
    * name, resolving through the IcebergSqlRule rewrite onto the
    * native parquet scan — and must serve the PRE-APPEND state from
    * under the current head. Decimal-summed totals cast to DOUBLE keep
    * the float surface hash-exact (the mv1 contract). */
  def ic4IcebergSql(s: SparkSession, d: String): DataFrame = {
    val (dir, s0) = ic1Table(s, d)
    IcebergSql.register("ic4_orders", dir)
    s.sql(
      s"""SELECT o_orderpriority, count(*) AS n_orders,
         |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2)))
         |    AS DECIMAL(27,2)) AS DOUBLE) AS total
         |FROM graft_iceberg.ic4_orders VERSION AS OF $s0
         |GROUP BY o_orderpriority""".stripMargin)
  }

  val ic4Oracle: String =
    """SELECT o_orderpriority, count(*) AS n_orders,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2)))
      |    AS DECIMAL(27,2)) AS DOUBLE) AS total
      |FROM orders GROUP BY o_orderpriority""".stripMargin

  /** ic5_iceberg_prune — partitioned Iceberg writes and pruned foreign
    * reads through the gate: orders written under a
    * `month(o_orderdate)` partition spec (~80 real partition tuples in
    * the manifest), then `readWhere` resolves a one-quarter closed
    * range to 3 tuples' files AT THE MANIFEST and applies the exact
    * range to the survivors — the result must equal DuckDB filtering
    * the original parquet. File-level prune behavior (inputFiles ⊂
    * live set, fail-open unknowns, Appendix B transform vectors) is
    * pinned in IcebergPruneSpec. */
  def ic5IcebergPrune(s: SparkSession, d: String): DataFrame = {
    val table = builtTables.computeIfAbsent(s"ic5:$d", _ => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-ice-ic5").toString + "/t"
      IcebergInterop.write(
        Tables.orders(s, d)
          .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
          // TIMESTAMP_NTZ source dates as session-zoned timestamps
          // (pinned-UTC session) — the type the transform evaluator
          // canonicalizes to epoch micros
          .withColumn("o_orderdate", col("o_orderdate").cast("timestamp")),
        dir, partitionBy = Seq(
          IcebergInterop.SpecField("o_month", "month", "o_orderdate")))
      dir
    })
    def inst(x: String) = java.time.LocalDateTime.parse(x)
      .toInstant(java.time.ZoneOffset.UTC)
    IcebergInterop.readWhere(s, table, Seq(ScanBetween(
        "o_orderdate",
        inst("1997-04-01T00:00:00"), inst("1997-06-30T23:59:59"))))
      .select(col("o_orderkey"), col("o_custkey"),
        unix_micros(col("o_orderdate")).as("o_orderdate_us"),
        col("o_totalprice"))
  }

  val ic5Oracle: String =
    """SELECT o_orderkey, o_custkey, epoch_us(o_orderdate)
      |    AS o_orderdate_us, o_totalprice
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1997-04-01 00:00:00'
      |  AND o_orderdate <= TIMESTAMP '1997-06-30 23:59:59'""".stripMargin

  /** ic6_iceberg_stats_prune — string value-bounds pruning through
    * the gate: orders written range-clustered on o_orderpriority with
    * NO partition spec, so each manifest entry records string
    * lower/upper bounds under the spec's single-value binary
    * serialization (UTF-8 bytes keyed by field id). `readWhere`
    * resolves a closed string range against those bounds in unsigned
    * UTF-8 byte order — the collation parquet stats, Iceberg bounds
    * and Spark's UTF8String all share — and applies the exact
    * predicate to survivors. DuckDB compares the same ASCII range
    * lexicographically, so the boundary cannot flip between engines.
    * File-subset behavior is pinned in IcebergPruneSpec. */
  def ic6IcebergStatsPrune(s: SparkSession, d: String): DataFrame = {
    val table = builtTables.computeIfAbsent(s"ic6:$d", _ => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-ice-ic6").toString + "/t"
      IcebergInterop.write(
        Tables.orders(s, d)
          .select("o_orderkey", "o_custkey", "o_totalprice",
            "o_orderpriority")
          .repartitionByRange(8, col("o_orderpriority"))
          .sortWithinPartitions("o_orderpriority"),
        dir)
      dir
    })
    IcebergInterop.readWhere(s, table,
      Seq(ScanBetween("o_orderpriority", "2-HIGH", "3-MEDIUM")))
  }

  val ic6Oracle: String =
    """SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
      |FROM orders
      |WHERE o_orderpriority >= '2-HIGH'
      |  AND o_orderpriority <= '3-MEDIUM'""".stripMargin

  /** ic7_iceberg_evolution — field-id schema evolution through the
    * gate: even-key orders written under (o_orderkey, o_totalprice,
    * o_orderpriority); then a metadata-only RENAME o_totalprice →
    * price and ADD o_orderstatus; then the odd keys appended under the
    * evolved schema. The read must resolve the renamed column BY
    * FIELD ID for the first generation (a name-based read would null
    * half the price column — exactly what the oracle's real values
    * catch) and null-fill o_orderstatus only where the file predates
    * it. Drop/re-add identity and footer-id fallback are pinned in
    * IcebergEvolutionSpec. */
  def ic7IcebergEvolution(s: SparkSession, d: String): DataFrame = {
    val table = builtTables.computeIfAbsent(s"ic7:$d", _ => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-ice-ic7").toString + "/t"
      val o = Tables.orders(s, d)
      IcebergInterop.write(
        o.filter(col("o_orderkey") % 2 === 0)
          .select("o_orderkey", "o_totalprice", "o_orderpriority"), dir)
      IcebergInterop.renameColumn(s, dir, "o_totalprice", "price")
      IcebergInterop.addColumn(s, dir, "o_orderstatus",
        org.apache.spark.sql.types.StringType)
      IcebergInterop.write(
        o.filter(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey"), col("o_totalprice").as("price"),
            col("o_orderpriority"), col("o_orderstatus")), dir)
      dir
    })
    IcebergInterop.read(s, table)
  }

  val ic7Oracle: String =
    """SELECT o_orderkey, o_totalprice AS price, o_orderpriority,
      |  CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus END
      |    AS o_orderstatus
      |FROM orders""".stripMargin

  /** ics1_iceberg_stream — the Iceberg table as a streaming SOURCE
    * through the gate: four append snapshots of orders quarters, the
    * `graft-iceberg` stream drains them AvailableNow in snapshot-log
    * order (ids are random longs — lineage position is the clock),
    * and the union of micro-batches must equal DuckDB over the whole
    * source table. Restart/rewrite/expiry semantics pinned in
    * IcebergStreamSpec. */
  def ics1IcebergStream(s: SparkSession, d: String): DataFrame = {
    val table = builtTables.computeIfAbsent(s"ics1:$d", _ => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-ice-ics1").toString + "/t"
      val o = Tables.orders(s, d).select("o_orderkey", "o_custkey",
        "o_totalprice", "o_orderpriority")
      (0 until 4).foreach(i =>
        IcebergInterop.write(o.filter(col("o_orderkey") % 4 === i), dir))
      dir
    })
    graft.streaming.Streaming.runToMemory(s,
      s.readStream.format("graft-iceberg").load(table),
      "ics1_iceberg_stream_tbl",
      org.apache.spark.sql.streaming.OutputMode.Append())
  }

  val ics1Oracle: String =
    """SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
      |FROM orders""".stripMargin

  /** dls3_delta_stream_sink — the EXACTLY-ONCE Delta streaming sink
    * through the gate: a Delta table seeded with the ≡0 (mod 4)
    * orders takes two AvailableNow upsert drains over one engine
    * checkpoint (drain 1: ≡1 inserts + ≡2 inserts at doubled price;
    * drain 2: ≡3 inserts + ≡0 (mod 8) updates at price+5 — every
    * micro-batch ONE `txn`-stamped merge commit), then a simulated
    * crash-replay of an already-committed epoch must commit NOTHING
    * (`replay_rejected` pins version-unmoved in-row). The oracle
    * re-derives the final table relationally from the original
    * parquet — exactly-once is what makes the hash match. */
  def dls3DeltaStreamSink(s: SparkSession, d: String): DataFrame = {
    val built = builtTables.computeIfAbsent(s"dls3:$d", _ => {
      val base = java.nio.file.Files
        .createTempDirectory("graft-delta-dls3").toString
      val dir = s"$base/t"
      val src = s"$base/src"
      val ckpt = s"$base/ck"
      val o = Tables.orders(s, d)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      DeltaInterop.write(o.filter(col("o_orderkey") % 4 === 0), dir)
      o.filter(col("o_orderkey") % 4 === 1).write.parquet(s"$src/b0")
      o.filter(col("o_orderkey") % 4 === 2)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .write.parquet(s"$src/b1")
      def drain(): Unit = DeltaInterop.streamUpsertToDelta(
        s.readStream.schema(o.schema).parquet(s"$src/*"),
        dir, Seq("o_orderkey"), ckpt).awaitTermination()
      drain()
      o.filter(col("o_orderkey") % 4 === 3).write.parquet(s"$src/b2")
      o.filter(col("o_orderkey") % 8 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 5)
        .write.parquet(s"$src/b3")
      drain()
      // crash-replay of the FIRST epoch: the txn stamp detects it and
      // the version must not move
      val vBefore = DeltaInterop.state(s, dir, None).version
      val committed = DeltaInterop.upsertTxnBatch(
        o.filter(col("o_orderkey") % 4 === 1).limit(50),
        0L, dir, Seq("o_orderkey"), ckpt)
      val replayRejected = !committed &&
        DeltaInterop.state(s, dir, None).version == vBefore
      s"$dir|$replayRejected"
    })
    val Array(dir, rejected) = built.split('|')
    DeltaInterop.read(s, dir)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(27,2)"))
          .cast("decimal(27,2)").cast("double").as("total"))
      .withColumn("replay_rejected", lit(rejected.toBoolean))
  }

  val dls3Oracle: String =
    """WITH t AS (
      |  SELECT o_orderkey, o_orderpriority,
      |    CASE WHEN o_orderkey % 8 = 0 THEN o_totalprice + 5
      |         WHEN o_orderkey % 4 = 2 THEN o_totalprice * 2
      |         ELSE o_totalprice END AS o_totalprice
      |  FROM orders)
      |SELECT o_orderpriority, count(*) AS n_orders,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2)))
      |    AS DECIMAL(27,2)) AS DOUBLE) AS total,
      |  TRUE AS replay_rejected
      |FROM t GROUP BY o_orderpriority""".stripMargin

  /** dl15_sql_ctas — the Delta table LIFECYCLE purely from SQL: a
    * partitioned `CREATE TABLE graft_delta.* PARTITIONED BY … AS`
    * under the session warehouse, an `INSERT INTO` append, an
    * idempotence-pinning `CREATE OR REPLACE` (same path, new
    * version — `replace_versioned` verifies v0 still time-travels),
    * and the final read back through `spark.sql` — no Scala API
    * touches the table after creation. */
  def dl15SqlCtas(s: SparkSession, d: String): DataFrame = {
    val built = builtTables.computeIfAbsent(s"dl15:$d", _ => {
      val wh = java.nio.file.Files
        .createTempDirectory("graft-delta-dl15").toString
      s.conf.set(InteropMaintenanceSql.DeltaWarehouseConf, wh)
      Tables.orders(s, d)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .createOrReplaceTempView("dl15_src")
      s.sql("CREATE TABLE graft_delta.dl15_t " +
        "PARTITIONED BY (o_orderpriority) AS " +
        "SELECT * FROM dl15_src WHERE o_orderkey % 2 = 0")
      s.sql("INSERT INTO graft_delta.dl15_t " +
        "SELECT * FROM dl15_src WHERE o_orderkey % 2 = 1")
      s.sql("CREATE OR REPLACE TABLE graft_delta.dl15_t " +
        "PARTITIONED BY (o_orderpriority) AS " +
        "SELECT * FROM dl15_src")
      val replaceVersioned =
        DeltaInterop.readVersion(s, s"$wh/dl15_t", 0L).count() ==
          Tables.orders(s, d).filter(col("o_orderkey") % 2 === 0).count()
      s"$wh|$replaceVersioned"
    })
    val Array(_, versioned) = built.split('|')
    s.sql("""SELECT o_orderpriority, count(*) AS n_orders,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2)))
        |    AS DECIMAL(27,2)) AS DOUBLE) AS total
        |FROM graft_delta.dl15_t GROUP BY o_orderpriority""".stripMargin)
      .withColumn("replace_versioned", lit(versioned.toBoolean))
  }

  val dl15Oracle: String =
    """SELECT o_orderpriority, count(*) AS n_orders,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2)))
      |    AS DECIMAL(27,2)) AS DOUBLE) AS total,
      |  TRUE AS replace_versioned
      |FROM orders GROUP BY o_orderpriority""".stripMargin

  /** ic16_sql_ctas — the Iceberg lifecycle purely from SQL with a
    * REAL transform spec: `PARTITIONED BY (o_orderpriority,
    * bucket(4, o_orderkey))` lands identity + bucket tuples in the
    * manifests (`spec_recorded` pins the recorded spec in-row), an
    * INSERT INTO appends under the same spec, and the read back is
    * `spark.sql` over the registered name. */
  def ic16SqlCtas(s: SparkSession, d: String): DataFrame = {
    val built = builtTables.computeIfAbsent(s"ic16:$d", _ => {
      val wh = java.nio.file.Files
        .createTempDirectory("graft-ice-ic16").toString
      s.conf.set(InteropMaintenanceSql.IcebergWarehouseConf, wh)
      Tables.orders(s, d)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .createOrReplaceTempView("ic16_src")
      s.sql("CREATE TABLE graft_iceberg.ic16_t " +
        "PARTITIONED BY (o_orderpriority, bucket(4, o_orderkey)) AS " +
        "SELECT * FROM ic16_src WHERE o_orderkey % 2 = 0")
      s.sql("INSERT INTO graft_iceberg.ic16_t " +
        "SELECT * FROM ic16_src WHERE o_orderkey % 2 = 1")
      val st = IcebergInterop.state(s, s"$wh/ic16_t", None)
      val spec = st.specs(st.defaultSpecId)
        .map(f => s"${f.transform}(${f.source})").mkString(",")
      val specOk =
        spec == "identity(o_orderpriority),bucket[4](o_orderkey)"
      s"$wh|$specOk"
    })
    val Array(_, specOk) = built.split('|')
    s.sql("""SELECT o_orderpriority, count(*) AS n_orders,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2)))
        |    AS DECIMAL(27,2)) AS DOUBLE) AS total
        |FROM graft_iceberg.ic16_t GROUP BY o_orderpriority""".stripMargin)
      .withColumn("spec_recorded", lit(specOk.toBoolean))
  }

  val ic16Oracle: String =
    """SELECT o_orderpriority, count(*) AS n_orders,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2)))
      |    AS DECIMAL(27,2)) AS DOUBLE) AS total,
      |  TRUE AS spec_recorded
      |FROM orders GROUP BY o_orderpriority""".stripMargin

  /** ic17_v3_dv_dml — the Iceberg v3 WRITE slice through the gate:
    * `upgradeFormat(3)` (row-lineage metadata), two `deleteMor`
    * passes that write and then MERGE Puffin deletion vectors (the
    * spec's one-DV-per-file rule — `dv_unique` pins it in-row), and
    * a post-vector append whose snapshot claims its row-id range.
    * The oracle re-derives survivors + the append relationally; the
    * vectors being exact is what makes the hash match. */
  def ic17V3DvDml(s: SparkSession, d: String): DataFrame = {
    val built = builtTables.computeIfAbsent(s"ic17:$d", _ => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-ice-ic17").toString + "/t"
      val o = Tables.orders(s, d)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      IcebergInterop.write(o.repartition(4), dir)
      IcebergInterop.upgradeFormat(s, dir)
      IcebergInterop.upgradeFormat(s, dir, 3)
      IcebergInterop.deleteMor(s, dir, col("o_orderkey") % 7 === 0)
      IcebergInterop.deleteMor(s, dir, col("o_orderkey") % 5 === 0)
      val keyType = o.schema("o_orderkey").dataType
      IcebergInterop.write(
        o.filter(col("o_orderkey") % 10 === 1)
          .withColumn("o_orderkey",
            (col("o_orderkey") + lit(300000000L)).cast(keyType)), dir)
      val st = IcebergInterop.state(s, dir, None)
      val dvUnique = st.formatVersion == 3 && st.dvDeletes.nonEmpty &&
        st.dvDeletes.map(_.referenced).distinct.length ==
          st.dvDeletes.length
      s"$dir|$dvUnique"
    })
    val Array(dir, dvUnique) = built.split('|')
    IcebergInterop.read(s, dir)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(27,2)"))
          .cast("decimal(27,2)").cast("double").as("total"))
      .withColumn("dv_unique", lit(dvUnique.toBoolean))
  }

  val ic17Oracle: String =
    """WITH t AS (
      |  SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
      |  WHERE o_orderkey % 7 <> 0 AND o_orderkey % 5 <> 0
      |  UNION ALL
      |  SELECT o_orderkey + 300000000, o_orderpriority, o_totalprice
      |  FROM orders WHERE o_orderkey % 10 = 1)
      |SELECT o_orderpriority, count(*) AS n_orders,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2)))
      |    AS DECIMAL(27,2)) AS DOUBLE) AS total,
      |  TRUE AS dv_unique
      |FROM t GROUP BY o_orderpriority""".stripMargin

  /** dl16_identity — Delta IDENTITY columns through the gate: a
    * GENERATED ALWAYS column declared at CREATE (start 1000, step 3)
    * allocates over two key-sorted single-file appends, so every
    * `rid` is `1000 + 3 × rank` with batch 2 continuing past batch
    * 1's high-water mark — and the RECORDED mark itself is emitted
    * per-row, all exactly re-derivable by ROW_NUMBER. An allocation,
    * continuation, or mark regression fails the hash loudly. */
  def dl16Identity(s: SparkSession, d: String): DataFrame = {
    val dir = builtTables.computeIfAbsent(s"dl16:$d", _ => {
      val t = java.nio.file.Files
        .createTempDirectory("graft-delta-dl16").toString + "/t"
      val o = Tables.orders(s, d).select("o_orderkey")
      DeltaInterop.write(
        o.filter(col("o_orderkey") % 3 === 0)
          .repartition(1).sortWithinPartitions("o_orderkey"), t,
        identity = Seq(DeltaInterop.IdentityColumn("rid",
          start = 1000L, step = 3L)))
      DeltaInterop.write(
        o.filter(col("o_orderkey") % 3 === 1)
          .repartition(1).sortWithinPartitions("o_orderkey"), t)
      t
    })
    val hwm = DeltaInterop.state(s, dir, None).schema("rid")
      .metadata.getLong("delta.identity.highWaterMark")
    DeltaInterop.read(s, dir)
      .select(col("o_orderkey"), col("rid"), lit(hwm).as("hwm"))
  }

  val dl16Oracle: String =
    """WITH b1 AS (
      |  SELECT o_orderkey,
      |    ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS r
      |  FROM orders WHERE o_orderkey % 3 = 0),
      |b2 AS (
      |  SELECT o_orderkey,
      |    (SELECT count(*) FROM b1)
      |      + ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS r
      |  FROM orders WHERE o_orderkey % 3 = 1),
      |u AS (SELECT * FROM b1 UNION ALL SELECT * FROM b2)
      |SELECT o_orderkey, 1000 + 3 * r AS rid,
      |  (SELECT 1000 + 3 * (count(*) - 1) FROM u) AS hwm
      |FROM u""".stripMargin

  /** dl17_row_tracking — Delta ROW TRACKING through the gate:
    * `enableRowTracking` BACKFILLS the key-sorted creation file (so
    * `_row_id` is the key's rank), a later sorted append assigns the
    * next range, and a CHECKPOINT carries the `delta.rowTracking`
    * domain + per-file assignment that the emitted read then replays
    * THROUGH. Every `_row_id` and `_row_commit_version` (backfill=1,
    * append=2) is exactly re-derivable by ROW_NUMBER. */
  def dl17RowTracking(s: SparkSession, d: String): DataFrame = {
    val dir = builtTables.computeIfAbsent(s"dl17:$d", _ => {
      val t = java.nio.file.Files
        .createTempDirectory("graft-delta-dl17").toString + "/t"
      val o = Tables.orders(s, d).select("o_orderkey")
      DeltaInterop.write(
        o.filter(col("o_orderkey") % 2 === 0)
          .repartition(1).sortWithinPartitions("o_orderkey"), t)
      DeltaInterop.enableRowTracking(s, t) // version 1: backfill
      DeltaInterop.write(
        o.filter(col("o_orderkey") % 2 === 1)
          .repartition(1).sortWithinPartitions("o_orderkey"), t)
      // version 3: the MOR update MATERIALIZES its rows' carried ids
      // — the emitted read then proves materialized precedence
      DeltaInterop.updateMor(s, t, col("o_orderkey") % 1000 === 1,
        Seq("o_orderkey" -> (col("o_orderkey") + lit(10000000L))))
      DeltaInterop.checkpoint(s, t) // domains + assignment survive
      t
    })
    DeltaInterop.readRowIds(s, dir)
      .select(col("o_orderkey"), col("_row_id").as("row_id"),
        col("_row_commit_version").as("rcv"))
  }

  val dl17Oracle: String =
    """WITH e AS (
      |  SELECT o_orderkey,
      |    ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS r
      |  FROM orders WHERE o_orderkey % 2 = 0),
      |o2 AS (
      |  SELECT o_orderkey,
      |    (SELECT count(*) FROM e)
      |      + ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS r
      |  FROM orders WHERE o_orderkey % 2 = 1),
      |u AS (
      |  SELECT o_orderkey, r, CAST(1 AS BIGINT) AS rcv FROM e
      |  UNION ALL
      |  SELECT o_orderkey, r, CAST(2 AS BIGINT) AS rcv FROM o2)
      |SELECT CASE WHEN o_orderkey % 1000 = 1
      |         THEN o_orderkey + 10000000 ELSE o_orderkey END
      |    AS o_orderkey,
      |  r AS row_id,
      |  CASE WHEN o_orderkey % 1000 = 1
      |    THEN CAST(3 AS BIGINT) ELSE rcv END AS rcv
      |FROM u""".stripMargin

  /** ic18_v3_row_lineage — Iceberg v3 ROW LINEAGE through the gate:
    * even keys land PRE-upgrade (null lineage, emitted −1), odd keys
    * append post-upgrade as ONE key-sorted file (so the assigned
    * `_row_id` IS the key's rank, which DuckDB re-derives with
    * ROW_NUMBER), a deletion-vector delete drops `% 7` rows WITHOUT
    * moving survivors' ids, and a merge-on-read UPDATE materializes
    * its rows' carried ids — every emitted `row_id` and `last_seq`
    * (append=1, update=3, pre-upgrade=−1) is exactly re-derivable, so
    * a carry-over or assignment regression fails the hash loudly. */
  def ic18V3RowLineage(s: SparkSession, d: String): DataFrame = {
    val dir = builtTables.computeIfAbsent(s"ic18:$d", _ => {
      val t = java.nio.file.Files
        .createTempDirectory("graft-ice-ic18").toString + "/t"
      val o = Tables.orders(s, d).select("o_orderkey", "o_totalprice")
      IcebergInterop.write(o.filter(col("o_orderkey") % 2 === 0), t)
      IcebergInterop.upgradeFormat(s, t)
      IcebergInterop.upgradeFormat(s, t, 3)
      IcebergInterop.write(
        o.filter(col("o_orderkey") % 2 === 1)
          .repartition(1).sortWithinPartitions("o_orderkey"), t)
      IcebergInterop.deleteMor(s, t, col("o_orderkey") % 7 === 0)
      IcebergInterop.updateMor(s, t, col("o_orderkey") % 100 === 1,
        Seq("o_totalprice" -> (col("o_totalprice") + lit(1000000.0))))
      t
    })
    IcebergInterop.readRowLineage(s, dir)
      .select(col("o_orderkey"), col("o_totalprice").as("total"),
        coalesce(col("_row_id"), lit(-1L)).as("row_id"),
        coalesce(col("_last_updated_sequence_number"), lit(-1L))
          .as("last_seq"))
  }

  val ic18Oracle: String =
    """WITH odd AS (
      |  SELECT o_orderkey,
      |    ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS rid
      |  FROM orders WHERE o_orderkey % 2 = 1)
      |SELECT o.o_orderkey,
      |  CASE WHEN o.o_orderkey % 100 = 1
      |    THEN o.o_totalprice + 1000000.0 ELSE o.o_totalprice
      |  END AS total,
      |  COALESCE(d.rid, -1) AS row_id,
      |  CASE WHEN o.o_orderkey % 2 = 0 THEN -1
      |       WHEN o.o_orderkey % 100 = 1 THEN 3
      |       ELSE 1 END AS last_seq
      |FROM orders o LEFT JOIN odd d USING (o_orderkey)
      |WHERE o.o_orderkey % 7 <> 0""".stripMargin

  /** ic19_v3_defaults — Iceberg v3 COLUMN DEFAULTS through the gate:
    * a third of orders lands BEFORE `tag`/`score` exist, the added
    * columns then carry hand-edited `initial-default` ("legacy" / 7)
    * and `write-default` ("fresh") attributes — the foreign-writer
    * shape — and two more appends land one batch with explicit
    * values and one that OMITS `tag` (the write-default must fill
    * it). The oracle re-derives all three value sources relationally,
    * so serving NULL where the spec says serve the default (the
    * pre-r15 behavior) fails the hash loudly. */
  def ic19V3Defaults(s: SparkSession, d: String): DataFrame = {
    val dir = builtTables.computeIfAbsent(s"ic19:$d", _ => {
      val t = java.nio.file.Files
        .createTempDirectory("graft-ice-ic19").toString + "/t"
      val o = Tables.orders(s, d).select("o_orderkey", "o_totalprice")
      IcebergInterop.write(o.filter(col("o_orderkey") % 3 === 0), t)
      IcebergInterop.upgradeFormat(s, t)
      IcebergInterop.upgradeFormat(s, t, 3)
      IcebergInterop.addColumns(s, t, Seq(
        org.apache.spark.sql.types.StructField("tag",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("score",
          org.apache.spark.sql.types.LongType)))
      // a foreign v3 writer's default declarations, hand-stamped
      // (graft's own ALTER does not write defaults)
      val root = new org.apache.hadoop.fs.Path(t)
      val fs = root.getFileSystem(s.sessionState.newHadoopConf())
      def slurp(p: org.apache.hadoop.fs.Path): String = {
        val in = fs.open(p)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      }
      val hint = slurp(new org.apache.hadoop.fs.Path(t,
        "metadata/version-hint.text")).trim
      val metaP = new org.apache.hadoop.fs.Path(t,
        s"metadata/v$hint.metadata.json")
      val edited = slurp(metaP)
        .replace(""""name":"tag","required":false,"type":"string"""",
          """"name":"tag","required":false,"type":"string",""" +
            """"initial-default":"legacy","write-default":"fresh"""")
        .replace(""""name":"score","required":false,"type":"long"""",
          """"name":"score","required":false,"type":"long",""" +
            """"initial-default":7""")
      val out = fs.create(metaP, true)
      try out.write(edited.getBytes("UTF-8")) finally out.close()
      IcebergInterop.write(
        o.filter(col("o_orderkey") % 3 === 1)
          .withColumn("tag", lit("stored"))
          .withColumn("score", (col("o_orderkey") % 10).cast("long")), t)
      IcebergInterop.write(
        o.filter(col("o_orderkey") % 3 === 2)
          .withColumn("score", lit(0L)), t)
      t
    })
    IcebergInterop.read(s, dir)
      .groupBy(col("tag"))
      .agg(count(lit(1)).as("n"),
        sum(col("score")).cast("long").as("score_sum"),
        sum(col("o_totalprice").cast("decimal(27,2)"))
          .cast("decimal(27,2)").cast("double").as("total"))
  }

  val ic19Oracle: String =
    """WITH t AS (
      |  SELECT o_orderkey, o_totalprice, 'legacy' AS tag,
      |    CAST(7 AS BIGINT) AS score
      |  FROM orders WHERE o_orderkey % 3 = 0
      |  UNION ALL
      |  SELECT o_orderkey, o_totalprice, 'stored',
      |    CAST(o_orderkey % 10 AS BIGINT)
      |  FROM orders WHERE o_orderkey % 3 = 1
      |  UNION ALL
      |  SELECT o_orderkey, o_totalprice, 'fresh', CAST(0 AS BIGINT)
      |  FROM orders WHERE o_orderkey % 3 = 2)
      |SELECT tag, count(*) AS n,
      |  CAST(SUM(score) AS BIGINT) AS score_sum,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2)))
      |    AS DECIMAL(27,2)) AS DOUBLE) AS total
      |FROM t GROUP BY tag""".stripMargin

  /** ic20_v3_keyed_cdc — ZERO-SCAN keyed CDC on a format-version 3
    * table with ROW LINEAGE correct across the whole lifecycle:
    * `deleteByKeys` (one equality-delete file, no data IO) kills the
    * %7 keys, `upsertByKeys` re-images the %9==2 keys in ONE
    * snapshot (images claim FRESH row ids past the pre-DML
    * next-row-id), and `compactDeletes` retires the merge-on-read
    * debt with every id preserved. The `lineage_ok` flag pins the
    * evidence in-row: a bystander row's `_row_id` survives delete,
    * upsert AND compaction unchanged; the upsert images' id set
    * (count/min/sum, all distinct) is fresh and survives compaction
    * byte-identically; the eq/dv debt really existed and really
    * retired. The data aggregate re-derives relationally, so a wrong
    * kill, a lost image, or a reassigned id fails the hash loudly. */
  def ic20V3KeyedCdc(s: SparkSession, d: String): DataFrame = {
    val built = builtTables.computeIfAbsent(s"ic20:$d", _ => {
      val t = java.nio.file.Files
        .createTempDirectory("graft-ice-ic20").toString + "/t"
      val o = Tables.orders(s, d)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      // even keys predate the v3 upgrade (NULL lineage — they never
      // had ids); odd keys append as a v3 commit with stamped origins
      IcebergInterop.write(o.filter(col("o_orderkey") % 2 === 0), t)
      IcebergInterop.upgradeFormat(s, t)
      IcebergInterop.upgradeFormat(s, t, 3)
      IcebergInterop.write(o.filter(col("o_orderkey") % 2 === 1), t)
      import s.implicits._
      val pre = IcebergInterop.readRowLineage(s, t)
      // a bystander both DMLs miss, with its stamped id
      val (survKey, survId) = pre
        .filter(col("o_orderkey") % 2 === 1 &&
          col("o_orderkey") % 7 =!= 0 && col("o_orderkey") % 9 =!= 2)
        .select(col("o_orderkey").cast("long"), col("_row_id"))
        .as[(Long, Long)].orderBy(col("o_orderkey")).head()
      val maxId0 = pre.agg(max(col("_row_id"))).as[Long].head()
      IcebergInterop.deleteByKeys(s, t,
        o.filter(col("o_orderkey") % 7 === 0).select("o_orderkey"))
      IcebergInterop.upsertByKeys(
        o.filter(col("o_orderkey") % 9 === 2)
          .withColumn("o_totalprice", col("o_totalprice") * 3),
        t, Seq("o_orderkey"))
      def imageIds(df: DataFrame): (Long, Long, Long, Long) =
        df.filter(col("o_orderkey") % 9 === 2)
          .agg(count(col("_row_id")), countDistinct(col("_row_id")),
            min(col("_row_id")), sum(col("_row_id")))
          .as[(Long, Long, Long, Long)].head()
      def survivorId(df: DataFrame): Long =
        df.filter(col("o_orderkey") === survKey)
          .select(col("_row_id")).as[Long].head()
      val mid = IcebergInterop.readRowLineage(s, t)
      val (mn, mdist, mmin, msum) = imageIds(mid)
      val hadDebt = IcebergInterop.state(s, t, None).eqDeletes.nonEmpty
      IcebergInterop.compactDeletes(s, t)
      val stc = IcebergInterop.state(s, t, None)
      val post = IcebergInterop.readRowLineage(s, t)
      val ok = hadDebt && stc.eqDeletes.isEmpty &&
        stc.dvDeletes.isEmpty &&
        mn > 0 && mdist == mn && mmin > maxId0 && // fresh, all distinct
        imageIds(post) == ((mn, mdist, mmin, msum)) && // ids survive
        survivorId(mid) == survId && survivorId(post) == survId
      s"$t|$ok"
    })
    val Array(dir, flag) = built.split('|')
    IcebergInterop.read(s, dir)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(27,2)"))
          .cast("decimal(27,2)").cast("double").as("total"))
      .withColumn("lineage_ok", lit(flag.toBoolean))
  }

  val ic20Oracle: String =
    """WITH fin AS (
      |  SELECT o_orderkey, o_orderpriority,
      |    o_totalprice * 3 AS o_totalprice
      |  FROM orders WHERE o_orderkey % 9 = 2
      |  UNION ALL
      |  SELECT o_orderkey, o_orderpriority, o_totalprice
      |  FROM orders
      |  WHERE o_orderkey % 7 <> 0 AND o_orderkey % 9 <> 2)
      |SELECT o_orderpriority, count(*) AS n_orders,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2)))
      |    AS DECIMAL(27,2)) AS DOUBLE) AS total,
      |  TRUE AS lineage_ok
      |FROM fin GROUP BY o_orderpriority""".stripMargin

  /** ic21_sort_order — Iceberg table SORT ORDERS (spec §Sorting)
    * through the gate: an unsorted seed, `replaceSortOrder`
    * (`ALTER TABLE … WRITE ORDERED BY (o_orderkey)`), then a
    * deliberately MIS-ORDERED append and an implicit OPTIMIZE. The
    * append must land range-distributed + sorted + stamped
    * `sort_order_id`; the OPTIMIZE must re-sort exactly the
    * unstamped seed; and the declared order must survive both
    * commits (the carry fix — a reset would dangle
    * `default-sort-order-id` for foreign readers). The
    * `sorted_layout` flag pins the evidence in-row: every live file
    * stamped with the declared id, per-commit recorded key ranges
    * pairwise disjoint, a probed rewritten file's rows monotone, and
    * the default pointer still on the declared order. The data
    * aggregate re-derives relationally, so a lost row or wrong sort
    * fails the hash loudly. */
  def ic21SortOrder(s: SparkSession, d: String): DataFrame = {
    val built = builtTables.computeIfAbsent(s"ic21:$d", _ => {
      val t = java.nio.file.Files
        .createTempDirectory("graft-ice-ic21").toString + "/t"
      val o = Tables.orders(s, d)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      IcebergInterop.write(o.filter(col("o_orderkey") % 2 === 0), t)
      IcebergInterop.upgradeFormat(s, t)
      val oid = IcebergInterop.replaceSortOrder(s, t, Seq(
        IcebergInterop.IceSortField("o_orderkey", asc = true,
          nullsFirst = true)))
      // a MIS-ORDERED append: input sorted by price, not by key —
      // the write path's range distribution must fix the layout
      IcebergInterop.write(o.filter(col("o_orderkey") % 2 === 1)
        .orderBy(col("o_totalprice")), t)
      val total = IcebergInterop.state(s, t, None).files.map(_.bytes).sum
      IcebergInterop.optimize(s, t, targetFileBytes = total / 3 + 1)
      val st = IcebergInterop.state(s, t, None)
      val allStamped = st.files.nonEmpty &&
        st.files.forall(_.sortOrderId.contains(oid))
      def keyRange(f: IcebergInterop.IceFile): Option[(Long, Long)] =
        for (lo <- f.lower.get("o_orderkey").collect { case Left(v) => v };
             hi <- f.upper.get("o_orderkey").collect { case Left(v) => v })
          yield (lo, hi)
      // ranges disjoint WITHIN each commit's files (each commit is
      // its own range distribution; commits overlap by design)
      val disjointPerCommit = st.files.groupBy(_.snapId).values.forall {
        g =>
          val rs = g.flatMap(keyRange).sortBy(_._1)
          rs.size == g.size && rs.sliding(2).forall {
            case Seq((_, hi), (lo, _)) => hi < lo
            case _ => true
          }
      }
      // one rewritten file's rows are monotone in the sort key
      val probe = st.files.minBy(_.records)
      val probed = s.read.parquet(probe.path)
        .select(col("o_orderkey").cast("long")).collect()
        .map(_.getLong(0))
      val monotone = probed.sameElements(probed.sorted)
      val ok = allStamped && disjointPerCommit && monotone &&
        st.files.size > 1 && st.defaultSortOrderId == oid
      s"$t|$ok"
    })
    val Array(dir, flag) = built.split('|')
    IcebergInterop.read(s, dir)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(27,2)"))
          .cast("decimal(27,2)").cast("double").as("total"))
      .withColumn("sorted_layout", lit(flag.toBoolean))
  }

  val ic21Oracle: String =
    """SELECT o_orderpriority, count(*) AS n_orders,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2)))
      |    AS DECIMAL(27,2)) AS DOUBLE) AS total,
      |  TRUE AS sorted_layout
      |FROM orders GROUP BY o_orderpriority""".stripMargin

  /** ic22_wap_publish — WRITE-AUDIT-PUBLISH through the gate: an
    * evens-only table, the odds landed as a BRANCH write under
    * `spark.wap.branch` (main and the snapshot-log must stay PINNED
    * while the branch stacks), then `fastForward` publishes after
    * proving descent by the recorded parent-snapshot-id chain. The
    * `wap_ok` flag pins the lifecycle in-row: pre-publish main count
    * unchanged, the branch ref declared, the snapshot-log gaining
    * exactly ONE entry at publish, the published head = the branch
    * head. The final aggregate is the FULL table, re-derived
    * relationally — a leaked branch write or failed publish fails the
    * hash loudly. */
  def ic22WapPublish(s: SparkSession, d: String): DataFrame = {
    val built = builtTables.computeIfAbsent(s"ic22:$d", _ => {
      val t = java.nio.file.Files
        .createTempDirectory("graft-ice-ic22").toString + "/t"
      val o = Tables.orders(s, d)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      IcebergInterop.write(o.filter(col("o_orderkey") % 2 === 0), t)
      val mainBefore = IcebergInterop.read(s, t).count()
      val logBefore = IcebergInterop.snapshotLineage(s, t).length
      s.conf.set("spark.wap.branch", "audit")
      try IcebergInterop.write(o.filter(col("o_orderkey") % 2 === 1), t)
      finally s.conf.unset("spark.wap.branch")
      val pinned = IcebergInterop.read(s, t).count() == mainBefore &&
        IcebergInterop.snapshotLineage(s, t).length == logBefore
      val (branchHead, kind) = IcebergInterop.refs(s, t)("audit")
      val published = IcebergInterop.fastForward(s, t, "audit")
      val ok = pinned && kind == "branch" && published == branchHead &&
        IcebergInterop.snapshotLineage(s, t).length == logBefore + 1
      s"$t|$ok"
    })
    val Array(dir, flag) = built.split('|')
    IcebergInterop.read(s, dir)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(27,2)"))
          .cast("decimal(27,2)").cast("double").as("total"))
      .withColumn("wap_ok", lit(flag.toBoolean))
  }

  val ic22Oracle: String =
    """SELECT o_orderpriority, count(*) AS n_orders,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2)))
      |    AS DECIMAL(27,2)) AS DOUBLE) AS total,
      |  TRUE AS wap_ok
      |FROM orders GROUP BY o_orderpriority""".stripMargin

  /** ic23_spec_evolution — PARTITION SPEC EVOLUTION through the
    * gate: an UNPARTITIONED even-keys seed, then
    * `ALTER TABLE … ADD PARTITION FIELD o_orderpriority` — a
    * METADATA-ONLY commit (the 100 TB point: re-partitioning must
    * never rewrite data; the prior route here was a full-table
    * overwrite) — then the odd keys appended under the NEW spec.
    * The `spec_ok` flag pins the evidence in-row: the default spec
    * moved, the seed files survived evolution byte-for-byte under
    * spec 0, the appended files carry spec 1 with real partition
    * tuples, and a pruned one-priority read keeps every seed file
    * (fails open, no tuple) while dropping every other-priority
    * spec-1 file. `rewriteManifests` then compacts the two-spec
    * manifest list to ONE data manifest per spec with the file
    * surface byte-identical — the companion metadata-maintenance op,
    * pinned in the same flag. The aggregate re-derives relationally
    * over the full table, so a lost or double-counted row fails the
    * hash loudly. */
  def ic23SpecEvolution(s: SparkSession, d: String): DataFrame = {
    val built = builtTables.computeIfAbsent(s"ic23:$d", _ => {
      val t = java.nio.file.Files
        .createTempDirectory("graft-ice-ic23").toString + "/t"
      val o = Tables.orders(s, d)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      IcebergInterop.write(o.filter(col("o_orderkey") % 2 === 0), t)
      IcebergInterop.upgradeFormat(s, t)
      val seed = IcebergInterop.state(s, t, None).files.map(_.path).toSet
      val sid = IcebergInterop.addPartitionField(s, t,
        IcebergInterop.SpecField("o_orderpriority", "identity",
          "o_orderpriority"))
      val afterEvo = IcebergInterop.state(s, t, None)
      IcebergInterop.write(o.filter(col("o_orderkey") % 2 === 1), t,
        partitionBy = Seq(IcebergInterop.SpecField("o_orderpriority",
          "identity", "o_orderpriority")))
      val preRwm = IcebergInterop.state(s, t, None)
      // rewrite_manifests on the two-spec table: the manifest list
      // consolidates to ONE data manifest per spec, data files and
      // their spec assignments byte-identical — metadata compaction
      // composing with evolution, no data IO
      IcebergInterop.rewriteManifests(s, t)
      val st = IcebergInterop.state(s, t, None)
      val newFiles = st.files.filterNot(f => seed(f.path))
      val keptNames = IcebergInterop.readPruned(s, t,
        Seq(ScanEq("o_orderpriority", "1-URGENT"))).inputFiles
        .map(p => new org.apache.hadoop.fs.Path(p).getName).toSet
      def name(p: String): String =
        new org.apache.hadoop.fs.Path(p).getName
      def keys(x: IcebergInterop.IceState) =
        x.files.map(f => (f.path, f.seq, f.specId,
          f.partition.get("o_orderpriority"))).sortBy(_._1)
      val ok = sid == 1 && st.defaultSpecId == 1 &&
        afterEvo.files.map(_.path).toSet == seed && // metadata-only
        keys(st) == keys(preRwm) && // rewrite moved no data
        st.files.map(_.manifest).distinct.size == 2 && // 1/spec
        st.files.filter(f => seed(f.path)).forall(_.specId == 0) &&
        newFiles.nonEmpty && newFiles.forall(f => f.specId == 1 &&
          f.partition.contains("o_orderpriority")) &&
        seed.forall(p => keptNames(name(p))) &&
        newFiles.forall(f =>
          keptNames(name(f.path)) ==
            f.partition.get("o_orderpriority").contains("1-URGENT"))
      s"$t|$ok"
    })
    val Array(dir, flag) = built.split('|')
    IcebergInterop.read(s, dir)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(27,2)"))
          .cast("decimal(27,2)").cast("double").as("total"))
      .withColumn("spec_ok", lit(flag.toBoolean))
  }

  val ic23Oracle: String =
    """SELECT o_orderpriority, count(*) AS n_orders,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2)))
      |    AS DECIMAL(27,2)) AS DOUBLE) AS total,
      |  TRUE AS spec_ok
      |FROM orders GROUP BY o_orderpriority""".stripMargin

  /** iv1_iceberg_view — Iceberg VIEWS (view spec v1) through the
    * gate: a spec-shaped view over a registered Iceberg table,
    * VERSIONED — version 1 aggregates only the even keys, CREATE OR
    * REPLACE appends version 2 with the full body, and the gate read
    * plans the CURRENT version's Spark-dialect SQL. The `view_ok`
    * flag pins the versioning in-row: version-log = [1, 2] and
    * version 1 still readable with the narrower result. A stale
    * current pointer or broken representation fails the hash
    * loudly. */
  def iv1IcebergView(s: SparkSession, d: String): DataFrame = {
    val built = builtTables.computeIfAbsent(s"iv1:$d", _ => {
      val base = java.nio.file.Files
        .createTempDirectory("graft-ice-iv1")
      val t = s"$base/t"
      val v = s"$base/v"
      val alias = s"iv1_base_${math.abs(d.hashCode)}"
      IcebergInterop.write(Tables.orders(s, d)
        .select("o_orderkey", "o_orderpriority", "o_totalprice"), t)
      IcebergSql.register(alias, t)
      def body(filter: String): String =
        "SELECT o_orderpriority, count(*) AS n_orders, " +
          "CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2))) " +
          "AS DECIMAL(27,2)) AS DOUBLE) AS total " +
          s"FROM graft_iceberg.$alias $filter GROUP BY o_orderpriority"
      IcebergViews.create(s, v, body("WHERE o_orderkey % 2 = 0"))
      IcebergViews.create(s, v, body(""), replace = true)
      val log = IcebergViews.versionLog(s, v).map(_._1)
      val v1Narrower =
        IcebergViews.readVersion(s, v, 1L)
          .agg(sum(col("n_orders"))).head().getLong(0) <
          IcebergViews.read(s, v)
            .agg(sum(col("n_orders"))).head().getLong(0)
      s"$v|${log == Seq(1L, 2L) && v1Narrower}"
    })
    val Array(dir, flag) = built.split('|')
    IcebergViews.read(s, dir)
      .withColumn("view_ok", lit(flag.toBoolean))
  }

  val iv1Oracle: String =
    """SELECT o_orderpriority, count(*) AS n_orders,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2)))
      |    AS DECIMAL(27,2)) AS DOUBLE) AS total,
      |  TRUE AS view_ok
      |FROM orders GROUP BY o_orderpriority""".stripMargin

  /** dl18_liquid_clustering — the Delta `clustering` writer feature
    * through the gate: four fully-interleaved appends, `ALTER TABLE
    * CLUSTER BY (o_orderkey)` (the delta.clustering domain under a
    * writer-7 upgrade), then OPTIMIZE with NO explicit z-order —
    * which must re-cluster on the RECORDED column. The `clustered`
    * flag pins the evidence in-row: >1 output file, pairwise-DISJOINT
    * per-file key ranges (read from the rewritten files' own recorded
    * stats), and the domain surviving the rewrite; the data aggregate
    * is re-derived relationally, so a re-cluster or domain regression
    * fails the hash loudly. */
  def dl18LiquidClustering(s: SparkSession, d: String): DataFrame = {
    val built = builtTables.computeIfAbsent(s"dl18:$d", _ => {
      val t = java.nio.file.Files
        .createTempDirectory("graft-delta-dl18").toString + "/t"
      val o = Tables.orders(s, d).select("o_orderkey", "o_totalprice")
      (0 until 4).foreach { k =>
        DeltaInterop.write(
          o.filter(col("o_orderkey") % 4 === k).coalesce(1), t)
      }
      DeltaInterop.enableClustering(s, t, Seq("o_orderkey"))
      val total = DeltaInterop.state(s, t, None).files.map(_.size).sum
      DeltaInterop.optimize(s, t, targetFileBytes = total / 3 + 1)
      val st = DeltaInterop.state(s, t, None)
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      def keyBound(stats: String, of: String): Option[Long] =
        (JsonMethods.parse(stats) \ of \ "o_orderkey") match {
          case JInt(n) => Some(n.toLong)
          case JLong(n) => Some(n)
          case _ => None
        }
      val bounds = st.files.flatMap(a => a.stats.flatMap(s0 =>
        for (lo <- keyBound(s0, "minValues");
             hi <- keyBound(s0, "maxValues")) yield (lo, hi)))
        .sortBy(_._1)
      val disjoint = bounds.size == st.files.size && bounds.size > 1 &&
        bounds.sliding(2).forall {
          case Seq((_, hi), (lo, _)) => hi < lo
          case _ => true
        }
      val domainKept = st.domains.contains(DeltaInterop.ClusteringDomain)
      s"$t|${disjoint && domainKept}"
    })
    val Array(dir, clustered) = built.split('|')
    DeltaInterop.read(s, dir)
      .groupBy((col("o_orderkey") % 8).as("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(27,2)"))
          .cast("decimal(27,2)").cast("double").as("total"))
      .withColumn("clustered", lit(clustered.toBoolean))
  }

  val dl18Oracle: String =
    """SELECT o_orderkey % 8 AS bucket, count(*) AS n,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2)))
      |    AS DECIMAL(27,2)) AS DOUBLE) AS total,
      |  TRUE AS clustered
      |FROM orders GROUP BY 1""".stripMargin

  /** dl19_uniform_mirror — the UniForm-style auto-mirror through the
    * gate: enable on an even-keys table, then an APPEND and a
    * DV-writing DELETE land as ordinary Delta commits — each re-syncs
    * the Iceberg mirror from the commit hook (the delete
    * purge-then-syncs, since a mirror cannot represent Delta DVs) —
    * and the gate read is served BY THE MIRROR
    * (`IcebergInterop.read`), with the oracle re-deriving the final
    * state relationally: a missed or stale sync fails the hash
    * loudly. */
  def dl19UniformMirror(s: SparkSession, d: String): DataFrame = {
    val dir = builtTables.computeIfAbsent(s"dl19:$d", _ => {
      val t = java.nio.file.Files
        .createTempDirectory("graft-delta-dl19").toString + "/t"
      val o = Tables.orders(s, d).select("o_orderkey", "o_totalprice")
      DeltaInterop.write(o.filter(col("o_orderkey") % 2 === 0), t)
      UniForm.enableAutoMirror(s, t)
      try {
        DeltaInterop.write(o.filter(col("o_orderkey") % 2 === 1), t)
        DeltaInterop.delete(s, t, col("o_orderkey") % 9 === 0): Unit
      } finally UniForm.disableAutoMirror(t)
      t
    })
    IcebergInterop.read(s, dir)
      .groupBy((col("o_orderkey") % 5).as("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(27,2)"))
          .cast("decimal(27,2)").cast("double").as("total"))
  }

  val dl19Oracle: String =
    """SELECT o_orderkey % 5 AS bucket, count(*) AS n,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2)))
      |    AS DECIMAL(27,2)) AS DOUBLE) AS total
      |FROM orders WHERE o_orderkey % 9 <> 0 GROUP BY 1""".stripMargin

  /** dl20_type_widening — Delta `typeWidening` WRITE side through
    * the gate: the even keys seed as a NARROW int column,
    * `ALTER COLUMN … TYPE BIGINT` re-types the table in ONE
    * metadata-only commit (the 100 TB point: a type change must
    * never rewrite data), and the odd keys append as long. The
    * `widen_ok` flag pins the evidence in-row: the widening moved no
    * file, the field records the spec's
    * `delta.typeWidening.typeChanges` entry, the protocol declares
    * `typeWidening` on both sides, and narrow + wide generations
    * coexist live. The aggregate sums the widened column over BOTH
    * generations — a mis-decoded narrow value fails the hash
    * loudly. */
  def dl20TypeWidening(s: SparkSession, d: String): DataFrame = {
    val built = builtTables.computeIfAbsent(s"dl20:$d", _ => {
      val t = java.nio.file.Files
        .createTempDirectory("graft-delta-dl20").toString + "/t"
      val o = Tables.orders(s, d)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      DeltaInterop.write(o.filter(col("o_orderkey") % 2 === 0)
        .withColumn("o_orderkey", col("o_orderkey").cast("int")), t)
      val before = DeltaInterop.state(s, t, None)
      DeltaInterop.widenColumnType(s, t, "o_orderkey",
        org.apache.spark.sql.types.LongType)
      val mid = DeltaInterop.state(s, t, None)
      DeltaInterop.write(o.filter(col("o_orderkey") % 2 === 1), t)
      val st = DeltaInterop.state(s, t, None)
      val changes = st.schema("o_orderkey").metadata
      val ok = mid.files.map(_.path).toSet ==
        before.files.map(_.path).toSet && // metadata-only
        mid.schema("o_orderkey").dataType ==
          org.apache.spark.sql.types.LongType &&
        changes.contains("delta.typeWidening.typeChanges") &&
        changes.getMetadataArray("delta.typeWidening.typeChanges")
          .headOption.exists(c => c.getString("fromType") == "integer" &&
            c.getString("toType") == "long") &&
        st.readerFeatures.contains("typeWidening") &&
        st.writerFeatures.contains("typeWidening") &&
        st.files.map(_.path).toSet.size >
          before.files.map(_.path).toSet.size
      s"$t|$ok"
    })
    val Array(dir, flag) = built.split('|')
    DeltaInterop.read(s, dir)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_orderkey")).as("key_sum"))
      .withColumn("widen_ok", lit(flag.toBoolean))
  }

  val dl20Oracle: String =
    """SELECT o_orderpriority, count(*) AS n_orders,
      |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum, TRUE AS widen_ok
      |FROM orders GROUP BY o_orderpriority""".stripMargin

  /** mg1_parquet_adoption — RAW-parquet adoption through the gate:
    * the even keys land as a plain Hive-partitioned parquet
    * directory adopted by `CONVERT TO DELTA`, the odd keys as a
    * second directory adopted by Iceberg `migrate` — both IN PLACE,
    * metadata-only (the 100 TB point: adoption must reference the
    * existing files verbatim, never rewrite). The `adopt_ok` flag
    * pins the evidence in-row: each adopted table serves EXACTLY the
    * raw directory's file set, the Delta side carries footer-read
    * `numRecords` stats on every add, and the Iceberg side records a
    * real identity spec with a tuple on every file. The aggregate
    * unions the two adopted tables back into the full orders
    * relation — a lost file or wrong tuple fails the hash loudly. */
  def mg1ParquetAdoption(s: SparkSession, d: String): DataFrame = {
    val built = builtTables.computeIfAbsent(s"mg1:$d", _ => {
      val base = java.nio.file.Files
        .createTempDirectory("graft-adopt-mg1").toString
      val de = s"$base/de"
      val ic = s"$base/ic"
      val o = Tables.orders(s, d)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      o.filter(col("o_orderkey") % 2 === 0)
        .write.partitionBy("o_orderpriority").parquet(de)
      o.filter(col("o_orderkey") % 2 === 1)
        .write.partitionBy("o_orderpriority").parquet(ic)
      val rawDe = s.read.parquet(de).inputFiles.toSet
      val rawIc = s.read.parquet(ic).inputFiles.toSet
      DeltaInterop.convertParquet(s, de)
      IcebergInterop.migrateParquet(s, ic)
      val dst = DeltaInterop.state(s, de, None)
      val ist = IcebergInterop.state(s, ic, None)
      // dual-form normalize (raw vs Hive-%-escaped segment names —
      // "4-NOT SPECIFIED" dirs): a file matches when ANY of its
      // forms meets any of the other side's
      def norm(p: String): Set[String] =
        ForeignDv.forms(p).map(f0 =>
          new org.apache.hadoop.fs.Path(f0).toUri.getPath).toSet
      val iceGot = ist.files.flatMap(f => norm(f.path)).toSet
      val ok = DeltaInterop.read(s, de).inputFiles.toSet == rawDe &&
        ist.files.size == rawIc.size &&
        rawIc.forall(p => norm(p).exists(iceGot)) &&
        dst.files.forall(_.stats.nonEmpty) &&
        ist.specs(ist.defaultSpecId) == Seq(IcebergInterop.SpecField(
          "o_orderpriority", "identity", "o_orderpriority")) &&
        ist.files.forall(f => f.records > 0 &&
          f.partition.contains("o_orderpriority"))
      s"$de|$ic|$ok"
    })
    val Array(de, ic, flag) = built.split('|')
    val cols = Seq("o_orderkey", "o_orderpriority", "o_totalprice")
    DeltaInterop.read(s, de).selectExpr(cols: _*)
      .unionAll(IcebergInterop.read(s, ic).selectExpr(cols: _*))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(27,2)"))
          .cast("decimal(27,2)").cast("double").as("total"))
      .withColumn("adopt_ok", lit(flag.toBoolean))
  }

  val mg1Oracle: String =
    """SELECT o_orderpriority, count(*) AS n_orders,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2)))
      |    AS DECIMAL(27,2)) AS DOUBLE) AS total,
      |  TRUE AS adopt_ok
      |FROM orders GROUP BY o_orderpriority""".stripMargin

  /** dl21_column_defaults — Delta COLUMN DEFAULT VALUES
    * (`allowColumnDefaults`, PROTOCOL.md §Column Default Values)
    * through the gate: the even keys seed WITH their real
    * o_totalprice, `ALTER COLUMN … SET DEFAULT` records the constant
    * in ONE metadata-only commit (the 100 TB point: declaring a
    * default must never touch data), the odd keys append OMITTING
    * the column — every writer's duty is to apply the default — and
    * one sentinel row lands through the SQL door's named-column
    * INSERT. The `default_ok` flag pins the evidence in-row: the
    * declaring commit moved no file, the field records
    * `CURRENT_DEFAULT`, the protocol declares the WRITER-ONLY
    * feature with the reader side untouched, and the seed rows kept
    * their explicit values (no initial-default — Delta's asymmetry
    * with Iceberg v3). The aggregate sums exact cents across both
    * generations — a row served with a null or wrong default fails
    * the hash loudly. */
  def dl21ColumnDefaults(s: SparkSession, d: String): DataFrame = {
    val built = builtTables.computeIfAbsent(s"dl21:$d", _ => {
      val t = java.nio.file.Files
        .createTempDirectory("graft-delta-dl21").toString + "/t"
      val o = Tables.orders(s, d)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      DeltaInterop.write(o.filter(col("o_orderkey") % 2 === 0), t)
      val before = DeltaInterop.state(s, t, None)
      DeltaInterop.setColumnDefault(s, t, "o_totalprice", "1234.5")
      val mid = DeltaInterop.state(s, t, None)
      // every omitting append applies the default — the feature's
      // whole point is that this holds for ANY writer session
      DeltaInterop.write(o.filter(col("o_orderkey") % 2 === 1)
        .select("o_orderkey", "o_orderpriority"), t)
      DeltaSql.register("dl21_t", t)
      s.sql("INSERT INTO graft_delta.dl21_t " +
        "(o_orderkey, o_orderpriority) VALUES (-1, 'GATE')")
      val st = DeltaInterop.state(s, t, None)
      val ok = mid.files.map(_.path).toSet ==
        before.files.map(_.path).toSet && // metadata-only declare
        mid.schema("o_totalprice").metadata
          .getString("CURRENT_DEFAULT") == "1234.5" &&
        st.writerFeatures.contains("allowColumnDefaults") &&
        st.minReaderVersion == before.minReaderVersion &&
        st.readerFeatures == before.readerFeatures
      s"$t|$ok"
    })
    val Array(dir, flag) = built.split('|')
    DeltaInterop.read(s, dir)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long"))
          .as("cents_sum"))
      .withColumn("default_ok", lit(flag.toBoolean))
  }

  // cents_sum is CAST back to BIGINT *outside* the SUM: DuckDB widens
  // SUM(BIGINT) to HUGEINT/INT128, which the driver's pandas compare
  // renders as float64 — type/serialization diverges from Spark's
  // BIGINT even when every value agrees (the dl20 `CAST(SUM(…) AS
  // BIGINT)` idiom is the passing pattern).
  val dl21Oracle: String =
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(SUM(CAST(ROUND(
      |    CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice
      |         ELSE 1234.5 END * 100) AS BIGINT)) AS BIGINT) AS cents_sum,
      |  TRUE AS default_ok
      |FROM orders GROUP BY o_orderpriority
      |UNION ALL
      |SELECT 'GATE' AS o_orderpriority, CAST(1 AS BIGINT) AS n_orders,
      |  CAST(123450 AS BIGINT) AS cents_sum, TRUE AS default_ok""".stripMargin

  /** sh1_delta_sharing — the Delta Sharing protocol end-to-end
    * through the gate: orders land in a partitioned Delta table, a
    * [[DeltaSharingServer]] shares it over the REST + NDJSON wire,
    * and the aggregate reads back through [[DeltaSharing.Client]] —
    * bearer-authed listings, a POSTed /query file list, and the data
    * itself over `graftshare://` ranged-HTTP parquet scans (the
    * 100 TB point: the consumer's scan is a distributed vectorized
    * read against presigned urls — O(1) driver HTTP per query, no
    * byte routed through the provider's engine or the client's
    * driver). The `share_ok` flag pins the wire evidence in-row: the
    * listings serve the share/schema/table, the version endpoint
    * matches the provider state, every scanned file came through the
    * graftshare scheme (not a local path), and a wrong bearer token
    * refuses. Partition values re-attach per tuple — a lost or
    * mis-attached partition column fails the hash loudly. */
  def sh1DeltaSharing(s: SparkSession, d: String): DataFrame = {
    val built = builtTables.computeIfAbsent(s"sh1:$d", _ => {
      val t = java.nio.file.Files
        .createTempDirectory("graft-sharing-sh1").toString + "/t"
      DeltaInterop.write(
        Tables.orders(s, d)
          .select("o_orderkey", "o_orderpriority", "o_totalprice"),
        t, partitionBy = Seq("o_orderpriority"))
      val server = new DeltaSharingServer(s, "sh1-token")
      server.addTable("gate", "tpch", "orders", t)
      server.start()
      sh1Servers.add(server) // keep serving for the query's lifetime
      val client = new DeltaSharing.Client(
        DeltaSharing.Profile.fromJson(server.profileJson))
      val st = DeltaInterop.state(s, t, None)
      val scanned = client.queryTable(s, "gate", "tpch", "orders")
      val badToken =
        try {
          new DeltaSharing.Client(DeltaSharing.Profile.fromJson(
            s"""{"shareCredentialsVersion":1,"endpoint":"${
              server.endpoint}","bearerToken":"wrong"}""")).listShares()
          false
        } catch {
          case e: IllegalArgumentException =>
            e.getMessage.contains("rejected the bearer token")
        }
      val ok = client.listShares() == Seq("gate") &&
        client.listSchemas("gate") == Seq("tpch") &&
        client.listTables("gate", "tpch") == Seq("orders") &&
        client.tableVersion("gate", "tpch", "orders") == st.version &&
        scanned.inputFiles.nonEmpty &&
        scanned.inputFiles.forall(_.startsWith("graftshare://")) &&
        badToken
      s"${server.endpoint}|$ok"
    })
    val Array(endpoint, flag) = built.split('|')
    val client = new DeltaSharing.Client(DeltaSharing.Profile.fromJson(
      s"""{"shareCredentialsVersion":1,"endpoint":"$endpoint",""" +
        """"bearerToken":"sh1-token"}"""))
    client.queryTable(s, "gate", "tpch", "orders")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long"))
          .as("cents_sum"))
      .withColumn("share_ok", lit(flag.toBoolean))
  }

  private val sh1Servers =
    new java.util.concurrent.CopyOnWriteArrayList[DeltaSharingServer]()

  // Same BIGINT re-cast as dl21Oracle: bare SUM(BIGINT) widens to
  // HUGEINT in DuckDB and fails the driver's hash on type alone.
  val sh1Oracle: String =
    """SELECT o_orderpriority, count(*) AS n_orders,
      |  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
      |    AS BIGINT) AS cents_sum,
      |  TRUE AS share_ok
      |FROM orders GROUP BY o_orderpriority""".stripMargin

  /** dl5_delta_prune — partition-pruned foreign Delta reads through
    * the gate: orders written Hive-partitioned by o_orderpriority (5
    * add-action groups), readWhere prunes 4 of the 5 on the recorded
    * partitionValues and applies the exact residual — a non-partition
    * range rides along unpruned (fail-open) to pin that the residual
    * is always the full predicate. */
  def dl5DeltaPrune(s: SparkSession, d: String): DataFrame = {
    val table = builtTables.computeIfAbsent(s"dl5:$d", _ => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-delta-dl5").toString + "/t"
      DeltaInterop.write(
        Tables.orders(s, d)
          .select("o_orderkey", "o_custkey", "o_totalprice",
            "o_orderstatus", "o_orderpriority"),
        dir, partitionBy = Seq("o_orderpriority"))
      dir
    })
    DeltaInterop.readWhere(s, table, Seq(
      ScanEq("o_orderpriority", "1-URGENT"),
      ScanBetween("o_totalprice", 50000.0, 250000.0)))
  }

  val dl5Oracle: String =
    """SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus,
      |  o_orderpriority
      |FROM orders
      |WHERE o_orderpriority = '1-URGENT'
      |  AND o_totalprice BETWEEN 50000.0 AND 250000.0""".stripMargin

  /** dl6_delta_stats_prune — value-bounds pruning with NO partition
    * layout through the gate: orders written range-clustered on
    * o_orderkey (8 files whose add actions record disjoint
    * minValues/maxValues in the stats JSON the writer extracts from
    * each staged footer), then `readWhere` resolves a key range to the
    * overlapping files on recorded statistics alone — the
    * manifest-level analog of parquet footer skipping, covering the
    * clustered-but-unpartitioned write pattern. File-subset behavior
    * (inputFiles strictly smaller than the live set, one-sided bounds,
    * stats-less adds kept) is pinned in DeltaPruneSpec; the gate pins
    * the VALUES against DuckDB filtering the original parquet. */
  def dl6DeltaStatsPrune(s: SparkSession, d: String): DataFrame = {
    val table = builtTables.computeIfAbsent(s"dl6:$d", _ => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-delta-dl6").toString + "/t"
      DeltaInterop.write(
        Tables.orders(s, d)
          .select("o_orderkey", "o_custkey", "o_totalprice",
            "o_orderpriority")
          .repartitionByRange(8, col("o_orderkey"))
          .sortWithinPartitions("o_orderkey"),
        dir)
      dir
    })
    DeltaInterop.readWhere(s, table,
      Seq(ScanBetween("o_orderkey", 3000L, 6000L)))
  }

  val dl6Oracle: String =
    """SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
      |FROM orders
      |WHERE o_orderkey BETWEEN 3000 AND 6000""".stripMargin

  /** dl7_delta_change_feed — the Delta CHANGE DATA FEED through the
    * gate: even-key orders created (v0), the feed enabled (v1,
    * metadata-only — emits nothing), odd keys appended (v2 → inserts),
    * then an overwrite to the keys ≤ 1000 (v3 → a delete for every
    * previously-live row, read from the removed files' still-on-disk
    * content, plus the new inserts). The oracle reconstructs all
    * three change sets from the original parquet with literal
    * change-type/version columns — row-level CDC equivalence, not
    * just counts. cdc-action commits, dataChange=false maintenance,
    * and the disabled-range refusal are pinned in DeltaCdfSpec. */
  def dl7DeltaChangeFeed(s: SparkSession, d: String): DataFrame = {
    val table = builtTables.computeIfAbsent(s"dl7:$d", _ => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-delta-dl7").toString + "/t"
      val o = Tables.orders(s, d)
        .select("o_orderkey", "o_totalprice")
      DeltaInterop.write(o.filter(col("o_orderkey") % 2 === 0), dir)
      DeltaInterop.enableChangeDataFeed(s, dir)
      DeltaInterop.write(o.filter(col("o_orderkey") % 2 === 1), dir)
      DeltaInterop.write(o.filter(col("o_orderkey") <= 1000), dir,
        overwrite = true)
      dir
    })
    DeltaInterop.changeFeed(s, table, 1L, 3L)
      .select("o_orderkey", "o_totalprice", "_change_type",
        "_commit_version")
  }

  val dl7Oracle: String =
    """SELECT o_orderkey, o_totalprice, 'insert' AS _change_type,
      |  CAST(2 AS BIGINT) AS _commit_version
      |FROM orders WHERE o_orderkey % 2 = 1
      |UNION ALL
      |SELECT o_orderkey, o_totalprice, 'delete', 3 FROM orders
      |UNION ALL
      |SELECT o_orderkey, o_totalprice, 'insert', 3 FROM orders
      |WHERE o_orderkey <= 1000""".stripMargin

  /** cx1_cross_format — ZERO-COPY Delta → Iceberg conversion through
    * the gate: a Hive-partitioned Delta table converts in place (no
    * data file moves — file identity is spec-pinned in
    * CrossFormatSpec), and the gate reads ONE partition through the
    * converted Iceberg metadata — so the read must both prune on the
    * carried-over identity tuples and FILL the partition column the
    * Delta data files omit. Conversion cost is O(files) metadata,
    * never O(bytes): the 100 TB migration story. */
  def cx1CrossFormat(s: SparkSession, d: String): DataFrame = {
    val table = builtTables.computeIfAbsent(s"cx1:$d", _ => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-xfmt-cx1").toString + "/t"
      DeltaInterop.write(
        Tables.orders(s, d)
          .select("o_orderkey", "o_custkey", "o_totalprice",
            "o_orderpriority"),
        dir, partitionBy = Seq("o_orderpriority"))
      CrossFormat.deltaToIceberg(s, dir)
      dir
    })
    IcebergInterop.readWhere(s, table, Seq(ScanEq("o_orderpriority",
      "2-HIGH")))
  }

  val cx1Oracle: String =
    """SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
      |FROM orders
      |WHERE o_orderpriority = '2-HIGH'""".stripMargin

  /** dls2_delta_cdf_stream — the change data feed as a STREAMING
    * source through the gate: dl7's table shape (create / enable /
    * append / overwrite) streamed with `readChangeFeed=true` from the
    * enabling version, AvailableNow — the union of per-commit change
    * batches must equal dl7's batch reconstruction (same oracle).
    * Maintenance silence and checkpoint resume live in
    * InteropOptimizeSpec. */
  def dls2DeltaCdfStream(s: SparkSession, d: String): DataFrame = {
    val table = builtTables.computeIfAbsent(s"dls2:$d", _ => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-delta-dls2").toString + "/t"
      val o = Tables.orders(s, d).select("o_orderkey", "o_totalprice")
      DeltaInterop.write(o.filter(col("o_orderkey") % 2 === 0), dir)
      DeltaInterop.enableChangeDataFeed(s, dir)
      DeltaInterop.write(o.filter(col("o_orderkey") % 2 === 1), dir)
      DeltaInterop.write(o.filter(col("o_orderkey") <= 1000), dir,
        overwrite = true)
      dir
    })
    graft.streaming.Streaming.runToMemory(s,
      s.readStream.format("graft-delta")
        .option("readChangeFeed", "true")
        .option("startingVersion", "1")
        .load(table),
      "dls2_delta_cdf_stream_tbl",
      org.apache.spark.sql.streaming.OutputMode.Append())
      .select("o_orderkey", "o_totalprice", "_change_type",
        "_commit_version")
  }

  /** dl8_delta_optimize — OPTIMIZE ZORDER through the gate: orders
    * written as 12 anti-clustered files, rewritten by
    * `optimize(zorderBy = custkey, totalprice)` in one
    * dataChange=false commit, then a custkey range served through
    * `readWhere` — the rewritten files' recorded stats must both
    * prune (file-subset pinned in InteropOptimizeSpec) and return
    * exactly the oracle's rows. */
  def dl8DeltaOptimize(s: SparkSession, d: String): DataFrame = {
    val table = builtTables.computeIfAbsent(s"dl8:$d", _ => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-delta-dl8").toString + "/t"
      DeltaInterop.write(
        Tables.orders(s, d)
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .repartition(12),
        dir)
      DeltaInterop.optimize(s, dir, targetFileBytes = 64L * 1024,
        zorderBy = Seq("o_custkey", "o_totalprice"))
      dir
    })
    DeltaInterop.readWhere(s, table,
      Seq(ScanBetween("o_custkey", 100L, 300L)))
  }

  val dl8Oracle: String =
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders
      |WHERE o_custkey BETWEEN 100 AND 300""".stripMargin

  /** ic8_iceberg_optimize — the Iceberg-side OPTIMIZE ZORDER through
    * the gate: four appends accumulate small files, one `replace`
    * snapshot rewrites them z-clustered on (custkey, totalprice) with
    * re-recorded bounds, and the gate serves a custkey range through
    * the rewritten manifest. */
  def ic8IcebergOptimize(s: SparkSession, d: String): DataFrame = {
    val table = builtTables.computeIfAbsent(s"ic8:$d", _ => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-ice-ic8").toString + "/t"
      val o = Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      (0 until 4).foreach(i =>
        IcebergInterop.write(o.filter(col("o_orderkey") % 4 === i), dir))
      IcebergInterop.optimize(s, dir, targetFileBytes = 64L * 1024,
        zorderBy = Seq("o_custkey", "o_totalprice"))
      dir
    })
    IcebergInterop.readWhere(s, table,
      Seq(ScanBetween("o_custkey", 100L, 300L)))
  }

  val ic8Oracle: String =
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders
      |WHERE o_custkey BETWEEN 100 AND 300""".stripMargin

  /** dl9_delta_dml — Delta ROW-LEVEL DML through the gate, all three
    * verbs via the SQL surface: `DELETE FROM` lands as a
    * MERGE-ON-READ deletion-vector commit (no data file rewrites —
    * the in-row `mor_delete` flag pins that the delete version
    * carries a vector), `UPDATE` as a copy-on-write rewrite of only
    * the files holding a match (materializing their vectors), and
    * `MERGE INTO` as the upsert (matched keys replaced wholesale —
    * including keys the DELETE killed, which re-enter as inserts —
    * plus genuinely new keys). The oracle re-derives the post-DML
    * table from the original parquet; sums ride the
    * decimal-exact-then-DOUBLE contract (mv1). */
  def dl9DeltaDml(s: SparkSession, d: String): DataFrame = {
    val built = builtTables.computeIfAbsent(s"dl9:$d", _ => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-delta-dl9").toString + "/t"
      val o = Tables.orders(s, d)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      DeltaInterop.write(o, dir)
      DeltaSql.register("dl9_orders", dir)
      s.sql("DELETE FROM graft_delta.dl9_orders WHERE o_orderkey % 5 = 0")
      s.sql("UPDATE graft_delta.dl9_orders " +
        "SET o_totalprice = o_totalprice + 10 WHERE o_orderkey % 7 = 0")
      val nine = o.filter(col("o_orderkey") % 9 === 1)
      nine.withColumn("o_totalprice", col("o_totalprice") * 2)
        .unionByName(nine.withColumn("o_orderkey",
          (col("o_orderkey") + lit(100000000L))
            .cast(o.schema("o_orderkey").dataType)))
        .createOrReplaceTempView("dl9_merge_src")
      s.sql(
        """MERGE INTO graft_delta.dl9_orders AS t
          |USING dl9_merge_src AS m ON t.o_orderkey = m.o_orderkey
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val mor = DeltaInterop.state(s, dir, Some(1L))
        .files.exists(_.dv.nonEmpty)
      s"$dir|$mor"
    })
    val Array(dir, mor) = built.split('|')
    DeltaInterop.read(s, dir)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(27,2)"))
          .cast("decimal(27,2)").cast("double").as("total"))
      .withColumn("mor_delete", lit(mor.toBoolean))
  }

  val dl9Oracle: String =
    """WITH upd AS (
      |  SELECT o_orderkey, o_orderpriority,
      |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 10
      |         ELSE o_totalprice END AS o_totalprice
      |  FROM orders WHERE o_orderkey % 5 <> 0),
      |m AS (
      |  SELECT o_orderkey, o_orderpriority,
      |    o_totalprice * 2 AS o_totalprice
      |  FROM orders WHERE o_orderkey % 9 = 1
      |  UNION ALL
      |  SELECT o_orderkey + 100000000, o_orderpriority, o_totalprice
      |  FROM orders WHERE o_orderkey % 9 = 1),
      |fin AS (
      |  SELECT * FROM m
      |  UNION ALL
      |  SELECT * FROM upd
      |  WHERE upd.o_orderkey NOT IN (SELECT o_orderkey FROM m))
      |SELECT o_orderpriority, count(*) AS n_orders,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2)))
      |    AS DECIMAL(27,2)) AS DOUBLE) AS total,
      |  TRUE AS mor_delete
      |FROM fin GROUP BY o_orderpriority""".stripMargin

  /** ic12_refs_timetravel — BRANCHES AND TAGS through the gate: a
    * tag pins the pre-append snapshot, later appends and an
    * upsert-style overwrite move the head (and the declared `main`
    * branch with it), and the gate serves the TAGGED snapshot through
    * the SQL surface (`VERSION AS OF 'v1'` — name, not id). The
    * oracle re-derives the tagged subset from the original parquet;
    * `ref_pinned` pins in-row that the tag still resolves to the
    * original snapshot after the head moved AND survived a snapshot
    * expiry that would have dropped it by age. */
  def ic12RefsTimetravel(s: SparkSession, d: String): DataFrame = {
    val built = builtTables.computeIfAbsent(s"ic12:$d", _ => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-ice-ic12").toString + "/t"
      val o = Tables.orders(s, d)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      val s1 = IcebergInterop.write(o.filter(col("o_orderkey") % 3 === 0),
        dir)
      IcebergInterop.createRef(s, dir, "v1", "tag")
      IcebergInterop.write(o.filter(col("o_orderkey") % 3 === 1), dir)
      IcebergInterop.write(o.filter(col("o_orderkey") % 3 === 2), dir)
      // age-based expiry alone would drop s1 — the tag must keep it
      IcebergInterop.expireSnapshots(s, dir, keepLast = 1)
      val pinned =
        IcebergInterop.resolveRef(s, dir, "v1") == s1 &&
          IcebergInterop.snapshotLineage(s, dir).contains(s1)
      IcebergSql.register("ic12_orders", dir)
      s"$dir|$pinned"
    })
    val Array(_, pinned) = built.split('|')
    s.sql(
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2)))
        |    AS DECIMAL(27,2)) AS DOUBLE) AS total
        |FROM graft_iceberg.ic12_orders VERSION AS OF 'v1'
        |GROUP BY o_orderpriority""".stripMargin)
      .withColumn("ref_pinned", lit(pinned.toBoolean))
  }

  val ic12Oracle: String =
    """SELECT o_orderpriority, count(*) AS n_orders,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2)))
      |    AS DECIMAL(27,2)) AS DOUBLE) AS total,
      |  TRUE AS ref_pinned
      |FROM orders WHERE o_orderkey % 3 = 0
      |GROUP BY o_orderpriority""".stripMargin

  /** ic13_type_promotion — the spec's legal TYPE PROMOTIONS through
    * the gate: the table is created with `o_totalprice` DOWNCAST to
    * float and a decimal(12,2) twin, promoted (float→double,
    * decimal(12,2)→decimal(27,2)) metadata-only, then appended WIDE —
    * so the serving read must resolve OLD files under their
    * write-time types and cast up while new files read natively. The
    * float lane aggregates over float-valued doubles (the oracle
    * applies the same float round-trip); the decimal lane is exact. */
  def ic13TypePromotion(s: SparkSession, d: String): DataFrame = {
    val built = builtTables.computeIfAbsent(s"ic13:$d", _ => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-ice-ic13").toString + "/t"
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_totalprice"))
      val narrow = o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_totalprice").cast("float").as("price_f"),
          col("o_totalprice").cast("decimal(12,2)").as("price_d"))
      IcebergInterop.write(narrow, dir)
      IcebergInterop.promoteColumn(s, dir, "price_f",
        org.apache.spark.sql.types.DoubleType)
      IcebergInterop.promoteColumn(s, dir, "price_d",
        org.apache.spark.sql.types.DecimalType(27, 2))
      val wide = o.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_totalprice").cast("float").cast("double").as("price_f"),
          col("o_totalprice").cast("decimal(27,2)").as("price_d"))
      IcebergInterop.write(wide, dir)
      dir
    })
    // ROW-LEVEL surface, deliberately: re-quantizing float-rounded
    // values to decimal is NOT engine-exact (DuckDB's double→decimal
    // cast rounds x·10^s computed in double arithmetic; Spark rounds
    // the exact value — near-tie floats diverge by a cent), so the
    // gate hashes the raw float64 bits per row instead: float→double
    // widening is exact in both engines, and decimal(12,2)→double is
    // exact below 2^53/100. Every row of both lanes is covered — a
    // single wrong promoted value fails the hash.
    IcebergInterop.read(s, built)
      .select(col("o_orderkey"), col("price_f"),
        col("price_d").cast("double").as("price_d"))
  }

  val ic13Oracle: String =
    """SELECT o_orderkey,
      |  CAST(CAST(o_totalprice AS FLOAT) AS DOUBLE) AS price_f,
      |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price_d
      |FROM orders""".stripMargin

  /** dl11_timestamp_travel — `TIMESTAMP AS OF` through the gate: two
    * commits (evens, then odds), the first commit's RECORDED
    * timestamp captured from `$history`, and the gate serves
    * `TIMESTAMP AS OF <that instant>` through SQL. Deterministic even
    * when both commits land in one wall-clock millisecond: versionAt
    * adjusts non-increasing timestamps up, so the first commit's own
    * instant always resolves version 0. Oracle = the even half. */
  def dl11TimestampTravel(s: SparkSession, d: String): DataFrame = {
    val built = builtTables.computeIfAbsent(s"dl11:$d", _ => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-delta-dl11").toString + "/t"
      val o = Tables.orders(s, d)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      DeltaInterop.write(o.filter(col("o_orderkey") % 2 === 0), dir)
      DeltaInterop.write(o.filter(col("o_orderkey") % 2 === 1), dir)
      DeltaSql.register("dl11_orders", dir)
      val ts0 = DeltaInterop.history(s, dir)
        .filter(col("version") === 0L)
        .select(col("timestamp_ms")).head().getLong(0)
      s"$dir|$ts0"
    })
    val Array(_, ts0) = built.split('|')
    val iso = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochMilli(ts0.toLong))
    s.sql(
      s"""SELECT o_orderpriority, count(*) AS n_orders,
         |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2)))
         |    AS DECIMAL(27,2)) AS DOUBLE) AS total
         |FROM graft_delta.dl11_orders TIMESTAMP AS OF '$iso'
         |GROUP BY o_orderpriority""".stripMargin)
  }

  val dl11Oracle: String =
    """SELECT o_orderpriority, count(*) AS n_orders,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2)))
      |    AS DECIMAL(27,2)) AS DOUBLE) AS total
      |FROM orders WHERE o_orderkey % 2 = 0
      |GROUP BY o_orderpriority""".stripMargin

  /** ic14_partitioned_mor — PARTITIONED merge-on-read Iceberg DML
    * through the gate: an identity-partitioned v2 table takes a
    * `deleteMor` spanning both partitions and an `updateMor` in one,
    * with position-delete files stamped per partition tuple (one
    * delete file per touched tuple — the shape foreign readers prune
    * by partition). `data_untouched` pins IN-ROW that no original
    * data file was rewritten by either verb — the merge-on-read
    * economics on the 100 TB-normal partitioned layout. */
  def ic14PartitionedMor(s: SparkSession, d: String): DataFrame = {
    val built = builtTables.computeIfAbsent(s"ic14:$d", _ => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-ice-ic14").toString + "/t"
      val o = Tables.orders(s, d)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      IcebergInterop.write(o, dir, partitionBy =
        Seq(IcebergInterop.SpecField(
          "o_orderpriority", "identity", "o_orderpriority")))
      IcebergInterop.upgradeFormat(s, dir)
      val before = IcebergInterop.state(s, dir, None)
        .files.map(_.path).toSet
      IcebergInterop.deleteMor(s, dir, col("o_orderkey") % 5 === 0)
      IcebergInterop.updateMor(s, dir, col("o_orderkey") % 7 === 0,
        Seq("o_totalprice" -> (col("o_totalprice") + 10)))
      val st = IcebergInterop.state(s, dir, None)
      val untouched = before.subsetOf(st.files.map(_.path).toSet) &&
        st.posDeletes.nonEmpty
      s"$dir|$untouched"
    })
    val Array(dir, untouched) = built.split('|')
    IcebergInterop.read(s, dir)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(27,2)"))
          .cast("decimal(27,2)").cast("double").as("total"))
      .withColumn("data_untouched", lit(untouched.toBoolean))
  }

  val ic14Oracle: String =
    """SELECT o_orderpriority, count(*) AS n_orders,
      |  CAST(CAST(SUM(CAST(
      |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 10
      |         ELSE o_totalprice END AS DECIMAL(27,2)))
      |    AS DECIMAL(27,2)) AS DOUBLE) AS total,
      |  TRUE AS data_untouched
      |FROM orders WHERE o_orderkey % 5 <> 0
      |GROUP BY o_orderpriority""".stripMargin

  /** dl10_mapped_dml — the full row-level DML matrix on a
    * COLUMN-MAPPED, PARTITIONED Delta table (the modern-Delta default
    * shape): the table is created name-mapped (`col-…` physical names
    * on disk, ids in the schema metadata, protocol 2/5, physically
    * keyed partitionValues), then DELETE lands merge-on-read
    * (deletion vector — `mor_delete` pins the vector at the delete
    * version), UPDATE copy-on-writes only the matching files under
    * physical names, and MERGE upserts (matched keys replaced
    * wholesale, killed keys re-enter as inserts, new keys land in
    * their partitions). `mapped_physical` pins IN-ROW that every live
    * data file really stores `col-…` physical columns — the gate
    * fails if a rewrite ever leaks logical names into a mapped
    * table. DML semantics are dl9's, so the oracle re-derives the
    * same post-DML table from the original parquet. */
  def dl10MappedDml(s: SparkSession, d: String): DataFrame = {
    val built = builtTables.computeIfAbsent(s"dl10:$d", _ => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-delta-dl10").toString + "/t"
      val o = Tables.orders(s, d)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      DeltaInterop.write(o, dir, partitionBy = Seq("o_orderpriority"),
        columnMapping = "name")
      DeltaInterop.delete(s, dir, col("o_orderkey") % 5 === 0)
      DeltaInterop.update(s, dir, col("o_orderkey") % 7 === 0,
        Seq("o_totalprice" -> (col("o_totalprice") + 10)))
      val nine = o.filter(col("o_orderkey") % 9 === 1)
      val src = nine.withColumn("o_totalprice", col("o_totalprice") * 2)
        .unionByName(nine.withColumn("o_orderkey",
          (col("o_orderkey") + lit(100000000L))
            .cast(o.schema("o_orderkey").dataType)))
      DeltaInterop.merge(src, dir, Seq("o_orderkey")): Unit
      val mor = DeltaInterop.state(s, dir, Some(1L))
        .files.exists(_.dv.nonEmpty)
      val st = DeltaInterop.state(s, dir, None)
      val phys = st.columnMappingMode == "name" && st.files.nonEmpty &&
        st.files.forall { a =>
          spark_read_columns(s, dir, a.path).forall(_.startsWith("col-"))
        }
      s"$dir|$mor|$phys"
    })
    val Array(dir, mor, phys) = built.split('|')
    DeltaInterop.read(s, dir)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(27,2)"))
          .cast("decimal(27,2)").cast("double").as("total"))
      .withColumn("mor_delete", lit(mor.toBoolean))
      .withColumn("mapped_physical", lit(phys.toBoolean))
  }

  /** One data file's on-disk column names (schema-only read). */
  private def spark_read_columns(s: SparkSession, dir: String,
                                 rel: String): Seq[String] =
    s.read.parquet(
      new org.apache.hadoop.fs.Path(dir, rel).toString).columns.toSeq

  val dl10Oracle: String =
    """WITH upd AS (
      |  SELECT o_orderkey, o_orderpriority,
      |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 10
      |         ELSE o_totalprice END AS o_totalprice
      |  FROM orders WHERE o_orderkey % 5 <> 0),
      |m AS (
      |  SELECT o_orderkey, o_orderpriority,
      |    o_totalprice * 2 AS o_totalprice
      |  FROM orders WHERE o_orderkey % 9 = 1
      |  UNION ALL
      |  SELECT o_orderkey + 100000000, o_orderpriority, o_totalprice
      |  FROM orders WHERE o_orderkey % 9 = 1),
      |fin AS (
      |  SELECT * FROM m
      |  UNION ALL
      |  SELECT * FROM upd
      |  WHERE upd.o_orderkey NOT IN (SELECT o_orderkey FROM m))
      |SELECT o_orderpriority, count(*) AS n_orders,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2)))
      |    AS DECIMAL(27,2)) AS DOUBLE) AS total,
      |  TRUE AS mor_delete, TRUE AS mapped_physical
      |FROM fin GROUP BY o_orderpriority""".stripMargin

  /** dl12_merge_clauses — the FULL MERGE clause surface on a
    * partitioned Delta table through the SQL gate: one clause merge
    * (conditional `WHEN MATCHED DELETE`, fallthrough `WHEN MATCHED
    * UPDATE SET`, column-list `WHEN NOT MATCHED INSERT` —
    * first-match-wins order) followed by a SCOPED `WHEN NOT MATCHED
    * BY SOURCE DELETE` sync whose ON conjunct
    * (`t.o_orderpriority = '1-URGENT'`) bounds the pass.
    * `scope_pruned` pins IN-ROW that the sync never rewrote an
    * out-of-scope partition's files — the cost contract the clause
    * port carries from the lake. The oracle re-derives both merges
    * from the original parquet. */
  def dl12MergeClauses(s: SparkSession, d: String): DataFrame = {
    val built = builtTables.computeIfAbsent(s"dl12:$d", _ => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-delta-dl12").toString + "/t"
      val o = Tables.orders(s, d)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      DeltaInterop.write(o, dir, partitionBy = Seq("o_orderpriority"))
      DeltaSql.register("dl12_t", dir)
      val base = o.filter(col("o_orderkey") % 10 === 1)
      base.unionByName(base.withColumn("o_orderkey",
          (col("o_orderkey") + lit(100000000L))
            .cast(o.schema("o_orderkey").dataType)))
        .createOrReplaceTempView("dl12_src")
      s.sql(
        """MERGE INTO graft_delta.dl12_t AS t
          |USING dl12_src AS s ON t.o_orderkey = s.o_orderkey
          |WHEN MATCHED AND s.o_totalprice > 150000 THEN DELETE
          |WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice + 5
          |WHEN NOT MATCHED THEN
          |  INSERT (o_orderkey, o_orderpriority, o_totalprice)
          |  VALUES (s.o_orderkey, s.o_orderpriority, s.o_totalprice * 2)
          |""".stripMargin)
      val outOfScope = DeltaInterop.state(s, dir, None).files
        .filter(_.partitionValues.get("o_orderpriority").flatten
          .exists(_ != "1-URGENT")).map(_.path).toSet
      s.sql(
        """MERGE INTO graft_delta.dl12_t AS t
          |USING dl12_src AS s
          |ON t.o_orderkey = s.o_orderkey
          |  AND t.o_orderpriority = '1-URGENT'
          |WHEN NOT MATCHED BY SOURCE THEN DELETE
          |""".stripMargin)
      val after = DeltaInterop.state(s, dir, None).files.map(_.path).toSet
      s"$dir|${outOfScope.subsetOf(after)}"
    })
    val Array(dir, pruned) = built.split('|')
    DeltaInterop.read(s, dir)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(27,2)"))
          .cast("decimal(27,2)").cast("double").as("total"))
      .withColumn("scope_pruned", lit(pruned.toBoolean))
  }

  /** Both merges of dl12/ic15, re-derived relationally: merge 1
    * deletes expensive matched keys, bumps the rest, inserts offset
    * copies at double price; merge 2 deletes 1-URGENT rows without a
    * source key (source keys are exactly the ≡1 (mod 10) keys, offset
    * rows included since 10 | 10⁸). */
  private def mergeClausesOracle(flag: String): String =
    s"""WITH post1 AS (
      |  SELECT o_orderkey, o_orderpriority,
      |    CASE WHEN o_orderkey % 10 = 1 THEN o_totalprice + 5
      |         ELSE o_totalprice END AS o_totalprice
      |  FROM orders
      |  WHERE NOT (o_orderkey % 10 = 1 AND o_totalprice > 150000)
      |  UNION ALL
      |  SELECT o_orderkey + 100000000, o_orderpriority,
      |    o_totalprice * 2
      |  FROM orders WHERE o_orderkey % 10 = 1),
      |post2 AS (
      |  SELECT * FROM post1
      |  WHERE NOT (o_orderpriority = '1-URGENT'
      |    AND o_orderkey % 10 <> 1))
      |SELECT o_orderpriority, count(*) AS n_orders,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2)))
      |    AS DECIMAL(27,2)) AS DOUBLE) AS total,
      |  TRUE AS $flag
      |FROM post2 GROUP BY o_orderpriority""".stripMargin

  val dl12Oracle: String = mergeClausesOracle("scope_pruned")

  /** ic15_merge_clauses — the same clause surface on a PARTITIONED
    * Iceberg table through the SQL gate (conditional matched
    * delete/update, column-list insert, scoped NMBS sync).
    * `scope_pruned` pins that the sync carried every out-of-scope
    * partition's data files verbatim. */
  def ic15MergeClauses(s: SparkSession, d: String): DataFrame = {
    val built = builtTables.computeIfAbsent(s"ic15:$d", _ => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-ice-ic15").toString + "/t"
      val o = Tables.orders(s, d)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      IcebergInterop.write(o, dir, partitionBy =
        Seq(IcebergInterop.SpecField(
          "o_orderpriority", "identity", "o_orderpriority")))
      IcebergSql.register("ic15_t", dir)
      val base = o.filter(col("o_orderkey") % 10 === 1)
      base.unionByName(base.withColumn("o_orderkey",
          (col("o_orderkey") + lit(100000000L))
            .cast(o.schema("o_orderkey").dataType)))
        .createOrReplaceTempView("ic15_src")
      s.sql(
        """MERGE INTO graft_iceberg.ic15_t AS t
          |USING ic15_src AS s ON t.o_orderkey = s.o_orderkey
          |WHEN MATCHED AND s.o_totalprice > 150000 THEN DELETE
          |WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice + 5
          |WHEN NOT MATCHED THEN
          |  INSERT (o_orderkey, o_orderpriority, o_totalprice)
          |  VALUES (s.o_orderkey, s.o_orderpriority, s.o_totalprice * 2)
          |""".stripMargin)
      val outOfScope = IcebergInterop.state(s, dir, None).files
        .filter(_.partition.get("o_orderpriority")
          .exists(v => String.valueOf(v) != "1-URGENT"))
        .map(_.path).toSet
      s.sql(
        """MERGE INTO graft_iceberg.ic15_t AS t
          |USING ic15_src AS s
          |ON t.o_orderkey = s.o_orderkey
          |  AND t.o_orderpriority = '1-URGENT'
          |WHEN NOT MATCHED BY SOURCE THEN DELETE
          |""".stripMargin)
      val after = IcebergInterop.state(s, dir, None)
        .files.map(_.path).toSet
      s"$dir|${outOfScope.subsetOf(after)}"
    })
    val Array(dir, pruned) = built.split('|')
    IcebergInterop.read(s, dir)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(27,2)"))
          .cast("decimal(27,2)").cast("double").as("total"))
      .withColumn("scope_pruned", lit(pruned.toBoolean))
  }

  val ic15Oracle: String = mergeClausesOracle("scope_pruned")

  /** dl13_schema_evolution — the interop ALTER verbs through the
    * gate on a COLUMN-MAPPED Delta table: ADD COLUMNS (metadata-only,
    * old rows serve NULL), an append carrying the new column, and
    * RENAME COLUMN (same field id/physical name) — then one aggregate
    * over the evolved shape the oracle re-derives from the original
    * parquet. `mapped_physical` pins in-row that every live data file
    * still stores physical `col-…` names after the evolution. */
  def dl13SchemaEvolution(s: SparkSession, d: String): DataFrame = {
    val built = builtTables.computeIfAbsent(s"dl13:$d", _ => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-delta-dl13").toString + "/t"
      val o = Tables.orders(s, d).select("o_orderkey", "o_totalprice")
      DeltaInterop.write(o, dir, columnMapping = "name")
      DeltaInterop.addColumns(s, dir, Seq(
        org.apache.spark.sql.types.StructField("o_flag",
          org.apache.spark.sql.types.StringType)))
      DeltaInterop.write(
        o.filter(col("o_orderkey") % 7 === 0)
          .withColumn("o_orderkey",
            (col("o_orderkey") + lit(200000000L))
              .cast(o.schema("o_orderkey").dataType))
          .withColumn("o_flag", lit("x")),
        dir)
      DeltaInterop.renameColumn(s, dir, "o_totalprice", "price")
      val st = DeltaInterop.state(s, dir, None)
      val phys = st.columnMappingMode == "name" && st.files.nonEmpty &&
        st.files.forall { a =>
          spark_read_columns(s, dir, a.path).forall(_.startsWith("col-"))
        }
      s"$dir|$phys"
    })
    val Array(dir, phys) = built.split('|')
    DeltaInterop.read(s, dir)
      .groupBy(col("o_flag"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("price").cast("decimal(27,2)"))
          .cast("decimal(27,2)").cast("double").as("total"))
      .withColumn("mapped_physical", lit(phys.toBoolean))
  }

  /** dl14_write_gate — the Delta writer-obligation gate end-to-end:
    * a CHECK constraint (`ADD CONSTRAINT price_pos`) recorded on a
    * graft-written Delta table aborts a VIOLATING append with nothing
    * landed (version unmoved, staged files deleted), then admits a
    * valid one; `delta.appendOnly=true` then refuses a DELETE while a
    * further append still lands. The refusals pin IN-ROW
    * (`bad_append_rejected` / `ao_delete_rejected` — each true only
    * when the op threw AND the table state is provably untouched);
    * the oracle re-derives the final aggregate from the original
    * parquet plus exactly the two admitted appends. */
  def dl14WriteGate(s: SparkSession, d: String): DataFrame = {
    val built = builtTables.computeIfAbsent(s"dl14:$d", _ => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-delta-dl14").toString + "/t"
      val o = Tables.orders(s, d)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      DeltaInterop.write(o, dir)
      DeltaInterop.addCheckConstraint(s, dir, "price_pos",
        "o_totalprice > 0")
      val vBefore = DeltaInterop.state(s, dir, None).version
      val keyType = o.schema("o_orderkey").dataType
      def offset(mod: Int, off: Long) = o
        .filter(col("o_orderkey") % 10 === mod)
        .withColumn("o_orderkey",
          (col("o_orderkey") + lit(off)).cast(keyType))
      val badRejected =
        try {
          DeltaInterop.write(offset(3, 100000000L)
            .withColumn("o_totalprice", -col("o_totalprice")), dir)
          false
        } catch {
          case _: DeltaWriteGate.DeltaConstraintViolationException =>
            DeltaInterop.state(s, dir, None).version == vBefore
        }
      DeltaInterop.write(offset(3, 100000000L), dir)
      DeltaInterop.setProperties(s, dir,
        Map("delta.appendOnly" -> "true"))
      val cntBefore = DeltaInterop.read(s, dir).count()
      val aoRejected =
        try {
          DeltaInterop.delete(s, dir,
            col("o_orderpriority") === "1-URGENT"); false
        } catch {
          case _: DeltaInterop.UnsupportedDeltaFeatureException =>
            DeltaInterop.read(s, dir).count() == cntBefore
        }
      DeltaInterop.write(offset(6, 200000000L), dir)
      s"$dir|$badRejected|$aoRejected"
    })
    val Array(dir, bad, ao) = built.split('|')
    DeltaInterop.read(s, dir)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(27,2)"))
          .cast("decimal(27,2)").cast("double").as("total"))
      .withColumn("bad_append_rejected", lit(bad.toBoolean))
      .withColumn("ao_delete_rejected", lit(ao.toBoolean))
  }

  val dl14Oracle: String =
    """WITH t AS (
      |  SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
      |  UNION ALL
      |  SELECT o_orderkey + 100000000, o_orderpriority, o_totalprice
      |  FROM orders WHERE o_orderkey % 10 = 3
      |  UNION ALL
      |  SELECT o_orderkey + 200000000, o_orderpriority, o_totalprice
      |  FROM orders WHERE o_orderkey % 10 = 6)
      |SELECT o_orderpriority, count(*) AS n_orders,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2)))
      |    AS DECIMAL(27,2)) AS DOUBLE) AS total,
      |  TRUE AS bad_append_rejected, TRUE AS ao_delete_rejected
      |FROM t GROUP BY o_orderpriority""".stripMargin

  val dl13Oracle: String =
    """WITH t AS (
      |  SELECT o_orderkey, o_totalprice AS price,
      |    CAST(NULL AS VARCHAR) AS o_flag FROM orders
      |  UNION ALL
      |  SELECT o_orderkey + 200000000, o_totalprice, 'x'
      |  FROM orders WHERE o_orderkey % 7 = 0)
      |SELECT o_flag, count(*) AS n_orders,
      |  CAST(CAST(SUM(CAST(price AS DECIMAL(27,2)))
      |    AS DECIMAL(27,2)) AS DOUBLE) AS total,
      |  TRUE AS mapped_physical
      |FROM t GROUP BY o_flag""".stripMargin

  /** ic9_iceberg_dml — Iceberg ROW-LEVEL DML through the gate, all
    * three verbs via the SQL surface: two appends build two manifests
    * (evens, odds); copy-on-write `DELETE FROM`, `UPDATE` and the
    * `MERGE INTO` upsert touch only EVEN keys, so the odd append's
    * manifest must carry VERBATIM through all three commits — the
    * in-row `untouched_manifest_carried` flag pins the per-manifest
    * metadata economics, and the oracle re-derives the post-DML rows
    * from the original parquet. */
  def ic9IcebergDml(s: SparkSession, d: String): DataFrame = {
    val built = builtTables.computeIfAbsent(s"ic9:$d", _ => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-ice-ic9").toString + "/t"
      val o = Tables.orders(s, d)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      IcebergInterop.write(o.filter(col("o_orderkey") % 2 === 0), dir)
      val oddSnap =
        IcebergInterop.write(o.filter(col("o_orderkey") % 2 === 1), dir)
      def oddManifests() = IcebergInterop.state(s, dir, None)
        .files.filter(_.snapId == oddSnap).map(_.manifest).toSet
      val before = oddManifests()
      IcebergSql.register("ic9_orders", dir)
      s.sql("DELETE FROM graft_iceberg.ic9_orders WHERE o_orderkey % 10 = 0")
      s.sql("UPDATE graft_iceberg.ic9_orders " +
        "SET o_totalprice = o_totalprice + 10 WHERE o_orderkey % 10 = 2")
      val four = o.filter(col("o_orderkey") % 10 === 4)
      four.withColumn("o_totalprice", col("o_totalprice") * 2)
        .unionByName(four.withColumn("o_orderkey",
          (col("o_orderkey") + lit(100000000L))
            .cast(o.schema("o_orderkey").dataType)))
        .createOrReplaceTempView("ic9_merge_src")
      s.sql(
        """MERGE INTO graft_iceberg.ic9_orders AS t
          |USING ic9_merge_src AS m ON t.o_orderkey = m.o_orderkey
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val carried = before.nonEmpty && oddManifests() == before
      s"$dir|$carried"
    })
    val Array(dir, carried) = built.split('|')
    IcebergInterop.read(s, dir)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(27,2)"))
          .cast("decimal(27,2)").cast("double").as("total"))
      .withColumn("untouched_manifest_carried", lit(carried.toBoolean))
  }

  val ic9Oracle: String =
    """WITH upd AS (
      |  SELECT o_orderkey, o_orderpriority,
      |    CASE WHEN o_orderkey % 10 = 2 THEN o_totalprice + 10
      |         ELSE o_totalprice END AS o_totalprice
      |  FROM orders WHERE o_orderkey % 10 <> 0),
      |m AS (
      |  SELECT o_orderkey, o_orderpriority,
      |    o_totalprice * 2 AS o_totalprice
      |  FROM orders WHERE o_orderkey % 10 = 4
      |  UNION ALL
      |  SELECT o_orderkey + 100000000, o_orderpriority, o_totalprice
      |  FROM orders WHERE o_orderkey % 10 = 4),
      |fin AS (
      |  SELECT * FROM m
      |  UNION ALL
      |  SELECT * FROM upd
      |  WHERE upd.o_orderkey NOT IN (SELECT o_orderkey FROM m))
      |SELECT o_orderpriority, count(*) AS n_orders,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2)))
      |    AS DECIMAL(27,2)) AS DOUBLE) AS total,
      |  TRUE AS untouched_manifest_carried
      |FROM fin GROUP BY o_orderpriority""".stripMargin

  /** dl3_convert_export — metadata-only manifest → Delta conversion
    * through the gate: a manifest table takes native DML
    * (copy-on-write delete), exports in place (zero data movement —
    * spec-pinned file identity), and the DELTA read of the mirror must
    * equal DuckDB filtering the original parquet. */
  def dl3ConvertExport(s: SparkSession, d: String): DataFrame = {
    val table = builtTables.computeIfAbsent(s"dl3:$d", _ => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-delta-dl3").toString + "/t"
      ManifestLake.write(
        Tables.orders(s, d)
          .select("o_orderkey", "o_custkey", "o_totalprice",
            "o_orderpriority"),
        dir, partitionBy = Seq("o_orderpriority"))
      ManifestLake.delete(s, dir, col("o_totalprice") < 50000.0)
      DeltaInterop.exportFromManifest(s, dir)
      dir
    })
    DeltaInterop.read(s, table)
      .filter(col("o_orderpriority").isin("2-HIGH", "3-MEDIUM"))
  }

  val dl3Oracle: String =
    """SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
      |FROM orders
      |WHERE o_totalprice >= 50000.0
      |  AND o_orderpriority IN ('2-HIGH', '3-MEDIUM')""".stripMargin

  /** mv3_incremental_distinct — exact incremental COUNT DISTINCT
    * through the gate: the pair table (`(segment, nation) →
    * multiplicity`) is built by applying mv1's full recorded change
    * feed — initial inserts, a MERGE's pre/post-image pairs, a
    * DELETE's retractions — never by re-scanning the source, and the
    * served per-segment distinct-nation count must equal what DuckDB's
    * from-scratch COUNT(DISTINCT) says over the equivalent final
    * state. Self-grading like mv1: an in-engine scratch COUNT DISTINCT
    * is compared per group into `incr_matches_scratch`.
    * Stepwise-refresh, idempotence and guard semantics live in
    * MaterializedAggSpec. */
  def mv3IncrementalDistinct(s: SparkSession, d: String): DataFrame = {
    val src = mv1Dirs(s, d)(0)
    val pair = builtTables.computeIfAbsent(s"mv3:$d", _ => {
      val p = java.nio.file.Files
        .createTempDirectory("graft-lake-mv3pair").toString
      MaterializedAgg.refreshDistinct(s, src, p,
        Seq("c_mktsegment"), "c_nationkey")
      p
    })
    val view = MaterializedAgg.distinctCounts(s, pair,
      Seq("c_mktsegment"), "c_nationkey")
    val scratch = ManifestLake.read(s, src)
      .groupBy("c_mktsegment")
      .agg(count_distinct(col("c_nationkey")).as("s_d"),
        count(lit(1)).as("s_n"))
    view.join(scratch, Seq("c_mktsegment"), "full_outer")
      .select(col("c_mktsegment"), col("n_distinct"), col("n_rows"),
        ((col("n_distinct") <=> col("s_d")) &&
          (col("n_rows") <=> col("s_n"))).as("incr_matches_scratch"))
  }

  val mv3Oracle: String =
    """WITH upd AS (
      |  SELECT c_custkey, c_name, c_nationkey,
      |    c_acctbal + 1000.0 AS c_acctbal, c_mktsegment
      |  FROM customer WHERE c_custkey % 10 = 3
      |  UNION ALL
      |  SELECT c_custkey + 10000000, c_name, c_nationkey, c_acctbal,
      |    c_mktsegment
      |  FROM customer WHERE c_custkey % 97 = 0),
      |merged AS (
      |  SELECT * FROM upd
      |  UNION ALL
      |  SELECT c.c_custkey, c.c_name, c.c_nationkey, c.c_acctbal,
      |    c.c_mktsegment
      |  FROM customer c
      |  WHERE NOT EXISTS (SELECT 1 FROM upd WHERE upd.c_custkey = c.c_custkey))
      |SELECT c_mktsegment,
      |  CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) AS n_distinct,
      |  COUNT(*) AS n_rows,
      |  TRUE AS incr_matches_scratch
      |FROM merged
      |WHERE c_acctbal >= 0
      |GROUP BY c_mktsegment""".stripMargin

  /** lk9_point_lookup — bloom-sidecar file skipping through the gate:
    * lineitem clustered by PRICE with bloom filters recorded on
    * `l_orderkey`, then a point lookup on the orderkey — the query
    * min/max stats cannot prune at all (every price-clustered file's
    * orderkey range spans the key space; only the blooms vote files
    * away). The oracle filters the original parquet, so the row proves
    * bloom pruning loses nothing; the pruning itself (candidates ≪
    * files, conservative keep without a sidecar, vacuumed sidecars) is
    * pinned in ManifestLakeSpec where counts are observable. */
  def lk9PointLookup(s: SparkSession, d: String): DataFrame = {
    val table = builtTables.computeIfAbsent(s"lk9:$d", _ => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-lake-lk9").toString
      ManifestLake.writeClustered(
        Tables.lineitem(s, d)
          .select("l_orderkey", "l_linenumber", "l_extendedprice",
            "l_quantity"),
        dir, "l_extendedprice", nFiles = 16,
        bloomCols = Seq("l_orderkey"))
      dir
    })
    ManifestLake.readEq(s, table, "l_orderkey", 1L)
      .select("l_orderkey", "l_linenumber", "l_extendedprice",
        "l_quantity")
  }

  val lk9Oracle: String =
    """SELECT l_orderkey, l_linenumber, l_extendedprice, l_quantity
      |FROM lineitem
      |WHERE l_orderkey = 1""".stripMargin

  /** lk8_sql_update — SQL `UPDATE ... SET ... WHERE` through the gate:
    * its own price-clustered lineitem copy takes an UPDATE whose
    * assignment reads an UNASSIGNED column of the old row
    * (`l_quantity = l_extendedprice / 100.0` — content-idempotent, so
    * repeated gate/bench invocations converge) gated on a price
    * predicate whose prune bounds derive from the recorded stats with
    * no hint. Only the low-price files rewrite (pinned in
    * ManifestLakeSpec); this row pins the RESULT against the oracle's
    * CASE re-derivation over the original parquet. */
  def lk8SqlUpdate(s: SparkSession, d: String): DataFrame = {
    val table = memoClustered("lk8", d, "l_extendedprice", nFiles = 16)(
      Tables.lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_extendedprice",
          "l_quantity"))
    LakeSql.register("lk8_lineitem", table)
    s.sql(
      """UPDATE graft_lake.lk8_lineitem
        |SET l_quantity = l_extendedprice / 100.0
        |WHERE l_extendedprice < 950.0""".stripMargin)
    s.sql(
      """SELECT l_orderkey, l_linenumber, l_extendedprice, l_quantity
        |FROM graft_lake.lk8_lineitem""".stripMargin)
  }

  val lk8Oracle: String =
    """SELECT l_orderkey, l_linenumber, l_extendedprice,
      |  CASE WHEN l_extendedprice < 950.0
      |       THEN l_extendedprice / 100.0 ELSE l_quantity
      |  END AS l_quantity
      |FROM lineitem""".stripMargin

  /** lk11_string_range — STRING file-skipping through the gate: the
    * customer table is range-clustered on its `c_name` key (an ASCII
    * doc-id-shaped string) with truncated string min/max recorded per
    * file, and the query is a narrow name-range scan through
    * [[ManifestLake.readRangeStr]] — numeric stats cannot see string
    * keys at all (the r7 blind spot: a URL/doc-id-keyed table paid a
    * full scan or full bloom vote). Bounds are DERIVED from the data
    * (the names of two fixed custkeys), so the row is generator-format
    * independent; the oracle filters the original parquet with the same
    * lexicographic BETWEEN, so the row proves skipping loses nothing.
    * The pruning itself (strict file subset) is pinned in
    * ManifestLakeSpec. */
  def lk11StringRange(s: SparkSession, d: String): DataFrame = {
    val table = memoClustered("lk11", d, "c_name", nFiles = 16)(
      Tables.customer(s, d)
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal"))
    // keys 10 and 120 exist at EVERY scale factor (sf0.001 ships only
    // 150 customers — larger anchors crash the smallest smoke SF)
    val bounds = Tables.customer(s, d)
      .filter(col("c_custkey").isin(10L, 120L))
      .select("c_custkey", "c_name").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    ManifestLake.readRangeStr(s, table, "c_name", bounds(10L), bounds(120L))
      .select("c_custkey", "c_name", "c_nationkey", "c_acctbal")
  }

  val lk11Oracle: String =
    """SELECT c_custkey, c_name, c_nationkey, c_acctbal
      |FROM customer
      |WHERE c_name >= (SELECT c_name FROM customer WHERE c_custkey = 10)
      |  AND c_name <= (SELECT c_name FROM customer WHERE c_custkey = 120)""".stripMargin

  /** lk12_sql_merge_full — the FULL MERGE clause surface through the
    * gate, purely from `spark.sql`: one statement carrying a
    * conditional `WHEN MATCHED … DELETE`, a conditional
    * `WHEN MATCHED … UPDATE` with explicit assignments, and a
    * conditional `WHEN NOT MATCHED … INSERT (cols) VALUES (…)` — the
    * CDC-apply idiom (upsert + tombstone in one statement) that r7's
    * update-all/insert-all MERGE raised a named error on. The source is
    * derived deterministically from the ORIGINAL customer table and
    * every clause conditions/assigns on SOURCE values only, so
    * re-running the merge is content-idempotent (bench passes repeat
    * it; the snapshot's rows are identical every time). The DuckDB
    * oracle re-derives the final table with a LEFT JOIN + CASE (DuckDB
    * has no MERGE), so the row is hash-exact. */
  def lk12SqlMergeFull(s: SparkSession, d: String): DataFrame = {
    val table = builtTables.computeIfAbsent(s"lk12:$d", _ => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-lake-lk12").toString + "/t"
      ManifestLake.writeClustered(
        Tables.customer(s, d)
          .select("c_custkey", "c_name", "c_nationkey", "c_acctbal",
            "c_mktsegment"),
        dir, "c_custkey", nFiles = 8)
      LakeSql.register("lk12_customer", dir)
      dir
    })
    LakeSql.register("lk12_customer", table) // re-register: fresh session
    val c = Tables.customer(s, d)
      .select("c_custkey", "c_name", "c_nationkey", "c_acctbal",
        "c_mktsegment")
    c.filter(col("c_custkey") % 7 === 1)
      .withColumn("op", when(col("c_acctbal") >= 9000.0, lit("del"))
        .otherwise(lit("upd")))
      .withColumn("delta", lit(500.0))
      .unionByName(c.filter(col("c_custkey") % 101 === 0)
        .withColumn("c_custkey", col("c_custkey") + 20000000L)
        .withColumn("op", lit("ins"))
        .withColumn("delta", lit(500.0)))
      .createOrReplaceTempView("lk12_src")
    s.sql(
      """MERGE INTO graft_lake.lk12_customer t USING lk12_src s
        |  ON t.c_custkey = s.c_custkey
        |WHEN MATCHED AND s.op = 'del' THEN DELETE
        |WHEN MATCHED AND s.op = 'upd' AND s.c_acctbal < 5000.0 THEN
        |  UPDATE SET c_acctbal = s.c_acctbal + s.delta
        |WHEN NOT MATCHED AND s.op = 'ins' AND s.c_nationkey < 20 THEN
        |  INSERT (c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment)
        |  VALUES (s.c_custkey, s.c_name, s.c_nationkey, s.c_acctbal,
        |    s.c_mktsegment)""".stripMargin)
    s.sql(
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        |FROM graft_lake.lk12_customer""".stripMargin)
  }

  val lk12Oracle: String =
    """WITH src AS (
      |  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
      |    CASE WHEN c_acctbal >= 9000.0 THEN 'del' ELSE 'upd' END AS op,
      |    500.0 AS delta
      |  FROM customer WHERE c_custkey % 7 = 1
      |  UNION ALL
      |  SELECT c_custkey + 20000000, c_name, c_nationkey, c_acctbal,
      |    c_mktsegment, 'ins', 500.0
      |  FROM customer WHERE c_custkey % 101 = 0),
      |kept AS (
      |  SELECT c.c_custkey, c.c_name, c.c_nationkey,
      |    CASE WHEN s.op = 'upd' AND s.c_acctbal < 5000.0
      |         THEN s.c_acctbal + s.delta ELSE c.c_acctbal
      |    END AS c_acctbal,
      |    c.c_mktsegment
      |  FROM customer c LEFT JOIN src s ON c.c_custkey = s.c_custkey
      |  WHERE s.c_custkey IS NULL OR s.op <> 'del'),
      |ins AS (
      |  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
      |  FROM src
      |  WHERE op = 'ins' AND c_nationkey < 20)
      |SELECT * FROM kept UNION ALL SELECT * FROM ins""".stripMargin

  /** dv1_mor_delete — deletion vectors (merge-on-read DELETE) through
    * the gate: lineitem clustered into the lake, then one API-side
    * [[ManifestLake.deleteMor]] and one SQL `DELETE FROM` under
    * `spark.graft.lake.deleteMode=mor`, cumulative on overlapping
    * files. NO data file is rewritten — the row carries
    * `files_untouched` (the snapshot's file set is bit-identical
    * before and after both deletes) and `count_metadata_exact`
    * ([[ManifestLake.fastCount]], which serves from `rows=` minus
    * `dvrows=`, equals the scanned count) as self-evidencing flags, so
    * a DV regression flips a visible boolean instead of a silent hash.
    * Content-idempotent: a repeat pass finds every match already
    * vectored and no-ops. The oracle filters the original parquet —
    * the surviving rows are hash-exact. */
  def dv1MorDelete(s: SparkSession, d: String): DataFrame = {
    val table = memoClustered("dv1", d, "l_extendedprice", nFiles = 16)(
      Tables.lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_extendedprice",
          "l_quantity"))
    val preFiles = ManifestLake.snapshot(s, table).files.toSet
    ManifestLake.deleteMor(s, table, col("l_extendedprice") < 920.0)
    LakeSql.register("dv1_lineitem", table)
    // thread-confined: a session-conf window would flip CONCURRENT
    // gate rows' SQL DML to MOR on the shared Verify/Bench session
    LakeSql.withDmlMode("mor") {
      s.sql(
        """DELETE FROM graft_lake.dv1_lineitem
          |WHERE l_extendedprice >= 920.0 AND l_extendedprice < 950.0"""
          .stripMargin)
    }
    val remaining = ManifestLake.read(s, table)
      .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity")
    val filesUntouched =
      ManifestLake.snapshot(s, table).files.toSet == preFiles
    val countExact =
      ManifestLake.fastCount(s, table) == remaining.count()
    remaining
      .withColumn("files_untouched", lit(filesUntouched))
      .withColumn("count_metadata_exact", lit(countExact))
  }

  val dv1Oracle: String =
    """SELECT l_orderkey, l_linenumber, l_extendedprice, l_quantity,
      |  TRUE AS files_untouched, TRUE AS count_metadata_exact
      |FROM lineitem
      |WHERE l_extendedprice >= 950.0""".stripMargin

  /** lk13_stats_agg — `SELECT COUNT(*), MIN, MAX` answered from the
    * MANIFEST alone: lk1's clustered lineitem records per-file row
    * counts and exact l_extendedprice ranges, so the whole aggregate
    * list is provable from stats — the plan contains no FileScan
    * (pinned in LakeSqlSpec; this row pins the VALUES against the
    * oracle's full-scan re-derivation). On a 100 TB table this is the
    * dashboard query served in milliseconds. */
  def lk13StatsAgg(s: SparkSession, d: String): DataFrame = {
    val table = clusteredLineitem(s, d)
    LakeSql.register("lk13_lineitem", table)
    s.sql(
      """SELECT COUNT(*) AS n_rows, MIN(l_extendedprice) AS min_price,
        |  MAX(l_extendedprice) AS max_price
        |FROM graft_lake.lk13_lineitem""".stripMargin)
  }

  val lk13Oracle: String =
    """SELECT COUNT(*) AS n_rows, MIN(l_extendedprice) AS min_price,
      |  MAX(l_extendedprice) AS max_price
      |FROM lineitem""".stripMargin

  /** dv2_mor_update — merge-on-read UPDATE through the gate, purely
    * from SQL: its own clustered lineitem copy takes an
    * `UPDATE ... SET l_extendedprice = 1.0 WHERE l_orderkey % 1000 = 7`
    * under `spark.graft.lake.dmlMode=mor` — the old images join the
    * touched files' deletion vectors and the post-images land as a NEW
    * appended file; NO pre-existing file is rewritten (`no_rewrite`
    * rides in-row: every pre-update file is still in the snapshot) and
    * COUNT(*) stays metadata-exact. Content-idempotent: the absolute
    * assignment makes a repeat pass rewrite the same logical rows to
    * the same values. The oracle re-derives the update with a CASE. */
  def dv2MorUpdate(s: SparkSession, d: String): DataFrame = {
    val table = memoClustered("dv2", d, "l_orderkey", nFiles = 16)(
      Tables.lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_extendedprice"))
    val preFiles = ManifestLake.snapshot(s, table).files.toSet
    LakeSql.register("dv2_lineitem", table)
    LakeSql.withDmlMode("mor") {
      s.sql(
        """UPDATE graft_lake.dv2_lineitem SET l_extendedprice = 1.0
          |WHERE l_orderkey % 1000 = 7""".stripMargin)
    }
    val updated = ManifestLake.read(s, table)
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
    val postFiles = ManifestLake.snapshot(s, table).files.toSet
    val noRewrite = preFiles.subsetOf(postFiles)
    val countExact = ManifestLake.fastCount(s, table) == updated.count()
    updated
      .withColumn("no_rewrite", lit(noRewrite))
      .withColumn("count_metadata_exact", lit(countExact))
  }

  val dv2Oracle: String =
    """SELECT l_orderkey, l_linenumber,
      |  CASE WHEN l_orderkey % 1000 = 7 THEN 1.0
      |       ELSE l_extendedprice END AS l_extendedprice,
      |  TRUE AS no_rewrite, TRUE AS count_metadata_exact
      |FROM lineitem""".stripMargin

  /** lk14_ctas — a lake table CREATED purely from SQL: the session
    * warehouse points at a memoized temp dir, `CREATE OR REPLACE TABLE
    * ... AS SELECT` derives a projection + filter of customer, and the
    * gate reads it back through SQL. OR REPLACE makes repeat passes
    * content-idempotent (each run overwrites as a new version of the
    * SAME managed table — time travel reaches the earlier runs). */
  def lk14Ctas(s: SparkSession, d: String): DataFrame = {
    val wh = builtTables.computeIfAbsent(s"lk14:$d", _ =>
      java.nio.file.Files.createTempDirectory("graft-lake-lk14").toString)
    s.conf.set(LakeMaintenanceSql.WarehouseConf, wh)
    try {
      Tables.customer(s, d).createOrReplaceTempView("lk14_src")
      s.sql(
        """CREATE OR REPLACE TABLE graft_lake.lk14_rich AS
          |SELECT c_custkey, c_name, c_acctbal FROM lk14_src
          |WHERE c_acctbal > 5000.0""".stripMargin).collect()
      s.sql(
        """SELECT c_custkey, c_name, c_acctbal
          |FROM graft_lake.lk14_rich""".stripMargin)
    } finally s.conf.unset(LakeMaintenanceSql.WarehouseConf)
  }

  val lk14Oracle: String =
    """SELECT c_custkey, c_name, c_acctbal FROM customer
      |WHERE c_acctbal > 5000.0""".stripMargin

  /** lk21_shallow_clone — zero-copy branching through the gate: a
    * customer lake table SHALLOW CLONEs purely in SQL (a metadata
    * commit borrowing the source's files in place), the CLONE takes
    * SQL DML (copy-on-write delete landing in the clone's own
    * directory), and the gate reads the diverged clone — while
    * `source_intact` pins, in-row, that the source still serves its
    * original rows (the ownership contract; a violation empties the
    * row set rather than shipping quietly). ShallowCloneSpec pins the
    * physical side: zero copied files, vacuum root-scoping,
    * refusals. */
  def lk21ShallowClone(s: SparkSession, d: String): DataFrame = {
    val tag = (d.hashCode & 0x7fffffff).toString
    val dirs = builtTables.computeIfAbsent(s"lk21:$d", _ => {
      val src = java.nio.file.Files
        .createTempDirectory("graft-lake-lk21").toString + "/t"
      ManifestLake.write(
        Tables.customer(s, d)
          .select("c_custkey", "c_name", "c_nationkey", "c_acctbal"),
        src, statsCol = Some("c_custkey"))
      val wh = java.nio.file.Files
        .createTempDirectory("graft-lake-lk21wh").toString
      LakeSql.register(s"lk21_src_$tag", src)
      s.conf.set(LakeMaintenanceSql.WarehouseConf, wh)
      try {
        s.sql(s"CREATE TABLE graft_lake.lk21_clone_$tag SHALLOW CLONE " +
          s"graft_lake.lk21_src_$tag").collect()
        s.sql(s"DELETE FROM graft_lake.lk21_clone_$tag " +
          "WHERE c_acctbal < 0.0").collect()
      } finally s.conf.unset(LakeMaintenanceSql.WarehouseConf)
      s"$src|$wh/lk21_clone_$tag"
    })
    val Array(src, clone) = dirs.split('|')
    val intact = ManifestLake.read(s, src).count() ==
      Tables.customer(s, d).count()
    ManifestLake.read(s, clone)
      .withColumn("source_intact", lit(intact))
      .filter(col("source_intact"))
  }

  val lk21Oracle: String =
    """SELECT c_custkey, c_name, c_nationkey, c_acctbal,
      |  TRUE AS source_intact
      |FROM customer
      |WHERE c_acctbal >= 0.0""".stripMargin

  /** lk15_sql_merge_sync — the full-sync CDC MIRROR in one SQL MERGE
    * (round-8 verdict "What's missing #1"): `WHEN NOT MATCHED BY
    * SOURCE THEN DELETE` makes the in-scope slice of the target equal
    * the source exactly — updates matched keys to the source image,
    * inserts unseen keys, deletes rows the source no longer has. The
    * scope is a TARGET-ONLY ON conjunct (`t.c_custkey <= 100`), so
    * candidate files prune on stats bounds and out-of-scope rows never
    * move; the deletes tombstone MERGE-ON-READ in files the upsert did
    * not already rewrite. Self-grading: `mirror_exact` compares the
    * post-merge in-scope slice against the source set-exactly, both
    * ways. Content-idempotent — the source derives from the ORIGINAL
    * parquet with absolute assignments, so pass 2 re-asserts the same
    * mirror (inserted negative keys land in scope and re-match). */
  def lk15SqlMergeSync(s: SparkSession, d: String): DataFrame = {
    val table = memoClustered("lk15", d, "c_custkey", nFiles = 8)(
      Tables.customer(s, d).select("c_custkey", "c_name", "c_acctbal"))
    LakeSql.register("lk15_customer", table)
    Tables.customer(s, d).select("c_custkey", "c_name", "c_acctbal")
      .createOrReplaceTempView("lk15_base")
    // the mirror the target must converge to: odd low keys with a
    // re-stated balance, plus NEGATIVE key images (new at pass 1,
    // matched at pass 2 — both inside the <= 100 scope)
    s.sql(
      """SELECT c_custkey, c_name, c_acctbal + 1000.0 AS c_acctbal
        |FROM lk15_base WHERE c_custkey <= 100 AND c_custkey % 2 = 1
        |UNION ALL
        |SELECT -c_custkey AS c_custkey, c_name, c_acctbal
        |FROM lk15_base WHERE c_custkey % 97 = 0""".stripMargin)
      .createOrReplaceTempView("lk15_src")
    s.sql(
      """MERGE INTO graft_lake.lk15_customer t USING lk15_src s
        |  ON t.c_custkey = s.c_custkey AND t.c_custkey <= 100
        |WHEN MATCHED THEN UPDATE SET c_acctbal = s.c_acctbal
        |WHEN NOT MATCHED THEN INSERT (c_custkey, c_name, c_acctbal)
        |  VALUES (s.c_custkey, s.c_name, s.c_acctbal)
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    val post = ManifestLake.read(s, table)
      .select("c_custkey", "c_name", "c_acctbal")
    def norm(df: DataFrame) = df.select(col("c_custkey").cast("long"),
      col("c_name"), col("c_acctbal").cast("double"))
    val inScope = norm(post.filter(col("c_custkey") <= 100))
    val src = norm(s.table("lk15_src"))
    val mirror = inScope.exceptAll(src).limit(1).count() == 0L &&
      src.exceptAll(inScope).limit(1).count() == 0L
    post.withColumn("mirror_exact", lit(mirror))
  }

  val lk15Oracle: String =
    """WITH src AS (
      |  SELECT c_custkey, c_name, c_acctbal + 1000.0 AS c_acctbal
      |  FROM customer WHERE c_custkey <= 100 AND c_custkey % 2 = 1
      |  UNION ALL
      |  SELECT -c_custkey, c_name, c_acctbal
      |  FROM customer WHERE c_custkey % 97 = 0)
      |SELECT c_custkey, c_name, c_acctbal, TRUE AS mirror_exact FROM src
      |UNION ALL
      |SELECT c_custkey, c_name, c_acctbal, TRUE AS mirror_exact
      |FROM customer WHERE c_custkey > 100""".stripMargin

  /** dv3_reorg_purge — the DV lifecycle CLOSED through SQL: a MOR
    * `DELETE FROM` leaves deletion vectors behind, then `REORG TABLE …
    * APPLY (PURGE)` rewrites every vectored file, materializing the
    * vectors — after it no read pays a DV probe and vacuum can collect
    * every sidecar (the bounded-read-cost policy; [[ManifestLake
    * .binPack]]'s live-ratio trigger applies the same rewrite
    * automatically, spec-pinned). Flags: `no_dv_left` (no snapshot
    * entry carries `dv=`) and `count_metadata_exact` (fastCount still
    * serves from the manifest). Content-idempotent: pass 2's delete
    * matches nothing (the rows are gone) and REORG over an unvectored
    * table is a no-op. */
  def dv3ReorgPurge(s: SparkSession, d: String): DataFrame = {
    val table = memoClustered("dv3", d, "l_extendedprice", nFiles = 12)(
      Tables.lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_extendedprice"))
    LakeSql.register("dv3_lineitem", table)
    LakeSql.withDmlMode("mor") {
      s.sql(
        """DELETE FROM graft_lake.dv3_lineitem
          |WHERE l_extendedprice < 1200.0""".stripMargin)
    }
    s.sql("REORG TABLE graft_lake.dv3_lineitem APPLY (PURGE)").collect()
    val snap = ManifestLake.snapshot(s, table)
    val noDvLeft = snap.entries.forall(_.dv.isEmpty)
    val remaining = ManifestLake.read(s, table)
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
    val countExact =
      ManifestLake.fastCount(s, table) == remaining.count()
    remaining
      .withColumn("no_dv_left", lit(noDvLeft))
      .withColumn("count_metadata_exact", lit(countExact))
  }

  val dv3Oracle: String =
    """SELECT l_orderkey, l_linenumber, l_extendedprice,
      |  TRUE AS no_dv_left, TRUE AS count_metadata_exact
      |FROM lineitem
      |WHERE l_extendedprice >= 1200.0""".stripMargin

  /** lk18_nmbs_small_sync — the DELTA-VERBATIM full sync through the
    * gate: an unscoped three-clause MERGE (`WHEN NOT MATCHED BY SOURCE
    * THEN DELETE`, no ON-scope conjunct, no session conf) runs because
    * the target's manifest-recorded size proves the whole-table pass
    * cheap — the automatic small-table path. After the merge the table
    * IS the source (updates restated, vanished keys deleted), which is
    * exactly what a user porting a Delta mirror job expects to happen
    * with their SQL unchanged. Self-grading `mirror_exact` flag (the
    * lk15 pattern: both-ways EXCEPT ALL emptiness), and the oracle
    * derives the same mirror from the raw parquet. Pass-2 idempotent:
    * every clause re-applies to identical state. */
  def lk18NmbsSmallSync(s: SparkSession, d: String): DataFrame = {
    val table = memoClustered("lk18", d, "s_suppkey", nFiles = 4)(
      Tables.supplier(s, d).select("s_suppkey", "s_name", "s_acctbal"))
    LakeSql.register("lk18_supplier", table)
    Tables.supplier(s, d).select("s_suppkey", "s_name", "s_acctbal")
      .createOrReplaceTempView("lk18_base")
    // today's source: two thirds of the suppliers, balances restated
    s.sql(
      """SELECT s_suppkey, s_name, s_acctbal + 500.0 AS s_acctbal
        |FROM lk18_base WHERE s_suppkey % 3 != 0""".stripMargin)
      .createOrReplaceTempView("lk18_src")
    s.sql(
      """MERGE INTO graft_lake.lk18_supplier t USING lk18_src s
        |  ON t.s_suppkey = s.s_suppkey
        |WHEN MATCHED THEN UPDATE SET s_acctbal = s.s_acctbal
        |WHEN NOT MATCHED THEN INSERT (s_suppkey, s_name, s_acctbal)
        |  VALUES (s.s_suppkey, s.s_name, s.s_acctbal)
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    val post = ManifestLake.read(s, table)
      .select("s_suppkey", "s_name", "s_acctbal")
    def norm(df: DataFrame) = df.select(col("s_suppkey").cast("long"),
      col("s_name"), col("s_acctbal").cast("double"))
    val src = norm(s.table("lk18_src"))
    val mirror = norm(post).exceptAll(src).limit(1).count() == 0L &&
      src.exceptAll(norm(post)).limit(1).count() == 0L
    post.withColumn("mirror_exact", lit(mirror))
  }

  val lk18Oracle: String =
    """SELECT s_suppkey, s_name, s_acctbal + 500.0 AS s_acctbal,
      |  TRUE AS mirror_exact
      |FROM supplier WHERE s_suppkey % 3 != 0""".stripMargin

  /** lk19_bucket_lookup — hash-bucket generated partitioning through
    * the gate: orders lands under `p_bucket = pmod(hash(o_custkey), 16)`
    * partitions (Iceberg's bucket transform; the derivation recorded as
    * an enforced CHECK, like the time generation), and an equality
    * lookup on the key derives its bucket DRIVER-SIDE from the recorded
    * expression and reads 1 of 16 partitions at the manifest — the
    * append-stable point-lookup layout for high-cardinality keys, where
    * clustering would degrade under interleaved appends. The oracle
    * filters the original parquet, so the row proves bucket routing
    * loses nothing; the 1-of-N file pruning is pinned in
    * ManifestLakeSpec where inputFiles are observable. */
  def lk19BucketLookup(s: SparkSession, d: String): DataFrame = {
    val table = builtTables.computeIfAbsent(s"lk19:$d", _ => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-lake-lk19").toString
      ManifestLake.writeBucketPartitioned(
        Tables.orders(s, d)
          .select("o_orderkey", "o_custkey", "o_totalprice"),
        dir, "o_custkey", nBuckets = 16)
      dir
    })
    ManifestLake.readKeyEq(s, table, "o_custkey", 19L)
      .select("o_orderkey", "o_custkey", "o_totalprice")
  }

  val lk19Oracle: String =
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders WHERE o_custkey = 19""".stripMargin

  /** lk20_dpp_join — runtime dim-driven partition pruning (the
    * star-join DPP shape) through the gate: the filtered customer dim
    * resolves its 6 join keys first, the bucket-partitioned orders
    * fact (lk19's table, built once for both rows) prunes to those
    * keys' ≤ 6 of 16 bucket partitions at the MANIFEST, and the join
    * runs against the broadcast dim. The oracle is the plain two-table
    * join over the raw parquet, so the row proves the two-phase
    * pruned plan loses nothing; the pruned-file counts and fallbacks
    * are pinned in ManifestLakeSpec where inputFiles are observable. */
  def lk20DppJoin(s: SparkSession, d: String): DataFrame = {
    val table = builtTables.computeIfAbsent(s"lk19:$d", _ => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-lake-lk19").toString
      ManifestLake.writeBucketPartitioned(
        Tables.orders(s, d)
          .select("o_orderkey", "o_custkey", "o_totalprice"),
        dir, "o_custkey", nBuckets = 16)
      dir
    })
    val dim = Tables.customer(s, d)
      .where(col("c_mktsegment") === "BUILDING" && col("c_custkey") <= 30)
      .select("c_custkey", "c_name")
    ManifestLake.dimPrunedJoin(s, table, "o_custkey", dim, "c_custkey")
      .select("o_orderkey", "o_custkey", "o_totalprice", "c_name")
  }

  val lk20Oracle: String =
    """SELECT o_orderkey, o_custkey, o_totalprice, c_name
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING' AND c_custkey <= 30""".stripMargin

  /** The shared Delta-interop table: three versions of open-format
    * Delta log (create partitioned, append shifted copies, destructive
    * overwrite), memoized so dl1/dl2 build it once between them. */
  private def dl1Table(s: SparkSession, d: String): String =
    builtTables.computeIfAbsent(s"dl1:$d", _ => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-delta-dl1").toString + "/t"
      val base = Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice",
          "o_orderpriority")
      DeltaInterop.write(base, dir, partitionBy = Seq("o_orderpriority"))
      DeltaInterop.write(
        base.filter(col("o_orderkey") % 97 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 10000000L),
        dir, partitionBy = Seq("o_orderpriority"))
      DeltaInterop.write(base.filter(col("o_totalprice") >= 100000.0),
        dir, partitionBy = Seq("o_orderpriority"), overwrite = true)
      dir
    })

  /** dl1_delta_roundtrip — Delta Lake log interop through the gate: the
    * open-format table (pure-Spark writer, no delta-spark jar) is read
    * back BY LOG REPLAY at head — after a destructive overwrite, so the
    * row proves add/remove reconstruction, log-sourced partition
    * values, and the schemaString round-trip against DuckDB filtering
    * the original parquet. Format conformance against hand-written
    * delta-spark-shaped logs is pinned in DeltaInteropSpec. */
  def dl1DeltaRoundtrip(s: SparkSession, d: String): DataFrame =
    DeltaInterop.read(s, dl1Table(s, d))
      .filter(col("o_orderpriority") === "1-URGENT")

  val dl1Oracle: String =
    """SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
      |FROM orders
      |WHERE o_totalprice >= 100000.0
      |  AND o_orderpriority = '1-URGENT'""".stripMargin

  /** dl2_delta_time_travel — version-addressed reads through the gate:
    * version 1 (base ∪ appended copies) is served EXACTLY even though
    * version 2 overwrote the table — the remove actions must scope to
    * their version, not poison history. */
  def dl2DeltaTimeTravel(s: SparkSession, d: String): DataFrame =
    DeltaInterop.readVersion(s, dl1Table(s, d), 1L)

  val dl2Oracle: String =
    """SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
      |FROM orders
      |UNION ALL
      |SELECT o_orderkey + 10000000, o_custkey, o_totalprice,
      |  o_orderpriority
      |FROM orders WHERE o_orderkey % 97 = 0""".stripMargin

  /** lk16_time_partition — time-derived partitioning through the gate:
    * the events table lands under day partitions generated from `ts`
    * (the generation recorded as an enforced CHECK constraint), and a
    * 1.5-day closed-interval read resolves ~2 of ~30 partitions at the
    * MANIFEST before the exact predicate pushes into the surviving
    * scans — partition pruning + row-group pruning, the two layers a
    * time-partitioned 100 TB lake lives on. The oracle filters the
    * original parquet, so the row proves derived-partition pruning
    * loses nothing; the pruned-entry counts are pinned in
    * ManifestLakeSpec where they are observable. Same bounds as p4, so
    * the two rows also pin layout-vs-scan equivalence against each
    * other. */
  def lk16TimePartition(s: SparkSession, d: String): DataFrame = {
    val table = builtTables.computeIfAbsent(s"lk16:$d", _ => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-lake-lk16").toString
      ManifestLake.writeTimePartitioned(
        Tables.events(s, d)
          .select("event_id", "ts", "user_id", "event_type", "value"),
        dir, "ts")
      dir
    })
    def ts(x: String) = java.sql.Timestamp.from(
      java.time.LocalDateTime.parse(x).toInstant(java.time.ZoneOffset.UTC))
    ManifestLake.readTsRange(s, table, "ts",
        ts("2024-01-10T00:00:00"), ts("2024-01-11T12:00:00"))
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("user_id"), col("event_type"), col("value"))
  }

  val lk16Oracle: String =
    """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value
      |FROM events
      |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
      |  AND ts <= TIMESTAMP '2024-01-11 12:00:00'""".stripMargin

  /** lk17_month_partition — the MONTH granularity through the gate:
    * orders spans ~80 months (1995–2001), so a month-partitioned copy
    * holds ~80 period partitions and a one-quarter closed range
    * resolves 3 of them at the manifest — the years-deep-archive
    * shape where day partitioning would mean thousands of partitions.
    * The oracle filters the original parquet; the pruned-partition
    * counts are pinned in ManifestLakeSpec's granularity spec. */
  def lk17MonthPartition(s: SparkSession, d: String): DataFrame = {
    val table = builtTables.computeIfAbsent(s"lk17:$d", _ => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-lake-lk17").toString
      ManifestLake.writeTimePartitioned(
        Tables.orders(s, d)
          .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
          // the generated table stores TIMESTAMP_NTZ source dates as
          // session-zoned timestamps (same instants in the pinned-UTC
          // session), the type the range-read/pruning surface speaks
          .withColumn("o_orderdate", col("o_orderdate").cast("timestamp")),
        dir, "o_orderdate", granularity = "month")
      dir
    })
    def ts(x: String) = java.sql.Timestamp.from(
      java.time.LocalDateTime.parse(x).toInstant(java.time.ZoneOffset.UTC))
    ManifestLake.readTsRange(s, table, "o_orderdate",
        ts("1997-04-01T00:00:00"), ts("1997-06-30T23:59:59"))
      .select(col("o_orderkey"), col("o_custkey"),
        unix_micros(col("o_orderdate")).as("o_orderdate_us"),
        col("o_totalprice"))
  }

  val lk17Oracle: String =
    """SELECT o_orderkey, o_custkey, epoch_us(o_orderdate)
      |    AS o_orderdate_us, o_totalprice
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1997-04-01 00:00:00'
      |  AND o_orderdate <= TIMESTAMP '1997-06-30 23:59:59'""".stripMargin

  /** ic10_iceberg_mor — the format-version-2 MERGE-ON-READ write path
    * through the gate: a v1 table upgrades in place (metadata-only),
    * `deleteMor` lands position-delete files and `updateMor` kills +
    * re-appends matched images — NO data file is ever rewritten (the
    * in-row `mor_path` flag pins that every original file is still
    * live and delete files exist). The oracle re-derives the post-DML
    * table from the original parquet. */
  def ic10IcebergMor(s: SparkSession, d: String): DataFrame = {
    val built = builtTables.computeIfAbsent(s"ic10:$d", _ => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-ice-ic10").toString + "/t"
      val o = Tables.orders(s, d)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      IcebergInterop.write(o, dir)
      IcebergInterop.upgradeFormat(s, dir)
      val before = IcebergInterop.state(s, dir, None)
        .files.map(_.path).toSet
      IcebergInterop.deleteMor(s, dir, col("o_orderkey") % 5 === 0)
      IcebergInterop.updateMor(s, dir, col("o_orderkey") % 7 === 0,
        Seq("o_totalprice" -> (col("o_totalprice") + 10)))
      val after = IcebergInterop.state(s, dir, None)
      val mor = before.subsetOf(after.files.map(_.path).toSet) &&
        after.posDeletes.nonEmpty
      s"$dir|$mor"
    })
    val Array(dir, mor) = built.split('|')
    IcebergInterop.read(s, dir)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(27,2)"))
          .cast("decimal(27,2)").cast("double").as("total"))
      .withColumn("mor_path", lit(mor.toBoolean))
  }

  val ic10Oracle: String =
    """WITH t AS (
      |  SELECT o_orderpriority,
      |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 10
      |         ELSE o_totalprice END AS o_totalprice
      |  FROM orders WHERE o_orderkey % 5 <> 0)
      |SELECT o_orderpriority, count(*) AS n_orders,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2)))
      |    AS DECIMAL(27,2)) AS DOUBLE) AS total,
      |  TRUE AS mor_path
      |FROM t GROUP BY o_orderpriority""".stripMargin

  /** ic11_iceberg_upsert — the ZERO-SCAN upsert through the gate: one
    * equality-delete + data snapshot applies a CDC-style source
    * (changed rows + genuinely new keys) to a v2 table WITHOUT
    * reading it — the in-row `zero_scan_upsert` flag pins that every
    * original data file is still live and equality deletes exist.
    * The oracle re-derives the upserted table from the original
    * parquet. */
  def ic11IcebergUpsert(s: SparkSession, d: String): DataFrame = {
    val built = builtTables.computeIfAbsent(s"ic11:$d", _ => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-ice-ic11").toString + "/t"
      val o = Tables.orders(s, d)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      IcebergInterop.write(o, dir)
      IcebergInterop.upgradeFormat(s, dir)
      val before = IcebergInterop.state(s, dir, None)
        .files.map(_.path).toSet
      val eleven = o.filter(col("o_orderkey") % 11 === 1)
      val src = eleven
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .unionByName(eleven.withColumn("o_orderkey",
          (col("o_orderkey") + lit(100000000L))
            .cast(o.schema("o_orderkey").dataType)))
      IcebergInterop.upsertByKeys(src, dir, Seq("o_orderkey"))
      val after = IcebergInterop.state(s, dir, None)
      val zeroScan = before.subsetOf(after.files.map(_.path).toSet) &&
        after.eqDeletes.nonEmpty
      s"$dir|$zeroScan"
    })
    val Array(dir, flag) = built.split('|')
    IcebergInterop.read(s, dir)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(27,2)"))
          .cast("decimal(27,2)").cast("double").as("total"))
      .withColumn("zero_scan_upsert", lit(flag.toBoolean))
  }

  val ic11Oracle: String =
    """WITH m AS (
      |  SELECT o_orderkey, o_orderpriority,
      |    o_totalprice * 2 AS o_totalprice
      |  FROM orders WHERE o_orderkey % 11 = 1
      |  UNION ALL
      |  SELECT o_orderkey + 100000000, o_orderpriority, o_totalprice
      |  FROM orders WHERE o_orderkey % 11 = 1),
      |fin AS (
      |  SELECT * FROM m
      |  UNION ALL
      |  SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
      |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM m))
      |SELECT o_orderpriority, count(*) AS n_orders,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2)))
      |    AS DECIMAL(27,2)) AS DOUBLE) AS total,
      |  TRUE AS zero_scan_upsert
      |FROM fin GROUP BY o_orderpriority""".stripMargin

  /** cx2_cross_format_mor — MERGE-ON-READ conversion through the
    * gate: a Delta table takes a deletion-vector DELETE, converts
    * DIRECTLY to Iceberg v2 (vectors → position deletes, every data
    * file shared in place — the in-row `kill_set_converted` flag pins
    * both), and the gate reads the result through the ICEBERG
    * metadata; the oracle re-derives the post-delete table from the
    * original parquet. */
  def cx2CrossFormatMor(s: SparkSession, d: String): DataFrame = {
    val built = builtTables.computeIfAbsent(s"cx2:$d", _ => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-xfmt-cx2").toString + "/t"
      DeltaInterop.write(
        Tables.orders(s, d)
          .select("o_orderkey", "o_orderpriority", "o_totalprice"),
        dir)
      DeltaInterop.delete(s, dir, col("o_orderkey") % 5 === 0)
      val deltaFiles = DeltaInterop.state(s, dir, None).files
        .map(a => new org.apache.hadoop.fs.Path(
          new org.apache.hadoop.fs.Path(dir), a.path).toString).toSet
      CrossFormat.deltaToIcebergMor(s, dir)
      val ist = IcebergInterop.state(s, dir, None)
      val converted = ist.files.map(_.path).toSet == deltaFiles &&
        ist.posDeletes.nonEmpty
      s"$dir|$converted"
    })
    val Array(dir, flag) = built.split('|')
    IcebergInterop.read(s, dir)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(27,2)"))
          .cast("decimal(27,2)").cast("double").as("total"))
      .withColumn("kill_set_converted", lit(flag.toBoolean))
  }

  val cx2Oracle: String =
    """SELECT o_orderpriority, count(*) AS n_orders,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2)))
      |    AS DECIMAL(27,2)) AS DOUBLE) AS total,
      |  TRUE AS kill_set_converted
      |FROM orders WHERE o_orderkey % 5 <> 0
      |GROUP BY o_orderpriority""".stripMargin

  /** cx3_cross_format_eq — the LAST MOR interop asymmetry closed:
    * an Iceberg v2 table carrying EQUALITY deletes (zero-scan
    * `deleteByKeys` kills, plus an `upsertByKeys` whose re-inserted
    * keys must SURVIVE the earlier delete — the sequence-ordering
    * case conversion must honor) converts to Delta in place. Equality
    * deletes have no positional form, so the conversion resolves them
    * with one provenance scan (killed = all positions − the kernel's
    * survivors) into RoaringBitmap deletion vectors; data files are
    * shared verbatim. The gate reads the CONVERTED table through the
    * Delta kernel; `eq_converted` pins in-row that the source really
    * carried equality deletes and every Delta data file is a shared
    * Iceberg file. */
  def cx3CrossFormatEq(s: SparkSession, d: String): DataFrame = {
    val built = builtTables.computeIfAbsent(s"cx3:$d", _ => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-xfmt-cx3").toString + "/t"
      val o = Tables.orders(s, d)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      IcebergInterop.write(o, dir)
      IcebergInterop.upgradeFormat(s, dir)
      // equality-delete DML: kill %5 keys, then upsert %9==1 keys
      // (re-inserting the %45==10 overlap — those must survive)
      IcebergInterop.deleteByKeys(s, dir,
        o.filter(col("o_orderkey") % 5 === 0).select("o_orderkey"))
      IcebergInterop.upsertByKeys(
        o.filter(col("o_orderkey") % 9 === 1)
          .withColumn("o_totalprice", col("o_totalprice") * 2),
        dir, Seq("o_orderkey"))
      val ist = IcebergInterop.state(s, dir, None)
      val hadEq = ist.eqDeletes.nonEmpty
      val iceFiles = ist.files.map(_.path).toSet
      CrossFormat.icebergToDeltaMor(s, dir)
      val dst = DeltaInterop.state(s, dir, None)
      val shared = dst.files.map(a => new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(dir), a.path).toString)
        .forall(iceFiles)
      s"$dir|${hadEq && shared}"
    })
    val Array(dir, flag) = built.split('|')
    DeltaInterop.read(s, dir)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(27,2)"))
          .cast("decimal(27,2)").cast("double").as("total"))
      .withColumn("eq_converted", lit(flag.toBoolean))
  }

  val cx3Oracle: String =
    """WITH fin AS (
      |  SELECT o_orderkey, o_orderpriority, o_totalprice * 2 AS o_totalprice
      |  FROM orders WHERE o_orderkey % 9 = 1
      |  UNION ALL
      |  SELECT o_orderkey, o_orderpriority, o_totalprice
      |  FROM orders
      |  WHERE o_orderkey % 5 <> 0 AND o_orderkey % 9 <> 1)
      |SELECT o_orderpriority, count(*) AS n_orders,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2)))
      |    AS DECIMAL(27,2)) AS DOUBLE) AS total,
      |  TRUE AS eq_converted
      |FROM fin GROUP BY o_orderpriority""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cx2_cross_format_mor" -> (cx2CrossFormatMor _),
    "cx3_cross_format_eq" -> (cx3CrossFormatEq _),
    "ic12_refs_timetravel" -> (ic12RefsTimetravel _),
    "ic13_type_promotion" -> (ic13TypePromotion _),
    "ic10_iceberg_mor" -> (ic10IcebergMor _),
    "ic11_iceberg_upsert" -> (ic11IcebergUpsert _),
    "lk19_bucket_lookup" -> (lk19BucketLookup _),
    "lk20_dpp_join" -> (lk20DppJoin _),
    "mv3_incremental_distinct" -> (mv3IncrementalDistinct _),
    "dl1_delta_roundtrip" -> (dl1DeltaRoundtrip _),
    "dl2_delta_time_travel" -> (dl2DeltaTimeTravel _),
    "dl3_convert_export" -> (dl3ConvertExport _),
    "dl4_delta_sql" -> (dl4DeltaSql _),
    "dls1_delta_stream" -> (dls1DeltaStream _),
    "ic1_iceberg_roundtrip" -> (ic1IcebergRoundtrip _),
    "ic2_iceberg_time_travel" -> (ic2IcebergTimeTravel _),
    "ic3_convert_export" -> (ic3ConvertExport _),
    "ic4_iceberg_sql" -> (ic4IcebergSql _),
    "ic5_iceberg_prune" -> (ic5IcebergPrune _),
    "dl5_delta_prune" -> (dl5DeltaPrune _),
    "ic6_iceberg_stats_prune" -> (ic6IcebergStatsPrune _),
    "ic7_iceberg_evolution" -> (ic7IcebergEvolution _),
    "dl7_delta_change_feed" -> (dl7DeltaChangeFeed _),
    "cx1_cross_format" -> (cx1CrossFormat _),
    "dls2_delta_cdf_stream" -> (dls2DeltaCdfStream _),
    "dl8_delta_optimize" -> (dl8DeltaOptimize _),
    "ic8_iceberg_optimize" -> (ic8IcebergOptimize _),
    "dl9_delta_dml" -> (dl9DeltaDml _),
    "dl10_mapped_dml" -> (dl10MappedDml _),
    "dl12_merge_clauses" -> (dl12MergeClauses _),
    "dl13_schema_evolution" -> (dl13SchemaEvolution _),
    "dl14_write_gate" -> (dl14WriteGate _),
    "ic15_merge_clauses" -> (ic15MergeClauses _),
    "dl11_timestamp_travel" -> (dl11TimestampTravel _),
    "ic14_partitioned_mor" -> (ic14PartitionedMor _),
    "ic9_iceberg_dml" -> (ic9IcebergDml _),
    "dl6_delta_stats_prune" -> (dl6DeltaStatsPrune _),
    "ics1_iceberg_stream" -> (ics1IcebergStream _),
    "dls3_delta_stream_sink" -> (dls3DeltaStreamSink _),
    "dl15_sql_ctas" -> (dl15SqlCtas _),
    "ic16_sql_ctas" -> (ic16SqlCtas _),
    "ic17_v3_dv_dml" -> (ic17V3DvDml _),
    "ic18_v3_row_lineage" -> (ic18V3RowLineage _),
    "ic19_v3_defaults" -> (ic19V3Defaults _),
    "ic20_v3_keyed_cdc" -> (ic20V3KeyedCdc _),
    "ic21_sort_order" -> (ic21SortOrder _),
    "ic22_wap_publish" -> (ic22WapPublish _),
    "ic23_spec_evolution" -> (ic23SpecEvolution _),
    "iv1_iceberg_view" -> (iv1IcebergView _),
    "dl18_liquid_clustering" -> (dl18LiquidClustering _),
    "dl19_uniform_mirror" -> (dl19UniformMirror _),
    "dl20_type_widening" -> (dl20TypeWidening _),
    "dl21_column_defaults" -> (dl21ColumnDefaults _),
    "sh1_delta_sharing" -> (sh1DeltaSharing _),
    "mg1_parquet_adoption" -> (mg1ParquetAdoption _),
    "dl16_identity" -> (dl16Identity _),
    "dl17_row_tracking" -> (dl17RowTracking _),
    "lk18_nmbs_small_sync" -> (lk18NmbsSmallSync _),
    "lk17_month_partition" -> (lk17MonthPartition _),
    "lk16_time_partition" -> (lk16TimePartition _),
    "lk15_sql_merge_sync" -> (lk15SqlMergeSync _),
    "dv3_reorg_purge" -> (dv3ReorgPurge _),
    "lk14_ctas" -> (lk14Ctas _),
    "lk21_shallow_clone" -> (lk21ShallowClone _),
    "dv2_mor_update" -> (dv2MorUpdate _),
    "lk13_stats_agg" -> (lk13StatsAgg _),
    "dv1_mor_delete" -> (dv1MorDelete _),
    "lk12_sql_merge_full" -> (lk12SqlMergeFull _),
    "lk11_string_range" -> (lk11StringRange _),
    "cf1_stream_changes" -> (cf1StreamChanges _),
    "lk8_sql_update" -> (lk8SqlUpdate _),
    "lk9_point_lookup" -> (lk9PointLookup _),
    "lk10_metadata_count" -> (lk10MetadataCount _),
    "mv1_incremental_agg" -> (mv1IncrementalAgg _),
    "mv2_streaming_view" -> (mv2StreamingView _),
    "cd1_change_feed" -> (cd1ChangeFeed _),
    "lk7_zorder_skip" -> (lk7ZorderSkip _),
    "lk6_schema_evolution" -> (lk6SchemaEvolution _),
    "ls1_lake_stream" -> (ls1LakeStream _),
    "lk1_clustered_range" -> (lk1ClusteredRange _),
    "lk2_merge_upsert" -> (lk2MergeUpsert _),
    "lk3_delete_where" -> (lk3DeleteWhere _),
    "lk4_time_travel" -> (lk4TimeTravel _),
    "lk5_sql_dml" -> (lk5SqlDml _))

  val oracles: Map[String, String] = Map(
    "cx2_cross_format_mor" -> cx2Oracle,
    "cx3_cross_format_eq" -> cx3Oracle,
    "ic12_refs_timetravel" -> ic12Oracle,
    "ic13_type_promotion" -> ic13Oracle,
    "ic10_iceberg_mor" -> ic10Oracle,
    "ic11_iceberg_upsert" -> ic11Oracle,
    "lk19_bucket_lookup" -> lk19Oracle,
    "lk20_dpp_join" -> lk20Oracle,
    "mv3_incremental_distinct" -> mv3Oracle,
    "dl1_delta_roundtrip" -> dl1Oracle,
    "dl2_delta_time_travel" -> dl2Oracle,
    "dl3_convert_export" -> dl3Oracle,
    "dl4_delta_sql" -> dl4Oracle,
    "dls1_delta_stream" -> dls1Oracle,
    "ic1_iceberg_roundtrip" -> ic1Oracle,
    "ic2_iceberg_time_travel" -> ic2Oracle,
    "ic3_convert_export" -> ic3Oracle,
    "ic4_iceberg_sql" -> ic4Oracle,
    "ic5_iceberg_prune" -> ic5Oracle,
    "dl5_delta_prune" -> dl5Oracle,
    "ic6_iceberg_stats_prune" -> ic6Oracle,
    "ic7_iceberg_evolution" -> ic7Oracle,
    "dl7_delta_change_feed" -> dl7Oracle,
    "cx1_cross_format" -> cx1Oracle,
    "dls2_delta_cdf_stream" -> dl7Oracle,
    "dl8_delta_optimize" -> dl8Oracle,
    "dl10_mapped_dml" -> dl10Oracle,
    "dl12_merge_clauses" -> dl12Oracle,
    "dl13_schema_evolution" -> dl13Oracle,
    "dl14_write_gate" -> dl14Oracle,
    "ic15_merge_clauses" -> ic15Oracle,
    "dl11_timestamp_travel" -> dl11Oracle,
    "ic14_partitioned_mor" -> ic14Oracle,
    "ic8_iceberg_optimize" -> ic8Oracle,
    "dl9_delta_dml" -> dl9Oracle,
    "ic9_iceberg_dml" -> ic9Oracle,
    "dl6_delta_stats_prune" -> dl6Oracle,
    "ics1_iceberg_stream" -> ics1Oracle,
    "dls3_delta_stream_sink" -> dls3Oracle,
    "dl15_sql_ctas" -> dl15Oracle,
    "ic16_sql_ctas" -> ic16Oracle,
    "ic17_v3_dv_dml" -> ic17Oracle,
    "ic18_v3_row_lineage" -> ic18Oracle,
    "ic19_v3_defaults" -> ic19Oracle,
    "ic20_v3_keyed_cdc" -> ic20Oracle,
    "ic21_sort_order" -> ic21Oracle,
    "ic22_wap_publish" -> ic22Oracle,
    "ic23_spec_evolution" -> ic23Oracle,
    "iv1_iceberg_view" -> iv1Oracle,
    "dl18_liquid_clustering" -> dl18Oracle,
    "dl19_uniform_mirror" -> dl19Oracle,
    "dl20_type_widening" -> dl20Oracle,
    "dl21_column_defaults" -> dl21Oracle,
    "sh1_delta_sharing" -> sh1Oracle,
    "mg1_parquet_adoption" -> mg1Oracle,
    "dl16_identity" -> dl16Oracle,
    "dl17_row_tracking" -> dl17Oracle,
    "lk18_nmbs_small_sync" -> lk18Oracle,
    "lk17_month_partition" -> lk17Oracle,
    "lk16_time_partition" -> lk16Oracle,
    "lk15_sql_merge_sync" -> lk15Oracle,
    "dv3_reorg_purge" -> dv3Oracle,
    "lk14_ctas" -> lk14Oracle,
    "lk21_shallow_clone" -> lk21Oracle,
    "dv2_mor_update" -> dv2Oracle,
    "lk13_stats_agg" -> lk13Oracle,
    "dv1_mor_delete" -> dv1Oracle,
    "lk12_sql_merge_full" -> lk12Oracle,
    "lk11_string_range" -> lk11Oracle,
    "cf1_stream_changes" -> cf1Oracle,
    "lk8_sql_update" -> lk8Oracle,
    "lk9_point_lookup" -> lk9Oracle,
    "lk10_metadata_count" -> lk10Oracle,
    "mv1_incremental_agg" -> mv1Oracle,
    "mv2_streaming_view" -> mv1Oracle,
    "cd1_change_feed" -> cd1Oracle,
    "lk7_zorder_skip" -> lk7Oracle,
    "lk6_schema_evolution" -> lk6Oracle,
    "ls1_lake_stream" -> ls1Oracle,
    "lk1_clustered_range" -> lk1Oracle,
    "lk2_merge_upsert" -> lk2Oracle,
    "lk3_delete_where" -> lk3Oracle,
    "lk4_time_travel" -> lk4Oracle,
    "lk5_sql_dml" -> lk5Oracle)
}
