package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `gate_mix`: existing gate rows of [[graft.SparkEntry.queries]] over
  * seeded TPC-H-style tables, each executed through a `noop` sink as
  * `graft.Bench` does. One round is one pass over `rows` in a seeded
  * order. The warm-up pass writes every row's result once; those files
  * are compared with [[graft.SparkEntry.oracleSql]] in DuckDB after the
  * run. */
final class GateWorkload(run: Run, rows: Seq[String]) extends Workload {
  private val spark = run.spark
  private var data: String = _
  private var out: String = _
  private val entries = graft.SparkEntry.queries

  def prepare(dir: String, warm: Boolean): Unit = {
    data = s"$dir/data"
    out = s"$dir/out"
    GateData.write(spark, run.seed, GateWorkload.Sf, data)
  }

  def warmup(): Unit = {
    run.named("oracle_data") = data
    run.named("oracle_out") = out
    for (row <- rows) run.op("query") {
      entries(row)(spark, data).coalesce(1).write.mode("overwrite")
        .parquet(s"$out/$row")
    }
    val oracle = graft.SparkEntry.oracleSql.filter(kv => rows.contains(kv._1))
    Files.writeString(Paths.get(s"$out/oracle_sql.json"), Json.value(oracle))
  }

  def round(i: Int): Unit = {
    val order = GateWorkload.shuffle(rows, Gen.rng(run.seed, 70000L + i))
    for (row <- order) run.op("query")(
      run.call(GateWorkload.moduleOf(row), row) {
        entries(row)(spark, data).write.format("noop").mode("overwrite").save()
      })
  }

  override def layerMetrics: Map[String, Double] = rows.map { row =>
    val m = GateWorkload.moduleOf(row)
    s"$m.${row}_s" -> run.callMedian(s"$m.$row") / 1000.0
  }.toMap
}

object GateWorkload {
  /** Table scale: the gate's sf0.01 row counts. */
  val Sf = 0.01

  val Rows: Seq[String] = Seq(
    "q1_pricing_summary", "q5_local_supplier", "q18_large_orders",
    "q21_waiting_suppliers", "a2_count_distinct", "a4_approx_sketches",
    "st3_sessionize_stream", "st6_stream_join_outer", "st7_session_window",
    "st8_stream_static", "ar1_association_rules", "pr1_pagerank",
    "tc1_triangles", "dd2_minhash_lsh", "dd9_incremental_dedup",
    "dd13_duplicated_spans", "tx8_unigram_ppl", "ds1_dsir_weights")

  def moduleOf(row: String): String =
    if (row.startsWith("st")) "streaming"
    else if (Seq("ar", "pr", "tc").exists(row.startsWith)) "operators"
    else if (Seq("dd", "tx", "ds").exists(row.startsWith)) "text"
    else "queries"

  def shuffle[T](xs: Seq[T], r: java.util.SplittableRandom): Seq[T] = {
    val a = xs.toBuffer
    for (i <- a.indices.reverse.init) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }
}

/** Seeded tables with the gate test tables' schemas (FIXTURES.md §5),
  * value domains and row counts per scale factor: uniform keys, two-
  * decimal money, dates 1995–2001, 30 days of events, and a small-
  * vocabulary document corpus. Each table is one parquet file, so both
  * Spark and DuckDB read the same bytes. Every value is a hash of
  * (row id, seed, column), so the tables do not depend on partitioning
  * or timing. */
object GateData {
  def write(spark: SparkSession, seed: Long, sf: Double, dir: String): Unit = {
    def n(base: Double): Long = math.max(1L, math.round(base * sf))
    def h(salt: Int): Column = xxhash64(col("id"), lit(seed), lit(salt))
    def mod(salt: Int, m: Long): Column = pmod(h(salt), lit(m))
    def u(salt: Int): Column = mod(salt, 1000000007L) / 1000000007.0
    def pick(salt: Int, xs: String*): Column =
      element_at(array(xs.map(lit): _*), (mod(salt, xs.size) + 1).cast("int"))
    def money(salt: Int, lo: Double, hi: Double): Column =
      round(u(salt) * (hi - lo) + lo, 2)
    val day = 86400L
    val d1995 = 788918400L // 1995-01-01 UTC
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrd = n(1500000); val nEv = n(1000000); val nDoc = n(50000)

    def save(name: String, df: DataFrame): Unit = {
      val tmp = s"$dir/.tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp)).toArray.map(_.toString)
        .find(_.endsWith(".parquet")).get
      Files.createDirectories(Paths.get(dir))
      Files.move(Paths.get(part), Paths.get(s"$dir/$name.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }

    save("region", spark.range(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
        "MIDDLE EAST").map(lit): _*), (col("id") + 1).cast("int")).as("r_name")))
    save("nation", spark.range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      pmod(col("id"), lit(5)).cast("int").as("n_regionkey")))
    val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
      "MACHINERY")
    save("customer", spark.range(nCust).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      mod(1, 25).cast("int").as("c_nationkey"),
      money(2, -999.99, 9999.99).as("c_acctbal"),
      pick(3, segments: _*).as("c_mktsegment")))
    save("supplier", spark.range(nSupp).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      mod(1, 25).cast("int").as("s_nationkey"),
      money(2, -999.99, 9999.99).as("s_acctbal")))
    save("part", spark.range(nPart).select(col("id").as("p_partkey"),
      concat(pick(1, "large", "hot", "small", "pale", "dark", "bright"),
        lit(" "), pick(2, "ring", "bolt", "gear", "pipe", "nut")).as("p_name"),
      concat(lit("Brand#"), mod(3, 25) + 1).as("p_brand"),
      pick(4, "LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")
        .as("p_type"),
      (mod(5, 50) + 1).cast("int").as("p_size"),
      (lit(900.0) + pmod(col("id"), lit(1000)) / 10.0).as("p_retailprice")))
    val orders = spark.range(nOrd).select(col("id").as("o_orderkey"),
      mod(1, nCust).as("o_custkey"),
      pick(2, "O", "F", "P").as("o_orderstatus"),
      money(3, 900.0, 500000.0).as("o_totalprice"),
      timestamp_seconds(lit(d1995) + mod(4, 2404) * day).as("o_orderdate"),
      pick(5, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
        .as("o_orderpriority"))
    save("orders", orders)
    // 1..7 lines per order (4 on average), each line hashed from its own
    // (order, line) id
    val lines = spark.range(nOrd)
      .select(col("id").as("l_orderkey"),
        explode(sequence(lit(1), (mod(6, 7) + 1).cast("int"))).as("l_linenumber"))
      .withColumn("id", col("l_orderkey") * 8 + col("l_linenumber"))
    save("lineitem", lines.select(col("l_orderkey"),
      mod(11, nPart).as("l_partkey"), mod(12, nSupp).as("l_suppkey"),
      col("l_linenumber"),
      (mod(13, 50) + 1).cast("double").as("l_quantity"),
      money(14, 900.0, 100000.0).as("l_extendedprice"),
      (mod(15, 11) / 100.0).as("l_discount"),
      (mod(16, 9) / 100.0).as("l_tax"),
      pick(17, "A", "N", "R").as("l_returnflag"),
      pick(18, "O", "F").as("l_linestatus"),
      timestamp_seconds(lit(d1995 + day) + mod(19, 2498) * day).as("l_shipdate")))
    save("events", spark.range(nEv).select(col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + mod(1, 30L * day * 1000000L))
        .as("ts"),
      mod(2, n(15000)).as("user_id"),
      pick(3, "signup", "click", "error", "view", "purchase").as("event_type"),
      money(4, 0.0, 200.0).as("value"),
      concat(lit("{\"k\": "), mod(5, 100), lit("}")).as("props")))
    val vocab = Seq("batch", "part", "spark", "line", "column", "order",
      "small", "sort", "fast", "value", "scan", "a", "hash", "slow", "group",
      "agg", "filter", "query", "big", "key", "window", "row", "table",
      "stream", "merge", "data", "vector", "join", "index", "plan", "cache",
      "shuffle", "task", "stage", "node", "file", "page", "block", "lake",
      "delta")
    val words = array(vocab.map(lit): _*)
    val docs = spark.range(nDoc).select(col("id").as("doc_id"),
      array_join(transform(sequence(lit(1), (mod(1, 80) + 10).cast("int")),
        i => element_at(words,
          (pmod(xxhash64(col("id"), i, lit(seed)), lit(vocab.size.toLong)) + 1)
            .cast("int"))), " ").as("text"),
      pick(2, "en", "en", "en", "en", "en", "en", "es", "fr", "de", "zh")
        .as("lang"),
      concat(lit("src"), mod(3, 20)).as("source"))
    save("documents", docs.withColumn("n_chars", length(col("text")).cast("long")))
  }
}
