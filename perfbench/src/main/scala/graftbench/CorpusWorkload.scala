package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.text.{Dedup, TextStats}

/** `hot_corpus`: the text operators on a corpus of `docs` documents
  * whose top 5-gram holds more than half of all gram occurrences
  * ([[CorpusGen]]). One round calls `Dedup.duplicatedSpans`,
  * `Dedup.removeDuplicatedSpans`, `TextStats.unigramNll` and
  * `Dedup.nearDupPairs` once each, through a `noop` sink. The warm-up
  * round writes each result once and checks it:
  * the hot span is reported in every carrier, it is gone from every
  * carrier but its keeper after removal, and every planted near-duplicate
  * pair is found. */
final class CorpusWorkload(run: Run, docs: Int) extends Workload {
  private val spark = run.spark
  private var gen: CorpusGen = _
  private var corpus: DataFrame = _
  private var out: String = _

  private val calls: Seq[(String, DataFrame => DataFrame)] = Seq(
    "hot_spans" -> (df => Dedup.duplicatedSpans(df)),
    "hot_span_removal" -> (df => Dedup.removeDuplicatedSpans(df)),
    "hot_unigram" -> (df => TextStats.unigramNll(df)),
    "hot_neardup" -> (df => Dedup.nearDupPairs(df)))

  def prepare(dir: String, warm: Boolean): Unit = {
    gen = new CorpusGen(run.seed, docs)
    import spark.implicits._
    val path = s"$dir/corpus"
    gen.texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .repartition(spark.sparkContext.defaultParallelism)
      .write.parquet(path)
    corpus = spark.read.parquet(path)
    out = s"$dir/out"
  }

  def warmup(): Unit = {
    for ((name, f) <- calls)
      run.op("query")(f(corpus).write.mode("overwrite").parquet(s"$out/$name"))
    check()
  }

  private def check(): Unit = {
    val k = gen.k
    val carriers = gen.carriers.toSet
    val spans = spark.read.parquet(s"$out/hot_spans")
      .filter(col("doc_id").isin(gen.carriers: _*))
      .select("doc_id", "dup_spans").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val missed = gen.carriers.count(d =>
      spans.getOrElse(d, 0L) < gen.hotRun - k + 1)
    run.finalCheck(missed == 0,
      s"hot span not reported in $missed of ${carriers.size} carriers")
    val keeper = gen.carriers.min
    val kept = spark.read.parquet(s"$out/hot_span_removal")
      .filter(col("doc_id").isin(gen.carriers: _*) && col("doc_id") =!= keeper)
      .select("new_text").collect().count(_.getString(0).contains(gen.hotGram))
    run.finalCheck(kept == 0,
      s"hot span survives removal in $kept non-keeper carriers")
    val pairs = spark.read.parquet(s"$out/hot_neardup")
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lost = gen.planted.count { case (a, b) =>
      !pairs((a min b, a max b)) }
    run.finalCheck(lost == 0,
      s"$lost of ${gen.planted.size} planted near-duplicate pairs not found")
    val nll = spark.read.parquet(s"$out/hot_unigram").count()
    run.finalCheck(nll > 0, "unigramNll returned no rows")
  }

  def round(i: Int): Unit =
    for ((name, f) <- calls) run.op("query")(run.call("text", name) {
      f(corpus).write.format("noop").mode("overwrite").save()
    })

  override def layerMetrics: Map[String, Double] =
    calls.map { case (name, _) =>
      s"text.${name}_ms" -> run.callMedian(s"text.$name") }.toMap
}

object CorpusWorkload {
  val Docs = 20000
}
