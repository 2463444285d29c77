package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.graftbench.BusBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder. Off by default: an untraced run pays one
  * boolean check per call and registers no listener.
  *
  * A span wraps one call into a module's public function. Spans nest;
  * self time is a span's wall time minus the time its child spans cover.
  * Spark work is attributed to spans three ways:
  *  - jobs and stages through the job group [[span]] sets on the calling
  *    thread (streaming micro-batches run under their query's run id,
  *    which [[StreamingQueryListener.onQueryStarted]] maps to the span
  *    that started the query);
  *  - planning phases from [[QueryExecution.tracker]], by the span that
  *    was open when the phase began;
  *  - stream progress from the streaming listener, per run.
  * Everything stays in memory until [[Trace.report]]. */
object Trace {
  final case class Span(id: Long, module: String, name: String,
                        parent: Long, op: Long, startMs: Long,
                        startNs: Long, var endNs: Long = -1L) {
    def durMs: Double = (endNs - startNs) / 1e6
    def endMs: Double = startMs + durMs
  }

  final case class Job(id: Int, group: String, startMs: Long,
                       var endMs: Long = -1L)

  final class StageAgg {
    var group: String = _
    var runMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
  }

  @volatile private var on = false
  private var session: SparkSession = _
  private val ids = new AtomicLong()
  private val opIds = new AtomicLong()
  private val stack = ThreadLocal.withInitial[List[Span]](() => Nil)
  private val currentOp = ThreadLocal.withInitial[Long](() => 0L)

  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.HashMap.empty[Int, StageAgg]
  val planPhases = mutable.ArrayBuffer.empty[(Long, Long)] // (startMs, ms)
  val runIdSpan = mutable.HashMap.empty[String, Long]
  val progress = mutable.HashMap.empty[String, mutable.ArrayBuffer[
    org.apache.spark.sql.streaming.StreamingQueryProgress]]

  private val GroupPrefix = "graftbench-span-"

  /** Start tracing on `spark`: registers the three listeners. */
  def enable(spark: SparkSession): Unit = {
    session = spark
    spark.sparkContext.addSparkListener(SparkCollector)
    spark.listenerManager.register(PlanCollector)
    spark.streams.addListener(StreamCollector)
    on = true
  }

  /** Open an operation: every span until the next call shares its id. */
  def newOp(): Long = {
    val id = opIds.incrementAndGet()
    currentOp.set(id)
    id
  }

  def span[T](module: String, name: String)(body: => T): T = {
    if (!on) return body
    val parents = stack.get
    val s = Span(ids.incrementAndGet(), module, name,
      parents.headOption.map(_.id).getOrElse(0L), currentOp.get,
      System.currentTimeMillis(), System.nanoTime())
    spans.synchronized(spans += s)
    val sc = session.sparkContext
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    val prevDesc = sc.getLocalProperty("spark.job.description")
    sc.setJobGroup(GroupPrefix + s.id, s"${s.module}.${s.name}")
    stack.set(s :: parents)
    try body
    finally {
      s.endNs = System.nanoTime()
      stack.set(parents)
      if (prevGroup == null) sc.clearJobGroup()
      else sc.setJobGroup(prevGroup, prevDesc)
    }
  }

  private object SparkCollector extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val g = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
      jobs(e.jobId) = Job(e.jobId, g, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      synchronized {
        val a = stages.getOrElseUpdate(e.stageInfo.stageId, new StageAgg)
        a.group = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
        a.runMs += m.executorRunTime
        a.taskMs += m.executorRunTime
        a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.diskBytesSpilled
      }
    }
  }

  private object PlanCollector extends QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty) planPhases.synchronized {
        planPhases += ((ph.map(_.startTimeMs).min, ph.map(_.durationMs).sum))
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution,
                           e: Exception): Unit = record(qe)
  }

  private object StreamCollector extends StreamingQueryListener {
    import StreamingQueryListener._
    // Called synchronously on the thread that starts the query, so the
    // starting span is the top of that thread's stack.
    override def onQueryStarted(e: QueryStartedEvent): Unit =
      stack.get.headOption.foreach(s =>
        runIdSpan.synchronized(runIdSpan(e.runId.toString) = s.id))
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      progress.synchronized {
        progress.getOrElseUpdate(e.progress.runId.toString,
          mutable.ArrayBuffer.empty) += e.progress
      }
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  /** Innermost span open at `ms`, by start time among those containing
    * it — the traced runs issue calls from one thread, so this is the
    * call that was running. */
  private def spanAt(ms: Double): Option[Span] =
    spans.filter(s => s.startMs <= ms && ms <= s.endMs)
      .maxByOption(s => (s.startMs, s.id))

  /** Per-module Spark counts over the traced run, each divided by `ops`
    * (the workload operations the run completed). */
  def report(ops: Int): Map[String, Double] = {
    BusBridge.drain(session.sparkContext)
    val jobsBySpan = attributedJobs
    val childMs = spans.groupBy(_.parent).map { case (p, cs) =>
      p -> unionMs(cs.map(c => (c.startMs.toDouble, c.endMs)).toSeq) }
    def n(v: Double): Double = v / math.max(ops, 1)
    val out = mutable.LinkedHashMap.empty[String, Double]
    for (m <- Modules.all) {
      val ms = spans.filter(_.module == m)
      val msIds = ms.map(_.id).toSet
      val js = ms.flatMap(s => jobsBySpan.getOrElse(s.id, Nil))
      val st = stages.values.filter(a =>
        spanOfGroup(a.group).exists(s => msIds(s.id)))
      val driver = ms.map { s =>
        val self = s.durMs - childMs.getOrElse(s.id, 0.0)
        val busy = unionMs(jobsBySpan.getOrElse(s.id, Nil)
          .filter(_.endMs >= 0)
          .map(j => (math.max(j.startMs.toDouble, s.startMs.toDouble),
            math.min(j.endMs.toDouble, s.endMs))))
        math.max(0.0, self - busy)
      }.sum
      val plan = planPhases.filter { case (t, _) =>
        spanAt(t.toDouble).exists(s => msIds(s.id)) }.map(_._2).sum
      val skew = st.filter(_.taskMs.size >= 2).map { a =>
        val sorted = a.taskMs.sorted
        sorted.last.toDouble / math.max(sorted(sorted.size / 2), 1L)
      }.maxOption.getOrElse(0.0)
      out(s"$m.jobs") = n(js.size)
      out(s"$m.task_ms") = n(st.map(_.runMs).sum.toDouble)
      out(s"$m.driver_ms") = n(driver)
      out(s"$m.plan_ms") = n(plan.toDouble)
      out(s"$m.shuffle_bytes") = n(st.map(_.shuffleBytes).sum.toDouble)
      out(s"$m.spill_bytes") = n(st.map(_.spillBytes).sum.toDouble)
      out(s"$m.skew") = skew
    }
    val ps = progress.values.toSeq
    out("streaming.batch_ms") =
      n(ps.flatten.map(_.batchDuration).sum.toDouble)
    out("streaming.batches") = n(ps.map(_.size).sum.toDouble)
    // state per query: its last progress holds the final state size
    val lasts = ps.flatMap(_.lastOption).flatMap(_.stateOperators)
    out("streaming.state_stores") = n(lasts.map(_.numStateStoreInstances).sum.toDouble)
    out("streaming.state_rows") = n(lasts.map(_.numRowsTotal).sum.toDouble)
    out.toMap
  }

  private def spanOfGroup(g: String): Option[Span] =
    if (g == null) None
    else if (g.startsWith(GroupPrefix))
      spans.find(_.id == g.stripPrefix(GroupPrefix).toLong)
    else runIdSpan.get(g).flatMap(id => spans.find(_.id == id))

  /** Jobs by the id of the span they ran under: their job group, else
    * the span open when they started. */
  private def attributedJobs: Map[Long, Seq[Job]] =
    jobs.values.toSeq.flatMap(j =>
      spanOfGroup(j.group).orElse(spanAt(j.startMs.toDouble)).map(_.id -> j))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }

  /** Mean number of jobs under the spans `p` selects. */
  def meanJobs(p: Span => Boolean): Double = {
    BusBridge.drain(session.sparkContext)
    val by = attributedJobs
    val sel = spans.filter(p)
    if (sel.isEmpty) 0.0 else sel.map(s => by.getOrElse(s.id, Nil).size).sum.toDouble / sel.size
  }

  /** Length of the union of `[a, b]` intervals, in their unit. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var (cs, ce) = (Double.NaN, Double.NaN)
    for ((a, b) <- iv.filter(x => x._2 > x._1).sortBy(_._1)) {
      if (cs.isNaN || a > ce) {
        if (!cs.isNaN) total += ce - cs
        cs = a; ce = b
      } else ce = math.max(ce, b)
    }
    if (!cs.isNaN) total += ce - cs
    total
  }

  /** The spans, one JSON object a line, for the sidecar. */
  def spanLines: Seq[String] = spans.toSeq.map { s =>
    Json.obj("id" -> s.id, "module" -> s.module, "name" -> s.name,
      "parent" -> s.parent, "op" -> s.op, "start_ms" -> s.startMs,
      "dur_ms" -> s.durMs)
  }

  /** Jobs with their attributed span, for the sidecar. */
  def jobLines: Seq[String] = jobs.values.toSeq.map { j =>
    Json.obj("job" -> j.id, "group" -> Option(j.group).getOrElse(""),
      "start_ms" -> j.startMs, "end_ms" -> j.endMs)
  }
}

object Modules {
  val all: Seq[String] = Seq("bike", "enriched", "serving", "ml", "sources",
    "streaming", "queries", "operators", "text")
}
