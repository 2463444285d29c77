package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One workload of the benchmark. [[prepare]] builds its inputs and state
  * from the seed, from scratch, under a fresh directory (it runs several
  * times so set-up time is a median); [[warmup]] runs the workload's
  * calls once, untimed, on the state prepared before it, which may be
  * smaller: its job is class loading, JIT and code generation; [[round]] is one
  * closed-loop operation (a drop, a batch pair, a pass, a round of calls)
  * on the last state prepared; [[slice]] runs once after the rounds, timed:
  * analytic calls sharing the session; [[finish]] runs the checks that
  * need the whole run. */
trait Workload {
  /** `warm` asks for the warm-up's reduced state. */
  def prepare(dir: String, warm: Boolean = false): Unit
  def warmup(): Unit
  def round(i: Int): Unit
  def slice(): Unit = ()
  def finish(): Unit = ()
  /** Per-layer call timings of the traced run. */
  def layerMetrics: Map[String, Double] = Map.empty
}

/** Shared state of a run: timings, attempts, failures. */
final class Run(val spark: SparkSession, val seed: Long, val traced: Boolean) {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val calls = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val named = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  // The warm-up runs two threads (see [[Run.concurrently]]), so the
  // shared tallies are updated under this lock.
  def sample(kind: String, ms: Double): Unit = synchronized {
    samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
  }

  private def attempt(): Unit = synchronized { attempted += 1 }

  /** Time `body` under `kind`, counting it as one attempted operation;
    * an exception counts it failed. */
  def op[T](kind: String)(body: => T): Option[T] = {
    attempt()
    val t0 = System.nanoTime()
    try {
      val v = body
      sample(kind, (System.nanoTime() - t0) / 1e6)
      Some(v)
    } catch {
      case e: Throwable =>
        fail(s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    } finally graft.core.TransientCache.drain()
  }

  /** Time one module call for the per-layer breakdown, inside a span. */
  def call[T](module: String, name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val v = Trace.span(module, name)(body)
    synchronized {
      calls.getOrElseUpdate(s"$module.$name", mutable.ArrayBuffer.empty) +=
        (System.nanoTime() - t0) / 1e6
    }
    v
  }

  def fail(msg: String): Unit = synchronized {
    failed += 1
    if (failures.size < 50) failures += msg
    System.err.println(s"[perfbench] FAILED $msg")
  }

  /** A correctness check of an operation already counted. */
  def check(ok: Boolean, msg: => String): Unit = if (!ok) fail(msg)

  /** A check of the whole run, counted as an operation of its own. */
  def finalCheck(ok: Boolean, msg: => String): Unit = {
    attempt()
    check(ok, msg)
  }

  def callMedian(key: String): Double =
    calls.get(key).filter(_.nonEmpty).map(Stats.median(_)).getOrElse(0.0)
}

object Run {
  /** Run `a` here and `b` on a second thread, and wait for both: warm-ups
    * of independent calls overlap their class loading and compilation.
    * The engine scopes its transient caches per thread. */
  def concurrently(a: => Unit, b: => Unit): Unit = {
    val other = scala.concurrent.Future(b)(scala.concurrent.ExecutionContext.global)
    a
    scala.concurrent.Await.result(other, scala.concurrent.duration.Duration.Inf)
  }
}

object Stats {
  def median(xs: Iterable[Double]): Double = {
    val s = xs.toIndexedSeq.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

object Main {
  private def arg(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(name)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val traced = arg(args, "--trace").contains("1")
    val work = arg(args, "--work").getOrElse(sys.error("--work"))
    val out = arg(args, "--out").getOrElse(sys.error("--out"))
    Files.createDirectories(Paths.get(work))
    // Spark's scratch space stays inside the work directory.
    System.setProperty("spark.local.dir", s"$work/spark-local")

    if (workload == "selftest") {
      val ok = SelfTest.run(work)
      Files.writeString(Paths.get(out), Json.obj("selftest" -> ok))
      sys.exit(if (ok) 0 else 1)
    }

    val cores = Runtime.getRuntime.availableProcessors()
    val spark = graft.core.GraftSession.local(cores, s"perfbench-$workload")
    val sessionS = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getUptime / 1000.0

    val run = new Run(spark, seed, traced)
    val w: Workload = workload match {
      case "bike_pipeline" => new BikeWorkload(run)
      case "lake_cdc" => new LakeWorkload(run)
      case "gate_mix" => new GateWorkload(run, GateWorkload.Rows)
      case "hot_corpus" => new CorpusWorkload(run, CorpusWorkload.Docs)
      case other => sys.error(s"unknown workload $other")
    }

    // Set-up: a warm-up on its own state (cold JIT and codegen land
    // here), then the measured state built three times from scratch; the
    // last copy is used and the median build counts.
    val t0 = System.nanoTime()
    w.prepare(s"$work/warm", warm = true)
    w.warmup()
    graft.core.TransientCache.drain()
    val warmS = (System.nanoTime() - t0) / 1e9
    val prepS = (1 to 3).map { r =>
      val t1 = System.nanoTime()
      w.prepare(s"$work/state$r")
      (System.nanoTime() - t1) / 1e9
    }
    // Warm-up operations are checked and counted, but not timed.
    run.samples.clear(); run.calls.clear()

    if (traced) Trace.enable(spark)
    val start = System.nanoTime()
    var rounds = 0
    while ((System.nanoTime() - start) / 1e9 < seconds) {
      Trace.newOp()
      w.round(rounds)
      rounds += 1
    }
    val wallS = (System.nanoTime() - start) / 1e9
    Trace.newOp()
    val sliceStart = System.nanoTime()
    w.slice()
    val sliceS = (System.nanoTime() - sliceStart) / 1e9
    w.finish()

    val perLayer =
      if (!traced) Map.empty[String, Double]
      else {
        val m = Trace.report(rounds) ++ w.layerMetrics
        val side = Paths.get(s"$work/trace")
        Files.createDirectories(side)
        Files.write(side.resolve("spans.jsonl"),
          Trace.spanLines.mkString("\n").getBytes("UTF-8"))
        Files.write(side.resolve("jobs.jsonl"),
          Trace.jobLines.mkString("\n").getBytes("UTF-8"))
        m
      }

    val env = Map(
      "nproc" -> cores,
      "session_cores" -> spark.sparkContext.defaultParallelism,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "jdk" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString)
    val json = Json.obj(
      "workload" -> workload,
      "seed" -> seed,
      "traced" -> traced,
      "env" -> env,
      "setup" -> Map("session_s" -> sessionS, "prepare_s" -> prepS,
        "warmup_s" -> warmS,
        "setup_s" -> (sessionS + Stats.median(prepS) + warmS)),
      "wall_s" -> wallS,
      "slice_s" -> sliceS,
      "rounds" -> rounds,
      "attempted" -> run.attempted,
      "failed" -> run.failed,
      "failures" -> run.failures.toSeq,
      "samples" -> run.samples.map { case (k, v) => k -> v.toSeq }.toMap,
      "named" -> run.named.toMap,
      "per_layer" -> perLayer,
      "peak_rss_mb" -> peakRssMb())
    Files.writeString(Paths.get(out), json)
    spark.stop()
    sys.exit(0)
  }

  /** The JVM's resident-set high-water mark (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
