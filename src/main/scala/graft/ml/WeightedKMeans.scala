package graft.ml

import java.sql.Timestamp
import java.util.SplittableRandom

import org.apache.spark.SparkException
import org.apache.spark.ml.clustering.{KMeans, KMeansBridge, KMeansModel}
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The weighted K-Means geo-clustering job (SURVEY §2.6 M1+M2, §2.2 P4/P6;
  * reference `/root/reference/dags/lib/k_means_with_spark.py:101-172`).
  *
  * Where the fit runs: on the driver. [[WeightedKMeans.run]] collects the
  * window's `(lat, lon, weight)` rows in one Spark job and solves weighted
  * Lloyd there; the returned model is an ordinary MLlib `KMeansModel`, so
  * serving's `prediction` is MLlib's closest-center rule and
  * `model.summary` carries `numIter` and `trainingCost`.
  *
  * Why the input fits the driver: the pipeline trains on one drop only.
  * `Enriched.runStage` overwrites the enriched `default/` folder each run
  * and the window keeps its trailing 90 minutes, so the input is bounded
  * by the fleet (stations plus bikes), not by history. At that size each
  * Spark job costs more in scheduling than the data costs to cluster; a
  * distributed MLlib fit launches ~30 jobs (k-means|| init, then one
  * two-stage job per Lloyd iteration). A window the driver cannot take
  * fails with [[WeightedKMeans.WindowTooLargeException]].
  *
  * The solve, seeded from [[WeightedKMeans.Params]]:
  *   - init is greedy k-means++: the first center is drawn ∝ weight; each
  *     next one is the best (lowest potential Σ wᵢ·D²) of `2 + ⌊ln k⌋`
  *     candidates drawn ∝ wᵢ·D²;
  *   - Lloyd runs with MLlib's defaults: at most 20 iterations, stopping
  *     once every center moves ≤ 1e-4; an empty cluster keeps its center;
  *   - init + Lloyd run three times and the lowest-cost fit is kept;
  *     `numIter` is that fit's;
  *   - `trainingCost` is Σ wᵢ·min‖xᵢ−c‖² to the returned centers.
  *
  * Two weighting modes:
  *   - [[WeightedKMeans.Replication]] — the reference's trick: replicate
  *     each point `weight` times via `explode(array_repeat(struct(lat,lon),
  *     weight))` and fit unit weights. The row count blows up by Σweight.
  *     Kept as the parity mode.
  *   - [[WeightedKMeans.NativeWeight]] — one row per point, weighted by
  *     `weight`: the identical objective (Σ wᵢ·‖xᵢ−c‖²) without the
  *     replication. The default. The two modes agree on the objective
  *     within convergence tolerance (WeightedKMeansSpec pins this).
  *
  * Null geo points are skipped (`VectorAssembler.handleInvalid="skip"`) —
  * the reference would crash on a null lat; skipping is the engine-defined
  * behavior, counted nowhere else.
  */
object WeightedKMeans {

  sealed trait Mode
  case object Replication extends Mode
  case object NativeWeight extends Mode

  /** k=12, seed=1 — the reference's exact config
    * (`k_means_with_spark.py:136`). */
  final case class Params(k: Int = 12, seed: Long = 1L,
                          mode: Mode = NativeWeight)

  /** The time window holds no trainable points (all rows filtered out or
    * null-geo). The reference crashes deep inside the summarizer here;
    * we surface it as a typed, skippable condition. */
  final class EmptyWindowException(start: Timestamp, end: Timestamp)
    extends RuntimeException(
      s"no trainable points in window [$start, $end] — nothing to cluster")

  /** The window holds more points than the driver accepts in one collect
    * (`spark.driver.maxResultSize`). Deterministic for a given window. */
  final class WindowTooLargeException(start: Timestamp, end: Timestamp,
                                      cause: Throwable)
    extends RuntimeException(
      s"too many points in window [$start, $end] to fit K-Means on the " +
        "driver: the window's (lat, lon, weight) rows exceed " +
        "spark.driver.maxResultSize; narrow the window", cause)

  /** MLlib `KMeans`' defaults. */
  private val MaxIter = 20
  private val Tol = 1e-4

  /** Fits per call, the lowest-cost one kept. Lloyd under [[MaxIter]]
    * often stops short of a local optimum on Paris-scale drops; one fit
    * came out 0.2% worse than MLlib's in the geomean over the spec's
    * fixtures, three 1.2% better (WeightedKMeansSpec). */
  private val Restarts = 3

  /** P4 + F9/F10: closed-interval time filter (bounds computed driver-side
    * by the caller — keep the clock injectable) and the weight clamp
    * `weight = max(int(num_bikes), 1)`. */
  def prepare(enriched: DataFrame, start: Timestamp, end: Timestamp): DataFrame =
    enriched
      .filter(col("time") >= lit(start) && col("time") <= lit(end))
      .withColumn("weight", col("num_bikes").cast("int"))
      .withColumn("weight",
        when(col("weight") > 0, col("weight")).otherwise(1))

  private def assemble(df: DataFrame): DataFrame =
    new VectorAssembler()
      .setInputCols(Array("lat", "lon"))
      .setOutputCol("features")
      .setHandleInvalid("skip")
      .transform(df)

  /** Fit + transform. Returns the serving-shaped result (one row per input
    * point — replicated in parity mode — with `prediction` appended) and
    * the fitted model for objective inspection. The fit launches one
    * Spark job, the training-set collect; the result is lazy. */
  def run(enriched: DataFrame, start: Timestamp, end: Timestamp,
          params: Params = Params()): (DataFrame, KMeansModel) = {
    val prepared = prepare(enriched, start, end)

    val (assembled, weight) = params.mode match {
      case Replication =>
        // P6: one row per bike — the aggregate objective is identical to
        // the weighted form because replication IS integer weighting.
        val replicated = prepared
          .withColumn("dummy",
            explode(array_repeat(struct(col("lat"), col("lon")), col("weight"))))
          .select(col("provider"), col("id"),
            col("dummy.lat").as("lat"), col("dummy.lon").as("lon"),
            col("time"), col("num_bikes"), col("num_docks"))
        (assemble(replicated), lit(1.0))
      case NativeWeight =>
        (assemble(prepared), col("weight").cast("double"))
    }

    val (xs, ws) = collectTraining(assembled, weight, start, end)
    if (ws.isEmpty) throw new EmptyWindowException(start, end)
    // best of Restarts fits, drawn one after another from one seeded stream
    val rnd = new SplittableRandom(params.seed)
    val (cs, numIter, fitCost) = Seq.fill(Restarts) {
      val c = greedyInit(xs, ws, params.k, rnd)
      val iters = lloyd(xs, ws, c)
      (c, iters, cost(xs, ws, c))
    }.minBy(_._3)

    val estimator = new KMeans().setK(params.k).setSeed(params.seed)
    if (params.mode == NativeWeight) estimator.setWeightCol("weight")
    val model = KMeansBridge.model(estimator, cs.grouped(2).toArray, numIter,
      fitCost, assembled)
    val predicted = model.transform(assembled)

    // Serving projection (F5/F7/P3): id_concat key, [lon,lat] geo array.
    val served = predicted
      .withColumn("id_concat",
        concat(col("id"), lit("_"), col("time").cast("string")))
      .withColumn("location", array(col("lon"), col("lat")))
      .drop("lat", "lon")
      .select(col("provider"), col("id_concat"), col("location"), col("time"),
        col("num_bikes"), col("num_docks"), col("prediction"))
    (served, model)
  }

  /** Weighted within-cluster sum of squares — the objective both modes
    * optimize; used for cross-mode tolerance checks. */
  def wssse(model: KMeansModel): Double = model.summary.trainingCost

  /** The window's training set in one collect: (lat, lon) pairs
    * flattened and one weight per point. */
  private def collectTraining(assembled: DataFrame, weight: Column,
                              start: Timestamp, end: Timestamp)
      : (Array[Double], Array[Double]) = {
    val rows =
      try assembled.select(col("lat").cast("double"), col("lon").cast("double"),
        weight).collect()
      catch {
        case e: SparkException if Option(e.getMessage)
            .exists(_.contains("spark.driver.maxResultSize")) =>
          throw new WindowTooLargeException(start, end, e)
      }
    val xs = new Array[Double](2 * rows.length)
    val ws = new Array[Double](rows.length)
    var i = 0
    while (i < rows.length) {
      xs(2 * i) = rows(i).getDouble(0)
      xs(2 * i + 1) = rows(i).getDouble(1)
      ws(i) = rows(i).getDouble(2)
      i += 1
    }
    (xs, ws)
  }

  // The solve works on planar points: `xs` and the centers hold (lat, lon)
  // pairs flattened, point i at (2i, 2i+1).

  /** ‖xᵢ − c‖²: point `i` of `xs` against center `c` of `cs`. */
  private def dist2(xs: Array[Double], i: Int, cs: Array[Double], c: Int): Double = {
    val a = xs(2 * i) - cs(2 * c)
    val b = xs(2 * i + 1) - cs(2 * c + 1)
    a * a + b * b
  }

  /** Index of the center of `cs` closest to point `i`; ties go to the
    * lowest index. */
  private def closest(xs: Array[Double], i: Int, cs: Array[Double]): Int = {
    var best = 0
    var bestD = Double.PositiveInfinity
    var c = 0
    while (2 * c < cs.length) {
      val dd = dist2(xs, i, cs, c)
      best = if (dd < bestD) c else best
      bestD = math.min(dd, bestD)
      c += 1
    }
    best
  }

  /** Σ wᵢ·min‖xᵢ−c‖² over the centers `cs`. */
  private def cost(xs: Array[Double], ws: Array[Double], cs: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < ws.length) {
      s += ws(i) * dist2(xs, i, cs, closest(xs, i, cs))
      i += 1
    }
    s
  }

  /** Index drawn with probability `mass(i) / total`. */
  private def draw(mass: Array[Double], total: Double,
                   rnd: SplittableRandom): Int = {
    val r = rnd.nextDouble() * total
    var acc = 0.0
    var last = 0
    var i = 0
    while (i < mass.length) {
      if (mass(i) > 0) {
        last = i
        acc += mass(i)
        if (acc >= r) return i
      }
      i += 1
    }
    last
  }

  /** Greedy k-means++ over weighted points; returns the centers. Stops
    * early once every point is a center (potential 0): fewer distinct
    * points than k give fewer centers, as in MLlib. */
  private def greedyInit(xs: Array[Double], ws: Array[Double], k: Int,
                         rnd: SplittableRandom): Array[Double] = {
    val n = ws.length
    val cs = new Array[Double](2 * k)
    def place(c: Int, i: Int): Unit = System.arraycopy(xs, 2 * i, cs, 2 * c, 2)
    place(0, draw(ws, ws.sum, rnd))
    val best = Array.tabulate(n)(i => dist2(xs, i, cs, 0))
    val mass = Array.tabulate(n)(i => ws(i) * best(i))
    var potential = mass.sum
    val trials = 2 + math.log(k).toInt
    val trial = new Array[Double](n)
    val kept = new Array[Double](n)
    var placed = 1
    while (placed < k && potential > 0) {
      var keptPotential = Double.PositiveInfinity
      var t = 0
      while (t < trials) {
        val cand = draw(mass, potential, rnd)
        var p = 0.0
        var i = 0
        while (i < n) {
          trial(i) = math.min(best(i), dist2(xs, i, xs, cand))
          p += ws(i) * trial(i)
          i += 1
        }
        if (p < keptPotential) {
          keptPotential = p
          place(placed, cand)
          System.arraycopy(trial, 0, kept, 0, n)
        }
        t += 1
      }
      System.arraycopy(kept, 0, best, 0, n)
      var i = 0
      while (i < n) { mass(i) = ws(i) * best(i); i += 1 }
      potential = keptPotential
      placed += 1
    }
    java.util.Arrays.copyOf(cs, 2 * placed)
  }

  /** Weighted Lloyd iterations on the centers `cs`, in place, under
    * MLlib's rule: at most [[MaxIter]] iterations, converged once every
    * center moved ≤ [[Tol]]; an empty cluster keeps its center. Returns
    * the iterations run. */
  private def lloyd(xs: Array[Double], ws: Array[Double], cs: Array[Double]): Int = {
    val k = cs.length / 2
    val sums = new Array[Double](2 * k)
    val mass = new Array[Double](k)
    var iter = 0
    var converged = false
    while (iter < MaxIter && !converged) {
      java.util.Arrays.fill(sums, 0.0)
      java.util.Arrays.fill(mass, 0.0)
      var i = 0
      while (i < ws.length) {
        val c = closest(xs, i, cs)
        mass(c) += ws(i)
        sums(2 * c) += ws(i) * xs(2 * i)
        sums(2 * c + 1) += ws(i) * xs(2 * i + 1)
        i += 1
      }
      converged = true
      var c = 0
      while (c < k) {
        if (mass(c) > 0) {
          val lat = sums(2 * c) / mass(c)
          val lon = sums(2 * c + 1) / mass(c)
          val (a, b) = (lat - cs(2 * c), lon - cs(2 * c + 1))
          if (a * a + b * b > Tol * Tol) converged = false
          cs(2 * c) = lat
          cs(2 * c + 1) = lon
        }
        c += 1
      }
      iter += 1
    }
    iter
  }
}
