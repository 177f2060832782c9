package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Cols

/** Monte-Carlo random-walk simulation + quantile fans (SURVEY §2.11 U9,
  * §2.6 W9, §2.5 A8; reference notebook cells 27/28/32
  * `simulate_exog_paths` / `monte_carlo_forecast`).
  *
  * Fully Spark-native: the (sim × step) grid is `spark.range × sequence/
  * explode`, the Gaussian draws are *deterministic counter-based* randoms
  * (Box-Muller over two universal hashes of (seed, sim, step)) rather than
  * `randn()`, because `randn(seed)` is partition-dependent — repartitioning
  * the grid would silently change the draw. Counter-based randoms are the
  * standard reproducible-at-scale choice (same idea as Philox/Threefry):
  * bit-identical on 1 executor or 1000.
  */
object MonteCarlo {

  /** Deterministic standard-normal draw for integer columns (seed, sim, step).
    * u1 ∈ (0,1], u2 ∈ [0,1) from two independent affine hashes of the
    * counter; z = sqrt(-2 ln u1)·cos(2π u2). */
  def counterRandn(seed: Long, sim: Column, step: Column): Column =
    boxMuller(Cols.hash32(concat_ws("_", lit(seed), sim, step)))

  /** [[counterRandn]] with a series key mixed into the counter — the
    * per-key variant used by the composed SARIMAX Monte-Carlo fan. */
  def counterRandnKeyed(seed: Long, key: Column, sim: Column, step: Column): Column =
    boxMuller(Cols.hash32(concat_ws("_", lit(seed), key, sim, step)))

  private def boxMuller(counter: Column): Column = {
    val p = 4294967311L
    val u1 = (Cols.affineHash(counter, 683077, 104729, p) + lit(1.0)) / lit(p.toDouble + 1.0)
    val u2 = Cols.affineHash(counter, 999331, 15487469, p) / lit(p.toDouble)
    sqrt(lit(-2.0) * log(u1)) * cos(lit(2.0 * math.Pi) * u2)
  }

  /** JVM twin of [[counterRandnKeyed]] — bit-identical (parity-asserted in
    * ForecastPipelineSpec), for kernels that draw inside a UDF instead of
    * through the expression tree. */
  def gaussianJvm(seed: Long, key: String, sim: Long, step: Int): Double = {
    val p = 4294967311L
    val c = graft.text.TextHash.hash32(s"${seed}_${key}_${sim}_${step}")
    val u1 = ((c * 683077L + 104729L) % p + 1.0) / (p + 1.0)
    val u2 = ((c * 999331L + 15487469L) % p).toDouble / p.toDouble
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
  }

  /** RW-with-drift paths: value_t = start + Σ_{i≤t} (mu + sigma·z_i),
    * optionally clipped below. Output: (sim_id, step, value). */
  def simulatePaths(spark: SparkSession, sims: Int, horizon: Int,
                    start: Double, mu: Double, sigma: Double,
                    seed: Long = 42L, clipMin: Option[Double] = None): DataFrame = {
    val grid = spark.range(sims).toDF("sim_id")
      .select(col("sim_id"), explode(sequence(lit(1), lit(horizon))).as("step"))
    val z  = counterRandn(seed, col("sim_id"), col("step"))
    val dx = lit(mu) + lit(sigma) * z
    val w  = Window.partitionBy("sim_id").orderBy("step")
    val cum = lit(start) + sum(dx).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val v = clipMin.fold(cum)(lo => greatest(cum, lit(lo)))
    grid.select(col("sim_id"), col("step"), v.as("value"))
  }

  /** Fan column name of quantile `q`: 0.05 → `p05`, 0.5 → `p50`. */
  def quantileName(q: Double): String = f"p${(q * 100).round}%02d"

  /** JVM twin of Spark's exact `percentile` over `v(from until until)`,
    * sorted ascending: position (n−1)·q between ranks ⌊pos⌋ and ⌈pos⌉,
    * interpolated as (hi−pos)·v[lo] + (pos−lo)·v[hi], and v[lo] itself
    * when the two ranks coincide or hold equal values — the same
    * operations in the same order, so the result is bit-equal to the
    * aggregate's (parity-asserted in ForecastPipelineSpec). */
  def percentileSorted(v: Array[Double], from: Int, until: Int, q: Double): Double = {
    val pos = (until - from - 1).toLong * q
    val lo = pos.floor.toLong
    val hi = pos.ceil.toLong
    val vLo = v(from + lo.toInt)
    if (hi == lo) return vLo
    val vHi = v(from + hi.toInt)
    if (vHi == vLo) vLo else (hi - pos) * vLo + (pos - lo) * vHi
  }

  /** A8: per-step fan table — exact percentiles (NumPy-matching linear
    * interpolation) + mean/std/min/max across the simulation axis. */
  def fan(paths: DataFrame, qs: Seq[Double] = Seq(0.05, 0.10, 0.50, 0.90, 0.95)): DataFrame =
    fanKeyed(paths, Nil, qs)

  /** [[fan]] grouped by extra key columns (one fan table per series):
    * generic Spark operators over a paths table, one row per
    * (keys, sim, step). The exact aggregate buffers every value of a
    * (keys, step) group, shuffles the buffers and range-sorts the result.
    * The SARIMAX fan does not take this route: it computes the same
    * columns in one kernel pass per series
    * ([[ForecastPipeline.sarimaxMonteCarloFan]]); this stays the generic
    * form and its parity reference. */
  def fanKeyed(paths: DataFrame, keys: Seq[String],
               qs: Seq[Double] = Seq(0.05, 0.10, 0.50, 0.90, 0.95)): DataFrame =
    fanAgg(paths, keys, qs, percentile(col("value"), array(qs.map(lit): _*)))

  /** Shared fan body: one schema for the exact and approximate quantile
    * variants, so the two can never silently diverge. `quantiles` is ONE
    * array-valued aggregate over every q: a group's values are buffered
    * (or sketched) once, not once per quantile, through the partial
    * aggregation, the shuffle and the final aggregation alike. */
  private def fanAgg(paths: DataFrame, keys: Seq[String], qs: Seq[Double],
                     quantiles: Column): DataFrame = {
    val gcols = (keys :+ "step").map(col)
    paths.groupBy(gcols: _*).agg(
      quantiles.as("__q"),
      avg(col("value")).as("mean"),
      stddev_samp(col("value")).as("std"),
      min(col("value")).as("min"),
      max(col("value")).as("max"))
      .select(gcols ++ qs.zipWithIndex.map { case (q, i) =>
        col("__q")(i).as(quantileName(q)) } ++
        Seq("mean", "std", "min", "max").map(col): _*)
      .orderBy(gcols: _*)
  }

  /** At-scale variant of [[fanKeyed]]: `percentile_approx` (a mergeable
    * quantile sketch with map-side partial aggregation) replaces exact
    * `percentile`, which must hold every group's full value set in one
    * aggregation buffer. Exact stays the VERIFY default
    * (oracle-comparable), the sketch is the production path when a fan
    * spans billions of simulations. Rank error is bounded
    * by ~1/`accuracy`; MonteCarloSpec pins the observed gap vs the exact
    * fan. */
  def fanApproxKeyed(paths: DataFrame, keys: Seq[String] = Nil,
                     qs: Seq[Double] = Seq(0.05, 0.10, 0.50, 0.90, 0.95),
                     accuracy: Int = 10000): DataFrame =
    fanAgg(paths, keys, qs,
      percentile_approx(col("value"), array(qs.map(lit): _*), lit(accuracy)))

  /** A9: RW drift parameters from the trailing `window` rows of a series
    * (reference `fit_rw_drift_params`): mean and ddof=1 std of first
    * differences. Returns one row per key. */
  def fitDrift(df: DataFrame, keyCols: Seq[String], orderCol: String,
               valueCol: String, window: Int): DataFrame = {
    val tail = Features.tailRows(df, keyCols, Seq(orderCol), window)
    val w = Features.keyWindow(keyCols, orderCol)
    val dx = tail.withColumn("__dx", Features.diff(col(valueCol), 1, w))
    val gb = if (keyCols.isEmpty) dx.groupBy(lit(1).as("__g")) else dx.groupBy(keyCols.map(col): _*)
    val out = gb.agg(avg(col("__dx")).as("mu"), stddev_samp(col("__dx")).as("sigma"))
    if (keyCols.isEmpty) out.drop("__g") else out
  }

  /** Poisson(1) CDF thresholds scaled to the 2³¹−1 hash modulus — the
    * SINGLE source for the bootstrap weight lookup, interpolated into
    * both the Spark expression and the SQL oracle so the two cannot
    * drift. `w = #{k : h > t_k}`, capping at 7 (P(X ≥ 8) < 10⁻⁵). */
  lazy val PoissonThresholdsE31: Seq[Long] = {
    val e = math.exp(-1.0)
    val pmf = Iterator.iterate((e, 0)) { case (p, k) => (p / (k + 1), k + 1) }
      .map(_._1).take(8).toSeq
    pmf.scanLeft(0.0)(_ + _).tail.take(7)
      .map(c => math.floor(c * 2147483647.0).toLong)
  }

  /** Per-key Poisson-bootstrap confidence interval for the mean of an
    * integer column — distribution-free inference the closed-form tests
    * can't give (skewed money metrics, clipped counts): each of
    * `replicates` resamples draws every row with a Poisson(1)
    * multiplicity (the streaming-friendly bootstrap — no global n
    * needed), and the CI is the exact-rank percentile span of the
    * replicate means.
    *
    * Determinism: the multiplicity is a COUNTER-BASED draw (the q32
    * convention — `randn(seed)` is partition-dependent): an affine hash
    * of (id, replicate) mod 2³¹−1 compared against
    * [[PoissonThresholdsE31]], all integer comparisons. Replicate means
    * are exact integer `div`s (DECIMAL-widened), the CI bounds are exact
    * order statistics (`⌈B·α/2⌉`-th and `⌈B·(1−α/2)⌉`-th, ties broken by
    * replicate id) — NOTHING floats, so the oracle replays the whole
    * resampling bit-for-bit.
    *
    * Scale shape: the B-fold explode is the bootstrap's intrinsic cost;
    * the per-(key, replicate) sums map-side combine, so the shuffle
    * carries keys·B rows, not rows·B. Output: `(keys…, n, mean_e6,
    * n_reps, lo_e6, hi_e6)`. */
  def poissonBootstrapCi(df: DataFrame, keyCols: Seq[String], idCol: String,
                         valueCol: String, replicates: Int = 200,
                         alphaPermille: Int = 50): DataFrame = {
    require(keyCols.nonEmpty, "poissonBootstrapCi needs at least one key column")
    require(replicates >= 10 && replicates <= 10000,
      s"replicates must be in [10, 10000], got $replicates")
    require(alphaPermille >= 1 && alphaPermille <= 499,
      s"alphaPermille must be in [1, 499], got $alphaPermille")
    val k = keyCols.map(col)
    val base = df
      .filter(col(idCol).isNotNull && col(valueCol).isNotNull)
      .select(k :+ col(idCol).cast("long").as("__id") :+
        col(valueCol).cast("long").as("__x"): _*)
    val ts = PoissonThresholdsE31
    val wCase = ts.zipWithIndex
      .map { case (t, i) => s"when __h <= ${t}L then $i" }
      .mkString("case ", " ", " else 7 end")
    val reps = base
      // EXPLOSIVE-FAN-OUT REDISTRIBUTION (the FuzzyJoin candidate
      // lesson): the explode multiplies rows ×replicates, but the stage
      // inherits the SCAN's partitioning — a compact parquet input (one
      // small file = one partition) would run the whole n·B resample
      // near-serial. A row-count-bounded shuffle before the fan-out
      // pins the replicate arithmetic across the cluster.
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      // row-only hash half hoisted ABOVE the explode: it's constant
      // across a row's `replicates` copies, and the generator's output
      // projection would otherwise recompute it per (row, replicate)
      .withColumn("__h0", expr("pmod(__id, 1000003) * 1103515245 + 54321"))
      .withColumn("__b", explode(sequence(lit(0), lit(replicates - 1))))
      .withColumn("__h", expr("pmod(__h0 + __b * 2654435761, 2147483647)"))
      .withColumn("__w", expr(wCase))
    val repMeans = reps.groupBy(k :+ col("__b"): _*)
      .agg(sum(col("__w") * col("__x")).as("__swx"), sum(col("__w")).as("__sw"))
      .filter(col("__sw") > 0)
      .withColumn("__m_e6", expr(
        "cast(cast(__swx as decimal(38,0)) * 1000000 div __sw as bigint)"))
    val wRank = Window.partitionBy(k: _*).orderBy(col("__m_e6"), col("__b"))
    val wAll = Window.partitionBy(k: _*)
    val ranked = repMeans
      .withColumn("__rn", row_number().over(wRank))
      .withColumn("__nr", count(lit(1)).over(wAll))
      .withColumn("__lo_idx", expr(s"(__nr * $alphaPermille + 1999) div 2000"))
      .withColumn("__hi_idx", expr(s"(__nr * ${2000 - alphaPermille} + 1999) div 2000"))
    val bounds = ranked.groupBy(k: _*)
      .agg(max(col("__nr")).as("n_reps"),
        max(when(col("__rn") === col("__lo_idx"), col("__m_e6"))).as("lo_e6"),
        max(when(col("__rn") === col("__hi_idx"), col("__m_e6"))).as("hi_e6"))
    val full = base.groupBy(k: _*)
      .agg(count(lit(1)).as("n"), sum(col("__x")).as("__s"))
      .withColumn("mean_e6", expr(
        "cast(cast(__s as decimal(38,0)) * 1000000 div n as bigint)"))
      .drop("__s")
    full.join(bounds, keyCols)
      .select(k :+ col("n") :+ col("mean_e6") :+ col("n_reps") :+
        col("lo_e6") :+ col("hi_e6"): _*)
  }
}
