package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CompactOrder
import org.apache.spark.sql.types.{DoubleType, IntegerType, StringType, StructField, StructType}

import graft.stats.{Diagnostics, Sarimax}
import graft.stats.Diagnostics.SarimaxModelRow

/** The reference's composed Monte-Carlo forecast pipeline (notebook cells
  * 27/28/32 `monte_carlo_forecast`): fit the AIC-best SARIMAX per series
  * (U8), simulate future exogenous paths as a clipped random walk with
  * drift (U9), re-forecast the fitted model along EVERY path, and fan
  * quantiles over the forecasts (A8).
  *
  * Scale shape: the (key × candidate) fits run inside executors
  * ([[Diagnostics.sarimaxModels]]). AQE coalesces shuffles by bytes, so
  * that compute-heavy, byte-light stage sits behind a by-number
  * repartition, which AQE never coalesces. The fan is one kernel pass
  * per series, behind the same by-number repartition of the model table:
  * a task simulates every path of its keys, forecasts each one and emits
  * the finished fan rows, so the (key × sim × step) grid never becomes
  * rows, and no generic exact-percentile aggregate buffers it. Only the
  * fan (keys × h rows) crosses a shuffle, into one partition whose local
  * sort is the output order — no range exchange, no sampling job. The
  * trade: all `sims` paths of a key run in one task, holding sims × h
  * doubles (1,000 × 36 = 288 KB per series); keys spread across tasks.
  * The exact aggregate it replaces already held every sim of a
  * (key, step) group in one buffer. Because the SARIMAX forecast mean is
  * LINEAR in the exog path (ẑ_j = armaBase_j + c + β·w_j), each
  * simulation costs one O(h) pass — the reference's per-path
  * `res.get_forecast` re-evaluation (2000 statespace runs per series)
  * collapses into arithmetic.
  *
  * Randomness is the engine's counter-based RNG
  * ([[MonteCarlo.counterRandnKeyed]] / [[MonteCarlo.gaussianJvm]]):
  * deterministic in (seed, key, sim, step), so results are bit-identical
  * on 1 executor or 1000 and the white-noise-candidate special case is
  * exactly reproducible in the DuckDB oracle (q40).
  */
object ForecastPipeline {

  /** Full pipeline → one fan row per (key, step), ordered by (key, step):
    * p-quantiles (Spark `percentile`'s rule, [[MonteCarlo.percentileSorted]])
    * + mean/std/min/max over `sims` forecast paths — the same columns as
    * [[MonteCarlo.fanKeyed]] over [[forecastPaths]]. */
  def sarimaxMonteCarloFan(df: DataFrame, keyCols: Seq[String], orderCol: String,
                           valueCol: String, exogCol: Option[String],
                           horizon: Int, sims: Int, seed: Long = 42L,
                           candidates: Seq[Sarimax.SarimaxSpec] = Sarimax.ReferenceCandidates,
                           fitWindow: Int = 60, clipMin: Option[Double] = Some(0.0),
                           qs: Seq[Double] = Seq(0.05, 0.10, 0.50, 0.90, 0.95)): DataFrame = {
    val models = Diagnostics.sarimaxModels(df, keyCols, orderCol, valueCol,
      exogCol, horizon, candidates, fitWindow)
    val schema = StructType(
      StructField("key", StringType) +: StructField("step", IntegerType, nullable = false) +:
        (qs.map(MonteCarlo.quantileName) ++ Seq("mean", "std", "min", "max"))
          .map(StructField(_, DoubleType)))
    val fan = models.repartition(df.sparkSession.sparkContext.defaultParallelism)
      .flatMap(m => fanOf(m, sims, seed, clipMin, qs))(Encoders.row(schema))
    CompactOrder.onePartition(fan.orderBy("key", "step"))
  }

  /** One series' fan: every path into a step-major buffer (the sims of
    * step j at `j·sims until (j+1)·sims`), then per step mean and std
    * folded in sim order as `avg` / `stddev_samp` fold them (std null for
    * one sim), and quantiles, min and max from the sorted step. */
  private def fanOf(m: SarimaxModelRow, sims: Int, seed: Long, clipMin: Option[Double],
                    qs: Seq[Double]): Iterator[Row] = {
    if (sims <= 0) return Iterator.empty
    val kern = Diagnostics.kernelOf(m)
    val h = kern.armaBase.length
    val paths = new Array[Double](h * sims)
    var sim = 0
    while (sim < sims) {
      val f = simulatePath(m, kern, seed, sim, clipMin)
      var j = 0
      while (j < h) { paths(j * sims + sim) = f(j); j += 1 }
      sim += 1
    }
    Iterator.range(0, h).map { j =>
      val from = j * sims
      val until = from + sims
      var sum = 0.0
      var n = 0.0
      var avg = 0.0
      var m2 = 0.0
      var i = from
      while (i < until) {
        val v = paths(i)
        sum += v
        n += 1.0
        val delta = v - avg
        val deltaN = delta / n
        avg += deltaN
        m2 += delta * (delta - deltaN)
        i += 1
      }
      java.util.Arrays.sort(paths, from, until)
      val row = new Array[Any](qs.length + 6)
      row(0) = m.key
      row(1) = j + 1
      var k = 0
      while (k < qs.length) { row(k + 2) = MonteCarlo.percentileSorted(paths, from, until, qs(k)); k += 1 }
      row(k + 2) = sum / n
      row(k + 3) = if (sims > 1) math.sqrt(m2 / (n - 1.0)) else null
      row(k + 4) = paths(from)
      row(k + 5) = paths(until - 1)
      Row.fromSeq(row.toSeq)
    }
  }

  /** Path `simId` of a fitted model: the exog random walk with drift from
    * counter-based draws, clipped below on the cumulative value (reference
    * `simulate_exog_paths` shape — the clip does not feed back), run
    * through the model's linear forecast kernel `kern`
    * ([[Diagnostics.kernelOf]] of `m`). The one source of the path math
    * for [[forecastPaths]] and the fused fan. */
  def simulatePath(m: SarimaxModelRow, kern: Sarimax.ForecastKernel, seed: Long,
                   simId: Long, clipMin: Option[Double]): Array[Double] = {
    val h = kern.armaBase.length
    val x = new Array[Double](h)
    var cum = 0.0
    var j = 0
    while (j < h) {
      cum += m.mu + m.sigma * MonteCarlo.gaussianJvm(seed, m.key, simId, j + 1)
      val v = m.lastX + cum
      x(j) = clipMin.fold(v)(math.max(v, _))
      j += 1
    }
    kern.forecast(x)
  }

  /** The raw forecast paths, one row per (key, sim_id, step) — exposed so
    * callers can fan with different quantiles or inspect path spread. The
    * (key × sim) grid is a broadcast nested-loop of the model table against
    * `spark.range(sims)`, one [[simulatePath]] call per grid row. */
  def forecastPaths(df: DataFrame, keyCols: Seq[String], orderCol: String,
                    valueCol: String, exogCol: Option[String],
                    horizon: Int, sims: Int, seed: Long = 42L,
                    candidates: Seq[Sarimax.SarimaxSpec] = Sarimax.ReferenceCandidates,
                    fitWindow: Int = 60, clipMin: Option[Double] = Some(0.0)): DataFrame = {
    val spark = df.sparkSession
    val models = Diagnostics.sarimaxModels(df, keyCols, orderCol, valueCol,
      exogCol, horizon, candidates, fitWindow).toDF()
    val fcPath = udf((m: SarimaxModelRow, simId: Long) =>
      simulatePath(m, Diagnostics.kernelOf(m), seed, simId, clipMin))
    spark.range(sims).toDF("sim_id")
      .crossJoin(broadcast(models))
      .select(col("key"), col("sim_id"),
        posexplode(fcPath(struct(models.columns.map(col): _*), col("sim_id"))))
      .select(col("key"), col("sim_id"), (col("pos") + 1).as("step"), col("col").as("value"))
  }
}
