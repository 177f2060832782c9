package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.stats.{Diagnostics, Sarimax}

/** The reference's composed Monte-Carlo forecast pipeline (notebook cells
  * 27/28/32 `monte_carlo_forecast`): fit the AIC-best SARIMAX per series
  * (U8), simulate future exogenous paths as a clipped random walk with
  * drift (U9), re-forecast the fitted model along EVERY path, and fan
  * quantiles over the forecasts (A8).
  *
  * Scale shape: the (key × candidate) fits run inside executors
  * ([[Diagnostics.sarimaxModels]]). AQE coalesces shuffles by bytes, so
  * that compute-heavy, byte-light stage sits behind a by-number
  * repartition, which AQE never coalesces. The (key × sim) grid is a
  * broadcast nested-loop of the tiny model table against
  * `spark.range(sims)`, so path simulation and forecasting distribute
  * across the cluster with no driver participation; the fan's quantiles
  * are one fused aggregate ([[MonteCarlo.fanKeyed]]). Because the
  * SARIMAX forecast mean is LINEAR in the exog path
  * (ẑ_j = armaBase_j + c + β·w_j), each simulation costs one O(h) pass —
  * the reference's per-path `res.get_forecast` re-evaluation (2000
  * statespace runs per series) collapses into arithmetic.
  *
  * Randomness is the engine's counter-based RNG
  * ([[MonteCarlo.counterRandnKeyed]] / [[MonteCarlo.gaussianJvm]]):
  * deterministic in (seed, key, sim, step), so results are bit-identical
  * on 1 executor or 1000 and the white-noise-candidate special case is
  * exactly reproducible in the DuckDB oracle (q40).
  */
object ForecastPipeline {

  /** Full pipeline → one fan row per (key, step):
    * p-quantiles + mean/std/min/max over `sims` forecast paths. */
  def sarimaxMonteCarloFan(df: DataFrame, keyCols: Seq[String], orderCol: String,
                           valueCol: String, exogCol: Option[String],
                           horizon: Int, sims: Int, seed: Long = 42L,
                           candidates: Seq[Sarimax.SarimaxSpec] = Sarimax.ReferenceCandidates,
                           fitWindow: Int = 60, clipMin: Option[Double] = Some(0.0),
                           qs: Seq[Double] = Seq(0.05, 0.10, 0.50, 0.90, 0.95)): DataFrame = {
    val paths = forecastPaths(df, keyCols, orderCol, valueCol, exogCol,
      horizon, sims, seed, candidates, fitWindow, clipMin)
    MonteCarlo.fanKeyed(paths, Seq("key"), qs)
  }

  /** The raw forecast paths, one row per (key, sim_id, step) — exposed so
    * callers can fan with different quantiles or inspect path spread. */
  def forecastPaths(df: DataFrame, keyCols: Seq[String], orderCol: String,
                    valueCol: String, exogCol: Option[String],
                    horizon: Int, sims: Int, seed: Long = 42L,
                    candidates: Seq[Sarimax.SarimaxSpec] = Sarimax.ReferenceCandidates,
                    fitWindow: Int = 60, clipMin: Option[Double] = Some(0.0)): DataFrame = {
    val spark = df.sparkSession
    val models = Diagnostics.sarimaxModels(df, keyCols, orderCol, valueCol,
      exogCol, horizon, candidates, fitWindow).toDF()

    // Per (key, sim): simulate the exog RW path with counter-based draws,
    // run the linear forecast kernel. One UDF call = one path; the draw
    // formula is bit-identical to the expression RNG (parity-asserted).
    val lo = clipMin
    val fcPath = udf((m: Row, simId: Long) => {
      val key = m.getAs[String]("key")
      val spec = Sarimax.SarimaxSpec(m.getAs[Int]("p"), m.getAs[Int]("d"), m.getAs[Int]("q"),
        m.getAs[Int]("sp"), m.getAs[Int]("sd"), m.getAs[Int]("sq"), m.getAs[Int]("s"))
      val kern = Sarimax.ForecastKernel(spec,
        m.getAs[Double]("intercept"), m.getAs[Double]("beta"),
        m.getAs[Seq[Double]]("armaBase").toArray,
        m.getAs[Seq[Double]]("yTail").toArray,
        m.getAs[Seq[Double]]("xTail").toArray)
      val lastX = m.getAs[Double]("lastX")
      val mu = m.getAs[Double]("mu")
      val sigma = m.getAs[Double]("sigma")
      val h = kern.armaBase.length
      // clipped-cumsum RW, reference simulate_exog_paths shape: the clip
      // applies to the cumulative value, not recursively
      val x = new Array[Double](h)
      var cum = 0.0
      var j = 0
      while (j < h) {
        cum += mu + sigma * MonteCarlo.gaussianJvm(seed, key, simId, j + 1)
        val v = lastX + cum
        x(j) = lo.fold(v)(math.max(v, _))
        j += 1
      }
      kern.forecast(x)
    })

    spark.range(sims).toDF("sim_id")
      .crossJoin(broadcast(models))
      .select(col("key"), col("sim_id"),
        posexplode(fcPath(struct(models.columns.map(col): _*), col("sim_id"))))
      .select(col("key"), col("sim_id"), (col("pos") + 1).as("step"), col("col").as("value"))
  }
}
