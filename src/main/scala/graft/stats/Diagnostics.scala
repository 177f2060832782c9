package graft.stats

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Spark bindings for the per-series diagnostics/model layer (SURVEY §3:
  * "the one place the engine is deliberately hybrid" — except it is not
  * hybrid here: instead of collecting series to the driver like the
  * reference, each key's series is assembled and analyzed INSIDE its
  * executor by [[perSeries]], so a 1000-executor cluster runs a million
  * independent series fits with no driver involvement.
  */
object Diagnostics {

  /** Project to (key, sortable-order, value, exog) rows. Numeric/date/
    * timestamp order columns sort by their numeric value — casting
    * everything to string would order "10" before "2" and silently permute
    * the series before the statistics run. Other types sort by their
    * string form. Rows with a null order value are DROPPED (the
    * reference's `out[~out.index.isna()]`) — a null would otherwise NPE
    * the string sort fallback. Exog nulls fill with 0 (reference
    * `fillna(0)`); no exog column → constant 0. */
  private def slim(df: DataFrame, keyCols: Seq[String], orderCol: String,
                   valueCol: String, exogCol: Option[String] = None) = {
    val spark = df.sparkSession
    import spark.implicits._
    val keyExpr = if (keyCols.isEmpty) lit("all") else concat_ws("|", keyCols.map(col): _*)
    val ordNum: Column = df.schema(orderCol).dataType match {
      case _: NumericType => col(orderCol).cast("double")
      case DateType | TimestampType => col(orderCol).cast("timestamp").cast("double")
      case _ => lit(null).cast("double")
    }
    val xExpr = exogCol.map(c => coalesce(col(c).cast("double"), lit(0.0))).getOrElse(lit(0.0))
    df.filter(col(valueCol).isNotNull && col(orderCol).isNotNull)
      .select(keyExpr.as("key"), col(orderCol).cast("string").as("ord"),
        ordNum.as("ordn"), col(valueCol).cast("double").as("v"), xExpr.as("x"))
      .as[(String, String, Option[Double], Double, Double)]
  }

  /** Sort a group's rows chronologically; (value series, exog series). */
  private def seriesX(it: Iterator[(String, String, Option[Double], Double, Double)])
      : (Array[Double], Array[Double]) = {
    val rows = it.toArray
    val sorted =
      if (rows.forall(_._3.isDefined)) rows.sortBy(_._3.get) else rows.sortBy(_._2)
    (sorted.map(_._4), sorted.map(_._5))
  }

  /** Run `kernel` on every key's series, inside the executor that holds
    * the key: [[slim]] the rows, shuffle once on the key, sort each group
    * chronologically ([[seriesX]]) and hand the kernel (key, value series,
    * exog series); its rows are encoded with `schema`. No series reaches
    * the driver, and each is assumed small enough for one task (true by
    * construction for monthly data — centuries fit in KBs), so a million
    * series scale like a million-row shuffle. Without `exogCol` the exog
    * series is all zeros. */
  private def perSeries(df: DataFrame, keyCols: Seq[String], orderCol: String,
                        valueCol: String, exogCol: Option[String],
                        schema: StructType)(
      kernel: (String, Array[Double], Array[Double]) => Iterator[Row]): DataFrame =
    slim(df, keyCols, orderCol, valueCol, exogCol)
      .groupByKey(_._1)(Encoders.STRING)
      .flatMapGroups { (key, it) =>
        val (y, x) = seriesX(it)
        kernel(key, y, x)
      }(Encoders.row(schema))
      .toDF()

  private val statsSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("n_obs", IntegerType),
    StructField("adf_stat", DoubleType),
    StructField("adf_lag", IntegerType),
    StructField("adf_stationary_5pct", BooleanType),
    StructField("kpss_stat", DoubleType),
    StructField("kpss_stationary_5pct", BooleanType),
    StructField("yj_lambda", DoubleType),
    StructField("seasonal_period", IntegerType)))

  /** Stationarity + transform diagnostics per key: ADF, KPSS, fitted
    * Yeo-Johnson λ, dominant seasonal period. Rows with null values are
    * dropped (pandas dropna parity); series too short for a statistic get
    * null in that column. */
  def stationarity(df: DataFrame, keyCols: Seq[String], orderCol: String,
                   valueCol: String): DataFrame = {
    perSeries(df, keyCols, orderCol, valueCol, None, statsSchema) { (key, series, _) =>
      val n = series.length
      val adfR = if (n >= 12) Some(TimeSeriesStats.adf(series)) else None
      val kpssR = if (n >= 8) Some(TimeSeriesStats.kpss(series)) else None
      val yj = if (n >= 3) Some(TimeSeriesStats.yeoJohnsonLambda(series)) else None
      val per = if (n >= 4) Some(TimeSeriesStats.seasonalPeriod(series)) else None
      Iterator.single(Row(key, n,
        adfR.map(_.stat).orNull, adfR.map(_.lag).orNull,
        adfR.map(_.stationary5).orNull,
        kpssR.map(_.stat).orNull, kpssR.map(_.stationary5).orNull,
        yj.orNull, per.orNull))
    }
  }

  private val acfSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("lag", IntegerType),
    StructField("acf", DoubleType),
    StructField("pacf", DoubleType)))

  /** ACF + PACF per key at lags 1..nlags (U7 diagnostics; reference uses
    * nlags 48-60). One row per (key, lag). */
  def correlogram(df: DataFrame, keyCols: Seq[String], orderCol: String,
                  valueCol: String, nlags: Int): DataFrame = {
    perSeries(df, keyCols, orderCol, valueCol, None, acfSchema) { (key, series, _) =>
      val k = math.min(nlags, series.length - 2)
      if (k < 1) Iterator.empty
      else {
        val a = TimeSeriesStats.acf(series, k)
        val p = TimeSeriesStats.pacf(series, k)
        (1 to k).iterator.map(l => Row(key, l, a(l - 1), p(l - 1)))
      }
    }
  }

  private val arSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("order", IntegerType),
    StructField("intercept", DoubleType),
    StructField("sigma2", DoubleType),
    StructField("aic", DoubleType),
    StructField("step", IntegerType),
    StructField("forecast", DoubleType)))

  /** AR-by-AIC fit + h-step mean forecast per key — the LINEAR stand-in
    * kept for the simple no-seasonal path; the full U8 (seasonal +
    * exogenous SARIMAX grid, reference `fit_best_sarimax`) is
    * [[sarimaxForecast]] / [[Sarimax.fitBest]].
    * Output: one row per (key, step). */
  def arForecast(df: DataFrame, keyCols: Seq[String], orderCol: String,
                 valueCol: String, horizon: Int,
                 orders: Seq[Int] = Seq(1, 2, 3)): DataFrame = {
    perSeries(df, keyCols, orderCol, valueCol, None, arSchema) { (key, series, _) =>
      // a key no candidate order can fit (too short, or degenerate-
      // singular designs) yields no forecast rows instead of failing
      // the whole job (mirrors stationarity's nulls)
      TimeSeriesStats.fitArByAicOption(series, orders) match {
        case None => Iterator.empty
        case Some(fit) =>
          TimeSeriesStats.forecastAr(fit, series, horizon).zipWithIndex.iterator
            .map { case (f, i) =>
              Row(key, fit.order, fit.intercept, fit.sigma2, fit.aic, i + 1, f)
            }
      }
    }
  }

  private val sarxSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("n_obs", IntegerType),
    StructField("intercept", DoubleType),
    StructField("ar_coef", DoubleType),
    StructField("exog_coef", DoubleType),
    StructField("step", IntegerType),
    StructField("forecast", DoubleType)))

  /** SARX(1) — AR(1) WITH one exogenous regressor, the hash-checked
    * slice narrowing the gap between [[arForecast]]'s pure-AR square
    * (q117/q35) and [[sarimaxForecast]]'s full Kalman-MLE surface
    * (q39/q69, no oracle by nature): `y_t = c + φ·y_{t−1} + β·x_t + ε`,
    * conditional least squares on t = 2..T, h-step forecast
    * `f(h) = c + φ·f(h−1) + β·x_T` with the HOLD-LAST exog convention
    * (the deterministic center of the reference's random-walk exog
    * simulation — `monte_carlo_forecast`'s paths average to it).
    *
    * Determinism (the q117 property): the CLS fit is the CLOSED-FORM
    * 3×3 normal-equation solve, spelled as ONE det3 cofactor expansion
    * in a fixed written order the SQL oracle mirrors term-for-term;
    * the recursion is a fixed IEEE sequence a recursive CTE replays.
    * 4-decimal output rounding sits orders of magnitude above
    * kernel-vs-SQL sum-order last-bit noise (pre-scale y and x to
    * O(1–100) magnitudes upstream, the q117 convention).
    *
    * Scale shape: [[perSeries]], O(n) per series. Singular designs
    * (constant regressors, n < 5) yield no rows. Output: one row per
    * (key, step 1..horizon) with `n_obs` and the three fitted
    * coefficients on every row. */
  def sarxForecast(df: DataFrame, keyCols: Seq[String], orderCol: String,
                   valueCol: String, exogCol: String,
                   horizon: Int): DataFrame = {
    require(horizon >= 1, s"horizon must be >= 1, got $horizon")
    perSeries(df, keyCols, orderCol, valueCol, Some(exogCol), sarxSchema) { (key, y, x) =>
      val n = y.length
      if (n < 5) Iterator.empty
      else {
        var cnt = 0.0; var sl = 0.0; var sx = 0.0; var sy = 0.0
        var sll = 0.0; var slx = 0.0; var sxx = 0.0; var sly = 0.0
        var sxy = 0.0
        var t = 1
        while (t < n) {
          val l = y(t - 1); val xv = x(t); val yv = y(t)
          cnt += 1; sl += l; sx += xv; sy += yv
          sll += l * l; slx += l * xv; sxx += xv * xv
          sly += l * yv; sxy += xv * yv
          t += 1
        }
        // det3 cofactor expansion — ONE written order, mirrored
        // term-for-term in the q336 oracle
        def det3(a11: Double, a12: Double, a13: Double,
                 a21: Double, a22: Double, a23: Double,
                 a31: Double, a32: Double, a33: Double): Double =
          a11 * (a22 * a33 - a23 * a32) - a12 * (a21 * a33 - a23 * a31) +
            a13 * (a21 * a32 - a22 * a31)
        val det = det3(cnt, sl, sx, sl, sll, slx, sx, slx, sxx)
        val detC = det3(sy, sl, sx, sly, sll, slx, sxy, slx, sxx)
        val detA = det3(cnt, sy, sx, sl, sly, slx, sx, sxy, sxx)
        val detB = det3(cnt, sl, sy, sl, sll, sly, sx, slx, sxy)
        // scale-RELATIVE singularity fence: an exactly-collinear design
        // (constant exog) lands at det ≈ diagonal-product·1e-16 float
        // dust, not literal zero — treat anything under 1e-10 of the
        // diagonal product as singular (well-conditioned designs sit
        // many orders above)
        val diag = math.abs(cnt * sll * sxx)
        if (!java.lang.Double.isFinite(det) ||
            math.abs(det) <= 1e-10 * (diag + 1.0)) Iterator.empty
        else {
          val c0 = detC / det; val a1 = detA / det; val b1 = detB / det
          if (!java.lang.Double.isFinite(c0 + a1 + b1)) Iterator.empty
          else {
            val xl = x(n - 1)
            var f = y(n - 1)
            (1 to horizon).iterator.map { h =>
              f = c0 + a1 * f + b1 * xl
              Row(key, n, c0, a1, b1, h, f)
            }
          }
        }
      }
    }
  }

  private val holtSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("n_obs", IntegerType),
    StructField("level", DoubleType),
    StructField("trend", DoubleType),
    StructField("step", IntegerType),
    StructField("forecast", DoubleType)))

  /** Holt two-parameter (linear-trend) exponential smoothing per key —
    * the classical recursion `lₜ = α·yₜ + (1−α)·(lₜ₋₁ + bₜ₋₁)`,
    * `bₜ = β·(lₜ − lₜ₋₁) + (1−β)·bₜ₋₁`, initialized `l₁ = y₁`,
    * `b₁ = y₂ − y₁`, with the h-step forecast `l_n + h·b_n` — the
    * smoothing tier between [[arForecast]]'s fitted AR and a plain
    * moving average (`statsmodels Holt`, fixed smoothing constants).
    *
    * Determinism (the q117 property): the recursion is a FIXED sequence
    * of IEEE ops per series — no optimizer, no reassociation — so with
    * exact-binary-fraction constants (α = 0.5, β = 0.25) a SQL
    * recursive CTE replaying the identical expression order reproduces
    * every double bit-for-bit, and the forecasts hash-match an oracle
    * even though the state is floating point end to end.
    *
    * Scale shape: [[perSeries]], O(n) per series. Output: one row per
    * (key, step 1..horizon) plus the fitted `level`/`trend` on every row; series shorter than 2 observations
    * yield no rows (no trend to initialize). */
  def holtForecast(df: DataFrame, keyCols: Seq[String], orderCol: String,
                   valueCol: String, alpha: Double, beta: Double,
                   horizon: Int): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    require(beta >= 0 && beta <= 1, s"beta must be in [0, 1], got $beta")
    require(horizon >= 1, s"horizon must be >= 1, got $horizon")
    perSeries(df, keyCols, orderCol, valueCol, None, holtSchema) { (key, y, _) =>
      val n = y.length
      if (n < 2) Iterator.empty
      else {
        var l = y(0)
        var b = y(1) - y(0)
        var t = 1
        while (t < n) {
          val lp = l
          l = alpha * y(t) + (1 - alpha) * (lp + b)
          b = beta * (l - lp) + (1 - beta) * b
          t += 1
        }
        (1 to horizon).iterator.map(h => Row(key, n, l, b, h, l + h * b))
      }
    }
  }

  private val thetaSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("n_obs", IntegerType),
    StructField("slope", DoubleType),
    StructField("level", DoubleType),
    StructField("step", IntegerType),
    StructField("forecast", DoubleType)))

  /** Theta-method forecast per key (Assimakopoulos & Nikolopoulos 2000
    * — the M3-competition winner): decompose into the θ = 0 line (the
    * OLS linear trend a + b·t) and the θ = 2 line `z_t = 2y_t −
    * (a + b·t)` (double the curvature), smooth the θ2 line with SES at
    * a FIXED α, and combine the two extrapolations with equal weights:
    * `f(h) = ½·(a + b·(n + h)) + ½·L` where L is the SES level — the
    * forecast tier between [[holtForecast]]'s trend smoothing and
    * [[sarimaxForecast]]'s fitted models.
    *
    * Determinism (the q141/q117 property): `valueCol` must be
    * INTEGER-quantized, so the OLS sums are exact longs (Σt and Σt²
    * are closed forms) and a/b are ONE fixed double tree each; z_t is
    * a fixed per-row expression (no accumulation), and the SES
    * recursion with an exact-binary-fraction α is a fixed IEEE
    * sequence a recursive SQL CTE replays bit-for-bit. Forecasts are
    * rounded by the caller as the usual hash-stability belt.
    *
    * Scale shape: [[perSeries]]. Series shorter than 3 (or with a
    * degenerate time axis) yield no rows. Output: one row per
    * (key, step 1..horizon) with the fitted `slope` and SES `level`. */
  def thetaForecast(df: DataFrame, keyCols: Seq[String], orderCol: String,
                    valueCol: String, alpha: Double,
                    horizon: Int): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    require(horizon >= 1, s"horizon must be >= 1, got $horizon")
    perSeries(df, keyCols, orderCol, valueCol, None, thetaSchema) { (key, y, _) =>
      val n = y.length
      if (n < 3) Iterator.empty
      else {
        // exact integer sufficient sums over t = 1..n (q142's recipe);
        // the integer-quantized contract makes y(t).toLong exact
        val nL = n.toLong
        val st = nL * (nL + 1) / 2
        val stt = nL * (nL + 1) * (2 * nL + 1) / 6
        var sy = 0L; var sty = 0L
        var i = 0
        while (i < n) {
          val v = y(i).toLong
          sy += v; sty += (i + 1) * v
          i += 1
        }
        val den = nL * stt - st * st
        if (den == 0L) Iterator.empty
        else {
          val b = (nL * sty - st * sy).toDouble / den.toDouble
          val a = (sy.toDouble - b * st.toDouble) / nL
          var l = 2.0 * y(0) - (a + b * 1)
          var t = 1
          while (t < n) {
            l = alpha * (2.0 * y(t) - (a + b * (t + 1))) + (1 - alpha) * l
            t += 1
          }
          (1 to horizon).iterator.map(h =>
            Row(key, n, b, l, h, 0.5 * (a + b * (n + h)) + 0.5 * l))
        }
      }
    }
  }

  private val hwSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("n_obs", IntegerType),
    StructField("level", DoubleType),
    StructField("trend", DoubleType),
    StructField("step", IntegerType),
    StructField("forecast", DoubleType)))

  /** Holt–Winters ADDITIVE triple exponential smoothing per key — the
    * seasonal tier above [[holtForecast]] (level + trend + a `period`-
    * slot seasonal state): `lₜ = α(yₜ − sₜ₋ₘ) + (1−α)(lₜ₋₁ + bₜ₋₁)`,
    * `bₜ = β(lₜ − lₜ₋₁) + (1−β)bₜ₋₁`, `sₜ = γ(yₜ − lₜ) + (1−γ)sₜ₋ₘ`,
    * forecast `l_n + h·b_n + s_{n+h−m⌈h/m⌉}`. Fixed smoothing constants
    * (pass exact binary fractions), classical two-cycle init:
    * `l₀ = mean(y₁..yₘ)`, `b₀ = (mean(yₘ₊₁..y₂ₘ) − mean(y₁..yₘ))/m`,
    * `sᵢ = yᵢ − l₀`; the recursion starts at t = m+1. Series shorter
    * than 2m yield no rows.
    *
    * Determinism (the q117/holt property): `valueCol` must be INTEGER-
    * quantized (cents) — the init means divide exact integer sums, so
    * they are order-free — and with exact-binary-fraction constants the
    * recursion is a fixed IEEE sequence a recursive SQL CTE (carrying
    * the m seasonals as an ordered LIST column) replays bit-for-bit;
    * forecasts are e4-quantized only as a hash-stability belt.
    *
    * Scale shape: [[perSeries]], O(n) per series. Output: one row per
    * (key, step 1..horizon) with the final `level`/`trend`. */
  def holtWintersForecast(df: DataFrame, keyCols: Seq[String], orderCol: String,
                          valueCol: String, period: Int, alpha: Double,
                          beta: Double, gamma: Double, horizon: Int,
                          roundTo: Int = 4): DataFrame = {
    require(period >= 2, s"period must be >= 2, got $period")
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    require(beta >= 0 && beta <= 1, s"beta must be in [0, 1], got $beta")
    require(gamma >= 0 && gamma <= 1, s"gamma must be in [0, 1], got $gamma")
    require(horizon >= 1, s"horizon must be >= 1, got $horizon")
    val q = math.pow(10, roundTo)
    perSeries(df, keyCols, orderCol, valueCol, None, hwSchema) { (key, y, _) =>
      val n = y.length
      val m = period
      if (n < 2 * m) Iterator.empty
      else {
        var s1 = 0.0; var s2 = 0.0
        var i = 0
        while (i < m) { s1 += y(i); i += 1 }
        while (i < 2 * m) { s2 += y(i); i += 1 }
        var l = s1 / m
        var b = (s2 / m - s1 / m) / m
        val s = Array.tabulate(m)(j => y(j) - s1 / m)
        var t = m
        while (t < n) {
          val sOld = s(t % m)
          val lNew = alpha * (y(t) - sOld) + (1 - alpha) * (l + b)
          b = beta * (lNew - l) + (1 - beta) * b
          s(t % m) = gamma * (y(t) - lNew) + (1 - gamma) * sOld
          l = lNew
          t += 1
        }
        (1 to horizon).iterator.map { h =>
          val f = l + h * b + s((n + h - 1) % m)
          Row(key, n, l, b, h, math.floor(f * q + 0.5) / q)
        }
      }
    }
  }

  /** Fixed-lag-1 Augmented Dickey-Fuller unit-root t-statistic per key —
    * the closed-form-checkable slice of [[TimeSeriesStats.adf]] (which
    * adds AIC lag selection on top of exactly this regression): regress
    * `Δyₜ` on `[1, yₜ₋₁, Δyₜ₋₁]` and report the t-stat of the `yₜ₋₁`
    * coefficient against the MacKinnon constant-only 5% critical value.
    *
    * Fully distributed, no per-series kernel: two stacked `lag`s on ONE
    * window (a single sort per key), then a 10-term sufficient-sums
    * aggregate and a fixed Cramer/cofactor double expression — the
    * [[graft.operators.Regression.groupedOls2]] discipline extended with
    * the standard error: `Var(b₁) = s²·(A⁻¹)₁₁ = s²·(n·Szz − Sz²)/det`.
    *
    * Exactness: `valueCol` must be integer-quantized by the caller
    * (cents, not dollars). Sums accumulate as DECIMAL(38,0) — `Σy²` of a
    * cents series overflows BIGINT at ~3·10⁹-cent values, the q183
    * lesson — so every sufficient sum is exact in any accumulation order
    * and the final double tree is bit-replayable by a SQL oracle.
    *
    * Scale shape: one shuffle on the keys shared by the window and the
    * aggregate; state per key is the 10 sums, O(1). */
  def adfFixedLag(df: DataFrame, keyCols: Seq[String], orderCol: String,
                  valueCol: String, roundTo: Int = 4,
                  crit5: Double = -2.86): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = (if (keyCols.isEmpty) Window.partitionBy(lit(1))
             else Window.partitionBy(keyCols.map(col): _*))
      .orderBy(col("__ord"))
    val y = col(valueCol).cast("long")
    val lagged = df
      .filter(col(valueCol).isNotNull && col(orderCol).isNotNull)
      .select((keyCols.map(col) :+ col(orderCol).as("__ord") :+ y.as("__y")): _*)
      .withColumn("__ylag", lag(col("__y"), 1).over(w))
      .withColumn("__dy", col("__y") - col("__ylag"))
      .withColumn("__dylag", lag(col("__dy"), 1).over(w))
      .filter(col("__dylag").isNotNull)
    def dec(c: Column) = c.cast("decimal(19,0)")
    val (xr, zr, yr) = (dec(col("__ylag")), dec(col("__dylag")), dec(col("__dy")))
    val sums = lagged
      .groupBy((if (keyCols.isEmpty) Seq(lit("all").as("key")) else keyCols.map(col)): _*)
      .agg(count(lit(1)).as("n"),
        sum(xr).as("sx"), sum(zr).as("sz"), sum(yr).as("sy"),
        sum(xr * xr).as("sxx"), sum(zr * zr).as("szz"), sum(xr * zr).as("sxz"),
        sum(xr * yr).as("sxy"), sum(zr * yr).as("szy"), sum(yr * yr).as("syy"))
    def d(c: Column) = c.cast("double")
    val (nn, sx, sz, sy) = (d(col("n")), d(col("sx")), d(col("sz")), d(col("sy")))
    val (sxx, szz, sxz) = (d(col("sxx")), d(col("szz")), d(col("sxz")))
    val (sxy, szy, syy) = (d(col("sxy")), d(col("szy")), d(col("syy")))
    def det3(a11: Column, a12: Column, a13: Column, a21: Column, a22: Column,
             a23: Column, a31: Column, a32: Column, a33: Column) =
      a11 * (a22 * a33 - a23 * a32) - a12 * (a21 * a33 - a23 * a31) +
        a13 * (a21 * a32 - a22 * a31)
    // A = [[n,Sx,Sz],[Sx,Sxx,Sxz],[Sz,Sxz,Szz]]; rhs = [Sy,Sxy,Szy]
    val det = det3(nn, sx, sz, sx, sxx, sxz, sz, sxz, szz)
    val detB0 = det3(sy, sx, sz, sxy, sxx, sxz, szy, sxz, szz)
    val detB1 = det3(nn, sy, sz, sx, sxy, sxz, sz, szy, szz)
    val detB2 = det3(nn, sx, sy, sx, sxx, sxy, sz, sxz, szy)
    val rss = syy - (detB0 * sy + detB1 * sxy + detB2 * szy) / det
    val s2 = rss / (nn - lit(3.0))
    val varB1 = s2 * (nn * szz - sz * sz) / det
    val q = math.pow(10, roundTo)
    def rnd(c: Column) = floor(c * q + 0.5) / q
    val tstat = rnd(when(det =!= 0.0 && col("n") > 3, (detB1 / det) / sqrt(varB1)))
    val keyOut: Seq[Column] = if (keyCols.isEmpty) Seq(col("key")) else keyCols.map(col)
    sums.select(keyOut :+ col("n").as("n_obs") :+
      rnd(when(det =!= 0.0, detB1 / det)).as("coef") :+
      tstat.as("adf_t") :+ lit(crit5).as("crit5") :+
      // decided on the ROUNDED stat so both engines flip identically
      (tstat < lit(crit5)).as("stationary5"): _*)
  }

  /** AIC auto-lag ADF over the lag grid {0, 1} per key — the lag-SELECTION
    * slice of [[TimeSeriesStats.adf]] made hash-checkable (the q212 /
    * q35-AIC-grid precedent composed): both candidate regressions are fit
    * on the COMMON estimation window (rows where `Δyₜ₋₁` exists — AIC
    * across different sample sizes is not comparable; statsmodels'
    * autolag trims to maxlag for exactly this reason, see
    * `TimeSeriesStats.adf`'s `fit(k, startAt)`), the argmin lag is chosen
    * on the ROUNDED AICs so both engines flip identically, and the winner
    * is REFIT on its full available sample for the reported t-stat —
    * bit-for-bit the `TimeSeriesStats.adf(y, maxLagOpt = Some(1))`
    * protocol, which the spec cross-checks.
    *
    * AIC is the statsmodels Gaussian-likelihood form
    * `n·(ln(2π·RSS/n) + 1) + 2·(2 + k)` — the shared `n` means the
    * argmin reduces to `n·ln RSS + 2k`, but the full constant is emitted
    * so the readout is comparable across series.
    *
    * Exactness (the [[adfFixedLag]] discipline): caller-quantized integer
    * `valueCol`, all sufficient sums exact DECIMAL — the lag-0 candidate
    * and lag-0 refit need only SUBSETS of the q212 ten (conditional sums
    * split the one aggregate into the common window and the full lag-0
    * window), so ONE window pass + ONE aggregate serves all three fits.
    * The final double trees (3-var first-row-cofactor Cramer for lag 1,
    * 2-var closed form for lag 0) are fixed and replayed character-
    * identically by the SQL oracle.
    *
    * Scale shape: identical to [[adfFixedLag]] — one shuffle shared by
    * the window and the aggregate, O(1) state per key (16 sums). */
  def adfAutoLag1(df: DataFrame, keyCols: Seq[String], orderCol: String,
                  valueCol: String, roundTo: Int = 4,
                  crit5: Double = -2.86): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = (if (keyCols.isEmpty) Window.partitionBy(lit(1))
             else Window.partitionBy(keyCols.map(col): _*))
      .orderBy(col("__ord"))
    val y = col(valueCol).cast("long")
    val lagged = df
      .filter(col(valueCol).isNotNull && col(orderCol).isNotNull)
      .select((keyCols.map(col) :+ col(orderCol).as("__ord") :+ y.as("__y")): _*)
      .withColumn("__ylag", lag(col("__y"), 1).over(w))
      .withColumn("__dy", col("__y") - col("__ylag"))
      .withColumn("__dylag", lag(col("__dy"), 1).over(w))
      .filter(col("__dy").isNotNull) // full lag-0 sample; common = __dylag not null
    def dec(c: Column) = c.cast("decimal(19,0)")
    val cm = col("__dylag").isNotNull
    val (xr, zr, yr) = (dec(col("__ylag")), dec(col("__dylag")), dec(col("__dy")))
    def cs(c: Column) = sum(when(cm, c)) // common-window conditional sum
    val sums = lagged
      .groupBy((if (keyCols.isEmpty) Seq(lit("all").as("key")) else keyCols.map(col)): _*)
      .agg(
        // common window (both candidates + the lag-1 refit): the q212 ten
        sum(when(cm, 1L)).as("n"),
        cs(xr).as("sx"), cs(zr).as("sz"), cs(yr).as("sy"),
        cs(xr * xr).as("sxx"), cs(zr * zr).as("szz"), cs(xr * zr).as("sxz"),
        cs(xr * yr).as("sxy"), cs(zr * yr).as("szy"), cs(yr * yr).as("syy"),
        // full lag-0 window (the lag-0 refit): 6 unconditional sums
        count(lit(1)).as("n0"), sum(xr).as("sx0"), sum(yr).as("sy0"),
        sum(xr * xr).as("sxx0"), sum(xr * yr).as("sxy0"), sum(yr * yr).as("syy0"))
    def d(c: Column) = c.cast("double")
    val (nn, sx, sz, sy) = (d(col("n")), d(col("sx")), d(col("sz")), d(col("sy")))
    val (sxx, szz, sxz) = (d(col("sxx")), d(col("szz")), d(col("sxz")))
    val (sxy, szy, syy) = (d(col("sxy")), d(col("szy")), d(col("syy")))
    val (n0, sx0, sy0) = (d(col("n0")), d(col("sx0")), d(col("sy0")))
    val (sxx0, sxy0, syy0) = (d(col("sxx0")), d(col("sxy0")), d(col("syy0")))
    def det3(a11: Column, a12: Column, a13: Column, a21: Column, a22: Column,
             a23: Column, a31: Column, a32: Column, a33: Column) =
      a11 * (a22 * a33 - a23 * a32) - a12 * (a21 * a33 - a23 * a31) +
        a13 * (a21 * a32 - a22 * a31)
    // lag-1 candidate (= lag-1 refit: its full sample IS the common window)
    val det = det3(nn, sx, sz, sx, sxx, sxz, sz, sxz, szz)
    val detB0 = det3(sy, sx, sz, sxy, sxx, sxz, szy, sxz, szz)
    val detB1 = det3(nn, sy, sz, sx, sxy, sxz, sz, szy, szz)
    val detB2 = det3(nn, sx, sy, sx, sxx, sxy, sz, sxz, szy)
    val rss1 = syy - (detB0 * sy + detB1 * sxy + detB2 * szy) / det
    val varB1 = rss1 / (nn - lit(3.0)) * (nn * szz - sz * sz) / det
    val t1 = (detB1 / det) / sqrt(varB1)
    // lag-0 candidate on the SAME common window (subset sums)
    val det2c = nn * sxx - sx * sx
    val b1c = (nn * sxy - sx * sy) / det2c
    val rss0 = syy - (sy - b1c * sx) / nn * sy - b1c * sxy
    // lag-0 refit on its full window (the extra leading row restored)
    val det2f = n0 * sxx0 - sx0 * sx0
    val b1f = (n0 * sxy0 - sx0 * sy0) / det2f
    val rssf = syy0 - (sy0 - b1f * sx0) / n0 * sy0 - b1f * sxy0
    val t0 = b1f / sqrt(rssf / (n0 - lit(2.0)) * n0 / det2f)
    val pi2 = 2.0 * math.Pi
    def aic(rss: Column, k: Int) =
      nn * (log(lit(pi2) * rss / nn) + lit(1.0)) + lit(2.0 * (2 + k))
    def rnd6(c: Column) = floor(c * 1e6 + 0.5) / 1e6
    val q = math.pow(10, roundTo)
    def rnd(c: Column) = floor(c * q + 0.5) / q
    // rss > 0 guards: a perfect fit (or tiny-negative rss from float
    // cancellation) would send log(rss/n) to NaN, which det/n checks
    // alone cannot catch — degenerate fits emit the documented null
    val ok = det =!= 0.0 && det2c =!= 0.0 && det2f =!= 0.0 && col("n") > lit(3L) &&
      rss0 > lit(0.0) && rss1 > lit(0.0) && rssf > lit(0.0)
    val aic0 = rnd6(when(ok, aic(rss0, 0)))
    val aic1 = rnd6(when(ok, aic(rss1, 1)))
    // strict-improvement scan: k=0 first, k=1 replaces only on aic1 < aic0
    val lagSel = when(ok, when(aic1 < aic0, 1).otherwise(0))
    val tstat = rnd(when(ok, when(lagSel === 1, t1).otherwise(t0)))
    val keyOut: Seq[Column] = if (keyCols.isEmpty) Seq(col("key")) else keyCols.map(col)
    sums.select(keyOut :+ lagSel.as("lag") :+
      when(ok, when(lagSel === 1, col("n")).otherwise(col("n0"))).as("n_obs") :+
      aic0.as("aic0") :+ aic1.as("aic1") :+
      tstat.as("adf_t") :+ lit(crit5).as("crit5") :+
      // decided on the ROUNDED stat so both engines flip identically
      (tstat < lit(crit5)).as("stationary5"): _*)
  }

  /** Fixed-lag-0 KPSS level-stationarity statistic per key — the
    * closed-form-checkable slice of [[TimeSeriesStats.kpss]] (which adds
    * the Bartlett-window long-run variance on top of exactly this
    * statistic): with demeaned partial sums `S_t = Σ_{i≤t}(y_i − ȳ)`,
    * `η = Σ S_t² / (n²·σ̂²)` where the l = 0 Bartlett window makes
    * `σ̂² = Σ(y_t − ȳ)²/n`. Tested against the Kwiatkowski et al. (1992)
    * level-case 5% critical value 0.463 — η BELOW the critical value
    * accepts the stationarity null (the KPSS polarity is ADF's mirror).
    *
    * Exactness: `valueCol` must be integer-quantized by the caller
    * (cents). The scaled partial sum `N_t = n·P_t − t·Σy` (P_t the
    * prefix sum) is an EXACT integer per row, so
    * `η = Σ N_t² / (n²·(n·Σy² − (Σy)²))` is a ratio of exact DECIMAL(38,0)
    * integers — no demeaned float ever crosses a row boundary and no
    * catastrophic cancellation (the expanded-moments form n²ΣP² − … would
    * lose ~16 digits to cancellation; the per-row N_t form loses none).
    * The ONLY float step is the final division, e4-quantized and replayed
    * character-identically in SQL. Bound: Σ N_t² ≤ n³·(Σy)² < 10³⁸ —
    * a century of monthly cents totals up to ~10¹⁶ clears it.
    *
    * Scale shape: ONE sort per key shared by the row_number and prefix-sum
    * windows (the unbounded-frame totals ride the same partitioning), then
    * a 3-term sufficient-sum aggregate; state per key is O(1).
    * Output: `(keys…, n_obs, kpss_eta, crit5, stationary5)`; keys with
    * zero variance or n < 2 emit null η and null verdict. */
  def kpssFixedLag(df: DataFrame, keyCols: Seq[String], orderCol: String,
                   valueCol: String, roundTo: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val part = if (keyCols.isEmpty) Window.partitionBy(lit(1))
               else Window.partitionBy(keyCols.map(col): _*)
    val wOrd = part.orderBy(col("__ord"))
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = part.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    def dec(c: Column) = c.cast("decimal(38,0)")
    def d(c: Column) = c.cast("double")
    val y = col(valueCol).cast("long")
    val rows = df.filter(col(valueCol).isNotNull && col(orderCol).isNotNull)
      .select((keyCols.map(col) :+ col(orderCol).as("__ord") :+ y.as("__y")): _*)
      .withColumn("__t", row_number().over(wOrd))
      .withColumn("__p", sum(col("__y")).over(wCum))
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("__sy", sum(col("__y")).over(wAll))
      .withColumn("__syy", sum(dec(col("__y")) * dec(col("__y"))).over(wAll))
      .withColumn("__nt",
        dec(col("__n")) * dec(col("__p")) - dec(col("__t")) * dec(col("__sy")))
    val sums = rows
      .groupBy((if (keyCols.isEmpty) Seq(lit("all").as("key")) else keyCols.map(col)): _*)
      .agg(max(col("__n")).as("n"),
        // n·Σy² − (Σy)² is constant across the key's rows — max() just
        // carries the exact DECIMAL value through the aggregate
        max(dec(col("__n")) * col("__syy") - dec(col("__sy")) * dec(col("__sy")))
          .as("__varn"),
        sum(col("__nt") * col("__nt")).as("__snn"))
    val q = math.pow(10, roundTo)
    def rnd(c: Column) = floor(c * q + 0.5) / q
    val eta = rnd(when(col("__varn") > 0 && col("n") > 1,
      d(col("__snn")) / (d(col("n")) * d(col("n")) * d(col("__varn")))))
    val keyOut: Seq[Column] = if (keyCols.isEmpty) Seq(col("key")) else keyCols.map(col)
    sums.select(keyOut :+ col("n").as("n_obs") :+
      eta.as("kpss_eta") :+ lit(0.463).as("crit5") :+
      // decided on the ROUNDED stat so both engines flip identically
      (eta < lit(0.463)).as("stationary5"): _*)
  }

  /** Per-key Durbin–Watson statistic over the residuals of the
    * least-squares TREND line — "after removing the linear trend, do
    * consecutive errors still lean on each other": the classical lag-1
    * serial-correlation screen on a FITTED model's residuals, which
    * [[ljungBox]] (raw-series autocorrelation, many lags) and
    * [[runsTest]] (signs only) do not answer. `DW = Σ(e_t − e_{t−1})² /
    * Σe_t²` ∈ [0, 4]; the conventional rule-of-thumb verdict bands
    * (positive < 1.5, none, negative > 2.5) are applied to the ROUNDED
    * value — exact tabulated d_L/d_U bounds vary with n and are the
    * caller's refinement.
    *
    * Exactness (the [[kpssFixedLag]] scaled-integer discipline): with
    * caller-quantized integer `valueCol` and the symmetric time index
    * `u_t = 2t − n − 1` (whose Σu = 0 drops a cross term; the slope vs
    * t is `2N/D` so the u-coefficient of the residual is exactly
    * `N/D = Σu·y / Σu²`), the SCALED residual
    * `E_t = n·D·y_t − D·Σy − n·N·u_t` is an exact DECIMAL(38,0)
    * integer per row; the common denominator `n·D` CANCELS in the DW
    * ratio, so both sums are exact and the single division is one fixed
    * double tree, e6-quantized. No residual float ever crosses a row
    * boundary. Bound: `ΣE²` needs roughly `n⁹·y² ≲ 10³⁸` — a century of
    * monthly observations at cents ≤ 10⁹ clears it; pre-average (not
    * pre-sum) values per period so `y` stays SF-invariant.
    *
    * Scale shape: ONE sort per key shared by the row_number and the
    * unbounded-frame totals, a lag window on the same partitioning,
    * then a two-term sufficient-sum aggregate; per-key state is O(1),
    * a million keys = a million independent series. `orderCol` must be
    * UNIQUE per key (the monthly-grid convention — a duplicate order
    * value would make row_number, and so the residual index,
    * nondeterministic).
    *
    * Overflow guard (fail-loud, the anovaOneWay convention): the
    * scaled residual grows like `E ≈ n·D·resid ≈ (n⁴/3)·resid`, so
    * `ΣE² ≈ (n⁹/9)·resid²` — it crosses the 10³⁸ DECIMAL(38,0) bound
    * LONG before the naïve "n³·y" intuition suggests (at n = 1200
    * monthly points it tolerates only |resid| ≲ 1.3·10⁶, i.e. ~$13k of
    * detrended residual in cents). Under non-ANSI Spark an overflowed
    * product would become NULL and silently DROP from both sums,
    * yielding a wrong DW with no error — so each row RAISES when
    * `|E| > 5·10¹⁶` (the bound under which both `ΣE²` and the
    * differenced `Σ(E−E')² ≤ 4ΣE²` stay inside 10³⁸ for n ≤ 10⁴ rows
    * per key). Past it, pre-average to a coarser grid or rescale the
    * value unit upstream. Output:
    * `(keys…, n_obs, dw_e6, autocorr)`; keys with n < 3 emit nothing,
    * zero residual variance (perfect line) emits null dw and verdict. */
  def durbinWatson(df: DataFrame, keyCols: Seq[String], orderCol: String,
                   valueCol: String): DataFrame = {
    require(keyCols.nonEmpty, "durbinWatson needs at least one key column")
    import org.apache.spark.sql.expressions.Window
    val part = Window.partitionBy(keyCols.map(col): _*)
    val wOrd = part.orderBy(col("__ord"))
    val wAll = part.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    def dec(c: Column) = c.cast("decimal(38,0)")
    def d(c: Column) = c.cast("double")
    val y = col(valueCol).cast("long")
    val rows = graft.functions.Cols.dropNullKeys(df, keyCols)
      .filter(col(valueCol).isNotNull && col(orderCol).isNotNull)
      .select((keyCols.map(col) :+ col(orderCol).as("__ord") :+ y.as("__y")): _*)
      .withColumn("__t", row_number().over(wOrd).cast("long"))
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("__u", lit(2L) * col("__t") - col("__n") - 1L)
      .withColumn("__sy", sum(col("__y")).over(wAll))
      .withColumn("__nn", sum(dec(col("__u")) * col("__y")).over(wAll))
      .withColumn("__dd", sum(dec(col("__u")) * col("__u")).over(wAll))
      .withColumn("__e",
        dec(col("__n")) * col("__dd") * col("__y")
          - col("__dd") * dec(col("__sy"))
          - dec(col("__n")) * col("__nn") * col("__u"))
      // fail loud before ΣE² can cross DECIMAL(38,0): |E| ≤ 5e16 keeps
      // both ΣE² and Σ(E−E')² ≤ 4ΣE² under 1e38 for n ≤ 1e4 rows/key
      .withColumn("__e",
        when(abs(col("__e")) > expr("cast(50000000000000000 as decimal(38,0))"),
          expr("raise_error('durbinWatson scaled residual exceeds the " +
            "DECIMAL(38,0) safety bound — pre-average to a coarser grid " +
            "or rescale the value unit upstream')").cast("decimal(38,0)"))
          .otherwise(col("__e")))
      .withColumn("__pe", lag(col("__e"), 1).over(wOrd))
    val sums = rows
      .groupBy(keyCols.map(col): _*)
      .agg(max(col("__n")).as("n_obs"),
        sum(col("__e") * col("__e")).as("__see"),
        sum(when(col("__pe").isNotNull,
            (col("__e") - col("__pe")) * (col("__e") - col("__pe")))
          .otherwise(dec(lit(0L)))).as("__sdd"))
      .filter(col("n_obs") >= 3)
    val dw = when(col("__see") > 0,
      floor(d(col("__sdd")) / d(col("__see")) * 1e6 + 0.5).cast("long"))
    sums
      .withColumn("dw_e6", dw)
      // decided on the ROUNDED statistic so both engines band identically
      .withColumn("autocorr",
        when(col("dw_e6").isNotNull,
          when(col("dw_e6") < 1500000L, "positive")
            .when(col("dw_e6") > 2500000L, "negative")
            .otherwise("none")))
      .drop("__see", "__sdd")
  }

  /** Per-key Granger causality screen (lag 1) — "does x's PAST improve
    * the prediction of y beyond y's own past": nested OLS
    * `y_t = a + b·y_{t−1}` (restricted) vs
    * `y_t = a + b·y_{t−1} + c·x_{t−1}` (unrestricted), F on the RSS
    * drop. The lead/lag DIRECTIONAL complement of [[kendallTau]] /
    * Spearman (contemporaneous association says nothing about which
    * series moves first); run it both ways for the full Granger pair.
    * Verdict on the asymptotic χ²(1) 5% critical (F = t² of the x-lag
    * coefficient; 1.96² = 3.8415 — small-sample F(1, n−3) calibration
    * is the caller's refinement, the [[adfFixedLag]] convention).
    *
    * Exactness (the adfFixedLag discipline): caller-quantized integer
    * series; the ten sufficient sums accumulate as exact DECIMAL; both
    * RSS values come from FIXED double Cramer trees (det3 cofactor
    * expansion in one written order), F is one tree e4-quantized and
    * clamped at 0 (float cancellation can push an exactly-zero RSS
    * drop negative), verdict on the ROUNDED value. Singular designs
    * (constant regressors, n ≤ 3, RSS_u ≤ 0) emit null F and verdict.
    *
    * Scale shape: one shuffle on the keys shared by the lag window and
    * the sum aggregate; per-key state is the ten sums, O(1). Output:
    * `(keys…, n_obs, xlag_coef, f_e4, crit5_e4, significant)`. */
  def grangerCausality(df: DataFrame, keyCols: Seq[String], orderCol: String,
                       causeCol: String, effectCol: String,
                       roundTo: Int = 6): DataFrame = {
    require(keyCols.nonEmpty, "grangerCausality needs at least one key column")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col("__ord"))
    val lagged = graft.functions.Cols.dropNullKeys(df, keyCols)
      .filter(col(causeCol).isNotNull && col(effectCol).isNotNull &&
        col(orderCol).isNotNull)
      .select((keyCols.map(col) :+ col(orderCol).as("__ord") :+
        col(effectCol).cast("long").as("__y") :+
        col(causeCol).cast("long").as("__x")): _*)
      .withColumn("__z", lag(col("__y"), 1).over(w))
      .withColumn("__xl", lag(col("__x"), 1).over(w))
      .filter(col("__z").isNotNull && col("__xl").isNotNull)
    def dec(c: Column) = c.cast("decimal(19,0)")
    val (zr, xr, yr) = (dec(col("__z")), dec(col("__xl")), dec(col("__y")))
    val sums = lagged
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(zr).as("sz"), sum(xr).as("sx"), sum(yr).as("sy"),
        sum(zr * zr).as("szz"), sum(xr * xr).as("sxx"), sum(zr * xr).as("szx"),
        sum(zr * yr).as("szy"), sum(xr * yr).as("sxy"), sum(yr * yr).as("syy"))
    def d(c: Column) = c.cast("double")
    val (nn, sz, sx, sy) = (d(col("n")), d(col("sz")), d(col("sx")), d(col("sy")))
    val (szz, sxx, szx) = (d(col("szz")), d(col("sxx")), d(col("szx")))
    val (szy, sxy, syy) = (d(col("szy")), d(col("sxy")), d(col("syy")))
    def det3(a11: Column, a12: Column, a13: Column, a21: Column, a22: Column,
             a23: Column, a31: Column, a32: Column, a33: Column) =
      a11 * (a22 * a33 - a23 * a32) - a12 * (a21 * a33 - a23 * a31) +
        a13 * (a21 * a32 - a22 * a31)
    // restricted design [[n, Sz], [Sz, Szz]], rhs [Sy, Szy]
    val det2 = nn * szz - sz * sz
    val rssR = syy - ((sy * szz - szy * sz) * sy + (nn * szy - sz * sy) * szy) / det2
    // unrestricted [[n,Sz,Sx],[Sz,Szz,Szx],[Sx,Szx,Sxx]], rhs [Sy,Szy,Sxy]
    val det = det3(nn, sz, sx, sz, szz, szx, sx, szx, sxx)
    val detB0 = det3(sy, sz, sx, szy, szz, szx, sxy, szx, sxx)
    val detB1 = det3(nn, sy, sx, sz, szy, szx, sx, sxy, sxx)
    val detB2 = det3(nn, sz, sy, sz, szz, szy, sx, szx, sxy)
    val rssU = syy - (detB0 * sy + detB1 * szy + detB2 * sxy) / det
    val q = math.pow(10, roundTo)
    val ok = col("n") > 3 && det2 =!= 0.0 && det =!= 0.0 && rssU > 0.0
    val f = (rssR - rssU) / (rssU / (nn - lit(3.0)))
    sums
      .withColumn("n_obs", col("n").cast("long"))
      .withColumn("xlag_coef",
        when(ok, floor(detB2 / det * q + 0.5) / q))
      .withColumn("f_e4",
        when(ok, greatest(lit(0L), floor(f * 1e4 + 0.5).cast("long"))))
      .withColumn("crit5_e4", lit(38415L))
      .withColumn("significant",
        when(col("f_e4").isNotNull, col("f_e4") > 38415L))
      .select((keyCols.map(col) :+ col("n_obs") :+ col("xlag_coef") :+
        col("f_e4") :+ col("crit5_e4") :+ col("significant")): _*)
  }

  /** Per-key Engle–Granger cointegration screen — "do these two trending
    * series share a long-run equilibrium": OLS `y = a + b·x` (the hedge
    * ratio), then [[adfFixedLag]] on the RESIDUAL series against the
    * Engle–Granger 5% critical (−3.34 for two variables with constant —
    * deliberately NOT the plain ADF −2.86: the residual is a FITTED
    * combination, so the unit-root test must pay for the estimated b).
    * Two series can each be nonstationary yet cointegrated — the
    * spread-trading / ratio-monitoring readout neither [[adfFixedLag]]
    * alone nor [[grangerCausality]] gives.
    *
    * Exactness: the OLS slope/intercept are fixed double trees over
    * exact DECIMAL sums (the groupedOls discipline); each residual is
    * ONE per-row fixed tree quantized to centi-units
    * (`⌊e·100 + ½⌋` — deterministic in both engines, and the
    * caller-quantization contract adfFixedLag already demands); the
    * ADF chain then inherits its exact-sum/Cramer contract. Keys with
    * constant x (singular OLS) emit nothing.
    *
    * Scale shape: one sort per key shared by the unbounded-frame OLS
    * sums, then adfFixedLag's window + aggregate on the same
    * partitioning. Output: `(keys…, n_obs, coef, adf_t, crit5,
    * cointegrated, beta)` — n_obs counts the ADF regression rows
    * (series minus the two lags). */
  def engleGranger(df: DataFrame, keyCols: Seq[String], orderCol: String,
                   xCol: String, yCol: String, roundTo: Int = 4): DataFrame = {
    require(keyCols.nonEmpty, "engleGranger needs at least one key column")
    import org.apache.spark.sql.expressions.Window
    val wAll = Window.partitionBy(keyCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    def dec(c: Column) = c.cast("decimal(38,0)")
    val base = graft.functions.Cols.dropNullKeys(df, keyCols)
      .filter(col(xCol).isNotNull && col(yCol).isNotNull &&
        col(orderCol).isNotNull)
      .select((keyCols.map(col) :+ col(orderCol).as("__ord") :+
        col(xCol).cast("long").as("__x") :+
        col(yCol).cast("long").as("__y")): _*)
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("__sx", sum(dec(col("__x"))).over(wAll))
      .withColumn("__sy", sum(dec(col("__y"))).over(wAll))
      .withColumn("__sxx", sum(dec(col("__x")) * col("__x")).over(wAll))
      .withColumn("__sxy", sum(dec(col("__x")) * col("__y")).over(wAll))
      .withColumn("__d", expr(
        "cast(__n as decimal(38,0)) * __sxx - __sx * __sx"))
      .withColumn("__b", expr(
        """case when __d <> 0 then
          |  cast(cast(__n as decimal(38,0)) * __sxy - __sx * __sy as double)
          |    / cast(__d as double) end""".stripMargin))
      .withColumn("__a", expr(
        """(cast(__sy as double) - __b * cast(__sx as double))
          | / cast(__n as double)""".stripMargin.replaceAll("\n", " ")))
      .withColumn("resid_q", expr(
        """cast(floor((cast(__y as double) - __a - __b * cast(__x as double))
          |  * 100 + 0.5) as bigint)""".stripMargin))
      .filter(col("resid_q").isNotNull)
      .localCheckpoint(false)
    val betas = base.groupBy(keyCols.map(col): _*)
      .agg((floor(max(col("__b")) * 1e6 + 0.5) / 1e6).as("beta"))
    adfFixedLag(base, keyCols, "__ord", "resid_q", roundTo, crit5 = -3.34)
      .withColumnRenamed("stationary5", "cointegrated")
      .join(betas, keyCols)
  }

  /** Per-key cross-correlation function — Pearson r of `(x_t, y_{t+l})`
    * at every lag `l ∈ [−maxLag, maxLag]`: the LAG-PICKER beside
    * [[grangerCausality]] (Granger tests ONE lag's predictive value;
    * the CCF profile shows WHERE the lead/lag relationship peaks — and
    * an asymmetric profile is the directional smoking gun a symmetric
    * [[kendallTau]] cannot show). Negative lag = x LEADS y.
    *
    * Exactness: one range self-join pairs the integer series at every
    * lag (caller-quantized values); the five sufficient sums per
    * (key, lag) are exact DECIMAL(38,0); r is ONE fixed double tree —
    * cross-multiplied covariance over the sqrt of exact variance
    * products — e6-quantized. Zero-variance windows emit null r.
    *
    * Scale shape: the join fans each row out 2·maxLag+1 times
    * (grid-bounded by contract — per-key SERIES rows, not raw rows),
    * then ONE map-side-combined aggregate per (key, lag); a million
    * keys ride one shuffle. Output: `(keys…, lag, n_pairs, r_e6)`;
    * lags with fewer than 3 pairs emit nothing. */
  def crossCorrelation(df: DataFrame, keyCols: Seq[String], orderCol: String,
                       xCol: String, yCol: String, maxLag: Int = 6): DataFrame = {
    require(keyCols.nonEmpty, "crossCorrelation needs at least one key column")
    require(maxLag >= 1 && maxLag <= 60, s"maxLag must be in [1, 60], got $maxLag")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col("__ord"))
    val base = graft.functions.Cols.dropNullKeys(df, keyCols)
      .filter(col(xCol).isNotNull && col(yCol).isNotNull &&
        col(orderCol).isNotNull)
      .select((keyCols.map(col) :+ col(orderCol).as("__ord") :+
        col(xCol).cast("long").as("__x") :+
        col(yCol).cast("long").as("__y")): _*)
      .withColumn("__t", row_number().over(w).cast("long"))
      .localCheckpoint(false)
    val a = base.select((keyCols.map(col) :+ col("__t") :+ col("__x")): _*)
    val b = base.select((keyCols.map(col) :+ col("__t").as("__t2") :+
      col("__y")): _*)
    val pairs = a.join(b,
        keyCols.map(c => a(c) === b(c)).reduce(_ && _) &&
          col("__t2") >= col("__t") - maxLag &&
          col("__t2") <= col("__t") + maxLag)
      .select((keyCols.map(a(_)) :+ (col("__t2") - col("__t")).as("lag") :+
        col("__x") :+ col("__y")): _*)
    def dec(c: Column) = c.cast("decimal(38,0)")
    pairs
      .groupBy((keyCols.map(col) :+ col("lag")): _*)
      .agg(count(lit(1)).as("n_pairs"),
        sum(dec(col("__x"))).as("sx"), sum(dec(col("__y"))).as("sy"),
        sum(dec(col("__x")) * col("__x")).as("sxx"),
        sum(dec(col("__y")) * col("__y")).as("syy"),
        sum(dec(col("__x")) * col("__y")).as("sxy"))
      .filter(col("n_pairs") >= 3)
      .withColumn("r_e6", expr(
        """case when (n_pairs * sxx - sx * sx) > 0
          |       and (n_pairs * syy - sy * sy) > 0 then
          |  cast(floor(cast(n_pairs * sxy - sx * sy as double)
          |    / sqrt(cast(n_pairs * sxx - sx * sx as double)
          |           * cast(n_pairs * syy - sy * sy as double))
          |    * 1000000 + 0.5) as bigint)
          |end""".stripMargin))
      .drop("sx", "sy", "sxx", "syy", "sxy")
  }

  /** Per-key Page–Hinkley drift test — the SEQUENTIAL mean-increase
    * detector: `m_t = Σ_{i≤t}(x_i − x̄_i − δ)` (running mean INCLUDING
    * the current row — documented convention), `PH_t = m_t − min_{s≤t}
    * m_s`, alarm at the FIRST `PH_t > λ`. The streaming-native change
    * monitor beside the batch change family: [[pettitt]] locates a
    * completed shift in hindsight, CUSUM tracks a known baseline —
    * Page–Hinkley self-centers on the running mean, which is what a
    * standing drift alarm over an unknown level needs (its state is
    * O(1): the streaming twin carries exactly `(n, Σx, m, min m,
    * frozen alarm)`).
    *
    * Exactness: each increment is ONE fixed double tree over the exact
    * integer prefix `(x_i, P_i, i)` e9-quantized PER ROW (the
    * nmiFromCells discipline), so `m`, the running min, and PH are
    * exact integers; `λ` is e9-quantized driver-side and compared as
    * pure integers. The first-crossing index is `min(i | PH_i > λ_e9)`
    * — identical in both engines and FREEZABLE in the twin. `orderCol`
    * must be unique per key (the [[durbinWatson]] convention).
    *
    * Scale shape (round 17 — the [[graft.operators.SegmentedOrder]]
    * two-phase rewrite; the plain per-key window was the 100× sweep's
    * q317 owner: 6 event types × 10M rows = one serial sort task per
    * key, 28 s on 32 mostly-idle cores). Rows bucket into ≤1024
    * order-range segments per key and EVERY per-row quantity is exact
    * off the bucket's entering prefixes: `x̄_i` from (rows-before,
    * sum-before), `m` from Σ-t9-before, and the running min from
    * `min(prior-buckets' running min, m-entering + local running min)`.
    * Phase 1 computes per-bucket summaries `(Σt9, min/max local cum,
    * max local (cum − runmin))` in one (key, bucket)-parallel window
    * pass; the per-bucket MAX PH is then EXACT on the buckets-sized
    * table — `max(maxc + m_in − min_in, maxd)`, pointwise max
    * distributing through the row max — which yields `max_ph_e9` and
    * the first alarm BUCKET with no further row work. Phase 2 walks
    * ONLY that crossing bucket's rows (≤ 1/1024 of the data) for the
    * exact first-alarm index. Output: `(keys…, n_obs, max_ph_e9,
    * first_alarm_t, alarmed)`. */
  def pageHinkley(df: DataFrame, keyCols: Seq[String], orderCol: String,
                  valueCol: String, delta: Double = 0.0,
                  lambda: Double = 50000.0): DataFrame = {
    require(keyCols.nonEmpty, "pageHinkley needs at least one key column")
    import org.apache.spark.sql.expressions.Window
    import graft.operators.SegmentedOrder
    val lambdaE9 = math.floor(lambda * 1e9 + 0.5).toLong
    val k = keyCols.map(col)
    val slim = graft.functions.Cols.dropNullKeys(df, keyCols)
      .filter(col(valueCol).isNotNull && col(orderCol).isNotNull)
      .select((k :+ col(orderCol).as("__ord") :+
        col(valueCol).cast("long").as("__x")): _*)
    // lazy localCheckpoint (the q170 cells pattern): the bucketed rows
    // feed the per-bucket totals, the summaries pass, AND the phase-2
    // walk — without the cut, the scan + bucketing recomputes per use
    val rows = SegmentedOrder.withBuckets(slim, keyCols,
      SegmentedOrder.leadOf(slim, "__ord"))
      .localCheckpoint(false)
    // per-bucket (rows, Σx) -> entering (index, prefix-sum) per bucket
    val bt = rows.groupBy(k :+ col("__bkt"): _*)
      .agg(count(lit(1)).as("__bn"), sum(col("__x")).as("__bs"))
    val wKexc = Window.partitionBy(k: _*).orderBy(col("__bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val pre = bt
      .withColumn("__iIn", coalesce(sum(col("__bn")).over(wKexc), lit(0L)))
      .withColumn("__pIn", coalesce(sum(col("__bs")).over(wKexc), lit(0L)))
      .select(k :+ col("__bkt") :+ col("__iIn") :+ col("__pIn"): _*)
    val wB = Window.partitionBy(k :+ col("__bkt"): _*).orderBy(col("__ord"))
    val wBC = wB.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the shared row pass: global (i, p) off the entering prefixes, the
    // identical __t9 double tree, local cum + running min of the cum
    def t9Pass(src: DataFrame): DataFrame = src
      .join(broadcast(pre), keyCols :+ "__bkt")
      .withColumn("__i", col("__iIn") + row_number().over(wB).cast("long"))
      .withColumn("__p", col("__pIn") + sum(col("__x")).over(wBC))
      .withColumn("__t9", expr(
        s"""cast(floor((cast(__x as double)
           |  - cast(__p as double) / cast(__i as double) - $delta)
           |  * 1e9 + 0.5) as bigint)""".stripMargin))
      .withColumn("__cl", sum(col("__t9")).over(wBC))
      .withColumn("__rm", min(col("__cl")).over(wBC))
    val summaries = t9Pass(rows).groupBy(k :+ col("__bkt"): _*)
      .agg(count(lit(1)).as("__bn2"),
        sum(col("__t9")).as("__ts"), min(col("__cl")).as("__minc"),
        max(col("__cl")).as("__maxc"),
        max(col("__cl") - col("__rm")).as("__maxd"))
    // buckets-sized prefixes: entering m, then entering running-min
    // (two selects: a window expr can't nest inside another window)
    val bs = summaries
      .withColumn("__mIn", coalesce(sum(col("__ts")).over(wKexc), lit(0L)))
    // buckets-sized localCheckpoint: perBkt feeds keyAgg AND the walk's
    // candidate pick — without the cut, the ROW-SCALE summaries pass
    // above it recomputes once per consumer
    val perBkt = bs
      .withColumn("__minIn", min(col("__mIn") + col("__minc")).over(wKexc))
      .withColumn("__bMaxPh", when(col("__minIn").isNull, col("__maxd"))
        .otherwise(greatest(col("__maxc") + col("__mIn") - col("__minIn"),
          col("__maxd"))))
      .localCheckpoint(false)
    val keyAgg = perBkt.groupBy(k: _*)
      .agg(sum(col("__bn2")).as("n_obs"),
        max(col("__bMaxPh")).as("max_ph_e9"),
        min(when(col("__bMaxPh") > lambdaE9, col("__bkt"))).as("__fb"))
    // phase 2: the exact first-alarm index from the crossing bucket only
    val cand = perBkt.join(
        keyAgg.filter(col("__fb").isNotNull)
          .select(k :+ col("__fb").as("__cbkt"): _*), keyCols)
      .filter(col("__bkt") === col("__cbkt"))
      .select(k :+ col("__bkt") :+ col("__mIn") :+ col("__minIn"): _*)
    val walked = t9Pass(rows.join(
        broadcast(cand.select(k :+ col("__bkt"): _*)), keyCols :+ "__bkt"))
      .join(broadcast(cand), keyCols :+ "__bkt")
      .withColumn("__ph",
        (col("__mIn") + col("__cl")) -
          when(col("__minIn").isNull, col("__mIn") + col("__rm"))
            .otherwise(least(col("__minIn"), col("__mIn") + col("__rm"))))
      .filter(col("__ph") > lambdaE9)
      .groupBy(k: _*).agg(min(col("__i")).as("first_alarm_t"))
    keyAgg.join(walked, keyCols.toSeq, "left")
      .withColumn("alarmed", col("first_alarm_t").isNotNull)
      .select(k :+ col("n_obs") :+ col("max_ph_e9") :+
        col("first_alarm_t") :+ col("alarmed"): _*)
  }

  private val ptSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("n_obs", IntegerType),
    StructField("k_stat", LongType),
    StructField("t_change", IntegerType),
    StructField("p_e9", LongType),
    StructField("significant", BooleanType)))

  /** Per-key Pettitt change-point test — the RANK-based "did the level
    * shift, and WHERE" with a significance verdict: the nonparametric
    * complement of [[graft.operators.Features]]' SSE-argmin changepoint
    * (q228 finds the best mean-shift split but offers no chance
    * calibration; Pettitt's Mann-Whitney-flavored statistic carries the
    * classical p ≈ 2·exp(−6K²/(n³+n²))). Convention (documented): with
    * `V_t = Σ_j sgn(x_t − x_j)` (the signed rank centering),
    * `U_t = Σ_{s≤t} V_s` — the NEGATIVE of the textbook
    * Σ_{i≤t}Σ_{j>t} sgn(x_j−x_i), so `K = max_{t<n} |U_t|` and the
    * argmax are identical; a negative `U` at the change means an
    * upward shift. First argmax wins ties (smallest t); p clamps at 1
    * (the approximation exceeds 1 at tiny K).
    *
    * Exactness: V and U are exact integers (sign comparisons only); p
    * is ONE fixed double tree over `(K, n)` e9-quantized, verdict on
    * the ROUNDED p. Values must be caller-quantized (doubles exact to
    * 2⁵³); n³ needs n ≤ 2·10⁶ — any per-key series clears it.
    *
    * Scale shape: [[perSeries]], an O(n²) sign walk per series.
    * Output: `(key, n_obs, k_stat, t_change, p_e9, significant)`; keys with n < 3 emit nothing. */
  def pettitt(df: DataFrame, keyCols: Seq[String], orderCol: String,
              valueCol: String): DataFrame = {
    perSeries(df, keyCols, orderCol, valueCol, None, ptSchema) { (key, x, _) =>
      val n = x.length
      if (n < 3) Iterator.empty
      else {
        var best = 0L
        var bestT = 1
        var u = 0L
        var t = 0
        while (t < n - 1) {
          var v = 0L
          var j = 0
          while (j < n) {
            v += java.lang.Double.compare(x(t), x(j)).sign
            j += 1
          }
          u += v
          if (math.abs(u) > best) { best = math.abs(u); bestT = t + 1 }
          t += 1
        }
        val nL = n.toLong
        val p = math.min(1.0, 2.0 * math.exp(
          -6.0 * (best.toDouble * best.toDouble) /
            (nL * nL * nL + nL * nL).toDouble))
        val pE9 = math.floor(p * 1e9 + 0.5).toLong
        Iterator.single(Row(key, n, best, bestT, pE9, pE9 < 50000000L))
      }
    }
  }

  private val ktSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("n_obs", IntegerType),
    StructField("s_stat", LongType),
    StructField("tau_b_e6", LongType),
    StructField("z_e4", LongType),
    StructField("significant", BooleanType)))

  /** Per-key Kendall τ-b between two paired numeric columns — the
    * concordance rank correlation: [[mannKendall]] IS Kendall's S of
    * (time, value); this generalizes the pairing to ANY (x, y) and adds
    * the tie-corrected τ-b normalization, reading association strength
    * where [[graft.operators.Profile.spearman]] reads rank-linear
    * correlation (τ weighs every discordant PAIR equally — more robust
    * to a few extreme ranks, and its z has an exact small-sample tie
    * correction Spearman's t-approximation lacks).
    * `τ_b = S/√((n₀−t_x)(n₀−t_y))` with `S = Σ_{i<j} sgn(Δx)·sgn(Δy)`,
    * `n₀ = n(n−1)/2`, tie sums per duplicated value; the z uses the
    * standard tie-corrected variance (scipy's kendalltau form, no
    * continuity correction — documented convention):
    * `Var = (v₀−v_t−v_u)/18 + x₃y₃/(9n(n−1)(n−2)) + x₂y₂/(2n(n−1))`.
    *
    * Exactness: S and every tie sum (`Σt(t−1)`, `Σt(t−1)(2t+5)`,
    * `Σt(t−1)(t−2)`) are EXACT integers; τ and z are fixed double trees
    * over them (each product casts its factors to double FIRST — the
    * 2⁶³ discipline), e6/e4-quantized, verdict on the ROUNDED |z|.
    * Values must be integer-quantized upstream (doubles stay exact to
    * 2⁵³). Constant x or y (a zero τ denominator) emits null τ/z.
    *
    * Scale shape: [[perSeries]], an O(n²) pair walk per series (monthly
    * grids are ~10²; a merge-sort inversion count drops it to
    * O(n log n) if ever needed). Output: `(key, n_obs,
    * s_stat, tau_b_e6, z_e4, significant)`; keys with n < 3 emit
    * nothing. */
  def kendallTau(df: DataFrame, keyCols: Seq[String], xCol: String,
                 yCol: String): DataFrame = {
    perSeries(df, keyCols, xCol, yCol, Some(xCol), ktSchema) { (key, y, x) =>
      val n = y.length
      if (n < 3) Iterator.empty
      else {
        var s = 0L
        var i = 0
        while (i < n) {
          var j = i + 1
          while (j < n) {
            val sx = java.lang.Double.compare(x(j), x(i)).sign
            val sy = java.lang.Double.compare(y(j), y(i)).sign
            s += (sx * sy).toLong
            j += 1
          }
          i += 1
        }
        def tieSums(v: Array[Double]): (Long, Long, Long) =
          v.groupBy(identity).valuesIterator
            .map(_.length.toLong).filter(_ > 1)
            .foldLeft((0L, 0L, 0L)) { case ((a2, a25, a3), t) =>
              (a2 + t * (t - 1), a25 + t * (t - 1) * (2 * t + 5),
                a3 + t * (t - 1) * (t - 2))
            }
        val (x2, x25, x3) = tieSums(x)
        val (y2, y25, y3) = tieSums(y)
        val nL = n.toLong
        val n0 = nL * (nL - 1) / 2
        val dx = n0 - x2 / 2
        val dy = n0 - y2 / 2
        if (dx <= 0 || dy <= 0)
          Iterator.single(Row(key, n, s, null, null, null))
        else {
          val tau = s.toDouble / math.sqrt(dx.toDouble * dy.toDouble)
          val v0 = nL * (nL - 1) * (2 * nL + 5)
          val varS = (v0 - x25 - y25).toDouble / 18.0 +
            x3.toDouble * y3.toDouble /
              (9.0 * nL * (nL - 1) * (nL - 2)) +
            x2.toDouble * y2.toDouble / (2.0 * nL * (nL - 1))
          val tauE6 = math.floor(tau * 1e6 + 0.5).toLong
          if (varS <= 0) Iterator.single(Row(key, n, s, tauE6, null, null))
          else {
            val zE4 = math.floor(s.toDouble / math.sqrt(varS) * 1e4 + 0.5).toLong
            Iterator.single(Row(key, n, s, tauE6, zE4, math.abs(zE4) > 19600L))
          }
        }
      }
    }
  }

  private val oaSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("n_obs", IntegerType),
    StructField("c_pairs", LongType),
    StructField("d_pairs", LongType),
    StructField("gamma_e6", LongType),
    StructField("somers_d_yx_e6", LongType),
    StructField("somers_d_xy_e6", LongType)))

  /** Per-key ordinal association panel — Goodman–Kruskal γ and BOTH
    * Somers' D directions from the same concordant/discordant pair
    * counts [[kendallTau]] walks: γ = (C−D)/(C+D) ignores ties
    * entirely (the right readout for coarse ordinal scales where most
    * pairs tie), `D_yx = (C−D)/(C+D+T_y)` charges ties on the
    * DEPENDENT variable only — the asymmetric "does x predict y's
    * order" measure (τ-b's symmetric √ denominator can answer neither
    * question). `T_x`/`T_y` count pairs tied on exactly one side.
    *
    * Exactness: C, D, and the one-sided tie counts are EXACT integers
    * from the kernel's pair walk; each readout is one double division
    * e6-quantized. Degenerate keys (C + D = 0 — every pair tied on x
    * or y) emit null γ; a zero denominator nulls its D.
    *
    * Scale shape: [[perSeries]], O(n²) per series. Output: `(key,
    * n_obs, c_pairs, d_pairs, gamma_e6, somers_d_yx_e6,
    * somers_d_xy_e6)`; keys with n < 3 emit nothing. */
  def ordinalAssociation(df: DataFrame, keyCols: Seq[String], xCol: String,
                         yCol: String): DataFrame = {
    perSeries(df, keyCols, xCol, yCol, Some(xCol), oaSchema) { (key, y, x) =>
      val n = y.length
      if (n < 3) Iterator.empty
      else {
        var c = 0L; var d = 0L; var tx = 0L; var ty = 0L
        var i = 0
        while (i < n) {
          var j = i + 1
          while (j < n) {
            val sx = java.lang.Double.compare(x(j), x(i)).sign
            val sy = java.lang.Double.compare(y(j), y(i)).sign
            if (sx != 0 && sy != 0) { if (sx == sy) c += 1 else d += 1 }
            else if (sx == 0 && sy != 0) tx += 1
            else if (sx != 0 && sy == 0) ty += 1
            j += 1
          }
          i += 1
        }
        def e6(num: Long, den: Long): Any =
          if (den <= 0) null
          else math.floor(num.toDouble / den.toDouble * 1e6 + 0.5).toLong
        Iterator.single(Row(key, n, c, d,
          e6(c - d, c + d),
          e6(c - d, c + d + ty),
          e6(c - d, c + d + tx)))
      }
    }
  }

  /** Exact two-sided sign test per key — "did this series go up more
    * often than chance" with NO distributional assumption and an EXACT
    * binomial p-value (the nonparametric screen under [[mannKendall]]'s
    * trend test; MK weighs magnitude ranks, the sign test only
    * directions): over the nonzero month-over-month differences,
    * `p = min(1, 2·min(P(X ≤ k), P(X ≥ k)))` for `X ~ Bin(n, ½)`.
    *
    * Exactness: the binomial tails are exact BigInt sums of `C(n, i)`
    * via the integer recurrence `C(n,i+1) = C(n,i)·(n−i)/(i+1)` (always
    * divides evenly), and the e9 quantization is the pure-integer
    * `⌊x + ½⌋ = (num·2·10⁹ + tot) div (2·tot)` — no float anywhere, so
    * the oracle replays it with a recursive HUGEINT CTE bit-for-bit.
    * `n` caps at 95: past that `2ⁿ·2·10⁹` exceeds HUGEINT/the exact
    * window — the operator fails loud rather than rounding.
    *
    * Scale shape: one lag window per key (shared sort), one count
    * aggregate, and the binomial kernel runs on the (key, n, k) GRID —
    * a udf, but a grid-sized one (the documented exception: no built-in
    * exact big-integer binomial exists). Output: `(keys…, n_eff, k_pos,
    * p_e9)`; keys with no nonzero difference emit nothing. */
  def signTest(df: DataFrame, keyCols: Seq[String], orderCol: String,
               valueCol: String): DataFrame = {
    require(keyCols.nonEmpty, "signTest needs at least one key column")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col("__ord"))
    val y = col(valueCol).cast("long")
    val diffs = df.filter(col(valueCol).isNotNull && col(orderCol).isNotNull)
      .select(keyCols.map(col) :+ col(orderCol).as("__ord") :+ y.as("__y"): _*)
      .withColumn("__d", col("__y") - lag(col("__y"), 1).over(w))
      .filter(col("__d").isNotNull && col("__d") =!= 0)
    val pE9 = udf((n: Long, k: Long) => {
      require(n <= 95,
        s"signTest exact binomial caps n at 95 (HUGEINT replay bound), got $n")
      var c = BigInt(1); var lo = BigInt(0); var hi = BigInt(0); var tot = BigInt(0)
      var i = 0L
      while (i <= n) {
        if (i <= k) lo += c
        if (i >= k) hi += c
        tot += c
        c = c * (n - i) / (i + 1)
        i += 1
      }
      val num = (lo min hi) * 2
      math.min(1000000000L, ((num * 2000000000L + tot) / (tot * 2)).toLong)
    })
    diffs.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_eff"),
        sum(when(col("__d") > 0, 1L).otherwise(0L)).as("k_pos"))
      .withColumn("p_e9", pE9(col("n_eff"), col("k_pos")))
  }

  private val mkSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("n_obs", IntegerType),
    StructField("s_stat", LongType),
    StructField("var18", LongType),
    StructField("z", DoubleType),
    StructField("trend", StringType)))

  /** Mann-Kendall trend test per key — the nonparametric "is this series
    * monotonically drifting" screen (the distribution-free complement to
    * q09's parametric drift fit): `S = Σ_{i<j} sign(y_j − y_i)`, variance
    * with the tie correction `Var·18 = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)`,
    * and the continuity-corrected normal statistic `z = (S∓1)/√Var`.
    * `trend` thresholds |z| at 1.96 (5% two-sided).
    *
    * Exactness: S and 18·Var are EXACT INTEGERS (sign comparisons and tie
    * counts — no float crosses a row boundary), so z is one fixed double
    * expression both engines replay bit-for-bit; the trend label flips on
    * the ROUNDED z. The kernel's pair loop is O(n²) per series — monthly
    * series are ~10²; an inversion-count (BIT) drops it to O(n log n) if
    * per-series lengths ever warrant it.
    *
    * Scale shape: [[perSeries]]. */
  def mannKendall(df: DataFrame, keyCols: Seq[String], orderCol: String,
                  valueCol: String, roundTo: Int = 4): DataFrame = {
    val q = math.pow(10, roundTo)
    perSeries(df, keyCols, orderCol, valueCol, None, mkSchema) { (key, y, _) =>
      val n = y.length
      if (n < 3) Iterator.empty
      else {
        var s = 0L
        var i = 0
        while (i < n) {
          var j = i + 1
          while (j < n) {
            if (y(j) > y(i)) s += 1 else if (y(j) < y(i)) s -= 1
            j += 1
          }
          i += 1
        }
        val tieSum = y.groupBy(identity).valuesIterator
          .map(_.length.toLong).filter(_ > 1)
          .map(t => t * (t - 1) * (2 * t + 5)).sum
        val nL = n.toLong
        val var18 = nL * (nL - 1) * (2 * nL + 5) - tieSum
        val zRaw =
          if (s > 0) (s.toDouble - 1.0) / math.sqrt(var18 / 18.0)
          else if (s < 0) (s.toDouble + 1.0) / math.sqrt(var18 / 18.0)
          else 0.0
        val z = math.floor(zRaw * q + 0.5) / q
        val trend =
          if (z > 1.96) "increasing"
          else if (z < -1.96) "decreasing"
          else "no_trend"
        Iterator.single(Row(key, n, s, var18, z, trend))
      }
    }
  }

  /** Seasonal Mann–Kendall (Hirsch & Slack 1984) — [[mannKendall]]
    * restricted to WITHIN-PHASE pairs (January vs January, never
    * January vs July): the trend test for series with a seasonal cycle,
    * where the plain test reads the seasonality itself as trend noise.
    * `S = Σ_p S_p`, `Var·18 = Σ_p [nₚ(nₚ−1)(2nₚ+5) − ties_p]`, the same
    * continuity-corrected z and the same decided-on-rounded trend
    * verdict.
    *
    * Exactness and scale shape identical to [[mannKendall]] (exact
    * integer S/var per phase, one fixed double z; per-key kernels
    * inside their executors; the pair loop is O(Σnₚ²) ≈ O(n²/period)).
    * Phases index by POSITION in the ordered series (`i mod period`) —
    * the complete-grid convention ([[graft.operators.CalendarOps]]
    * fills gaps first when months can be missing). */
  def seasonalMannKendall(df: DataFrame, keyCols: Seq[String],
                          orderCol: String, valueCol: String,
                          period: Int = 12, roundTo: Int = 4): DataFrame = {
    require(period >= 2, s"period must be >= 2, got $period")
    val q = math.pow(10, roundTo)
    perSeries(df, keyCols, orderCol, valueCol, None, mkSchema) { (key, y, _) =>
      val n = y.length
      if (n < period + 2) Iterator.empty
      else {
        var s = 0L
        var var18 = 0L
        var p = 0
        while (p < period) {
          val idx = p.until(n, period)
          var i = 0
          while (i < idx.length) {
            var j = i + 1
            while (j < idx.length) {
              if (y(idx(j)) > y(idx(i))) s += 1
              else if (y(idx(j)) < y(idx(i))) s -= 1
              j += 1
            }
            i += 1
          }
          val np = idx.length.toLong
          val tieSum = idx.map(y).groupBy(identity).valuesIterator
            .map(_.length.toLong).filter(_ > 1)
            .map(t => t * (t - 1) * (2 * t + 5)).sum
          var18 += np * (np - 1) * (2 * np + 5) - tieSum
          p += 1
        }
        val zRaw =
          if (s > 0) (s.toDouble - 1.0) / math.sqrt(var18 / 18.0)
          else if (s < 0) (s.toDouble + 1.0) / math.sqrt(var18 / 18.0)
          else 0.0
        val z = math.floor(zRaw * q + 0.5) / q
        val trend =
          if (z > 1.96) "increasing"
          else if (z < -1.96) "decreasing"
          else "no_trend"
        Iterator.single(Row(key, n, s, var18, z, trend))
      }
    }
  }

  private val tsSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("n_obs", IntegerType),
    StructField("n_pairs", LongType),
    StructField("slope_e6", LongType)))

  /** Theil–Sen slope estimator per key — the robust trend MAGNITUDE
    * beside [[mannKendall]]'s trend EXISTENCE test (the classical
    * pairing: M-K decides, Sen sizes): the median of all pairwise
    * slopes `(y_j − y_i)/(j − i)` over the rank positions of the
    * ordered series. 29.3% breakdown — a third of the points can be
    * arbitrarily wrong before the estimate moves, where one outlier
    * drags OLS ([[graft.operators.Regression.groupedOls]]) anywhere.
    *
    * Determinism: each pair's slope is ONE fixed double op
    * (`⌊dy·10⁶/dt + 0.5⌋` — dy is an exact integer difference of the
    * integer-valued series, dt an integer rank gap), and the median is
    * the LOWER order statistic (the [[graft.operators.Sketch]] rank
    * convention — no two-element averaging, whose floor-vs-truncate
    * division diverges cross-engine on negative slopes). A pairwise
    * self-join replays it exactly in SQL.
    *
    * Scale shape: [[perSeries]], an O(n²) pair walk per series (monthly
    * series are ~10² points, ~5k pairs). BIGINT bound: |dy|·10⁶ < 2⁶³. */
  def theilSen(df: DataFrame, keyCols: Seq[String], orderCol: String,
               valueCol: String): DataFrame = {
    perSeries(df, keyCols, orderCol, valueCol, None, tsSchema) { (key, y, _) =>
      val n = y.length
      if (n < 2) Iterator.empty
      else {
        val slopes = new Array[Long](n * (n - 1) / 2)
        var m = 0
        var i = 0
        while (i < n) {
          var j = i + 1
          while (j < n) {
            val dy = (y(j) - y(i)).toLong
            slopes(m) = math.floor(dy.toDouble * 1e6 / (j - i) + 0.5).toLong
            m += 1
            j += 1
          }
          i += 1
        }
        java.util.Arrays.sort(slopes)
        Iterator.single(Row(key, n, m.toLong, slopes((m - 1) / 2)))
      }
    }
  }

  /** Rolling-origin AR(1) backtest per key — the honest forecast-accuracy
    * protocol (Tashman 2000): at every origin `t ≥ minTrain`, refit the
    * AR(1)+intercept by conditional least squares on `y₁..y_t` ONLY and
    * score the one-step-ahead prediction against `y_{t+1}`; the readout
    * is the backtest MASE (Σ|model error| / Σ|naive error| over the same
    * origins). [[graft.operators.Metrics.lagForecastMase]] scores a FIXED
    * lag rule; this scores the actual refit-as-you-go pipeline — the
    * difference between "the model fits the past" and "the model would
    * have forecast the future".
    *
    * No recursion and no kernel: the CLS normal equations at EVERY origin
    * are closed forms of four prefix sums (`Σyᵢ, Σyᵢ², Σyᵢyᵢ₋₁` and the
    * first value), so the whole expanding-window refit is ONE window pass
    * — each origin's `(m, Sx, Sy, Sxy, Sxx)` are exact BIGINTs, φ and the
    * forecast are one fixed double tree, per-origin errors e4-quantize,
    * and the final ratio is one integer division. Degenerate origins
    * (zero CLS denominator — constant prefix) are skipped by an exact
    * integer predicate both engines share.
    *
    * Scale shape: one (keys, order) sort carries the lag/lead and all
    * prefix sums; the per-key series-length cost is linear (60 origins =
    * 60 closed-form evaluations, not 60 refits). Caller keeps values in
    * small integer units: Σy² < 2⁶³ and m·Sxx < 2⁶³.
    *
    * Output: `(keys…, n_origins, err_model_e4, err_naive_e4, mase_e6)` —
    * `mase_e6 < 10⁶` ⇔ the refit AR(1) would have beaten the naive
    * carry-forward out of sample. */
  def ar1Backtest(df: DataFrame, keyCols: Seq[String], orderCol: String,
                  valueCol: String, minTrain: Int = 8): DataFrame = {
    require(keyCols.nonEmpty, "ar1Backtest needs at least one key column")
    require(minTrain >= 3, s"minTrain must be >= 3, got $minTrain")
    val part = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
    val ord = part.orderBy(col(orderCol))
    val run = ord.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.currentRow)
    val x = col(valueCol).cast("long")
    val lagged = df.filter(col(orderCol).isNotNull && x.isNotNull)
      .select(col("*"), lag(x, 1).over(ord).as("__lag"),
        lead(x, 1).over(ord).as("__next"),
        row_number().over(ord).cast("long").as("__t"),
        first(x).over(run).as("__y1"))
    val sums = lagged.select(col("*"),
        sum(x).over(run).as("__cum1"),
        sum(x * x).over(run).as("__cum2"),
        sum(x * coalesce(col("__lag"), lit(0L))).over(run).as("__cumL"))
      .filter(col("__t") >= minTrain && col("__next").isNotNull)
      .withColumn("__m", col("__t") - 1L)
      .withColumn("__sx", col("__cum1") - x)
      .withColumn("__sy", col("__cum1") - col("__y1"))
      .withColumn("__sxy", col("__cumL"))
      .withColumn("__sxx", col("__cum2") - x * x)
      .withColumn("__den", col("__m") * col("__sxx") - col("__sx") * col("__sx"))
      .filter(col("__den") =!= 0L)
    // the fixed double tree (mirrored in the SQL oracle): phi from the
    // CLS normal equations, c folded in, one |error| per origin
    val phi = "(cast(__m * __sxy - __sx * __sy as double) / (__m * __sxx - __sx * __sx))"
    val err = s"""cast(floor(abs(cast(__next as double) -
      ((cast(__sy as double) - $phi * __sx) / __m + $phi * cast(`$valueCol` as long)))
      * 10000 + 0.5) as bigint)"""
    sums
      .withColumn("__err_m", expr(err))
      .withColumn("__err_n", abs(col("__next") - x) * 10000L)
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_origins"),
        sum(col("__err_m")).as("err_model_e4"),
        sum(col("__err_n")).as("err_naive_e4"))
      .withColumn("mase_e6",
        expr("err_model_e4 * 1000000 div nullif(err_naive_e4, 0)"))
  }

  private val lbSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("n_obs", IntegerType),
    StructField("h_lags", IntegerType),
    StructField("q_e4", LongType),
    StructField("crit5_e4", LongType),
    StructField("autocorrelated", BooleanType)))

  /** Ljung–Box portmanteau test per key — "is there ANY autocorrelation
    * left": `Q = n(n+2)·Σ_{k≤h} ρ̂_k²/(n−k)` over the sample ACF,
    * compared against the χ²_h 5% critical value. THE residual
    * diagnostic that closes the model-fit loop ([[graft.stats.Sarimax]]
    * fits, [[adfFixedLag]] screens stationarity, this says whether the
    * fit LEFT structure on the table); on a raw series it is the
    * white-noise test.
    *
    * Determinism (the decided-on-rounded convention): each ρ̂_k is
    * HALF_UP-rounded to 4 dp first — exactly the q37 ACF contract both
    * engines already hash-match — then every Q term quantizes to an
    * integer `⌊ρ²/(n−k)·10⁹ + 0.5⌋` before the EXACT integer sum and
    * the one integer division, so no cross-term float accumulation
    * order exists. The verdict compares the quantized Q against the
    * quantized critical literal.
    *
    * Scale shape: [[perSeries]]. Output: `(key, n_obs, h_lags, q_e4,
    * crit5_e4, autocorrelated)`. */
  def ljungBox(df: DataFrame, keyCols: Seq[String], orderCol: String,
               valueCol: String, nlags: Int = 12,
               crit5E4: Long = 210261L): DataFrame = {
    require(nlags >= 1, s"nlags must be >= 1, got $nlags")
    perSeries(df, keyCols, orderCol, valueCol, None, lbSchema) { (key, y, _) =>
      val n = y.length
      if (n <= nlags + 1) Iterator.empty
      else {
        val rho = TimeSeriesStats.acf(y, nlags).map(r =>
          BigDecimal(r).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
        var sumE9 = 0L
        var k = 1
        while (k <= nlags) {
          val r = rho(k - 1)
          sumE9 += math.floor(r * r / (n - k) * 1e9 + 0.5).toLong
          k += 1
        }
        // BigInt product: n·(n+2)·sumE9 can pass 2⁶³ for long series
        // (sumE9 approaches nlags·1e9/2 near the n≈nlags floor), and a
        // silent Long wrap would corrupt q_e4 AND the verdict. DuckDB
        // promotes the same product to HUGEINT, so BigInt here is
        // bit-identical to the oracle in every regime.
        val qE4 = (BigInt(n) * (n + 2) * sumE9 / 100000L).toLong
        Iterator.single(Row(key, n, nlags, qE4, crit5E4, qE4 > crit5E4))
      }
    }
  }

  /** Gumbel block-maxima fit + return level per key (the
    * Fisher–Tippett type-I extreme-value analysis): method-of-moments
    * over the BLOCK MAXIMA — `β = s·√6/π`, `μ = x̄ − γ·β` (γ the
    * Euler–Mascheroni constant) — and the T-block return level
    * `μ − β·ln(−ln(1 − 1/T))`, i.e. "the monthly peak exceeded once
    * every T months". The tail-risk readout the mean/variance profile
    * can't give: capacity planning asks about the worst month, not the
    * average one.
    *
    * Exactness: the maxima come off an exact integer grid aggregate;
    * the fit is ONE fixed double tree over (n, Σm, Σm²) with every
    * factor cast to double before multiplying and the π/γ literals
    * spelled identically in the SQL replay, e4-quantized. Keys with
    * fewer than `minBlocks` maxima or zero variance emit nothing.
    *
    * Scale shape: rows → (key, block) max aggregate (map-side
    * combined) → per-key moment aggregate; both grid-sized. Output:
    * `(keys…, n_blocks, mu_e4, beta_e4, rl_e4)`. */
  def gumbelReturnLevel(df: DataFrame, keyCols: Seq[String], blockCol: String,
                        valueCol: String, returnT: Int = 12,
                        minBlocks: Int = 12): DataFrame = {
    require(keyCols.nonEmpty, "gumbelReturnLevel needs at least one key column")
    require(returnT >= 2, s"returnT must be >= 2, got $returnT")
    val x = col(valueCol).cast("long")
    val maxima = df.filter(col(blockCol).isNotNull && x.isNotNull)
      .groupBy(keyCols.map(col) :+ col(blockCol): _*)
      .agg(max(x).as("__m"))
    val mom = maxima.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_blocks"),
        sum(col("__m")).as("__s1"), sum(col("__m") * col("__m")).as("__s2"))
      .filter(col("n_blocks") >= minBlocks &&
        expr("cast(n_blocks as double) * __s2 - cast(__s1 as double) * __s1") > 0)
    // shared sub-trees, spelled once here and once in the oracle
    val sd = """sqrt((cast(n_blocks as double) * __s2 - cast(__s1 as double) * __s1)
      / (cast(n_blocks as double) * (n_blocks - 1)))"""
    val beta = s"($sd * sqrt(cast(6 as double)) / 3.141592653589793)"
    val mu = s"(cast(__s1 as double) / n_blocks - 0.5772156649015329 * $beta)"
    mom
      .withColumn("mu_e4",
        expr(s"cast(floor($mu * 10000 + 0.5) as bigint)"))
      .withColumn("beta_e4",
        expr(s"cast(floor($beta * 10000 + 0.5) as bigint)"))
      .withColumn("rl_e4", expr(
        s"""cast(floor(($mu - $beta * ln(-ln(1 - cast(1 as double) / $returnT)))
           | * 10000 + 0.5) as bigint)""".stripMargin))
      .drop("__s1", "__s2")
  }

  private val arma11Schema = StructType(Seq(
    StructField("key", StringType),
    StructField("phi", DoubleType),
    StructField("theta", DoubleType),
    StructField("c", DoubleType),
    StructField("step", IntegerType),
    StructField("forecast", DoubleType)))

  /** ARMA(1,1) conditional-least-squares fit + h-step forecast per key —
    * the JOINT (φ, θ) slice of [[Sarimax.fitBest]] (q117 fit the AR
    * side, q213 the MA side; this fits both together): `yₜ = c + φ·yₜ₋₁
    * + εₜ + θ·εₜ₋₁` over the 19×19 grid, with the intercept solved in
    * closed form per candidate. The innovations are LINEAR in c —
    * `eₜ = aₜ − c·bₜ` where `aₜ = yₜ − φ·yₜ₋₁ − θ·aₜ₋₁` and
    * `bₜ = 1 − θ·bₜ₋₁` (e₁ = 0 conditioning) — so `c* = Σab/Σb²` and
    * `SSE_min = Σa² − (Σab)²/Σb²` need no inner optimization. Argmin by
    * (SSE, φ, θ); forecast: `f₁ = c + φ·y_T + θ·e_T`, `f_h = c + φ·f_{h−1}`.
    *
    * Every recursion and the final expressions are fixed-IEEE-order, so
    * a recursive CTE carrying (φ, θ, a, b) replays the whole fit —
    * the grid is what buys SQL-checkability over Gauss-Newton.
    *
    * Scale shape: [[perSeries]], 361·O(n) per series, state O(1). */
  def arma11Forecast(df: DataFrame, keyCols: Seq[String], orderCol: String,
                     valueCol: String, horizon: Int): DataFrame = {
    require(horizon >= 1, s"horizon must be >= 1, got $horizon")
    perSeries(df, keyCols, orderCol, valueCol, None, arma11Schema) { (key, y, _) =>
      val n = y.length
      if (n < 4) Iterator.empty
      else {
        var bestSse = Double.MaxValue
        var bestPhi = 0.0; var bestTh = 0.0
        var bestC = 0.0; var bestE = 0.0
        var k1 = -9
        while (k1 <= 9) {
          val phi = k1 / 10.0
          var k2 = -9
          while (k2 <= 9) {
            val th = k2 / 10.0
            var aPrev = 0.0; var bPrev = 0.0
            var saa = 0.0; var sab = 0.0; var sbb = 0.0
            var t = 1
            while (t < n) {
              val a = y(t) - phi * y(t - 1) - th * aPrev
              val b = 1.0 - th * bPrev
              saa += a * a; sab += a * b; sbb += b * b
              aPrev = a; bPrev = b
              t += 1
            }
            val sse = saa - sab * sab / sbb
            if (sse < bestSse) {
              bestSse = sse; bestPhi = phi; bestTh = th
              val c = sab / sbb
              bestC = c; bestE = aPrev - c * bPrev
            }
            k2 += 1
          }
          k1 += 1
        }
        val f1 = bestC + bestPhi * y(n - 1) + bestTh * bestE
        val fs = Iterator.iterate(f1)(p => bestC + bestPhi * p)
          .take(horizon).toVector
        fs.iterator.zipWithIndex.map { case (f, i) =>
          Row(key, bestPhi, bestTh, bestC, i + 1, f)
        }
      }
    }
  }

  private val ma1Schema = StructType(Seq(
    StructField("key", StringType),
    StructField("theta", DoubleType),
    StructField("mu", DoubleType),
    StructField("step", IntegerType),
    StructField("forecast", DoubleType)))

  /** MA(1) conditional-least-squares fit + h-step forecast per key — the
    * third closed-form-checkable slice of [[Sarimax.fitBest]] (after
    * q117's AR(1) and q211's seasonal-AR(1)), covering the MOVING-AVERAGE
    * side of the grid: `yₜ = μ + εₜ + θ·εₜ₋₁` with the innovations
    * recursion `eₜ = yₜ − μ − θ·eₜ₋₁` (e₀ = y₀ − μ, the CLS convention),
    * θ chosen from the fixed grid −0.9..0.9 step 0.1 by minimum SSE
    * (ascending-θ tie-break). Forecast: `μ + θ·e_T` at step 1, `μ`
    * beyond — MA(1) memory is one innovation deep.
    *
    * The fixed grid is what keeps the fit SQL-replayable: every candidate
    * runs the SAME left-associated IEEE recursion a recursive CTE
    * replays, and argmin-over-19-candidates is order-robust where a
    * Gauss-Newton iterate would not be.
    *
    * Scale shape: [[perSeries]], 19·O(n) per series, state O(1). */
  def ma1Forecast(df: DataFrame, keyCols: Seq[String], orderCol: String,
                  valueCol: String, horizon: Int): DataFrame = {
    require(horizon >= 1, s"horizon must be >= 1, got $horizon")
    perSeries(df, keyCols, orderCol, valueCol, None, ma1Schema) { (key, y, _) =>
      val n = y.length
      if (n < 3) Iterator.empty
      else {
        var s = 0.0; var i = 0
        while (i < n) { s += y(i); i += 1 }
        val mu = s / n
        var bestTh = 0.0; var bestSse = Double.MaxValue; var bestE = 0.0
        var k = -9
        while (k <= 9) {
          val th = k / 10.0
          var e = y(0) - mu
          var sse = e * e
          var t = 1
          while (t < n) { e = y(t) - mu - th * e; sse += e * e; t += 1 }
          if (sse < bestSse) { bestSse = sse; bestTh = th; bestE = e }
          k += 1
        }
        (1 to horizon).iterator.map { h =>
          Row(key, bestTh, mu, h, if (h == 1) mu + bestTh * bestE else mu)
        }
      }
    }
  }

  private val llSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("n_obs", IntegerType),
    StructField("lambda", DoubleType),
    StructField("r_hat", DoubleType),
    StructField("step", IntegerType),
    StructField("forecast", DoubleType),
    StructField("lo", DoubleType),
    StructField("hi", DoubleType)))

  /** Local-level (random-walk-plus-noise) Kalman filter with
    * concentrated-likelihood signal-to-noise selection over a fixed
    * grid — the first hash-checkable slice where the KALMAN RECURSION
    * ITSELF reaches the oracle (the q117/q211/q213/q218/q336 CLS slices
    * cover the ARMA algebra; q39/q69's remaining `no_oracle` core is
    * exactly this filter plus continuous optimization — this pins the
    * filter and a grid argmin, leaving only the optimizer unchecked).
    *
    * Model `yₜ = μₜ + ε (Var r)`, `μₜ = μₜ₋₁ + η (Var q)`, λ = q/r.
    * Scaled filter in units of r (convention: m₁ = y₁, P₁ = λ + 1, the
    * first innovation at t = 2): `v = y − m`, `f = P + 1`, `k = P/f`,
    * `m ← m + k·v`, `P ← P(1 − k) + λ`, accumulating `Σv²/f` and
    * `Σ ln f`. Concentrating r out: `r̂ = Σ(v²/f)/cnt` and the argmin of
    * `cnt·ln r̂ + Σ ln f` over λ ∈ {0.1, 0.5, 1, 2, 10} (ascending-grid
    * first-minimum tie-break, the ma1Forecast discipline). Forecast is
    * the flat last filtered level with widening 95% bands
    * `±1.96·√(r̂·(P_T + (h−1)λ + 1))` — every float from ONE fixed
    * left-associated IEEE recursion a recursive CTE replays per
    * candidate.
    *
    * Scale shape: [[perSeries]], 5·O(n) per series, O(1) state. */
  def localLevelForecast(df: DataFrame, keyCols: Seq[String], orderCol: String,
                         valueCol: String, horizon: Int): DataFrame = {
    require(horizon >= 1, s"horizon must be >= 1, got $horizon")
    val grid = Array(0.1, 0.5, 1.0, 2.0, 10.0)
    perSeries(df, keyCols, orderCol, valueCol, None, llSchema) { (key, y, _) =>
      val n = y.length
      if (n < 3) Iterator.empty
      else {
        var bestLam = 0.0; var bestNll = Double.MaxValue
        var bestM = 0.0; var bestP = 0.0; var bestR = 0.0
        var g = 0
        while (g < grid.length) {
          val lam = grid(g)
          var m = y(0); var p = lam + 1.0
          var sv = 0.0; var slf = 0.0
          var t = 1
          while (t < n) {
            val v = y(t) - m
            val f = p + 1.0
            sv += v * v / f
            slf += math.log(f)
            val k = p / f
            m += k * v
            p = p * (1.0 - k) + lam
            t += 1
          }
          val cnt = (n - 1).toDouble
          val rHat = sv / cnt
          val nll = cnt * math.log(rHat) + slf
          if (nll < bestNll) {
            bestNll = nll; bestLam = lam; bestM = m; bestP = p; bestR = rHat
          }
          g += 1
        }
        (1 to horizon).iterator.map { h =>
          val sd = math.sqrt(bestR * (bestP + (h - 1).toDouble * bestLam + 1.0))
          Row(key, n, bestLam, bestR, h,
            bestM, bestM - 1.96 * sd, bestM + 1.96 * sd)
        }
      }
    }
  }

  private val llrSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("n_obs", IntegerType),
    StructField("lambda0_e6", LongType),
    StructField("lam_hat_e6", LongType),
    StructField("r_hat_e6", LongType),
    StructField("nll_e6", LongType),
    StructField("forecast_e4", LongType)))

  /** CONTINUOUS-OPTIMIZER slice for the Kalman-MLE family — the
    * graduation the q39/q69 `no_oracle` residue has been waiting on:
    * q338 checked the filter recursion + the discrete grid argmin; this
    * checks a fixed-depth TERNARY-SEARCH REFINEMENT of λ between the
    * winning grid point's neighbors (two rounds, probes e6-ROUNDED so
    * both engines evaluate the NLL at bit-identical λ's, then the
    * midpoint). After this, the only unchecked optimizer surface in the
    * family is unbounded iteration count — the line-search STEP itself
    * is oracle-replayed (each probe is one more parametrized replay of
    * the q338 recursive CTE).
    *
    * Protocol (deterministic, both engines): grid {0.1,0.5,1,2,10} →
    * first-minimum λ₀; bracket [below, above] (edges: λ₀/2, 2λ₀);
    * 2 × { p₁ = r₆(lo+(hi−lo)/3), p₂ = r₆(hi−(hi−lo)/3); NLL(p₁) <
    * NLL(p₂) ? hi = p₂ : lo = p₁ }; λ̂ = r₆((lo+hi)/2). Readouts e6/e4
    * floor-quantized. Output one row per key. */
  def localLevelRefined(df: DataFrame, keyCols: Seq[String], orderCol: String,
                        valueCol: String): DataFrame = {
    val grid = Array(0.1, 0.5, 1.0, 2.0, 10.0)
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    def e6(x: Double) = math.floor(x * 1e6 + 0.5).toLong
    perSeries(df, keyCols, orderCol, valueCol, None, llrSchema) { (key, y, _) =>
      val n = y.length
      if (n < 3) Iterator.empty
      else {
        // (nll, m, p, rhat) at λ — the q338 scaled filter verbatim
        def run(lam: Double): (Double, Double, Double, Double) = {
          var m = y(0); var p = lam + 1.0
          var sv = 0.0; var slf = 0.0
          var t = 1
          while (t < n) {
            val v = y(t) - m
            val f = p + 1.0
            sv += v * v / f
            slf += math.log(f)
            val k = p / f
            m += k * v
            p = p * (1.0 - k) + lam
            t += 1
          }
          val cnt = (n - 1).toDouble
          val rHat = sv / cnt
          (cnt * math.log(rHat) + slf, m, p, rHat)
        }
        var bi = 0; var bn = Double.MaxValue
        var g = 0
        while (g < grid.length) {
          val nl = run(grid(g))._1
          if (nl < bn) { bn = nl; bi = g }
          g += 1
        }
        val lam0 = grid(bi)
        var lo = if (bi == 0) r6(lam0 / 2.0) else grid(bi - 1)
        var hi = if (bi == grid.length - 1) r6(lam0 * 2.0) else grid(bi + 1)
        var r = 0
        while (r < 2) {
          val p1 = r6(lo + (hi - lo) / 3.0)
          val p2 = r6(hi - (hi - lo) / 3.0)
          if (run(p1)._1 < run(p2)._1) hi = p2 else lo = p1
          r += 1
        }
        val lamHat = r6((lo + hi) / 2.0)
        val (nll, m, _, rHat) = run(lamHat)
        Iterator.single(Row(key, n, e6(lam0), e6(lamHat), e6(rHat),
          e6(nll), math.floor(m * 1e4 + 0.5).toLong))
      }
    }
  }

  /** Pairwise Dynamic Time Warping distance between every two keys'
    * series — alignment-tolerant similarity ("same shape, shifted or
    * stretched phase") that Euclidean/rolling-corr distance cannot give:
    * the classic series-clustering / nearest-history primitive (Sakoe &
    * Chiba 1978). Full O(n·m) DP per pair, `cost = |aᵢ − bⱼ|`,
    * `dp(i,j) = cost + min(min(dp(i,j−1), dp(i−1,j)), dp(i−1,j−1))`.
    *
    * Hash-checkable because the DP is ONE fixed left-associated IEEE
    * recursion: the oracle replays it cell-by-cell in row-major order
    * with a recursive CTE carrying the previous DP row as a list — the
    * first DP-table recursion in the oracle suite (the q338 Kalman
    * recursion is O(1)-state; this one carries O(n) state per step).
    *
    * Scale shape: per-PAIR kernel inside its executor; pairs =
    * bounded-key contract (the pairwise-corr convention — key count is
    * small, the nested-loop pair join is broadcast-sized). Series
    * length is fail-loud-capped at `maxN` (O(n·m) per pair — past it,
    * pre-aggregate to a coarser time grid upstream).
    * Output: `(key_a, key_b, n_a, n_b, dtw, dtw_norm)` with
    * `dtw_norm = dtw/(n_a+n_b)` (the path-length-normalized readout). */
  def dtwPairwise(df: DataFrame, keyCols: Seq[String], orderCol: String,
                  valueCol: String, maxN: Int = 512): DataFrame = {
    require(maxN >= 2 && maxN <= 4096, s"maxN must be in [2,4096], got $maxN")
    val spark = df.sparkSession
    import spark.implicits._
    val ser = slim(df, keyCols, orderCol, valueCol)
      .groupByKey(_._1)(Encoders.STRING)
      .mapGroups { (k, it) => (k, seriesX(it)._1) }
      .toDF("k", "s")
    val pairs = ser.as("a").join(ser.as("b"), col("a.k") < col("b.k"))
      .select(col("a.k").as("ka"), col("b.k").as("kb"),
        col("a.s").as("sa"), col("b.s").as("sb"))
      .as[(String, String, Array[Double], Array[Double])]
    pairs.map { case (ka, kb, a, b) =>
      require(a.length <= maxN && b.length <= maxN,
        s"dtwPairwise: series longer than maxN=$maxN (O(n*m) per pair) — " +
          "pre-aggregate to a coarser time grid upstream")
      val n = a.length; val m = b.length
      var prev = Array.fill(n + 1)(Double.PositiveInfinity)
      prev(0) = 0.0
      var cur = new Array[Double](n + 1)
      var j = 1
      while (j <= m) {
        cur(0) = Double.PositiveInfinity
        var i = 1
        while (i <= n) {
          val cost = math.abs(a(i - 1) - b(j - 1))
          cur(i) = cost + math.min(math.min(prev(i), cur(i - 1)), prev(i - 1))
          i += 1
        }
        val t = prev; prev = cur; cur = t
        j += 1
      }
      val dtw = prev(n)
      (ka, kb, n, m, math.floor(dtw * 1e4 + 0.5) / 1e4,
        math.floor(dtw / (n + m).toDouble * 1e6 + 0.5) / 1e6)
    }.toDF("key_a", "key_b", "n_a", "n_b", "dtw", "dtw_norm")
  }

  private val sarSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("season", IntegerType),
    StructField("step", IntegerType),
    StructField("forecast", DoubleType)))

  /** Seasonal-AR(1) CLS fit + h-step forecast per key — the second
    * closed-form-checkable slice of [[Sarimax.fitBest]] after q117's
    * AR(1): `yₜ = c + Φ·yₜ₋ₛ + ε` fit by OLS over the (yₜ₋ₛ, yₜ)
    * pairs, forecast by the seasonal recursion `f(h) = c + Φ·val(T+h−s)`
    * where `val` is OBSERVED for h ≤ s and the EARLIER FORECAST for
    * h > s. With horizon ≤ 2s the recursion composes to a fixed-depth
    * expression (`c + Φ·(c + Φ·y)`), which is what keeps every double
    * bit-replayable by a SQL oracle (the q117/holtForecast property:
    * fixed IEEE op order, no optimizer).
    *
    * Scale shape: [[perSeries]], O(n) per series. Series shorter than
    * s+2 pairs or with a singular design yield no rows.
    * Output: one row per (key, season, step 1..horizon). */
  def seasonalArForecast(df: DataFrame, keyCols: Seq[String], orderCol: String,
                         valueCol: String, season: Int,
                         horizon: Int): DataFrame = {
    require(season >= 1, s"season must be >= 1, got $season")
    require(horizon >= 1, s"horizon must be >= 1, got $horizon")
    perSeries(df, keyCols, orderCol, valueCol, None, sarSchema) { (key, y, _) =>
      val n = y.length
      if (n < season + 2) Iterator.empty
      else {
        var cnt = 0.0; var sy = 0.0; var sx = 0.0
        var sxy = 0.0; var sxx = 0.0
        var t = season
        while (t < n) {
          val yt = y(t); val yl = y(t - season)
          cnt += 1; sy += yt; sx += yl; sxy += yt * yl; sxx += yl * yl
          t += 1
        }
        val den = cnt * sxx - sx * sx
        if (den == 0.0) Iterator.empty
        else {
          val c0 = (sxx * sy - sx * sxy) / den
          val phi = (cnt * sxy - sx * sy) / den
          val ext = new Array[Double](n + horizon)
          System.arraycopy(y, 0, ext, 0, n)
          val rows = (1 to horizon).map { h =>
            val f = c0 + phi * ext(n + h - 1 - season)
            ext(n + h - 1) = f
            Row(key, season, h, f)
          }
          rows.iterator
        }
      }
    }
  }

  // ------------------------------------------------------------- U8: SARIMAX

  /** One fitted SARIMAX model per series, flattened for Spark transport.
    * `armaBase`/`yTail`/`xTail` are the [[Sarimax.ForecastKernel]] pieces:
    * the forecast mean is LINEAR in the future exog path, so downstream
    * consumers (the Monte-Carlo fan) turn each simulated path into a
    * forecast with one O(h) pass — the model is never re-fit per path.
    * `mu`/`sigma`/`lastX` are the exog random-walk drift parameters
    * (reference `fit_rw_drift_params`: mean and ddof-1 std of the last
    * `fitWindow` first differences, degenerate series → (0, 0)). */
  final case class SarimaxModelRow(
      key: String, order: String, seasonal: String, aic: Double,
      intercept: Double, beta: Double, sigma2: Double,
      p: Int, d: Int, q: Int, sp: Int, sd: Int, sq: Int, s: Int,
      armaBase: Array[Double], yTail: Array[Double], xTail: Array[Double],
      lastX: Double, mu: Double, sigma: Double)

  /** Rebuild the forecast kernel from a transported model row. */
  def kernelOf(m: SarimaxModelRow): Sarimax.ForecastKernel =
    Sarimax.ForecastKernel(
      Sarimax.SarimaxSpec(m.p, m.d, m.q, m.sp, m.sd, m.sq, m.s),
      m.intercept, m.beta, m.armaBase, m.yTail, m.xTail)

  /** Fit the AIC-best SARIMAX candidate per key (reference notebook cells
    * 27/30/32 `fit_best_sarimax` over `CANDIDATE_ORDERS`) — each series
    * fits INSIDE its executor; keys where every candidate fails yield no
    * row. Exog nulls are filled with 0 (reference `fillna(0)`); rows with
    * null target are dropped (reference aligns on `y.notna()`). */
  def sarimaxModels(df: DataFrame, keyCols: Seq[String], orderCol: String,
                    valueCol: String, exogCol: Option[String], horizon: Int,
                    candidates: Seq[Sarimax.SarimaxSpec] = Sarimax.ReferenceCandidates,
                    fitWindow: Int = 60): org.apache.spark.sql.Dataset[SarimaxModelRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    // the same (d, D, s) guard fitBest enforces — the per-candidate fan
    // below replaces fitBest, so the invalid-ranking check moves here
    require(candidates.map(c => (c.d, c.D, c.s)).distinct.size <= 1,
      "sarimaxModels candidates must share (d, D, s): AIC across different " +
        "differencing orders compares likelihoods over different samples")
    // The NM grid is the whole cost and each candidate fit is independent,
    // so parallelize over (key × candidate), not key: with few keys the
    // per-key shape leaves the cluster idle while each task runs the grid
    // serially. AQE coalesces shuffle partitions by BYTES: a (key,
    // candidate) row carries two short series while its fit costs tens of
    // milliseconds, so a hash shuffle on (key, candidate) folds every fit
    // into one task. A by-number round-robin repartition is never
    // coalesced: it spreads the byte-light, compute-heavy fit stage over
    // every core.
    val fanned = slim(df, keyCols, orderCol, valueCol, exogCol)
      .groupByKey(_._1)
      .flatMapGroups { (key, it) =>
        val (y, x) = seriesX(it)
        candidates.indices.map(ci => (key, ci, y, x))
      }
    val fits = fanned
      .repartition(spark.sparkContext.defaultParallelism)
      .flatMap { case (key, ci, y, x) =>
        val xOpt = exogCol.map(_ => x)
        Sarimax.fit(y, xOpt, candidates(ci)).iterator.map { fit =>
          val kern = Sarimax.forecastKernel(fit, y, xOpt, horizon)
          // exog RW drift from the trailing window (ddof=1), reference shape
          val tail = x.takeRight(math.min(fitWindow, x.length))
          val dx = Array.tabulate(math.max(tail.length - 1, 0))(i => tail(i + 1) - tail(i))
          val (mu, sigma) =
            if (dx.length < 5) (0.0, 0.0)
            else {
              val m = dx.sum / dx.length
              val v = dx.map(d0 => (d0 - m) * (d0 - m)).sum / (dx.length - 1)
              (m, if (v.isNaN) 0.0 else math.sqrt(v))
            }
          (ci, SarimaxModelRow(key,
            s"(${fit.spec.p},${fit.spec.d},${fit.spec.q})",
            s"(${fit.spec.P},${fit.spec.D},${fit.spec.Q},${fit.spec.s})",
            fit.aic, fit.intercept, fit.beta, fit.sigma2,
            fit.spec.p, fit.spec.d, fit.spec.q, fit.spec.P, fit.spec.D, fit.spec.Q, fit.spec.s,
            kern.armaBase, kern.yTail, kern.xTail,
            if (x.isEmpty) 0.0 else x.last, mu, sigma))
        }
      }
    // AIC argmin per key; ties break to the LOWEST candidate index,
    // replicating fitBest's first-minimum (candidate-order) semantics
    fits.groupByKey(_._2.key)
      .reduceGroups((a, b) =>
        if (b._2.aic < a._2.aic || (b._2.aic == a._2.aic && b._1 < a._1)) b else a)
      .map(_._2._2)
  }

  /** Per-key Wald–Wolfowitz RUNS test over an ordered boolean sequence
    * — "is the order random", the axis none of the other tests cover
    * ([[mannKendall]] asks about monotone trend, [[ljungBox]] about
    * linear autocorrelation; the runs test catches ANY clumping or
    * alternation of a binary mark — deploy flags, error indicators,
    * above-median marks): with `R` runs, `n₁`/`n₀` marks,
    * `μ = 2n₁n₀/n + 1`, `σ² = 2n₁n₀(2n₁n₀ − n)/(n²(n−1))`,
    * `z = (R − μ)/σ`; too FEW runs (z < 0) is clumping, too MANY is
    * alternation.
    *
    * Exactness: R = 1 + Σ transitions and the counts come off ONE lag
    * window as exact integers (2n₁n₀ widens through DECIMAL); z is ONE
    * fixed double tree e4-quantized, verdict on the ROUNDED |z| > 1.96.
    * Ties on `orderCol` break by `tieCols` (totality convention). Keys
    * with n₁ = 0 or n₀ = 0 emit null (a constant sequence has no
    * randomness question). Output: `(keys…, n, n_true, n_runs, z_e4,
    * significant)`.
    *
    * Scale shape (round 17 — the [[graft.operators.SegmentedOrder]]
    * rewrite): a plain per-key lag window is ONE SORT TASK PER KEY,
    * and the whole-engine 100× sweep caught it (6 event types × 10M
    * rows = 17 s on 32 mostly-idle cores). Transitions are a SEGMENTED
    * sum: rows bucket into ≤1024 order-range segments per key, the lag
    * window runs per (key, bucket) — parallelism keys × buckets — and
    * the only cross-bucket fact, the boundary pair, stitches on the
    * buckets-sized table (each bucket's first/last flag via min_by/
    * max_by on the order) with one more tiny lag. Bit-identical R:
    * every adjacent pair is counted exactly once, inside its bucket or
    * on the stitch. */
  def runsTest(df: DataFrame, keyCols: Seq[String], orderCol: String,
               flagCol: String, tieCols: Seq[String] = Nil): DataFrame = {
    require(keyCols.nonEmpty, "runsTest needs at least one key column")
    import org.apache.spark.sql.expressions.Window
    import graft.operators.SegmentedOrder
    val k = keyCols.map(col)
    val f = col(flagCol)
    val ordCols = col(orderCol) +: tieCols.map(col)
    val ordStruct = struct(ordCols: _*)
    val base = graft.functions.Cols.dropNullKeys(df, keyCols)
      .filter(f.isNotNull && col(orderCol).isNotNull)
    val rows = SegmentedOrder.withBuckets(
      base.select(k ++ ordCols :+ f.as("__f"): _*),
      keyCols, SegmentedOrder.leadOf(base, orderCol))
    val wB = Window.partitionBy(k :+ col("__bkt"): _*).orderBy(ordCols: _*)
    val seg = rows
      .withColumn("__prev", lag(col("__f"), 1).over(wB))
      .groupBy(k :+ col("__bkt"): _*)
      .agg(count(lit(1)).as("__n"),
        sum(when(col("__f"), 1L).otherwise(0L)).as("__nt"),
        sum(when(col("__prev").isNotNull && col("__prev") =!= col("__f"), 1L)
          .otherwise(0L)).as("__tr"),
        min_by(col("__f"), ordStruct).as("__first"),
        max_by(col("__f"), ordStruct).as("__last"))
    val wK = Window.partitionBy(k: _*).orderBy(col("__bkt"))
    val sums = seg
      .withColumn("__pl", lag(col("__last"), 1).over(wK))
      .groupBy(k: _*)
      .agg(sum(col("__n")).as("n"),
        sum(col("__nt")).as("n_true"),
        (sum(col("__tr")) +
          sum(when(col("__pl").isNotNull && col("__pl") =!= col("__first"), 1L)
            .otherwise(0L)) + 1L).as("n_runs"))
    val tn = "(cast(2 as decimal(38,0)) * n_true * (n - n_true))" // 2·n1·n0
    val mu = s"(cast($tn as double) / cast(n as double) + 1.0)"
    val v = s"""(cast($tn as double) * (cast($tn as double) - cast(n as double))
               | / (cast(n as double) * cast(n as double) * cast(n - 1 as double)))"""
      .stripMargin.replaceAll("\n", " ")
    sums
      .withColumn("z_e4", expr(
        s"""case when n_true > 0 and n_true < n and n > 1 and $v > 0 then
           |  cast(floor((cast(n_runs as double) - $mu) / sqrt($v)
           |    * 10000 + 0.5) as bigint)
           |end""".stripMargin))
      .withColumn("significant",
        when(col("z_e4").isNotNull, abs(col("z_e4")) > 19600L))
  }

  /** Per-key Newey–West (HAC) standard error of the MEAN at a fixed
    * Bartlett lag — the honest uncertainty for a time-series average
    * ([[adfFixedLag]] asks "is it stationary", this asks "given the
    * autocorrelation, how wrong is the iid SE" — positively correlated
    * monthly revenue makes the naive CI overconfident by exactly the
    * inflation factor this emits):
    * `lrv = γ₀ + 2·Σ_{l≤L} (1 − l/(L+1))·γ_l`, `se = √(lrv/n)`.
    *
    * Exactness (the jarqueBera shift discipline): the integer per-key
    * mean `c = Σy div n` joins back and every lag cross-product
    * accumulates over the SHIFTED values as exact DECIMAL(38,0) — the
    * mean-correction algebra `γ_l = (S_l − μ(A_l + B_l) + (n−l)μ²)/n`
    * runs over exact sums with the small residual mean μ = S₁/n, so no
    * cancellation; the L+1 lags stack on ONE window sort (the
    * adfFixedLag layout). lrv/se/inflation are one fixed double tree
    * each, e6/e4-quantized. Keys with n ≤ maxLag or zero variance emit
    * nulls.
    *
    * Scale shape: one (keys) shuffle shared by the window and the
    * aggregate; per-key state is the 3·(L+1) sums. Output: `(keys…, n,
    * mean_e6, se_iid_e6, se_hac_e6, inflation_e4)`. */
  def neweyWestSe(df: DataFrame, keyCols: Seq[String], orderCol: String,
                  valueCol: String, maxLag: Int = 4): DataFrame = {
    require(keyCols.nonEmpty, "neweyWestSe needs at least one key column")
    require(maxLag >= 1 && maxLag <= 24, s"maxLag must be in [1, 24], got $maxLag")
    import org.apache.spark.sql.expressions.Window
    val k = keyCols.map(col)
    val y = col(valueCol).cast("long")
    val base = graft.functions.Cols.dropNullKeys(df, keyCols)
      .filter(y.isNotNull && col(orderCol).isNotNull)
      .select(k :+ col(orderCol).as("__ord") :+ y.as("__y"): _*)
      // lazy localCheckpoint: the mean pass, the lag window, and the
      // final join all read this frame — bound the input re-scans to one
      .localCheckpoint(false)
    val means = base.groupBy(k: _*)
      .agg(count(lit(1)).as("__n"), sum(col("__y")).as("__sy"))
      .withColumn("__c", expr("__sy div __n"))
    val wOrd = Window.partitionBy(k: _*).orderBy(col("__ord"))
    val lagged = base.join(broadcast(means.select(k :+ col("__c"): _*)), keyCols)
      .withColumn("__d", col("__y") - col("__c"))
    val withLags = (1 to maxLag).foldLeft(lagged) { (acc, l) =>
      acc.withColumn(s"__d$l", lag(col("__d"), l).over(wOrd))
    }
    val aggs = Seq(
      count(lit(1)).as("n"),
      sum(expr("cast(__d as decimal(38,0))")).as("__s1"),
      sum(expr("cast(__d as decimal(38,0)) * __d")).as("__g0")) ++
      (1 to maxLag).flatMap { l =>
        Seq(
          sum(expr(s"cast(__d as decimal(38,0)) * __d$l")).as(s"__sl$l"),
          sum(expr(s"case when __d$l is not null then cast(__d as decimal(38,0)) else cast(0 as decimal(38,0)) end")).as(s"__a$l"),
          sum(expr(s"coalesce(cast(__d$l as decimal(38,0)), cast(0 as decimal(38,0)))")).as(s"__b$l"))
      }
    val sums = withLags.groupBy(k: _*).agg(aggs.head, aggs.tail: _*)
      .join(means.select(k :+ col("__sy"): _*), keyCols)
    val mu = "(cast(__s1 as double) / cast(n as double))"
    val g0 = s"((cast(__g0 as double) - $mu * cast(__s1 as double)) / cast(n as double))"
    val gl = (1 to maxLag).map { l =>
      s"""((cast(__sl$l as double) - $mu * (cast(__a$l as double) + cast(__b$l as double))
         |  + cast(n - $l as double) * $mu * $mu) / cast(n as double))"""
        .stripMargin.replaceAll("\n", " ")
    }
    val lrv = (Seq(g0) ++ gl.zipWithIndex.map { case (g, i) =>
      val l = i + 1
      s"2.0 * (1.0 - ${l}.0 / ${maxLag + 1}.0) * $g"
    }).mkString("(", " + ", ")")
    sums
      .withColumn("mean_e6",
        expr("cast(cast(__sy as decimal(38,0)) * 1000000 div n as bigint)"))
      .withColumn("se_iid_e6", expr(
        s"""case when n > $maxLag and $g0 > 0 then
           |  cast(floor(sqrt($g0 / cast(n as double)) * 1000000 + 0.5) as bigint)
           |end""".stripMargin))
      .withColumn("se_hac_e6", expr(
        s"""case when n > $maxLag and $g0 > 0 and $lrv > 0 then
           |  cast(floor(sqrt($lrv / cast(n as double)) * 1000000 + 0.5) as bigint)
           |end""".stripMargin))
      .withColumn("inflation_e4", expr(
        s"""case when n > $maxLag and $g0 > 0 and $lrv > 0 then
           |  cast(floor(sqrt($lrv / $g0) * 10000 + 0.5) as bigint)
           |end""".stripMargin))
      .select(k :+ col("n") :+ col("mean_e6") :+ col("se_iid_e6") :+
        col("se_hac_e6") :+ col("inflation_e4"): _*)
  }

  /** The e15-quantized cos/sin coefficient grid for [[periodogramFixed]]'s
    * n-point DFT: one row per (k, t) with `c = ⌊cos(2πkt/n)·10¹⁵ + 0.5⌋`
    * (reduced mod n first so the argument never leaves [0, 2π)). SHARED
    * by the Spark operator and the oracle-SQL renderer — the srpSigns
    * convention: inlining the identical integer table into both engines
    * removes trigonometry from the cross-engine surface entirely (libm
    * cos and JVM Math.cos differ in last-ulp places; two integer tables
    * generated from one definition cannot). */
  def dftTableE15(n: Int): Seq[(Int, Int, Long, Long)] =
    for (k <- 1 to n / 2; t <- 0 until n) yield {
      val m = (k.toLong * t % n).toInt
      val a = 2.0 * math.Pi * m / n
      (k, t, math.floor(math.cos(a) * 1e15 + 0.5).toLong,
        math.floor(math.sin(a) * 1e15 + 0.5).toLong)
    }

  /** Fixed-n periodogram per key — the hash-checkable graduation of the
    * U6 seasonal-period estimate (q34's `seasonalPeriod` stays as the
    * auto-length FFT path): an n-point DFT over the LAST n observations
    * of each series, `I(k) = (S_c² + S_s²)` in squared value units with
    * `S_c = Σ_t x_t·cos(2πkt/n)`, read out as each frequency's SHARE of
    * the peak power plus the peak flag — `period ≈ n/k_peak` is the
    * dominant cycle length.
    *
    * No demeaning needed: over EXACTLY n points the constant component
    * is orthogonal to every k ≥ 1 bin (Σ_t e^(−2πikt/n) = 0), so the
    * mean leaks only into the k = 0 bin, which is not emitted. Keys
    * with fewer than n observations drop (the orthogonality argument
    * needs exactly n — documented contract).
    *
    * Exactness: the cos/sin table is [[dftTableE15]]'s integer grid, so
    * `S_c`/`S_s` are EXACT DECIMAL(38,0) sums of x·c products
    * (order-independent); `I(k)` is one fixed double tree off the two
    * decimal casts ((sc/10¹⁵)² + (ss/10¹⁵)² — round-to-nearest decimal→
    * double agrees across engines, the cohenKappa precedent), the peak
    * is an order-independent `max`, and the share is one division
    * e6-quantized. The only non-replayable piece of U6 — engine trig —
    * never executes at query time in either engine.
    *
    * Scale shape: one (keys) window ranks the tail-n rows; the 2048-row
    * (n = 64) coefficient grid broadcast-joins on t; per-(key, k) sums
    * map-side combine; grid-sized windows after. Output: `(keys…, k,
    * period_e3, share_e6, is_peak)` for k = 1..n/2. */
  def periodogramFixed(df: DataFrame, keyCols: Seq[String], ordCol: String,
                       valueCol: String, n: Int = 64): DataFrame = {
    require(keyCols.nonEmpty, "periodogramFixed needs at least one key column")
    require(n >= 4 && n <= 256 && n % 2 == 0,
      s"n must be even in [4, 256], got $n")
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    import spark.implicits._
    val k = keyCols.map(col)
    val coef = dftTableE15(n).toDF("__k", "__t", "__c", "__s")
    val wDesc = Window.partitionBy(k: _*).orderBy(col(ordCol).desc)
    val tail = df.filter(col(valueCol).isNotNull)
      .withColumn("__rnd", row_number().over(wDesc))
      .filter(col("__rnd") <= n)
      .withColumn("__cnt", count(lit(1)).over(Window.partitionBy(k: _*)))
      .filter(col("__cnt") === n)
      // t ascending in time over the kept tail: 0 .. n-1
      .withColumn("__t", (lit(n) - col("__rnd")).cast("int"))
      .select(k :+ col("__t") :+ col(valueCol).cast("long").as("__x"): _*)
    val sums = tail.join(broadcast(coef), Seq("__t"))
      .groupBy(k :+ col("__k"): _*)
      .agg(sum(expr("cast(__x as decimal(38,0)) * __c")).as("__sc"),
        sum(expr("cast(__x as decimal(38,0)) * __s")).as("__ss"))
    val ik = """((cast(__sc as double) / 1e15) * (cast(__sc as double) / 1e15)
               | + (cast(__ss as double) / 1e15) * (cast(__ss as double) / 1e15))"""
      .stripMargin.replaceAll("\n", " ")
    val wKey = Window.partitionBy(k: _*)
    sums
      .withColumn("__ik", expr(ik))
      .withColumn("__mik", max(col("__ik")).over(wKey))
      .withColumn("period_e3",
        expr(s"cast(floor(cast($n as double) / cast(__k as double) * 1000 + 0.5) as bigint)"))
      .withColumn("share_e6", expr(
        """case when __mik > 0 then
          |  cast(floor(__ik / __mik * 1000000 + 0.5) as bigint) end""".stripMargin))
      .withColumn("is_peak",
        when(col("__mik") > 0, col("__ik") === col("__mik")))
      .select(k :+ col("__k").as("k") :+ col("period_e3") :+
        col("share_e6") :+ col("is_peak"): _*)
  }

  /** Renders [[dftTableE15]] as a DuckDB VALUES list `(k, t, c, s)` for
    * the oracle SQL — ONE table definition feeding both engines. */
  def dftTableSql(n: Int): String =
    dftTableE15(n).map { case (k, t, c, s) => s"($k, $t, $c, $s)" }
      .mkString(", ")

  /** Yeo-Johnson λ GRID MLE per key — the q338-Kalman pattern applied
    * to q34's LAST unchecked kernel (the golden-section λ fit, U4):
    * hash-check the data-driven SELECTION over a fixed e1 λ grid
    * (−5.0..5.0 by 0.1), leaving only the continuous line-search
    * refinement as the documented optimizer residue (the q360 class).
    * The scipy objective: `llf(λ) = −n/2·ln(σ̂²(z)) + (λ−1)·Σ
    * sign(x)·ln(1+|x|)` over the transformed `z = yj(x, λ)`.
    *
    * Exactness: per-(row, λ) z is ONE fixed branch tree (the q36
    * closed-form transform, with `ln(1+·)` spelled identically in both
    * engines) e6-floor-quantized — so Σz, Σz² are ORDER-FREE exact
    * DECIMAL sums (the accepted pow-tree ulp risk sits under the e6
    * grain, the q36 round-5 precedent); the sign-log moment quantizes
    * the same way; σ̂² and llf are one double tree each, llf e6-rounded
    * with the argmax on exact integers (ties → smaller λ). Rows explode
    * ×101 BEFORE a map-side-combined aggregate (the didPlacebo shape) —
    * cost linear in the grid. `valueCol` must be pre-scaled to O(1–100)
    * (the q338 input convention) so z⁶ stays in integer range.
    *
    * Output: the full grid — `(keys…, lambda_e1, n, llf_e6, is_best)`,
    * one row per λ with the winner flagged (smallest λ at the max). */
  def yeoJohnsonGrid(df: DataFrame, keyCols: Seq[String],
                     valueCol: String): DataFrame = {
    require(keyCols.nonEmpty, "yeoJohnsonGrid needs at least one key column")
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    import spark.implicits._
    val k = keyCols.map(col)
    val grid = (-50 to 50).map(_.toLong).toDF("lambda_e1")
    val lam = "(cast(lambda_e1 as double) / 10.0)"
    // the q36 closed-form transform, branched on sign(x) and the two
    // singular λ's (exact grid members 0 and 2 — no epsilon tests)
    val z =
      s"""(case
         |  when __x >= 0 and lambda_e1 = 0 then ln(1.0 + __x)
         |  when __x >= 0 then (power(__x + 1.0, $lam) - 1.0) / $lam
         |  when lambda_e1 = 20 then -ln(1.0 - __x)
         |  else -(power(1.0 - __x, 2.0 - $lam) - 1.0) / (2.0 - $lam)
         |end)""".stripMargin.replaceAll("\n", " ")
    val sl = "(case when __x >= 0 then ln(1.0 + __x) else -ln(1.0 - __x) end)"
    val rows = graft.functions.Cols.dropNullKeys(df, keyCols)
      .filter(col(valueCol).isNotNull)
      .select(k :+ col(valueCol).cast("double").as("__x"): _*)
      .crossJoin(broadcast(grid))
      .withColumn("__zq", expr(
        s"cast(floor($z * 1000000 + 0.5) as decimal(38,0))"))
      .withColumn("__slq", expr(
        s"cast(floor($sl * 1000000 + 0.5) as bigint)"))
    val perLam = rows.groupBy(k :+ col("lambda_e1"): _*)
      .agg(count(lit(1)).as("n"), sum(col("__zq")).as("__sz"),
        sum(col("__zq") * col("__zq")).as("__szz"),
        sum(col("__slq")).as("__sl"))
    val v = """((cast(n as double) * cast(__szz as double)
              | - cast(__sz as double) * cast(__sz as double))
              | / (cast(n as double) * cast(n as double)) / 1e12)"""
      .stripMargin.replaceAll("\n", " ")
    val llf = s"(-0.5 * n * ln($v) + ($lam - 1.0) * (cast(__sl as double) / 1e6))"
    val wKey = Window.partitionBy(k: _*)
    perLam
      .withColumn("llf_e6", expr(
        s"""case when n >= 3 and $v > 0 then
           |  cast(floor($llf * 1000000 + 0.5) as bigint) end""".stripMargin))
      .withColumn("__mx", max(col("llf_e6")).over(wKey))
      .withColumn("__bl",
        min(when(col("llf_e6") === col("__mx"), col("lambda_e1"))).over(wKey))
      .withColumn("is_best",
        when(col("__mx").isNotNull, col("lambda_e1") === col("__bl")))
      .select(k :+ col("lambda_e1") :+ col("n") :+ col("llf_e6") :+
        col("is_best"): _*)
  }

  private val yjrSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("n", LongType),
    StructField("lam0_e6", LongType),
    StructField("lam_hat_e6", LongType),
    StructField("llf_e6", LongType)))

  /** Ternary-search refinement of the Yeo-Johnson λ — the q360
    * localLevelRefined pattern applied to U4, finishing the family:
    * [[yeoJohnsonGrid]] (q379) checks the grid argmax; this
    * oracle-replays the LINE-SEARCH STEP itself. Bracket = the grid
    * winner's e1 neighbors (clamped to ±5.0), two ternary rounds whose
    * probes are r6-ROUNDED (both engines evaluate the llf at
    * bit-identical λ's — each probe is one more parametrized replay of
    * the q379 per-(row, λ) quantized aggregation), comparisons on the
    * e6-ROUNDED llf, λ̂ = r6(midpoint). U4's unchecked optimizer
    * surface is now UNBOUNDED ITERATION COUNT only — the same end
    * state as U8's (q338/q360).
    *
    * Scale shape: per-key kernel (`groupByKey.flatMapGroups`; the grid
    * + 5 probe evaluations run in-executor over the key's rows); the
    * oracle joins the rows to per-key probe-λ tables derived from its
    * own grid argmax. Keys with n < 3 or a degenerate variance at the
    * winner emit nothing. Output: one row per key —
    * `(key, n, lam0_e6, lam_hat_e6, llf_e6)`. */
  def yeoJohnsonRefined(df: DataFrame, keyCols: Seq[String],
                        valueCol: String): DataFrame = {
    require(keyCols.nonEmpty, "yeoJohnsonRefined needs at least one key column")
    val spark = df.sparkSession
    import spark.implicits._
    val keyExpr =
      if (keyCols.isEmpty) lit("all") else concat_ws("|", keyCols.map(col): _*)
    val rows = graft.functions.Cols.dropNullKeys(df, keyCols)
      .filter(col(valueCol).isNotNull)
      .select(keyExpr.as("key"), col(valueCol).cast("double").as("x"))
      .as[(String, Double)]
    def r6(v: Double) = math.floor(v * 1e6 + 0.5) / 1e6
    rows.groupByKey(_._1)
      .flatMapGroups { (key, it) =>
        val xs = it.map(_._2).toArray
        val n = xs.length
        if (n < 3) Iterator.empty
        else {
          // e6-rounded llf at λ — the EXACT q379 per-(row, λ) trees:
          // z/sign-log e6-floored per row, BigInt sums (order-free, ==
          // the SQL DECIMAL sums), one σ²/llf double tree
          def llfE6(lam: Double): Option[Long] = {
            var sz = BigInt(0); var szz = BigInt(0); var sl = 0L
            var i = 0
            while (i < n) {
              val x = xs(i)
              val z =
                if (x >= 0) {
                  if (lam == 0.0) math.log(1.0 + x)
                  else (math.pow(x + 1.0, lam) - 1.0) / lam
                } else {
                  if (lam == 2.0) -math.log(1.0 - x)
                  else -(math.pow(1.0 - x, 2.0 - lam) - 1.0) / (2.0 - lam)
                }
              val zq = BigInt(math.floor(z * 1e6 + 0.5).toLong)
              sz += zq; szz += zq * zq
              sl += math.floor(
                (if (x >= 0) math.log(1.0 + x) else -math.log(1.0 - x))
                  * 1e6 + 0.5).toLong
              i += 1
            }
            val nd = n.toDouble
            val v = (nd * szz.toDouble - sz.toDouble * sz.toDouble) / (nd * nd) / 1e12
            if (v <= 0) None
            else Some(math.floor(
              (-0.5 * nd * math.log(v) + (lam - 1.0) * (sl.toDouble / 1e6))
                * 1e6 + 0.5).toLong)
          }
          // grid argmax — q379's protocol (ascending λ, strict >)
          var bl = Int.MinValue
          var best = Long.MinValue
          var i = -50
          while (i <= 50) {
            llfE6(i / 10.0).foreach { s => if (s > best) { best = s; bl = i } }
            i += 1
          }
          if (bl == Int.MinValue) Iterator.empty
          else {
            var lo = math.max(-50, bl - 1) / 10.0
            var hi = math.min(50, bl + 1) / 10.0
            var r = 0
            while (r < 2) {
              val p1 = r6(lo + (hi - lo) / 3.0)
              val p2 = r6(hi - (hi - lo) / 3.0)
              val f1 = llfE6(p1).getOrElse(Long.MinValue)
              val f2 = llfE6(p2).getOrElse(Long.MinValue)
              if (f1 < f2) lo = p1 else hi = p2
              r += 1
            }
            val lamHat = r6((lo + hi) / 2.0)
            llfE6(lamHat) match {
              case None => Iterator.empty
              case Some(f) => Iterator.single(Row(key, n.toLong,
                math.floor(bl / 10.0 * 1e6 + 0.5).toLong,
                math.floor(lamHat * 1e6 + 0.5).toLong, f))
            }
          }
        }
      }(Encoders.row(yjrSchema))
      .toDF()
  }

  /** The e15-quantized cos/sin table for the CANDIDATE-PERIOD scan
    * ([[seasonalPeriodGrid]] and `TimeSeriesStats.seasonalPeriod`): one
    * row per (p, r) with `c = ⌊cos(2πr/p)·10¹⁵ + 0.5⌋` for r < p —
    * cos(2πt/p) = cos(2π(t mod p)/p), so the table is Σp rows (299 at
    * maxP = 24), not series-length-sized. ONE definition feeds the
    * kernel, the Spark operator, and the oracle renderer (the
    * [[dftTableE15]] convention). */
  def seasonalTableE15(maxP: Int): Seq[(Int, Int, Long, Long)] =
    for (p <- 2 to maxP; r <- 0 until p) yield {
      val a = 2.0 * math.Pi * r / p
      (p, r, math.floor(math.cos(a) * 1e15 + 0.5).toLong,
        math.floor(math.sin(a) * 1e15 + 0.5).toLong)
    }

  /** Renders [[seasonalTableE15]] as a DuckDB VALUES list `(p, r, c, s)`. */
  def seasonalTableSql(maxP: Int): String =
    seasonalTableE15(maxP).map { case (p, r, c, s) => s"($p, $r, $c, $s)" }
      .mkString(", ")

  /** The CANDIDATE-PERIOD power scan of q34's U6 `seasonalPeriod` —
    * hash-checkable at DATA-DEPENDENT series length (q276/q358 check the
    * Fourier-frequency DFT at fixed/auto n; q34's period estimate scans
    * candidate periods p = minP..min(maxP, n/2) over the WHOLE demeaned
    * series, a different arithmetic — this graduates exactly that).
    *
    * Exactness: demeaning is cleared of division by scaling through n —
    * `S_c(p) = n·Σ_t x_t·c(p, t mod p) − (Σ_t x_t)·Σ_t c(p, t mod p)`
    * = n·Σ_t (x_t − x̄)·cos(2πt/p), all EXACT DECIMAL(38,0) integer
    * sums over the [[seasonalTableE15]] grid (order-independent — the
    * float-accumulation-order residue the q34 composite carried is
    * exactly what this clears); the power is one fixed double tree off
    * the two decimal casts, the peak an order-independent max, the best
    * period the SMALLEST p attaining it (the kernel's strict-> argmax).
    *
    * Scale shape: one (keys) window indexes each series (series are
    * per-key aggregates — grid-sized), the 299-row table broadcasts,
    * per-(key, p) sums map-side combine. Output: `(keys…, p, share_e6,
    * is_best)` for each candidate p ≤ n div 2. */
  def seasonalPeriodGrid(df: DataFrame, keyCols: Seq[String], ordCol: String,
                         valueCol: String, minP: Int = 2,
                         maxP: Int = 24): DataFrame = {
    require(keyCols.nonEmpty, "seasonalPeriodGrid needs at least one key column")
    require(minP >= 2 && maxP >= minP && maxP <= 64,
      s"need 2 <= minP <= maxP <= 64, got [$minP, $maxP]")
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    import spark.implicits._
    val k = keyCols.map(col)
    val coef = seasonalTableE15(maxP).toDF("__p", "__r", "__c", "__s")
    val wOrd = Window.partitionBy(k: _*).orderBy(col(ordCol))
    val wKey = Window.partitionBy(k: _*)
    val base = graft.functions.Cols.dropNullKeys(df, keyCols)
      .filter(col(valueCol).isNotNull)
      .withColumn("__x", floor(col(valueCol)).cast("long"))
      .withColumn("__t", row_number().over(wOrd) - 1)
      .withColumn("__n", count(lit(1)).over(wKey))
      .withColumn("__sy", sum(col("__x")).over(wKey))
      .filter(col("__n") >= 2 * minP)
    val sums = base.join(broadcast(coef),
        col("__p") >= minP && col("__p") <= expr("__n div 2") &&
          pmod(col("__t"), col("__p")) === col("__r"))
      .groupBy(k :+ col("__p"): _*)
      .agg(max(col("__n")).as("__nn"), max(col("__sy")).as("__syy"),
        sum(expr("cast(__x as decimal(38,0)) * __c")).as("__xc"),
        sum(expr("cast(__x as decimal(38,0)) * __s")).as("__xs"),
        sum(col("__c").cast("decimal(38,0)")).as("__cc"),
        sum(col("__s").cast("decimal(38,0)")).as("__cs"))
      .withColumn("__sc", expr(
        "cast(__nn as decimal(38,0)) * __xc - cast(__syy as decimal(38,0)) * __cc"))
      .withColumn("__ss", expr(
        "cast(__nn as decimal(38,0)) * __xs - cast(__syy as decimal(38,0)) * __cs"))
    val ik = """((cast(__sc as double) / 1e15) * (cast(__sc as double) / 1e15)
               | + (cast(__ss as double) / 1e15) * (cast(__ss as double) / 1e15))"""
      .stripMargin.replaceAll("\n", " ")
    sums
      .withColumn("__ik", expr(ik))
      .withColumn("__mik", max(col("__ik")).over(wKey))
      .withColumn("__bestp",
        min(when(col("__ik") === col("__mik"), col("__p"))).over(wKey))
      .withColumn("share_e6", expr(
        """case when __mik > 0 then
          |  cast(floor(__ik / __mik * 1000000 + 0.5) as bigint) end""".stripMargin))
      .withColumn("is_best", col("__p") === col("__bestp"))
      .select(k :+ col("__p").as("p") :+ col("share_e6") :+ col("is_best"): _*)
  }

  /** The power-of-two candidate lengths [[periodogramAutoN]] selects
    * from, and the combined `(n, k, t, c, s)` VALUES renderer for its
    * oracle — 2,720 rows total, one definition feeding both engines. */
  val AutoNCandidates: Seq[Int] = Seq(8, 16, 32, 64)
  def dftTableAutoSql: String =
    AutoNCandidates.flatMap(n => dftTableE15(n).map { case (k, t, c, s) =>
      s"($n, $k, $t, $c, $s)" }).mkString(", ")

  /** AUTO-LENGTH periodogram — the graduation of q34's length-selection
    * PROTOCOL (the q337-adfAutoLag precedent: hash-check the data-driven
    * choice itself, not just one fixed dial): per key, n is the largest
    * power of two in [[AutoNCandidates]] that fits the series (the
    * classic pad/truncate-to-2^k FFT prelude; seasonalPeriod's
    * `TimeSeriesStats.scala` path picks its window the same way), then
    * the SAME integer-table DFT as [[periodogramFixed]] runs at the
    * SELECTED n. q34's `no_oracle` residue narrows to the
    * radix-recursion float accumulation only — length selection and the
    * transform at the selected length are both oracle-replayed.
    *
    * Scale shape: one window pass ranks each series' tail, the
    * coefficient table (all candidates, 2,720 rows) broadcasts, sums
    * map-side combine to keys×(n/2) — identical to periodogramFixed
    * plus the per-key n column. Keys shorter than the smallest
    * candidate drop (documented: no n to select). */
  def periodogramAutoN(df: DataFrame, keyCols: Seq[String], ordCol: String,
                       valueCol: String): DataFrame = {
    require(keyCols.nonEmpty, "periodogramAutoN needs at least one key column")
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    import spark.implicits._
    val k = keyCols.map(col)
    val coef = AutoNCandidates.flatMap(n => dftTableE15(n)
        .map { case (kk, t, c, s) => (n, kk, t, c, s) })
      .toDF("__n", "__k", "__t", "__c", "__s")
    val wDesc = Window.partitionBy(k: _*).orderBy(col(ordCol).desc)
    val tail = df.filter(col(valueCol).isNotNull)
      .withColumn("__rnd", row_number().over(wDesc))
      .withColumn("__cnt", count(lit(1)).over(Window.partitionBy(k: _*)))
      .withColumn("__nsel", expr(
        AutoNCandidates.sorted.reverse.map(n => s"when __cnt >= $n then $n")
          .mkString("case ", " ", " end")))
      .filter(col("__nsel").isNotNull && col("__rnd") <= col("__nsel"))
      .withColumn("__t", (col("__nsel") - col("__rnd")).cast("int"))
      .select(k :+ col("__nsel") :+ col("__t") :+
        col(valueCol).cast("long").as("__x"): _*)
    val sums = tail.join(broadcast(coef),
        tail("__nsel") === coef("__n") && tail("__t") === coef("__t"))
      .groupBy(k :+ col("__nsel") :+ col("__k"): _*)
      .agg(sum(expr("cast(__x as decimal(38,0)) * __c")).as("__sc"),
        sum(expr("cast(__x as decimal(38,0)) * __s")).as("__ss"))
    val ik = """((cast(__sc as double) / 1e15) * (cast(__sc as double) / 1e15)
               | + (cast(__ss as double) / 1e15) * (cast(__ss as double) / 1e15))"""
      .stripMargin.replaceAll("\n", " ")
    val wKey = Window.partitionBy(k: _*)
    sums
      .withColumn("__ik", expr(ik))
      .withColumn("__mik", max(col("__ik")).over(wKey))
      .withColumn("period_e3", expr(
        "cast(floor(cast(__nsel as double) / cast(__k as double) * 1000 + 0.5) as bigint)"))
      .withColumn("share_e6", expr(
        """case when __mik > 0 then
          |  cast(floor(__ik / __mik * 1000000 + 0.5) as bigint) end""".stripMargin))
      .withColumn("is_peak",
        when(col("__mik") > 0, col("__ik") === col("__mik")))
      .select(k :+ col("__nsel").as("n_sel") :+ col("__k").as("k") :+
        col("period_e3") :+ col("share_e6") :+ col("is_peak"): _*)
  }

  /** U8 end-to-end: grid fit + deterministic h-step forecast per key. The
    * future exog follows the drift CENTER path x_j = max(lastX + j·mu, 0)
    * — the p50 of the reference's simulated exog distribution. Output: one
    * row per (key, step) with the winning candidate's orders and AIC. */
  def sarimaxForecast(df: DataFrame, keyCols: Seq[String], orderCol: String,
                      valueCol: String, exogCol: Option[String], horizon: Int,
                      candidates: Seq[Sarimax.SarimaxSpec] = Sarimax.ReferenceCandidates,
                      fitWindow: Int = 60): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    sarimaxModels(df, keyCols, orderCol, valueCol, exogCol, horizon, candidates, fitWindow)
      .flatMap { m =>
        val xFut = Array.tabulate(m.armaBase.length)(j => math.max(m.lastX + (j + 1) * m.mu, 0.0))
        kernelOf(m).forecast(xFut).zipWithIndex.map { case (f, i) =>
          (m.key, m.order, m.seasonal, m.aic, i + 1, f)
        }
      }
      .toDF("key", "order", "seasonal", "aic", "step", "forecast")
  }
}
