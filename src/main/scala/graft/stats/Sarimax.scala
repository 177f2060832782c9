package graft.stats

/** SARIMAX(p,d,q)(P,D,Q,s) + exogenous regressor fit by exact Gaussian
  * maximum likelihood — the full-strength replacement for the reference's
  * statsmodels grid (notebook cells 27/30/32: `fit_best_sarimax` over
  * `CANDIDATE_ORDERS`, trend="c", picked by AIC).
  *
  * Formulation: "regression with seasonal-ARMA errors" on the differenced
  * scale. With z_t = Δ^d Δ_s^D y_t and w_t = Δ^d Δ_s^D x_t,
  *
  *   z_t = c + β·w_t + u_t,   φ(B)·Φ(B^s)·u_t = θ(B)·Θ(B^s)·ε_t
  *
  * The likelihood is evaluated EXACTLY with a Kalman filter in Harvey's
  * ARMA state space (σ² concentrated out), and each candidate's free
  * parameters (c, β, φ, θ, Φ, Θ) are optimized by Nelder-Mead. When a
  * candidate has no ARMA terms at all, the MLE is ordinary least squares
  * and is solved in closed form (bit-reproducible — the Monte-Carlo
  * forecast oracle depends on this).
  *
  * Two deliberate, documented divergences from statsmodels defaults
  * (`simple_differencing=False`, `trend="c"` on the levels scale):
  *   - differencing is applied to the data up front (statsmodels
  *     `simple_differencing=True` shape), so n_obs = n - d - D·s. All
  *     candidates in a grid share one (d, D, s), so AIC *ranking* is
  *     unaffected by the common sample-size shift;
  *   - trend "c" is an intercept on the fully-differenced scale
  *     (classical "ARIMA with drift"), the identified version of the
  *     reference's weakly-identified levels constant.
  *
  * Everything here is pure JVM math: Spark parallelizes over (series ×
  * candidate) fits in [[Diagnostics.sarimaxModels]]; one fit is O(n·m²)
  * per likelihood evaluation (m = max(p+sP, q+sQ+1) ≤ 14 for the
  * reference grid), and the filter allocates nothing per step.
  */
object Sarimax {

  /** Model order. Mirrors statsmodels `order=(p,d,q)`,
    * `seasonal_order=(P,D,Q,s)`. */
  final case class SarimaxSpec(p: Int, d: Int, q: Int, P: Int, D: Int, Q: Int, s: Int) {
    def nArma: Int = p + q + P + Q
    override def toString = s"($p,$d,$q)($P,$D,$Q,$s)"
  }

  /** The reference's 5-candidate grid (notebook cell 27 `CANDIDATE_ORDERS`
    * with d=1, D=1, SEASONAL_PERIOD=12). */
  val ReferenceCandidates: Seq[SarimaxSpec] = Seq(
    SarimaxSpec(1, 1, 0, 0, 1, 1, 12),
    SarimaxSpec(0, 1, 1, 0, 1, 1, 12),
    SarimaxSpec(1, 1, 1, 0, 1, 1, 12),
    SarimaxSpec(1, 1, 0, 1, 1, 0, 12),
    SarimaxSpec(0, 1, 1, 1, 1, 0, 12))

  /** Fitted model. `phi`/`theta` are the non-seasonal AR/MA coefficients,
    * `sphi`/`stheta` the seasonal ones (statsmodels sign convention:
    * AR poly 1 - φB, MA poly 1 + θB). `aic = -2·loglik + 2·k` with
    * k = #free params + 1 (σ²), matching statsmodels' parameter count. */
  final case class SarimaxFit(
      spec: SarimaxSpec, intercept: Double, beta: Double,
      phi: Array[Double], theta: Array[Double],
      sphi: Array[Double], stheta: Array[Double],
      sigma2: Double, loglik: Double, aic: Double, nObs: Int)

  // ------------------------------------------------------------ differencing

  /** Δ^d Δ_s^D applied to a series (seasonal first; the operators commute). */
  def difference(y: Array[Double], d: Int, D: Int, s: Int): Array[Double] = {
    var cur = y
    var i = 0
    while (i < D) { cur = Array.tabulate(cur.length - s)(t => cur(t + s) - cur(t)); i += 1 }
    i = 0
    while (i < d) { cur = Array.tabulate(cur.length - 1)(t => cur(t + 1) - cur(t)); i += 1 }
    cur
  }

  /** Expand φ(B)·Φ(B^s) (or θ(B)·Θ(B^s)) into flat lag coefficients.
    * `signAr=true` multiplies (1 - Σφ_i B^i)(1 - ΣΦ_j B^{js}) and returns
    * a where the product is 1 - Σ a_k B^k; `signAr=false` multiplies the
    * MA polynomials (1 + ·)(1 + ·) returning m with product 1 + Σ m_k B^k. */
  def expandPoly(nonSeasonal: Array[Double], seasonal: Array[Double], s: Int,
                 signAr: Boolean): Array[Double] = {
    val sg = if (signAr) -1.0 else 1.0
    // full polynomial with constant term: coeff(0) = 1
    val a = new Array[Double](nonSeasonal.length + 1)
    a(0) = 1.0
    var i = 0
    while (i < nonSeasonal.length) { a(i + 1) = sg * nonSeasonal(i); i += 1 }
    val b = new Array[Double](seasonal.length * s + 1)
    b(0) = 1.0
    i = 0
    while (i < seasonal.length) { b((i + 1) * s) = sg * seasonal(i); i += 1 }
    val prod = new Array[Double](a.length + b.length - 1)
    i = 0
    while (i < a.length) {
      var j = 0
      while (j < b.length) { prod(i + j) += a(i) * b(j); j += 1 }
      i += 1
    }
    // drop the constant term and restore the convention sign
    val out = new Array[Double](prod.length - 1)
    i = 0
    while (i < out.length) { out(i) = sg * prod(i + 1); i += 1 }
    out
  }

  // ------------------------------------------------------- Kalman likelihood

  /** Exact Gaussian log-likelihood of ARMA(ar, ma) errors `u` with σ²
    * concentrated out, by the [[ArmaFilter]] recursion. Returns
    * (loglik, σ̂²); (−∞, NaN) when an innovation variance is not
    * positive. */
  def armaLoglik(u: Array[Double], ar: Array[Double], ma: Array[Double]): (Double, Double) = {
    val n = u.length
    val filter = new ArmaFilter(ar, ma, diffuseKappa(u))
    var sumLogF = 0.0
    var sumV2F = 0.0
    var t = 0
    while (t < n) {
      val f = filter.step(u(t))
      if (f <= 1e-300 || f.isNaN) return (Double.NegativeInfinity, Double.NaN)
      sumLogF += math.log(f)
      sumV2F += filter.v * filter.v / f
      t += 1
    }
    val sigma2 = sumV2F / n
    if (sigma2 <= 0 || sigma2.isNaN) return (Double.NegativeInfinity, Double.NaN)
    val ll = -0.5 * (n * (math.log(2 * math.Pi) + 1.0 + math.log(sigma2)) + sumLogF)
    (ll, sigma2)
  }

  /** κ of the diffuse prior taken when the AR part is not stationary:
    * max(1e7, 1e6·mean(u²)), so it grows with the data scale (the 1e7
    * floor keeps small-scale series at the original fixed prior). Both
    * filters — the likelihood's and the forecast's — start from this one
    * κ, so a forecast's end state is filtered under the prior its fit
    * maximized. */
  private def diffuseKappa(u: Array[Double]): Double = {
    val n = u.length
    var msU = 0.0
    var t = 0
    while (t < n) { msU += u(t) * u(t); t += 1 }
    msU = if (n > 0) msU / n else 1.0
    math.max(1e7, 1e6 * msU)
  }

  /** z_t − c − β·w_t: the ARMA errors of the regression part. */
  private def residuals(z: Array[Double], w: Option[Array[Double]], c: Double,
                        b: Double): Array[Double] = {
    val wz = w.orNull
    val u = new Array[Double](z.length)
    var t = 0
    while (t < z.length) { u(t) = z(t) - c - b * (if (wz == null) 0.0 else wz(t)); t += 1 }
    u
  }

  /** Kalman filter for ARMA(ar, ma) errors in Harvey's state space:
    * α_{t+1} = T α_t + R ε, u_t = α_t(0); T has the AR lags in its first
    * column and an identity superdiagonal (row i is φ_{i+1}·e1ᵀ + e_{i+2}ᵀ),
    * R = (1, ma...)ᵀ. The initial covariance is the exact stationary
    * solution, or the κ-diffuse fallback when the AR part is not stationary
    * (allowed — the reference fits with `enforce_stationarity=False`).
    *
    * The one recursion behind both the likelihood ([[armaLoglik]]) and the
    * forecast's end state ([[forecastKernel]]), so the forecast filters
    * under the prior the fit maximized. It runs inside every Nelder-Mead
    * evaluation: the covariance is a flat row-major m×m array and every
    * buffer is allocated once per filter, none per step. */
  private final class ArmaFilter(ar: Array[Double], ma: Array[Double], kappa: Double) {
    private val m = math.max(ar.length, ma.length + 1)
    private val phi = new Array[Double](m)
    private val r = new Array[Double](m)
    System.arraycopy(ar, 0, phi, 0, ar.length)
    r(0) = 1.0
    System.arraycopy(ma, 0, r, 1, ma.length)
    /** State mean: a_{t+1|t} after [[step]] t. */
    val a = new Array[Double](m)
    private val p = stationaryCov(phi, r, m, kappa)
    private val k = new Array[Double](m)
    private val ta = new Array[Double](m)
    private val tp = new Array[Double](m * m)
    /** Innovation u_t − a(0) of the last [[step]]. */
    var v = 0.0

    /** Filter observation `ut`: the innovation v with variance F = P(0,0);
      * when F > 1e-300, update a ← a + (P e1) v/F and
      * P ← P − (P e1)(P e1)ᵀ/F; then predict a ← T a and
      * P ← T P Tᵀ + R Rᵀ. Returns F. */
    def step(ut: Double): Double = {
      v = ut - a(0)
      val f = p(0)
      if (f > 1e-300) {
        var i = 0
        while (i < m) { k(i) = p(i * m); i += 1 }
        i = 0
        while (i < m) { a(i) += k(i) * v / f; i += 1 }
        i = 0
        while (i < m) {
          val row = i * m
          var j = 0
          while (j < m) { p(row + j) -= k(i) * k(j) / f; j += 1 }
          i += 1
        }
      }
      predictMean()
      var i = 0
      while (i < m) { // M = T P
        val row = i * m
        var j = 0
        while (j < m) {
          tp(row + j) = phi(i) * p(j) + (if (i + 1 < m) p(row + m + j) else 0.0)
          j += 1
        }
        i += 1
      }
      i = 0
      while (i < m) { // P = M Tᵀ + RRᵀ
        val row = i * m
        var j = 0
        while (j < m) {
          p(row + j) = phi(j) * tp(row) + (if (j + 1 < m) tp(row + j + 1) else 0.0) + r(i) * r(j)
          j += 1
        }
        i += 1
      }
      f
    }

    /** a ← T a. */
    def predictMean(): Unit = {
      var i = 0
      while (i < m) { ta(i) = phi(i) * a(0) + (if (i + 1 < m) a(i + 1) else 0.0); i += 1 }
      System.arraycopy(ta, 0, a, 0, m)
    }
  }

  /** Stationary state covariance (flat row-major m×m) by doubling:
    * Q ← Q + A Q Aᵀ, A ← A², from A = T, Q = R Rᵀ; the κ-diagonal diffuse
    * fallback when the AR polynomial is not stationary. */
  private def stationaryCov(phi: Array[Double], r: Array[Double], m: Int,
                            kappa: Double): Array[Double] = {
    val mm = m * m
    var aMat = new Array[Double](mm)
    val q = new Array[Double](mm)
    var i = 0
    while (i < m) {
      var j = 0
      while (j < m) {
        aMat(i * m + j) = (if (j == 0) phi(i) else 0.0) + (if (j == i + 1) 1.0 else 0.0)
        q(i * m + j) = r(i) * r(j)
        j += 1
      }
      i += 1
    }
    val aq = new Array[Double](mm)
    val aqa = new Array[Double](mm)
    var a2 = new Array[Double](mm)
    var it = 0
    var norm = 1.0
    while (it < 60 && norm > 1e-14) {
      mul(aMat, q, aq, m)
      mulT(aq, aMat, aqa, m)
      i = 0
      while (i < mm) { q(i) = q(i) + aqa(i); i += 1 }
      mul(aMat, aMat, a2, m)
      val prev = aMat; aMat = a2; a2 = prev
      norm = 0.0
      i = 0
      while (i < mm) { norm = math.max(norm, math.abs(aMat(i))); i += 1 }
      if (norm > 1e6 || norm.isNaN) return diffuse(m, kappa) // explosive AR
      it += 1
    }
    if (norm > 1e-8) diffuse(m, kappa) else q
  }

  private def diffuse(m: Int, kappa: Double): Array[Double] = {
    val out = new Array[Double](m * m)
    var i = 0
    while (i < m) { out(i * m + i) = kappa; i += 1 }
    out
  }

  /** out = a · b over flat n×n arrays. */
  private def mul(a: Array[Double], b: Array[Double], out: Array[Double], n: Int): Unit = {
    java.util.Arrays.fill(out, 0.0)
    var i = 0
    while (i < n) {
      var k = 0
      while (k < n) {
        val v = a(i * n + k)
        if (v != 0.0) { var j = 0; while (j < n) { out(i * n + j) += v * b(k * n + j); j += 1 } }
        k += 1
      }
      i += 1
    }
  }

  /** out = a · bᵀ over flat n×n arrays. */
  private def mulT(a: Array[Double], b: Array[Double], out: Array[Double], n: Int): Unit = {
    var i = 0
    while (i < n) {
      var j = 0
      while (j < n) {
        var k = 0
        var v = 0.0
        while (k < n) { v += a(i * n + k) * b(j * n + k); k += 1 }
        out(i * n + j) = v
        j += 1
      }
      i += 1
    }
  }

  // ------------------------------------------------------------- Nelder-Mead

  /** Derivative-free simplex minimizer (Nelder & Mead 1965), standard
    * coefficients. Dimensions here are ≤ 6, where NM is the reliable
    * choice; statsmodels' own default for SARIMAX is gradient-based lbfgs,
    * but the concentrated likelihood surface for these small grids is
    * smooth enough that both land on the same optimum. */
  // tol 1e-9 (relative): loglik to ~1e-6 — orders below any AIC decision
  // margin or the 4-decimal forecast rounding, and it halves the iteration
  // count vs a 1e-10 tol that mostly ran to maxIter
  private def nelderMead(f: Array[Double] => Double, x0: Array[Double],
                         step: Double = 0.1, maxIter: Int = 1000,
                         tol: Double = 1e-9): Array[Double] = {
    val n = x0.length
    if (n == 0) return x0
    var simplex = Array.tabulate(n + 1) { i =>
      val x = x0.clone()
      if (i > 0) x(i - 1) += (if (x(i - 1) == 0.0) step else step * math.abs(x(i - 1)).max(1.0))
      x
    }
    var fv = simplex.map(f)
    var it = 0
    while (it < maxIter) {
      // order
      val idx = fv.indices.sortBy(fv).toArray
      simplex = idx.map(simplex)
      fv = idx.map(fv)
      if (math.abs(fv(n) - fv(0)) < tol * (math.abs(fv(0)) + tol)) return simplex(0)
      val centroid = new Array[Double](n)
      var i = 0
      while (i < n) { var j = 0; while (j < n) { centroid(j) += simplex(i)(j) / n; j += 1 }; i += 1 }
      def combine(alpha: Double): Array[Double] =
        Array.tabulate(n)(j => centroid(j) + alpha * (simplex(n)(j) - centroid(j)))
      val xr = combine(-1.0); val fr = f(xr)
      if (fr < fv(0)) {
        val xe = combine(-2.0); val fe = f(xe)
        if (fe < fr) { simplex(n) = xe; fv(n) = fe } else { simplex(n) = xr; fv(n) = fr }
      } else if (fr < fv(n - 1)) { simplex(n) = xr; fv(n) = fr }
      else {
        val xc = if (fr < fv(n)) combine(-0.5) else combine(0.5)
        val fc = f(xc)
        if (fc < math.min(fr, fv(n))) { simplex(n) = xc; fv(n) = fc }
        else { // shrink toward best
          i = 1
          while (i <= n) {
            simplex(i) = Array.tabulate(n)(j => simplex(0)(j) + 0.5 * (simplex(i)(j) - simplex(0)(j)))
            fv(i) = f(simplex(i))
            i += 1
          }
        }
      }
      it += 1
    }
    simplex(fv.indices.minBy(fv))
  }

  // -------------------------------------------------------------------- fit

  /** Fit one candidate. `x` rows align 1:1 with `y`; pass None for a pure
    * SARIMA. Returns None when the differenced sample is too short or the
    * optimizer cannot produce a finite likelihood. */
  def fit(y: Array[Double], x: Option[Array[Double]], spec: SarimaxSpec,
          trendC: Boolean = true): Option[SarimaxFit] = {
    import spec._
    val z = difference(y, d, D, s)
    val w = x.map(difference(_, d, D, s))
    val n = z.length
    val nFree = (if (trendC) 1 else 0) + (if (w.isDefined) 1 else 0) + spec.nArma
    // the extra s-observation margin only applies when the model itself has
    // seasonal structure — a non-seasonal candidate on a short series is
    // perfectly fittable
    val seasonalMargin = if (P + Q > 0 || D > 0) s else 0
    if (n < nFree + seasonalMargin + 5) return None

    val nReg = (if (trendC) 1 else 0) + (if (w.isDefined) 1 else 0)
    def unpack(v: Array[Double]): (Double, Double, Array[Double], Array[Double], Array[Double], Array[Double]) = {
      var o = 0
      val c0 = if (trendC) { o += 1; v(o - 1) } else 0.0
      val b0 = if (w.isDefined) { o += 1; v(o - 1) } else 0.0
      def take(k: Int) = { o += k; java.util.Arrays.copyOfRange(v, o - k, o) }
      val phi = take(p)
      val th = take(q)
      val sp = take(P)
      val st = take(Q)
      (c0, b0, phi, th, sp, st)
    }

    def loglikOf(v: Array[Double]): (Double, Double) = {
      // bound only the ARMA coefficients: they can destabilize the filter,
      // while (c, β) are linear and legitimately take any magnitude (an
      // absolute cutoff there would silently reject unscaled-level series)
      var i = 0
      while (i < v.length) {
        if (v(i).isNaN || (i >= nReg && math.abs(v(i)) > 1e3)) return (Double.NegativeInfinity, Double.NaN)
        i += 1
      }
      val (c0, b0, phi, th, sp, st) = unpack(v)
      val u = residuals(z, w, c0, b0)
      val arC = expandPoly(phi, sp, s, signAr = true)
      val maC = expandPoly(th, st, s, signAr = false)
      armaLoglik(u, arC, maC)
    }

    // start (c, β) at their OLS values; ARMA coefficients at a small kick.
    // A singular design (e.g. exog identically 0 after differencing) falls
    // back to the intercept-only MLE c = mean(z) — never a silent all-zero
    // start, which for an nArma==0 candidate would BE the returned fit.
    val start = new Array[Double](nFree)
    if (nReg > 0) {
      val xm = Array.tabulate(n) { t =>
        val row = new Array[Double](nReg)
        var o = 0
        if (trendC) { row(o) = 1.0; o += 1 }
        w.foreach(ww => row(o) = ww(t))
        row
      }
      try {
        val (betaHat, _, _) = TimeSeriesStats.ols(xm, z)
        Array.copy(betaHat, 0, start, 0, nReg)
      } catch {
        case _: Exception => if (trendC) start(0) = z.sum / n
      }
    }
    val best =
      if (spec.nArma == 0) start // closed form: MLE = OLS, no search needed
      else {
        // multi-start: MA-bearing likelihood surfaces have local optima
        // (near-cancelling AR/MA roots); three ARMA kicks cost ~3x a fit
        // and the best loglik wins. Pure-AR surfaces lack the cancellation
        // mechanism — one start suffices there.
        def obj(v: Array[Double]): Double = {
          val (ll, _) = loglikOf(v); if (ll.isNegInfinity) 1e12 else -ll
        }
        val kicks = if (q + Q == 0) Seq(0.05) else Seq(0.05, 0.4, -0.4)
        kicks.map { kick =>
          val s0 = start.clone()
          var i = nReg
          while (i < nFree) { s0(i) = kick; i += 1 }
          nelderMead(obj, s0)
        }.minBy(obj)
      }
    val (ll, sigma2) = loglikOf(best)
    if (ll.isNegInfinity || ll.isNaN) return None
    val (c0, b0, phi, th, sp, st) = unpack(best)
    val k = nFree + 1 // + σ², statsmodels' count
    Some(SarimaxFit(spec, c0, b0, phi, th, sp, st, sigma2, ll, -2 * ll + 2 * k, n))
  }

  /** AIC-argmin over a candidate grid (reference `fit_best_sarimax`):
    * candidates that fail to fit are skipped, None if all do. */
  def fitBest(y: Array[Double], x: Option[Array[Double]],
              candidates: Seq[SarimaxSpec] = ReferenceCandidates,
              trendC: Boolean = true): Option[SarimaxFit] = {
    // AIC is only comparable across candidates fitted on the SAME sample:
    // with simple differencing, a different (d, D, s) changes the effective
    // sample size and likelihood scale, so a mixed grid would silently
    // produce an invalid ranking. Enforce, don't assume.
    require(candidates.map(c => (c.d, c.D, c.s)).distinct.size <= 1,
      "fitBest candidates must share (d, D, s): AIC across different " +
        "differencing orders compares likelihoods over different samples")
    candidates.flatMap(c => scala.util.Try(fit(y, x, c, trendC)).toOption.flatten)
      .minByOption(_.aic)
  }

  // ---------------------------------------------------------------- forecast

  /** Pieces of a fitted model needed to turn an exogenous *future path*
    * into a forecast path with one cheap linear pass — the forecast mean is
    * linear in the future exog (ẑ_j = armaBase_j + c + β·w_j), so the
    * per-simulation work in the Monte-Carlo fan is O(h) with no model
    * re-evaluation. `yTail`/`xTail` carry just enough history to invert the
    * differencing across the forecast boundary. */
  final case class ForecastKernel(
      spec: SarimaxSpec, intercept: Double, beta: Double,
      armaBase: Array[Double], yTail: Array[Double], xTail: Array[Double]) {

    /** Forecast `armaBase.length` steps given the future exog path (raw,
      * undifferenced scale; ignored when the model has no exog). */
    def forecast(xFuture: Array[Double]): Array[Double] = {
      val h = armaBase.length
      val s = spec.s
      // future differenced exog across the boundary
      val wFut: Array[Double] =
        if (xTail.isEmpty) new Array[Double](h)
        else {
          val ext = xTail ++ xFuture
          val dext = difference(ext, spec.d, spec.D, s)
          dext.takeRight(h)
        }
      // z forecasts, then invert the differencing level by level.
      // levels(0) = y history tail, then D seasonal levels, then d regular.
      val levels = new Array[scala.collection.mutable.ArrayBuffer[Double]](spec.d + spec.D + 1)
      levels(0) = scala.collection.mutable.ArrayBuffer(yTail: _*)
      var li = 1
      while (li <= spec.D) {
        val prev = levels(li - 1)
        levels(li) = scala.collection.mutable.ArrayBuffer(
          (s until prev.length).map(t => prev(t) - prev(t - s)): _*)
        li += 1
      }
      while (li <= spec.D + spec.d) {
        val prev = levels(li - 1)
        levels(li) = scala.collection.mutable.ArrayBuffer(
          (1 until prev.length).map(t => prev(t) - prev(t - 1)): _*)
        li += 1
      }
      val out = new Array[Double](h)
      var j = 0
      while (j < h) {
        var v = armaBase(j) + intercept + beta * wFut(j)
        levels(levels.length - 1) += v
        var k = levels.length - 2
        while (k >= 0) {
          val isSeasonalLevel = k < spec.D // inverting level k+1 -> k
          val parent = levels(k)
          v = v + (if (isSeasonalLevel) parent(parent.length - s) else parent(parent.length - 1))
          parent += v
          k -= 1
        }
        out(j) = v
        j += 1
      }
      out
    }
  }

  /** Build the linear forecast kernel: run the filter over the fitted
    * residual series to the final state, then propagate α through T for
    * `h` steps — `armaBase(j) = (Tʲ α_end)(0)` is the exog-independent part
    * of each step's forecast mean. */
  def forecastKernel(fitted: SarimaxFit, y: Array[Double], x: Option[Array[Double]],
                     h: Int): ForecastKernel = {
    import fitted.spec._
    val z = difference(y, d, D, s)
    val w = x.map(difference(_, d, D, s))
    val u = residuals(z, w, fitted.intercept, fitted.beta)
    val arC = expandPoly(fitted.phi, fitted.sphi, s, signAr = true)
    val maC = expandPoly(fitted.theta, fitted.stheta, s, signAr = false)
    // filter to the end state a_{n+1|n} under the fit's own prior
    val filter = new ArmaFilter(arC, maC, diffuseKappa(u))
    var t = 0
    while (t < u.length) { filter.step(u(t)); t += 1 }
    // each further T application advances one step
    val base = new Array[Double](h)
    var j = 0
    while (j < h) { base(j) = filter.a(0); filter.predictMean(); j += 1 }
    val tailLen = d + D * s + s * (if (D > 0) 1 else 0) + 1
    ForecastKernel(fitted.spec, fitted.intercept, fitted.beta, base,
      y.takeRight(math.min(y.length, math.max(tailLen, s + d + 1))),
      x.map(_.takeRight(math.min(x.get.length, s * D + d + 1))).getOrElse(Array.empty))
  }

  /** Deterministic h-step forecast with a fixed future exog path. */
  def forecast(fitted: SarimaxFit, y: Array[Double], x: Option[Array[Double]],
               xFuture: Array[Double], h: Int): Array[Double] =
    forecastKernel(fitted, y, x, h).forecast(xFuture)
}
