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
  * candidate) fits in [[Diagnostics.sarimaxModels]]. One likelihood
  * evaluation costs O(r³ + m²) for the exact stationary prior plus O(n·m)
  * for the Chandrasekhar filter (r = p+sP AR lags, m = max(r, q+sQ+1) ≤ 14
  * for the reference grid); a non-stationary AR part takes the dense
  * O(n·m²) κ-diffuse filter instead. A fit allocates its work arrays once,
  * and no evaluation allocates any.
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
    val out = new Array[Double](nonSeasonal.length + seasonal.length * s)
    expandPolyInto(nonSeasonal, seasonal, s, signAr, out)
    out
  }

  /** [[expandPoly]] into a caller's array of length p + P·s: lag i and
    * lag j·s carry the factors' own coefficients, lag i + j·s their
    * cross product (negated for AR, whose factors are 1 − ·). */
  private def expandPolyInto(nonSeasonal: Array[Double], seasonal: Array[Double], s: Int,
                             signAr: Boolean, out: Array[Double]): Unit = {
    val sg = if (signAr) -1.0 else 1.0
    java.util.Arrays.fill(out, 0.0)
    var i = 0
    while (i < nonSeasonal.length) { out(i) += nonSeasonal(i); i += 1 }
    var j = 0
    while (j < seasonal.length) {
      val lag = (j + 1) * s
      out(lag - 1) += seasonal(j)
      i = 0
      while (i < nonSeasonal.length) { out(lag + i) += sg * nonSeasonal(i) * seasonal(j); i += 1 }
      j += 1
    }
  }

  // ------------------------------------------------------- Kalman likelihood

  /** Exact Gaussian log-likelihood of ARMA(ar, ma) errors `u` with σ²
    * concentrated out, by the [[ArmaFilter]] recursion. Returns
    * (loglik, σ̂²); (−∞, NaN) when an innovation variance is not
    * positive. */
  def armaLoglik(u: Array[Double], ar: Array[Double], ma: Array[Double]): (Double, Double) = {
    val filter = new ArmaFilter(math.max(ar.length, ma.length + 1))
    val ll = filter.loglik(u, ar, ma)
    (ll, filter.sigma2)
  }

  /** κ of the diffuse prior κ·I taken when the AR part is not
    * stationary. The filter's covariance is in units of σ² (σ² is
    * concentrated out), so a fixed κ is scale-free: scaling the data by c
    * moves every candidate's loglik by the same −n·ln c. Both filters —
    * the likelihood's and the forecast's — start from it, so a forecast's
    * end state is filtered under the prior its fit maximized. */
  private val DiffuseKappa = 1e7

  /** z_t − c − β·w_t into `u`: the ARMA errors of the regression part. */
  private def residualsInto(z: Array[Double], w: Option[Array[Double]], c: Double,
                            b: Double, u: Array[Double]): Unit = {
    val wz = w.orNull
    var t = 0
    while (t < z.length) { u(t) = z(t) - c - b * (if (wz == null) 0.0 else wz(t)); t += 1 }
  }

  /** First row of ARMA(ar, ma)'s stationary state covariance at σ² = 1
    * (the rest of P₀ follows from it by P₀ = T P₀ Tᵀ + R Rᵀ); None when
    * the AR part is not stationary and the filter takes the κ-diffuse
    * prior. */
  private[stats] def stationaryRow(ar: Array[Double], ma: Array[Double]): Option[Array[Double]] = {
    val m = math.max(ar.length, ma.length + 1)
    val filter = new ArmaFilter(m)
    filter.load(ar, ma)
    val row = new Array[Double](m)
    if (filter.stationaryRow(row)) Some(row) else None
  }

  /** Kalman filter for ARMA errors with at most `m` states, in Harvey's
    * state space: α_{t+1} = T α_t + R ε, u_t = α_t(0); T has the AR lags
    * in its first column and an identity superdiagonal (row i is
    * φ_{i+1}·e1ᵀ + e_{i+2}ᵀ), R = (1, ma...)ᵀ.
    *
    * When the AR polynomial is stationary (step-down test), the filter
    * starts from the exact stationary covariance P₁ = P₀, whose first row
    * [[stationaryRow]] solves in O(r³ + m²) for r AR lags. P₂ − P₁ then has rank 1, and
    * so has every later increment: the Chandrasekhar recursions (Herbst
    * 2015) carry it as W·μ·Wᵀ, one vector and one scalar, in O(m) per step
    * with the companion T; P itself is never formed. Otherwise — allowed,
    * the reference fits with `enforce_stationarity=False` — it starts from
    * the κ-diffuse prior κ·I and runs the dense O(m²) update.
    *
    * The one recursion behind both the likelihood ([[loglik]]) and the
    * forecast's end state ([[forecastKernel]]), so the forecast filters
    * under the prior the fit maximized. A fit makes one filter and
    * restarts it for every Nelder–Mead evaluation; nothing is allocated
    * per evaluation or per step. */
  private final class ArmaFilter(m: Int) {
    private val phi = new Array[Double](m)
    private val r = new Array[Double](m)
    /** State mean: a_{t+1|t} after [[step]] t. */
    val a = new Array[Double](m)
    /** Innovation u_t − a(0) of the last [[step]]. */
    var v = 0.0
    /** σ̂² of the last [[loglik]]. */
    var sigma2 = Double.NaN
    private var nAr = 0
    private var nMa = 0
    private var dense = false
    // Chandrasekhar state: F_t, K_t·F_t = T P_t e1 and P_{t+1} − P_t = W·μ·Wᵀ
    private var f = 0.0
    private var mu = 0.0
    private val kf = new Array[Double](m)
    private val w = new Array[Double](m)
    // exact prior: ψ-weights, autocovariances and the (r+1)² γ system
    private val psi = new Array[Double](m)
    private val gamma = new Array[Double](m + 1)
    private val rhs = new Array[Double](m + 1)
    private val sys = new Array[Double]((m + 1) * (m + 1))
    // dense κ-diffuse fallback, made on its first use
    private var p: Array[Double] = null
    private var k: Array[Double] = null
    private var tp: Array[Double] = null

    /** Exact log-likelihood of `u` under ARMA(ar, ma), σ² concentrated
      * out (left in [[sigma2]]); −∞ when an innovation variance is not
      * positive. */
    def loglik(u: Array[Double], ar: Array[Double], ma: Array[Double]): Double = {
      val n = u.length
      start(ar, ma)
      sigma2 = Double.NaN
      var sumLogF = 0.0
      var sumV2F = 0.0
      var t = 0
      while (t < n) {
        val ft = step(u(t))
        if (ft <= 1e-300 || ft.isNaN) return Double.NegativeInfinity
        sumLogF += math.log(ft)
        sumV2F += v * v / ft
        t += 1
      }
      val s2 = sumV2F / n
      if (s2 <= 0 || s2.isNaN) return Double.NegativeInfinity
      sigma2 = s2
      -0.5 * (n * (math.log(2 * math.Pi) + 1.0 + math.log(s2)) + sumLogF)
    }

    /** Load ARMA(ar, ma) and its prior, with a zero state mean. */
    def start(ar: Array[Double], ma: Array[Double]): Unit = {
      load(ar, ma)
      java.util.Arrays.fill(a, 0.0)
      dense = !stationaryRow(kf)
      if (dense) {
        if (p == null) { p = new Array[Double](m * m); k = new Array[Double](m); tp = new Array[Double](m * m) }
        java.util.Arrays.fill(p, 0.0)
        var i = 0
        while (i < m) { p(i * m + i) = DiffuseKappa; i += 1 }
      } else {
        // F₁ = P₀(0,0); K₁F₁ = T P₀ e1; P₂ − P₁ = −(K₁F₁)(K₁F₁)ᵀ/F₁
        f = kf(0)
        var i = 0
        while (i < m) { kf(i) = phi(i) * f + (if (i + 1 < m) kf(i + 1) else 0.0); i += 1 }
        System.arraycopy(kf, 0, w, 0, m)
        mu = -1.0 / f
      }
    }

    /** T and R of ARMA(ar, ma). */
    def load(ar: Array[Double], ma: Array[Double]): Unit = {
      nAr = ar.length
      nMa = ma.length
      java.util.Arrays.fill(phi, 0.0)
      System.arraycopy(ar, 0, phi, 0, nAr)
      java.util.Arrays.fill(r, 0.0)
      r(0) = 1.0
      System.arraycopy(ma, 0, r, 1, nMa)
    }

    /** First row of the stationary P₀ (σ² = 1) into `row`, from the
      * autocovariances γ and ψ-weights of the ARMA:
      * P₀(0,0) = γ(0), P₀(0,i) = Σ_{k≥i} φ_{k+1}·γ(k+1−i) + r_k·ψ_{k−i}.
      * False — row untouched — when the AR part is not stationary. */
    def stationaryRow(row: Array[Double]): Boolean = {
      if (!stepDownStationary()) return false
      // ψ_j = r_j + Σ φ_k ψ_{j−k}
      var j = 0
      while (j < m) {
        var s = r(j)
        var kk = 1
        while (kk <= math.min(j, nAr)) { s += phi(kk - 1) * psi(j - kk); kk += 1 }
        psi(j) = s
        j += 1
      }
      // γ(l) − Σ φ_k γ(|l−k|) = Σ_{j≥l} r_j ψ_{j−l}, solved for l = 0..p
      java.util.Arrays.fill(rhs, 0.0)
      var l = 0
      while (l <= nMa) {
        var s = 0.0
        j = l
        while (j <= nMa) { s += r(j) * psi(j - l); j += 1 }
        rhs(l) = s
        l += 1
      }
      val dim = nAr + 1
      java.util.Arrays.fill(sys, 0, dim * dim, 0.0)
      l = 0
      while (l < dim) {
        sys(l * dim + l) = 1.0
        var kk = 1
        while (kk <= nAr) { sys(l * dim + math.abs(l - kk)) -= phi(kk - 1); kk += 1 }
        gamma(l) = rhs(l)
        l += 1
      }
      if (!solve(sys, gamma, dim)) return false
      // the remaining lags by the AR recursion
      l = dim
      while (l < m) {
        var s = rhs(l)
        var kk = 1
        while (kk <= nAr) { s += phi(kk - 1) * gamma(l - kk); kk += 1 }
        gamma(l) = s
        l += 1
      }
      row(0) = gamma(0)
      var i = 1
      while (i < m) {
        var s = 0.0
        var kk = i
        while (kk < m) { s += phi(kk) * gamma(1 + kk - i) + r(kk) * psi(kk - i); kk += 1 }
        row(i) = s
        i += 1
      }
      true
    }

    /** All partial autocorrelations of 1 − Σ φ_k B^k inside (−1, 1), by
      * the Levinson step-down recursion (uses `psi`/`rhs` as scratch). */
    private def stepDownStationary(): Boolean = {
      var cur = psi
      var nxt = rhs
      System.arraycopy(phi, 0, cur, 0, nAr)
      var order = nAr
      while (order > 0) {
        val pk = cur(order - 1)
        if (!(math.abs(pk) < 1.0)) return false
        val den = 1.0 - pk * pk
        var j = 0
        while (j < order - 1) { nxt(j) = (cur(j) + pk * cur(order - 2 - j)) / den; j += 1 }
        val tmp = cur; cur = nxt; nxt = tmp
        order -= 1
      }
      true
    }

    /** Filter observation `ut`: the innovation v with variance F_t; the
      * mean moves to a_{t+1} = T a_t + K_t v, and F, K·F, W, μ to step
      * t + 1. Returns F_t. */
    def step(ut: Double): Double = {
      if (dense) return denseStep(ut)
      v = ut - a(0)
      val ft = f
      val g = v / ft
      val a0 = a(0)
      var i = 0
      while (i < m) { a(i) = phi(i) * a0 + (if (i + 1 < m) a(i + 1) else 0.0) + kf(i) * g; i += 1 }
      // F_{t+1} = F_t + μ·w0², K_{t+1}F_{t+1} = K_tF_t + μ·w0·TW,
      // W_{t+1} = (T − K_t e1ᵀ) W, μ_{t+1} = μ − (μ·w0)²/F_{t+1}
      val w0 = w(0)
      val mw = mu * w0
      val fNext = ft + mw * w0
      i = 0
      while (i < m) {
        val tw = phi(i) * w0 + (if (i + 1 < m) w(i + 1) else 0.0)
        w(i) = tw - kf(i) * w0 / ft
        kf(i) += mw * tw
        i += 1
      }
      mu -= mw * mw / fNext
      f = fNext
      ft
    }

    /** The κ-diffuse branch: with F = P(0,0), when F > 1e-300 update
      * a ← a + (P e1) v/F and P ← P − (P e1)(P e1)ᵀ/F; then predict
      * a ← T a and P ← T P Tᵀ + R Rᵀ. Returns F. */
    private def denseStep(ut: Double): Double = {
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
      val a0 = a(0)
      var i = 0
      while (i < m) { a(i) = phi(i) * a0 + (if (i + 1 < m) a(i + 1) else 0.0); i += 1 }
    }
  }

  /** Solve the flat n×n system `a`·x = `b` in place (x into `b`) by
    * Gaussian elimination with partial pivoting; false when singular. */
  private def solve(a: Array[Double], b: Array[Double], n: Int): Boolean = {
    var c = 0
    while (c < n) {
      var piv = c
      var r = c + 1
      while (r < n) { if (math.abs(a(r * n + c)) > math.abs(a(piv * n + c))) piv = r; r += 1 }
      if (!(math.abs(a(piv * n + c)) > 0.0)) return false
      if (piv != c) {
        var j = 0
        while (j < n) { val t = a(c * n + j); a(c * n + j) = a(piv * n + j); a(piv * n + j) = t; j += 1 }
        val t = b(c); b(c) = b(piv); b(piv) = t
      }
      r = c + 1
      while (r < n) {
        val g = a(r * n + c) / a(c * n + c)
        if (g != 0.0) {
          var j = c
          while (j < n) { a(r * n + j) -= g * a(c * n + j); j += 1 }
          b(r) -= g * b(c)
        }
        r += 1
      }
      c += 1
    }
    var i = n - 1
    while (i >= 0) {
      var s = b(i)
      var j = i + 1
      while (j < n) { s -= a(i * n + j) * b(j); j += 1 }
      b(i) = s / a(i * n + i)
      i -= 1
    }
    true
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
    // one set of work arrays per fit, reused by every evaluation
    val phi = new Array[Double](p)
    val th = new Array[Double](q)
    val sp = new Array[Double](P)
    val st = new Array[Double](Q)
    val u = new Array[Double](n)
    val arC = new Array[Double](p + P * s)
    val maC = new Array[Double](q + Q * s)
    val filter = new ArmaFilter(math.max(arC.length, maC.length + 1))
    def cOf(v: Array[Double]) = if (trendC) v(0) else 0.0
    def bOf(v: Array[Double]) = if (w.isDefined) v(nReg - 1) else 0.0
    /** The φ, θ, Φ, Θ slices of `v` into their work arrays. */
    def unpack(v: Array[Double]): Unit = {
      System.arraycopy(v, nReg, phi, 0, p)
      System.arraycopy(v, nReg + p, th, 0, q)
      System.arraycopy(v, nReg + p + q, sp, 0, P)
      System.arraycopy(v, nReg + p + q + P, st, 0, Q)
    }

    /** Concentrated loglik at `v` (σ̂² left in `filter.sigma2`). */
    def loglikOf(v: Array[Double]): Double = {
      // bound only the ARMA coefficients: they can destabilize the filter,
      // while (c, β) are linear and legitimately take any magnitude (an
      // absolute cutoff there would silently reject unscaled-level series)
      var i = 0
      while (i < v.length) {
        if (v(i).isNaN || (i >= nReg && math.abs(v(i)) > 1e3)) return Double.NegativeInfinity
        i += 1
      }
      unpack(v)
      residualsInto(z, w, cOf(v), bOf(v), u)
      expandPolyInto(phi, sp, s, signAr = true, arC)
      expandPolyInto(th, st, s, signAr = false, maC)
      filter.loglik(u, arC, maC)
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
        // (near-cancelling AR/MA roots, and under the κ-diffuse prior an MA
        // coefficient at its bound), so three ARMA kicks run and the best
        // loglik wins. Pure-AR surfaces lack the cancellation mechanism, so
        // one start suffices there. Measured against these three kicks, one
        // 0.05 kick lost up to 114 of loglik (an explosive series) and 4.2
        // (a 48-month ces_pipeline series) and changed 6 of 176 AIC
        // selections there; a CSS (Hannan–Rissanen) start lost up to 21.
        def obj(v: Array[Double]): Double = {
          val ll = loglikOf(v); if (ll.isNegInfinity) 1e12 else -ll
        }
        val kicks = if (q + Q == 0) Seq(0.05) else Seq(0.05, 0.4, -0.4)
        kicks.map { kick =>
          val s0 = start.clone()
          java.util.Arrays.fill(s0, nReg, nFree, kick)
          nelderMead(obj, s0)
        }.minBy(obj)
      }
    val ll = loglikOf(best)
    if (ll.isNegInfinity || ll.isNaN) return None
    val k = nFree + 1 // + σ², statsmodels' count
    Some(SarimaxFit(spec, cOf(best), bOf(best), phi, th, sp, st, filter.sigma2, ll,
      -2 * ll + 2 * k, n))
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
    candidates.flatMap(c => fit(y, x, c, trendC)).minByOption(_.aic)
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
    val u = new Array[Double](z.length)
    residualsInto(z, w, fitted.intercept, fitted.beta, u)
    val arC = expandPoly(fitted.phi, fitted.sphi, s, signAr = true)
    val maC = expandPoly(fitted.theta, fitted.stheta, s, signAr = false)
    // filter to the end state a_{n+1|n} under the fit's own prior
    val filter = new ArmaFilter(math.max(arC.length, maC.length + 1))
    filter.start(arC, maC)
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
