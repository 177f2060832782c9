package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reusable Column builders — the engine's scalar-function layer.
  *
  * Everything here is a pure Catalyst expression tree (no UDFs), so every
  * builder stays inside whole-stage codegen and is visible to the optimizer
  * (constant folding, predicate pushdown through the generated predicates).
  *
  * Pandas-parity notes are cited against the reference
  * (benji-carr/MCM_Problem_F_Data_Wrangling) per SURVEY.md §2.9/§2.3.
  */
object Cols {

  /** Shared null-key convention for every per-key operator: a null key
    * is not a key — rows whose key is null drop BEFORE grouping,
    * matching the `key IS NOT NULL` predicate the DuckDB oracles carry.
    * ONE definition so the convention cannot drift between files.
    * Empty `keyCols` is a no-op (the UNGROUPED/global case — callers
    * like welchTTest run one global test when no keys are given). */
  def dropNullKeys(df: DataFrame, keyCols: Seq[String]): DataFrame =
    if (keyCols.isEmpty) df
    else df.filter(keyCols.map(col(_).isNotNull).reduce(_ && _))


  /** NA-safe predicate: pandas `na=False` semantics (SURVEY F-N2;
    * reference prep_CES_pandas.py:62-65). A null predicate becomes `false`
    * so filters keep exactly the rows pandas keeps. */
  def naSafe(pred: Column): Column = coalesce(pred, lit(false))

  /** Exact-set OR prefix-set code predicate (SURVEY F5; reference
    * `naics_mask`, prep_CES_pandas.py:57-66 and `code_matches`,
    * load_CES_pandas.py:237-241). The one parameterized routing predicate of
    * the reference; compiles to `In` + `StartsWith` — both pushdown-able. */
  def codeMatches(c: Column, exact: Seq[String], prefixes: Seq[String]): Column = {
    val e = if (exact.nonEmpty) Some(c.isin(exact: _*)) else None
    val pz = if (prefixes.nonEmpty) Some(prefixes.map(c.startsWith).reduce(_ || _)) else None
    naSafe((e.toSeq ++ pz.toSeq).reduceOption(_ || _).getOrElse(lit(false)))
  }

  /** Case-insensitive substring search with NA→false (SURVEY F4; reference
    * load_CES_pandas.py:216-219 `str.contains(case=False, na=False)`). */
  def containsCI(c: Column, kw: String): Column =
    naSafe(lower(c).contains(kw.toLowerCase))

  /** pandas `pd.to_numeric(errors="coerce")` (SURVEY P5): junk → null.
    * Relies on non-ANSI cast semantics — [[graft.GraftSession.tune]] turns
    * `spark.sql.ansi.enabled` off (Spark 4 defaults it on). */
  def toDoubleCoerce(c: Column): Column = c.cast("double")

  /** Monthly date from BLS (`year`, `period`="Mxx") columns (SURVEY F-D1;
    * reference load_CES_pandas.py:145-154). Invalid years/periods → null,
    * matching `errors="coerce"`; the guard keeps `make_date` off invalid
    * inputs so the expression is also ANSI-safe. */
  def makeMonthDate(year: Column, period: Column): Column = {
    val y = year.cast("int")
    val m = when(period.startsWith("M"), substring(period, 2, 2).cast("int"))
    when(y.isNotNull && m.isNotNull && m.between(1, 12), make_date(y, m, lit(1)))
  }

  /** Month-start normalization (SURVEY F-D2): `to_period("M").to_timestamp()`. */
  def monthStart(c: Column): Column = date_trunc("month", c).cast("date")

  /** Month-end normalization (SURVEY F-D3): `to_period("M").to_timestamp("M")`. */
  def monthEnd(c: Column): Column = last_day(c)

  /** `np.log` with the reference's domain quirks normalized to SQL null
    * (SURVEY F-M1): log(x≤0) → null instead of -inf/NaN. */
  def safeLog(c: Column): Column = when(c > 0, log(c))

  /** `np.maximum(x, lo)` clip (SURVEY F-M3). */
  def clipMin(c: Column, lo: Double): Column = greatest(c, lit(lo))

  /** Yeo-Johnson power transform for a FIXED λ (SURVEY U4's closed-form
    * half; the λ-MLE fit lives in [[graft.stats.TimeSeriesStats]]). Branch
    * structure resolved at plan-build time since λ is a parameter. */
  def yeoJohnson(c: Column, lambda: Double): Column = {
    // Half-integer exponents decompose to sqrt/multiply chains: those are
    // IEEE correctly-rounded in every engine, while pow(x, 1.5) and log1p
    // are implementation-defined in the last ulp — enough to flip a
    // round(·, 4) digit and break bit-parity with the DuckDB oracle.
    def powx(base: Column, p: Double): Column = p match {
      case 0.5 => sqrt(base)
      case 1.0 => base
      case 1.5 => base * sqrt(base)
      case 2.0 => base * base
      case 3.0 => base * base * base
      case _   => pow(base, lit(p))
    }
    val pos =
      if (math.abs(lambda) < 1e-12) log(lit(1) + c)
      else (powx(c + 1, lambda) - 1) / lit(lambda)
    val neg =
      if (math.abs(lambda - 2) < 1e-12) -log(lit(1) - c)
      else -(powx(lit(1) - c, 2 - lambda) - 1) / lit(2 - lambda)
    when(c >= 0, pos).otherwise(neg)
  }

  /** Null-safe ratio: denominator 0 or null → null (avoids ANSI div-by-zero
    * and pandas inf). */
  def safeDiv(num: Column, den: Column): Column = num / nullif(den, lit(0))

  // ------------------------------------------------------------------
  // Portable hashing.
  //
  // Every hash the engine derives is md5: [[hash32]] here, the text-dedup
  // kernels in [[graft.text.TextHash]] and the exact-dedup digest. md5 is
  // bit-identical across engines, so every hash-derived operator (the
  // RNG in [[graft.operators.MonteCarlo]], SRP hyperplanes in
  // [[graft.sim.Similarity]], minhash/simhash signatures) is
  // oracle-checkable in DuckDB via
  // CAST('0x' || substring(md5(x),1,8) AS BIGINT).
  // ------------------------------------------------------------------

  /** The engine's one hash function, "md5" (see above). */
  val HashMode: String = "md5"

  /** Portable 32-bit md5 hash of a string column → long in [0, 2^32). */
  def hash32(c: Column): Column = conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** Universal-hash family member over a hash32 value: (a·h + b) mod p with
    * prime p > 2^32. `a` is kept ≤ 2^20 so a·h < 2^52 — no long overflow
    * even under ANSI arithmetic. */
  def affineHash(h: Column, a: Long, b: Long, p: Long = 4294967311L): Column = {
    require(a > 0 && a <= (1L << 20), "a must fit 2^20 to avoid overflow")
    (h * lit(a) + lit(b)) % lit(p)
  }

  /** Whitespace tokenizer (text-analysis layer): trim then split. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Word k-shingles from a token array, 1-indexed `element_at` so the same
    * expression shape works in DuckDB's 1-indexed list lambdas. Guarded:
    * fewer than k tokens → empty array (Spark's `sequence(1,0)` would count
    * DOWN, unlike DuckDB's empty `generate_series(1,0)`). */
  def shingles(toks: Column, k: Int): Column =
    when(size(toks) >= k,
      transform(
        sequence(lit(1), size(toks) - lit(k - 1)),
        i => concat_ws(" ", (0 until k).map(j => element_at(toks, i + lit(j))): _*)))
      .otherwise(array().cast("array<string>"))

  // ------------------------------------------------------------------
  // Vector math over ArrayType(FloatType) embeddings (similarity layer).
  // Elements are cast to double *before* accumulation, left-to-right, so
  // the floating-point result is reproducible across engines that sum
  // sequentially (DuckDB list_sum of a list_transform does).
  // ------------------------------------------------------------------

  /** Σ a[i]·b[i] accumulated in double, sequential order. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, v) => acc + v)

  /** Euclidean norm, double accumulation. */
  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity with zero-norm guard (null, not NaN). */
  def cosine(a: Column, b: Column): Column =
    safeDiv(dot(a, b), nullif(l2norm(a) * l2norm(b), lit(0.0)))
}
