package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Column profiling — the data-quality reconnaissance pass every
  * pipeline runs before trusting a new 100 TB drop: per-column row,
  * null, and distinct counts plus value range, as ONE scan.
  *
  * Scale shape: one column-pruned scan stacked to (col_name, value)
  * rows, then TWO map-side-combined aggregates — the per-column value
  * grid, then the per-column readout. Exact distincts by design (the
  * profile runs once; monitoring uses [[Sketch.kmvDistinct]] or
  * `approx_count_distinct`), but WITHOUT the multi-countDistinct
  * Expand plan: that form shuffled expanded ROWS twice per distinct
  * column set, where the grid form's first shuffle already carries
  * only per-partition distinct (column, value) cells — measured 2.5×
  * on the q138 contract query (2.76 → 1.09 s at sf0.1, back-to-back). Ranges are
  * min/max over the STRING cast — ordered consistently across engines
  * (bytewise), typed consistently across heterogeneous columns, and
  * honest about what a profile is for (eyeballing, not arithmetic).
  *
  * Output: one row per profiled column —
  * `(col_name, n_rows, n_null, n_distinct, min_value, max_value)`. */
object Profile {

  def profile(df: DataFrame, columns: Seq[String]): DataFrame = {
    require(columns.nonEmpty, "profile needs at least one column")
    val missing = columns.filterNot(df.columns.contains)
    require(missing.isEmpty, s"columns not found: ${missing.mkString(", ")}")
    // stack pivots each row to (col_name, value-as-string) — one scan,
    // columns.size× rows, the SAME row multiplication the multi-
    // countDistinct Expand would pay — then every per-column statistic
    // reads off the (col_name, value) count grid: n_rows = Σ counts,
    // n_null = the null cell's count, n_distinct = non-null grid rows,
    // min/max = grid min/max. Two map-side-combined aggregates replace
    // Expand + two distinct-agg shuffles; the first shuffle carries the
    // per-partition distinct grid, not rows. Backticks keep dotted/odd
    // source column names intact inside the expression.
    // (One semantic hair vs countDistinct over native values: grouping
    // by the STRING cast splits -0.0 from 0.0 on float columns, which
    // native grouping normalizes together. The cast is injective for
    // every other atomic value, and ranges were already string-typed.)
    val stackArgs = columns.map(c => s"'$c', cast(`$c` as string)").mkString(", ")
    val grid = df
      .selectExpr(s"stack(${columns.size}, $stackArgs) AS (col_name, __v)")
      .groupBy(col("col_name"), col("__v")).agg(count(lit(1)).as("__c"))
      .groupBy(col("col_name"))
      .agg(sum(col("__c")).as("n_rows"),
        coalesce(sum(when(col("__v").isNull, col("__c"))), lit(0L)).as("n_null"),
        count(col("__v")).as("n_distinct"),
        min(col("__v")).as("min_value"),
        max(col("__v")).as("max_value"))
    // Seed with the requested column list (a columns.size-row literal
    // frame) so an EMPTY input still emits one all-zero row per column:
    // the grid aggregate alone would emit ZERO rows, and profileDiff's
    // col_name join would then silently drop the drift report for
    // exactly the "producer started emitting empties" scenario it
    // exists to catch. Non-empty inputs are row-identical to the
    // unseeded form (every requested column has a grid row).
    import df.sparkSession.implicits._
    val seed = columns.toDF("col_name")
    seed.join(grid, Seq("col_name"), "left")
      .select(col("col_name"),
        coalesce(col("n_rows"), lit(0L)).as("n_rows"),
        coalesce(col("n_null"), lit(0L)).as("n_null"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        col("min_value"), col("max_value"))
  }

  /** Snapshot drift report — [[profile]] run on two versions of the same
    * table and diffed per column: the schema-stability check a daily
    * 100 TB drop gets before anything downstream trusts it (null-rate
    * spike = a producer started emitting empties; distinct collapse = a
    * join key got constant-folded upstream; range change = unit drift).
    *
    * Exactness: null rates compare as integer PERMILLE (`n·1000 div N` —
    * no float ratio), distincts and ranges compare directly; every
    * output column is an integer, string, or boolean, so the report
    * hash-matches a SQL replay. Cost: one [[profile]] scan per side
    * (2 scans total regardless of column count), one column-name join
    * of two column-count-sized frames.
    *
    * Output: `(col_name, n_before, n_after, null_pm_before,
    * null_pm_after, distinct_before, distinct_after, range_changed)`. */
  def profileDiff(before: DataFrame, after: DataFrame,
                  columns: Seq[String]): DataFrame = {
    val a = profile(before, columns).select(col("col_name"),
      col("n_rows").as("n_before"),
      expr("n_null * 1000 div nullif(n_rows, 0)").as("null_pm_before"),
      col("n_distinct").as("distinct_before"),
      col("min_value").as("__mna"), col("max_value").as("__mxa"))
    val b = profile(after, columns).select(col("col_name"),
      col("n_rows").as("n_after"),
      expr("n_null * 1000 div nullif(n_rows, 0)").as("null_pm_after"),
      col("n_distinct").as("distinct_after"),
      col("min_value").as("__mnb"), col("max_value").as("__mxb"))
    a.join(b, Seq("col_name"))
      .select(col("col_name"), col("n_before"), col("n_after"),
        col("null_pm_before"), col("null_pm_after"),
        col("distinct_before"), col("distinct_after"),
        (!(col("__mna") <=> col("__mnb")) ||
          !(col("__mxa") <=> col("__mxb"))).as("range_changed"))
  }

  /** Mutual information between two categorical columns — the
    * association readout profiling leads into ("is this column worth
    * keeping beside that one", "does the label leak through this
    * feature"): `I(X;Y) = Σ_{x,y} p(x,y)·ln(p(x,y)/(p(x)p(y)))`, in
    * nats. 0 ⇔ independent; upper-bounded by min(H(X), H(Y)).
    *
    * Exactness (the domainDivergence discipline): every term derives
    * from EXACT integer counts per (x, y) cell — the single float step
    * per cell (÷, ln) is a fixed expression tree, quantized to integer
    * nanonats `floor(t·10⁹+0.5)` and summed EXACTLY, so no cross-row
    * float accumulation order can perturb the result and `mi_e9`
    * hash-matches a SQL replay.
    *
    * Scale shape: one (x, y) aggregate over one scan (map-side combine
    * carries cells, not rows), marginals re-aggregated FROM the cell
    * table (never a second scan), broadcast back onto cells. Nulls are
    * excluded from both axes — null-as-category is a modeling choice the
    * caller can make explicit with an upstream fillna. Output: one row —
    * `(n_rows, nx_distinct, ny_distinct, mi_e9)`. */
  def mutualInfo(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val cells = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(col(xCol).as("__x"), col(yCol).as("__y"))
      .agg(count(lit(1)).as("__cxy"))
    val cx = cells.groupBy(col("__x")).agg(sum(col("__cxy")).as("__cx"),
      count(lit(1)).as("__kx"))
    val cy = cells.groupBy(col("__y")).agg(sum(col("__cxy")).as("__cy"),
      count(lit(1)).as("__ky"))
    val term = (col("__cxy").cast("double") / col("__n")) *
      log((col("__cxy") * col("__n")).cast("double") /
        (col("__cx") * col("__cy")).cast("double"))
    cells
      .join(broadcast(cx), "__x")
      .join(broadcast(cy), "__y")
      .crossJoin(broadcast(cells.agg(sum(col("__cxy")).as("__n"))))
      .withColumn("__term_e9", floor(term * lit(1e9) + lit(0.5)).cast("long"))
      .agg(max(col("__n")).as("n_rows"),
        countDistinct(col("__x")).as("nx_distinct"),
        countDistinct(col("__y")).as("ny_distinct"),
        sum(col("__term_e9")).as("mi_e9"))
  }

  /** Pearson chi-square independence test + Cramér's V between two
    * categorical columns — the significance-flavored companion to
    * [[mutualInfo]] (MI measures shared information; V normalizes
    * association to [0, 1] regardless of table size, the profiling
    * readout "are these columns related at all").
    * [[graft.operators.Metrics.chiSquareIndependence]] is the PER-KEY
    * sibling (df + inlined critical table + significance verdict, with
    * a streaming twin); this one is the global single-row profiling
    * form with the effect size.
    *
    * Exactness (the mutualInfo discipline): cell/marginal counts are
    * exact integers; χ² uses the observed-cells-only identity
    * `χ² = Σ_cells o²·n/(r·c) − n` (the zero cells' `(0−e)²/e = e`
    * terms fold into the −n), so the aggregate never has to fabricate
    * empty cells; each term is ONE fixed float tree over the exact
    * longs `o²` and `r·c`, e6-quantized per cell and summed exactly;
    * V is one sqrt over the ALREADY-QUANTIZED χ² (so both engines see
    * the same integer input). BIGINT bound: `o² ≤ n²` — fine to
    * ~3·10⁹ rows.
    *
    * Scale shape: one (x, y) cell aggregate, marginals re-aggregated
    * from cells, broadcast back — raw rows shuffle once. Output: one
    * row `(n_rows, nx_levels, ny_levels, chi2_e6, cramers_v_e6)`. */
  def chiSquare(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val cells = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(col(xCol).as("__x"), col(yCol).as("__y"))
      .agg(count(lit(1)).as("__o"))
    val cx = cells.groupBy(col("__x")).agg(sum(col("__o")).as("__r"))
    val cy = cells.groupBy(col("__y")).agg(sum(col("__o")).as("__c"))
    val tot = cells.agg(sum(col("__o")).as("__n"))
    val term = (col("__o") * col("__o")).cast("double") *
      col("__n").cast("double") / (col("__r") * col("__c")).cast("double")
    cells
      .join(broadcast(cx), "__x")
      .join(broadcast(cy), "__y")
      .crossJoin(broadcast(tot))
      .withColumn("__t_e6", floor(term * lit(1e6) + lit(0.5)).cast("long"))
      .agg(max(col("__n")).as("n_rows"),
        countDistinct(col("__x")).as("nx_levels"),
        countDistinct(col("__y")).as("ny_levels"),
        (sum(col("__t_e6")) - max(col("__n")) * 1000000L).as("chi2_e6"))
      .withColumn("cramers_v_e6",
        // nullif: a single-level column makes the V denominator 0; both
        // engines must emit null V, not a cross-engine Infinity-cast split
        floor(sqrt(col("chi2_e6").cast("double") / 1e6 /
            expr("nullif(n_rows * least(nx_levels - 1, ny_levels - 1), 0)")
              .cast("double")) * lit(1e6) + lit(0.5)).cast("long"))
  }

  /** Benford first-digit screen — the classic naturally-occurring-data /
    * fabrication test: the leading digit of organically-scaled positive
    * values follows `P(d) = log₁₀(1 + 1/d)`; per (group, digit) this
    * emits the observed integer-permille-style share beside the Benford
    * expectation and the absolute deviation, all `_e6`-quantized.
    *
    * Exactness: the digit is the first character of the LONG value's
    * decimal rendering (no float log in the extraction path — `log10`
    * flips at powers of ten exactly where doubles wobble); shares are
    * exact integer `c·10⁶ div n`; the Benford column is one fixed
    * `log10` tree per digit, deviation an integer subtraction of the two
    * quantized columns. One aggregate over one scan; nine rows per
    * group. Zero/negative/null values are excluded (Benford is defined
    * on positive magnitudes). */
  def benfordDigits(df: DataFrame, groupCols: Seq[String],
                    valueCol: String): DataFrame = {
    require(groupCols.nonEmpty, "benfordDigits needs at least one group column")
    val v = col(valueCol).cast("long")
    val digits = df.filter(v.isNotNull && v > 0)
      .withColumn("digit", substring(v.cast("string"), 1, 1).cast("int"))
      .groupBy((groupCols.map(col) :+ col("digit")): _*)
      .agg(count(lit(1)).as("n_d"))
    val part = Window.partitionBy(groupCols.map(col): _*)
    digits
      .withColumn("n", sum(col("n_d")).over(part))
      .withColumn("share_e6", expr("n_d * 1000000 div n"))
      .withColumn("benford_e6",
        floor(log(10.0, lit(1.0) + lit(1.0) / col("digit").cast("double"))
          * 1e6 + 0.5).cast("long"))
      .withColumn("abs_dev_e6",
        abs(col("share_e6") - col("benford_e6")))
  }

  /** Pairwise Pearson correlation of INTEGER-VALUED numeric columns
    * (caller quantizes — the cents/permille discipline), melted to one
    * row per column pair — the numeric-association panel beside
    * [[mutualInfo]]/[[chiSquare]]'s categorical ones, and the profiling
    * readout that catches a leaked near-duplicate feature (r ≈ ±1)
    * before it poisons a training mix.
    *
    * Scale shape: ONE map-side-combined aggregate over ONE scan
    * computes every moment — n (listwise-complete rows), Σxᵢ, Σxᵢ² and
    * the k(k−1)/2 cross-sums Σxᵢxⱼ — then the pair grid is EXPLODED
    * FROM THE ONE-ROW RESULT (k² literals, zero additional scans or
    * shuffles). k is the profiled column count (~10¹); the aggregate
    * row is ~k²/2 longs.
    *
    * Exactness: all sums are exact BIGINTs (caller keeps Σx² < 2⁶³ —
    * rescale upstream otherwise); `r` is then ONE fixed double tree
    * `(n·Σxy − Σx·Σy)/√((n·Σx² − (Σx)²)(n·Σy² − (Σy)²))` e6-quantized,
    * replayed character-for-character in SQL. Degenerate pairs (either
    * variance 0, or n < 2) emit null `r_e6`. */
  def corrPairs(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, s"corrPairs needs >= 2 columns, got ${cols.size}")
    val pairs = for { i <- cols.indices; j <- i + 1 until cols.size }
      yield (cols(i), cols(j))
    val base = df.filter(cols.map(col(_).isNotNull).reduce(_ && _))
    val moments =
      cols.flatMap { c =>
        Seq(sum(col(c).cast("long")).as(s"__s_$c"),
          sum(col(c).cast("long") * col(c).cast("long")).as(s"__q_$c"))
      } ++
      pairs.zipWithIndex.map { case ((a, b), i) =>
        // alias by pair INDEX, not name concatenation: underscore-bearing
        // column names can collide under concatenation (cols a, a_b, b, b_b
        // make pairs (a,b_b) and (a_b,b) both "__p_a_b_b")
        sum(col(a).cast("long") * col(b).cast("long")).as(s"__p_$i")
      }
    val one = base.agg(count(lit(1)).as("n"), moments: _*)
    val pairStructs = pairs.zipWithIndex.map { case ((a, b), i) =>
      struct(lit(a).as("col_x"), lit(b).as("col_y"),
        col(s"__s_$a").as("sx"), col(s"__q_$a").as("qx"),
        col(s"__s_$b").as("sy"), col(s"__q_$b").as("qy"),
        col(s"__p_$i").as("sxy"))
    }
    one.select(col("n"), explode(array(pairStructs: _*)).as("__p"))
      .select(col("__p.col_x").as("col_x"), col("__p.col_y").as("col_y"),
        col("n"), col("__p.sx").as("__sx"), col("__p.qx").as("__qx"),
        col("__p.sy").as("__sy"), col("__p.qy").as("__qy"),
        col("__p.sxy").as("__sxy"))
      .withColumn("r_e6", expr(
        """case when n >= 2 and (cast(n as double) * __qx - cast(__sx as double) * __sx)
          |    * (cast(n as double) * __qy - cast(__sy as double) * __sy) > 0 then
          |  cast(floor((cast(n as double) * __sxy - cast(__sx as double) * __sy)
          |    / sqrt((cast(n as double) * __qx - cast(__sx as double) * __sx)
          |           * (cast(n as double) * __qy - cast(__sy as double) * __sy))
          |    * 1000000 + 0.5) as bigint) end""".stripMargin))
      .drop("__sx", "__qx", "__sy", "__qy", "__sxy")
  }

  /** Per-group concentration profile of a categorical column — the
    * Herfindahl–Hirschman index `Σᵢ(cᵢ/n)²` plus the top-item share
    * and distinct-item count: the "is this corpus/segment dominated by
    * one source" readout (a domain mix where one crawl owns 80% of the
    * tokens is a training-data risk the mean can't see; HHI names it
    * in one number — 10⁶·(1/k) for k equal items, 10⁶ for a monopoly).
    *
    * Exactness: everything from ONE per-(group, item) count aggregate;
    * `hhi_e6 = Σcᵢ²·10⁶ div n²` and `top_share_e6 = max(c)·10⁶ div n`
    * are exact BIGINT arithmetic over the count grid (Σc² ≤ n² keeps
    * every product under 2⁶³ to n ≈ 3·10⁹ per group).
    *
    * Scale shape: counts map-side combine; the HHI re-aggregation runs
    * over the (group, item) grid, never the rows. Output: `(groupCols…,
    * n, n_items, top_share_e6, hhi_e6)`. */
  def concentration(df: DataFrame, groupCols: Seq[String],
                    itemCol: String): DataFrame = {
    require(groupCols.nonEmpty, "concentration needs at least one group column")
    val g = groupCols.map(col)
    df.filter(col(itemCol).isNotNull)
      .groupBy(g :+ col(itemCol).as("__i"): _*)
      .agg(count(lit(1)).as("__c"))
      .groupBy(g: _*)
      .agg(
        sum(col("__c")).as("n"),
        count(lit(1)).as("n_items"),
        max(col("__c")).as("__top"),
        sum(col("__c") * col("__c")).as("__sq"))
      .withColumn("top_share_e6", expr("__top * 1000000 div n"))
      // DECIMAL widening: Σc²·10⁶ wraps BIGINT at Σc² ≳ 9·10¹² — a
      // 4M-row near-monopoly group, exactly the regime HHI exists to
      // flag; the decimal detour restores the n ≤ 3·10⁹ bound
      .withColumn("hhi_e6", expr(
        "cast(cast(__sq as decimal(38,0)) * 1000000 div (n * n) as bigint)"))
      .drop("__top", "__sq")
  }

  /** k-anonymity / l-diversity audit of a quasi-identifier combination —
    * the privacy-side data-quality gate a training corpus carrying user
    * attributes must pass before release (Sweeney 2002; Machanavajjhala
    * 2007): every row whose quasi-identifier equivalence class has fewer
    * than `k` members is re-identifiable by linkage, and a class whose
    * sensitive attribute shows < l distinct values leaks it outright
    * even at k.
    *
    * One row out: `(n_rows, n_classes, min_class_size, rows_below_k,
    * share_below_k_e6, min_l_diversity, classes_l1)` — `min_class_size ≥
    * k` is the k-anonymity verdict, `min_l_diversity` the worst class's
    * sensitive diversity, `classes_l1` how many classes are fully
    * homogeneous (l = 1, the worst case).
    *
    * Scale shape: ONE aggregate to the equivalence-class grid (map-side
    * combined; the exact per-class distinct is one Expand — the
    * [[profile]] run-once convention, with
    * [[graft.operators.Sketch.kmvDistinct]] named for always-on use),
    * then a one-row re-aggregation of the grid. All counts exact
    * BIGINTs; the share is one integer division. */
  def kAnonymity(df: DataFrame, quasiCols: Seq[String], sensitiveCol: String,
                 k: Long): DataFrame = {
    require(quasiCols.nonEmpty, "kAnonymity needs at least one quasi-identifier")
    require(k >= 2, s"k must be >= 2, got $k")
    val classes = df
      .groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("__n"),
        countDistinct(col(sensitiveCol)).as("__l"))
    classes.agg(
        sum(col("__n")).as("n_rows"),
        count(lit(1)).as("n_classes"),
        min(col("__n")).as("min_class_size"),
        sum(when(col("__n") < k, col("__n")).otherwise(0L)).as("rows_below_k"),
        min(col("__l")).as("min_l_diversity"),
        sum(when(col("__l") === 1, 1L).otherwise(0L)).as("classes_l1"))
      .withColumn("share_below_k_e6",
        expr("rows_below_k * 1000000 div nullif(n_rows, 0)"))
  }

  /** t-closeness per equivalence class — the third rung of the privacy
    * ladder (Li, Li & Venkatasubramanian 2007) above [[kAnonymity]]'s
    * k and l: a class can be k-anonymous AND l-diverse yet still leak
    * (e.g. 99% of one sensitive value where the population is 50/50);
    * t-closeness bounds the distance between each class's sensitive
    * DISTRIBUTION and the global one. For categorical sensitives the
    * distance is total variation: `TVD = ½ Σ_v |p_gv − p_v|`.
    *
    * Exactness: pure counting — `Σ_v |c_gv·N − c_v·n_g|` over the
    * class×value grid in DECIMAL(38,0) (products of two counts pass 2⁶³
    * near 10¹⁰ rows), PLUS `n_g·(N − Σ_{v∈class} c_v)` for the values
    * the class never shows (a missing value still contributes its full
    * global mass — dropping it understates the leak); ONE double
    * division to e6 at readout. Global value counts broadcast (sensitive
    * cardinality is bounded by contract); everything else map-side
    * combines on the class×value grid.
    *
    * Output: one row per class — `(quasi…, n, n_values, tvd_e6)`. */
  def tCloseness(df: DataFrame, quasiCols: Seq[String],
                 sensitiveCol: String): DataFrame =
    tClosenessFromCells(tClosenessCells(df, quasiCols, sensitiveCol), quasiCols)

  /** The class×value count grid behind [[tCloseness]] — split out (the
    * didMoments factoring) so the streaming twin can hold exactly this
    * grid as complete-mode state; the global distribution and grand
    * total re-derive FROM the grid, so the readout needs nothing else. */
  def tClosenessCells(df: DataFrame, quasiCols: Seq[String],
                      sensitiveCol: String): DataFrame = {
    require(quasiCols.nonEmpty, "tCloseness needs at least one quasi-identifier")
    graft.functions.Cols.dropNullKeys(df, quasiCols)
      .filter(col(sensitiveCol).isNotNull)
      .groupBy(quasiCols.map(col) :+ col(sensitiveCol).as("__v"): _*)
      .agg(count(lit(1)).as("__cgv"))
  }

  /** TVD readout over a [[tClosenessCells]] grid — shared by batch and
    * the streaming twin so parity cannot drift. */
  def tClosenessFromCells(cell: DataFrame, quasiCols: Seq[String]): DataFrame = {
    val q = quasiCols.map(col)
    val glob = cell.groupBy(col("__v")).agg(sum(col("__cgv")).as("__cv"))
    val tot = glob.agg(sum(col("__cv")).as("__nn"))
    val wCls = org.apache.spark.sql.expressions.Window.partitionBy(q: _*)
    cell
      .join(broadcast(glob), Seq("__v"))
      .crossJoin(broadcast(tot))
      .withColumn("__ng", sum(col("__cgv")).over(wCls))
      .withColumn("__term", expr(
        "abs(cast(__cgv as decimal(38,0)) * __nn - cast(__cv as decimal(38,0)) * __ng)"))
      .groupBy(q: _*)
      .agg(
        max(col("__ng")).as("n"),
        count(lit(1)).as("n_values"),
        sum(col("__term")).as("__t1"),
        sum(col("__cv").cast("decimal(38,0)")).as("__cvsum"),
        max(col("__nn")).as("__nn"))
      .withColumn("tvd_e6", expr(
        """cast(floor(
          |  cast(__t1 + cast(n as decimal(38,0)) * (__nn - __cvsum) as double)
          |  / (2.0 * cast(n as double) * cast(__nn as double))
          |  * 1000000 + 0.5) as bigint)""".stripMargin))
      .select(q :+ col("n") :+ col("n_values") :+ col("tvd_e6"): _*)
  }

  /** Per-group Spearman rank correlation — Pearson over MIDRANKS, the
    * monotone-association complement of [[corrPairs]]'s linear r (a
    * perfect exponential relation scores ρ = 1 here, r < 1 there), and
    * the robust choice when either axis is fat-tailed.
    *
    * HISTOGRAM-SHAPED (the ksDrift discipline — no per-row ranking
    * window, whose partition-by-group sort serializes on low-G inputs
    * and rescans rows at 100 TB): ONE (group, x, y) joint-count
    * aggregate is the only row scan; both marginal histograms derive
    * FROM the joint grid, the doubled midrank of a value is the exact
    * integer `2·cum − c + 1` over each value grid, and every Pearson
    * moment is `Σ c_xy·r_x·r_y` over the joint grid. Identical
    * midranks to a per-row `2·rank + ties − 1` ranking — bit-equal
    * output, grid-sized work. Bin continuous axes upstream (exact
    * ranks over unbinned 100 TB axes are a grid as big as the data —
    * same dial as [[graft.operators.Metrics.ksDrift]]).
    *
    * Exactness: all moments exact BIGINT sums; ρ is the same one fixed
    * double tree as [[corrPairs]], e6-quantized. BIGINT bound:
    * Σc·(2r)² ≤ 4n³ ⇒ n ≤ ~1.3·10⁶ rows per group (rank moments grow
    * cubically — sample beyond that).
    *
    * Constant axes (all ties: variance 0) emit null `rho_e6`. Output:
    * `(groupCols…, n, rho_e6)`. */
  /** Per-key partial correlation — the x↔y association AFTER removing
    * the common driver z: `r_xy·z = (r_xy − r_xz·r_yz) /
    * √((1−r_xz²)(1−r_yz²))`, the one-line answer to "is this
    * correlation real or just both riding z" that a raw [[corrPairs]]
    * panel cannot give (it shows all three r's; this nets them out).
    * Verdict via `t = r·√((n−3)/(1−r²))` against the asymptotic 1.96
    * (the [[graft.stats.Diagnostics.adfFixedLag]] fixed-critical
    * convention).
    *
    * Exactness: the nine sufficient sums are exact DECIMAL(38,0) over
    * caller-quantized integers; each pairwise r is ONE fixed double
    * tree (cross-multiplied covariance over the sqrt of exact variance
    * products), the partial and t are fixed trees OVER those doubles —
    * deterministic end-to-end, e6/e4-quantized, verdict on the ROUNDED
    * |t|. Degenerate keys (any constant column, or |r_xz| = 1 /
    * |r_yz| = 1) emit null partial/verdict.
    *
    * `longSums = true` is the measured FAST PATH (12.8× at the 10×
    * corpus, round 10: 10.28 s DECIMAL vs 0.80 s LONG; the
    * nine 16-byte decimal sum buffers, not the arithmetic, were the
    * round-9 sweep's 6.95× outlier): the sums accumulate as plain
    * BIGINT, and a SOUND fail-loud fence guards exactness —
    * `n · max|v|² < 2⁶³·0.9` per key (n·max|a|·max|b| upper-bounds
    * every |Σab|, so under the fence no sum can have wrapped; the max
    * abs columns cost three extra 8-byte aggregate slots). Past the
    * fence the key RAISES — re-quantize coarser or use the DECIMAL
    * path. The readout widens each difference through DECIMAL(38,0)
    * (`n·Σaa − (Σa)²` overflows BIGINT long before Σaa does), so BOTH
    * paths produce the exact same integers and ONE oracle serves them.
    * Dial math at the q309 framing (dollars ≤ ~1.1e5): the fence holds
    * to n ≈ 7.6e8 rows per key (~sf50 per return flag); cents would
    * trip it at sf0.1 — value framing IS the dial.
    *
    * Scale shape: ONE map-side-combined aggregate; per-key state is
    * ten numbers (thirteen on the fast path). Output: `(keys…, n_obs,
    * r_xy_e6, r_xz_e6, r_yz_e6, partial_e6, t_e4, significant)`. */
  def partialCorrelation(df: DataFrame, keyCols: Seq[String], xCol: String,
                         yCol: String, zCol: String,
                         longSums: Boolean = false): DataFrame = {
    require(keyCols.nonEmpty, "partialCorrelation needs at least one key column")
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val (x, y, z) = (col(xCol).cast("long"), col(yCol).cast("long"),
      col(zCol).cast("long"))
    val base = graft.functions.Cols.dropNullKeys(df, keyCols)
      .filter(x.isNotNull && y.isNotNull && z.isNotNull)
    val sums =
      if (!longSums)
        base.groupBy(keyCols.map(col): _*)
          .agg(count(lit(1)).as("n"),
            sum(dec(x)).as("sx"), sum(dec(y)).as("sy"), sum(dec(z)).as("sz"),
            sum(dec(x) * x).as("sxx"), sum(dec(y) * y).as("syy"),
            sum(dec(z) * z).as("szz"), sum(dec(x) * y).as("sxy"),
            sum(dec(x) * z).as("sxz"), sum(dec(y) * z).as("syz"))
      else
        base.groupBy(keyCols.map(col): _*)
          .agg(count(lit(1)).as("n"),
            sum(x).as("sx"), sum(y).as("sy"), sum(z).as("sz"),
            sum(x * x).as("sxx"), sum(y * y).as("syy"),
            sum(z * z).as("szz"), sum(x * y).as("sxy"),
            sum(x * z).as("sxz"), sum(y * z).as("syz"),
            max(abs(x)).as("__mx"), max(abs(y)).as("__my"),
            max(abs(z)).as("__mz"))
          // sound overflow fence decided on exact DECIMAL arithmetic:
          // under it no BIGINT sum above can have wrapped. The fence is
          // FOLDED INTO n (×1 when clear) so column pruning can never
          // optimize the raise_error away.
          .withColumn("n", col("n") * expr(
            """case when cast(n as decimal(38,0))
              |    * greatest(__mx, __my, __mz) * greatest(__mx, __my, __mz)
              |    < cast(8300000000000000000 as decimal(38,0)) then 1
              |  else cast(raise_error('partialCorrelation longSums fence: a sum
              | may exceed 2^63 — re-quantize coarser or use longSums=false')
              |    as int)
              |end""".stripMargin.replaceAll("\n", "")))
          .drop("__mx", "__my", "__mz")
    def r(sab: String, sa: String, sb: String, qa: String, qb: String) =
      s"""case when cast(cast(n as decimal(38,0)) * $qa
         |           - cast($sa as decimal(38,0)) * $sa as double)
         |      * cast(cast(n as decimal(38,0)) * $qb
         |           - cast($sb as decimal(38,0)) * $sb as double) > 0 then
         |  cast(cast(n as decimal(38,0)) * $sab
         |       - cast($sa as decimal(38,0)) * $sb as double)
         |    / sqrt(cast(cast(n as decimal(38,0)) * $qa
         |                - cast($sa as decimal(38,0)) * $sa as double)
         |           * cast(cast(n as decimal(38,0)) * $qb
         |                - cast($sb as decimal(38,0)) * $sb as double)) end"""
        .stripMargin.replaceAll("\n", " ")
    sums
      .withColumn("__rxy", expr(r("sxy", "sx", "sy", "sxx", "syy")))
      .withColumn("__rxz", expr(r("sxz", "sx", "sz", "sxx", "szz")))
      .withColumn("__ryz", expr(r("syz", "sy", "sz", "syy", "szz")))
      .withColumn("__den", expr(
        "(1.0 - __rxz * __rxz) * (1.0 - __ryz * __ryz)"))
      .withColumn("__pr", expr(
        """case when __den > 0 then
          |  (__rxy - __rxz * __ryz) / sqrt(__den) end""".stripMargin))
      .withColumn("__t", expr(
        """case when n > 3 and 1.0 - __pr * __pr > 0 then
          |  __pr * sqrt(cast(n - 3 as double) / (1.0 - __pr * __pr)) end"""
          .stripMargin))
      .withColumn("n_obs", col("n").cast("long"))
      .withColumn("r_xy_e6", expr(
        "cast(floor(__rxy * 1000000 + 0.5) as bigint)"))
      .withColumn("r_xz_e6", expr(
        "cast(floor(__rxz * 1000000 + 0.5) as bigint)"))
      .withColumn("r_yz_e6", expr(
        "cast(floor(__ryz * 1000000 + 0.5) as bigint)"))
      .withColumn("partial_e6", expr(
        "cast(floor(__pr * 1000000 + 0.5) as bigint)"))
      .withColumn("t_e4", expr("cast(floor(__t * 10000 + 0.5) as bigint)"))
      .withColumn("significant",
        when(col("t_e4").isNotNull, abs(col("t_e4")) > 19600L))
      .select((keyCols.map(col) :+ col("n_obs") :+ col("r_xy_e6") :+
        col("r_xz_e6") :+ col("r_yz_e6") :+ col("partial_e6") :+
        col("t_e4") :+ col("significant")): _*)
  }

  def spearman(df: DataFrame, groupCols: Seq[String], xCol: String,
               yCol: String): DataFrame = {
    require(groupCols.nonEmpty, "spearman needs at least one group column")
    val g = groupCols.map(col)
    val x = col(xCol)
    val y = col(yCol)
    // lazy localCheckpoint: THREE consumers read the joint grid (both rank
    // grids and the moment aggregate) — unshared, the row scan + (g, x, y)
    // shuffle would run three times (the Affinity.coOccurrence lesson).
    // Checkpoint blocks give the same compute-once sharing as persist but
    // are NOT registered in the CacheManager, so the ContextCleaner frees
    // them once the result is unreachable — repeated calls in a long-lived
    // session cannot accumulate cache entries.
    val joint = df.filter(x.isNotNull && y.isNotNull)
      .groupBy(g :+ x.as("__x") :+ y.as("__y"): _*)
      .agg(count(lit(1)).as("__c"))
      .localCheckpoint(false)
    def rankGrid(vCol: String, out: String): DataFrame = {
      val wCum = Window.partitionBy(g: _*).orderBy(col(vCol))
      joint.groupBy(g :+ col(vCol): _*).agg(sum(col("__c")).as("__cv"))
        .withColumn("__cum", sum(col("__cv")).over(wCum))
        .withColumn(out, lit(2L) * col("__cum") - col("__cv") + 1L)
        .drop("__cv", "__cum")
    }
    joint
      .join(rankGrid("__x", "__rx"), groupCols :+ "__x")
      .join(rankGrid("__y", "__ry"), groupCols :+ "__y")
      .groupBy(g: _*)
      .agg(
        sum(col("__c")).as("n"),
        sum(col("__c") * col("__rx")).as("__sx"),
        sum(col("__c") * col("__rx") * col("__rx")).as("__qx"),
        sum(col("__c") * col("__ry")).as("__sy"),
        sum(col("__c") * col("__ry") * col("__ry")).as("__qy"),
        sum(col("__c") * col("__rx") * col("__ry")).as("__sxy"))
      .withColumn("rho_e6", expr(
        """case when n >= 2 and (cast(n as double) * __qx - cast(__sx as double) * __sx)
          |    * (cast(n as double) * __qy - cast(__sy as double) * __sy) > 0 then
          |  cast(floor((cast(n as double) * __sxy - cast(__sx as double) * __sy)
          |    / sqrt((cast(n as double) * __qx - cast(__sx as double) * __sx)
          |           * (cast(n as double) * __qy - cast(__sy as double) * __sy))
          |    * 1000000 + 0.5) as bigint) end""".stripMargin))
      .drop("__sx", "__qx", "__sy", "__qy", "__sxy")
  }
}
