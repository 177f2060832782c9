package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Physical-plan contracts: the shapes that make these operators survive a
  * 100x scale-up. Checked against the sf0.001 testdata so plan regressions
  * (a lost broadcast, a dropped pushdown, a second window sort) fail CI,
  * not the cluster. */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Registry frame with rowTuned's checkpoint staging DISABLED
    * (CompactOrder.introspected): the staged path replaces the visible
    * plan with an opaque LogicalRDD, which made every positive plan
    * assertion here unobservable in round 17. The contracts below pin
    * the CHILD plan — the staging itself is pinned separately by the
    * "rowTuned staging" test. */
  private def frame(q: String): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.graft.CompactOrder.introspected(
      SparkEntry.queries(q)(spark, dir))

  private def plan(q: String): String =
    frame(q).queryExecution.executedPlan.toString

  test("seasonal grid (q370) broadcasts the trig table — no SMJ, no extra sort") {
    val p = plan("q370_u6_seasonal_grid")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the 299-row (p, r) table must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"trig-table join fell back to SMJ:\n$p")
  }

  test("CMH (q377) is two map-side-combined aggregates — no window, no SMJ") {
    val p = plan("q377_x_cmh_test")
    assert(!p.contains("Window"), s"CMH must not plan a window:\n$p")
    assert(!p.contains("SortMergeJoin"), s"CMH must not shuffle-join:\n$p")
  }

  test("Breusch-Pagan (q376) broadcasts the per-key fit back onto the rows") {
    val p = plan("q376_x_breusch_pagan")
    assert(p.contains("BroadcastHashJoin"),
      s"the k-row coefficient table must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"fit join fell back to SMJ:\n$p")
  }

  test("Yeo-Johnson grid (q379) explodes via broadcast — rows never shuffle pre-aggregate") {
    val p = plan("q379_u4_yeojohnson_grid")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the 101-row lambda grid must broadcast:\n$p")
    // partial aggregation must sit below the exchange: the explode is
    // combined map-side, so only (key, lambda) cells cross the shuffle
    assert(p.linesIterator.exists(l =>
      l.contains("HashAggregate") && l.contains("partial")),
      s"expected map-side partial aggregation over the exploded grid:\n$p")
  }

  test("star join (q14) broadcasts every dimension — no sort-merge join") {
    val p = plan("q14_j123_star_join")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"), "dimension join fell back to SMJ")
  }

  test("flagship collapse (q00) broadcasts the part dimension") {
    val p = plan("q00_m2_ces_collapse")
    assert(p.contains("BroadcastHashJoin"))
  }

  test("isin filter (q11) is pushed to the parquet scan") {
    val p = plan("q11_f2_isin_filter")
    assert(p.contains("PushedFilters: [In(l_returnflag"),
      s"expected In pushdown in scan:\n$p")
  }

  test("projection (q29) prunes the scan to exactly the used columns") {
    val p = plan("q29_fs_string_fns")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("p_partkey") && readSchema.contains("p_name"))
    assert(!readSchema.contains("p_retailprice"), s"unused column read: $readSchema")
  }

  test("multi-feature window query (q17) plans exactly one Window node") {
    val df = frame("q17_w1_pct_change")
    val n = df.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Window ["))
    assert(n === 1, s"mom+yoy share one (partition, order) spec -> one WindowExec, got $n")
  }

  test("group-sum (q01) aggregates map-side (partial + final HashAggregate)") {
    val p = plan("q01_a1_groupsum")
    assert("HashAggregate".r.findAllIn(p).size >= 2, "missing partial aggregation")
  }

  test("exact dedup (q44) shuffles digests, not document text") {
    val df = frame("q44_x_dedup_exact")
    val exchangeLines = df.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchangeLines.nonEmpty)
    assert(exchangeLines.forall(l => l.contains("text_hash") || !l.contains("text#")),
      s"raw text crossed the shuffle: $exchangeLines")
  }

  test("monte-carlo (q32) contains no table scan — generated from range") {
    val p = plan("q32_u9_montecarlo_fan")
    assert(p.contains("Range ("))
    assert(!p.contains("FileScan"), "simulation should not read any table")
  }

  test("MC forecast fan (q40): one kernel pass — no sim grid, percentile or range exchange") {
    val p = plan("q40_u9u8_mc_forecast_fan")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"the fan must not materialize a (key x sim) grid:\n$p")
    assert(!p.toLowerCase.contains("percentile"),
      s"quantiles come from the kernel, not an exact percentile aggregate:\n$p")
    assert(!p.contains("rangepartitioning"), s"the fan order must not range-sample:\n$p")
    assert("Exchange SinglePartition".r.findAllIn(p).size == 1,
      s"the fan reaches its local sort through ONE single-partition shuffle:\n$p")
  }

  test("bucketed near-dup (q60) shuffles only ids+buckets for pair discovery") {
    val df = frame("q60_x_embed_neardup_bucketed")
    val exchangeLines = df.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchangeLines.nonEmpty)
    // no shuffle anywhere in the plan may carry embedding payloads: pair
    // discovery shuffles (id, bucket) and the distinct shuffles id pairs;
    // vectors re-attach only via broadcast-able id joins. (At sf0.001 the
    // bucket join itself broadcasts, so asserting on the bk exchange alone
    // would be vacuous — this form holds at every size.)
    assert(exchangeLines.forall(l => !l.contains("embedding") && !l.contains("__v")),
      s"embeddings crossed a shuffle: $exchangeLines")
  }

  test("ed-join (q392): no cartesian product; kernel parallelism pinned; df broadcast") {
    val p = plan("q392_x_edit_join_exact")
    assert(!p.contains("CartesianProduct"),
      "exact fuzzy join must never plan a cross product")
    // the banded-DP candidates redistribute round-robin before the
    // kernel (the byEditDistance explosive-join countermeasure)
    assert(p.contains("Exchange RoundRobinPartitioning"),
      s"candidate redistribution missing:\n$p")
    // the gram-frequency attach is a broadcast, not a 10M-row shuffle join
    assert(p.contains("BroadcastHashJoin"), s"df attach not broadcast:\n$p")
    assert(p.contains("levenshtein"), "banded DP kernel missing from plan")
  }

  test("jaccard join (q394): consumers read the cached pair table, not the corpus") {
    val df = frame("q394_x_jaccard_join_complete")
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"))
    // the builder materializes the (small) pair result and unpersists the
    // token-array cache — the returned frame must be a scan of the pair
    // cache, never a recompute through the corpus-sized candidate join
    assert(p.contains("InMemoryTableScan"),
      s"q394 consumption recomputes the join:\n$p")
    // the consumer plan above the cached relation must not re-run the
    // verify kernel (the InMemoryRelation subtree printed BELOW is the
    // cache's build recipe, not the consumption path)
    val consumer = p.linesIterator
      .takeWhile(!_.contains("InMemoryRelation")).mkString("\n")
    assert(!consumer.contains("array_intersect"),
      s"verify kernel re-runs on consumption:\n$consumer")
  }

  test("outlier repair (q64): all three window stages share ONE sort and ONE shuffle") {
    // three Window nodes are inherent (lag-of-rolling-median nests, and
    // the is-last max is unordered) — what must NOT happen is a re-sort
    // or re-shuffle between them
    val p = frame("q64_w5w10_outlier_repair")
      .queryExecution.executedPlan.toString
    val windowSorts = p.linesIterator.count(l =>
      l.contains("Sort [prio") && l.contains("month"))
    val windowShuffles = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(prio"))
    assert(windowSorts <= 2, s"window stages re-sorted: $windowSorts sorts\n$p")
    assert(windowShuffles == 1, s"window stages re-shuffled: $windowShuffles\n$p")
  }

  test("sarimax grid (q39) reads only the order columns it needs") {
    val p = plan("q39_u8_sarimax_grid")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("o_orderdate") && readSchema.contains("o_totalprice"))
    assert(!readSchema.contains("o_comment"), s"unused column read: $readSchema")
  }

  test("sarimax grid (q39): the candidate fits redistribute round-robin") {
    // the byte-light (key x candidate) rows sit behind a by-number
    // repartition, the one shuffle AQE never coalesces into one fit task
    val p = plan("q39_u8_sarimax_grid")
    assert(p.contains("Exchange RoundRobinPartitioning"),
      s"fit redistribution missing:\n$p")
  }

  test("repetition stats (q80) and gopher filter (q84) are shuffle-free scans") {
    Seq("q80_x_repetition", "q84_x_gopher_filter").foreach { q =>
      val p = plan(q)
      val shuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
      assert(shuffles === 0, s"$q: per-row kernel must not shuffle\n$p")
    }
  }

  test("PII redaction (q82) stays inside whole-stage codegen — no UDF, no shuffle") {
    val df = frame("q82_x_pii_redact")
    df.collect() // finalize AQE so codegen spans render in the executed plan
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"), p)
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) === 0, p)
    // the "*(n)" span markers are the WholeStageCodegen regions in the
    // executed-plan tree string; the Project must carry one
    assert(p.linesIterator.exists(l => l.contains("*(") && l.contains("Project")),
      "regex pipeline fell out of codegen")
  }

  test("line dedup (q81) shuffles twice: line-keyed window + doc reassembly") {
    val p = plan("q81_x_line_dedup")
    val shuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    // one Exchange for the line-content window, one for the groupBy(doc_id)
    // reassembly; the final doc join broadcasts or reuses — anything more
    // means a lost partitioning reuse
    assert(shuffles <= 3, s"line dedup re-shuffled: $shuffles exchanges\n$p")
    assert(p.contains("Window ["), "first-occurrence must be a window, not a self-join")
  }

  test("perplexity scoring (q86) broadcasts the pruned vocab — no sort-merge join") {
    val p = plan("q86_x_perplexity")
    assert(p.contains("BroadcastHashJoin"), "vocab log-prob join must broadcast")
    assert(!p.contains("SortMergeJoin"),
      s"Zipf-truncated vocab fell back to a corpus-sized shuffle join:\n$p")
  }

  test("DSIR scoring (q88) broadcasts both LM sides — no sort-merge join") {
    val p = plan("q88_x_importance_score")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("int8 quantization (q97) is a shuffle-free pruned scan") {
    val p = plan("q97_x_embed_quantize")
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) === 0,
      s"per-row kernel must not shuffle:\n$p")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("embedding"))
    assert(!readSchema.contains("label"), s"unused column read: $readSchema")
  }

  test("dup n-gram coverage (q98) shuffles gram hashes and positions, never text") {
    val df = frame("q98_x_dup_ngram_coverage")
    val p = df.queryExecution.executedPlan.toString
    val exchangeLines = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchangeLines.nonEmpty)
    assert(exchangeLines.forall(!_.contains("text#")),
      s"document text crossed a shuffle: $exchangeLines")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"coverage join degenerated:\n$p")
    // interval union must be the analytic window, not a positions explode:
    // exactly one Generate (the gram posexplode), none for covered spans
    assert(p.linesIterator.count(_.contains("Generate")) <= 2, p)
  }

  test("C4 clean (q103) and normalize (q104) are shuffle-free per-row kernels") {
    Seq("q103_x_c4_line_clean", "q104_x_normalize_text").foreach { q =>
      val p = plan(q)
      assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) === 0,
        s"$q: per-row kernel must not shuffle\n$p")
      assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    }
  }

  test("vector centroid (q107) aggregates map-side (partial before the shuffle)") {
    val p = plan("q107_x_vector_centroid")
    // the typed Aggregator plans as ObjectHashAggregate/SortAggregate with
    // a partial mode before the single group-key exchange — the property
    // that keeps the shuffle at one buffer per (map task, group)
    assert(p.toLowerCase.contains("partial_quantcentroid") ||
      p.linesIterator.exists(l => l.contains("Aggregate") && l.contains("partial")),
      s"no partial aggregation before the shuffle:\n$p")
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) === 1, p)
  }

  test("weighted sample (q108) is a TakeOrdered top-n, not a global sort") {
    val p = plan("q108_x_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"), s"top-n lost:\n$p")
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) === 0, p)
  }

  test("grouped AUC (q188): both windows and the aggregate share ONE group shuffle") {
    val p = plan("q188_x_grouped_auc")
    // rank() over (grp, score) and the tie count over (grp, score) stack
    // on the same grp-hash exchange; the final per-grp aggregate reuses it
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) === 1,
      s"grouped AUC must be a single-shuffle operator:\n$p")
  }

  test("KS drift (q195): ECDF runs over the distinct-value grid, not raw rows") {
    val p = plan("q195_x_ks_drift")
    // the (group, value) count aggregates map-side before any exchange —
    // raw rows never reach the window stage
    assert(p.linesIterator.exists(l => l.contains("HashAggregate") &&
      l.contains("partial_count")), s"no map-side combine before the grid:\n$p")
  }

  test("KS drift (q195): building the plan launches NO job — the total derives " +
    "from the counts aggregate, not a driver-side count() over the raw input") {
    // Differential job count: spark.read.parquet's footer/schema-inference
    // jobs are construction-inherent, so the contract is "building the full
    // q195 plan launches exactly the jobs the bare table read launches" —
    // the r06 defect was ksDrift's extra driver-side count() over the raw
    // input, which would show up as a surplus job here.
    val baseline = jobsDuring { graft.sources.Tables.documents(spark, dir) }
    val q195 = jobsDuring { SparkEntry.queries("q195_x_ks_drift")(spark, dir) }
    assert(q195 === baseline,
      s"q195 construction ran ${q195 - baseline} eager job(s) beyond the table read")
  }

  test("video frames (q210): decode is a shuffle-free per-row kernel") {
    val p = plan("q210_x_video_frames")
    // header probe + sampled-frame decode are narrow per-row transforms;
    // the only exchange is the presentation orderBy's range partitioning
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) === 0,
      s"video decode must not hash-shuffle:\n$p")
  }

  test("audio features (q194): decode is a shuffle-free per-row kernel") {
    val p = plan("q194_x_audio_features")
    // one generate (explode) over the decode UDF; the only exchange is the
    // final presentation orderBy's range partitioning
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) === 0,
      s"audio decode must not hash-shuffle:\n$p")
  }

  test("integer EWMA (q201): all k lags stack on ONE window sort") {
    val p = plan("q201_x_ewma")
    // 8 lag frames must share a single WindowExec over a single sort on
    // (prio, x) — a per-lag sort would multiply the dominant cost 8x
    assert(p.linesIterator.count(_.contains("Window")) === 1, p)
  }

  test("MASE (q203): both lags share the window sort; one group shuffle after") {
    val p = plan("q203_x_mase")
    assert(p.linesIterator.count(_.contains("Window")) === 1, p)
  }

  test("n-gram diversity (q204): distinct rides the aggregate, text never joins") {
    val p = plan("q204_x_ngram_diversity")
    assert(!p.contains("Join"), s"diversity must be pure aggregation:\n$p")
  }

  test("batch sessions (q110): one shuffle end-to-end, windows stacked on one sort") {
    val p = plan("q110_x_batch_sessions")
    // lag (frame [-1,-1]) and running sum (unbounded..current) need two
    // WindowExecs, but they STACK on one (key, ts, tie) sort — and the
    // (key, session) aggregate reuses the key partitioning, so the whole
    // operator costs exactly one hash exchange
    assert(p.linesIterator.count(_.contains("Window")) === 2, p)
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) === 1,
      s"sessionization must be a single-shuffle operator:\n$p")
    // two sorts total: the shared window sort + the final orderBy
    assert(p.linesIterator.count(_.contains("Sort [")) <= 2, p)
  }

  test("table checksum (q217): ONE map-side-combined aggregate, one hash shuffle") {
    val p = plan("q217_x_table_checksum")
    assert(p.linesIterator.exists(l => l.contains("HashAggregate") &&
      l.contains("partial_sum")), s"no map-side combine:\n$p")
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) === 1,
      s"checksum must cost exactly one hash shuffle:\n$p")
  }

  test("URL canonicalization (q214): scan prunes documents to doc_id only") {
    val p = plan("q214_x_url_canonical")
    val scan = p.linesIterator.find(_.contains("FileScan")).getOrElse("")
    assert(scan.contains("ReadSchema: struct<doc_id:bigint>"),
      s"planted-URL query must read ONLY doc_id:\n$scan")
  }

  test("ADF fixed-lag (q212): scan prunes orders to the date and price columns") {
    val p = plan("q212_u56_adf_fixed")
    val scan = p.linesIterator.find(_.contains("FileScan")).getOrElse("")
    assert(scan.contains("o_orderdate") && scan.contains("o_totalprice") &&
      !scan.contains("o_custkey") && !scan.contains("o_orderpriority"),
      s"ADF must read only the two used columns:\n$scan")
  }

  test("average precision (q220): ranking window and aggregate share ONE group shuffle") {
    val p = plan("q220_x_avg_precision")
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) === 1,
      s"AP must be a single-shuffle operator (the q188 contract):\n$p")
  }

  test("correlation panel (q226): ONE scan, ONE map-side-combined aggregate, no shuffle by key") {
    val p = plan("q226_x_corr_pairs")
    assert(p.linesIterator.count(_.contains("FileScan")) === 1,
      s"all moments must come from one scan:\n$p")
    assert(p.linesIterator.exists(l => l.contains("HashAggregate") &&
      l.contains("partial_")), s"no map-side combine:\n$p")
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) === 0,
      s"global moment aggregate needs no hash shuffle (single-partition exchange only):\n$p")
  }

  test("Brier decomposition (q227): the row scan runs ONCE (persisted bin grid)") {
    val df = frame("q227_x_brier_decomp")
    val p = df.queryExecution.executedPlan.toString
    // the bin grid checkpoints once (Scan ExistingRDD — the lazy
    // localCheckpoint severs lineage, so NO FileScan survives in the
    // readout plan) and feeds both the one-row totals and the crossJoin
    assert(p.linesIterator.count(_.contains("Scan ExistingRDD")) === 2,
      s"bin grid must feed both consumers from the checkpoint:\n$p")
    assert(!p.contains("FileScan"),
      s"the raw row scan must not reappear downstream of the grid:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"one-row totals must broadcast onto the grid:\n$p")
  }

  test("changepoint (q228): both prefix windows stack on one sort, argmin reuses the partitioning") {
    val p = plan("q228_x_changepoint")
    // window over (key, ord) for prefix sums + window over key for the
    // argmin rank: one group-hash exchange each at most
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 2,
      s"changepoint must not exceed the two documented shuffles:\n$p")
    assert(p.linesIterator.count(_.contains("Window")) <= 3, p)
  }

  test("concentration (q229): counts map-side combine; HHI re-aggregates the grid") {
    val p = plan("q229_x_concentration")
    assert(p.linesIterator.exists(l => l.contains("HashAggregate") &&
      l.contains("partial_count")), s"no map-side combine before the grid:\n$p")
    assert(p.linesIterator.count(_.contains("FileScan")) === 1, p)
  }

  test("AR(1) backtest (q231): closed-form refits ride the window sort — no per-origin job") {
    val p = plan("q231_x_ar1_backtest")
    // monthly agg (1 exchange) + the key window (1 exchange); the final
    // per-key aggregate reuses the window partitioning
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 2,
      s"backtest must not shuffle per origin:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("lift table (q233): histogram deciles — rows aggregate once, no global row sort") {
    val p = plan("q233_x_lift_table")
    assert(p.linesIterator.exists(l => l.contains("HashAggregate") &&
      l.contains("partial_count")), s"score histogram must map-side combine:\n$p")
    // the only row-grain exchange is the value-histogram aggregation;
    // tiles + cumulative windows run on the grid (single partition)
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 2, p)
  }

  test("funnel A/B (q240): chained mins on ONE key window; variant split adds no shuffle") {
    val p = plan("q240_x_funnel_ab")
    // funnelByKey's unordered window + the distinct + reach aggregate;
    // the A/B split is a filter, not a repartition
    assert(!p.contains("CartesianProduct"), p)
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 5, p)
  }

  test("CUPED (q241): one moment aggregate, dimension broadcast") {
    val p = plan("q241_x_cuped")
    assert(p.contains("BroadcastHashJoin"), s"segment dim must broadcast:\n$p")
    assert(p.linesIterator.exists(l => l.contains("HashAggregate") &&
      l.contains("partial_")), p)
  }

  test("Neyman sample (q243): allocation runs on the stratum grid; one rank window over rows") {
    val p = plan("q243_x_neyman_sample")
    assert(p.contains("BroadcastHashJoin"),
      s"the allocation grid must broadcast back onto the rows:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("spearman (q230): the row scan runs ONCE (checkpointed joint grid feeds all three consumers)") {
    val df = frame("q230_x_spearman")
    val p = df.queryExecution.executedPlan.toString
    // all three consumers (two rank grids + the moment aggregate) read
    // the lazily-checkpointed joint grid (Scan ExistingRDD); the lineage
    // is severed, so the raw FileScan cannot reappear downstream
    assert(p.linesIterator.count(_.contains("Scan ExistingRDD")) === 3,
      s"joint grid must feed all three consumers from the checkpoint:\n$p")
    assert(!p.contains("FileScan"),
      s"the raw row scan must not reappear downstream of the grid:\n$p")
  }

  test("DiD (q352): dimension broadcast, ONE moment aggregate, no row re-scan") {
    val p = plan("q352_x_diff_in_diff")
    assert(p.contains("BroadcastHashJoin"), s"customer dim must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"fact-dim join fell back to SMJ:\n$p")
    // 12 conditional moments ride ONE aggregate pair (partial + final)
    assert(p.linesIterator.count(_.contains("HashAggregate")) <= 4,
      s"DiD must be one moment aggregate, not per-cell passes:\n$p")
  }

  test("IV Wald (q356): dimension broadcast, one moment aggregate") {
    val p = plan("q356_x_iv_wald")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("conformal (q353): model and q-hat broadcast back; base scans from the checkpoint") {
    val p = plan("q353_x_conformal_interval")
    // the 3-column base is checkpointed: every consumer reads the RDD,
    // never the parquet again
    assert(!p.contains("FileScan"),
      s"conformal consumers must read the checkpointed base:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"model/q-hat must broadcast:\n$p")
  }

  test("placebo (q357): ONE md5 per row — the hash sits below the replicate explode") {
    val p = plan("q357_x_did_placebo")
    val hashLines = p.linesIterator.filter(_.contains("md5")).toSeq
    // the unit hash appears in projections, but never keyed per replicate
    // (no md5 of a concat that includes __b)
    assert(!hashLines.exists(_.contains("__b")),
      s"per-replicate md5 crept back in:\n${hashLines.mkString("\n")}")
  }

  test("PCA slice (q351): no posexplode — the moment pass is the fused kernel") {
    val p = plan("q351_x_pca_power_slice")
    assert(!p.toLowerCase.contains("generate"),
      s"q351 must not explode rows x d^2 (the kernel replaced it):\n$p")
  }

  test("rowTuned staging (q214): checkpoint sits UNDER a retained global sort; " +
    "introspection exposes the full child plan") {
    import org.apache.spark.sql.catalyst.plans.logical.Sort
    // production frame: root must still be the distributed global Sort
    // (row-scale outputs keep their range exchange), its child the lazy
    // checkpoint's LogicalRDD — the one-compute-instead-of-two staging
    val prod = SparkEntry.queries("q214_x_url_canonical")(spark, dir)
    prod.queryExecution.logical match {
      case Sort(_, global, child, _) =>
        assert(global, "rowTuned must RETAIN the global sort")
        assert(child.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD],
          s"rowTuned must stage a localCheckpoint under the sort, got:\n$child")
      case other => fail(s"rowTuned root must be a global Sort, got:\n$other")
    }
    // the staged plan is opaque by design…
    val stagedPlan = prod.queryExecution.executedPlan.toString
    assert(stagedPlan.contains("Scan ExistingRDD") && !stagedPlan.contains("FileScan"))
    // …which is exactly why plan contracts go through `frame`: the
    // introspected build must expose the real scan again
    val seen = frame("q214_x_url_canonical").queryExecution.executedPlan.toString
    assert(seen.contains("FileScan"),
      s"introspected build must expose the real child plan:\n$seen")
    // free the (never-executed) checkpoint registration
    org.apache.spark.sql.graft.CompactOrder.releaseStaged()
  }
}
