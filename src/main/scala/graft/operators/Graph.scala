package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Link-graph analytics — PageRank (Page et al. 1999), the standard
  * link-based quality prior for web-scale corpus curation (harmonic
  * centrality / PageRank percentile is a CommonCrawl-derived quality
  * feature in several public pretraining recipes).
  *
  * Fixed-point arithmetic, deliberately: ranks live on an integer grid
  * (`scale` = 1e12) and every update is integer math — `17·r ÷ (20·deg)`
  * for the damped spread (d = 0.85 = 17/20 exactly), integer division
  * throughout. Cross-partition double summation has no deterministic
  * order (the classic oracle-killer); SUMS OF LONGS are exact in any
  * order, so the whole iteration — and therefore the final ranks — is
  * bit-reproducible across engines, partitionings, and retries, and the
  * DuckDB oracle replays it iteration by iteration.
  *
  * Per iteration: one join (ranks ⋈ edges on src) + one aggregate on
  * dst + a broadcast-sized dangling-mass scalar — the standard
  * distributed PageRank shape. The edge⋈degree frame is built ONCE and
  * persisted (it never changes across rounds); the rank frame — one
  * row per NODE, usually orders of magnitude smaller than the edge
  * list — BROADCASTS while it fits (≤ `broadcastMaxNodes`), so each
  * round is a map-side hash join over the cached edges plus the dst
  * aggregate, and the big side never re-shuffles. Past that size the
  * same loop degrades to the shuffle join. Lineage hygiene: each round
  * persists its rank frame and unpersists the previous one (the
  * connectedComponents discipline; an un-persisted loop re-computes
  * every prior round per action). Edges are DISTINCT'd: parallel edges
  * would double-spread mass.
  *
  * Dangling nodes (no out-edges) redistribute their damped mass
  * uniformly — the textbook-complete variant; integer floors leak
  * ≤ 1 grid unit per node per round, which is the documented price of
  * exactness. */
object Graph {

  /** PageRank over a directed edge list. Output: `node`,
    * `rank_scaled` (exact integer on the `scale` grid) and `pagerank`
    * (= rank_scaled/scale, one IEEE division). Nodes are every distinct
    * endpoint; `iterations` fixed rounds from the uniform start
    * `scale ÷ N`.
    *
    * Two regimes, the [[graft.text.Dedup.connectedComponents]] split:
    * a distinct edge set at or under `driverMaxEdges` (0 forces the
    * distributed loop) collects once and iterates IN the driver —
    * integer sums are order-independent, so the kernel is bit-identical
    * to the distributed loop (parity-specced) at none of its per-round
    * broadcast/stage floors. Beyond `driverMaxEdges` the distributed
    * loop below runs unchanged; the driver path is an optimization of
    * the small-graph case, not the scale path. Admission is staged
    * cheapest-first: when even the RAW row count (parquet-footer-served
    * on a scan+project input) fits `driverMaxEdges`, the distinct
    * shuffle is skipped too and dedup happens in the driver set. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iterations: Int = 5, scale: Long = 1000000000000L,
               broadcastMaxNodes: Long = 5000000L,
               driverMaxEdges: Long = 2000000L): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val lvl = StorageLevel.MEMORY_AND_DISK
    // Cheap admission probe for the driver regime: RAW row count upper-
    // bounds the distinct edge count, and on a scan+project frame
    // Catalyst serves count() from parquet footers (no data read). When
    // even the raw count fits, skip the distinct SHUFFLE + persist +
    // second action entirely — one shuffle-free collect, dedupe in the
    // driver HashSet (the funnel dial's footer-probe discipline).
    // GATED on the plan being a filter-free project chain over a scan:
    // on a derived frame (join/agg/filter upstream) the count is a full
    // computation the distinct path would repeat — there the old
    // persist-first staging is strictly better, so the probe stays off.
    // Leaf gate: only COLUMNAR file relations (count served from
    // parquet/orc footers) and in-memory LocalRelations qualify — a
    // row-oriented leaf (CSV/JSON/JDBC) makes the probe a full scan the
    // distinct path would then repeat, so it keeps the persist staging.
    def footerCountable(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
      p match {
        case proj: org.apache.spark.sql.catalyst.plans.logical.Project =>
          footerCountable(proj.child)
        case a: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias =>
          footerCountable(a.child)
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.fileFormat.isInstanceOf[
                org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat] ||
              fs.fileFormat.isInstanceOf[
                org.apache.spark.sql.execution.datasources.orc.OrcFileFormat]
            case _ => false
          }
        case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => true
        case _ => false
      }
    val rawUpper =
      if (footerCountable(edges.queryExecution.analyzed)) edges.count()
      else Long.MaxValue
    if (rawUpper <= driverMaxEdges) {
      val raw = edges.select(col(srcCol).cast("string").as("src"),
          col(dstCol).cast("string").as("dst"))
        .filter(col("src").isNotNull && col("dst").isNotNull)
        .collect()
      val seen = new java.util.LinkedHashSet[(String, String)]()
      raw.foreach(r => seen.add((r.getString(0), r.getString(1))))
      return pageRankDriver(edges.sparkSession,
        seen.toArray(Array.empty[(String, String)]), iterations, scale)
    }
    val e = edges.select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
      // setup hygiene: nodes, deg, ed, and dangling all derive from the
      // distinct'd edge frame — cache it so the scan+distinct runs once,
      // not once per derivation
      .persist(lvl)
    val nEdges = e.count()
    if (nEdges <= driverMaxEdges) {
      val out = pageRankDriver(edges.sparkSession,
        e.collect().map(r => (r.getString(0), r.getString(1))),
        iterations, scale)
      e.unpersist()
      return out
    }
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().persist(lvl)
    val n = nodes.count()
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    // the loop-invariant big side, built once: every edge with its
    // source degree attached
    val ed = e.join(deg, "src").persist(lvl)
    // dangling = nodes with no out-edges; their damped mass spreads
    // uniformly (computed per round as one scalar)
    val dangling = nodes.join(deg, nodes("node") === deg("src"), "left_anti")
      .select(col("node")).persist(lvl)
    // rank frames are node-sized — broadcast them while that holds
    val bcast = n <= broadcastMaxNodes
    def rside(df: DataFrame): DataFrame = if (bcast) broadcast(df) else df

    var ranks = nodes.withColumn("r", lit(scale / n)).persist(lvl)
    var prev: DataFrame = null
    val teleport = (3L * scale) / (20L * n)
    for (_ <- 1 to iterations) {
      // damped spread along edges: (17·r) ÷ (20·deg), exact longs
      val contrib = ed.join(rside(ranks), ed("src") === col("node"))
        .select(col("dst").as("node"), expr("(17 * r) div (20 * deg)").as("c"))
        .groupBy("node").agg(sum(col("c")).as("in_mass"))
      // dangling mass rides as a broadcast ONE-ROW frame folded into the
      // rank job — collecting it to the driver would cost a second
      // driver-synchronized action every round (2× the job count at any
      // iteration depth, pure scheduler overhead at cluster scale)
      val dangMass = dangling.join(rside(ranks), "node")
        .agg(coalesce(sum(col("r")), lit(0L)).as("dm"))
      prev = ranks
      // contrib is node-sized too — broadcast it into the left join
      // while that holds (every shuffle stage a round avoids is a
      // scheduler-floor win at bench scale and a barrier fewer at
      // cluster scale)
      ranks = nodes.join(rside(contrib), Seq("node"), "left")
        .crossJoin(broadcast(dangMass))
        .select(col("node"),
          (lit(teleport) + expr(s"(17 * dm) div (${20L * n})") +
            coalesce(col("in_mass"), lit(0L))).as("r"))
        .persist(lvl)
      ranks.count() // materialize before dropping the previous round
      prev.unpersist()
    }
    // `pagerank`, not `rank`: RANK is a window keyword in ANSI engines,
    // and the oracle column names must match byte-for-byte
    val out = ranks.select(col("node"), col("r").as("rank_scaled"),
      (col("r").cast("double") / scale.toDouble).as("pagerank"))
    e.unpersist(); ed.unpersist(); nodes.unpersist(); dangling.unpersist()
    out
  }

  /** Driver kernel for the small-graph regime: the IDENTICAL integer
    * recursion over a collected distinct edge array. Long sums are
    * order-exact, so this is bit-for-bit the distributed result (the
    * union-find/driver-BPE precedent: distributed rounds buy nothing
    * once the state fits one JVM). */
  private def pageRankDriver(spark: org.apache.spark.sql.SparkSession,
                             e: Array[(String, String)], iterations: Int,
                             scale: Long): DataFrame = {
    import spark.implicits._
    // Integer-index the node ids ONCE (insertion order — same node
    // enumeration as the former LinkedHashSet), then iterate over
    // primitive arrays: the r17 profile put ~1.1 s of q123's 2.0 s in
    // this loop's String-keyed HashMap probes (600k edges × 3
    // iterations × 2-3 probes each). The arithmetic is bit-identical —
    // same integer divisions in the same per-edge order, and long
    // addition into the per-node accumulator is order-independent.
    val idx = new java.util.LinkedHashMap[String, Integer]()
    def id(s: String): Int = {
      var i = idx.get(s)
      if (i == null) { i = Integer.valueOf(idx.size); idx.put(s, i) }
      i.intValue()
    }
    val m = e.length
    val srcI = new Array[Int](m)
    val dstI = new Array[Int](m)
    var j = 0
    while (j < m) { srcI(j) = id(e(j)._1); dstI(j) = id(e(j)._2); j += 1 }
    val nI = idx.size
    val n = nI.toLong
    if (n == 0)
      return Seq.empty[(String, Long, Double)].toDF("node", "rank_scaled", "pagerank")
    val deg = new Array[Long](nI)
    j = 0; while (j < m) { deg(srcI(j)) += 1L; j += 1 }
    val teleport = (3L * scale) / (20L * n)
    var ranks = Array.fill(nI)(scale / n)
    for (_ <- 1 to iterations) {
      val inMass = new Array[Long](nI)
      var i = 0
      while (i < m) {
        inMass(dstI(i)) += (17L * ranks(srcI(i))) / (20L * deg(srcI(i)))
        i += 1
      }
      var dm = 0L
      var nd = 0
      while (nd < nI) { if (deg(nd) == 0L) dm += ranks(nd); nd += 1 }
      val dangShare = (17L * dm) / (20L * n)
      val next = new Array[Long](nI)
      nd = 0
      while (nd < nI) { next(nd) = teleport + dangShare + inMass(nd); nd += 1 }
      ranks = next
    }
    val nodes = idx.keySet.toArray(Array.empty[String])
    nodes.zipWithIndex.map { case (nd, i) =>
      (nd, ranks(i), ranks(i).toDouble / scale.toDouble)
    }.toSeq.toDF("node", "rank_scaled", "pagerank")
  }

  /** Per-node triangle participation counts over an UNDIRECTED graph
    * (edge direction and multiplicity are ignored; self-loops dropped).
    * Output: `node`, `n_tri` — one row per node that closes at least
    * one triangle.
    *
    * The algorithm is the degree-ordered wedge closure (Schank &
    * Wagner 2005; the MapReduce form is Suri & Vassilvitskii 2011):
    * orient every undirected edge from its lower-(degree, node)
    * endpoint to the higher, enumerate wedges as the self-join of the
    * oriented list on the low endpoint, and close each wedge against
    * the oriented edge between its two high endpoints. The orientation
    * is WHY this scales: out-degree under degree ordering is O(√m), so
    * the wedge count is Σ outdeg² ≤ m^1.5 instead of Σ deg² — on a
    * power-law web graph that is the difference between a feasible
    * join and a hub node exploding into 10¹⁰ wedges. Every triangle is
    * enumerated exactly once (its three nodes form a strict
    * (degree, node) chain a<b<c → oriented edges a→b, a→c, b→c: one
    * wedge at a, one closure at b→c).
    *
    * Three shuffles total — orientation join (edges ⋈ node degrees),
    * wedge self-join on the low endpoint, closure join on the
    * (high₁, high₂) pair — all integer/string equality joins with no
    * per-round iteration; counts are exact longs, so the result
    * hash-matches an oracle replaying the same derivation. */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val lvl = StorageLevel.MEMORY_AND_DISK
    // canonical undirected edge set: unordered pair, deduped
    val und = edges.select(col(srcCol).cast("string").as("s"),
        col(dstCol).cast("string").as("t"))
      .filter(col("s").isNotNull && col("t").isNotNull && col("s") =!= col("t"))
      .select(least(col("s"), col("t")).as("a"),
        greatest(col("s"), col("t")).as("b"))
      .distinct()
    // undirected degree, then orient by (degree, node) — a total order
    val deg = und.select(col("a").as("node")).union(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    val withDeg = und
      .join(deg.withColumnRenamed("node", "a").withColumnRenamed("d", "da"), "a")
      .join(deg.withColumnRenamed("node", "b").withColumnRenamed("d", "db"), "b")
    val oriented = withDeg.select(
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          struct(col("a").as("lo"), col("b").as("hi"), col("da").as("dlo"), col("db").as("dhi")))
          .otherwise(
            struct(col("b").as("lo"), col("a").as("hi"), col("db").as("dlo"), col("da").as("dhi")))
          .as("e"))
      .select(col("e.lo").as("lo"), col("e.hi").as("hi"),
        col("e.dlo").as("dlo"), col("e.dhi").as("dhi"))
      .persist(lvl)
    // wedges at the low endpoint; the (degree, node) order on the two
    // high ends dedupes the pair and names the closing edge's direction
    val w1 = oriented.select(col("lo").as("u"), col("hi").as("v"), col("dhi").as("dv"))
    val w2 = oriented.select(col("lo").as("u"), col("hi").as("w"), col("dhi").as("dw"))
    val wedges = w1.join(w2, "u")
      .filter(struct(col("dv"), col("v")) < struct(col("dw"), col("w")))
    val tris = wedges.join(oriented.select(col("lo").as("v"), col("hi").as("w")),
        Seq("v", "w"))
      .select(col("u"), col("v"), col("w"))
    val out = tris.select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
    val materialized = out.persist(lvl)
    materialized.count() // realize before releasing the oriented cache
    oriented.unpersist()
    materialized
  }

  /** Adamic–Adar link prediction over an UNDIRECTED graph: score every
    * NON-adjacent pair at distance 2 by `Σ_z 1/ln(deg z)` over their
    * common neighbors `z` (Adamic & Adar 2003) — rare shared neighbors
    * count more than hubs. The classic "which edge appears next"
    * feature for recommend-next-item / related-entity over a
    * co-occurrence graph.
    *
    * Exactness: each neighbor's contribution is e9-quantized
    * (`⌊10⁹/ln(deg)+0.5⌋`, one fixed double tree per NEIGHBOR — never a
    * float sum across rows) and summed as exact integers, so the score
    * hash-matches a SQL replay in any partition order. `deg(z) ≥ 2` for
    * any common neighbor, so `ln` never hits zero.
    *
    * Scale shape: wedge self-join on the center node, cost `Σ_z deg²`.
    * Unlike [[triangleCounts]], degree-orientation cannot cap this —
    * the WEDGE ITSELF is the output — so hubs are excluded from the
    * CENTER role by `maxDegree` (standard link-prediction practice: a
    * hub shared by everyone carries ~no signal, 1/ln(deg) → 0, yet
    * costs deg² wedges; the dial trades a vanishing score tail for the
    * quadratic blowup). Candidates adjacent in the ORIGINAL graph are
    * anti-joined out. Output: top `topK` rows
    * `(node_a, node_b, n_common, aa_e9)` by (aa_e9 DESC, node_a,
    * node_b) — a distributed TakeOrdered cut, never a global sort. */
  def adamicAdar(edges: DataFrame, srcCol: String, dstCol: String,
                 maxDegree: Long = 200L, topK: Int = 25): DataFrame = {
    require(maxDegree >= 2L, s"maxDegree must be >= 2, got $maxDegree")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val lvl = StorageLevel.MEMORY_AND_DISK
    val und = edges.select(col(srcCol).cast("string").as("s"),
        col(dstCol).cast("string").as("t"))
      .filter(col("s").isNotNull && col("t").isNotNull && col("s") =!= col("t"))
      .select(least(col("s"), col("t")).as("a"),
        greatest(col("s"), col("t")).as("b"))
      .distinct()
      .persist(lvl)
    val deg = und.select(col("a").as("node")).union(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    // symmetric adjacency, with the center's degree attached and hubs
    // dropped from the CENTER role only
    val adj = und.select(col("a").as("z"), col("b").as("n"))
      .union(und.select(col("b").as("z"), col("a").as("n")))
      .join(deg.withColumnRenamed("node", "z"), "z")
      // d >= 2: a degree-1 node can never be a common neighbor, and
      // 1e9/ln(1) = Infinity would cast-clamp to Long.MaxValue — latent
      // garbage in the persisted frame one refactor away from a sum
      .filter(col("d") >= 2L && col("d") <= maxDegree)
      .withColumn("term_e9",
        floor(lit(1e9) / log(col("d").cast("double")) + 0.5).cast("long"))
      .persist(lvl)
    val w1 = adj.select(col("z"), col("n").as("na"), col("term_e9"))
    val w2 = adj.select(col("z"), col("n").as("nb"))
    val scored = w1.join(w2, "z")
      .filter(col("na") < col("nb"))
      .groupBy(col("na").as("node_a"), col("nb").as("node_b"))
      .agg(count(lit(1)).as("n_common"), sum(col("term_e9")).as("aa_e9"))
      .join(und.withColumnRenamed("a", "node_a").withColumnRenamed("b", "node_b"),
        Seq("node_a", "node_b"), "left_anti")
      .orderBy(col("aa_e9").desc, col("node_a"), col("node_b"))
      .limit(topK)
    val materialized = scored.persist(lvl)
    materialized.count()
    und.unpersist(); adj.unpersist()
    materialized
  }
}
