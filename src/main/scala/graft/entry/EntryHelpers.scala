package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.sources.{Tables, ZOrder}
import graft.functions.Cols
import graft.operators.{CalendarOps, Cdc, Collapse, Features, Graph, MonteCarlo, RangeJoin, Sketch}
import graft.sim.Similarity
import graft.text.{Corpus, Dedup, TextAnalysis}

/** Shared builders for the [[SparkEntry]] driver-contract registries —
  * query-side frames (monthly series, CES collapse, lined text kernels)
  * and oracle-side SQL CTE blocks, split out of the former monolithic
  * SparkEntry so each per-tier registry file stays reviewable. Members
  * are `private[graft]`: the registries and their specs are the only
  * consumers. */
private[graft] object EntryHelpers {
  // ---------------------------------------------------------------- helpers

  /** A registry query function carrying its wrapper kind ("tuned",
    * "grid", "row") so audits can enumerate each class mechanically —
    * `GridBoundSpec` re-derives the grid-bounded contract for every
    * "grid" member each suite run instead of trusting the one-off r17
    * scaling audit. `maxRows` is a grid member's declared output bound,
    * when its construction fixes one (node ids mod a constant, …). */
  private[graft] final class TaggedQueryFn(
      val tag: String, f: (SparkSession, String) => DataFrame,
      val maxRows: Option[Long] = None)
      extends ((SparkSession, String) => DataFrame) {
    def apply(s: SparkSession, d: String): DataFrame = f(s, d)
  }

  private[graft] def tuned(f: (SparkSession, String) => DataFrame): (SparkSession, String) => DataFrame =
    new TaggedQueryFn("tuned", (s, d) => f(GraftSession.tune(s), d))

  /** [[tuned]] plus [[org.apache.spark.sql.graft.CompactOrder]]: for
    * registry queries whose OUTPUT is contract-bounded (key grids,
    * calendar months, fixed bins, top-k — verified by the r17 scaling
    * audit: rows(sf0.1) ≤ 5k and ≤1.6× rows(sf0.01)), the final
    * deterministic `orderBy` is produced as a single-partition local
    * sort instead of a range exchange + sampling pass. Identical rows,
    * identical total order; one fewer shuffle and two fewer jobs per
    * query (measured by a within-session A/B of the two final sorts at
    * sf0.1: −0.25–0.35 s on mid-band grid queries). Row-scale outputs
    * stay on [[tuned]] + global sort. */
  private[graft] def gridTuned(f: (SparkSession, String) => DataFrame): (SparkSession, String) => DataFrame =
    new TaggedQueryFn("grid",
      (s, d) => org.apache.spark.sql.graft.CompactOrder(f(GraftSession.tune(s), d)))

  /** [[gridTuned]] for a member whose output bound is DECLARED by its
    * construction — at most `maxRows` rows at every scale — rather than
    * inferred from growth across SFs: a grid that saturates early (q126's
    * 1013 nodes) reads as growth to the heuristic. `GridBoundSpec` checks
    * the declared bound instead. */
  private[graft] def gridTuned(maxRows: Long)(f: (SparkSession, String) => DataFrame): (SparkSession, String) => DataFrame =
    new TaggedQueryFn("grid", gridTuned(f), Some(maxRows))

  /** [[tuned]] plus [[org.apache.spark.sql.graft.CompactOrder.staged]]:
    * for ROW-SCALE outputs the distributed global sort stays, but a lazy
    * localCheckpoint under it stops the range exchange's sampling pass
    * from recomputing the whole upstream plan a second time. */
  private[graft] def rowTuned(f: (SparkSession, String) => DataFrame): (SparkSession, String) => DataFrame =
    new TaggedQueryFn("row",
      (s, d) => org.apache.spark.sql.graft.CompactOrder.staged(f(GraftSession.tune(s), d)))

  /** Register a temp directory for recursive deletion at JVM exit (once
    * per path): scratch sinks like q85's JSONL staging copy must not
    * accumulate across runs. Deletion happens at exit, not eagerly — the
    * returned DataFrame reads the path lazily after the query builder
    * returns. */
  private[graft] val cleanupRegistered = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private[graft] def cleanupOnExit(path: String): Unit =
    if (cleanupRegistered.add(path)) {
      sys.addShutdownHook {
        val root = java.nio.file.Paths.get(path)
        if (java.nio.file.Files.exists(root)) {
          val walk = java.nio.file.Files.walk(root)
          try walk.sorted(java.util.Comparator.reverseOrder())
            .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
          finally walk.close()
        }
      }
    }

  /** Session-scoped memo for checkpointed frames SHARED across registry
    * queries (the q353/q359 conformal twin pair was paying the corpus
    * md5 admission pass twice per bench pass). Keyed by (session UUID,
    * caller key): a new SparkSession never sees a dead session's RDD
    * blocks, and entries from stopped sessions are dropped on the next
    * lookup so their checkpoint block references don't pin. The build
    * must be DETERMINISTIC — both consumers read identical rows, which
    * is what lets one oracle serve the pair. */
  private val frameMemo = new java.util.concurrent.ConcurrentHashMap[
    String, (SparkSession, DataFrame)]()
  private val memoListenerRegistered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private[graft] def memoFrame(s: SparkSession, key: String)
                              (build: => DataFrame): DataFrame = {
    val prefix =
      s"${s.sparkContext.applicationId}-${System.identityHashCode(s)}|"
    // evict only entries whose OWNING session has stopped (their
    // checkpoint blocks are gone anyway) — evicting everything foreign
    // would make two concurrently live sessions in one JVM thrash each
    // other's memo, rebuilding the shared base on every lookup.
    // Cleanup OUTSIDE computeIfAbsent: removing other bins while holding
    // a bin lock is legal for CHM but needlessly entangles the two.
    frameMemo.entrySet.removeIf(e => e.getValue._1.sparkContext.isStopped)
    // lookup-time sweeping alone pins the LAST session's frames for the
    // JVM's life (nothing calls memoFrame after it stops) — an
    // application-end listener, registered once per session, drops its
    // entries the moment the context shuts down
    if (memoListenerRegistered.add(prefix))
      s.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onApplicationEnd(
              end: org.apache.spark.scheduler.SparkListenerApplicationEnd)
              : Unit = {
            frameMemo.keySet.removeIf(_.startsWith(prefix))
            memoListenerRegistered.remove(prefix)
          }
        })
    frameMemo.computeIfAbsent(prefix + key, _ => (s, build))._2
  }

  /** The conformal admission base (lineitem → dollars grid → md5 hash
    * split → 4 narrow columns, checkpointed) shared by q353 and the
    * q359 streaming twin's batch-side fit. */
  private[graft] def conformalLineitemBase(s: SparkSession,
                                           dir: String): DataFrame =
    memoFrame(s, s"conformal_base|$dir") {
      val li = Tables.lineitem(s, dir)
        .withColumn("dollars", floor(col("l_extendedprice") + lit(0.5)))
        .withColumn("__key",
          concat_ws("-", col("l_orderkey"), col("l_linenumber")))
      graft.operators.Metrics.conformalBase(
        Corpus.hashSplit(li, "__key"), "split",
        Seq("l_returnflag", "l_linestatus"), "dollars")
    }

  /** Monthly orders series used by the window/time-series queries
    * (the engine's analog of the reference's per-career monthly table). */
  private[graft] def monthlyOrders(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(Cols.monthStart(col("o_orderdate")).as("month"))
      .agg(sum(col("o_totalprice")).as("tot"), count(lit(1)).as("n"))

  private[graft] val MonthlySql =
    "SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month, " +
      "sum(o_totalprice) AS tot, count(*) AS n FROM orders GROUP BY 1"

  private[graft] def wMonth = Features.keyWindow(Nil, "month")

  /** Flagship pipeline: lineitem facts joined to the part dimension,
    * routed into "careers" by the F5 prefix predicate, collapsed monthly to
    * (Σ quantity, quantity-weighted mean price) via [[Collapse.collapse]]. */
  private[graft] def cesCollapse(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val part = Tables.part(s, dir)
    val career = when(Cols.codeMatches(col("p_type"), Nil, Seq("STA")), lit("standard"))
      .when(Cols.codeMatches(col("p_type"), Nil, Seq("PRO")), lit("promo"))
      .otherwise(lit("other"))
    val f = li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .select(career.as("career"), Cols.monthStart(col("l_shipdate")).as("month"),
        col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
    val long = f.selectExpr("career", "month", "l_partkey AS wkey",
      "stack(2, 'qty', l_quantity, 'price', l_extendedprice) AS (measure, value)")
    Collapse.collapse(long,
        dateCol = "month", measureCol = "measure", valueCol = "value",
        weightMeasure = "qty", valueMeasure = "price", weightKey = "wkey",
        extraKeys = Seq("career"), sumAs = "employment", wmeanAs = "avg_price")
      .select(col("career"), col("month"),
        round(col("employment"), 2).as("employment"),
        round(col("avg_price"), 4).as("avg_price"))
      .orderBy("career", "month")
  }

  // Mirrors Collapse.collapse's two-level aggregation algebra (see its
  // Scaladoc): partials per part, no weights join.
  private[graft] val CesCollapseSql =
    """WITH f AS (
      |  SELECT CASE WHEN p_type LIKE 'STA%' THEN 'standard'
      |              WHEN p_type LIKE 'PRO%' THEN 'promo'
      |              ELSE 'other' END AS career,
      |         CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
      |         l_partkey, l_quantity, l_extendedprice
      |  FROM lineitem JOIN part ON l_partkey = p_partkey),
      |p AS (
      |  SELECT career, month, l_partkey,
      |         sum(l_quantity) AS w,
      |         sum(l_extendedprice) AS s,
      |         count(CASE WHEN l_extendedprice IS NOT NULL THEN 1 END) AS n
      |  FROM f GROUP BY 1, 2, 3)
      |SELECT career, month, round(sum(w), 2) AS employment,
      |       round(sum(w * s) / nullif(sum(w * n), 0), 4) AS avg_price
      |FROM p GROUP BY 1, 2 ORDER BY career, month""".stripMargin

  // ---------------------------------------------------------------- queries

  /** q286's oracle: the identical fence grids + score cases in DuckDB
    * (buckets fixed at 5, monetary bin 100 — the shipped settings). */
  private[graft] def rfmSql: String = {
    val b = 5
    def fenceCte(dim: String): String = {
      val fences = (1 until b).map(i =>
        s"min(CASE WHEN cum * $b >= $i * n THEN v END) AS ${dim}_t$i")
        .mkString(", ")
      s"""f_$dim AS (SELECT $fences FROM (
         |  SELECT v, CAST(sum(c) OVER (ORDER BY v
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS cum,
         |    CAST(sum(c) OVER () AS BIGINT) AS n
         |  FROM (SELECT $dim AS v, CAST(count(*) AS BIGINT) AS c
         |        FROM dims GROUP BY 1)))""".stripMargin
    }
    def scoreAsc(dim: String): String =
      (1 until b).map(i =>
        s"(CASE WHEN $dim > ${dim}_t$i THEN 1 ELSE 0 END)").mkString(" + ") +
        " + 1"
    s"""WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS us,
      |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      |  FROM events
      |  WHERE ts IS NOT NULL AND user_id IS NOT NULL AND value IS NOT NULL),
      |pu AS (SELECT user_id, max(us) AS lastu, CAST(count(*) AS BIGINT) AS f,
      |         CAST(sum(v) AS BIGINT) AS m
      |       FROM e GROUP BY 1),
      |g AS (SELECT max(lastu) AS gmax FROM pu),
      |dims AS (SELECT user_id, (gmax - lastu) // 86400000000 AS r, f, m,
      |           m // 100 AS mb
      |         FROM pu CROSS JOIN g),
      |${fenceCte("r")},
      |${fenceCte("f")},
      |${fenceCte("mb")},
      |sc AS (SELECT $b + 1 - (${scoreAsc("r")}) AS rs,
      |         ${scoreAsc("f")} AS fs,
      |         ${scoreAsc("mb")} AS ms, m
      |       FROM dims CROSS JOIN f_r CROSS JOIN f_f CROSS JOIN f_mb)
      |SELECT CAST(rs AS INT) AS r_score, CAST(fs AS INT) AS f_score,
      |  CAST(ms AS INT) AS m_score,
      |  CAST(count(*) AS BIGINT) AS n_users,
      |  CAST(sum(m) AS BIGINT) AS monetary_sum,
      |  CASE
      |    WHEN rs >= ${b - 1} AND fs >= ${b - 1}
      |      AND ms >= ${b - 1} THEN 'champion'
      |    WHEN fs >= ${b - 1} THEN 'loyal'
      |    WHEN ms >= ${b - 1} THEN 'big_spender'
      |    WHEN rs <= 2 AND fs >= 3 THEN 'at_risk'
      |    WHEN rs <= 2 THEN 'churned'
      |    ELSE 'other' END AS segment
      |FROM sc GROUP BY rs, fs, ms
      |ORDER BY r_score, f_score, m_score""".stripMargin
  }

  /** q283's oracle: the identical shifted lag-cross-sum trees in DuckDB
    * (maxLag fixed at 4 — the shipped query's setting). */
  private[graft] def neweyWestSql: String = {
    val maxLag = 4
    val mu = "(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
    val g0 = s"((CAST(g0 AS DOUBLE) - $mu * CAST(s1 AS DOUBLE)) / CAST(n AS DOUBLE))"
    val gl = (1 to maxLag).map { l =>
      s"((CAST(sl$l AS DOUBLE) - $mu * (CAST(a$l AS DOUBLE) + CAST(b$l AS DOUBLE)) + CAST(n - $l AS DOUBLE) * $mu * $mu) / CAST(n AS DOUBLE))"
    }
    val lrv = (Seq(g0) ++ gl.zipWithIndex.map { case (g, i) =>
      val l = i + 1
      s"2.0 * (1.0 - ${l}.0 / ${maxLag + 1}.0) * $g"
    }).mkString("(", " + ", ")")
    val lagCols = (1 to maxLag).map(l =>
      s"lag(d, $l) OVER (PARTITION BY prio ORDER BY month) AS d$l").mkString(", ")
    val lagSums = (1 to maxLag).map(l =>
      s"""sum(CAST(d AS HUGEINT) * d$l) AS sl$l,
         |  sum(CASE WHEN d$l IS NOT NULL THEN CAST(d AS HUGEINT)
         |      ELSE CAST(0 AS HUGEINT) END) AS a$l,
         |  sum(coalesce(CAST(d$l AS HUGEINT), CAST(0 AS HUGEINT))) AS b$l"""
        .stripMargin.replaceAll("\n", " ")).mkString(",\n        |  ")
    s"""WITH m AS (SELECT o_orderpriority AS prio,
      |    CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
      |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM orders GROUP BY 1, 2),
      |mn AS (SELECT prio, CAST(count(*) AS BIGINT) AS nn,
      |         CAST(sum(cents) AS BIGINT) AS sy,
      |         CAST(sum(cents) AS BIGINT) // CAST(count(*) AS BIGINT) AS c
      |       FROM m GROUP BY 1),
      |d0 AS (SELECT m.prio, m.month, m.cents - mn.c AS d, mn.sy
      |       FROM m JOIN mn ON m.prio = mn.prio),
      |lg AS (SELECT *, $lagCols FROM d0),
      |su AS (SELECT prio, CAST(count(*) AS BIGINT) AS n, max(sy) AS sy,
      |  sum(CAST(d AS HUGEINT)) AS s1,
      |  sum(CAST(d AS HUGEINT) * d) AS g0,
      |  $lagSums
      |  FROM lg GROUP BY 1)
      |SELECT prio, n,
      |  CAST(CAST(sy AS HUGEINT) * 1000000 // n AS BIGINT) AS mean_e6,
      |  CASE WHEN n > $maxLag AND $g0 > 0 THEN
      |    CAST(floor(sqrt($g0 / CAST(n AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
      |  END AS se_iid_e6,
      |  CASE WHEN n > $maxLag AND $g0 > 0 AND $lrv > 0 THEN
      |    CAST(floor(sqrt($lrv / CAST(n AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
      |  END AS se_hac_e6,
      |  CASE WHEN n > $maxLag AND $g0 > 0 AND $lrv > 0 THEN
      |    CAST(floor(sqrt($lrv / $g0) * 10000 + 0.5) AS BIGINT)
      |  END AS inflation_e4
      |FROM su ORDER BY prio""".stripMargin
  }

  /** q278's oracle: the identical shifted-moment trees in DuckDB. */
  private[graft] def jarqueBeraSql: String = {
    val mu = "(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
    val m2 = s"(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) - $mu * $mu)"
    val m3 = s"(CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) - 3.0 * $mu * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)) + 2.0 * $mu * $mu * $mu)"
    val m4 = s"(CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) - 4.0 * $mu * (CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)) + 6.0 * $mu * $mu * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)) - 3.0 * $mu * $mu * $mu * $mu)"
    val sk = s"($m3 / power($m2, 1.5))"
    val ku = s"($m4 / ($m2 * $m2))"
    s"""WITH e AS (
      |  SELECT c_mktsegment AS k,
      |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS x
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  WHERE o_totalprice IS NOT NULL AND c_mktsegment IS NOT NULL),
      |mn AS (SELECT k, CAST(sum(x) AS BIGINT) // CAST(count(*) AS BIGINT) AS c
      |       FROM e GROUP BY 1),
      |su AS (SELECT e.k, CAST(count(*) AS BIGINT) AS n,
      |         sum(CAST(e.x - mn.c AS HUGEINT)) AS s1,
      |         sum(CAST(e.x - mn.c AS HUGEINT) * (e.x - mn.c)) AS s2,
      |         sum(CAST(e.x - mn.c AS HUGEINT) * (e.x - mn.c) * (e.x - mn.c))
      |           AS s3,
      |         sum(CAST(e.x - mn.c AS HUGEINT) * (e.x - mn.c) * (e.x - mn.c)
      |             * (e.x - mn.c)) AS s4
      |       FROM e JOIN mn ON e.k = mn.k GROUP BY 1)
      |SELECT k AS c_mktsegment, n,
      |  CASE WHEN n >= 4 AND $m2 > 0 THEN
      |    CAST(floor($sk * 1000000 + 0.5) AS BIGINT) END AS skew_e6,
      |  CASE WHEN n >= 4 AND $m2 > 0 THEN
      |    CAST(floor($ku * 1000000 + 0.5) AS BIGINT) END AS kurt_e6,
      |  CASE WHEN n >= 4 AND $m2 > 0 THEN
      |    CAST(floor(CAST(n AS DOUBLE) / 6.0
      |      * ($sk * $sk + ($ku - 3.0) * ($ku - 3.0) / 4.0)
      |      * 10000 + 0.5) AS BIGINT) END AS jb_e4,
      |  CASE WHEN n >= 4 AND $m2 > 0 THEN
      |    CAST(floor(CAST(n AS DOUBLE) / 6.0
      |      * ($sk * $sk + ($ku - 3.0) * ($ku - 3.0) / 4.0)
      |      * 10000 + 0.5) AS BIGINT) > 59915 END AS significant
      |FROM su ORDER BY c_mktsegment""".stripMargin
  }

  /** Monthly revenue cents per order priority — the 5-series grid shared
    * by q177 (additive decomposition) and q276 (fixed periodogram). */
  private[graft] def monthlyPriority(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority").as("prio"),
        Cols.monthStart(col("o_orderdate")).as("month"))
      .agg(sum(expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)")).as("cents"))

  /** Monthly revenue cents per (market segment, order priority) — the
    * 25-series hypothesis family shared by q263/q264. */
  private[graft] def monthlySegPrio(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("o_orderpriority"),
        Cols.monthStart(col("o_orderdate")).as("month"))
      .agg(sum(floor(col("o_totalprice") * 100 + 0.5)).cast("long").as("cents"))

  /** Deterministic 2-token-per-line derivation shared by q80/q81 and
    * their oracles: the testdata documents are single-line word streams,
    * so line-grain operators need a reproducible multi-line view. Chunk
    * the whitespace tokens two per line ('\n'-joined); the DuckDB oracle
    * builds the identical string with list_transform/range. Tokens are
    * ASCII (no spaces), so chunk text and char counts agree bit-for-bit
    * across engines. */
  private[graft] def linedText(text: Column): Column = udf(linedKernel).apply(text)

  /** Single-pass JVM form of [[linedTextExpr]] (parity: LinedTextSpec).
    * The expression form runs `transform`+`slice` interpreted per row —
    * the documented HOF trap — and dominated q80/q81/q84's per-doc cost. */
  private[graft] val linedKernel: String => String = { t =>
    if (t == null) null
    else {
      val trimmed = graft.text.TextHash.sparkTrim(t)
      if (trimmed.isEmpty) ""
      else {
        val toks = trimmed.split("\\s+", -1)
        val sb = new java.lang.StringBuilder
        var i = 0
        while (i < toks.length) {
          if (i > 0) sb.append(if (i % 2 == 0) '\n' else ' ')
          sb.append(toks(i))
          i += 1
        }
        sb.toString
      }
    }
  }

  /** Expression-tree form of [[linedText]] — parity-spec reference only.
    * The isNull guard is load-bearing: without it, non-ANSI size(null) =
    * -1 walks into sequence(0, -1) — a DESCENDING sequence — and null
    * text yields "\n" instead of null. */
  private[graft] def linedTextExpr(text: Column): Column = {
    val toks = Cols.tokens(text)
    val nChunks = ceil(size(toks) / lit(2.0)).cast("int")
    when(text.isNull, lit(null).cast("string"))
      .when(length(trim(text)) === 0, lit(""))
      .otherwise(array_join(
        transform(sequence(lit(0), nChunks - 1),
          i => concat_ws(" ", slice(toks, i * 2 + 1, lit(2)))),
        "\n"))
  }

  /** [[linedText]] plus deterministic terminal-punctuation planting for
    * q103: line i of doc d ends with '.' when (d+i)%3==0, '!' when
    * (d+i)%3==2, and nothing otherwise. The DuckDB oracle replays the
    * same CASE over the same chunk derivation. Single-pass kernel
    * (parity: LinedTextSpec vs [[linedPunctTextExpr]]). */
  private[graft] def linedPunctText(text: Column, id: Column): Column =
    udf(linedPunctKernel).apply(text, id)

  private[graft] val linedPunctKernel: (String, java.lang.Long) => String = { (t, id) =>
    if (t == null || id == null) null
    else {
      val trimmed = graft.text.TextHash.sparkTrim(t)
      if (trimmed.isEmpty) ""
      else {
        val toks = trimmed.split("\\s+", -1)
        val sb = new java.lang.StringBuilder
        var i = 0
        var line = 0L
        while (i < toks.length) {
          if (i > 0 && i % 2 == 0) {
            appendPunct(sb, id + line); line += 1; sb.append('\n')
          } else if (i > 0) sb.append(' ')
          sb.append(toks(i))
          i += 1
        }
        appendPunct(sb, id + line)
        sb.toString
      }
    }
  }

  private[graft] def appendPunct(sb: java.lang.StringBuilder, k: Long): Unit =
    (k % 3) match {
      case 0 => sb.append('.')
      case 2 => sb.append('!')
      case _ => ()
    }

  /** Expression-tree form of [[linedPunctText]] — parity-spec reference
    * only (same null/empty guards as [[linedTextExpr]]). */
  private[graft] def linedPunctTextExpr(text: Column, id: Column): Column = {
    val toks = Cols.tokens(text)
    val nChunks = ceil(size(toks) / lit(2.0)).cast("int")
    when(text.isNull || id.isNull, lit(null).cast("string"))
      .when(length(trim(text)) === 0, lit(""))
      .otherwise(array_join(
        transform(sequence(lit(0), nChunks - 1), i =>
          concat(concat_ws(" ", slice(toks, i * 2 + 1, lit(2))),
            when((id + i) % 3 === 0, lit("."))
              .when((id + i) % 3 === 2, lit("!"))
              .otherwise(lit("")))),
        "\n"))
  }

  private[graft] val MinhashK = 8
  private[graft] val MinhashBands = 4
  private[graft] val SimhashBits = 16

  // ------------------------------------------------------------ oracle SQL

  /** Portable 32-bit hash in DuckDB SQL (mirrors [[Cols.hash32]]). */
  private[graft] def dkHash32(x: String): String =
    s"CAST('0x' || substring(md5($x), 1, 8) AS BIGINT)"

  /** Portable 60-bit hash (mirrors [[graft.text.TextHash.hash60Md5]]:
    * 15 hex chars stay BIGINT-positive — the q122 convention). */
  private[graft] def dkHash60(x: String): String =
    s"CAST('0x' || substring(md5($x), 1, 15) AS BIGINT)"

  // the single source of the (a, b) affine family — a private copy here
  // could silently desynchronize the oracle from the engine
  private[graft] def minhashAB(i: Int): (Long, Long) = graft.text.TextHash.minhashAB(i)

  /** Shared doc→signature CTE prefix for the minhash oracles. */
  private[graft] val MinhashCte: String = {
    val sigExprs = (0 until MinhashK).map { i =>
      val (a, b) = minhashAB(i)
      s"coalesce(list_min(list_transform(hs, h -> (h * $a + $b) % 4294967311)), fb) AS mh$i"
    }.mkString(",\n    ")
    s"""WITH t AS (
       |  SELECT doc_id, trim(text) AS tt,
       |         regexp_split_to_array(trim(text), '\\s+') AS toks
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, tt,
       |         CASE WHEN len(toks) >= 3
       |              THEN list_transform(generate_series(1, len(toks) - 2),
       |                     i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
       |              ELSE CAST([] AS VARCHAR[]) END AS sh
       |  FROM t),
       |h AS (
       |  SELECT doc_id,
       |         list_transform(sh, x -> ${dkHash32("x")}) AS hs,
       |         ${dkHash32("tt")} AS fb
       |  FROM sh),
       |sig AS (
       |  SELECT doc_id,
       |    $sigExprs
       |  FROM h)""".stripMargin
  }

  private[graft] val CosSimSql: String = {
    def dot(l: String, r: String) =
      s"list_sum(list_transform(generate_series(1, 64), i -> CAST($l.embedding[i] AS DOUBLE) * CAST($r.embedding[i] AS DOUBLE)))"
    s"round(${dot("q", "c")} / nullif(sqrt(${dot("q", "q")}) * sqrt(${dot("c", "c")}), 0), 4)"
  }

  /** Shared doc→simhash-signature CTE (`s(doc_id, sig)`), width-param.
    * Vote source mirrors [[graft.text.TextHash.simhash]]: 32-bit token
    * hashes for nBits ≤ 32, the 60-bit hash for wide signatures. */
  private[graft] def simhashSigCte(nBits: Int): String = {
    val hx = if (nBits <= 32) dkHash32("x") else dkHash60("x")
    val bits = (0 until nBits).map { i =>
      s"(CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH t AS (
       |  SELECT doc_id,
       |         list_transform(regexp_split_to_array(trim(text), '\\s+'),
       |                        x -> $hx) AS hs
       |  FROM documents),
       |s AS (SELECT doc_id, CAST($bits AS BIGINT) AS sig FROM t)""".stripMargin
  }

  private[graft] val SimhashSql: String =
    s"${simhashSigCte(SimhashBits)}\nSELECT doc_id, sig AS simhash FROM s ORDER BY doc_id"

  /** q59: banded simhash candidates at the at-scale signature width
    * (32-bit, 8-bit bands → sparse buckets). maxHamming (1) ≤ bands-1
    * (3), so the banded join has FULL recall and the all-pairs Hamming
    * filter is an exact oracle of the algorithm's output. */
  private[graft] val SimhashPairsSql: String = simhashPairsSql(32)

  /** Width-parameterized banded-simhash-candidates oracle (q59 at 32,
    * q393 at the 60-bit corpus-scale width): the all-pairs Hamming
    * filter is exact because maxHamming (1) ≤ bands−1 gives the banded
    * join full recall. */
  private[graft] def simhashPairsSql(bits: Int): String =
    s"""${simhashSigCte(bits)}
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |       CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
       |FROM s a JOIN s b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sig, b.sig)) <= 1
       |ORDER BY id_a, id_b""".stripMargin

  /** q60: SRP-bucketed embedding near-dup pairs. The hyperplane sign
    * matrices are generated from the SAME [[Similarity.srpSigns]] the
    * engine uses and inlined as list literals, so DuckDB replicates the
    * bucketing bit-exactly (±1·float products summed in identical order)
    * — the oracle checks the bucketed algorithm itself, not a recall
    * approximation of it. */
  /** SRP bucket key as DuckDB SQL: the engine's own hyperplane sign
    * matrix ([[graft.sim.Similarity.srpSigns]]) inlined as list literals,
    * ±1·float products summed in identical index order — bit-exact replay
    * of `Similarity.srpKey`. Shared by the q60 and q52 oracles. */
  private[graft] def srpKeySqlExpr(t: Int, nBits: Int, dim: Int): String = {
    val signs = graft.sim.Similarity.srpSigns(t, nBits, dim)
    (0 until nBits).map { b =>
      val lst = signs(b).map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ",", "]")
      s"(CASE WHEN list_sum(list_transform(generate_series(1,$dim), i -> CAST(embedding[i] AS DOUBLE) * ($lst)[i])) >= 0 THEN ${1L << b} ELSE 0 END)"
    }.mkString(" + ")
  }

  private[graft] def nearDupBucketedSql(nBits: Int, nTables: Int, dim: Int,
                                 threshold: Double): String = {
    val tables = (0 until nTables)
      .map(t => s"SELECT vec_id AS id, embedding, $t AS t, ${srpKeySqlExpr(t, nBits, dim)} AS key FROM embeddings")
      .mkString("\n  UNION ALL\n  ")
    def dot(l: String, r: String) =
      s"list_sum(list_transform(generate_series(1, $dim), i -> CAST($l[i] AS DOUBLE) * CAST($r[i] AS DOUBLE)))"
    val cos = s"round(${dot("e_a", "e_b")} / nullif(sqrt(${dot("e_a", "e_a")}) * sqrt(${dot("e_b", "e_b")}), 0), 4)"
    s"""WITH k AS (
       |  $tables),
       |c AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM k a JOIN k b ON a.t = b.t AND a.key = b.key AND a.id < b.id),
       |j AS (
       |  SELECT c.id_a, c.id_b, ea.embedding AS e_a, eb.embedding AS e_b
       |  FROM c JOIN embeddings ea ON ea.vec_id = c.id_a
       |         JOIN embeddings eb ON eb.vec_id = c.id_b)
       |SELECT id_a, id_b, $cos AS cos_sim FROM j
       |WHERE $cos >= $threshold ORDER BY id_a, id_b""".stripMargin
  }

  /** q123: the integer-exact PageRank iteration UNROLLED (standard SQL
    * recursive CTEs disallow aggregates over the recursive reference, so
    * a fixed iteration count expands to chained CTEs — identical
    * arithmetic to [[graft.operators.Graph.pageRank]]: d = 17/20 and the
    * 1e12 grid through `//` floor division, long sums order-exact). */
  private[graft] def pageRankSql(iters: Int): String =
    pageRankSqlOver(
      """e AS (
        |  SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS src,
        |                  'p' || CAST(l_partkey AS VARCHAR) AS dst FROM lineitem)""".stripMargin,
      iters,
      s"SELECT node, r AS rank_scaled, CAST(r AS DOUBLE) / 1000000000000.0 AS pagerank\nFROM r$iters ORDER BY node")

  /** The PageRank iteration chain over ANY caller-supplied edge CTE
    * block (must define `e(src, dst)`, already DISTINCT) — lets
    * composed operators (q341 TextRank) reuse the q123 arithmetic
    * verbatim. `tail` is the final SELECT (reads `r<iters>`). */
  private[graft] def pageRankSqlOver(edgeCtes: String, iters: Int,
                                     tail: String): String = {
    val S = "1000000000000"
    val head = s"""WITH $edgeCtes,
      |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      |nn AS (SELECT count(*) AS n FROM nodes),
      |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
      |r0 AS (SELECT node, CAST($S AS BIGINT) // n AS r FROM nodes, nn)""".stripMargin
    val its = (1 to iters).map { i =>
      val p = s"r${i - 1}"
      // CAST the sums: DuckDB sum(BIGINT) widens to HUGEINT, which
      // pandas reads as float64 — the q110 dtype-drift lesson
      s"""d$i AS (SELECT CAST(COALESCE(sum(r), 0) AS BIGINT) AS dm
        |       FROM $p LEFT JOIN deg ON $p.node = deg.src WHERE deg.src IS NULL),
        |c$i AS (SELECT e.dst AS node, CAST(sum((17 * r) // (20 * deg)) AS BIGINT) AS m
        |        FROM e JOIN deg ON e.src = deg.src JOIN $p ON e.src = $p.node
        |        GROUP BY 1),
        |r$i AS (SELECT nodes.node,
        |          CAST((3 * $S) // (20 * nn.n) + (17 * d$i.dm) // (20 * nn.n)
        |            + COALESCE(c$i.m, 0) AS BIGINT) AS r
        |        FROM nodes CROSS JOIN nn CROSS JOIN d$i
        |        LEFT JOIN c$i ON nodes.node = c$i.node)""".stripMargin
    }.mkString(",\n")
    s"""$head,
      |$its
      |$tail""".stripMargin
  }

  /** q119: SRP-bucketed CROSS-corpus near-dup — the same hyperplane
    * replay, with the corpus/held-out split (vec_id % 5) applied before
    * bucketing on both sides. */
  private[graft] def crossNearDupBucketedSql(nBits: Int, nTables: Int, dim: Int,
                                      threshold: Double): String = {
    def keys(src: String) = (0 until nTables)
      .map(t => s"SELECT id, embedding, $t AS t, ${srpKeySqlExpr(t, nBits, dim)} AS key FROM $src")
      .mkString("\n  UNION ALL\n  ")
    def dot(l: String, r: String) =
      s"list_sum(list_transform(generate_series(1, $dim), i -> CAST($l[i] AS DOUBLE) * CAST($r[i] AS DOUBLE)))"
    val cos = s"round(${dot("e_a", "e_b")} / nullif(sqrt(${dot("e_a", "e_a")}) * sqrt(${dot("e_b", "e_b")}), 0), 4)"
    s"""WITH c AS (SELECT vec_id AS id, embedding FROM embeddings WHERE vec_id % 5 != 0),
       |h AS (SELECT vec_id AS id, embedding FROM embeddings WHERE vec_id % 5 = 0),
       |kc AS (
       |  ${keys("c")}),
       |kh AS (
       |  ${keys("h")}),
       |p AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM kc a JOIN kh b ON a.t = b.t AND a.key = b.key),
       |j AS (
       |  SELECT p.id_a, p.id_b, ca.embedding AS e_a, hb.embedding AS e_b
       |  FROM p JOIN c ca ON ca.id = p.id_a JOIN h hb ON hb.id = p.id_b)
       |SELECT id_a, id_b, $cos AS cos_sim FROM j
       |WHERE $cos >= $threshold ORDER BY id_a, id_b""".stripMargin
  }

  /** q52: SRP-LSH ANN top-k. Same hyperplane replay as [[nearDupBucketedSql]]
    * but with lshTopK's semantics: DIRECTED candidate pairs (every id is a
    * query), union of `nTables` bucket tables, exact-cosine re-rank to k.
    * The approximate path is fully deterministic, so it oracle-checks
    * end-to-end — the bucketing IS the algorithm, not noise around it. */
  private[graft] def lshTopKSql(nBits: Int, nTables: Int, dim: Int, k: Int,
                         maxId: Long): String = {
    val tables = (0 until nTables)
      .map(t => s"SELECT id, embedding, $t AS t, ${srpKeySqlExpr(t, nBits, dim)} AS key FROM v")
      .mkString("\n  UNION ALL\n  ")
    def dot(l: String, r: String) =
      s"list_sum(list_transform(generate_series(1, $dim), i -> CAST($l[i] AS DOUBLE) * CAST($r[i] AS DOUBLE)))"
    val cos = s"round(${dot("e_a", "e_b")} / nullif(sqrt(${dot("e_a", "e_a")}) * sqrt(${dot("e_b", "e_b")}), 0), 4)"
    s"""WITH v AS (SELECT vec_id AS id, embedding FROM embeddings WHERE vec_id < $maxId),
       |k AS (
       |  $tables),
       |c AS (
       |  SELECT DISTINCT a.id AS query_id, b.id AS neighbor_id
       |  FROM k a JOIN k b ON a.t = b.t AND a.key = b.key AND a.id <> b.id),
       |j AS (
       |  SELECT c.query_id, c.neighbor_id, ea.embedding AS e_a, eb.embedding AS e_b
       |  FROM c JOIN v ea ON ea.id = c.query_id
       |         JOIN v eb ON eb.id = c.neighbor_id),
       |s AS (SELECT query_id, neighbor_id, $cos AS cos_sim FROM j),
       |r AS (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
       |  FROM s)
       |SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank
       |FROM r WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** q198/q199: PSI drift replay — the same fixed-bin grid, Laplace
    * smoothing from exact integer counts, and per-bin e9 term
    * quantization as [[graft.operators.Metrics.psiFromCounts]]; the
    * float tree is structured identically on both engines so the
    * quantized terms agree bit-for-bit. */
  private[graft] def psiDriftSql(src: String, groupCol: String, valueCol: String,
                          where: String, binWidth: Long, nBins: Int,
                          outName: String): String = {
    val B = nBins
    s"""WITH b AS (SELECT $groupCol AS g,
      |    greatest(0, least(CAST(floor($valueCol) AS BIGINT) // $binWidth,
      |      ${B - 1})) AS bin
      |  FROM $src WHERE $where),
      |cs AS (SELECT g, bin, count(*) AS c FROM b GROUP BY 1, 2),
      |cb AS (SELECT bin, CAST(sum(c) AS BIGINT) AS cbin FROM cs GROUP BY 1),
      |sz AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM cs GROUP BY 1),
      |tot AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM cs),
      |bins AS (SELECT unnest(generate_series(0, ${B - 1})) AS bin),
      |grid AS (SELECT sz.g, sz.n, bins.bin, COALESCE(cb.cbin, 0) AS cbin
      |         FROM bins LEFT JOIN cb USING (bin) CROSS JOIN sz),
      |t AS (SELECT grid.g, grid.n, tot.total,
      |    CAST(floor((
      |        (COALESCE(cs.c, 0) + 1) / CAST(grid.n + $B AS DOUBLE)
      |      - (grid.cbin - COALESCE(cs.c, 0) + 1)
      |        / CAST(tot.total - grid.n + $B AS DOUBLE))
      |      * ln(((COALESCE(cs.c, 0) + 1) / CAST(grid.n + $B AS DOUBLE))
      |         / ((grid.cbin - COALESCE(cs.c, 0) + 1)
      |            / CAST(tot.total - grid.n + $B AS DOUBLE)))
      |      * 1e9 + 0.5) AS BIGINT) AS term
      |  FROM grid LEFT JOIN cs ON cs.g = grid.g AND cs.bin = grid.bin
      |  CROSS JOIN tot)
      |SELECT g AS $outName, n, total - n AS n_rest,
      |  CAST(sum(term) AS BIGINT) AS psi_e9
      |FROM t GROUP BY g, n, total ORDER BY $outName""".stripMargin
  }

  /** q58: the FULL IVF pipeline — seed-free Lloyd training + probe +
    * re-rank — replayed in SQL, so the oracle is SF-independent (no
    * baked-in centroid literals). Training is deterministic on both
    * sides: initial centroids are the k lowest-id vectors (index = id
    * rank), assignment argmin breaks ties to the lower centroid index,
    * and each update rounds the per-dim double mean to FLOAT — the cast
    * absorbs the ~1e-15 summation-order drift between engines (float
    * grid spacing ~6e-8), which is what makes the iterated averages
    * cross-engine exact in practice. Empty clusters keep their previous
    * centroid via the COALESCE carry-over, mirroring Ivf.train. */
  private[graft] def ivfDot(dim: Int)(l: String, r: String) =
    s"list_sum(list_transform(generate_series(1, $dim), i -> CAST($l[i] AS DOUBLE) * CAST($r[i] AS DOUBLE)))"

  private[graft] def ivfCos(dim: Int)(l: String, r: String) = {
    val dot = ivfDot(dim) _
    s"(${dot(l, r)} / nullif(sqrt(${dot(l, l)}) * sqrt(${dot(r, r)}), 0))"
  }

  /** The Lloyd-training CTE chain shared by q58 and q209: `v` (the
    * vector set), `c0…c<iters>` (centroid tables), plus an assign
    * snippet builder. Returns (cteText, finalCentroidCte, assignFn). */
  private[graft] def ivfTrainCtes(kClusters: Int, iters: Int, dim: Int,
                           maxId: Long): (String, String, (String, String) => String) = {
    val assignCos = ivfCos(dim)("v.embedding", "c.cv")
    def assign(prev: String, rnPred: String) =
      s"""(SELECT id, embedding, cid FROM (
         |  SELECT v.id, v.embedding, c.cid,
         |    row_number() OVER (PARTITION BY v.id
         |      ORDER BY $assignCos DESC, c.cid) AS rn
         |  FROM v CROSS JOIN $prev c) t WHERE $rnPred)""".stripMargin
    val head =
      s"""WITH v AS (SELECT CAST(vec_id AS BIGINT) AS id, embedding
         |  FROM embeddings WHERE vec_id < $maxId AND embedding IS NOT NULL),
         |dims AS (SELECT unnest(generate_series(1, $dim)) AS dim),
         |c0 AS (SELECT cid, cv FROM (
         |  SELECT row_number() OVER (ORDER BY id) - 1 AS cid, embedding AS cv
         |  FROM v) t WHERE cid < $kClusters)""".stripMargin
    val its = (1 to iters).map { i =>
      val p = s"c${i - 1}"
      s"""a$i AS ${assign(p, "rn = 1")},
         |s$i AS (SELECT cid, dim,
         |    sum(CAST(embedding[dim] AS DOUBLE)) AS s, count(*) AS n
         |  FROM a$i CROSS JOIN dims GROUP BY 1, 2),
         |u$i AS (SELECT cid, list(CAST(s / n AS FLOAT) ORDER BY dim) AS cv
         |        FROM s$i GROUP BY cid),
         |c$i AS (SELECT p.cid, COALESCE(u.cv, p.cv) AS cv
         |        FROM $p p LEFT JOIN u$i u ON p.cid = u.cid)""".stripMargin
    }.mkString(",\n")
    (s"$head,\n$its", s"c$iters", assign)
  }

  /** q396: product-quantization ADC top-k replayed bit-for-bit — per
    * subspace s: init from the k lowest-id sub-vectors, `iters` Lloyd
    * rounds in L2 (assignment argmin ties to lowest cid; update =
    * double sums of floats / n, cast FLOAT — the ivfTrainCtes
    * conventions), then corpus codes via the final codebooks and the
    * query×corpus ADC distance as the EXPLICIT s-ordered sum
    * d0 + d1 + … (matching the JVM accumulation order; a GROUP BY sum
    * would not pin addition order). */
  private[graft] def pqAdcTopKSql(m: Int, kCent: Int, iters: Int, dim: Int,
                                  topK: Int, maxQueryId: Long): String = {
    val sub = dim / m
    // L2² of vector expr `vx`'s subspace-s slice against centroid list `cv`,
    // summed j ascending (list_sum is in list order — the ivfCos parity)
    def l2(s: Int, vx: String, cv: String) =
      s"list_sum(list_transform(generate_series(1, $sub), j -> " +
        s"(CAST($vx[${s * sub} + j] AS DOUBLE) - CAST($cv[j] AS DOUBLE)) * " +
        s"(CAST($vx[${s * sub} + j] AS DOUBLE) - CAST($cv[j] AS DOUBLE))))"
    def assign(s: Int, prev: String, rnPred: String) =
      s"""(SELECT id, embedding, cid FROM (
         |  SELECT v.id, v.embedding, c.cid,
         |    row_number() OVER (PARTITION BY v.id
         |      ORDER BY ${l2(s, "v.embedding", "c.cv")} ASC, c.cid) AS rn
         |  FROM v CROSS JOIN $prev c) t WHERE $rnPred)""".stripMargin
    val head =
      s"""WITH v AS MATERIALIZED (SELECT CAST(vec_id AS BIGINT) AS id, embedding
         |  FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = $dim),
         |init AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cid, embedding AS ev
         |  FROM v)""".stripMargin
    val perSub = (0 until m).map { s =>
      val c0 =
        s"""c0_$s AS (SELECT cid,
           |  list_transform(generate_series(1, $sub), j -> ev[${s * sub} + j]) AS cv
           |  FROM init WHERE cid < $kCent)""".stripMargin
      val its = (1 to iters).map { i =>
        val p = s"c${i - 1}_$s"
        s"""a${i}_$s AS ${assign(s, p, "rn = 1")},
           |s${i}_$s AS (SELECT cid, j,
           |    sum(CAST(embedding[${s * sub} + j] AS DOUBLE)) AS sx, count(*) AS n
           |  FROM a${i}_$s CROSS JOIN (SELECT unnest(generate_series(1, $sub)) AS j)
           |  GROUP BY 1, 2),
           |u${i}_$s AS (SELECT cid, list(CAST(sx / n AS FLOAT) ORDER BY j) AS cv
           |        FROM s${i}_$s GROUP BY cid),
           |c${i}_$s AS (SELECT p.cid, COALESCE(u.cv, p.cv) AS cv
           |        FROM $p p LEFT JOIN u${i}_$s u ON p.cid = u.cid)""".stripMargin
      }.mkString(",\n")
      val codes =
        s"""code_$s AS MATERIALIZED ${assign(s, s"c${iters}_$s", "rn = 1")},
           |d_$s AS MATERIALIZED (
           |  SELECT q.id AS query_id, cc.id AS neighbor_id,
           |         ${l2(s, "q.embedding", "c.cv")} AS d
           |  FROM qry q CROSS JOIN code_$s cc JOIN c${iters}_$s c ON c.cid = cc.cid
           |  WHERE q.id <> cc.id)""".stripMargin
      s"$c0,\n$its,\n$codes"
    }.mkString(",\n")
    val qry = s"qry AS MATERIALIZED (SELECT id, embedding FROM v WHERE id < $maxQueryId)"
    val distExpr = (0 until m).map(s => s"d_$s.d").mkString(" + ")
    val joins = (1 until m).map(s =>
      s"JOIN d_$s ON d_$s.query_id = d_0.query_id AND d_$s.neighbor_id = d_0.neighbor_id")
      .mkString("\n  ")
    s"""$head,
       |$qry,
       |$perSub,
       |dist AS (SELECT d_0.query_id, d_0.neighbor_id, $distExpr AS adc
       |  FROM d_0
       |  $joins),
       |r AS (SELECT *, row_number() OVER (
       |    PARTITION BY query_id ORDER BY adc ASC, neighbor_id) AS rank
       |  FROM dist)
       |SELECT query_id, neighbor_id, round(adc, 6) AS adc_dist,
       |       CAST(rank AS INT) AS rank
       |FROM r WHERE rank <= $topK ORDER BY query_id, rank""".stripMargin
  }

  private[graft] def ivfTopKSql(kClusters: Int, iters: Int, dim: Int, topK: Int,
                         nProbe: Int, maxId: Long): String = {
    def cos(l: String, r: String) = ivfCos(dim)(l, r)
    val (ctes, fin, assign) = ivfTrainCtes(kClusters, iters, dim, maxId)
    val rerank = s"round(${cos("ea.embedding", "eb.embedding")}, 4)"
    s"""$ctes,
       |corp AS ${assign(fin, "rn = 1")},
       |qry AS ${assign(fin, s"rn <= $nProbe")},
       |cand AS (SELECT DISTINCT q.id AS query_id, corp.id AS neighbor_id
       |  FROM qry q JOIN corp ON q.cid = corp.cid
       |  WHERE q.id <> corp.id),
       |sc AS (SELECT cand.query_id, cand.neighbor_id, $rerank AS cos_sim
       |  FROM cand JOIN v ea ON ea.id = cand.query_id
       |            JOIN v eb ON eb.id = cand.neighbor_id),
       |r AS (SELECT *, row_number() OVER (
       |    PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
       |  FROM sc)
       |SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank
       |FROM r WHERE rank <= $topK ORDER BY query_id, rank""".stripMargin
  }

  /** q250/q251 shared oracle: per-row e6 component quantization, exact
    * integer sums per (label, side, component), HUGEINT cross-products,
    * one double tree — the streaming twin maintains the identical grid,
    * so both queries replay one SQL. */
  /** The exact-binomial sign-test oracle CTEs over the (segment,
    * priority) monthly-revenue family — shared by q263 (the p-values)
    * and q264 (the BH step-up over them). Binomial coefficients build
    * through a recursive HUGEINT CTE via the always-divisible
    * `C(n,i+1) = C(n,i)·(n−i)/(i+1)`; the e9 quantization is the pure
    * integer `(num·2·10⁹ + tot) // (2·tot)` the Spark kernel computes
    * with BigInt — bit-identical by construction. */
  private[graft] lazy val SignTestCtes: String =
    """rev AS (
      |  SELECT c_mktsegment AS seg, o_orderpriority AS prio,
      |         CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
      |         CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS y
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2, 3),
      |d AS (SELECT seg, prio,
      |             y - lag(y) OVER (PARTITION BY seg, prio ORDER BY month) AS df
      |      FROM rev),
      |g AS (SELECT seg, prio, CAST(count(*) AS BIGINT) AS n,
      |             CAST(sum(CASE WHEN df > 0 THEN 1 ELSE 0 END) AS BIGINT) AS k
      |      FROM d WHERE df IS NOT NULL AND df <> 0 GROUP BY 1, 2),
      |rec(seg, prio, n, k, i, c) AS (
      |  SELECT seg, prio, n, k, CAST(0 AS BIGINT), CAST(1 AS HUGEINT) FROM g
      |  UNION ALL
      |  SELECT seg, prio, n, k, i + 1, c * (n - i) // (i + 1)
      |  FROM rec WHERE i < n),
      |t AS (SELECT seg, prio, max(n) AS n, max(k) AS k,
      |             sum(CASE WHEN i <= k THEN c END) AS lo,
      |             sum(CASE WHEN i >= k THEN c END) AS hi,
      |             sum(c) AS tot
      |      FROM rec GROUP BY 1, 2),
      |p AS (SELECT seg, prio, n, k,
      |        CAST(least(CAST(1000000000 AS HUGEINT),
      |          (2 * least(lo, hi) * 2000000000 + tot) // (2 * tot))
      |          AS BIGINT) AS p_e9
      |      FROM t)""".stripMargin

  /** The chained-min funnel-reach oracle — ONE definition shared by q147
    * (window path) and q261 (the aggregate hot-key dial), because the two
    * plans are contractually the same rows. */
  private[graft] lazy val FunnelReachSql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS t, event_type AS s FROM events
      |  WHERE event_type IN ('view', 'click', 'purchase') AND ts IS NOT NULL),
      |w0 AS (SELECT *, min(CASE WHEN s = 'view' THEN t END)
      |         OVER (PARTITION BY user_id) AS t0 FROM e),
      |w1 AS (SELECT *, min(CASE WHEN s = 'click' AND t > t0 THEN t END)
      |         OVER (PARTITION BY user_id) AS t1 FROM w0),
      |w2 AS (SELECT *, min(CASE WHEN s = 'purchase' AND t > t1 THEN t END)
      |         OVER (PARTITION BY user_id) AS t2 FROM w1),
      |u AS (SELECT DISTINCT user_id,
      |        CASE WHEN t0 IS NOT NULL THEN 1 ELSE 0 END +
      |        CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END +
      |        CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END AS completed
      |      FROM w2),
      |st AS (SELECT * FROM (VALUES (0, 'view'), (1, 'click'), (2, 'purchase'))
      |       v(stage, stage_name))
      |SELECT st.stage, st.stage_name, count(*) AS n_reached
      |FROM u CROSS JOIN st WHERE u.completed > st.stage
      |GROUP BY 1, 2 ORDER BY st.stage""".stripMargin

  /** The batch-sessions oracle (lag-mark + ROWS-frame running sum, exact
    * integer microseconds) — ONE definition shared by q110 (plain per-key
    * window) and q260 (the time-sliced hot-key dial), because the two
    * plans are contractually the same rows. */
  private[graft] lazy val BatchSessionsSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, ts, epoch_us(ts) AS us FROM events),
      |m AS (
      |  SELECT user_id, event_id, us,
      |    CASE WHEN lag(us) OVER w IS NULL
      |           OR us - lag(us) OVER w > 43200000000 THEN 1 ELSE 0 END AS new
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      |x AS (
      |  SELECT user_id, us,
      |    CAST(sum(new) OVER (PARTITION BY user_id ORDER BY us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
      |  FROM m)
      |SELECT user_id, session_idx, CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(min(us) AS BIGINT) AS start_us, CAST(max(us) AS BIGINT) AS end_us,
      |  CAST(max(us) - min(us) AS BIGINT) AS duration_us
      |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  private[graft] lazy val CentroidDriftSql: String =
    """WITH g AS (SELECT unnest(generate_series(1, 64)) AS i),
        |c AS (SELECT label, CAST(vec_id % 2 AS INT) AS side, g.i,
        |        CAST(floor(embedding[g.i] * 1e6 + 0.5) AS BIGINT) AS q
        |      FROM embeddings CROSS JOIN g WHERE embedding IS NOT NULL),
        |s AS (SELECT label, side, i, CAST(sum(q) AS BIGINT) AS sv,
        |        CAST(count(*) AS BIGINT) AS c
        |      FROM c GROUP BY 1, 2, 3),
        |j AS (SELECT a.label, a.i, a.sv AS sa, a.c AS ca, b.sv AS sb, b.c AS cb
        |      FROM s a JOIN s b ON a.label = b.label AND a.i = b.i
        |        AND a.side = 0 AND b.side = 1),
        |f AS (SELECT label, max(ca) AS n_a, max(cb) AS n_b,
        |        sum(CAST(sa AS HUGEINT) * sb) AS ab,
        |        sum(CAST(sa AS HUGEINT) * sa) AS aa,
        |        sum(CAST(sb AS HUGEINT) * sb) AS bb
        |      FROM j GROUP BY 1)
        |SELECT label, n_a, n_b,
        |  CASE WHEN aa > 0 AND bb > 0 THEN
        |    CAST(floor(CAST(ab AS DOUBLE)
        |      / sqrt(CAST(aa AS DOUBLE) * CAST(bb AS DOUBLE))
        |      * 1000000 + 0.5) AS BIGINT)
        |  END AS drift_cos_e6
        |FROM f ORDER BY label""".stripMargin

  /** q233/q239 shared oracle: histogram deciles on the score value
    * grid (DESC), the two-step integer lift quantization — the
    * streaming twin maintains the identical per-value counts, so both
    * queries replay one SQL. */
  private[graft] lazy val LiftTableSql: String =
    """WITH d AS (
        |  SELECT (doc_id * 48271) % 1000001 AS s,
        |         (doc_id * 2654435761) % 1000000 < (doc_id * 48271) % 1000001 AS y
        |  FROM documents),
        |h AS (SELECT s AS v, CAST(count(*) AS BIGINT) AS c,
        |        CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS p
        |      FROM d GROUP BY 1),
        |t AS (SELECT *,
        |        CAST(sum(c) OVER (ORDER BY v DESC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |        CAST(sum(c) OVER () AS BIGINT) AS n0,
        |        CAST(sum(p) OVER () AS BIGINT) AS tp
        |      FROM h),
        |g AS (SELECT (cum - c) * 10 // n0 AS tile, n0, tp,
        |        CAST(sum(c) AS BIGINT) AS n, CAST(sum(p) AS BIGINT) AS n_pos
        |      FROM t GROUP BY 1, 2, 3),
        |r AS (SELECT *,
        |        CAST(sum(n) OVER (ORDER BY tile
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n,
        |        CAST(sum(n_pos) OVER (ORDER BY tile
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_pos
        |      FROM g)
        |SELECT tile, n, n_pos, n_pos * 1000000 // n AS resp_rate_e6, cum_n, cum_pos,
        |  (cum_pos * 1000000 // cum_n) * 1000000
        |    // nullif(tp * 1000000 // n0, 0) AS cum_lift_e6
        |FROM r ORDER BY tile""".stripMargin

  /** q225/q236 shared oracle: per-user (min, max) lifetimes, censoring
    * at the observation edge, lifetable, and the recursive-CTE e9
    * survival walk — the streaming twin maintains the identical
    * per-user state, so both queries replay one SQL. */
  private[graft] lazy val KaplanMeierCtes: String =
    """WITH RECURSIVE e AS (
        |  SELECT user_id, epoch_us(ts) AS us FROM events
        |  WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |per AS (SELECT user_id, min(us) AS f, max(us) AS l FROM e GROUP BY 1),
        |g AS (SELECT max(l) AS gm FROM per),
        |s AS (SELECT 'c' || CAST(user_id % 3 AS VARCHAR) AS key,
        |        (l - f) // 86400000000 AS dur,
        |        l < gm - 1209600000000 AS ev
        |      FROM per CROSS JOIN g),
        |lt AS (SELECT key, dur,
        |         CAST(sum(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |         CAST(sum(CASE WHEN ev THEN 0 ELSE 1 END) AS BIGINT) AS c
        |       FROM s GROUP BY 1, 2),
        |o AS (SELECT key, dur, d, c,
        |        row_number() OVER (PARTITION BY key ORDER BY dur) AS rn,
        |        CAST(sum(d + c) OVER (PARTITION BY key) AS BIGINT) AS tot,
        |        CAST(coalesce(sum(d + c) OVER (PARTITION BY key ORDER BY dur
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |          AS cumprev
        |      FROM lt),
        |rec(key, rn, sv) AS (
        |  SELECT key, rn,
        |    CASE WHEN d > 0 THEN 1000000000 * (tot - cumprev - d) // (tot - cumprev)
        |         ELSE CAST(1000000000 AS BIGINT) END
        |  FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT o.key, o.rn,
        |    CASE WHEN o.d > 0
        |         THEN rec.sv * (o.tot - o.cumprev - o.d) // (o.tot - o.cumprev)
        |         ELSE rec.sv END
        |  FROM rec JOIN o ON o.key = rec.key AND o.rn = rec.rn + 1)""".stripMargin

  private[graft] lazy val KaplanMeierSql: String =
    s"""$KaplanMeierCtes
        |SELECT o.key, o.dur AS duration, (o.tot - o.cumprev) AS n_risk,
        |  o.d AS d_events, o.c AS c_censored, rec.sv AS s_e9
        |FROM o JOIN rec ON o.key = rec.key AND o.rn = rec.rn
        |ORDER BY o.key, duration""".stripMargin

  /** q209: cluster-quality readout over the same trained centroids —
    * per-cluster member count and the EXACT sum of e6-quantized
    * member-to-centroid cosines (no mean emitted: a negative sum would
    * hit the div-truncate vs //-floor sign trap). */
  private[graft] def ivfClusterQualitySql(kClusters: Int, iters: Int, dim: Int,
                                   maxId: Long): String = {
    val (ctes, fin, assign) = ivfTrainCtes(kClusters, iters, dim, maxId)
    val cs = ivfCos(dim)("a.embedding", "c.cv")
    s"""$ctes,
       |asg AS ${assign(fin, "rn = 1")},
       |j AS (SELECT a.cid, CAST(floor($cs * 1e6 + 0.5) AS BIGINT) AS cs_e6
       |  FROM asg a JOIN $fin c ON a.cid = c.cid)
       |SELECT CAST(cid AS INT) AS cluster, count(*) AS n,
       |  CAST(sum(cs_e6) AS BIGINT) AS sum_cos_e6
       |FROM j GROUP BY 1 ORDER BY cluster""".stripMargin
  }

  /** q237: centroid-pair separation over the same trained centroids —
    * the between-cluster half of [[ivfClusterQualitySql]]'s readout;
    * floor(x·1e6 + 0.5) handles negative cosines identically to the
    * JVM kernel (floor is floor on both engines). */
  private[graft] def ivfClusterSeparationSql(kClusters: Int, iters: Int, dim: Int,
                                      maxId: Long): String = {
    val (ctes, fin, _) = ivfTrainCtes(kClusters, iters, dim, maxId)
    val cs = ivfCos(dim)("c1.cv", "c2.cv")
    // coalesce mirrors the JVM kernel's null→0 on a zero-norm centroid
    // (ivfCos emits NULL there via its nullif guard)
    s"""$ctes
       |SELECT CAST(c1.cid AS INT) AS cluster_a, CAST(c2.cid AS INT) AS cluster_b,
       |  CAST(floor(coalesce($cs, 0) * 1e6 + 0.5) AS BIGINT) AS cos_e6
       |FROM $fin c1 JOIN $fin c2 ON c1.cid < c2.cid
       |ORDER BY cluster_a, cluster_b""".stripMargin
  }

  /** q83: SemDeDup pairs over the same trained centroids — within-cluster
    * pairwise cosine, rounded to 4 decimals, thresholded AFTER rounding
    * exactly as [[graft.sim.Ivf.semanticDedupPairs]] does. The training
    * chain is the deterministic Lloyd replay ([[ivfTrainCtes]]), so the
    * whole seed→assign→pair→score pipeline hash-checks like q58/q209. */
  private[graft] def ivfSemanticDedupSql(kClusters: Int, iters: Int, dim: Int,
                                  threshold: Double, maxId: Long): String = {
    val (ctes, fin, assign) = ivfTrainCtes(kClusters, iters, dim, maxId)
    val cs = s"round(${ivfCos(dim)("a.embedding", "b.embedding")}, 4)"
    s"""$ctes,
       |asg AS ${assign(fin, "rn = 1")},
       |sc AS (SELECT a.id AS id_a, b.id AS id_b, $cs AS cos_sim
       |  FROM asg a JOIN asg b ON a.cid = b.cid AND a.id < b.id)
       |SELECT id_a, id_b, cos_sim FROM sc
       |WHERE cos_sim >= $threshold ORDER BY id_a, id_b""".stripMargin
  }

  private[graft] val MonteCarloSql: String = {
    val p = "4294967311"
    val counter = dkHash32("concat_ws('_', 42, sim_id, step)")
    s"""WITH grid AS (
       |  SELECT s.sim_id, st.step
       |  FROM (SELECT unnest(generate_series(0, 999)) AS sim_id) s,
       |       (SELECT unnest(generate_series(1, 36)) AS step) st),
       |z AS (
       |  SELECT sim_id, step,
       |    sqrt(-2.0 * ln(((c * 683077 + 104729) % $p + 1.0) / 4294967312.0))
       |      * cos(2 * pi() * (((c * 999331 + 15487469) % $p) / 4294967311.0)) AS z
       |  FROM (SELECT sim_id, step, $counter AS c FROM grid)),
       |paths AS (
       |  SELECT sim_id, step,
       |    greatest(100.0 + sum(0.5 + 2.0 * z) OVER (PARTITION BY sim_id ORDER BY step
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0) AS value
       |  FROM z)
       |SELECT step,
       |  round(quantile_cont(value, 0.05), 4) AS p05,
       |  round(quantile_cont(value, 0.10), 4) AS p10,
       |  round(quantile_cont(value, 0.50), 4) AS p50,
       |  round(quantile_cont(value, 0.90), 4) AS p90,
       |  round(quantile_cont(value, 0.95), 4) AS p95,
       |  round(avg(value), 4) AS mean,
       |  round(stddev_samp(value), 4) AS std,
       |  round(min(value), 4) AS min,
       |  round(max(value), 4) AS max
       |FROM paths GROUP BY step ORDER BY step""".stripMargin
  }

  /** q40: the composed monte_carlo_forecast pipeline in pure SQL. The
    * white-noise SARIMAX candidate (0,1,0)(0,0,0) has a CLOSED-FORM MLE —
    * OLS of Δy on [1, Δx] — so fit, drift estimation, path simulation
    * (same counter-based RNG as [[MonteCarloSql]], key='all' mixed in) and
    * per-path forecast y_j = lastY + j·c + β·(x_j − lastX) are all exactly
    * expressible; quantile_cont matches Spark's exact percentile. */
  private[graft] val McForecastSql: String = {
    val p = "4294967311"
    val counter = dkHash32("concat_ws('_', 42, 'all', sim_id, step)")
    s"""WITH m AS (
       |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
       |         round(sum(o_totalprice)/1000000.0, 6) AS tot,
       |         CAST(count(*) AS DOUBLE) AS x
       |  FROM orders GROUP BY 1),
       |o AS (SELECT tot, x, row_number() OVER (ORDER BY month) AS rn FROM m),
       |nn AS (SELECT max(rn) AS nr FROM o),
       |dd AS (SELECT tot - lag(tot) OVER (ORDER BY rn) AS dy,
       |              x - lag(x) OVER (ORDER BY rn) AS dx FROM o),
       |ols AS (SELECT regr_intercept(dy, dx) AS c, regr_slope(dy, dx) AS beta
       |        FROM dd WHERE dy IS NOT NULL),
       |lastv AS (SELECT o.tot AS lastY, o.x AS lastX FROM o, nn WHERE o.rn = nn.nr),
       |tdx AS (SELECT x - lag(x) OVER (ORDER BY rn) AS dxx
       |        FROM (SELECT x, rn FROM o, nn WHERE rn > nr - 60)),
       |drift AS (SELECT avg(dxx) AS mu, stddev_samp(dxx) AS sigma
       |          FROM tdx WHERE dxx IS NOT NULL),
       |grid AS (
       |  SELECT s.sim_id, st.step
       |  FROM (SELECT unnest(generate_series(0, 499)) AS sim_id) s,
       |       (SELECT unnest(generate_series(1, 24)) AS step) st),
       |z AS (
       |  SELECT sim_id, step,
       |    sqrt(-2.0 * ln(((c * 683077 + 104729) % $p + 1.0) / 4294967312.0))
       |      * cos(2 * pi() * (((c * 999331 + 15487469) % $p) / 4294967311.0)) AS z
       |  FROM (SELECT sim_id, step, $counter AS c FROM grid)),
       |xp AS (
       |  SELECT sim_id, step,
       |    greatest(lastv.lastX + sum(drift.mu + drift.sigma * z) OVER (
       |      PARTITION BY sim_id ORDER BY step
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0) AS xs
       |  FROM z, lastv, drift),
       |fc AS (
       |  SELECT sim_id, step,
       |    lastv.lastY + step * ols.c + ols.beta * (xp.xs - lastv.lastX) AS value
       |  FROM xp, lastv, ols)
       |SELECT 'all' AS key, step,
       |  round(quantile_cont(value, 0.05), 4) AS p05,
       |  round(quantile_cont(value, 0.10), 4) AS p10,
       |  round(quantile_cont(value, 0.50), 4) AS p50,
       |  round(quantile_cont(value, 0.90), 4) AS p90,
       |  round(quantile_cont(value, 0.95), 4) AS p95,
       |  round(avg(value), 4) AS mean,
       |  round(stddev_samp(value), 4) AS std,
       |  round(min(value), 4) AS min,
       |  round(max(value), 4) AS max
       |FROM fc GROUP BY step ORDER BY step""".stripMargin
  }


  /** Shared duplicated-5-gram detection CTEs (q98/q100): per-doc token
    * arrays, 1-based gram starts, corpus-duplicated grams, and the
    * duplicated start positions `dp(doc_id, pos)` (0-based). */
  private[graft] lazy val DupGramCtes: String =
    """WITH t AS (
      |  SELECT doc_id, CASE WHEN text IS NULL OR length(trim(text)) = 0
      |         THEN CAST([] AS VARCHAR[])
      |         ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
      |  FROM documents),
      |b AS (SELECT doc_id, len(toks) AS n_tokens, toks FROM t),
      |g AS (
      |  SELECT doc_id, unnest(range(1, len(toks) - 3)) AS i, toks
      |  FROM b WHERE len(toks) >= 5),
      |gg AS (SELECT doc_id, i - 1 AS pos, array_to_string(toks[i : i + 4], ' ') AS gram FROM g),
      |dup AS (SELECT gram FROM gg GROUP BY gram HAVING count(*) >= 2),
      |dp AS (SELECT doc_id, pos FROM gg JOIN dup USING (gram))""".stripMargin

  /** Shared repetition-stat CTE block (q80/q84): per-doc line groups,
    * line-axis stats, token char totals, 2-gram top coverage, duplicated
    * 5-gram coverage — all over the [[LinedCte]] derivation. */
  private[graft] lazy val RepCtes: String =
      (s"""$LinedCte,
        |lg AS (
        |  SELECT doc_id, line, count(*) AS c, length(line) AS ll
        |  FROM (SELECT doc_id, unnest(la) AS line FROM lined)
        |  WHERE length(line) > 0 GROUP BY doc_id, line),
        |ls AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_lines,
        |    CAST(sum(c) - count(*) AS DOUBLE) / sum(c) AS dlf,
        |    CAST(sum(CASE WHEN c > 1 THEN (c-1)*ll ELSE 0 END) AS DOUBLE)
        |      / nullif(sum(c*ll), 0) AS dlcf
        |  FROM lg GROUP BY doc_id),
        |tc AS (
        |  SELECT doc_id, sum(length(x)) AS tot
        |  FROM (SELECT doc_id, unnest(toks) AS x FROM lined) GROUP BY doc_id),
        |g2 AS (
        |  SELECT doc_id, gram, count(*) AS c, length(gram) - 1 AS gl
        |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |          i -> toks[i] || ' ' || toks[i+1])) AS gram FROM lined)
        |  GROUP BY doc_id, gram),
        |t2 AS (
        |  SELECT doc_id, c * gl AS cov FROM (
        |    SELECT doc_id, c, gl,
        |      row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, gram DESC) AS rn
        |    FROM g2) WHERE rn = 1),
        |g5 AS (
        |  SELECT doc_id, gram, count(*) AS c, length(gram) - 4 AS gl
        |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(toks) - 3),
        |          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
        |               toks[i+3] || ' ' || toks[i+4])) AS gram FROM lined)
        |  GROUP BY doc_id, gram),
        |d5 AS (
        |  SELECT doc_id, CAST(sum(CASE WHEN c > 1 THEN c * gl ELSE 0 END) AS DOUBLE) AS cov
        |  FROM g5 GROUP BY doc_id)""".stripMargin)

  /** Recursive transitive-closure CTE over the MinHash candidate pairs —
    * the connected-components oracle shared by q79 (cluster labels) and
    * q106 (quality-based representative selection). Ends at `reach`;
    * consumers add the final SELECT. */
  private[graft] lazy val DupReachCte: String = {
    val rows = MinhashK / MinhashBands
    val bandConds = (0 until MinhashBands).map { b =>
      (b * rows until (b + 1) * rows).map(i => s"a.mh$i = b.mh$i").mkString("(", " AND ", ")")
    }.mkString(" OR ")
    val eqSum = (0 until MinhashK)
      .map(i => s"(CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END)").mkString(" + ")
    val cte = "WITH RECURSIVE" + MinhashCte.stripPrefix("WITH")
    s"""$cte,
      |p AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ($bandConds)
      |  WHERE $eqSum >= ${MinhashK / 2}),
      |edges AS (SELECT id_a AS src, id_b AS dst FROM p
      |          UNION SELECT id_b, id_a FROM p),
      |reach(src, dst) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)""".stripMargin
  }

  /** Shared 2-token-per-line derivation for the q80/q81 oracles — the SQL
    * twin of [[linedText]]: `la` is the line array, `toks` the raw token
    * array (DuckDB range() is end-exclusive; list slices are 1-based
    * inclusive, matching Spark's 1-based `slice`). */
  private[graft] lazy val LinedCte: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
      |         ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
      |  FROM documents),
      |lined AS (
      |  SELECT doc_id, toks,
      |    list_transform(range(0, CAST(ceil(len(toks) / 2.0) AS BIGINT)),
      |      i -> array_to_string(toks[i*2+1:i*2+2], ' ')) AS la
      |  FROM t)""".stripMargin
}
