package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Throwaway skew-stress sweep for SURVEY §8 — run manually:
  * `sbt "Test/runMain graft.SkewSweep"`.
  *
  * All prior 10x sweeps scaled by id-offset copies, which keeps every key
  * UNIFORM; this one drives the join/window/sessionization family over a
  * Zipf(s=1.1)-keyed corpus at the same 10x row counts, with a uniform
  * twin as the control, so the reported ratio isolates the SKEW cost at
  * equal data volume. Synthetic inputs only (events + orders/lineitem at
  * 10x sf0.1 shape); keys drawn by the continuous inverse-CDF Zipf
  * approximation `k = ceil((1 - u·(1 - K^(1-s)))^(1/(1-s)))` — pure
  * codegen'd SQL, no lookup table, deterministic u from a row-hash so the
  * corpus is identical across runs. At s=1.1 the hottest key takes ~9-11%
  * of ALL rows (vs 1/K uniform) — the one-partition-drowns shape that AQE
  * skew-join / salting / watermark dials exist for.
  */
object SkewSweep {
  private val base = "/tmp/skew10x"

  // deterministic u ~ U(0,1) from a bigint row id (splitmix-ish mix via
  // Spark's xxhash64; no rand() so retries and re-runs reproduce bit-for-bit)
  private def u01(idCol: String, salt: Int): String =
    s"(pmod(xxhash64($idCol, $salt), 1000000000L) + 0.5d) / 1000000000d"

  // Zipf(s) over 1..k via continuous inverse CDF (see scaladoc)
  private def zipfKey(idCol: String, salt: Int, k: Long, s: Double): String = {
    val oneMinusS = 1.0 - s // -0.1 at s=1.1
    s"least(cast($k as bigint), cast(ceil(power(1.0d - ${u01(idCol, salt)} * " +
      s"(1.0d - power(cast($k as double), $oneMinusS)), 1.0d / $oneMinusS)) as bigint))"
  }

  private def synthEvents(spark: SparkSession, dir: String, n: Long,
                          users: Long, zipf: Boolean): Unit = {
    val userExpr =
      if (zipf) zipfKey("id", 7, users, 1.1)
      else s"pmod(xxhash64(id, 7), $users) + 1"
    val types = "array('view','click','purchase','signup','error')"
    spark.range(n)
      .withColumn("event_id", col("id") + 1)
      .withColumn("user_id", expr(userExpr))
      // one month of µs timestamps from 2024-01-01, hash-spread
      .withColumn("ts", expr(
        "timestamp_micros(1704067200000000L + pmod(xxhash64(id, 11), 2592000000000L))"))
      .withColumn("event_type", expr(s"element_at($types, cast(pmod(xxhash64(id, 13), 5) + 1 as int))"))
      .withColumn("value", expr("cast(pmod(xxhash64(id, 17), 10000) as double) / 100.0d"))
      .withColumn("props", lit("{}"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(8)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  private def synthOrdersLineitem(spark: SparkSession, dir: String,
                                  nOrders: Long, nLines: Long, zipf: Boolean): Unit = {
    val prios = "array('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW')"
    spark.range(nOrders)
      .withColumn("o_orderkey", col("id") + 1)
      .withColumn("o_custkey", expr("pmod(xxhash64(id, 3), 150000) + 1"))
      .withColumn("o_orderstatus", lit("O"))
      .withColumn("o_totalprice", expr("cast(pmod(xxhash64(id, 5), 1000000) as double) / 100.0d"))
      .withColumn("o_orderdate", expr("timestamp_micros(1704067200000000L + id * 1000000L)"))
      .withColumn("o_orderpriority", expr(s"element_at($prios, cast(pmod(xxhash64(id, 9), 5) + 1 as int))"))
      .drop("id")
      .coalesce(8)
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val keyExpr =
      if (zipf) zipfKey("id", 21, nOrders, 1.1)
      else s"pmod(xxhash64(id, 21), $nOrders) + 1"
    spark.range(nLines)
      .withColumn("l_orderkey", expr(keyExpr))
      .withColumn("l_partkey", expr("pmod(xxhash64(id, 23), 20000) + 1"))
      .withColumn("l_suppkey", expr("pmod(xxhash64(id, 25), 1000) + 1"))
      .withColumn("l_linenumber", expr("cast(pmod(id, 7) + 1 as int)"))
      .withColumn("l_quantity", expr("cast(pmod(xxhash64(id, 27), 50) + 1 as double)"))
      .withColumn("l_extendedprice", expr("cast(pmod(xxhash64(id, 29), 10000000) as double) / 100.0d"))
      .withColumn("l_discount", expr("cast(pmod(xxhash64(id, 31), 11) as double) / 100.0d"))
      .withColumn("l_tax", expr("cast(pmod(xxhash64(id, 33), 9) as double) / 100.0d"))
      .withColumn("l_returnflag", expr("element_at(array('A','N','R'), cast(pmod(xxhash64(id, 35), 3) + 1 as int))"))
      .withColumn("l_linestatus", lit("O"))
      .withColumn("l_shipdate", expr("timestamp_micros(1704067200000000L + pmod(xxhash64(id, 37), 2592000000000L))"))
      .drop("id")
      .coalesce(16)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
  }

  private def time(fn: => Unit): Double = {
    val t0 = System.nanoTime(); fn; (System.nanoTime() - t0) / 1e9
  }

  private def bench(spark: SparkSession, dir: String, names: Seq[String]): Map[String, Double] = {
    def pass() = names.map { n =>
      n -> time(SparkEntry.queries(n)(spark, dir).write.format("noop").mode("overwrite").save())
    }.toMap
    val p1 = pass(); val p2 = pass()
    p1.map { case (k, v) => k -> math.min(v, p2(k)) }
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "24h")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftSession.tune(spark)

    val uniDir = s"$base/uniform"; val zipfDir = s"$base/zipf"

    // `ordered [maxFilesPerTrigger]` mode: ONLY the steady-state
    // watermark-eviction probe, the stream-stream join over time-ordered
    // landing files with the per-batch file cap of the second argument.
    if (args.headOption.contains("ordered")) {
      val maxFiles = args.lift(1).map(_.toInt)
      val orderedDir = s"$base/zipf_ordered"
      if (!new java.io.File(s"$orderedDir/events.parquet").isDirectory) {
        spark.read.parquet(s"$zipfDir/events.parquet")
          .repartitionByRange(30, col("ts")).sortWithinPartitions("ts")
          .write.mode("overwrite").parquet(s"$orderedDir/events.parquet")
      }
      val t = time(streaming.StreamingCollapse.clickPurchaseJoin(spark, orderedDir,
          windowMinutes = 30, maxFilesPerTrigger = maxFiles)
        .write.format("noop").mode("overwrite").save())
      println(f"DIAL  clickPurchaseJoin(30 min, maxFilesPerTrigger=${maxFiles.getOrElse("none")}) zipf=$t%6.2f s")
      spark.stop(); return
    }
    // `hot100` mode: one decade past the Zipf sweep — a SINGLE user owns
    // ~10M of 11M events (~91%, vs the Zipf corpus's 10.9%-hot key). The
    // per-user window family (sessions q110, funnel q147) cannot split a
    // partition: the hot key is ONE task no matter the cluster width, so
    // this names the crossover where the per-task budget is blown and a
    // salted/time-sliced session dial must engage. AQE on/off is probed
    // to document that skew-join splitting does NOT apply to windows.
    if (args.headOption.contains("hot100")) {
      val hotDir = s"$base/hot100"; val uni11Dir = s"$base/uni11"
      if (!new java.io.File(s"$hotDir/events.parquet").isDirectory) {
        println("[synth] building 11M-row hot100 + uniform corpora under " + base)
        // 10M rows pinned to user 1 + 1M uniform over 15k users
        val types = "array('view','click','purchase','signup','error')"
        spark.range(11000000L)
          .withColumn("event_id", col("id") + 1)
          .withColumn("user_id",
            expr(s"case when id < 10000000L then 1L else pmod(xxhash64(id, 7), 15000) + 1 end"))
          .withColumn("ts", expr(
            "timestamp_micros(1704067200000000L + pmod(xxhash64(id, 11), 2592000000000L))"))
          .withColumn("event_type", expr(s"element_at($types, cast(pmod(xxhash64(id, 13), 5) + 1 as int))"))
          .withColumn("value", expr("cast(pmod(xxhash64(id, 17), 10000) as double) / 100.0d"))
          .withColumn("props", lit("{}"))
          .select("event_id", "ts", "user_id", "event_type", "value", "props")
          .coalesce(16)
          .write.mode("overwrite").parquet(s"$hotDir/events.parquet")
        synthEvents(spark, uni11Dir, 11000000L, 15000L, zipf = false)
      }
      val family = Seq("q110_x_batch_sessions", "q147_x_funnel")
      for (aqe <- Seq(true, false)) {
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        val uni = bench(spark, uni11Dir, family)
        val hot = bench(spark, hotDir, family)
        family.foreach { n =>
          println(f"HOT100 aqe=$aqe%-5s $n%-24s uniform=${uni(n)}%7.2f s  hot=${hot(n)}%7.2f s  ratio=${hot(n) / uni(n)}%5.2fx")
        }
      }
      spark.conf.set("spark.sql.adaptive.enabled", true)
      // the DIALS: identical rows (oracle-shared with q110/q147), but the
      // hot key parallelizes — per-(key, slice) sort / map-side minima
      val dials = bench(spark, hotDir,
        Seq("q260_x_sessions_timesliced", "q261_x_funnel_agg"))
      dials.toSeq.sortBy(_._1).foreach { case (n, t) =>
        println(f"DIAL  $n%-28s hot=$t%7.2f s")
      }
      spark.stop(); return
    }
    // `auto` mode: the zero-config routing claim — the q368/q369
    // AUTO-routed operators over the 91%-hot-key corpus must land at the
    // engaged dial's time (q260/q261 + one probe aggregate), and over
    // the uniform control at the plain path's (probe says stay).
    if (args.headOption.contains("auto")) {
      val hotDir = s"$base/hot100"; val uni11Dir = s"$base/uni11"
      require(new java.io.File(s"$hotDir/events.parquet").isDirectory,
        "run `SkewSweep hot100` first to build the event corpora")
      val family = Seq(
        "q110_x_batch_sessions", "q260_x_sessions_timesliced",
        "q368_x_sessions_auto",
        "q147_x_funnel", "q261_x_funnel_agg", "q369_x_funnel_auto")
      for ((corpus, d) <- Seq("uniform" -> uni11Dir, "hot" -> hotDir)) {
        val r = bench(spark, d, family)
        family.foreach { n =>
          println(f"AUTO  $n%-28s $corpus%-8s ${r(n)}%7.2f s")
        }
      }
      spark.stop(); return
    }
    // `funnel2` mode: the aggRouteWins TIME crossover is reachable for
    // 2-stage funnels only (pass count 2 < the measured window bound 3)
    // — this probes that positive half EMPIRICALLY over the 91%-hot-key
    // corpus: plain window vs agg route vs the auto dial, 2 stages, on
    // hot and uniform. Claim: on hot, auto engages (lands at agg's
    // time + one probe) and beats plain; on uniform, auto stays plain.
    if (args.headOption.contains("funnel2")) {
      val hotDir = s"$base/hot100"; val uni11Dir = s"$base/uni11"
      require(new java.io.File(s"$hotDir/events.parquet").isDirectory,
        "run `SkewSweep hot100` first to build the event corpora")
      val stages = Seq("view", "purchase")
      for ((corpus, d) <- Seq("uniform" -> uni11Dir, "hot" -> hotDir)) {
        def run(lbl: String)(fn: => DataFrame): Unit = {
          def once = time(fn.write.format("noop").mode("overwrite").save())
          val t = math.min(once, once)
          println(f"FUN2  $lbl%-14s $corpus%-8s $t%7.2f s")
        }
        def ev = sources.Tables.events(spark, d)
        run("plain-window")(operators.Funnel.conversionCounts(
          ev, Seq("user_id"), "ts", "event_type", stages))
        run("agg-route")(operators.Funnel.conversionCountsAgg(
          ev, Seq("user_id"), "ts", "event_type", stages))
        run("auto")(operators.Funnel.conversionCountsAuto(
          ev, Seq("user_id"), "ts", "event_type", stages))
      }
      spark.stop(); return
    }
    // `streamtwins` mode: the round-8 hot100 probe measured the BATCH
    // window family; this one drives the streaming twins over the same
    // 91%-hot-key corpus (and a hot-label embeddings analog), recording
    // drain time + the drained-state row count vs the uniform control.
    // The claims under test: complete-mode aggregate twins (q236 KM,
    // q251 centroid drift) absorb row skew MAP-SIDE (state = key grid,
    // flat drain); the custom-state funnel twin (q215) pays the hot
    // group's in-task sort once per drain (the q260-shaped hazard).
    if (args.headOption.contains("streamtwins")) {
      val hotDir = s"$base/hot100"; val uni11Dir = s"$base/uni11"
      require(new java.io.File(s"$hotDir/events.parquet").isDirectory,
        "run `SkewSweep hot100` first to build the event corpora")
      val embHot = s"$base/emb_hot"; val embUni = s"$base/emb_uni"
      if (!new java.io.File(s"$embHot/embeddings.parquet").isDirectory) {
        println("[synth] building 1.1M-row hot-label + uniform embeddings")
        def synthEmb(dir: String, hot: Boolean): Unit = {
          val labelExpr =
            if (hot) "case when id < 1000000L then 1 else cast(pmod(xxhash64(id, 7), 16) as int) end"
            else "cast(pmod(xxhash64(id, 7), 16) as int)"
          spark.range(1100000L)
            .withColumn("vec_id", col("id") + 1)
            .withColumn("embedding", expr(
              "transform(sequence(1, 64), i -> cast((pmod(xxhash64(id, i), 2001) - 1000) / 1000.0 as float))"))
            .withColumn("label", expr(labelExpr))
            .select("vec_id", "embedding", "label")
            .coalesce(16)
            .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
        }
        synthEmb(embHot, hot = true); synthEmb(embUni, hot = false)
      }
      def probe(lbl: String, corpus: String, stateTable: String)(fn: => Unit): Unit = {
        val t = time(fn)
        val stateRows =
          try spark.table(stateTable).count()
          catch { case _: Throwable => -1L }
        println(f"TWIN  $lbl%-26s $corpus%-8s drain=$t%7.2f s  stateRows=$stateRows%9d")
      }
      for ((corpus, d) <- Seq("uniform" -> uni11Dir, "hot" -> hotDir)) {
        probe("q215 streamingFunnel", corpus, "graft_stream_funnel") {
          streaming.StreamingCollapse.streamingFunnel(spark, d,
            Seq("view", "click", "purchase"))
            .write.format("noop").mode("overwrite").save()
        }
        probe("q236 streamingKaplanMeier", corpus, "graft_stream_km") {
          streaming.StreamingCollapse.streamingKaplanMeier(spark, d)
            .write.format("noop").mode("overwrite").save()
        }
      }
      for ((corpus, d) <- Seq("uniform" -> embUni, "hot" -> embHot)) {
        probe("q251 streamingCentroidDrift", corpus, "graft_stream_cdrift") {
          streaming.StreamingCollapse.streamingCentroidDrift(spark, d)
            .write.format("noop").mode("overwrite").save()
        }
      }
      spark.stop(); return
    }
    if (!new java.io.File(s"$zipfDir/lineitem.parquet").isDirectory) {
      println("[synth] building 10x uniform + zipf corpora under " + base)
      synthEvents(spark, uniDir, 1000000L, 15000L, zipf = false)
      synthEvents(spark, zipfDir, 1000000L, 15000L, zipf = true)
      synthOrdersLineitem(spark, uniDir, 1500000L, 6000000L, zipf = false)
      synthOrdersLineitem(spark, zipfDir, 1500000L, 6000000L, zipf = true)
    }
    // headline skew diagnostics: hottest-key share on each corpus
    for ((lbl, d) <- Seq("uniform" -> uniDir, "zipf" -> zipfDir)) {
      val top = spark.read.parquet(s"$d/events.parquet")
        .groupBy("user_id").count().orderBy(desc("count")).limit(1).collect()(0)
      val topLi = spark.read.parquet(s"$d/lineitem.parquet")
        .groupBy("l_orderkey").count().orderBy(desc("count")).limit(1).collect()(0)
      println(f"[skew] $lbl: hottest user=${top.getLong(0)} n=${top.getLong(1)}; " +
        f"hottest orderkey=${topLi.getLong(0)} n=${topLi.getLong(1)}")
    }

    val family = Seq("q65_x_salted_join", "q67_x_hotkey_salted_join",
      "q110_x_batch_sessions", "q147_x_funnel", "q154_x_attribution", "q162_x_twap")
    val uni = bench(spark, uniDir, family)
    val zp = bench(spark, zipfDir, family)
    family.foreach { n =>
      println(f"SWEEP $n%-28s uniform=${uni(n)}%6.2f s  zipf=${zp(n)}%6.2f s  ratio=${zp(n) / uni(n)}%4.2fx")
    }

    // dial probe: the q65 aggregate over the PLAIN join vs salted vs hot-key
    // salted, all on the zipf corpus (salting is the identity on the result)
    def agg(j: DataFrame) = j.groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("qty"))
    val li = sources.Tables.lineitem(spark, zipfDir).select(col("l_orderkey").as("okey"), col("l_quantity"))
    val ords = sources.Tables.orders(spark, zipfDir).select(col("o_orderkey").as("okey"), col("o_orderpriority"))
    def probeJoin(lbl: String, fn: => DataFrame): Unit = {
      val t = math.min(time(agg(fn).write.format("noop").mode("overwrite").save()),
        time(agg(fn).write.format("noop").mode("overwrite").save()))
      println(f"DIAL  $lbl%-28s zipf=$t%6.2f s")
    }
    probeJoin("plain join (AQE skew)", li.join(ords, Seq("okey")))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    probeJoin("plain join (AQE off)", li.join(ords, Seq("okey")))
    probeJoin("saltedJoin b=8 (AQE off)", operators.Skew.saltedJoin(li, ords, Seq("okey"), buckets = 8))
    probeJoin("hotKeySalted b=8 (AQE off)", operators.Skew.hotKeySaltedJoin(li, ords, Seq("okey"), buckets = 8, hotKeys = 16))
    spark.conf.set("spark.sql.adaptive.enabled", "true")

    // streaming joinDelta under skew: the hot user's click×purchase pair
    // history is what the maxIdsPerKey cap exists to catch — prove it
    // fails loud on the zipf corpus, then measure the watermarked
    // clickPurchaseJoin as the production dial on the SAME corpus.
    val capped =
      try {
        streaming.StreamingCollapse.streamingJoinDelta(spark, zipfDir, maxIdsPerKey = 5000).count()
        "NO-TRIP (unexpected)"
      } catch {
        case e: Throwable =>
          val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
            .toSeq.lastOption.getOrElse(e)
          s"TRIPPED: ${root.getMessage.linesIterator.next()}"
      }
    println(s"CAP   streamingJoinDelta(maxIdsPerKey=5000) on zipf -> $capped")
    val dialT = time(streaming.StreamingCollapse.clickPurchaseJoin(spark, zipfDir, windowMinutes = 30)
      .write.format("noop").mode("overwrite").save())
    println(f"DIAL  clickPurchaseJoin(30 min watermark, 1 drain batch) zipf=$dialT%6.2f s")

    spark.stop()
  }
}
