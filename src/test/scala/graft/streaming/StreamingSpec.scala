package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSpec {
  import StreamingCollapse._

  private def weeklyBatch(dir: String) = graft.sources.Tables.events(spark, dir)
    .groupBy(to_date(window(col("ts"), "7 days").getField("start")).as("week"),
      col("event_type"))
    .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
    .orderBy("week", "event_type").collect()

  test("weeklyEventStats: streaming result equals the batch aggregate") {
    val dir = "/root/testdata/sf0.001"
    val streamed = weeklyEventStats(spark, dir).collect()
    val batch = weeklyBatch(dir)
    assert(streamed.length === batch.length)
    streamed.zip(batch).foreach { case (s, b) => assert(s === b) }
  }

  test("a stale active query under a twin's name is stopped before the drain") {
    val dir = "/root/testdata/sf0.001"
    // Spark refuses to start a second active query under one name
    val stale = spark.readStream.format("rate").option("rowsPerSecond", "1").load()
      .writeStream.format("memory").queryName("graft_stream_weekly").start()
    try {
      val streamed = weeklyEventStats(spark, dir).collect()
      assert(!stale.isActive, "the stale query must be stopped")
      assert(streamed.toSeq === weeklyBatch(dir).toSeq)
    } finally stale.stop()
  }

  test("slidingEventStats: overlapping-window streaming equals the batch explosion") {
    val dir = "/root/testdata/sf0.001"
    val streamed = slidingEventStats(spark, dir).collect()
    val batch = graft.sources.Tables.events(spark, dir)
      .withColumn("cents", expr("cast(floor(value * 100 + 0.5) as bigint)"))
      .groupBy(to_date(window(col("ts"), "28 days", "7 days").getField("start"))
        .as("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
      .orderBy("window_start", "event_type").collect()
    assert(streamed.length === batch.length)
    streamed.zip(batch).foreach { case (s, b) => assert(s === b) }
    // every window sees ~4 tumbling periods' worth: the sliding total is
    // 4x the event count (each event feeds exactly 4 windows)
    val totalN = streamed.map(_.getAs[Long]("n")).sum
    val nEvents = graft.sources.Tables.events(spark, dir).count()
    assert(totalN === 4 * nEvents)
  }

  test("streamingNearDupPairs: streaming LSH index equals the batch candidates") {
    val dir = "/root/testdata/sf0.001"
    val streamed = streamingNearDupPairs(spark, dir, k = 8, bands = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val batch = graft.text.Dedup.minhashCandidates(
        graft.sources.Tables.documents(spark, dir), "doc_id", "text",
        k = 8, bands = 4)
      .select(col("id_a"), col("id_b"), round(col("est_jaccard"), 4).as("est_jaccard"))
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(streamed.nonEmpty)
    assert(streamed.toSeq == batch.toSeq)
  }

  test("nearDupPairsStream: TTL dial builds a standing streaming dataset (never drained here)") {
    // the dial is standing-pipeline-only: a processing-time timeout
    // re-triggers micro-batches forever, so no bounded drain exists to
    // test — this pins that the TTL plan at least CONSTRUCTS, and that
    // the bounded runner deliberately has no TTL parameter
    val ds = nearDupPairsStream(spark, "/root/testdata/sf0.001",
      k = 8, bands = 4, stateTtlMinutes = Some(60))
    assert(ds.isStreaming)
    assert(ds.schema.fieldNames.toSeq == Seq("id_a", "id_b", "est_jaccard"))
  }

  test("clickPurchaseJoin: stream-stream join equals the batch time-bounded join") {
    val dir = "/root/testdata/sf0.001"
    val streamed = clickPurchaseJoin(spark, dir, windowMinutes = 60).collect()
    val ev = graft.sources.Tables.events(spark, dir)
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("cts"), col("event_id").as("click_id"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts").as("pts"),
        col("event_id").as("purchase_id"), col("value"))
    val batch = c.join(p,
        col("user_id") === col("pu") && col("pts") >= col("cts") &&
          col("pts") <= col("cts") + expr("interval 60 minutes"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        round(col("value"), 2).as("purchase_value"))
      .orderBy("click_id", "purchase_id").collect()
    assert(streamed.nonEmpty, "join must be non-vacuous on the test file")
    assert(streamed.toSeq === batch.toSeq)
  }

  test("clickPurchaseJoin: maxFilesPerTrigger = 1 drains a multi-file landing " +
    "directory in one micro-batch per file, with the rows of the uncapped call") {
    import java.nio.file.{Files, Path}
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    // the sf0.001 events as a landing directory of time-ordered files: each
    // range partition of ts is one file, and the files' modification times
    // follow ts, the order a file stream reads them in
    val dir = Files.createTempDirectory("graft_landing")
    val landing = dir.resolve("events.parquet")
    spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .repartitionByRange(4, col("ts")).sortWithinPartitions("ts")
      .write.parquet(landing.toString)
    val files = Files.list(landing).toArray.toSeq.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.startsWith("part-")).sortBy(_.getFileName.toString)
    assert(files.size > 1)
    val t0 = System.currentTimeMillis() - 3600000L
    files.zipWithIndex.foreach { case (f, i) =>
      Files.setLastModifiedTime(f, java.nio.file.attribute.FileTime.fromMillis(t0 + i * 10000L))
    }
    val dataBatches = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.name == "graft_stream_join" && e.progress.numInputRows > 0)
          dataBatches.incrementAndGet()
    }
    def batchesOf(f: => Array[org.apache.spark.sql.Row]) = {
      dataBatches.set(0)
      val rows = f
      org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
      (rows, dataBatches.get)
    }
    spark.streams.addListener(listener)
    try {
      val (all, allBatches) = batchesOf(
        clickPurchaseJoin(spark, dir.toString, windowMinutes = 60).collect())
      val (capped, cappedBatches) = batchesOf(
        clickPurchaseJoin(spark, dir.toString, windowMinutes = 60,
          maxFilesPerTrigger = Some(1)).collect())
      assert(allBatches == 1)
      assert(cappedBatches == files.size)
      assert(all.nonEmpty, "join must be non-vacuous on the landing files")
      assert(capped.toSeq === all.toSeq)
    } finally spark.streams.removeListener(listener)
  }

  test("enrichedEventStats: stream-static join equals the batch enrichment aggregate") {
    val dir = "/root/testdata/sf0.001"
    val streamed = enrichedEventStats(spark, dir).collect()
    val ev = graft.sources.Tables.events(spark, dir)
    val ua = ev.groupBy("user_id").agg(avg(col("value")).as("user_avg"))
    val batch = ev.join(ua, Seq("user_id"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        round(sum(abs(col("value") - col("user_avg"))), 2).as("sum_absdev"))
      .orderBy("event_type").collect()
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq)
  }

  test("watermark: events later than the watermark bound are dropped (late-data policy)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Double)]
    def ts(h: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    val agg = mem.toDF().toDF("ets", "value")
      .withWatermark("ets", "2 hours")
      .groupBy(window(col("ets"), "1 hour"))
      .agg(sum(col("value")).as("s"))
      .select(col("window.start").cast("string").as("w"), col("s"))
    val q = agg.writeStream.format("memory").queryName("late_test")
      .outputMode("append").start()
    try {
      mem.addData((ts(1), 1.0)); q.processAllAvailable()
      // advance event time far past hour 1 -> watermark = 10:00 - 2h = 08:00
      mem.addData((ts(10), 5.0)); q.processAllAvailable()
      // late arrival for hour 1: older than the watermark -> DROPPED
      mem.addData((ts(1), 100.0)); q.processAllAvailable()
      // advance again so hour 10's window can also close if needed
      mem.addData((ts(20), 7.0)); q.processAllAvailable()
      val rows = spark.table("late_test").collect()
        .map(r => (r.getString(0), r.getDouble(1))).toMap
      // hour-1 window closed with ONLY the on-time value; the 100.0 is gone
      assert(rows("2024-01-01 01:00:00") === 1.0)
    } finally q.stop()
  }

  test("sessionize: gap-separated event bursts become separate sessions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SessionEvent]
    val min = 60L * 1000000L
    // user 1: two bursts separated by 90min (> 30min gap); user 2: one burst
    mem.addData(
      SessionEvent(1L, 0 * min, 1.0), SessionEvent(1L, 10 * min, 2.0),
      SessionEvent(1L, 100 * min, 5.0), SessionEvent(1L, 105 * min, 6.0),
      SessionEvent(2L, 0 * min, 9.0))
    val q = sessionize(mem.toDS(), gapMinutes = 30, withTimeout = false)
      .writeStream.format("memory").queryName("sessions_test")
      .outputMode("append").start()
    try q.processAllAvailable()
    finally q.stop()
    val out = spark.table("sessions_test")
      .orderBy("user_id", "session_start").collect()
    // only CLOSED sessions are emitted: user 1's first burst
    assert(out.length === 1)
    assert(out(0).getAs[Long]("user_id") === 1L)
    assert(out(0).getAs[Int]("n_events") === 2)
    assert(approx(out(0).getAs[Double]("sum_value"), 3.0))
    assert(out(0).getAs[Long]("session_end") === 10 * min)
  }

  test("streamingCmsHeavyHitters: drained sketch estimates equal the batch CMS") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val probes = Seq("click:7", "view:23", "signup:999")
    val streamed = streamingCmsHeavyHitters(spark, dir, probes).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val batchVals = graft.sources.Tables.events(spark, dir)
      .select(concat(col("event_type"), lit(":"), col("user_id") % 40).as("k"))
    val batch = graft.operators.Sketch.cmsEstimates(batchVals, "k", probes.toDF("k"), "k")
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(streamed.nonEmpty)
    assert(streamed.toSeq == batch.toSeq,
      "micro-batch slicing changed the sketch — merge must be order-independent")
  }

  test("streamingKmvDistinct: drained per-key sketch equals the batch KMV") {
    val dir = "/root/testdata/sf0.001"
    val streamed = streamingKmvDistinct(spark, dir).collect()
      .map(r => (r.getString(0), r.getAs[Double]("n_est"),
        r.getAs[Long]("kth_hash"), r.getAs[Int]("n_kept")))
    val batch = graft.operators.Sketch.kmvDistinct(
        graft.sources.Tables.events(spark, dir), Seq("event_type"), "user_id")
      .orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getAs[Double]("n_est"),
        r.getAs[Long]("kth_hash"), r.getAs[Int]("n_kept")))
    assert(streamed.nonEmpty)
    assert(streamed.toSeq == batch.toSeq,
      "micro-batch slicing changed the k-minimum set — merge must be a set union")
  }

  test("streamingExpectations equals the batch row-check validate") {
    val dir = "/root/testdata/sf0.001"
    val checks = Seq(
      "value_nonneg" -> "value >= 0",
      "type_known" -> "event_type in ('view','click','purchase','scroll','hover')",
      "user_not_null" -> "user_id is not null")
    val streamed = StreamingCollapse.streamingExpectations(spark, dir, checks)
      .collect()
    val batch = graft.operators.Expectations.validate(
      graft.sources.Tables.events(spark, dir),
      checks.map { case (n, p) => n -> expr(p) })
      .collect()
    assert(streamed.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSeq == batch.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq)
  }

  test("streamingTransitions equals the batch transition matrix") {
    val dir = "/root/testdata/sf0.001"
    val streamed = StreamingCollapse.streamingTransitions(spark, dir).collect()
    val batch = graft.operators.Funnel.transitionMatrix(
        graft.sources.Tables.events(spark, dir)
          .withColumn("tsu", expr("ts_ns div 1000")),
        Seq("user_id"), "tsu", "event_type", tieCols = Seq("event_id"))
      .orderBy("from_state", "to_state").collect()
    assert(streamed.map(_.toSeq).toSeq == batch.map(_.toSeq).toSeq)
  }

  test("streamingJoinDelta: drained state equals the batch inner join") {
    val dir = "/root/testdata/sf0.001"
    val streamed = StreamingCollapse.streamingJoinDelta(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val ev = graft.sources.Tables.events(spark, dir)
      .filter(col("user_id").isNotNull && col("event_id").isNotNull)
    val batch = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("left_id"))
      .join(ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("right_id")), Seq("user_id"))
      .orderBy("user_id", "left_id", "right_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(streamed.nonEmpty && streamed == batch,
      "every pair must be emitted exactly once, when its later element arrives")
  }

  test("streamingJoinDelta: a key past maxIdsPerKey fails LOUDLY, not silently") {
    val dir = "/root/testdata/sf0.001"
    // sf0.001 has keys with more than 2 click/purchase rows, so a cap of 2
    // must trip; the contract is enforcement, not best-effort truncation
    val e = intercept[Exception] {
      StreamingCollapse.streamingJoinDelta(spark, dir, maxIdsPerKey = 2).collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    assert(causes(e).exists(c => Option(c.getMessage)
        .exists(_.contains("exceeded maxIdsPerKey"))),
      s"expected the maxIdsPerKey contract failure, got: $e")
  }

  test("a failed drain stops its query and restores the caller's shuffle partitions") {
    val dir = "/root/testdata/sf0.001"
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    // a value the drain's own setting (4) cannot be mistaken for
    spark.conf.set(key, "7")
    try {
      intercept[Exception] {
        StreamingCollapse.streamingJoinDelta(spark, dir, maxIdsPerKey = 2).collect()
      }
      assert(!spark.streams.active.exists(q =>
        Option(q.name).contains("graft_stream_joindelta")))
      assert(spark.conf.get(key) === "7")
    } finally spark.conf.set(key, prev)
  }

  test("streamingFunnel: drained advance counts equal the batch funnel") {
    val dir = "/root/testdata/sf0.001"
    val stages = Seq("view", "click", "purchase")
    val streamed = StreamingCollapse.streamingFunnel(spark, dir, stages).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    val batch = graft.operators.Funnel.conversionCounts(
        graft.sources.Tables.events(spark, dir)
          .withColumn("tsu", expr("ts_ns div 1000")),
        Seq("user_id"), "tsu", "event_type", stages)
      .orderBy("stage").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("eventsStream reads a DIRECTORY-shaped events table (production landing shape)") {
    // Spark-written tables are directories of part files; the symlink
    // staging used for the testdata's single-file shape would nest a
    // directory one level down where FileStreamSource's non-recursive
    // listing finds nothing and the stream SILENTLY drains empty — the
    // round-7 skew-sweep footgun. Directory sources must stream directly.
    val dir = java.nio.file.Files.createTempDirectory("graft_dirstream").toString
    spark.range(200)
      .withColumn("event_id", col("id") + 1)
      .withColumn("ts", expr("timestamp_micros(1704067200000000L + id * 1000000L)"))
      .withColumn("user_id", lit(1L))
      .withColumn("event_type", expr("if(pmod(id, 2) = 0, 'click', 'purchase')"))
      .withColumn("value", lit(1.0d))
      .withColumn("props", lit("{}"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(2).write.mode("overwrite").parquet(s"$dir/events.parquet")
    // the cap must see the 200-id key and trip — proof the rows arrived
    val e = intercept[Exception] {
      StreamingCollapse.streamingJoinDelta(spark, dir, maxIdsPerKey = 50).collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    assert(causes(e).exists(c => Option(c.getMessage)
        .exists(_.contains("exceeded maxIdsPerKey"))),
      s"expected rows to reach the operator and trip the cap, got: $e")
  }

  test("streamingSessionWindows: built-in session_window equals batch sessionStats") {
    val dir = "/root/testdata/sf0.001"
    val streamed = StreamingCollapse.streamingSessionWindows(spark, dir).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("session_idx"),
        r.getAs[Long]("n_events"), r.getAs[Long]("start_us"),
        r.getAs[Long]("end_us"))).toSeq
    val batch = graft.operators.Sessionize.sessionStats(
        graft.sources.Tables.events(spark, dir)
          .filter(col("user_id").isNotNull && col("ts").isNotNull)
          .select("user_id", "event_id", "ts"),
        "user_id", "ts", "event_id", gapMinutes = 720)
      .orderBy("user_id", "session_idx").collect()
      .map(r => (r.getLong(0), r.getAs[Long]("session_idx"),
        r.getAs[Long]("n_events"), r.getAs[Long]("start_us"),
        r.getAs[Long]("end_us"))).toSeq
    assert(streamed.nonEmpty && streamed == batch)
    // the strict-gap boundary the two forms disagree on must not exist
    // in the fixture (micros-exact tie on the 720-minute gap)
    val gaps = graft.sources.Tables.events(spark, dir)
      .filter(col("ts").isNotNull)
      .selectExpr("user_id", "ts_ns div 1000 as us")
      .withColumn("g", col("us") - lag(col("us"), 1).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("us")))
      .filter(col("g") === 43200000000L).count()
    assert(gaps == 0L)
  }

  test("streamingCdcSnapshot: drained max_by state equals the batch fold") {
    val dir = "/root/testdata/sf0.001"
    val streamed = StreamingCollapse.streamingCdcSnapshot(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val changes = graft.sources.Tables.orders(spark, dir)
      .select(col("o_custkey").as("k"), col("o_orderkey").as("v"),
        when(col("o_orderkey") % 10 === 0, lit("D")).otherwise(lit("U")).as("op"),
        col("o_totalprice").as("price"))
    val batch = graft.operators.Cdc.applyChanges(changes, Seq("k"), "v", "op")
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streamingPsiDrift: drained count grid gives the batch PSI exactly") {
    val dir = "/root/testdata/sf0.001"
    val streamed = StreamingCollapse.streamingPsiDrift(spark, dir).collect()
      .map(r => (r.getString(0), r.getAs[Long]("n"), r.getAs[Long]("n_rest"),
        r.getAs[Long]("psi_e9"))).toSeq
    val batch = graft.operators.Metrics.psiDrift(
        graft.sources.Tables.events(spark, dir), "event_type", "value",
        binWidth = 50L, nBins = 10)
      .orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getAs[Long]("n"), r.getAs[Long]("n_rest"),
        r.getAs[Long]("psi_e9"))).toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streamingLiftTable: drained score histogram gives the batch table exactly") {
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("tile"), r.getAs[Long]("n"), r.getAs[Long]("n_pos"),
        r.getAs[Long]("cum_lift_e6"))).toSeq
    val streamed = rows(StreamingCollapse.streamingLiftTable(spark, dir))
    val batch = rows(graft.SparkEntry.queries("q233_x_lift_table")(spark, dir))
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streamingCentroidDrift: drained component sums give the batch cosine exactly") {
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
        r.getAs[Long]("drift_cos_e6"))).toSeq
    val streamed = rows(StreamingCollapse.streamingCentroidDrift(spark, dir))
    val batch = rows(graft.SparkEntry.queries("q250_x_centroid_drift")(spark, dir))
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streamingSprt: frozen sequential state equals the batch Wald walk") {
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n_total"),
        r.getAs[String]("decision"), r.get(r.fieldIndex("n_decision")),
        r.getAs[Long]("llr_final_e12"))).toSeq
    val streamed = rows(StreamingCollapse.streamingSprt(spark, dir,
      p0 = 0.5, p1 = 0.55, alphaPermille = 50, betaPermille = 100))
    val batch = rows(graft.SparkEntry.queries("q292_x_sprt")(spark, dir))
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streamingBestSplit: drained feature grid gives the batch stump exactly") {
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("source"), r.getAs[String]("feat"),
        r.getAs[Long]("threshold"), r.getAs[Long]("n_left"),
        r.getAs[Long]("gain_e6"))).toSeq
    val streamed = rows(StreamingCollapse.streamingBestSplit(spark, dir))
    val batch = rows(graft.SparkEntry.queries("q282_x_best_split")(spark, dir))
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streamingCvm: drained value grid gives the batch statistic exactly") {
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
        r.getAs[Long]("t_e6"))).toSeq
    val streamed = rows(StreamingCollapse.streamingCvm(spark, dir))
    val batch = rows(graft.SparkEntry.queries("q281_x_cramer_von_mises")(spark, dir))
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streamingHistDrift: drained value grid gives the batch distances exactly") {
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n_a"),
        r.getAs[Long]("n_b"), r.get(r.fieldIndex("emd_e6")),
        r.get(r.fieldIndex("hellinger_e6")))).toSeq
    val streamed = rows(StreamingCollapse.streamingHistDrift(spark, dir))
    val batch = rows(graft.SparkEntry.queries("q301_x_hist_drift")(spark, dir))
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streamingTopkStability: drained total grid gives the batch churn exactly") {
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n_common"),
        r.get(r.fieldIndex("jaccard_pm")), r.get(r.fieldIndex("mean_disp_e2"))))
      .toSeq
    val streamed = rows(StreamingCollapse.streamingTopkStability(spark, dir))
    val batch = rows(graft.SparkEntry.queries("q319_x_topk_stability")(spark, dir))
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streamingVocabCoverage: drained token grid gives the batch OOV audit exactly") {
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("n_oov"), r.getAs[Long]("oov_pm"),
        r.getAs[Long]("distinct_oov_pm"))).toSeq
    val streamed = rows(StreamingCollapse.streamingVocabCoverage(spark, dir))
    val batch = rows(graft.SparkEntry.queries("q325_x_vocab_coverage")(spark, dir))
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streamingPageHinkley: frozen sequential state equals the batch walk") {
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n_obs"),
        r.getAs[Long]("max_ph_e9"), r.get(r.fieldIndex("first_alarm_t")),
        r.getAs[Boolean]("alarmed"))).toSeq
    val streamed = rows(StreamingCollapse.streamingPageHinkley(spark, dir))
    val batch = rows(graft.SparkEntry.queries("q317_x_page_hinkley")(spark, dir))
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streamingChiSquare: drained contingency grid gives the batch test exactly") {
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n"),
        r.getAs[Long]("dof"), r.get(r.fieldIndex("chi2_e6")),
        r.get(r.fieldIndex("significant")))).toSeq
    val streamed = rows(StreamingCollapse.streamingChiSquare(spark, dir))
    val batch = rows(graft.SparkEntry.queries("q297_x_chi_square")(spark, dir))
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streamingCemAtt: drained strata grid gives the batch ATT exactly") {
    val dir = "/root/testdata/sf0.001"
    def row(df: org.apache.spark.sql.DataFrame) = {
      val r = df.head()
      (r.getAs[Long]("n_strata_matched"), r.getAs[Long]("n_treated_matched"),
        r.getAs[Long]("n_control_matched"), r.getAs[Long]("n_treated_dropped"),
        r.get(r.fieldIndex("att_e6")))
    }
    val streamed = row(StreamingCollapse.streamingCemAtt(spark, dir))
    val batch = row(graft.SparkEntry.queries("q342_x_cem_att")(spark, dir))
    assert(streamed._2 > 0L && streamed == batch, s"streamed=$streamed batch=$batch")
  }

  test("streamingDiffInDiff: drained moment grid gives the batch DiD exactly") {
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getAs[Long]("n_00"), r.getAs[Long]("n_11"),
        r.get(r.fieldIndex("did_e6")), r.get(r.fieldIndex("t_e4")))).toSeq
    val streamed = rows(StreamingCollapse.streamingDiffInDiff(spark, dir))
    val batch = rows(graft.SparkEntry.queries("q352_x_diff_in_diff")(spark, dir))
    assert(streamed.nonEmpty && streamed == batch,
      s"streamed=$streamed batch=$batch")
  }

  test("streamingConformal: streamed test coverage equals the batch readout exactly") {
    val dir = "/root/testdata/sf0.001"
    def row(df: org.apache.spark.sql.DataFrame) = {
      val r = df.head()
      (r.getAs[Long]("n_train"), r.getAs[Long]("n_cal"), r.getAs[Long]("k"),
        r.get(r.fieldIndex("qhat_e2")), r.getAs[Long]("n_test_scored"),
        r.getAs[Long]("n_covered"), r.get(r.fieldIndex("cov_e6")))
    }
    val streamed = row(StreamingCollapse.streamingConformal(spark, dir))
    val batch = row(
      graft.SparkEntry.queries("q353_x_conformal_interval")(spark, dir))
    assert(streamed._5 > 0L && streamed == batch,
      s"streamed=$streamed batch=$batch")
  }

  test("streamingGroupSequential: drained look grid gives the batch boundaries exactly") {
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
        r.get(r.fieldIndex("z_e4")), r.getAs[Long]("bound_e4"),
        r.get(r.fieldIndex("reject")), r.getAs[Boolean]("stopped"))).toSeq
    val streamed = rows(StreamingCollapse.streamingGroupSequential(spark, dir))
    val batch = rows(
      graft.SparkEntry.queries("q362_x_group_sequential")(spark, dir))
    assert(streamed.nonEmpty && streamed == batch,
      s"streamed=$streamed batch=$batch")
  }

  test("streamingQnScale: drained value grid gives the batch Qn exactly") {
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getAs[Long]("n"), r.getAs[Long]("k"),
        r.getAs[Long]("dk"), r.getAs[Long]("qn_e4"))).toSeq
    val streamed = rows(StreamingCollapse.streamingQnScale(spark, dir))
    val batch = rows(graft.SparkEntry.queries("q363_x_qn_scale")(spark, dir))
    assert(streamed.nonEmpty && streamed == batch,
      s"streamed=$streamed batch=$batch")
  }

  test("streamingSeasonalGrid: drained month grid gives the batch period scan exactly") {
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getAs[Int]("p"),
        r.getAs[Long]("share_e6"), r.getAs[Boolean]("is_best"))).toSeq
    val streamed = rows(StreamingCollapse.streamingSeasonalGrid(spark, dir))
    val batch = rows(graft.SparkEntry.queries("q370_u6_seasonal_grid")(spark, dir))
    assert(streamed.nonEmpty && streamed == batch,
      s"streamed=$streamed batch=$batch")
  }

  test("streamingCmh: drained strata grid gives the batch CMH exactly") {
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("k_strata"), r.getAs[Long]("n_total"),
        r.getAs[Long]("sum_a"), r.getAs[Long]("cmh_e4"))).toSeq
    val streamed = rows(StreamingCollapse.streamingCmh(spark, dir))
    val batch = rows(graft.SparkEntry.queries("q377_x_cmh_test")(spark, dir))
    assert(streamed.nonEmpty && streamed == batch,
      s"streamed=$streamed batch=$batch")
  }

  test("streamingTCloseness: drained class-value grid gives the batch TVD exactly") {
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (String.valueOf(r.get(0)), r.getString(1), r.getAs[Long]("n"),
        r.getAs[Long]("n_values"), r.getAs[Long]("tvd_e6"))).toSet
    val streamed = rows(StreamingCollapse.streamingTCloseness(spark, dir))
    val batch = rows(graft.SparkEntry.queries("q361_x_t_closeness")(spark, dir))
    assert(streamed.nonEmpty && streamed == batch,
      s"streamed=${streamed.size} batch=${batch.size}")
  }

  test("streamingChiSquare: grid state survives checkpoint stop + restart (recovery contract)") {
    // The production claim behind every grid-state twin: complete-mode
    // aggregation state checkpoints per shuffle partition and the file
    // source logs ingested files, so a kill + restart resumes the SAME
    // grid. Proof shape: ingest wave 1, STOP; land wave 2; restart a NEW
    // query from the SAME checkpoint; the drained grid must equal the
    // batch grid over BOTH waves — wave 1's counts can only have come
    // from the recovered state store (the source log stops them from
    // being re-read; re-reading them would double-count and fail the
    // equality just as loudly).
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    val src = Files.createTempDirectory("graft_recov_src")
    val ckpt = Files.createTempDirectory("graft_recov_ckpt")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val phys = docs.schema
    def land(wave: org.apache.spark.sql.DataFrame, tag: String): Unit = {
      val tmp = Files.createTempDirectory(s"graft_recov_$tag")
      wave.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, src.resolve(s"$tag.parquet"),
        StandardCopyOption.ATOMIC_MOVE)
    }
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try {
      def run(name: String): Unit = {
        val q = StreamingCollapse.chiSquareGrid(
            spark.readStream.schema(phys).parquet(src.toString))
          .writeStream.outputMode("complete").format("memory")
          .queryName(name)
          .option("checkpointLocation", ckpt.toString)
          .start()
        try q.processAllAvailable()
        finally q.stop()
      }
      land(docs.filter(pmod(col("doc_id"), lit(2L)) === 0), "w1")
      run("graft_recov_a")
      val afterW1 = spark.table("graft_recov_a").collect().toSet
      land(docs.filter(pmod(col("doc_id"), lit(2L)) === 1), "w2")
      run("graft_recov_b") // NEW query instance, SAME checkpoint
      val drained = spark.table("graft_recov_b").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSet
      val batch = StreamingCollapse.chiSquareGrid(docs).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(afterW1.nonEmpty && drained.nonEmpty)
      assert(drained == batch) // == wave1 state recovered, wave1 files not re-read
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("sessionize: flatMapGroupsWithState CUSTOM state survives checkpoint " +
    "stop + restart (recovery contract)") {
    // The riskier recovery claim than the complete-mode grid twin's: the
    // HDFSBackedStateStore behind flatMapGroupsWithState checkpoints the
    // user-defined SessionState per key. Proof shape: wave 1 lands the
    // FIRST HALF of each user's session and closes NOTHING (run A emits 0
    // rows — open sessions live only in state); stop; wave 2 lands the
    // continuation + a far event that closes it; a NEW query restarted
    // from the SAME checkpoint must emit sessions whose start/n/sum
    // include the wave-1 events. The file-source log in the same
    // checkpoint stops wave-1 files from being re-read, so those numbers
    // can ONLY have come from the recovered state store (a fresh state
    // would emit a wave-2-only session — n=2 instead of n=3 — and fail).
    import java.nio.file.{Files, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val src = Files.createTempDirectory("graft_sess_recov_src")
    val ckpt = Files.createTempDirectory("graft_sess_recov_ckpt")
    val out = Files.createTempDirectory("graft_sess_recov_out")
    val t0 = 1000000000000L // micros; gap = 30 min = 1.8e9 micros
    val m = 60L * 1000000L
    def land(evs: Seq[SessionEvent], tag: String): Unit = {
      val tmp = Files.createTempDirectory(s"graft_sess_recov_$tag")
      evs.toDS().coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, src.resolve(s"$tag.parquet"),
        StandardCopyOption.ATOMIC_MOVE)
    }
    val schema = implicitly[org.apache.spark.sql.Encoder[SessionEvent]].schema
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try {
      // the memory sink refuses checkpoint recovery by design, so the
      // restart goes through the FILE sink — the production exactly-once
      // recovery path (sink commit log + source file log in the same
      // checkpoint)
      def run(): Unit = {
        val q = sessionize(
            spark.readStream.schema(schema).parquet(src.toString)
              .as[SessionEvent],
            gapMinutes = 30, withTimeout = false)
          .writeStream.outputMode("append").format("parquet")
          .option("path", out.toString)
          .option("checkpointLocation", ckpt.toString)
          .start()
        try q.processAllAvailable()
        finally q.stop()
      }
      def emitted() = spark.read
        .schema(implicitly[org.apache.spark.sql.Encoder[UserSession]].schema)
        .parquet(out.toString).as[UserSession].collect()
      // wave 1: both users mid-session, nothing closes
      land(Seq(SessionEvent(1L, t0, 1.0), SessionEvent(1L, t0 + 10 * m, 2.0),
        SessionEvent(2L, t0, 1.5)), "w1")
      run()
      assert(emitted().isEmpty) // open sessions live only in state
      // wave 2: continuations within the gap, then far events that close
      land(Seq(SessionEvent(1L, t0 + 20 * m, 4.0),
        SessionEvent(1L, t0 + 120 * m, 8.0),
        SessionEvent(2L, t0 + 5 * m, 2.5),
        SessionEvent(2L, t0 + 180 * m, 8.5)), "w2")
      run() // NEW query instance, SAME checkpoint
      val drained = emitted()
        .map(s => (s.user_id, s.session_start, s.session_end, s.n_events,
          s.sum_value)).toSet
      // starts at t0 and n=3 / n=2 can only come from recovered state
      assert(drained == Set(
        (1L, t0, t0 + 20 * m, 3, 7.0),
        (2L, t0, t0 + 5 * m, 2, 4.0)), s"drained=$drained")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("streamingKaplanMeier: drained (min, max) state gives the batch curve exactly") {
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getAs[Long]("duration"), r.getAs[Long]("n_risk"),
        r.getAs[Long]("d_events"), r.getAs[Long]("c_censored"),
        r.getAs[Long]("s_e9"))).toSeq
    val streamed = rows(StreamingCollapse.streamingKaplanMeier(spark, dir))
    val batch = rows(graft.SparkEntry.queries("q225_x_kaplan_meier")(spark, dir))
    assert(streamed.nonEmpty && streamed == batch)
  }
}
