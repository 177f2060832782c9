package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming variant of the monthly/windowed collapse
  * (SURVEY §2.10 — an extension, the reference is batch-only).
  *
  * `readStream` over the events table → event-time tumbling windows with a
  * watermark → windowed aggregate. At scale this is the standing pipeline:
  * new parquet files landing in the directory are picked up incrementally,
  * state is bounded by the watermark, and the same aggregate expressions as
  * the batch collapse run per micro-batch.
  */
object StreamingCollapse {

  /** Start `writer`, drain it to completion, stop — with
    * `spark.sql.shuffle.partitions` lowered to 4 for the query's
    * lifetime. A stateful query creates one state store PER shuffle
    * partition PER stateful operator at START; these bounded
    * verify/bench drains hold a few thousand keys, so a 32-partition
    * session buys nothing but state-store setup and maintenance cost (a
    * stream-stream join at 32 partitions opens 128 stores for a 33-row
    * result). Standing production streams size
    * their partitions to throughput at their own start and never pass
    * through here. Partition count only shapes the state layout — the
    * drained result is partition-count-independent. */
  private def drain(spark: SparkSession, writer: DataStreamWriter[_]): Unit = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "4")
    try {
      val q = writer.start()
      try {
        q.processAllAvailable()
        // stop() interrupts the stream thread; a watermarked append query
        // fires one NO-DATA micro-batch right after the last data batch
        // commits (to emit watermark-closed windows), and interrupting it
        // mid-task leaves cancelled tasks whose completion events reach
        // DAGScheduler AFTER the query's accumulators unregister — the
        // "attempted to access non-existent accumulator" ERROR traces in
        // the BENCH_r09/r12 tails. processAllAvailable guarantees no DATA
        // is pending, not that no trigger is ACTIVE; wait for two
        // consecutive idle observations so stop() interrupts a sleeping
        // thread, not running tasks. Bounded: a pathological re-trigger
        // loop must not wedge the drain.
        def idle() = !q.status.isTriggerActive && !q.status.isDataAvailable
        val deadline = System.nanoTime() + 5000000000L
        var settled = false
        while (!settled && System.nanoTime() < deadline) {
          if (idle()) { Thread.sleep(10); settled = idle() }
          else Thread.sleep(10)
        }
      } finally q.stop()
    } finally spark.conf.set(key, prev)
  }

  /** Drain an APPEND-mode streaming query through a FILE sink and read
    * the landed files back (round 17). The memory sink holds EVERY
    * output row on the driver — fine for complete-mode twins, whose
    * drained state is grid-sized by contract, but append-mode twins
    * emit ROW-SCALE output (sessions, joined pairs, transitions,
    * deltas), and the whole-engine 100× sweep measured the wall:
    * q187's drain died at `spark.driver.maxResultSize` (1.2 GiB of
    * serialized memory-sink rows). The file sink is also the
    * PRODUCTION shape — a standing append stream lands files that
    * downstream consumers read incrementally; nothing row-scale ever
    * transits the driver. Exactly-once comes from the sink's
    * `_spark_metadata` log + the checkpoint, both staged FRESH per
    * drain (stale logs would silently dedupe the new run's batches).
    * The read-back takes the stream's KNOWN schema (round-17 s2): a
    * drain that emitted zero rows leaves no part files, where schema
    * inference would throw — and skipping inference also skips a
    * footer read per drain. */
  private def drainFiles(spark: SparkSession, writer: DataStreamWriter[_],
                         name: String,
                         schema: org.apache.spark.sql.types.StructType): DataFrame = {
    import java.nio.file.{Files, Paths}
    val base = Paths.get(sys.props("java.io.tmpdir"), s"graft_sink_$name")
    def rmrf(p: java.nio.file.Path): Unit = if (Files.exists(p)) {
      val it = Files.walk(p).sorted(java.util.Comparator.reverseOrder()).iterator()
      while (it.hasNext) Files.delete(it.next())
    }
    rmrf(base)
    Files.createDirectories(base)
    val out = base.resolve("out").toString
    val ckpt = base.resolve("ckpt").toString
    drain(spark, writer.format("parquet")
      .option("path", out)
      .option("checkpointLocation", ckpt))
    spark.read.schema(schema).parquet(out)
  }

  /** Physical parquet schema per (dir, table), read from the footer ONCE
    * per process (round-17 drain-floor profile: one footer read is
    * ~90 ms of driver-side fixed cost, and every twin paid it on every
    * invocation — ~0.09 s/twin of pure harness, ~4 s of a full bench).
    * Caching matches production semantics exactly: a standing stream
    * resolves its schema once at START and never re-reads it; schema
    * evolution on a live source requires a stream restart either way.
    * Keyed by the resolved file path; testdata dirs are immutable. */
  private val physSchemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()
  private def physSchema(spark: SparkSession, dir: String,
                         table: String): StructType =
    physSchemaCache.computeIfAbsent(s"$dir/$table.parquet",
      p => spark.read.parquet(p).schema)

  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType), // TIMESTAMP(NANOS) read as raw nanos
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Streaming scan of the events table with `ts` normalized to epoch-nanos
    * long — the streaming twin of [[graft.sources.Tables.events]]'s physical-
    * schema branch (the testdata has shipped both TIMESTAMP(NANOS)-as-long
    * and TIMESTAMP(MICROS)). `readStream` needs an explicit schema, so the
    * actual file schema comes from one batch footer read; every downstream
    * `ts div 1000` µs derivation then works unchanged on either encoding.
    *
    * `maxFilesPerTrigger` bounds the ingestion rate — the production dial
    * for stateful queries over a large landing backlog: draining a month
    * of time-ordered files in ONE micro-batch means the watermark never
    * advances mid-batch, so stream-stream joins hold the ENTIRE history
    * per key and a Zipf-hot key pays O(n_k²) probe work (measured in the
    * round-7 skew sweep, SURVEY §8). With per-batch file caps over
    * time-ordered landing files, eviction keeps per-key state at the
    * watermark horizon. None reads every landed file in one batch. */
  private def eventsStream(spark: SparkSession, dir: String,
                           maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val phys = physSchema(spark, dir, "events")
    val reader = spark.readStream.schema(phys)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n.toLong))
    val raw = reader.parquet(streamDir(dir))
    if (phys("ts").dataType == LongType) raw
    else raw.withColumn("ts", expr("unix_micros(cast(ts as timestamp)) * 1000"))
  }

  /** FileStreamSource requires a *directory* basePath; the testdata ships
    * single `<table>.parquet` files. Stage a symlink to one inside a temp
    * directory (per source dir + table, idempotent) — at scale the source
    * is already a directory of landing files and this staging disappears. */
  private def streamDir(dir: String, table: String = "events"): String = {
    import java.nio.file.{Files, Paths}
    val src = Paths.get(s"$dir/$table.parquet")
    // a directory-shaped table (Spark-written part files — the production
    // landing shape) is already a valid FileStreamSource basePath; routing
    // it through the symlink staging would nest it one level down, where
    // the source's non-recursive listing finds ZERO files and the stream
    // silently drains empty (found by the round-7 skew sweep)
    if (Files.isDirectory(src)) return src.toString
    // md5 of the full path (not String.hashCode): collision-proof keying —
    // two colliding source dirs sharing a staging dir would silently
    // stream the wrong dataset
    val key = graft.text.TextHash.hash32(s"$dir/$table").toHexString
    val d = Paths.get(sys.props("java.io.tmpdir"), s"graft_stream_$key")
    Files.createDirectories(d)
    val link = d.resolve(s"$table.parquet")
    // deleteIfExists handles stale/dangling links (exists() follows the
    // target, so a broken link would otherwise wedge staging forever)
    Files.deleteIfExists(link)
    Files.createSymbolicLink(link, src)
    d.toString
  }

  // ------------------------------------------------------------ sessions

  final case class SessionEvent(userId: Long, tsMicros: Long, value: Double)
  final case class SessionState(start: Long, last: Long, n: Int, sum: Double)
  final case class UserSession(user_id: Long, session_start: Long,
                               session_end: Long, n_events: Int, sum_value: Double)

  /** Custom-state streaming operator (SURVEY §2.10 extension; the
    * `KeyValueGroupedDataset.flatMapGroupsWithState` path the built-in
    * windowed aggregates can't express): gap-based sessionization. Events
    * for a user belong to one session until a `gapMinutes` silence; a
    * processing-time timeout flushes idle sessions. State per key is one
    * constant-size [[SessionState]] — bounded by active users, the
    * canonical 100 TB-safe state shape.
    *
    * `withTimeout = false` disables the idle-flush (sessions then close
    * only when a later event arrives past the gap) — used in tests, where
    * processing-time timeouts re-trigger empty micro-batches forever and
    * `processAllAvailable` never sees the stream idle. */
  def sessionize(events: Dataset[SessionEvent], gapMinutes: Int,
                 withTimeout: Boolean = true): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    val gapMicros = gapMinutes * 60L * 1000000L
    val timeoutConf =
      if (withTimeout) GroupStateTimeout.ProcessingTimeTimeout else GroupStateTimeout.NoTimeout
    events
      .groupByKey(_.userId)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf)(
        (userId: Long, it: Iterator[SessionEvent], state: GroupState[SessionState]) => {
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(UserSession(userId, s.start, s.last, s.n, s.sum))
          } else {
            val sorted = it.toSeq.sortBy(_.tsMicros)
            var closed = List.empty[UserSession]
            var cur = state.getOption
            sorted.foreach { e =>
              cur match {
                case Some(s) if e.tsMicros - s.last <= gapMicros =>
                  cur = Some(SessionState(s.start, e.tsMicros, s.n + 1, s.sum + e.value))
                case Some(s) =>
                  closed ::= UserSession(userId, s.start, s.last, s.n, s.sum)
                  cur = Some(SessionState(e.tsMicros, e.tsMicros, 1, e.value))
                case None =>
                  cur = Some(SessionState(e.tsMicros, e.tsMicros, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              if (withTimeout) state.setTimeoutDuration(s"$gapMinutes minutes")
            }
            closed.reverseIterator
          }
        })
  }

  /** Run [[sessionize]] over the events table as a file stream
    * (single micro-batch → deterministic, oracle-checkable with
    * gaps-and-islands SQL: only CLOSED sessions are emitted, so each
    * user's final island stays in state and out of the output). */
  def eventSessions(spark: SparkSession, dir: String, gapMinutes: Int): DataFrame = {
    graft.GraftSession.tune(spark)
    val name = "graft_stream_sessions"
    spark.streams.active.filter(q => Option(q.name).contains(name)).foreach(_.stop())
    import spark.implicits._
    val events = eventsStream(spark, dir)
      .select(col("user_id"), expr("ts div 1000").as("tsMicros"), col("value"))
      .as[(Long, Long, Double)]
      .map { case (u, t, v) => SessionEvent(u, t, v) }
    val sessions = sessionize(events, gapMinutes, withTimeout = false)
    val landed = drainFiles(spark, sessions
      .writeStream.outputMode("append").queryName(name), name, sessions.schema)
    landed
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), round(col("sum_value"), 2).as("sum_value"))
      .orderBy("user_id", "session_start")
  }

  /** Tumbling weekly (7-day, epoch-aligned) per-event-type stats, run to
    * completion over the batch test file via the memory sink. Returns the
    * finished aggregate as a DataFrame — deterministic, oracle-checkable. */
  def weeklyEventStats(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftSession.tune(spark)
    val name = "graft_stream_weekly"
    spark.streams.active.filter(q => Option(q.name).contains(name)).foreach(_.stop())
    val agg = eventsStream(spark, dir)
      .withColumn("ets", expr("timestamp_micros(ts div 1000)"))
      .withWatermark("ets", "30 days")
      .groupBy(window(col("ets"), "7 days"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(to_date(col("window.start")).as("week"),
        col("event_type"), col("n"), col("sum_value"))
    drain(spark, agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name))
    spark.table(name).orderBy("week", "event_type")
  }

  /** SLIDING-window per-event-type stats — the overlapping-window
    * sibling of [[weeklyEventStats]]: a 28-day window sliding every
    * 7 days (epoch-aligned), so every event lands in exactly 4 windows
    * and each window reads the trailing-4-week activity as of its end.
    * Spark's `window(slide)` plans ONE stateful aggregate whose key
    * carries the exploded window starts — the streaming analog of the
    * membership explosion in
    * [[graft.operators.Funnel.rollingActiveUsers]] — so counts stay
    * incremental per micro-batch and the drained complete-mode result
    * equals the batch replay (the oracle explodes the same 4 offsets).
    * Emits the integral-cents sum, not a float sum: complete-mode
    * re-emission must be bit-stable across micro-batch slicings. */
  def slidingEventStats(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftSession.tune(spark)
    val name = "graft_stream_sliding"
    spark.streams.active.filter(q => Option(q.name).contains(name)).foreach(_.stop())
    val agg = eventsStream(spark, dir)
      .withColumn("ets", expr("timestamp_micros(ts div 1000)"))
      .withColumn("cents", expr("cast(floor(value * 100 + 0.5) as bigint)"))
      .withWatermark("ets", "60 days")
      .groupBy(window(col("ets"), "28 days", "7 days"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
      .select(to_date(col("window.start")).as("window_start"),
        col("event_type"), col("n"), col("sum_cents"))
    drain(spark, agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name))
    spark.table(name).orderBy("window_start", "event_type")
  }

  /** Streaming count-min heavy hitters: maintain ONE CMS
    * ([[graft.operators.Sketch.cmsAggCol]]) as complete-mode streaming
    * state over the event stream, then point-estimate a probe
    * shortlist against the drained sketch. The sketch's merge is
    * elementwise add — order- and slicing-independent — so the
    * finished state equals the batch sketch exactly (q66's
    * determinism property, for sketches) and the estimates share
    * q128's SQL-replay oracle form.
    *
    * This is THE standing-pipeline shape for stream frequency
    * monitoring at scale: per-key exact streaming counts
    * (`groupBy(key).count`) grow state with the key cardinality,
    * while the CMS state is 32 KB forever; the probe read is a
    * batch query over the standing state, not part of the stream. */
  def streamingCmsHeavyHitters(spark: SparkSession, dir: String,
                               probes: Seq[String],
                               width: Int = 1024): DataFrame = {
    graft.GraftSession.tune(spark)
    val name = "graft_stream_cms"
    spark.streams.active.filter(q => Option(q.name).contains(name)).foreach(_.stop())
    val sketch = eventsStream(spark, dir)
      .select(concat(col("event_type"), lit(":"), col("user_id") % 40).as("k"))
      .agg(graft.operators.Sketch.cmsAggCol(col("k"), width).as("cms"))
    drain(spark, sketch.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name))
    import spark.implicits._
    graft.operators.Sketch.cmsEstimatesFromSketch(
        spark.table(name), "cms", probes.toDF("k"), "k", width)
      .orderBy("k")
  }

  /** Streaming KMV distinct cardinality: maintain one k-minimum-values
    * sketch PER KEY ([[graft.operators.Sketch.kmvAggCol]]) as
    * complete-mode streaming state over the event stream — the
    * cardinality complement of [[streamingCmsHeavyHitters]]'s frequency
    * sketch. The buffer merge is a sorted set union — order- and
    * micro-batch-slicing-independent — so the drained state equals the
    * batch [[graft.operators.Sketch.kmvDistinct]] of the same data
    * exactly, and the estimate shares q122's SQL-replay oracle.
    *
    * At scale this is the standing "distinct users per segment" monitor:
    * exact streaming `approx_count_distinct` state is opaque HLL (no
    * replay, no exact-match check), while per-key exact distinct
    * (`groupBy(key, value)`) grows state with value cardinality — the
    * KMV state is k longs per key forever. */
  def streamingKmvDistinct(spark: SparkSession, dir: String,
                           k: Int = 128): DataFrame = {
    graft.GraftSession.tune(spark)
    val name = "graft_stream_kmv"
    spark.streams.active.filter(q => Option(q.name).contains(name)).foreach(_.stop())
    val sketch = eventsStream(spark, dir)
      .groupBy(col("event_type"))
      .agg(graft.operators.Sketch.kmvAggCol(col("user_id"), k).as("__s"))
    drain(spark, sketch.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name))
    spark.table(name)
      .select(col("event_type"), col("__s.n_est").as("n_est"),
        col("__s.kth_hash").as("kth_hash"), col("__s.n_kept").as("n_kept"))
      .orderBy("event_type")
  }

  /** Streaming Kaplan–Meier maintenance — the standing twin of the
    * batch survival curve (q225): the ONLY streaming state is the
    * per-user `(first, last)` timestamp pair (one complete-mode
    * min/max aggregate, O(users) state, mergeable across any
    * micro-batch slicing), and the survival readout — censoring at the
    * drained observation edge, lifetable, e9 product walk — is a BATCH
    * query over the drained snapshot via
    * [[graft.operators.Survival.kaplanMeier]]. Drained min/max equals
    * batch min/max exactly, so the curve matches the batch operator
    * bit-for-bit and shares its oracle.
    *
    * The q208 pattern (streaming state = the minimal mergeable
    * aggregate; analytics = batch over the standing snapshot) — the
    * production shape for "live retention curve" dashboards. */
  def streamingKaplanMeier(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftSession.tune(spark)
    val name = "graft_stream_km"
    spark.streams.active.filter(q => Option(q.name).contains(name)).foreach(_.stop())
    val per = eventsStream(spark, dir)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .groupBy(col("user_id"))
      .agg(min(expr("ts div 1000")).as("first_us"),
        max(expr("ts div 1000")).as("last_us"))
    drain(spark, per.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name))
    graft.operators.Survival.kaplanMeier(
        graft.operators.Survival.lifetimeSubjects(spark.table(name)),
        Seq("cohort"), "dur_days", "churned")
      .orderBy("key", "duration")
  }

  // ------------------------------------------------------------ dedup

  private val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Streaming lift/gains maintenance — the standing twin of the batch
    * decile lift table (q233): the ONLY streaming state is the
    * per-score-value `(count, positives)` histogram (one complete-mode
    * aggregate — mergeable across any micro-batch slicing), and the
    * tile assignment + cumulative lift readout is
    * [[graft.operators.Metrics.liftFromCounts]] over the drained
    * counts. Drained counts == batch counts ⇒ the table matches the
    * batch operator bit-for-bit and shares its oracle (the
    * psiFromCounts pattern, for ranking economics: a model's live lift
    * dashboard without re-scanning history). */
  def streamingLiftTable(spark: SparkSession, dir: String,
                         nTiles: Int = 10): DataFrame = {
    graft.GraftSession.tune(spark)
    val name = "graft_stream_lift"
    spark.streams.active.filter(q => Option(q.name).contains(name)).foreach(_.stop())
    val hist = spark.readStream
      .schema(documentsSchema)
      .parquet(streamDir(dir, "documents"))
      .withColumn("score_e6", pmod(col("doc_id") * 48271L, lit(1000001L)))
      .withColumn("label",
        pmod(col("doc_id") * 2654435761L, lit(1000000L)) < col("score_e6"))
      // the SAME null exclusion batch liftTable applies — a null doc_id
      // would otherwise seed a null score group and shift every
      // cumulative column off the shared oracle
      .filter(col("score_e6").isNotNull && col("label").isNotNull)
      .groupBy(col("score_e6").as("__v"))
      .agg(count(lit(1)).as("__c"),
        sum(when(col("label"), 1L).otherwise(0L)).as("__p"))
    drain(spark, hist.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name))
    graft.operators.Metrics.liftFromCounts(spark.table(name), nTiles)
      .orderBy("tile")
  }

  private val embeddingsSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** Streaming embedding-drift maintenance — the standing twin of the
    * batch centroid-drift monitor (q250): the ONLY streaming state is
    * the per-(label, side, component) integer sum grid (one
    * complete-mode aggregate over the exploded components — exact sums
    * are mergeable across any micro-batch slicing), and the cosine
    * readout is [[graft.sim.VectorOps]]' fixed tree over the drained
    * grid. Drained sums == batch sums ⇒ identical drift_cos_e6, one
    * shared oracle — the live "has the embedding distribution moved"
    * dashboard beside the KS/PSI/profile drift twins. */
  def streamingCentroidDrift(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftSession.tune(spark)
    val name = "graft_stream_cdrift"
    spark.streams.active.filter(q => Option(q.name).contains(name)).foreach(_.stop())
    val comps = spark.readStream
      .schema(embeddingsSchema)
      .parquet(streamDir(dir, "embeddings"))
      .filter(col("embedding").isNotNull)
      .withColumn("__side", pmod(col("vec_id"), lit(2L)).cast("int"))
      .select(col("label"), col("__side"),
        posexplode(col("embedding")).as(Seq("__i", "__v")))
      .groupBy(col("label"), col("__side"), col("__i"))
      .agg(sum(floor(col("__v") * 1e6 + 0.5).cast("long")).as("__s"),
        count(lit(1)).as("__c"))
    drain(spark, comps.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name))
    // no checkpoint needed: the readout is a single conditional-pivot
    // pass over the drained grid (driftFromComponentSums), so the
    // memory-sink lineage is consumed exactly once — the self-join that
    // used to trip conflicting-reference resolution is gone
    graft.sim.VectorOps.driftFromComponentSums(spark.table(name), Seq("label"))
      .orderBy("label")
  }

  /** Streaming NMI maintenance — the standing twin of the batch
    * normalized-mutual-information readout (q256): the complete-mode
    * state IS the (half, lang, source) CELL GRID (count is order-
    * independent, so drained state == the batch aggregate no matter how
    * micro-batches slice the corpus), and the readout is the SHARED
    * `Metrics.nmiFromCells` — one definition, one oracle. State is
    * label-cross-sized (languages × sources per cohort), bounded by the
    * category vocabularies, not the corpus. The drained table
    * checkpoints eagerly because the readout re-aggregates the grid four
    * ways (the memory-sink conflicting-reference footgun). */
  def streamingNmi(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftSession.tune(spark)
    val name = "graft_stream_nmi"
    spark.streams.active.filter(q => Option(q.name).contains(name)).foreach(_.stop())
    val cells = spark.readStream
      .schema(documentsSchema)
      .parquet(streamDir(dir, "documents"))
      .filter(col("lang").isNotNull && col("source").isNotNull)
      .withColumn("half", pmod(col("doc_id"), lit(2L)))
      .groupBy(col("half"), col("lang").as("__a"), col("source").as("__b"))
      .agg(count(lit(1)).as("__c"))
    drain(spark, cells.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name))
    graft.operators.Metrics.nmiFromCells(
        spark.table(name).localCheckpoint(true), Seq("half"))
      .orderBy("half")
  }

  /** Streaming decision-stump maintenance — the standing twin of the
    * batch feature screen (q282): the complete-mode state IS the
    * (source, feature, value) class-count grid (feature-grid-sized —
    * the batch contract's binned features), maintained by ONE mergeable
    * count aggregate over the melted feature rows; the readout is the
    * SHARED [[graft.operators.Regression.bestSplitFromGrid]], so
    * drained == batch and q282's oracle serves both. The standing form
    * of "which signal separates English from the rest RIGHT NOW, and
    * has the best cut moved". Eager checkpoint: the readout layers
    * windows + a rank over the memory-sink lineage. */
  def streamingBestSplit(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftSession.tune(spark)
    val name = "graft_stream_stump"
    spark.streams.active.filter(q => Option(q.name).contains(name)).foreach(_.stop())
    val grid = spark.readStream
      .schema(documentsSchema)
      .parquet(streamDir(dir, "documents"))
      .filter(col("text").isNotNull && col("source").isNotNull &&
        col("lang").isNotNull)
      .withColumn("is_en", col("lang") === "en")
      .select(col("source"), col("is_en"),
        expr("stack(2, 'chars_c', n_chars div 100, 'toks_d', " +
          "size(split(trim(text), '\\\\s+')) div 10) as (feat, __v)"))
      .filter(col("__v").isNotNull)
      .groupBy(col("source"), col("feat"), col("__v"))
      .agg(count(lit(1)).as("__c"),
        sum(when(col("is_en"), 1L).otherwise(0L)).as("__p"))
    drain(spark, grid.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name))
    graft.operators.Regression.bestSplitFromGrid(
        spark.table(name).localCheckpoint(true), Seq("source"), "feat")
      .orderBy("source", "feat")
  }

  /** Streaming Cramér–von Mises drift maintenance — the standing twin
    * of the batch two-sample test (q281): the complete-mode state IS
    * the per-(key, value) side-count grid (value-grid-sized, NOT
    * row-sized — bin continuous values upstream exactly as the batch
    * contract says), maintained by ONE always-mergeable count
    * aggregate; the readout is the SHARED
    * [[graft.operators.Metrics.cvmFromGrid]], so drained == batch
    * bit-for-bit and q281's oracle serves both. The standing form of
    * "alert when the A/B value distributions drift apart". Eager
    * checkpoint: the readout layers two windows over the memory-sink
    * lineage. */
  def streamingCvm(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftSession.tune(spark)
    val name = "graft_stream_cvm"
    spark.streams.active.filter(q => Option(q.name).contains(name)).foreach(_.stop())
    val grid = eventsStream(spark, dir)
      .filter(col("value").isNotNull && col("event_type").isNotNull)
      .withColumn("__v", floor(col("value") * 100 + 0.5).cast("long"))
      // identical A/B derivation to the batch q281 (null user_id -> B,
      // the CASE/otherwise convention both engines share)
      .withColumn("__side",
        when(pmod(col("user_id"), lit(2L)) === 0, "A").otherwise("B"))
      .groupBy(col("event_type"), col("__v"))
      .agg(sum(when(col("__side") === "A", 1L).otherwise(0L)).as("__ca"),
        sum(when(col("__side") === "B", 1L).otherwise(0L)).as("__cb"))
    drain(spark, grid.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name))
    graft.operators.Metrics.cvmFromGrid(
        spark.table(name).localCheckpoint(true), Seq("event_type"))
      .orderBy("event_type")
  }

  /** Streaming Jensen-Shannon vocabulary-drift maintenance — the
    * standing twin of the batch readout (q258): the complete-mode state
    * IS the per-token side-count grid (vocabulary-sized, NOT
    * corpus-sized — the token pivot counts are order-independent sums),
    * and the readout is the SHARED `TextAnalysis.jsdFromTokenGrid`.
    * The standing form of "alert when this ingest's vocabulary drifts
    * off the baseline". Eager checkpoint: the readout crosses the grid
    * with its own totals. */
  def streamingVocabJsd(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftSession.tune(spark)
    val name = "graft_stream_vjsd"
    spark.streams.active.filter(q => Option(q.name).contains(name)).foreach(_.stop())
    val grid = spark.readStream
      .schema(documentsSchema)
      .parquet(streamDir(dir, "documents"))
      .filter(col("text").isNotNull && length(trim(col("text"))) > 0)
      .withColumn("__side", when(col("lang") === "en", 0).otherwise(1))
      .select(col("__side"),
        explode(graft.functions.Cols.tokens(col("text"))).as("__t"))
      .groupBy(col("__t"))
      .agg(sum(when(col("__side") === 0, 1L).otherwise(0L)).as("__ca"),
        sum(when(col("__side") === 1, 1L).otherwise(0L)).as("__cb"))
    drain(spark, grid.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name))
    graft.text.TextAnalysis.jsdFromTokenGrid(
      spark.table(name).localCheckpoint(true))
  }

  /** Streaming exact dedup over a landing directory of document files:
    * running `groupBy(text_hash)` keeping the smallest id and a copy
    * count — the standing-pipeline form of [[graft.text.Dedup.exact]].
    * min/count are ORDER-INDEPENDENT aggregates, so the finished state is
    * identical to the batch result no matter how micro-batches slice the
    * input — which is exactly what makes it oracle-checkable (q66 shares
    * q44's DuckDB oracle). Complete output mode: the digest-keyed state is
    * the dedup index and is meant to be standing; at corpus scale swap the
    * memory sink for a compacted key-value sink and the same plan runs
    * incrementally. */
  def streamingExactDedup(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftSession.tune(spark)
    val name = "graft_stream_dedup"
    spark.streams.active.filter(q => Option(q.name).contains(name)).foreach(_.stop())
    val agg = spark.readStream
      .schema(documentsSchema)
      .parquet(streamDir(dir, "documents"))
      .select(col("doc_id"), graft.text.Dedup.exactDigest(col("text")).as("text_hash"))
      .groupBy("text_hash")
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
    drain(spark, agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name))
    spark.table(name).orderBy("text_hash")
  }

  // ------------------------------------------------------ stream-stream join

  /** Watermarked stream-stream inner join: clicks matched to the same
    * user's purchases inside [click_ts, click_ts + windowMinutes]. Both
    * sides carry event-time watermarks plus the time-bound join condition
    * — the pair Spark needs to EVICT buffered state (each side's buffer
    * holds only rows inside watermark + window, the standing-pipeline
    * shape at scale; an unbounded stream-stream join would buffer both
    * streams forever). Inner join + append mode over a finite file stream
    * emits exactly the batch join result, so the oracle is the plain
    * time-bounded self-join SQL. `maxFilesPerTrigger` caps the landed
    * files each micro-batch reads (see [[eventsStream]]); the rows do
    * not depend on it. */
  def clickPurchaseJoin(spark: SparkSession, dir: String,
                        windowMinutes: Int,
                        maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    graft.GraftSession.tune(spark)
    val name = "graft_stream_join"
    spark.streams.active.filter(q => Option(q.name).contains(name)).foreach(_.stop())
    def side(evType: String, pfx: String) = eventsStream(spark, dir, maxFilesPerTrigger)
      .filter(col("event_type") === evType)
      .select(col("user_id").as(s"${pfx}_user"),
        expr("timestamp_micros(ts div 1000)").as(s"${pfx}_ts"),
        col("event_id").as(s"${pfx}_id"),
        col("value").as(s"${pfx}_value"))
      .withWatermark(s"${pfx}_ts", "1 hour")
    val joined = side("click", "click").join(side("purchase", "purchase"),
      col("click_user") === col("purchase_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"interval $windowMinutes minutes"))
    val landed = drainFiles(spark, joined.writeStream
      .outputMode("append")
      .queryName(name), name, joined.schema)
    landed
      .select(col("click_user").as("user_id"), col("click_id"), col("purchase_id"),
        round(col("purchase_value"), 2).as("purchase_value"))
      .orderBy("click_id", "purchase_id")
  }

  // ------------------------------------------------------ stream-static join

  /** Stream-static enrichment join — the canonical "attach a dimension to
    * a stream" pattern: each arriving event joins a STATIC per-user
    * profile (computed batch-side, broadcast onto every micro-batch — no
    * streaming state at all, unlike the stream-stream form above), then a
    * running per-type aggregate. Absolute deviation keeps the aggregate
    * cancellation-free (a signed deviation sum telescopes to ~0 and its
    * sign would be float-noise). Complete mode + memory sink over the
    * finite file stream == the batch equivalent, so the oracle is plain
    * SQL.
    *
    * The explicit `broadcast()` asserts a dimension-sized profile table
    * (the usual enrichment shape). For a profile too big to broadcast,
    * drop the hint: Spark re-plans the static side per micro-batch and
    * falls back to a shuffled join. */
  def enrichedEventStats(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftSession.tune(spark)
    val name = "graft_stream_enrich"
    spark.streams.active.filter(q => Option(q.name).contains(name)).foreach(_.stop())
    val userAvg = graft.sources.Tables.events(spark, dir)
      .groupBy("user_id").agg(avg(col("value")).as("user_avg"))
    val agg = eventsStream(spark, dir)
      .select(col("user_id"), col("event_type"), col("value"))
      .join(broadcast(userAvg), Seq("user_id"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        round(sum(abs(col("value") - col("user_avg"))), 2).as("sum_absdev"))
    drain(spark, agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name))
    spark.table(name).orderBy("event_type")
  }

  final case class BucketDoc(bkey: String, docId: Long, sig: Seq[Long])
  final case class NearDupPair(id_a: Long, id_b: Long, est_jaccard: Double)

  /** Streaming MinHash+LSH near-dup detection: a standing per-band-bucket
    * membership index (`flatMapGroupsWithState`), emitting a candidate
    * pair the moment a new document lands in a bucket that already holds
    * one. The streaming form of [[graft.text.Dedup.minhashCandidates]] —
    * continuous-ingestion dedup against all history, without re-running
    * the batch self-join per arrival.
    *
    * State per key is one bucket's member list — the same data-bounded
    * cardinality as the batch band join's bucket sizes. For a standing
    * pipeline pass `stateTtlMinutes=Some(m)`: buckets idle for m minutes
    * are dropped via a processing-time timeout (the sessionize pattern),
    * so the index holds only the recent-ingest working set instead of
    * growing without bound. The TTL belongs ONLY on a standing query: a
    * registered processing-time timeout re-triggers micro-batches
    * indefinitely to service future deadlines (verified: a bounded drain
    * spins thousands of empty batches even under Trigger.AvailableNow),
    * so the run-to-completion runner [[streamingNearDupPairs]] omits the
    * dial entirely rather than hanging. Emission is
    * per-band, so one pair sharing b bands appears b times in the raw
    * stream; the estimate is computed from the FULL signatures carried in
    * state, so duplicates are identical rows and one downstream
    * `dropDuplicates` (batch, over the appended sink) restores exactly the
    * batch operator's output — which is what makes it oracle-checkable
    * (q78 shares q46's DuckDB oracle). */
  def nearDupPairsStream(spark: SparkSession, dir: String,
                         k: Int = 8, bands: Int = 4,
                         shingleK: Int = 3,
                         stateTtlMinutes: Option[Int] = None): Dataset[NearDupPair] = {
    graft.GraftSession.tune(spark)
    import spark.implicits._
    val rows = k / bands
    val banded = spark.readStream
      .schema(documentsSchema)
      .parquet(streamDir(dir, "documents"))
      .select(col("doc_id"),
        graft.text.TextHash.minhashSigCol(col("text"), k, shingleK).as("sig"))
      .select(col("doc_id"), col("sig"),
        explode(array((0 until bands).map { b =>
          concat_ws("_", lit(b) +: (b * rows until (b + 1) * rows)
            .map(i => element_at(col("sig"), i + 1)): _*)
        }: _*)).as("bkey"))
      .as[(Long, Seq[Long], String)]
      .map { case (id, sig, bkey) => BucketDoc(bkey, id, sig) }

    def estimate(a: Seq[Long], b: Seq[Long]): Double = {
      var eq = 0
      var i = 0
      while (i < k) { if (a(i) == b(i)) eq += 1; i += 1 }
      eq.toDouble / k
    }
    val timeoutConf = stateTtlMinutes match {
      case Some(_) => GroupStateTimeout.ProcessingTimeTimeout
      case None    => GroupStateTimeout.NoTimeout
    }
    val pairs = banded
      .groupByKey(_.bkey)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf) {
        (_: String, docs: Iterator[BucketDoc], state: GroupState[List[BucketDoc]]) =>
          if (state.hasTimedOut) {
            // Bucket went cold: drop its member index. Docs arriving later
            // simply re-seed the bucket — near-dups separated by more than
            // the TTL are intentionally not paired (the recency contract).
            state.remove()
            Iterator.empty
          } else {
            var members = state.getOption.getOrElse(Nil)
            val out = scala.collection.mutable.ListBuffer.empty[NearDupPair]
            docs.foreach { d =>
              members.foreach { m =>
                if (m.docId != d.docId) {
                  val (lo, hi) = if (m.docId < d.docId) (m.docId, d.docId)
                                 else (d.docId, m.docId)
                  out += NearDupPair(lo, hi, estimate(m.sig, d.sig))
                }
              }
              members ::= d
            }
            state.update(members)
            stateTtlMinutes.foreach(m => state.setTimeoutDuration(s"$m minutes"))
            out.iterator
          }
      }
    pairs
  }

  /** Bounded memory-sink drain of [[nearDupPairsStream]] (the q78 verify
    * path). NoTimeout only — see [[nearDupPairsStream]] for why a TTL
    * cannot drain to completion. */
  def streamingNearDupPairs(spark: SparkSession, dir: String,
                            k: Int = 8, bands: Int = 4,
                            shingleK: Int = 3): DataFrame = {
    val name = "graft_stream_neardup"
    spark.streams.active.filter(q => Option(q.name).contains(name)).foreach(_.stop())
    val pairs = nearDupPairsStream(spark, dir, k, bands, shingleK, stateTtlMinutes = None)
    val landed = drainFiles(spark, pairs.writeStream
      .outputMode("append")
      .queryName(name), name, pairs.schema)
    landed.dropDuplicates("id_a", "id_b")
      .select(col("id_a"), col("id_b"), round(col("est_jaccard"), 4).as("est_jaccard"))
      .orderBy("id_a", "id_b")
  }

  // ------------------------------------------- streaming data quality

  /** Streaming expectation counters — the [[graft.operators.Expectations]]
    * row-check tier as a STANDING monitor: every check is a violation
    * SUM beside its siblings in one complete-mode aggregate (sums merge
    * across micro-batches trivially, so the drained state equals the
    * batch validate of the same rows — the q133/q145 merge-law
    * discipline applied to data quality). Unique-key and referential
    * checks stay batch-side: both need distincts/joins that streaming
    * aggregates exclude, and both are reconciliation passes, not
    * per-event monitors. Post-drain, the one wide row pivots to the
    * batch operator's verdict shape. */
  def streamingExpectations(spark: SparkSession, dir: String,
                            checks: Seq[(String, String)]): DataFrame = {
    require(checks.nonEmpty, "streamingExpectations needs at least one check")
    graft.GraftSession.tune(spark)
    val name = "graft_stream_expect"
    spark.streams.active.filter(q => Option(q.name).contains(name)).foreach(_.stop())
    val aggs = checks.map { case (n, pred) =>
      sum(when(expr(pred), 0L).otherwise(1L)).as(s"__v_$n")
    } :+ count(lit(1)).as("__n")
    val agg = eventsStream(spark, dir).agg(aggs.head, aggs.tail: _*)
    drain(spark, agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name))
    spark.table(name)
      .select(explode(array(checks.map { case (n, _) =>
        struct(lit(n).as("constraint"), col("__n").as("n_rows"),
          col(s"__v_$n").as("n_violations"))
      }: _*)).as("c")).select(col("c.*"))
      .withColumn("passed", col("n_violations") === 0L)
      .orderBy("constraint")
  }

  // ------------------------------------------- streaming transitions

  // public like SessionEvent: Janino-generated encoder code lives outside
  // this object and cannot touch private members
  final case class TransEvent(userId: Long, tsu: Long, eventId: Long, state: String)
  final case class TransState(tsu: Long, eventId: Long, state: String)
  final case class Transition(from_state: String, to_state: String)

  /** Streaming first-order transitions — the custom-state twin of
    * [[graft.operators.Funnel.transitionMatrix]]: per user, state holds
    * only the LAST seen event (constant size — the 100 TB-safe shape);
    * each micro-batch sorts its own slice by (tsu, event_id), emits the
    * boundary transition from the carried state plus the within-batch
    * pairs, and carries the new last event forward. With the standing
    * assumption event time is non-decreasing ACROSS batches per user
    * (file landing order; within-batch order is handled by the sort),
    * the emitted multiset equals the batch lead-window pairs exactly —
    * the aggregate readout shares q171's oracle. */
  def streamingTransitions(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftSession.tune(spark)
    val name = "graft_stream_trans"
    spark.streams.active.filter(q => Option(q.name).contains(name)).foreach(_.stop())
    import spark.implicits._
    val events = eventsStream(spark, dir)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("user_id"), expr("ts div 1000").as("tsu"),
        col("event_id"), col("event_type"))
      .as[(Long, Long, Long, String)]
      .map { case (u, t, id, s) => TransEvent(u, t, id, s) }
    val pairs = events
      .groupByKey(_.userId)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: Long, it: Iterator[TransEvent], state: GroupState[TransState]) => {
          val sorted = it.toSeq.sortBy(e => (e.tsu, e.eventId))
          var last = state.getOption
          val out = Seq.newBuilder[Transition]
          sorted.foreach { e =>
            last.foreach(l => out += Transition(l.state, e.state))
            last = Some(TransState(e.tsu, e.eventId, e.state))
          }
          last.foreach(state.update)
          out.result().iterator
        })
    val landed = drainFiles(spark, pairs.writeStream
      .outputMode("append").queryName(name), name, pairs.schema)
    // totals via a window over the matrix-sized counts (a join back onto
    // the same sink lineage used to trip conflicting-reference resolution
    // on the memory-sink view; the file-read relation is clean either way)
    landed
      .groupBy(col("from_state"), col("to_state"))
      .agg(count(lit(1)).as("n"))
      .selectExpr("from_state", "to_state", "n",
        "n * 1000 div sum(n) over (partition by from_state) as p_permille")
      .orderBy("from_state", "to_state")
  }

  // ------------------------------------------- streaming funnel

  final case class FunnelEvent(userId: Long, tsu: Long, eventId: Long, stage: Int)
  final case class FunnelAdv(user_id: Long, stage: Int)

  final case class SprtEvent(key: String, tsn: Long, eventId: Long, hit: Boolean)
  /** (successes so far, trials so far, decision: 0 = continuing,
    * 1/-1 = crossed, trials at crossing) — O(1) per key. */
  final case class SprtState(a: Long, n: Long, dec: Int, nDec: Long)
  final case class SprtRow(key: String, n_total: Long, a: Long, dec: Int,
                           nDec: Long)

  /** Streaming Wald SPRT — the standing form of the peeking-safe
    * sequential A/B (q292's batch walk): per-key O(1) state
    * `(successes, trials, decision, n_at_decision)` advanced by ONE
    * `flatMapGroupsWithState` fold; once a Wald boundary is crossed the
    * decision FREEZES (the sequential-test contract — evidence after
    * the stopping time is not part of the test) while trials keep
    * counting. The e12 constants are the SAME
    * [[graft.operators.Metrics.sprtConstantsE12]] values as the batch
    * and the oracle, so the crossing tests are identical integer
    * comparisons. In-order contract: the [[streamingFunnel]]
    * convention — per-batch (time, id) sort, time-ordered landing
    * across batches. Update-mode emission: latest state per key;
    * drained == batch on an in-order stream (spec-pinned, one
    * oracle). */
  def streamingSprt(spark: SparkSession, dir: String, p0: Double, p1: Double,
                    alphaPermille: Int, betaPermille: Int): DataFrame = {
    graft.GraftSession.tune(spark)
    val name = "graft_stream_sprt"
    spark.streams.active.filter(q => Option(q.name).contains(name)).foreach(_.stop())
    val (l1, l0, hiT, loT) = graft.operators.Metrics.sprtConstantsE12(
      p0, p1, alphaPermille, betaPermille)
    import spark.implicits._
    val events = eventsStream(spark, dir)
      .filter(col("event_type").isNotNull && col("value").isNotNull &&
        col("ts").isNotNull)
      .select(col("event_type"), col("ts"), col("event_id"),
        (col("value") >= 50.0).as("hit"))
      .as[(String, Long, Long, Boolean)]
      .map { case (k, t, id, h) => SprtEvent(k, t, id, h) }
    val states = events
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (key: String, it: Iterator[SprtEvent], state: GroupState[SprtState]) => {
          var st = state.getOption.getOrElse(SprtState(0L, 0L, 0, -1L))
          it.toSeq.sortBy(e => (e.tsn, e.eventId)).foreach { e =>
            val a = st.a + (if (e.hit) 1L else 0L)
            val n = st.n + 1L
            if (st.dec == 0) {
              // exact integer LLR: BigInt headroom (a·|l1| can pass 2^63
              // only beyond ~9e6 trials per key; BigInt never wraps)
              val llr = BigInt(a) * l1 + BigInt(n - a) * l0
              val d = if (llr >= hiT) 1 else if (llr <= loT) -1 else 0
              st = SprtState(a, n, d, if (d != 0) n else -1L)
            } else st = st.copy(a = a, n = n)
          }
          state.update(st)
          Iterator.single(SprtRow(key, st.n, st.a, st.dec, st.nDec))
        })
    drain(spark, states.toDF().writeStream
      .outputMode("update").format("memory").queryName(name))
    // latest state per key (update mode re-emits; max n wins)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key")).orderBy(col("n_total").desc)
    spark.table(name)
      .withColumn("__rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("__rn") === 1)
      .withColumn("decision", expr(
        """case when dec = 1 then 'accept_h1'
          |when dec = -1 then 'accept_h0' else 'continue' end""".stripMargin))
      .withColumn("n_decision",
        when(col("nDec") >= 0, col("nDec")))
      .withColumn("llr_final_e12", expr(
        s"cast(cast(a as decimal(38,0)) * ${l1}L + cast(n_total - a as decimal(38,0)) * ${l0}L as bigint)"))
      .select(col("key").as("event_type"), col("n_total"), col("decision"),
        col("n_decision"), col("llr_final_e12"))
      .orderBy("event_type")
  }

  /** Streaming ordered-funnel maintenance — the standing twin of
    * [[graft.operators.Funnel.conversionCounts]]: per-user state is the
    * chained-min time vector `(t₀ < t₁ < … )` as a List[Long] whose
    * LENGTH is the stages-completed count — O(#stages) per user, the
    * bounded state shape. Each micro-batch sorts its per-user slice by
    * (event time, event id) and extends the chain; every extension emits
    * ONE `(user, stage)` advance row, so the drained readout is a plain
    * count per stage.
    *
    * In-order contract: the chained-min funnel is NOT incrementally
    * foldable under arbitrarily late events with O(1) state (a late
    * stage-0 event can lower t₀ and retroactively qualify an already-seen
    * stage-1 event this operator no longer holds). Per-batch sorting
    * handles intra-batch disorder; across batches the time-ordered
    * landing convention (the `maxFilesPerTrigger` discipline of
    * [[clickPurchaseJoin]], SURVEY §8 skew sweep) is assumed — the same
    * contract every watermark-evicted operator already rides on. */
  def streamingFunnel(spark: SparkSession, dir: String,
                      stages: Seq[String]): DataFrame = {
    val advances = funnelAdvances(spark, dir, stages)
    import spark.implicits._
    val stageNames = stages.zipWithIndex.map { case (s, i) => (i, s) }
      .toDF("stage", "stage_name")
    advances
      .groupBy(col("stage")).agg(count(lit(1)).as("n_reached"))
      .join(broadcast(stageNames), Seq("stage"))
      .select(col("stage"), col("stage_name"), col("n_reached"))
      .orderBy("stage")
  }

  /** Streaming funnel A/B — [[streamingFunnel]]'s advances carry the
    * user id, so the variant (a user-hash split) derives at READOUT
    * with no extra state; per-(variant, stage) advance counts equal the
    * batch reach exactly, and the densify/pivot/z readout is the
    * SHARED [[graft.operators.Funnel.variantZFromReach]] — drained ==
    * batch, one oracle (q240's). The live experiment dashboard: the
    * chained-min state answers the funnel question and the A/B
    * question from the same stream. */
  def streamingFunnelAb(spark: SparkSession, dir: String,
                        stages: Seq[String]): DataFrame = {
    val advances = funnelAdvances(spark, dir, stages)
    val reach = advances
      .withColumn("__var",
        when(pmod(col("user_id"), lit(2L)) === 0, "A").otherwise("B"))
      .groupBy(col("__var"), col("stage"))
      .agg(count(lit(1)).as("__r"))
    graft.operators.Funnel.variantZFromReach(reach, stages, "A", "B")
      .orderBy("stage")
  }

  /** The drained per-user stage-advance table shared by the funnel
    * readouts: one `(user_id, stage)` row per chain extension. */
  private def funnelAdvances(spark: SparkSession, dir: String,
                             stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "streamingFunnel needs at least one stage")
    graft.GraftSession.tune(spark)
    val name = "graft_stream_funnel"
    spark.streams.active.filter(q => Option(q.name).contains(name)).foreach(_.stop())
    import spark.implicits._
    val stageIdx = stages.zipWithIndex.toMap
    val events = eventsStream(spark, dir)
      .filter(col("ts").isNotNull && col("event_type").isin(stages: _*))
      .select(col("user_id"), expr("ts div 1000").as("tsu"),
        col("event_id"), col("event_type"))
      .as[(Long, Long, Long, String)]
      .map { case (u, t, id, s) => FunnelEvent(u, t, id, stageIdx(s)) }
    val advances = events
      .groupByKey(_.userId)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (user: Long, it: Iterator[FunnelEvent], state: GroupState[List[Long]]) => {
          // chain times NEWEST-FIRST (List prepend); length = completed
          var chain = state.getOption.getOrElse(Nil)
          val out = Seq.newBuilder[FunnelAdv]
          it.toSeq.sortBy(e => (e.tsu, e.eventId)).foreach { e =>
            val need = chain.length
            if (need < stages.length && e.stage == need &&
                (chain.isEmpty || e.tsu > chain.head)) {
              out += FunnelAdv(user, need)
              chain ::= e.tsu
            }
          }
          state.update(chain)
          out.result().iterator
        })
    drainFiles(spark, advances.writeStream
      .outputMode("append").queryName(name), name, advances.schema)
  }

  // ------------------------------------------- streaming join delta

  final case class SideRow(key: Long, side: Int, id: Long)
  final case class DeltaPair(user_id: Long, left_id: Long, right_id: Long)

  /** Streaming incremental JOIN maintenance — the streaming twin of
    * [[graft.operators.Incremental.joinDelta]]: two insert-only sides
    * (here: click and purchase events keyed by user) maintained as one
    * per-key state pair of id lists; each arriving left row emits its
    * joins against every stored right row and vice versa — exactly the
    * per-row form of the delta-join identity Δ(A⋈B) = ΔA⋈B₀ ∪ A₀⋈ΔB ∪
    * ΔA⋈ΔB (the within-batch ΔA⋈ΔB corner falls out of processing the
    * batch's rows sequentially against the growing lists). Every join
    * pair is emitted EXACTLY ONCE — when its later element arrives — so
    * the drained append-mode emission equals the batch inner join as a
    * multiset, which is what makes it oracle-checkable.
    *
    * State is O(rows per key) — the honest cost of maintaining an
    * UNBOUNDED-history join (same asymptotics as the state Spark's own
    * stream-stream join would keep WITHOUT a watermark range condition).
    * The production dial for bounded state is the time-windowed form
    * ([[clickPurchaseJoin]]); this operator is the IVM contract itself:
    * key-cardinality-bounded sides (dimensions, profiles), not raw
    * event firehoses — and `maxIdsPerKey` ENFORCES that contract
    * mechanically: a key whose stored history exceeds the cap fails the
    * query LOUDLY (naming the watermarked dial) instead of growing state
    * silently until an executor OOMs hours later. */
  def streamingJoinDelta(spark: SparkSession, dir: String,
                         leftType: String = "click",
                         rightType: String = "purchase",
                         maxIdsPerKey: Int = 100000): DataFrame = {
    require(maxIdsPerKey >= 1, s"maxIdsPerKey must be >= 1, got $maxIdsPerKey")
    graft.GraftSession.tune(spark)
    val name = "graft_stream_joindelta"
    spark.streams.active.filter(q => Option(q.name).contains(name)).foreach(_.stop())
    import spark.implicits._
    val tagged = eventsStream(spark, dir)
      .filter(col("event_type").isin(leftType, rightType) &&
        col("user_id").isNotNull && col("event_id").isNotNull)
      .select(col("user_id"),
        when(col("event_type") === leftType, 0).otherwise(1).as("side"),
        col("event_id"))
      .as[(Long, Int, Long)]
      .map { case (k, s, id) => SideRow(k, s, id) }
    val pairs = tagged
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: Long, it: Iterator[SideRow],
         state: GroupState[(List[Long], List[Long])]) => {
          var (ls, rs) = state.getOption.getOrElse(
            (List.empty[Long], List.empty[Long]))
          // carry sizes incrementally: List.size is O(n) and the cap check
          // must not add a per-batch full-list walk
          var n = ls.size + rs.size
          val out = Seq.newBuilder[DeltaPair]
          it.foreach { e =>
            if (e.side == 0) {
              rs.foreach(r => out += DeltaPair(key, e.id, r))
              ls ::= e.id
            } else {
              ls.foreach(l => out += DeltaPair(key, l, e.id))
              rs ::= e.id
            }
            n += 1
            if (n > maxIdsPerKey) throw new IllegalStateException(
              s"streamingJoinDelta: key $key exceeded maxIdsPerKey=$maxIdsPerKey " +
                "stored rows — this operator maintains UNBOUNDED join history and " +
                "is contracted to key-cardinality-bounded sides; for event " +
                "firehoses use the watermarked clickPurchaseJoin instead")
          }
          state.update((ls, rs))
          out.result().iterator
        })
    drainFiles(spark, pairs.writeStream
      .outputMode("append").queryName(name), name, pairs.schema)
      .orderBy("user_id", "left_id", "right_id")
  }

  // ------------------------------------------- streaming drift monitor

  /** Streaming PSI drift monitor — the standing form of
    * [[graft.operators.Metrics.psiDrift]]: the ONLY state is the
    * per-(group, bin) count grid (one complete-mode aggregate — counts
    * merge across micro-batches trivially, state is O(groups·bins),
    * the 100 TB-safe shape), and the PSI readout runs batch-side over
    * the drained grid via [[graft.operators.Metrics.psiFromCounts]].
    * Drained counts == batch counts, so the emitted psi_e9 equals the
    * batch operator bit-for-bit — which is what makes a STREAMING
    * drift monitor oracle-checkable. */
  def streamingPsiDrift(spark: SparkSession, dir: String,
                        binWidth: Long = 50L, nBins: Int = 10): DataFrame = {
    graft.GraftSession.tune(spark)
    val name = "graft_stream_psi"
    spark.streams.active.filter(q => Option(q.name).contains(name)).foreach(_.stop())
    val counts = eventsStream(spark, dir)
      .filter(col("event_type").isNotNull && col("value").isNotNull)
      .select(col("event_type").as("__g"),
        greatest(lit(0L),
          least(expr(s"cast(floor(value) as bigint) div $binWidth"),
            lit(nBins - 1L))).as("__bin"))
      .groupBy(col("__g"), col("__bin"))
      .agg(count(lit(1)).as("__c"))
    drain(spark, counts.writeStream
      .outputMode("complete").format("memory").queryName(name))
    // psiFromCounts self-joins its input; on the memory-sink view every
    // branch carries the SAME attribute ids and resolution fails
    // (the streamingTransitions join hazard). The grid is O(groups·bins)
    // rows, so an eager localCheckpoint is a cheap lineage break.
    val grid = spark.table(name).localCheckpoint(true)
    graft.operators.Metrics.psiFromCounts(grid, nBins, "event_type")
      .orderBy("event_type")
  }

  // ----------------------------------------------- streaming CDC apply

  /** Streaming CDC snapshot maintenance — the standing twin of
    * [[graft.operators.Cdc.applyChanges]]: a changelog stream folded to
    * the latest-version-per-key snapshot by ONE complete-mode `max_by`
    * aggregate. State is one (version, op, payload) struct per key —
    * O(keys), the mergeable-fold shape — and `max_by` over the version
    * is exactly the batch operator's fold, so the drained snapshot
    * equals it row-for-row (q121's oracle replays both). Delete
    * tombstones keep their state slot (a later re-insert must win by
    * version) and drop at READOUT, matching the batch contract. */
  def streamingCdcSnapshot(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftSession.tune(spark)
    val name = "graft_stream_cdc"
    spark.streams.active.filter(q => Option(q.name).contains(name)).foreach(_.stop())
    val phys = physSchema(spark, dir, "orders")
    val agg = spark.readStream.schema(phys).parquet(streamDir(dir, "orders"))
      .select(col("o_custkey").as("k"), col("o_orderkey").as("v"),
        when(col("o_orderkey") % 10 === 0, lit("D")).otherwise(lit("U")).as("op"),
        col("o_totalprice").as("price"))
      .groupBy(col("k"))
      .agg(max_by(struct(col("v"), col("op"), col("price")), col("v")).as("last"))
    drain(spark, agg.writeStream
      .outputMode("complete").format("memory").queryName(name))
    spark.table(name)
      .filter(col("last.op") =!= "D")
      .select(col("k"), col("last.v").as("v"), col("last.price").as("price"))
      .orderBy("k")
  }

  // --------------------------------------- built-in session windows

  /** Gap sessionization on Spark's BUILT-IN `session_window` — the
    * (a)-tier composition next to [[sessionize]]'s custom
    * `flatMapGroupsWithState` form: the engine merges overlapping
    * per-event windows `[ts, ts+gap)` itself, so there is no
    * hand-rolled state machine to maintain. Complete mode over the
    * bounded drain (the same contract as the other aggregate twins);
    * a standing deployment adds a watermark and append mode.
    *
    * The readout reshapes `session_window` to the batch
    * [[graft.operators.Sessionize.sessionStats]] verdict: `start_us` =
    * window.start, `end_us` = window.end − gap (the engine's window end
    * is last-event + gap), `session_idx` by start order per user.
    * BOUNDARY: `session_window` merges on STRICT overlap (a gap of
    * exactly `gapMinutes` starts a NEW session) where the batch
    * operator's `> gap` test keeps it — identical everywhere except a
    * micros-exact tie on the gap itself. */
  def streamingSessionWindows(spark: SparkSession, dir: String,
                              gapMinutes: Int = 720): DataFrame = {
    graft.GraftSession.tune(spark)
    val name = "graft_stream_sesswin"
    spark.streams.active.filter(q => Option(q.name).contains(name)).foreach(_.stop())
    val gapUs = gapMinutes * 60L * 1000000L
    val agg = eventsStream(spark, dir)
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .withColumn("tsu", expr("timestamp_micros(ts div 1000)"))
      .groupBy(col("user_id"),
        session_window(col("tsu"), s"$gapMinutes minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"))
    drain(spark, agg.writeStream
      .outputMode("complete").format("memory").queryName(name))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("start_us"))
    spark.table(name).localCheckpoint(true)
      .select(col("user_id"), col("n_events"),
        expr("unix_micros(sw.start)").as("start_us"),
        expr(s"unix_micros(sw.end) - $gapUs").as("end_us"))
      .withColumn("session_idx", row_number().over(w).cast("long"))
      .select(col("user_id"), col("session_idx"), col("n_events"),
        col("start_us"), col("end_us"),
        (col("end_us") - col("start_us")).as("duration_us"))
      .orderBy("user_id", "session_idx")
  }

  /** Streaming vocabulary-coverage maintenance — the standing twin of
    * the batch OOV audit (q325): the complete-mode state IS the
    * per-(source, token) `(n, n_ref)` count grid (vocabulary-sized —
    * token pivot counts are order-independent sums), and the readout
    * is the SHARED [[graft.text.Corpus.coverageFromGrid]] — the
    * reference top-N re-derives from the live grid on every drain, so
    * drained == batch and q325's oracle serves both. The standing form
    * of "alert when an ingest's token stream stops fitting the
    * tokenizer's vocabulary". Eager checkpoint: the readout layers the
    * vocab rank + broadcast join over the memory-sink lineage. */
  def streamingVocabCoverage(spark: SparkSession, dir: String,
                             topN: Int = 500): DataFrame = {
    graft.GraftSession.tune(spark)
    val name = "graft_stream_vocabcov"
    spark.streams.active.filter(q => Option(q.name).contains(name)).foreach(_.stop())
    val grid = spark.readStream
      .schema(documentsSchema)
      .parquet(streamDir(dir, "documents"))
      .filter(col("source").isNotNull && col("text").isNotNull)
      .withColumn("__ref", col("lang") === "en")
      .select(col("source"), col("__ref"),
        explode(graft.functions.Cols.tokens(col("text"))).as("__tok"))
      .filter(col("__tok") =!= "")
      .groupBy(col("source"), col("__tok"))
      .agg(count(lit(1)).as("__n"),
        sum(when(col("__ref"), 1L).otherwise(0L)).as("__nref"))
    drain(spark, grid.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name))
    graft.text.Corpus.coverageFromGrid(
        spark.table(name).localCheckpoint(true), Seq("source"), topN)
      .orderBy("source")
  }

  /** Streaming top-k stability maintenance — the standing twin of the
    * batch leaderboard-churn monitor (q319): the complete-mode state IS
    * the per-(type, half, user) cents-total grid (entity-grid-sized),
    * and the readout is the SHARED
    * [[graft.operators.Metrics.stabilityFromTotals]] — the rank cut,
    * set join, and displacement re-derive from the live grid each
    * drain, so drained == batch and q319's oracle serves both. The
    * standing form of "alert when the leaderboard starts rotating".
    * Eager checkpoint: the readout layers rank windows + a full-outer
    * set join over the memory-sink lineage. */
  def streamingTopkStability(spark: SparkSession, dir: String,
                             k: Int = 10): DataFrame = {
    graft.GraftSession.tune(spark)
    val name = "graft_stream_topk"
    spark.streams.active.filter(q => Option(q.name).contains(name)).foreach(_.stop())
    val grid = eventsStream(spark, dir)
      .filter(col("event_type").isNotNull && col("user_id").isNotNull &&
        col("value").isNotNull)
      // identical half-month split to the batch q319
      .withColumn("__s",
        when(dayofmonth(expr("timestamp_micros(ts div 1000)")) < 16, "A")
          .otherwise("B"))
      .withColumn("__cents", floor(col("value") * 100 + 0.5).cast("long"))
      .groupBy(col("event_type"), col("__s"), col("user_id").as("__it"))
      .agg(sum(col("__cents")).as("__v"))
    drain(spark, grid.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name))
    graft.operators.Metrics.stabilityFromTotals(
        spark.table(name).localCheckpoint(true), Seq("event_type"), k)
      .orderBy("event_type")
  }

  final case class PhEvent(key: String, tsn: Long, eventId: Long, x: Long)
  final case class PhState(n: Long, p: Long, m: Long, mm: Long,
                           maxPh: Long, alarmT: Long)
  final case class PhRow(key: String, n_obs: Long, max_ph_e9: Long,
                         alarm_t: Long)

  /** Streaming Page–Hinkley drift maintenance — the standing twin of
    * the batch detector (q317): per-key state is EXACTLY the five
    * numbers the PH recursion needs — `(n, Σx, m_e9, min m_e9, frozen
    * first-alarm index)` — folded by flatMapGroupsWithState in
    * (ts, event_id) order; each increment replays the batch's
    * IDENTICAL fixed double tree (x − P/n − δ, e9-quantized per row),
    * so drained == batch on the time-ordered landing convention and
    * q317's oracle serves both. The alarm index FREEZES at the first
    * crossing (the streamingSprt contract) — the live "has the level
    * drifted upward yet, and when did we first know" monitor. */
  def streamingPageHinkley(spark: SparkSession, dir: String,
                           delta: Double = 0.0,
                           lambda: Double = 50000.0): DataFrame = {
    graft.GraftSession.tune(spark)
    val name = "graft_stream_ph"
    spark.streams.active.filter(q => Option(q.name).contains(name)).foreach(_.stop())
    val lambdaE9 = math.floor(lambda * 1e9 + 0.5).toLong
    import spark.implicits._
    val events = eventsStream(spark, dir)
      .filter(col("event_type").isNotNull && col("value").isNotNull &&
        col("ts").isNotNull)
      .select(col("event_type"), col("ts"), col("event_id"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .as[(String, Long, Long, Long)]
      .map { case (k, t, id, x) => PhEvent(k, t, id, x) }
    val states = events
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (key: String, it: Iterator[PhEvent], state: GroupState[PhState]) => {
          var st = state.getOption.getOrElse(
            PhState(0L, 0L, 0L, Long.MaxValue, 0L, -1L))
          it.toSeq.sortBy(e => (e.tsn, e.eventId)).foreach { e =>
            val n = st.n + 1L
            val p = st.p + e.x
            // the batch __t9 tree, spelled identically
            val t9 = math.floor((e.x.toDouble - p.toDouble / n.toDouble - delta)
              * 1e9 + 0.5).toLong
            val m = st.m + t9
            val mm = math.min(st.mm, m)
            val maxPh = math.max(st.maxPh, m - mm)
            val alarmT =
              if (st.alarmT >= 0) st.alarmT
              else if (m - mm > lambdaE9) n
              else -1L
            st = PhState(n, p, m, mm, maxPh, alarmT)
          }
          state.update(st)
          Iterator.single(PhRow(key, st.n, st.maxPh, st.alarmT))
        })
    drain(spark, states.toDF().writeStream
      .outputMode("update").format("memory").queryName(name))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key")).orderBy(col("n_obs").desc)
    spark.table(name)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .withColumn("first_alarm_t",
        when(col("alarm_t") >= 0, col("alarm_t")))
      .withColumn("alarmed", col("first_alarm_t").isNotNull)
      .select(col("key").as("event_type"), col("n_obs"),
        col("max_ph_e9"), col("first_alarm_t"), col("alarmed"))
      .orderBy("event_type")
  }

  /** Streaming EMD + Hellinger drift maintenance — the standing twin of
    * the batch distance readout (q301): the complete-mode state IS the
    * per-(key, value) side-count grid (value-grid-sized — bin continuous
    * values upstream, the batch contract), maintained by ONE
    * always-mergeable count aggregate; the readout is the SHARED
    * [[graft.operators.Metrics.histDriftFromGrid]], so drained == batch
    * bit-for-bit and q301's oracle serves both. The standing form of
    * "alert when the A/B value distributions MOVE (transport cost) or
    * stop overlapping (Hellinger)" — the two axes the standing CvM/PSI
    * monitors don't read. Eager checkpoint: the readout layers three
    * windows over the memory-sink lineage. */
  def streamingHistDrift(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftSession.tune(spark)
    val name = "graft_stream_histdrift"
    spark.streams.active.filter(q => Option(q.name).contains(name)).foreach(_.stop())
    val grid = eventsStream(spark, dir)
      .filter(col("value").isNotNull && col("event_type").isNotNull)
      .withColumn("__v", floor(col("value") * 100 + 0.5).cast("long"))
      // identical A/B derivation to the batch q301 (null user_id -> B,
      // the q281 CASE/otherwise convention both engines share)
      .withColumn("__side",
        when(pmod(col("user_id"), lit(2L)) === 0, "A").otherwise("B"))
      .groupBy(col("event_type"), col("__v"))
      .agg(sum(when(col("__side") === "A", 1L).otherwise(0L)).as("__ca"),
        sum(when(col("__side") === "B", 1L).otherwise(0L)).as("__cb"))
    drain(spark, grid.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name))
    graft.operators.Metrics.histDriftFromGrid(
        spark.table(name).localCheckpoint(true), Seq("event_type"))
      .orderBy("event_type")
  }

  /** Streaming χ²-independence maintenance — the standing twin of the
    * batch test (q297): the complete-mode state IS the per-(source,
    * lang, length-band) contingency-cell grid (categorical-domain-sized,
    * NOT row-sized), maintained by ONE always-mergeable count aggregate;
    * the readout is the SHARED
    * [[graft.operators.Metrics.chiSqFromCells]], so drained == batch
    * bit-for-bit and q297's oracle serves both. The standing form of
    * "alert when language stops being independent of document length in
    * this ingest" — a live association monitor over the same two columns
    * the batch screen reads. Eager checkpoint: the readout layers the
    * marginal cross join over the memory-sink lineage. */
  /** The complete-mode contingency-grid PLAN of [[streamingChiSquare]],
    * split out so the checkpoint restart-recovery path (StreamingSpec's
    * recovery test; any production restart) drives the IDENTICAL plan the
    * single-drain twin runs: filter → band derivation (least caps the
    * categorical domain at 5 bands, the bounded-grid contract) → ONE
    * always-mergeable count aggregate. Complete-mode grid state is
    * checkpointed per shuffle partition; on restart Spark recovers the
    * grid from `checkpointLocation` and the file-source log skips
    * already-ingested files, so drained-after-restart == batch over the
    * full landing set, bit-for-bit — the recovery contract every
    * grid-state twin in this file inherits (same state shape: the grid
    * IS the state). */
  def chiSquareGrid(docs: DataFrame): DataFrame = docs
    .filter(col("source").isNotNull && col("lang").isNotNull &&
      col("n_chars").isNotNull)
    // identical band derivation to the batch q297
    .withColumn("__b", least(expr("n_chars div 400"), lit(4L)))
    .groupBy(col("source"), col("lang").as("__a"), col("__b"))
    .agg(count(lit(1)).as("__c"))

  def streamingChiSquare(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftSession.tune(spark)
    val name = "graft_stream_chisq"
    spark.streams.active.filter(q => Option(q.name).contains(name)).foreach(_.stop())
    val grid = chiSquareGrid(spark.readStream
      .schema(documentsSchema)
      .parquet(streamDir(dir, "documents")))
    drain(spark, grid.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name))
    graft.operators.Metrics.chiSqFromCells(
        spark.table(name).localCheckpoint(true), Seq("source"))
      .orderBy("source")
  }

  // ------------------------------------------------- streaming CEM ATT

  /** Streaming CEM ATT — q342's standing twin: the complete-mode state
    * IS the [[graft.operators.Metrics.cemStrata]] covariate-cell grid
    * `(pr, seg, month, nt, nc, st, sc)`, fed by a stream-STATIC join
    * (orders stream ⋈ broadcast customer dimension — the q102 pattern:
    * dimensions are batch-side, only facts stream). Readout re-derives
    * matching, weighting, and the overlap diagnostic each drain via the
    * SHARED `attFromStrata`, so drained == batch and q342's oracle
    * serves both. The live use: "has the causal effect estimate (or its
    * overlap) moved under today's ingest" without a batch recompute.
    * State is covariate-cardinality-bounded — O(cells), not O(rows). */
  def streamingCemAtt(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftSession.tune(spark)
    val name = "graft_stream_cem"
    spark.streams.active.filter(q => Option(q.name).contains(name)).foreach(_.stop())
    val phys = physSchema(spark, dir, "orders")
    val cust = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey"), col("c_mktsegment"))
    val o = spark.readStream.schema(phys).parquet(streamDir(dir, "orders"))
      .withColumn("treat", col("o_custkey") % 3 === 0)
      .withColumn("cents", floor(col("o_totalprice") * 100 + 0.5).cast("long"))
      .withColumn("month", graft.functions.Cols.monthStart(col("o_orderdate")))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
    val grid = graft.operators.Metrics.cemStrata(
      o, "treat", "cents", Seq("o_orderpriority", "c_mktsegment", "month"))
    drain(spark, grid.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name))
    graft.operators.Metrics.attFromStrata(
      spark.table(name).localCheckpoint(true))
  }

  /** Streaming twin of q352's difference-in-differences: the standing
    * "has today's ingest moved the panel causal estimate" monitor. State
    * IS the [[graft.operators.Metrics.didMoments]] per-key 2×2 moment
    * grid (complete-mode aggregation — O(keys·4 cells), not O(rows)),
    * fed by the same stream-STATIC join as [[streamingCemAtt]] (orders
    * stream, customer dimension broadcast); every drain re-derives the
    * estimate via the SHARED [[graft.operators.Metrics.didFromMoments]]
    * readout, so drained == batch bit-for-bit and q352's oracle serves
    * both. */
  def streamingDiffInDiff(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftSession.tune(spark)
    val name = "graft_stream_did"
    spark.streams.active.filter(q => Option(q.name).contains(name)).foreach(_.stop())
    val phys = physSchema(spark, dir, "orders")
    val cust = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey"),
        (col("c_mktsegment") === "BUILDING").as("treated"))
    val o = spark.readStream.schema(phys).parquet(streamDir(dir, "orders"))
      .withColumn("dollars", floor(col("o_totalprice") + lit(0.5)))
      .withColumn("post", col("o_orderdate") >= lit("1995-07-01").cast("date"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
    val grid = graft.operators.Metrics.didMoments(
      o, Seq("o_orderpriority"), "treated", "post", "dollars")
    drain(spark, grid.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name))
    graft.operators.Metrics.didFromMoments(
        spark.table(name).localCheckpoint(true))
      .orderBy("o_orderpriority")
  }

  /** Streaming twin of q353's split conformal: the model and q̂ FREEZE
    * batch-side (train/calibration are history), and the standing query
    * monitors COVERAGE over the arriving test stream — the live "is the
    * interval promise still holding on today's data" check, which is
    * exactly how conformal is deployed (fit once, audit forever). State
    * is the 3-count coverage row (complete mode); every drain re-derives
    * the readout through the SHARED `conformalAssemble`, so drained ==
    * batch and q353's oracle serves both. */
  def streamingConformal(spark: SparkSession, dir: String,
                         baseOpt: Option[DataFrame] = None): DataFrame = {
    graft.GraftSession.tune(spark)
    val name = "graft_stream_conf"
    spark.streams.active.filter(q => Option(q.name).contains(name)).foreach(_.stop())
    val groupCols = Seq("l_returnflag", "l_linestatus")
    def prep(df: DataFrame): DataFrame = graft.text.Corpus.hashSplit(
      df.withColumn("dollars", floor(col("l_extendedprice") + lit(0.5)))
        .withColumn("__key",
          concat_ws("-", col("l_orderkey"), col("l_linenumber"))),
      "__key")
    // baseOpt: the registry passes the memoized q353-shared admission
    // base so the twin pair pays the corpus md5 pass ONCE per session —
    // exactly how conformal deploys (fit once, audit forever)
    val base = baseOpt.getOrElse(graft.operators.Metrics.conformalBase(
      prep(spark.read.parquet(s"$dir/lineitem.parquet")), "split",
      groupCols, "dollars"))
    val (_, model, nTrain, qhat) =
      graft.operators.Metrics.conformalFitFromBase(
        base, groupCols, 100, "train", "val")
    // freeze the fitted artifacts NOW (they are 9- and 1-row frames) so
    // the standing query joins static literals, not a live batch plan
    val modelF = model.localCheckpoint(true)
    val qhatF = qhat.localCheckpoint(true)
    val phys = physSchema(spark, dir, "lineitem")
    val testStream = prep(
        spark.readStream.schema(phys).parquet(streamDir(dir, "lineitem")))
      .filter(col("split") === "test" && col("dollars").isNotNull &&
        groupCols.map(col(_).isNotNull).reduce(_ && _))
      .select(groupCols.map(col) :+
        (col("dollars").cast("long") * 100L).as("__y2"): _*)
    val counts = graft.operators.Metrics.conformalTestCounts(
      testStream, modelF, qhatF, groupCols)
    drain(spark, counts.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name))
    graft.operators.Metrics.conformalAssemble(
      nTrain, qhatF, spark.table(name).localCheckpoint(true))
  }

  /** Streaming twin of q362's group-sequential boundaries — the natural
    * streaming member of the whole tier, because LOOKS are literally
    * arrivals over time: state IS the [[graft.operators.Metrics
    * .gsMoments]] k-row per-look Welch grid (complete mode); every drain
    * re-derives the boundary ladder readout via the SHARED
    * `gsFromMoments`, so the standing "has any look crossed yet" monitor
    * equals the batch answer bit-for-bit and q362's oracle serves both. */
  def streamingGroupSequential(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftSession.tune(spark)
    val name = "graft_stream_gst"
    spark.streams.active.filter(q => Option(q.name).contains(name)).foreach(_.stop())
    val ev = eventsStream(spark, dir)
      .withColumn("look", expr(
        "least(5, 1 + (dayofmonth(timestamp_micros(ts div 1000)) - 1) div 6)"))
      .withColumn("arm", expr("user_id % 2 = 0"))
      .withColumn("cents", expr("cast(floor(value * 100 + 0.5) as bigint)"))
    val grid = graft.operators.Metrics.gsMoments(ev, "look", "arm", "cents", 5)
    drain(spark, grid.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name))
    graft.operators.Metrics.gsFromMoments(
        spark.table(name).localCheckpoint(true),
        graft.operators.Metrics.obfBoundariesE4(5))
      .orderBy("look")
  }

  /** Streaming twin of q363's Qn scale — the robust-dispersion monitor:
    * state IS the [[graft.operators.Sketch.qnGrid]] per-key VALUE GRID
    * (complete mode — O(keys·values), the bounded-cardinality contract),
    * and every drain re-derives the pairwise-difference order statistic
    * via the SHARED `qnFromGrid`; drained == batch, one oracle. */
  def streamingQnScale(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftSession.tune(spark)
    val name = "graft_stream_qn"
    spark.streams.active.filter(q => Option(q.name).contains(name)).foreach(_.stop())
    val phys = physSchema(spark, dir, "lineitem")
    val li = spark.readStream.schema(phys).parquet(streamDir(dir, "lineitem"))
    val grid = graft.operators.Sketch.qnGrid(li, Seq("l_returnflag"), "l_quantity")
    drain(spark, grid.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name))
    graft.operators.Sketch.qnFromGrid(
      spark.table(name).localCheckpoint(true), Seq("l_returnflag"))
  }

  /** Streaming twin of q370's candidate-period seasonal scan — the
    * standing "has today's ingest moved the dominant seasonal period"
    * monitor: state IS the per-(key, month) exact cents grid (complete
    * mode — calendar-bounded, O(keys·months), NOT O(rows); the monthly
    * aggregate is what the scan consumes anyway), and every drain
    * re-derives ranks, demeaned sums, and the period argmax via the
    * SHARED [[graft.stats.Diagnostics.seasonalPeriodGrid]] readout —
    * drained == batch, q370's oracle serves both. Ranking by month at
    * drain (not ingest) is what makes out-of-order month arrivals safe:
    * the t index is a readout derivation, never stream state. */
  def streamingSeasonalGrid(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftSession.tune(spark)
    val name = "graft_stream_seasonal"
    spark.streams.active.filter(q => Option(q.name).contains(name)).foreach(_.stop())
    val phys = physSchema(spark, dir, "orders")
    val o = spark.readStream.schema(phys).parquet(streamDir(dir, "orders"))
    val grid = o
      .groupBy(col("o_orderpriority").as("prio"),
        graft.functions.Cols.monthStart(col("o_orderdate")).as("month"))
      .agg(sum(expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)"))
        .as("cents"))
    drain(spark, grid.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name))
    graft.stats.Diagnostics.seasonalPeriodGrid(
        spark.table(name).localCheckpoint(true), Seq("prio"), "month", "cents")
      .orderBy("prio", "p")
  }

  /** Streaming twin of q377's Cochran–Mantel–Haenszel — the standing
    * "is the exposure→outcome association holding up under today's
    * ingest, confounder held fixed" monitor: state IS the
    * [[graft.operators.Metrics.cmhStrata]] per-stratum 2×2 count grid
    * (complete mode — O(strata·6 counts), never O(rows)); every drain
    * re-derives E/V quantization and the statistic via the SHARED
    * [[graft.operators.Metrics.cmhFromStrata]] readout, so drained ==
    * batch and q377's oracle serves both. */
  def streamingCmh(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftSession.tune(spark)
    val name = "graft_stream_cmh"
    spark.streams.active.filter(q => Option(q.name).contains(name)).foreach(_.stop())
    val phys = physSchema(spark, dir, "orders")
    val o = spark.readStream.schema(phys).parquet(streamDir(dir, "orders"))
      .withColumn("expo", col("o_custkey") % 2 === 0)
      .withColumn("hi", col("o_totalprice") >= 150000.0)
    val grid = graft.operators.Metrics.cmhStrata(
      o, "o_orderpriority", "expo", "hi")
    drain(spark, grid.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name))
    graft.operators.Metrics.cmhFromStrata(
      spark.table(name).localCheckpoint(true))
  }

  /** Streaming twin of q383's Jonckheere–Terpstra ordered trend — the
    * standing dose-response monitor (is today's ingest still trending
    * across the ordered tiers): state IS the
    * [[graft.operators.Metrics.jtCells]] (key, group, value)-count
    * grid in complete mode, so the drained table equals the batch
    * cells exactly and the SHARED `jtFromCells` kernel readout makes
    * drained == batch — one oracle serves the pair. Grid state is
    * bounded by key × group-vocabulary × the hundred-dollar value
    * grid, the same contract as the batch kernel. */
  def streamingJonckheere(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftSession.tune(spark)
    val name = "graft_stream_jt"
    spark.streams.active.filter(q => Option(q.name).contains(name)).foreach(_.stop())
    val phys = physSchema(spark, dir, "orders")
    val o = spark.readStream.schema(phys).parquet(streamDir(dir, "orders"))
      .withColumn("hdollars",
        expr("cast(floor(o_totalprice + 0.5) as bigint) div 100"))
    val grid = graft.operators.Metrics.jtCells(
      o, Seq("o_orderstatus"), "o_orderpriority", "hdollars")
    drain(spark, grid.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name))
    graft.operators.Metrics.jtFromCells(
        spark.table(name).localCheckpoint(true), Seq("o_orderstatus"))
      .orderBy("o_orderstatus")
  }

  /** Streaming twin of q385's Dunn post-hoc — the standing
    * which-pairs-differ monitor after the ordered-trend/KW tier: state
    * IS the bounded (key, group, value)-count grid in complete mode
    * (the [[streamingJonckheere]] split, same grid), the pairwise
    * midrank/BH readout re-derives at drain via the SHARED
    * `dunnFromCells`; drained == batch, q385's oracle serves both. */
  def streamingDunn(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftSession.tune(spark)
    val name = "graft_stream_dunn"
    spark.streams.active.filter(q => Option(q.name).contains(name)).foreach(_.stop())
    val phys = physSchema(spark, dir, "orders")
    val o = spark.readStream.schema(phys).parquet(streamDir(dir, "orders"))
      .withColumn("hdollars",
        expr("cast(floor(o_totalprice + 0.5) as bigint) div 100"))
    val grid = graft.operators.Metrics.jtCells(
      o, Seq("o_orderstatus"), "o_orderpriority", "hdollars")
    drain(spark, grid.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name))
    graft.operators.Metrics.dunnFromCells(
        spark.table(name).localCheckpoint(true), Seq("o_orderstatus"),
        qPermille = 50)
      .orderBy("o_orderstatus", "group_a", "group_b")
  }

  /** Streaming twin of q387's Page trend — the standing blocked
    * ordered-trend monitor: state IS the (status, month, priority)
    * revenue-cell SUM grid in complete mode, and the drained cells ARE
    * `pageTrend`'s input rows (one value per block×treatment cell), so
    * the batch operator is the shared readout; drained == batch,
    * q387's oracle serves both. */
  def streamingPageTrend(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftSession.tune(spark)
    val name = "graft_stream_page"
    spark.streams.active.filter(q => Option(q.name).contains(name)).foreach(_.stop())
    val phys = physSchema(spark, dir, "orders")
    val o = spark.readStream.schema(phys).parquet(streamDir(dir, "orders"))
    val grid = o
      .groupBy(col("o_orderstatus"),
        graft.functions.Cols.monthStart(col("o_orderdate")).as("month"),
        col("o_orderpriority"))
      .agg(sum(expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)"))
        .as("cents"))
    drain(spark, grid.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name))
    graft.operators.Metrics.pageTrend(
        spark.table(name).localCheckpoint(true),
        Seq("o_orderstatus"), "month", "o_orderpriority", "cents")
      .orderBy("o_orderstatus")
  }

  /** Streaming twin of q389's Quade test — the [[streamingPageTrend]]
    * pattern on the same monthly revenue-cell grid: drained cells ARE
    * `quadeTest`'s input rows, so the batch operator is the shared
    * readout; drained == batch, q389's oracle serves both. */
  def streamingQuade(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftSession.tune(spark)
    val name = "graft_stream_quade"
    spark.streams.active.filter(q => Option(q.name).contains(name)).foreach(_.stop())
    val phys = physSchema(spark, dir, "orders")
    val o = spark.readStream.schema(phys).parquet(streamDir(dir, "orders"))
    val grid = o
      .groupBy(col("o_orderstatus"),
        graft.functions.Cols.monthStart(col("o_orderdate")).as("month"),
        col("o_orderpriority"))
      .agg(sum(expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)"))
        .as("cents"))
    drain(spark, grid.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name))
    graft.operators.Metrics.quadeTest(
        spark.table(name).localCheckpoint(true),
        Seq("o_orderstatus"), "month", "o_orderpriority", "cents")
      .orderBy("o_orderstatus")
  }

  /** Streaming twin of q361's t-closeness — the standing privacy
    * monitor a release pipeline wants (does TODAY'S ingest push any
    * quasi-identifier class's sensitive distribution away from the
    * population): state IS the [[graft.operators.Profile
    * .tClosenessCells]] class×value grid (complete mode; the global
    * distribution and grand total re-derive FROM the grid at drain), so
    * drained == batch via the SHARED `tClosenessFromCells` and q361's
    * oracle serves both. */
  def streamingTCloseness(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftSession.tune(spark)
    val name = "graft_stream_tclose"
    spark.streams.active.filter(q => Option(q.name).contains(name)).foreach(_.stop())
    val phys = physSchema(spark, dir, "customer")
    val cust = spark.readStream.schema(phys).parquet(streamDir(dir, "customer"))
      .withColumn("bal_band", expr("cast(floor(c_acctbal / 2000) as bigint)"))
    val grid = graft.operators.Profile.tClosenessCells(
      cust, Seq("c_nationkey", "c_mktsegment"), "bal_band")
    drain(spark, grid.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name))
    graft.operators.Profile.tClosenessFromCells(
        spark.table(name).localCheckpoint(true),
        Seq("c_nationkey", "c_mktsegment"))
      .orderBy("c_nationkey", "c_mktsegment")
  }
}
