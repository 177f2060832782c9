package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES

/** Session tuning applied at every engine entry point (idempotent, runtime
  * confs plus the codegen cache size below — works on any
  * externally-created session, e.g. the Verify/Bench runners).
  *
  *  - `ansi.enabled=false`: the engine's pandas-parity contract is
  *    coerce-to-null (casts, div-by-zero), matching both the reference's
  *    `errors="coerce"` semantics and DuckDB's null results.
  *  - `nanosAsLong`: lets the parquet reader accept TIMESTAMP(NANOS)
  *    columns (see [[graft.sources.Tables.events]]).
  *  - AQE on: runtime coalescing / skew-join handling is the 100 TB story;
  *    harmless at test scale.
  *  - codegen cache of [[CodegenCacheEntries]] classes: see the comment in
  *    `tune`.
  */
object GraftSession {
  /** Generated classes Spark keeps compiled. */
  val CodegenCacheEntries = 1000

  def tune(spark: SparkSession): SparkSession = {
    // parity-critical: the DuckDB/pandas oracles are timezone-naive; a
    // session in local time would shift month/week boundaries of
    // timestamp-derived groupings on non-UTC hosts
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // AQE is the 100 TB story (runtime coalescing, skew joins) and stays the
    // default; GRAFT_AQE=false exists because at toy scale AQE's per-stage
    // re-planning and codegen is a measurable fixed cost per query.
    val aqe = sys.env.getOrElse("GRAFT_AQE", "true")
    spark.conf.set("spark.sql.adaptive.enabled", aqe)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", aqe)
    // Spark 4.1's async checkpoint-file checksum writer deadlocks stateful
    // streaming tasks in local mode (all task threads park in
    // ChecksumCancellableFSDataOutputStream.close awaiting a pool that
    // never runs). Integrity checksums on checkpoint files are an
    // operational nicety, not a correctness feature — off.
    spark.conf.set("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
    // Spark caches compiled classes by (class loader, source) up to the
    // static spark.sql.codegen.cache.maxEntries, default 100. A whole-stage
    // stage is compiled twice, by the driver and under the executor's
    // loader, so the CES queries and the forecast fan need about 100
    // entries together, and ten registry queries several hundred. The
    // Guava LRU splits the 100 into four segments of 25, chosen by a hash
    // that includes the loader's identity hash: in each JVM a random set
    // of segments overflows, and re-running the same queries then misses
    // every entry of those segments on every pass (the fan loaded 28-49
    // freshly compiled classes per pass, about 0.5 s of Janino and cold
    // JIT). The size is read once, when the first query compiles, so it
    // is written to the session's SQLConf (spark.conf.set refuses static
    // confs) before any query runs; a larger size set by the caller is
    // kept.
    val conf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.conf
    if (conf.getConf(CODEGEN_CACHE_MAX_ENTRIES) < CodegenCacheEntries)
      conf.setConfString(CODEGEN_CACHE_MAX_ENTRIES.key, CodegenCacheEntries.toString)
    spark
  }
}
