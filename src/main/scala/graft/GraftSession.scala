package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SQLConf.FILES_OPEN_COST_IN_BYTES
import org.apache.spark.sql.internal.StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES

import graft.sources.PosixLocalFileSystem

/** Session tuning applied at every engine entry point (idempotent, runtime
  * confs plus the codegen cache size below — works on any
  * externally-created session, e.g. the Verify/Bench runners).
  *
  *  - session time zone UTC: the oracles are timezone-naive; see the
  *    comment in `tune`.
  *  - `ansi.enabled=false`: the engine's pandas-parity contract is
  *    coerce-to-null (casts, div-by-zero), matching both the reference's
  *    `errors="coerce"` semantics and DuckDB's null results.
  *  - `nanosAsLong`: lets the parquet reader accept TIMESTAMP(NANOS)
  *    columns (see [[graft.sources.Tables.events]]).
  *  - AQE is left to Spark: its defaults (adaptive execution and
  *    partition coalescing on) are the 100 TB story, and a caller's
  *    explicit value is kept.
  *  - streaming checkpoint file checksums off: Spark 4.1's async
  *    checksum writer deadlocks stateful tasks in local mode.
  *  - codegen cache of [[CodegenCacheEntries]] classes: see the comment in
  *    `tune`.
  *  - file open cost of [[FileOpenCostBytes]] (Spark: 4 MB), so a text
  *    file of a few MB splits across the cores; see the comment in `tune`.
  *    On the `ces_pipeline` benchmark (4 cores) the 2.2 MB CES fact TSV
  *    was one split: its parse, monthly filter, dictionary join and
  *    partial aggregate ran as one 141-389 ms task per query. It now runs
  *    4 tasks, 66-322 ms of stage wall time against 158-409 ms. A
  *    caller's explicit value is kept.
  *  - `file:` paths through [[graft.sources.PosixLocalFileSystem]]:
  *    without libhadoop, Hadoop forks `chmod` for every directory and
  *    file a write makes, 9 process starts per single-file CSV write
  *    (counted with JFR); this file system sets the same permission bits
  *    in-process, and a CES query starts no process. It covers what reaches the file system through
  *    the session's Hadoop conf (SQL reads and writes), not RDD writes or
  *    `FileContext` users such as streaming checkpoints.
  *
  *  Together they raised `ces_pipeline`'s `input_rows_per_s` (the four
  *  CES queries) from 23.7k to 28.5k rows/s, median of 10 alternating
  *  pairs, 10/10 wins.
  */
object GraftSession {
  /** Generated classes Spark keeps compiled. */
  val CodegenCacheEntries = 1000

  /** Bytes a scan charges for opening a file when it sizes splits. */
  val FileOpenCostBytes: Long = 256L * 1024

  def tune(spark: SparkSession): SparkSession = {
    // parity-critical: the DuckDB/pandas oracles are timezone-naive; a
    // session in local time would shift month/week boundaries of
    // timestamp-derived groupings on non-UTC hosts
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
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
    // Spark packs files into splits of at most
    // min(maxPartitionBytes, max(openCost, total bytes / defaultParallelism)),
    // charging openCost per file. Spark's 4 MB default is an HDFS/object
    // store figure; on local disks it keeps any file under ~4 MB in one
    // split, so a few-MB text scan runs on one core. At 256 KB such a file
    // splits across the cores; files below it, such as the CES dimension
    // tables, stay one split. The trade: a parquet file with one row group
    // now also splits, and the extra splits read only its footer and
    // return no rows; and many small files pack into fewer, larger
    // partitions than before. Of 128 KB, 256 KB, 512 KB and 1 MB, 256 KB
    // read best on the registry queries and within noise of the others on
    // the CES queries (1 MB leaves the 2.2 MB TSV three splits; 128 KB
    // splits 200-300 KB parquet tables for nothing).
    if (!conf.contains(FILES_OPEN_COST_IN_BYTES.key))
      spark.conf.set(FILES_OPEN_COST_IN_BYTES.key, FileOpenCostBytes)
    // Session confs reach every Hadoop conf the session builds, on the
    // driver and in tasks. Hadoop's FileSystem cache is keyed by scheme
    // and user, not by conf, and usually holds a default `file` instance
    // before this runs; with the cache off for `file`, each lookup builds
    // the configured class instead (a cheap object: no connection, no
    // thread), whatever the cache held.
    spark.conf.set("fs.file.impl", classOf[PosixLocalFileSystem].getName)
    spark.conf.set("fs.file.impl.disable.cache", "true")
    spark
  }
}
