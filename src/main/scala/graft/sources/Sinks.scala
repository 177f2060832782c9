package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Sink layer (SURVEY §2.1 S6/S7, §2.3 F7).
  *
  * The reference writes single CSV files per career
  * (`df.to_csv(path, index=False)`); that shape is reproduced for parity
  * but flagged: at 100 TB the only sane sink is partitioned parquet. A
  * single file is written by one task, so the RESULT funnels through that
  * task (the scan and joins upstream of it stay parallel); it exists here
  * strictly for small, human-facing exports.
  */
object Sinks {

  /** S6: single-file CSV with header, rows globally sorted (the reference
    * sorts before writing). The sort — `sortCols`, or a root `orderBy`
    * already on `df` — runs inside the one writing task, behind a
    * single-partition shuffle ([[org.apache.spark.sql.graft.CompactOrder.onePartition]]):
    * no range exchange and no sampling job over the upstream, whose scan
    * stays on all its tasks. A single ordered file only makes sense for
    * small exports — see class doc. */
  def csvSingleFile(df: DataFrame, path: String, sortCols: Seq[String]): Unit = {
    val sorted = if (sortCols.isEmpty) df else df.orderBy(sortCols.map(col): _*)
    org.apache.spark.sql.graft.CompactOrder.onePartition(sorted)
      .write.mode("overwrite").option("header", "true").csv(path)
  }

  /** S7 at scale: parquet partitioned by key columns — the fan-out shape
    * that replaces per-career files (each key's rows land in its own
    * directory, readable with partition pruning). */
  def parquetPartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  /** JSONL sink — the interchange format of LLM training corpora (one
    * JSON object per line). Plain `df.write.json`: each task writes its
    * partition as an independent .json part file, so the sink scales
    * linearly with no single-task funnel; gzip keeps the 100 TB shape
    * splittable-enough in practice because parallelism comes from file
    * COUNT (one per partition), not intra-file splits. */
  def jsonl(df: DataFrame, path: String, compress: Boolean = false): Unit = {
    val w = df.write.mode("overwrite")
    (if (compress) w.option("compression", "gzip") else w).json(path)
  }

  /** JSONL source with an EXPLICIT schema — at corpus scale schema
    * inference is a full extra pass over the data; production readers
    * must pass the schema (permissive mode: malformed lines null out
    * instead of failing the job). */
  def readJsonl(spark: org.apache.spark.sql.SparkSession, path: String,
                schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).option("mode", "PERMISSIVE").json(path)

  /** ORC sink — the second columnar interchange format alongside parquet
    * (some lakehouse estates are ORC-native). Same scaling shape as the
    * parquet sink: one part file per partition, snappy by default,
    * predicate pushdown and column pruning on readback. */
  def orc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** ORC source with an explicit schema (same rationale as [[readJsonl]]:
    * no inference pass at corpus scale — though ORC carries its schema in
    * the footer, pinning it rejects drifted files loudly). */
  def readOrc(spark: org.apache.spark.sql.SparkSession, path: String,
              schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).orc(path)

  /** XML sink (Spark 4 built-in XML data source) — the interchange format
    * of document feeds (arXiv, PubMed, Wikipedia dumps are XML-native).
    * Same scaling shape as the other sinks: one part file per partition.
    * `rowTag` names the per-row element. */
  def xml(df: DataFrame, path: String, rowTag: String = "row"): Unit =
    df.write.mode("overwrite").format("xml").option("rowTag", rowTag).save(path)

  /** XML source with an explicit schema (same rationale as [[readJsonl]]:
    * schema inference over XML is a full extra parse pass at corpus
    * scale; PERMISSIVE mode nulls malformed records instead of failing).
    *
    * `ignoreSurroundingSpaces=false` overrides the reader's
    * trim-by-default so whitespace-edged strings round-trip. KNOWN
    * LIMIT: an empty string writes as an empty element and reads back
    * NULL — XML cannot distinguish `""` from absent; feed such columns
    * through `coalesce(c, '')` after readback if the distinction
    * matters. */
  def readXml(spark: org.apache.spark.sql.SparkSession, path: String,
              schema: org.apache.spark.sql.types.StructType,
              rowTag: String = "row"): DataFrame =
    spark.read.schema(schema).option("rowTag", rowTag)
      .option("ignoreSurroundingSpaces", "false")
      .option("mode", "PERMISSIVE").format("xml").load(path)

  /** Hive-style partitioned parquet sink — the layout that makes
    * partition PRUNING possible at read time: a reader filtering on the
    * partition columns touches only the matching directories, never the
    * rest of the corpus (the difference between scanning 100 TB and
    * scanning one domain's slice). Partition columns should be
    * low-cardinality (source, date, lang) — a high-cardinality partition
    * key degenerates into millions of small files. */
  def writePartitioned(df: DataFrame, path: String,
                       partitionCols: Seq[String]): Unit = {
    require(partitionCols.nonEmpty, "writePartitioned needs >= 1 partition column")
    parquetPartitioned(df, path, partitionCols)
  }

  /** F7: empty-result guard (reference warns and skips the write —
    * load_CES_pandas.py:261-267). Returns true when written. */
  def writeUnlessEmpty(df: DataFrame, write: DataFrame => Unit,
                       onEmpty: String => Unit = msg => System.err.println(msg)): Boolean =
    if (df.isEmpty) { onEmpty("empty result — nothing written"); false }
    else { write(df); true }

  /** Size-targeted compaction — the lakehouse small-files maintenance
    * op (Delta OPTIMIZE / Iceberg rewrite_data_files, format-free): a
    * streaming ingest or a fine-partitioned shuffle leaves thousands of
    * KB-sized files, and at 100 TB every one of them costs a scan task,
    * a name-node entry, and an open/seek — compaction trades ONE extra
    * pass for right-sized files forever after.
    *
    * File count = ⌈plan-estimated bytes ÷ `targetFileBytes`⌉, from
    * Catalyst's statistics (for a parquet scan: the sum of file sizes —
    * the honest on-disk number, no sampling pass). The repartition is
    * round-robin, which rebalances skewed input files; callers that
    * need co-located keys or range order should sort/bucket downstream
    * of compaction, not fight it here.
    *
    * Returns the file count written. */
  def writeCompacted(df: DataFrame, path: String,
                     targetFileBytes: Long = 128L * 1024 * 1024): Int = {
    require(targetFileBytes > 0, s"targetFileBytes must be positive, got $targetFileBytes")
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val nFiles = ((bytes + targetFileBytes - 1) / targetFileBytes).max(BigInt(1)).toInt
    df.repartition(nFiles).write.mode("overwrite").parquet(path)
    nFiles
  }
}
