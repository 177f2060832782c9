package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Hive-partitioned sink: losslessness and the partition-PRUNING plan
  * contract — a reader filtering on the partition column must scan only
  * that partition's directory. */
class PartitionedSinkSpec extends SparkSpec {
  import spark.implicits._

  test("partitioned write round-trips and the filtered scan prunes partitions") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part_spec").toString
    val df = Seq(
      (1L, "a", 10), (2L, "a", 20), (3L, "b", 30), (4L, "c", 40)
    ).toDF("id", "grp", "v")
    Sinks.parquetPartitioned(df, dir, Seq("grp"))

    val back = spark.read.parquet(dir)
    // lossless (partition column comes back as a column)
    assert(back.select("id", "grp", "v").collect().toSet ==
      df.collect().toSet)

    val filtered = back.filter(col("grp") === "a").select(sum(col("v")))
    assert(filtered.collect().head.getLong(0) == 30L)
    // plan contract: the partition filter reaches the scan...
    val scan = filtered.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("grp"),
      s"partition filter must reach the file scan:\n$scan")
    // ...and the scan reads ONE of the three partition directories
    // AQE hides subtrees behind AdaptiveSparkPlanExec AND materialized
    // QueryStageExec nodes — a plain collectLeaves sees neither
    def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[Int] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => scans(q.plan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        Seq(f.selectedPartitions.partitionCount)
      case other => other.children.flatMap(scans)
    }
    def scannedPartitions(df: org.apache.spark.sql.DataFrame): Int =
      scans(df.queryExecution.executedPlan).sum
    val pruned = scannedPartitions(filtered)
    val full = scannedPartitions(back)
    assert(pruned == 1 && full == 3,
      s"filtered scan must read 1 of 3 partition dirs, got $pruned of $full")

    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
