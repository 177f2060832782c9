// Lives inside an org.apache.spark.sql subpackage for the private[sql]
// CSV helpers (CSVOptions, CSVUtils) and the file-source relation — the
// standard third-party extension pattern (see CompactOrder in this
// directory).
package org.apache.spark.sql.graft

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** All-string CSV read whose schema is the header line, read on the
  * DRIVER. `spark.read.option("header", "true").csv(path)` without a
  * schema finds its header with a `take(1)` job over the text scan (and
  * plans an RDD for the schema pass); at small-file sizes that job is
  * most of the read's cost.
  *
  * This reads the same line with Spark's own helpers, so the columns
  * are exactly the ones inference yields: `CSVUtils.readHeaderLine` (the
  * first non-empty, non-comment line, in the options' charset and line
  * separator), the univocity `CsvParser` built from the same
  * `CSVOptions` to split it, and `CSVUtils.makeSafeHeader` to name the
  * columns (empty cells become `_c<i>`, duplicates get their index). The
  * line comes from the first file in the scan's partition order, the
  * file the `take(1)` would have read; no header line anywhere (empty
  * files) gives no columns, as inference does. The path is listed once:
  * the returned frame reuses the relation resolved for the header.
  */
object HeaderCsv {
  def read(spark: SparkSession, path: String, options: Map[String, String]): DataFrame = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val opts = options + ("header" -> "true")
    val listed = session.read.options(opts).schema(StructType(Nil)).csv(path)
    val rel = listed.queryExecution.analyzed.collectFirst {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r
    }.get
    val conf = session.sessionState.conf
    val csvOptions = new CSVOptions(opts, conf.csvColumnPruning,
      conf.sessionLocalTimeZone, conf.columnNameOfCorruptRecord)
    val hadoopConf = session.sessionState.newHadoopConfWithOptions(opts)
    val names = scanOrder(listed, rel).iterator
      .flatMap(CSVUtils.readHeaderLine(_, csvOptions, hadoopConf))
      .nextOption()
      .flatMap(line => Option(new CsvParser(csvOptions.asParserSettings).parseLine(line)))
      .map(CSVUtils.makeSafeHeader(_, conf.caseSensitiveAnalysis, csvOptions))
      .getOrElse(Array.empty[String])
    val schema = StructType(names.map(StructField(_, StringType)))
    session.baseRelationToDataFrame(rel.copy(dataSchema = schema)(session))
  }

  /** The non-empty files of the scan, in the order its tasks read them
    * (file splits sort by size, so this is not the listing order). One
    * file needs no plan. */
  private def scanOrder(listed: DataFrame, rel: HadoopFsRelation): Seq[Path] = {
    val files = rel.location.listFiles(Nil, Nil).flatMap(_.files.map(_.getPath))
    if (files.size <= 1) files
    else listed.queryExecution.executedPlan.collectFirst {
      case s: FileSourceScanExec => s.inputRDD.partitions.toSeq.flatMap {
        case p: FilePartition => p.files.filter(_.start == 0).map(_.toPath).toSeq
      }
    }.get
  }
}
