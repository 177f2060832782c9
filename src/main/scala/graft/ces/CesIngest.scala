package graft.ces

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Ingest + schema-normalization layer for BLS-CES-shaped flat files
  * (SURVEY §2.1 S3/S4, §2.2 P2-P5; reference `load_CES_pandas.py:59-73`,
  * `prep_CES_pandas.py:44-49,105-129`).
  *
  * Philosophy ported from the reference: load EVERYTHING as string, trim
  * whitespace-damaged headers and key columns, discover key columns by
  * candidate-name search, rename to canonical names, cast late with
  * coerce-to-null semantics. The schema layer is driver-side metadata work
  * (pure column-name surgery); all data movement stays in the lazy plan.
  */
object CesIngest {

  /** S3: tab-separated scan, header row, every column string (the BLS files
    * ship numeric-looking columns with footnote junk — cast later), like
    * pandas `read_csv(dtype="string")`. The header line is read on the
    * driver ([[org.apache.spark.sql.graft.HeaderCsv]]), so building the
    * frame runs no Spark job; its columns are the ones Spark's header
    * inference would name. The names are then trimmed + lowercased like
    * the reference's `[c.strip().lower() for c in df.columns]`.
    *
    * A file of a few MB is scanned on all the cores: the session's file
    * open cost ([[graft.GraftSession.FileOpenCostBytes]]) lets it split
    * into `defaultParallelism` byte ranges, each task reads the lines
    * that start in its range, and only the range at byte 0 drops the
    * header line. Files smaller than the open cost stay one split. */
  def readTsv(spark: SparkSession, path: String, sep: String = "\t"): DataFrame =
    normalizeHeaders(org.apache.spark.sql.graft.HeaderCsv.read(spark, path, Map("sep" -> sep)))

  /** Header hygiene: trim + lowercase column names (P2 prelude). */
  def normalizeHeaders(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(_.trim.toLowerCase): _*)

  /** U11/nb-cell-25 `infer_date_col`: pick the DataFrame's date column.
    *
    *   1. a date/timestamp-TYPED column wins immediately (the analog of
    *      the reference's "index is already datetime-like");
    *   2. else the first column with a common date name
    *      (date, month, period, time — reference's name scan);
    *   3. else the STRING column with the best `to_date` parse success
    *      rate over a driver-bounded sample, required > 0.5 (reference's
    *      `pd.to_datetime(errors="coerce").notna().mean()` scan —
    *      restricted to strings here: pandas would also "parse" integer
    *      columns as epoch offsets, which is never the intended column).
    *
    * The rate scan is ONE aggregate job over `limit(sampleRows)` — all
    * candidate columns measured in a single pass, no per-column jobs.
    * None when nothing qualifies (reference raises; callers route to an
    * explicit date_col parameter). */
  def inferDateCol(df: DataFrame, sampleRows: Int = 1000): Option[String] = {
    import org.apache.spark.sql.types.{DateType, TimestampType}
    val typed = df.schema.fields.find(f =>
      f.dataType == DateType || f.dataType == TimestampType).map(_.name)
    lazy val named = df.columns.find(c =>
      Seq("date", "month", "period", "time").contains(c.toLowerCase))
    lazy val bestByRate = {
      val strCols = df.schema.fields.filter(_.dataType == StringType).map(_.name).toSeq
      if (strCols.isEmpty) None
      else {
        // "__"-prefixed aliases: a data column literally named "n" (or any
        // candidate name) must not collide with the count/rate fields
        val aggs = count(lit(1)).as("__n") +:
          strCols.map(c => avg(to_date(col(c)).isNotNull.cast("double")).as(s"__rate_$c"))
        val rates = df.limit(sampleRows).agg(aggs.head, aggs.tail: _*).collect()(0)
        if (rates.getAs[Long]("__n") == 0L) None
        else strCols
          .map(c => c -> Option(rates.getAs[Double](s"__rate_$c")).getOrElse(0.0))
          .maxByOption(_._2)
          .collect { case (c, r) if r > 0.5 => c }
      }
    }
    typed.orElse(named).orElse(bestByRate)
  }

  /** P3: first-match-wins candidate-name discovery (reference `find_col`,
    * `load_CES_pandas.py:96-110`); fails loudly when nothing matches. */
  def findCol(df: DataFrame, candidates: Seq[String]): String =
    candidates.find(df.columns.contains).getOrElse(
      throw new IllegalArgumentException(
        s"none of ${candidates.mkString("[", ", ", "]")} found in ${df.columns.mkString("[", ", ", "]")}"))

  /** P2+P3: rename discovered candidate columns to canonical names.
    * `renames` maps canonical name -> candidate list. Canonical names whose
    * candidates are all absent are skipped unless `required`. */
  def canonicalize(df: DataFrame, renames: Map[String, Seq[String]],
                   required: Boolean = true): DataFrame =
    renames.foldLeft(df) { case (d, (canonical, candidates)) =>
      candidates.find(d.columns.contains) match {
        case Some(c) => d.withColumnRenamed(c, canonical)
        case None if required => throw new IllegalArgumentException(
          s"required column $canonical (any of $candidates) missing from ${d.columns.toSeq}")
        case None => d
      }
    }

  /** P4: string-cast + trim of key columns (reference
    * `prep_CES_pandas.py:117-125`). */
  def trimKeys(df: DataFrame, cols: Seq[String]): DataFrame =
    df.withColumns(cols.filter(df.columns.contains)
      .map(c => c -> trim(col(c).cast(StringType))).toMap)

  /** P1: keep-list projection that tolerates missing columns (reference
    * `load_CES_pandas.py:190-198`). */
  def keepExisting(df: DataFrame, keep: Seq[String]): DataFrame =
    df.select(keep.filter(df.columns.contains).map(col): _*)
}
