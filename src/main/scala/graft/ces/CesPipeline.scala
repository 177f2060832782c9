package graft.ces

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Cols
import graft.operators.Collapse

/** The reference's two canonical pipelines re-expressed Spark-first
  * (SURVEY §3; reference `prep_CES_pandas.py:105-186` and
  * `load_CES_pandas.py:157-267`).
  *
  * Differences from the reference, by design:
  *   - the per-career Python loop becomes a `career` column — every career
  *    flows through ONE plan (one scan of the fact table, one shuffle per
  *    aggregate, careers processed in parallel across executors);
  *   - filters are written where they read naturally; Catalyst pushes the
  *     monthly filter below the dictionary join either way;
  *   - dimension joins are explicit `broadcast` (dictionary ≪ fact).
  */
object CesPipeline {

  /** A career routing predicate over NAICS codes (reference `CAREER_NAICS`,
    * prep_CES_pandas.py:22-33). */
  final case class Career(name: String, exact: Seq[String], prefixes: Seq[String])

  /** Measure whitelist (F2) — the prep variant's upper-case datatype texts
    * (prep_CES_pandas.py:36-39). */
  val PrepMeasures = Seq(
    "ALL EMPLOYEES, THOUSANDS",
    "AVERAGE HOURLY EARNINGS OF ALL EMPLOYEES")

  val EmploymentMeasure = "ALL EMPLOYEES, THOUSANDS"
  val EarningsMeasure = "AVERAGE HOURLY EARNINGS OF ALL EMPLOYEES"

  /** J1+J2: series ⋈ industry ⋈ datatype → the flat series dictionary
    * (reference `build_dictionary`, prep_CES_pandas.py:132-136). Both dims
    * broadcast: thousands of rows against a fact table of millions+. */
  def buildDictionary(series: DataFrame, industry: DataFrame, datatype: DataFrame): DataFrame = {
    val s = CesIngest.trimKeys(series, Seq("series_id", "industry_code", "datatype_code", "seasonal"))
      .select("series_id", "industry_code", "datatype_code", "seasonal")
    val i = CesIngest.trimKeys(industry, Seq("industry_code", "naics_code"))
      .select("industry_code", "naics_code", "industry_name")
    val d = CesIngest.trimKeys(datatype, Seq("datatype_code"))
      .select("datatype_code", "datatype_text")
    s.join(broadcast(i), Seq("industry_code"), "left")
      .join(broadcast(d), Seq("datatype_code"), "left")
  }

  /** The prep-main enrichment: monthly filter (F1) BEFORE the big join
    * (Catalyst would push it anyway), casts (P5), dictionary join (J3),
    * month date (F-D1), measure whitelist (F2). */
  def enrich(data: DataFrame, dict: DataFrame,
             measures: Seq[String] = PrepMeasures,
             seasonal: Option[String] = None): DataFrame = {
    val monthly = CesIngest.trimKeys(data, Seq("series_id", "period"))
      .filter(col("period").rlike("^M(0[1-9]|1[0-2])$"))
      .withColumn("year", col("year").cast("int"))
      .withColumn("value", Cols.toDoubleCoerce(col("value")))
    val seasonalFiltered = seasonal.fold(monthly.join(broadcast(dict), Seq("series_id"), "left")) {
      s => monthly.join(broadcast(dict), Seq("series_id"), "left").filter(col("seasonal") === s)
    }
    seasonalFiltered
      .withColumn("date", Cols.makeMonthDate(col("year"), col("period")))
      .withColumn("datatype_text", trim(col("datatype_text")))
      .withColumn("naics_code", trim(col("naics_code")))
      .filter(col("datatype_text").isin(measures: _*))
  }

  /** F5: the per-career NAICS routing predicate (reference `naics_mask`). */
  def naicsMask(career: Career): Column =
    Cols.codeMatches(col("naics_code"), career.exact, career.prefixes)

  /** Route enriched rows into careers — one `career` column instead of the
    * reference's Python loop; rows matching several careers are duplicated
    * into each (same semantics as the loop). */
  def routeCareers(enriched: DataFrame, careers: Seq[Career]): DataFrame =
    enriched
      .withColumn("career", explode(filter(
        array(careers.map(c => when(naicsMask(c), lit(c.name))): _*),
        c => c.isNotNull)))

  /** `collapse_career` for all careers at once (reference
    * prep_CES_pandas.py:69-102): per (career, month) the employment sum and
    * the employment-weighted mean of hourly earnings, weights joined on
    * (career, date, industry_code). */
  def collapseCareers(routed: DataFrame): DataFrame = {
    val long = routed.select(
      col("career"), col("date"), col("industry_code").as("wkey"),
      when(col("datatype_text") === EmploymentMeasure, lit("emp"))
        .otherwise(lit("earn")).as("measure"),
      col("value"))
    Collapse.collapse(long,
      dateCol = "date", measureCol = "measure", valueCol = "value",
      weightMeasure = "emp", valueMeasure = "earn", weightKey = "wkey",
      extraKeys = Seq("career"),
      sumAs = "employment_thousands", wmeanAs = "avg_hourly_earnings")
  }

  /** Output schema of the v1 `extract_proxy_dataset` (pinned by the
    * committed header `bls_ces/out/mechanic_proxy_monthly.csv:1`). */
  val ProxyColumns = Seq("date", "year", "period", "series_id", "seasonal",
    "industry_code", "industry_name", "datatype_code", "datatype_text", "value")

  /** v1 `extract_proxy_dataset` (load_CES_pandas.py:157-200): enriched rows
    * for ONE career predicate, keep-list projected, sorted by
    * (datatype_text, industry_code, date). The seasonally adjusted and
    * unadjusted series of one industry and data type tie on that key, so
    * `series_id` breaks the tie: otherwise their order in a written file
    * would follow the order the scan's splits reach the sorting task. */
  def extractProxy(enriched: DataFrame, career: Career): DataFrame =
    CesIngest.keepExisting(enriched.filter(naicsMask(career)), ProxyColumns)
      .orderBy("datatype_text", "industry_code", "date", "series_id")

  /** Full prep-main: raw tables -> per-career monthly collapsed series.
    * Returns (career, date, employment_thousands, avg_hourly_earnings). */
  def prepMain(data: DataFrame, series: DataFrame, industry: DataFrame,
               datatype: DataFrame, careers: Seq[Career],
               seasonal: Option[String] = None): DataFrame = {
    val dict = buildDictionary(series, industry, datatype)
    collapseCareers(routeCareers(enrich(data, dict, PrepMeasures, seasonal), careers))
  }
}
