package graft.ces

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Golden tests for the CES pipeline over FIXTURES.md §A-shaped TSVs:
  * mirrors the reference's input contracts (M13 annual rows to filter,
  * junk numeric values to coerce, whitespace-damaged headers/keys, junk
  * columns for the keep-list) with hand-computed expected outputs. */
class CesPipelineSpec extends SparkSpec {

  private lazy val dir = {
    val d = Files.createTempDirectory("ces_fixture")
    def write(name: String, lines: Seq[String]): Unit =
      Files.write(d.resolve(name), String.join("\n", lines: _*).getBytes)
    // headers deliberately whitespace-damaged; footnote_codes is junk
    write("ce.data.tsv", Seq(
      "series_id \tyear\tperiod\t value\tfootnote_codes",
      "S1 \t2020\tM01\t10.0\t",
      "S1\t2020\tM02\t20.0\t",
      "S1\t2020\tM13\t999.0\t",   // annual avg -> filtered by ^M(0[1-9]|1[0-2])$
      "S2\t2020\tM01\t30.0\t",
      "S2\t2020\tM02\tjunk\t",    // coerce -> null
      "S3\t2020\tM01\t7.5\t",     // earnings for I1
      "S3\t2020\tM02\t8.0\t",
      "S4\t2020\tM01\t9.0\t",     // earnings for I2
      "S5\t2020\tM01\t5.0\t"))    // series of an unrelated industry
    write("ce.series.tsv", Seq(
      "series_id\tindustry_code\tdata_type_code\tseasonal",
      "S1\tI1\t01\tS",
      "S2\tI2\t01\tS",
      "S3\tI1\t03\tS",
      "S4\tI2\t03\tS",
      "S5\tI9\t01\tS"))
    write("ce.industry.tsv", Seq(
      "industry_code\tnaics_code\tindustry_name",
      "I1\t8111 \tAutomotive repair",   // mechanic prefix 8111*
      "I2\t81112\tAuto body shops",
      "I9\t5413\tEngineering services")) // near-miss: not 8111 prefix
    write("ce.datatype.tsv", Seq(
      "data_type_code\tdata_type_text",
      "01\tALL EMPLOYEES, THOUSANDS",
      "03\tAVERAGE HOURLY EARNINGS OF ALL EMPLOYEES"))
    d.toString
  }

  private def tables = (
    CesIngest.readTsv(spark, s"$dir/ce.data.tsv"),
    CesIngest.canonicalize(CesIngest.readTsv(spark, s"$dir/ce.series.tsv"),
      Map("datatype_code" -> Seq("data_type_code", "datatype_code"))),
    CesIngest.readTsv(spark, s"$dir/ce.industry.tsv"),
    CesIngest.canonicalize(CesIngest.readTsv(spark, s"$dir/ce.datatype.tsv"),
      Map("datatype_code" -> Seq("data_type_code", "datatype_code"),
          "datatype_text" -> Seq("data_type_text", "datatype_text")))
  )

  private val mechanic = CesPipeline.Career("mechanic", Nil, Seq("8111"))

  test("readTsv: all-string load with trimmed lowercased headers") {
    val data = CesIngest.readTsv(spark, s"$dir/ce.data.tsv")
    assert(data.columns.toSeq === Seq("series_id", "year", "period", "value", "footnote_codes"))
    assert(data.schema.fields.forall(_.dataType.typeName == "string"))
  }

  /** One header-parity case under a fresh temp dir: each element of
    * `files` is one file's lines; a single file is returned as a file
    * path, several as a directory of part files. */
  private def tsvCase(files: Seq[String]*): String = {
    val d = Files.createTempDirectory("ces_header")
    def write(p: java.nio.file.Path, lines: Seq[String]) =
      Files.write(p, lines.mkString("\n").getBytes)
    if (files.size == 1) write(d.resolve("t.tsv"), files.head).toString
    else {
      files.zipWithIndex.foreach { case (lines, i) =>
        write(d.resolve(f"part-$i%05d.tsv"), lines) }
      d.toString
    }
  }

  test("readTsv: driver-read header names exactly what Spark's inference names") {
    val cases = Seq(
      "whitespace-damaged" -> tsvCase(Seq(" Series_ID \tyear\t value ", "S1\t2020\t1.0")),
      "case-only duplicates" -> tsvCase(Seq("Value\tvalue\tVALUE\tx", "1\t2\t3\t4")),
      "empty header cell" -> tsvCase(Seq("a\t\tc", "1\t2\t3")),
      "quoted tab" -> tsvCase(Seq("a\t\"b\tc\"\td", "1\t2\t3")),
      "leading blank line" -> tsvCase(Seq("", "a\tb", "1\t2")),
      // the larger part is first in the scan's order, so its header wins
      "two part files" -> tsvCase(
        Seq("k\tv_small", "a\t1"),
        Seq("k\tv_large", "b\t2", "c\t3", "d\t4")),
      "empty file" -> tsvCase(Nil))
    cases.foreach { case (what, p) =>
      val inferred = CesIngest.normalizeHeaders(
        spark.read.option("header", "true").option("sep", "\t").csv(p))
      val read = CesIngest.readTsv(spark, p)
      assert(read.schema === inferred.schema, what)
      assert(read.collect().toSeq.map(_.toSeq).sortBy(_.mkString("\u0001")) ===
        inferred.collect().toSeq.map(_.toSeq).sortBy(_.mkString("\u0001")), what)
    }
    assert(CesIngest.readTsv(spark, cases(1)._2).columns.toSeq === Seq("value0", "value1", "value2", "x"))
    assert(CesIngest.readTsv(spark, cases(5)._2).columns.toSeq === Seq("k", "v_large"))
    assert(CesIngest.readTsv(spark, cases(6)._2).columns.isEmpty)
  }

  test("readTsv: building the frame runs no Spark job") {
    assert(jobsDuring(CesIngest.readTsv(spark, s"$dir/ce.data.tsv")) === 0)
  }

  test("findCol: first match wins, absent fails loudly") {
    val data = CesIngest.readTsv(spark, s"$dir/ce.data.tsv")
    assert(CesIngest.findCol(data, Seq("seriesid", "series_id")) === "series_id")
    assertThrows[IllegalArgumentException](CesIngest.findCol(data, Seq("nope")))
  }

  test("buildDictionary: J1+J2 left joins on trimmed keys") {
    val (_, series, industry, datatype) = tables
    val dict = CesPipeline.buildDictionary(series, industry, datatype)
    val r = dict.filter(col("series_id") === "S1").collect().head
    assert(r.getAs[String]("naics_code") === "8111") // trailing space trimmed
    assert(r.getAs[String]("datatype_text") === "ALL EMPLOYEES, THOUSANDS")
  }

  test("enrich: M13 filtered, junk coerced to null, date derived") {
    val (data, series, industry, datatype) = tables
    val e = CesPipeline.enrich(data, CesPipeline.buildDictionary(series, industry, datatype))
    assert(e.filter(col("period") === "M13").isEmpty)
    val s2feb = e.filter(col("series_id") === "S2" && col("period") === "M02").collect().head
    assert(s2feb.get(s2feb.fieldIndex("value")) == null) // "junk" -> null
    assert(e.filter(col("series_id") === "S1" && col("period") === "M01")
      .select(col("date").cast("string")).collect().head.getString(0) === "2020-01-01")
  }

  test("extractProxy: committed output schema contract + sort order") {
    val (data, series, industry, datatype) = tables
    val e = CesPipeline.enrich(data, CesPipeline.buildDictionary(series, industry, datatype))
    val p = CesPipeline.extractProxy(e, mechanic)
    assert(p.columns.toSeq === CesPipeline.ProxyColumns)
    // near-miss industry I9 (naics 5413) excluded
    assert(p.filter(col("industry_code") === "I9").isEmpty)
  }

  test("extractProxy -> csvSingleFile: one file, rows sorted by (datatype_text, industry_code, date)") {
    val (data, series, industry, datatype) = tables
    val e = CesPipeline.enrich(data, CesPipeline.buildDictionary(series, industry, datatype))
    val p = CesPipeline.extractProxy(e, mechanic)
    val out = Files.createTempDirectory("ces_proxy").resolve("out").toString
    graft.sources.Sinks.csvSingleFile(p, out, Nil)
    val parts = new java.io.File(out).listFiles().filter(_.getName.endsWith(".csv"))
    assert(parts.length === 1)
    // one small file reads back as one partition, in file order
    val back = spark.read.option("header", "true").csv(parts.head.toString).collect().toSeq
    val expected = p.select(p.columns.map(c => col(c).cast("string")): _*).collect().toSeq
    assert(back.length === 7)
    assert(back === expected)
    val keys = back.map(r => (r.getAs[String]("datatype_text"), r.getAs[String]("industry_code"),
      r.getAs[String]("date")))
    assert(keys === keys.sorted)
  }

  /** A BLS-layout fact TSV of a few MB (several times the session's file
    * open cost, so a scan splits it across the cores) with its dimension
    * tables: 60 industries x 2 data types x S/U x 25 years x 13 periods,
    * header and keys whitespace-padded, rows in seeded random order so the
    * S and U rows that tie on the proxy's (datatype_text, industry_code,
    * date) key appear in either order. */
  private lazy val bigDir = {
    val d = Files.createTempDirectory("ces_split")
    def write(name: String, lines: Seq[String]): Unit =
      Files.write(d.resolve(name), lines.mkString("\n").getBytes)
    val rnd = new scala.util.Random(17)
    val industries = 1 to 60
    val series = for (i <- industries; dt <- Seq("01", "03"); sa <- Seq("S", "U"))
      yield (f"CE$sa$i%08d$dt", f"I$i%02d", dt, sa)
    val facts = for ((id, _, dt, _) <- series; y <- 1995 to 2019; m <- 1 to 13) yield {
      val v = if (dt == "01") rnd.nextDouble() * 1000 else 10 + rnd.nextDouble() * 40
      f" $id%-17s\t$y\tM$m%02d\t   " + "%.3f".formatLocal(java.util.Locale.ROOT, v) +
        (if (rnd.nextInt(9) == 0) "\tP" else "\t")
    }
    write("ce.data.tsv", "series_id        \tyear\tperiod\t       value\tfootnote_codes" +:
      rnd.shuffle(facts))
    write("ce.series.tsv", "series_id\tindustry_code\tdata_type_code\tseasonal" +:
      series.map { case (id, ind, dt, sa) => s"$id \t$ind\t$dt\t$sa" })
    write("ce.industry.tsv", "industry_code\tnaics_code\tindustry_name" +:
      industries.map(i => f"I$i%02d\t${if (i % 3 == 0) "8111" + i % 10 else "54" + i}\tindustry $i"))
    write("ce.datatype.tsv", Seq("data_type_code\tdata_type_text",
      "01\tALL EMPLOYEES, THOUSANDS", "03\tAVERAGE HOURLY EARNINGS OF ALL EMPLOYEES"))
    (d.toString, facts.size)
  }

  /** A tuned session whose scans read every file as one split. */
  private lazy val oneSplit = {
    val s = spark.newSession()
    s.conf.set(org.apache.spark.sql.internal.SQLConf.FILES_OPEN_COST_IN_BYTES.key, 1L << 30)
    graft.GraftSession.tune(s)
  }

  private def bigTables(s: org.apache.spark.sql.SparkSession) = {
    val dir = bigDir._1
    (CesIngest.readTsv(s, s"$dir/ce.data.tsv"),
      CesIngest.canonicalize(CesIngest.readTsv(s, s"$dir/ce.series.tsv"),
        Map("datatype_code" -> Seq("data_type_code"))),
      CesIngest.readTsv(s, s"$dir/ce.industry.tsv"),
      CesIngest.canonicalize(CesIngest.readTsv(s, s"$dir/ce.datatype.tsv"),
        Map("datatype_code" -> Seq("data_type_code"), "datatype_text" -> Seq("data_type_text"))))
  }

  test("readTsv: a multi-MB file scans on every core, with the rows of a one-split read") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.datasources.FilePartition
    val (dir, nFacts) = bigDir
    val split = CesIngest.readTsv(spark, s"$dir/ce.data.tsv")
    val whole = CesIngest.readTsv(oneSplit, s"$dir/ce.data.tsv")
    def scan(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    assert(stageTaskCounts(scan(split)) === Seq(spark.sparkContext.defaultParallelism))
    assert(stageTaskCounts(scan(whole)) === Seq(1))
    // every split after the first starts inside a record
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(s"$dir/ce.data.tsv"))
    val starts = split.queryExecution.executedPlan.collectFirst {
      case s: FileSourceScanExec => s.inputRDD.partitions.toSeq.flatMap {
        case p: FilePartition => p.files.map(_.start).toSeq
      }
    }.get
    assert(starts.size === spark.sparkContext.defaultParallelism)
    assert(starts.filter(_ > 0).forall(st => bytes(st.toInt - 1) != '\n'.toByte))
    // header dropped once, every record read once
    val a = split.collect().map(_.toSeq.mkString("\u0001")).sorted.toSeq
    val b = whole.collect().map(_.toSeq.mkString("\u0001")).sorted.toSeq
    assert(a.size === nFacts)
    assert(a === b)
    assert(split.filter(col("series_id").contains("series_id")).isEmpty)
  }

  test("extractProxy -> csvSingleFile: a split scan writes the bytes of a one-split scan") {
    def proxyFile(s: org.apache.spark.sql.SparkSession): Array[Byte] = {
      val (data, series, industry, datatype) = bigTables(s)
      val e = CesPipeline.enrich(data, CesPipeline.buildDictionary(series, industry, datatype))
      val out = Files.createTempDirectory("ces_split_proxy").resolve("out").toString
      graft.sources.Sinks.csvSingleFile(CesPipeline.extractProxy(e, mechanic), out, Nil)
      val parts = new java.io.File(out).listFiles().filter(_.getName.endsWith(".csv"))
      assert(parts.length === 1)
      Files.readAllBytes(parts.head.toPath)
    }
    val split = proxyFile(spark)
    assert(split.sameElements(proxyFile(oneSplit)))
    // the documented order, S/U ties broken by series_id
    val rows = new String(split).split("\n").toSeq.tail
      .map(_.split(",(?=(?:[^\"]*\"[^\"]*\")*[^\"]*$)", -1))
    val keys = rows.map(r => (r(8), r(5), r(0), r(3)))
    assert(rows.size === 20 * 2 * 2 * 25 * 12)
    assert(keys === keys.sorted)
  }

  test("prepMain on a split scan agrees with a one-split scan within 1e-12 relative") {
    val careers = Seq(mechanic, CesPipeline.Career("consulting", Nil, Seq("54")))
    def collapse(s: org.apache.spark.sql.SparkSession) = {
      val (data, series, industry, datatype) = bigTables(s)
      CesPipeline.prepMain(data, series, industry, datatype, careers)
        .orderBy("career", "date").collect().toSeq
    }
    val (a, b) = (collapse(spark), collapse(oneSplit))
    assert(a.size === 2 * 25 * 12)
    assert(a.map(r => (r.getString(0), r.get(1))) === b.map(r => (r.getString(0), r.get(1))))
    def close(x: Double, y: Double) = math.abs(x - y) <= 1e-12 * math.max(math.abs(x), math.abs(y))
    a.zip(b).foreach { case (x, y) =>
      assert(close(x.getAs[Double]("employment_thousands"), y.getAs[Double]("employment_thousands")))
      assert(close(x.getAs[Double]("avg_hourly_earnings"), y.getAs[Double]("avg_hourly_earnings")))
    }
  }

  test("prepMain golden: employment sum + employment-weighted earnings") {
    val (data, series, industry, datatype) = tables
    val out = CesPipeline.prepMain(data, series, industry, datatype, Seq(mechanic))
      .orderBy("date").collect()
    // Jan: emp = 10 (I1) + 30 (I2) = 40; earnings = (7.5*10 + 9.0*30)/40 = 8.625
    // Feb: emp = 20 (I1) + null (I2 junk) = 20; earnings = 8.0*20/20 = 8.0
    assert(out.length === 2)
    assert(approx(out(0).getAs[Double]("employment_thousands"), 40.0))
    assert(approx(out(0).getAs[Double]("avg_hourly_earnings"), 8.625))
    assert(approx(out(1).getAs[Double]("employment_thousands"), 20.0))
    assert(approx(out(1).getAs[Double]("avg_hourly_earnings"), 8.0))
  }

  test("routeCareers: overlapping predicates duplicate rows into each career") {
    val (data, series, industry, datatype) = tables
    val e = CesPipeline.enrich(data, CesPipeline.buildDictionary(series, industry, datatype))
    val both = CesPipeline.routeCareers(e,
      Seq(mechanic, CesPipeline.Career("narrow", Nil, Seq("81112"))))
    val careersOfI2 = both.filter(col("industry_code") === "I2")
      .select("career").distinct().collect().map(_.getString(0)).toSet
    assert(careersOfI2 === Set("mechanic", "narrow"))
  }

  test("inferDateCol: typed column wins, then common names, then parse-rate scan") {
    import graft.ces.CesIngest.inferDateCol
    import spark.implicits._
    // 1. typed date column wins even when a name-candidate exists
    val typed = Seq(("2020-01-01", "x"))
      .toDF("period", "junk")
      .withColumn("observed", to_date(col("period")))
    assert(inferDateCol(typed) == Some("observed"))
    // 2. common name wins over a better-parsing string column
    val named = Seq(("not a date", "2020-01-01")).toDF("month", "other")
    assert(inferDateCol(named) == Some("month"))
    // 3. parse-rate fallback picks the string column that parses
    val scan = Seq(("abc", "2020-01-01"), ("def", "2020-02-01"), ("ghi", "junk"))
      .toDF("label", "observed_at")
    assert(inferDateCol(scan) == Some("observed_at"))
    // 4. nothing qualifies -> None
    val none = Seq(("a", 1)).toDF("label", "n")
    assert(inferDateCol(none).isEmpty)
    // rate must clear 0.5: a column parsing 1 of 3 rows does not qualify
    val weak = Seq(("2020-01-01", "x"), ("junk", "y"), ("junk2", "z")).toDF("s", "t")
    assert(inferDateCol(weak).isEmpty)
  }
}
