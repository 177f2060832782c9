package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{GraftSession, SparkEntry}
import graft.ces.{CesIngest, CesPipeline}
import graft.operators.ForecastPipeline
import graft.sources.Sinks
import graft.stats.{Diagnostics, Sarimax}

/** Wall clock in epoch microseconds, monotonic within the process, so op
  * boundaries line up with the epoch-millisecond times listeners report. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseMs * 1000L + (System.nanoTime() - baseNs) / 1000L
}

/** One timed or checked operation: one registry query, one CES query
  * (the v2 collapse or one v1 proxy extract), or one forecast fan. `marks` are the layer calls made inside
  * it (name, start µs, end µs); `events` is what the listeners saw (traced
  * passes only). */
final class OpRecord(val id: String, val name: String, val phase: String,
                     val iter: Int, val traced: Boolean) {
  var t0Us, t1Us, latNs = 0L
  var error: Option[String] = None
  var digest: Option[String] = None
  val marks = mutable.ArrayBuffer[(String, Long, Long)]()
  var events: OpEvents = null

  def toMap: Map[String, Any] = Map(
    "id" -> id, "name" -> name, "phase" -> phase, "iter" -> iter, "traced" -> traced,
    "t0_us" -> t0Us, "t1_us" -> t1Us, "lat_s" -> latNs / 1e9, "error" -> error,
    "digest" -> digest,
    "marks" -> marks.map { case (n, s, e) => Seq(n, s, e) }.toSeq,
    "events" -> Option(events).map(_.toMap))
}

final class Runner(probe: Option[Probe]) {
  val records = mutable.ArrayBuffer[OpRecord]()

  def op(name: String, phase: String, iter: Int, traced: Boolean)
        (body: OpRecord => Unit): OpRecord = {
    val rec = new OpRecord(s"$phase-$iter-$name", name, phase, iter, traced)
    val ev = if (traced) probe.map(_.begin()).orNull else null
    rec.t0Us = Clock.nowUs
    val n0 = System.nanoTime()
    try body(rec)
    catch { case e: Throwable =>
      rec.error = Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(500))
    }
    rec.latNs = System.nanoTime() - n0
    rec.t1Us = Clock.nowUs
    if (traced) probe.foreach(_.end())
    rec.events = ev
    records += rec
    rec
  }

  def mark[T](rec: OpRecord, name: String)(f: => T): T = {
    val s = Clock.nowUs
    try f finally rec.marks += ((name, s, Clock.nowUs))
  }
}

/** A workload: an untimed pass whose outputs are checked (it also warms
  * the JIT, codegen and relation caches), and a timed pass. */
trait Workload {
  def checkPass(r: Runner): Unit
  def timedPass(r: Runner, iter: Int, traced: Boolean): Unit
  /** Direct layer measurements made once, after the timed passes, in a
    * traced run. */
  def layerExtras(): Map[String, Any] = Map.empty
}

/** Registry queries over the generated tables, each written to the noop
  * sink, as `graft.Bench` times them. */
final class RegistryMix(spark: SparkSession, inDir: String, outDir: Path,
                        names: Seq[String]) extends Workload {
  private val fns = names.map(n => n -> SparkEntry.queries.getOrElse(n,
    throw new IllegalArgumentException(s"unknown registry query $n")))

  def checkPass(r: Runner): Unit = {
    fns.foreach { case (name, fn) =>
      r.op(name, "check", 0, traced = false) { rec =>
        val df = r.mark(rec, "entry.build")(fn(spark, inDir))
        df.coalesce(1).write.mode("overwrite").parquet(outDir.resolve(name).toString)
      }
      org.apache.spark.sql.graft.CompactOrder.releaseStaged()
    }
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Main.write(outDir.resolve("oracle_sql.json"), oracles)
  }

  def timedPass(r: Runner, iter: Int, traced: Boolean): Unit =
    fns.foreach { case (name, fn) =>
      r.op(name, "timed", iter, traced) { rec =>
        val df = r.mark(rec, "entry.build")(fn(spark, inDir))
        df.write.format("noop").mode("overwrite").save()
      }
      // outside the timer, as graft.Bench does
      org.apache.spark.sql.graft.CompactOrder.releaseStaged()
    }
}

/** The paper's pipeline over seeded inputs: the two reference CES
  * pipelines over BLS-layout TSVs (v2 collapses every career in one plan;
  * v1 extracts one proxy file per career), then SARIMAX fits per key and a
  * Monte-Carlo fan of simulated exogenous paths over monthly series,
  * collected to the Spark driver. */
final class CesWorkload(spark: SparkSession, inDir: String, outDir: Path, seed: Long)
    extends Workload {
  import CesPipeline.Career
  val careers = Seq(
    Career("mechanic", Nil, Seq("8111")),
    Career("graphic_designer", Seq("54143"), Nil),
    Career("software_developer", Seq("511210"), Seq("5415")))
  val v1Measures = Seq("All employees", "Average hourly earnings", "Average weekly hours")
  val horizon = 36
  val sims = 1000
  private lazy val monthly = spark.read.parquet(s"$inDir/series.parquet")

  private def read(r: Runner, rec: OpRecord) = {
    def tsv(name: String) = r.mark(rec, "ingest.read_tsv")(CesIngest.readTsv(spark, s"$inDir/$name"))
    val dt = Map("datatype_code" -> Seq("data_type_code", "datatype_code"))
    (tsv("ce.data"),
      CesIngest.canonicalize(tsv("ce.series"), dt),
      tsv("ce.industry"),
      CesIngest.canonicalize(tsv("ce.datatype"),
        dt + ("datatype_text" -> Seq("data_type_text", "datatype_text"))))
  }

  private def fan(): DataFrame = ForecastPipeline.sarimaxMonteCarloFan(monthly, Seq("key"),
    "month", "value", Some("exog"), horizon, sims, seed)

  /** Bit-level digest of the collected fan: doubles by their raw bits. */
  private def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach { row =>
      row.toSeq.foreach {
        case d: Double => md.update(java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d)).getBytes(UTF_8))
        case null => md.update("null".getBytes(UTF_8))
        case v => md.update(v.toString.getBytes(UTF_8))
      }
      md.update("\n".getBytes(UTF_8))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  private def pass(r: Runner, phase: String, iter: Int, traced: Boolean): Unit = {
    val dir = outDir.resolve(phase)
    r.op("v2_prep", phase, iter, traced) { rec =>
      val (data, series, industry, datatype) = read(r, rec)
      val out = r.mark(rec, "entry.build")(
        CesPipeline.prepMain(data, series, industry, datatype, careers))
      r.mark(rec, "sink.write")(
        Sinks.csvSingleFile(out, dir.resolve("v2_prep").toString, Seq("career", "date")))
    }
    // v1 writes one proxy file per career, each a query of its own that
    // re-reads and re-enriches the TSVs
    careers.foreach { c =>
      r.op(s"v1_${c.name}", phase, iter, traced) { rec =>
        val (data, series, industry, datatype) = read(r, rec)
        val proxy = r.mark(rec, "entry.build")(CesPipeline.extractProxy(CesPipeline.enrich(
          data, CesPipeline.buildDictionary(series, industry, datatype), v1Measures), c))
        r.mark(rec, "sink.write")(
          Sinks.csvSingleFile(proxy, dir.resolve(s"v1_${c.name}").toString, Nil))
      }
    }
    if (traced) r.op("models", phase, iter, traced) { rec =>
      r.mark(rec, "forecast.models")(Diagnostics.sarimaxModels(monthly, Seq("key"), "month",
        "value", Some("exog"), horizon).collect())
    }
    r.op("fan", phase, iter, traced) { rec =>
      val df = r.mark(rec, "entry.build")(fan())
      val rows = df.collect()
      rec.digest = Some(digest(rows))
      if (phase == "check") {
        val csv = (df.columns.mkString(",") +: rows.toSeq.map(_.toSeq.mkString(","))).mkString("\n")
        Files.write(outDir.resolve("fan.csv"), (csv + "\n").getBytes(UTF_8))
      }
    }
  }

  def checkPass(r: Runner): Unit = pass(r, "check", 0, traced = false)
  def timedPass(r: Runner, iter: Int, traced: Boolean): Unit = pass(r, "timed", iter, traced)

  /** The same AIC-best fit, one series after another on the Spark driver thread
    * with no Spark involved: the serial baseline for `sarimaxModels`. */
  override def layerExtras(): Map[String, Any] = {
    val byKey = monthly.orderBy("key", "month").collect()
      .groupBy(_.getAs[String]("key")).toSeq.sortBy(_._1)
    val ms = byKey.map { case (_, rows) =>
      val y = rows.map(_.getAs[Double]("value"))
      val x = rows.map(_.getAs[Double]("exog"))
      val t0 = System.nanoTime()
      Sarimax.fitBest(y, Some(x), Sarimax.ReferenceCandidates)
      (System.nanoTime() - t0) / 1e6
    }
    Map("fit_ms" -> ms)
  }
}

object Main {
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)
  def write(path: Path, value: Any): Unit = Files.write(path, json.writeValueAsBytes(value))

  private def arg(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`name`, v) => v }

  def main(args: Array[String]): Unit = {
    val out = Paths.get(arg(args, "--out").getOrElse(sys.error("--out is required")))
    if (args.contains("--list")) {
      val oracles = SparkEntry.oracleSql.keySet
      val names = SparkEntry.queries.keys.toSeq.sorted
      write(out, names.map(n => Map("name" -> n, "oracle" -> oracles.contains(n))))
      return
    }
    val workload = arg(args, "--workload").get
    val seed = arg(args, "--seed").get.toLong
    val seconds = arg(args, "--seconds").get.toDouble
    val traced = arg(args, "--trace").contains("1")
    val inDir = arg(args, "--inputs").get
    val work = Paths.get(arg(args, "--work").get)
    val cores = 4

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "24h")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftSession.tune(spark)
    // JVM start included: the process exists only to run this benchmark
    val sessionS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3

    val outDir = work.resolve("out")
    Files.createDirectories(outDir)
    val wl: Workload = workload match {
      case "registry_mix" =>
        new RegistryMix(spark, inDir, outDir, arg(args, "--queries").get.split(",").toSeq)
      case "ces_pipeline" => new CesWorkload(spark, inDir, outDir, seed)
      case other => sys.error(s"unknown workload $other")
    }
    val probe = if (traced) Some(new Probe(spark)) else None
    val r = new Runner(probe)

    val c0 = System.nanoTime()
    wl.checkPass(r)
    val checkS = (System.nanoTime() - c0) / 1e9

    // Timed passes run whole until `seconds` have passed, at least
    // `--min-passes` of them. A traced run alternates traced and untraced
    // passes, at least four, over twice the time, so the tracing overhead
    // is measured on the same process and inputs.
    val budgetNs = ((if (traced) 2 else 1) * seconds * 1e9).toLong
    val minPasses = if (traced) 4 else arg(args, "--min-passes").get.toInt
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    val m0 = System.nanoTime()
    var iter = 0
    while (iter < minPasses || System.nanoTime() - m0 < budgetNs) {
      iter += 1
      val tracedPass = traced && iter % 2 == 1
      if (tracedPass) probe.foreach(_.attach())
      val p0 = System.nanoTime()
      wl.timedPass(r, iter, tracedPass)
      passes += Map("iter" -> iter, "traced" -> tracedPass, "wall_s" -> (System.nanoTime() - p0) / 1e9)
      if (tracedPass) probe.foreach(_.detach())
    }
    val extras = if (traced) wl.layerExtras() else Map.empty[String, Any]

    val record = Map(
      "workload" -> workload, "seed" -> seed, "traced" -> traced, "cores" -> cores,
      "session_s" -> sessionS, "check_s" -> checkS,
      "passes" -> passes.toSeq, "ops" -> r.records.map(_.toMap).toSeq,
      "extras" -> extras,
      "knobs" -> Map("GRAFT_AQE" -> sys.env.get("GRAFT_AQE"),
        "GRAFT_UNSTAGED" -> sys.env.get("GRAFT_UNSTAGED"),
        "GRAFT_HASH" -> sys.env.get("GRAFT_HASH"),
        "hash_mode" -> graft.functions.Cols.HashMode,
        "adaptive" -> spark.conf.get("spark.sql.adaptive.enabled")),
      "spark_version" -> spark.version)
    write(out, record)
    spark.stop()
  }
}
