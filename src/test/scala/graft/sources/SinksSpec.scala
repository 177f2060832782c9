package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

class SinksSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String) =
    Files.createTempDirectory(name).resolve("out").toString

  test("csvSingleFile: one part file, header, sorted rows") {
    val dir = tmp("csv_sink")
    Sinks.csvSingleFile(Seq((2, "b"), (1, "a"), (3, "c")).toDF("id", "v"), dir, Seq("id"))
    val parts = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".csv"))
    assert(parts.length === 1)
    val lines = scala.io.Source.fromFile(parts.head).getLines().toSeq
    assert(lines.head === "id,v")
    assert(lines.tail === Seq("1,a", "2,b", "3,c"))
  }

  test("csvSingleFile: a root orderBy sorts in the writing task, behind a " +
    "single-partition shuffle — no range sampling, the scan stays on 4 tasks") {
    import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.util.QueryExecutionListener
    val df = spark.range(0, 1000, 1, 4).toDF().orderBy(desc("id"))
    val dir = tmp("csv_sink_plan")
    val executed = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = executed.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val tasks = try stageTaskCounts(Sinks.csvSingleFile(df, dir, Nil))
      finally spark.listenerManager.unregister(listener)
    val partitionings = executed.toArray(Array.empty[QueryExecution]).toSeq.flatMap(qe =>
      new AdaptiveSparkPlanHelper {}.collect(qe.executedPlan) {
        case e: ShuffleExchangeLike => e.outputPartitioning
      })
    assert(!partitionings.exists(_.isInstanceOf[RangePartitioning]), partitionings)
    assert(partitionings.count(_ == SinglePartition) === 1, partitionings)
    assert(tasks === Seq(4, 1), "the range scan must run on its 4 tasks, only the sort + write on 1")
    // same file, line for line, as the range-sorted orderBy + coalesce(1)
    val ranged = tmp("csv_sink_plan_ranged")
    df.coalesce(1).write.option("header", "true").csv(ranged)
    def lines(d: String) = {
      val part = new java.io.File(d).listFiles().filter(_.getName.endsWith(".csv"))
      assert(part.length === 1)
      val src = scala.io.Source.fromFile(part.head)
      try src.getLines().toList finally src.close()
    }
    assert(lines(dir) === lines(ranged))
    assert(lines(dir).take(3) === List("id", "999", "998"))
  }

  test("parquetPartitioned: per-key directories readable with pruning") {
    val dir = tmp("pq_sink")
    Sinks.parquetPartitioned(
      Seq(("mech", 1.0), ("swe", 2.0), ("mech", 3.0)).toDF("career", "v"),
      dir, Seq("career"))
    val sub = new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("career=")).sorted
    assert(sub.toSeq === Seq("career=mech", "career=swe"))
    val back = spark.read.parquet(dir).filter(col("career") === "mech")
    assert(back.count() === 2)
  }

  test("jsonl: write + explicit-schema read round-trips losslessly") {
    val dir = java.nio.file.Files.createTempDirectory("graft_jsonl_spec").toString + "/out"
    val df = Seq(
      (1L, "plain text", 10L),
      (2L, "quotes \" and \\ backslash\nnewline", 31L),
      (3L, null: String, 0L)
    ).toDF("id", "text", "n")
    Sinks.jsonl(df, dir)
    val back = Sinks.readJsonl(spark, dir, df.schema)
    assert(back.orderBy("id").collect().toSeq === df.orderBy("id").collect().toSeq)
  }

  test("orc: write + explicit-schema read round-trips losslessly") {
    val dir = java.nio.file.Files.createTempDirectory("graft_orc_spec").toString + "/out"
    val df = Seq(
      (1L, "plain text", 10L),
      (2L, "unicode üé and spaces  ", 31L),
      (3L, null: String, 0L)
    ).toDF("id", "text", "n")
    Sinks.orc(df, dir)
    val back = Sinks.readOrc(spark, dir, df.schema)
    assert(back.orderBy("id").collect().toSeq === df.orderBy("id").collect().toSeq)
  }

  test("xml: write + explicit-schema read round-trips (XML-escaped content)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_xml_spec").toString + "/out"
    val df = Seq(
      (1L, "plain text", 10L),
      (2L, "angle <brackets> & ampersand 'quotes' \"here\"", 44L),
      (3L, "unicode üé café", 15L),
      (4L, "  whitespace-edged  ", 20L)
    ).toDF("id", "text", "n")
    Sinks.xml(df, dir)
    val back = Sinks.readXml(spark, dir, df.schema)
    assert(back.orderBy("id").collect().toSeq === df.orderBy("id").collect().toSeq)
  }

  test("writeUnlessEmpty: guards the write and reports") {
    var wrote = false
    var warned: Option[String] = None
    val ok = Sinks.writeUnlessEmpty(Seq(1).toDF("x"), _ => wrote = true)
    assert(ok && wrote)
    val empty = Seq.empty[Int].toDF("x")
    val ok2 = Sinks.writeUnlessEmpty(empty, _ => fail("must not write"),
      msg => warned = Some(msg))
    assert(!ok2 && warned.isDefined)
  }

  test("writeCompacted: collapses a fragmented directory to the size target") {
    val frag = tmp("compact_src")
    val out = tmp("compact_out")
    // scatter ~40k rows over 64 files (each a few KB — the small-files shape)
    val df = (1 to 40000).map(i => (i.toLong, s"row_$i", (i * 37) % 1000))
      .toDF("id", "payload", "v")
    df.repartition(64).write.mode("overwrite").parquet(frag)
    def partFiles(p: String) =
      new java.io.File(p).listFiles.count(f => f.getName.startsWith("part-"))
    assert(partFiles(frag) == 64)
    val src = spark.read.parquet(frag)
    val declared = Sinks.writeCompacted(src, out, targetFileBytes = 512L * 1024)
    val written = partFiles(out)
    assert(written == declared, s"declared $declared files, wrote $written")
    assert(written < 16, s"compaction left $written files for a ~1MB dataset")
    // pure rewrite: same rows
    assert(spark.read.parquet(out).orderBy("id").collect().toSeq ===
      df.orderBy("id").collect().toSeq)
  }
}
