package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (fast iteration;
    // the driver always runs the full set)
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(',').toSet))
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // prefix-match + fail-loudly, same contract as Bench's
    // SPARK_GRAFT_ONLY: an exact-only or typo'd filter that matches
    // nothing would exit 0 with an empty outDir — and a STALE previous
    // outDir could then be compared as if fresh
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.exists(name.startsWith)) }
    if (only.isDefined && selected.isEmpty) {
      System.err.println(s"[verify] filter ${only.get.mkString(",")} matches no query")
      sys.exit(2)
    }
    selected.foreach { case (name, fn) =>
      // delete the query's out dir FIRST: a query that throws before its
      // write must leave a MISSING dir (a loud per-query failure in the
      // driver compare), not a previous run's parquet comparable as fresh
      val dest = java.nio.file.Paths.get(outDir, name)
      if (java.nio.file.Files.exists(dest)) {
        // Files.walk holds directory handles until closed — a per-query
        // leak adds up over a 381-query run
        val walk = java.nio.file.Files.walk(dest)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
        finally walk.close()
      }
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // free the query's rowTuned checkpoint blocks; frames are
      // single-use in this sequential runner
      org.apache.spark.sql.graft.CompactOrder.releaseStaged()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
