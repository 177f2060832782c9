package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{FormattedMode, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Writes one plan-fingerprint JSON for a set of registry queries:
  * query -> {hash, exchanges, range_exchanges, sorts}. `hash` is the
  * SHA-256 of the formatted physical plan with the tokens that differ
  * between two runs of the same code normalised away (expression, plan,
  * RDD and common-subexpression ids, object hashes, lambda classes,
  * source line numbers, temp paths); the counts walk the plan through
  * adaptive wrappers, query stages and subqueries. Two files made from
  * two trees differ at the queries whose plans changed, and can also
  * differ at a query whose formatted plan carries the adaptive plan of
  * a cached relation (q126, q343): its join choices are made at run
  * time, so its hash varies from one run to the next. q205's hash also
  * varies now and then, for a reason not yet found.
  *
  * args: outFile [comma-separated query prefixes | "all"]
  * NOTE: building a STREAMING twin's frame executes its drain; batch
  * frames stay lazy (plan-only). A query whose build throws is recorded
  * with its exception class in place of a hash.
  */
object PlanDump {
  private val tmp = java.util.regex.Pattern.quote(
    java.nio.file.Paths.get(sys.props("java.io.tmpdir")).toString)

  private val normalisers: Seq[(String, String)] = Seq(
    "#\\d+" -> "#",
    "plan_id=\\d+" -> "plan_id=",
    "RDD\\[\\d+\\]" -> "RDD[]",
    // a lambda's owner class is code identity, not plan shape: the same
    // plan built from a helper's closure names the helper's class
    "[\\w.$]*\\$\\$Lambda[^\\s,\\])]*" -> "<lambda>",
    "_common_expr_\\d+" -> "_common_expr_",
    "@[0-9a-f]{4,}\\b" -> "@",
    "\\.scala:\\d+" -> ".scala:",
    "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}" -> "<uuid>",
    tmp -> "<tmp>")

  def normalise(plan: String): String =
    normalisers.foldLeft(plan) { case (s, (re, to)) => s.replaceAll(re, to) }

  private def nodes(p: SparkPlan): Iterator[SparkPlan] = {
    val inner: Iterator[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case _ => Iterator.empty
    }
    Iterator(p) ++ inner ++ p.children.iterator.flatMap(nodes) ++
      p.subqueries.iterator.flatMap(nodes)
  }

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  def main(args: Array[String]): Unit = {
    val outFile = java.nio.file.Paths.get(args(0))
    val names: Seq[String] = args.lift(1) match {
      case None | Some("all") => SparkEntry.queries.keys.toSeq.sorted
      case Some(ps) =>
        val pre = ps.split(",").map(_.trim).filter(_.nonEmpty)
        SparkEntry.queries.keys.filter(n => pre.exists(n.startsWith)).toSeq.sorted
    }
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "24h")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rows = names.map { n =>
      val fields = try {
        val qe = SparkEntry.queries(n)(spark, d).queryExecution
        val hash = sha256(normalise(qe.explainString(FormattedMode)))
        var exchanges, range, sorts = 0
        nodes(qe.executedPlan).foreach {
          case s: ShuffleExchangeExec =>
            exchanges += 1
            if (s.outputPartitioning.isInstanceOf[RangePartitioning]) range += 1
          case _: SortExec => sorts += 1
          case _ => ()
        }
        s""""hash": "$hash", "exchanges": $exchanges, """ +
          s""""range_exchanges": $range, "sorts": $sorts"""
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] $n failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
          s""""error": "${e.getClass.getName}""""
      }
      s"""  "$n": {$fields}"""
    }
    Option(outFile.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(outFile, rows.mkString("{\n", ",\n", "\n}\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
