package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.CompactOrder

/** Staging A/B over the registry: for every member tagged "row"
  * ([[EntryHelpers.rowTuned]]), times the normal build, which stages a
  * localCheckpoint under the final global sort, against the same build
  * inside [[CompactOrder.introspected]], which keeps the plain global sort.
  * One JVM; per member, warm-up pairs and then timed pairs, the order of
  * the two arms alternating from pair to pair. Each run builds the frame,
  * writes it to the noop sink and releases the staged blocks, as the
  * runners do.
  *
  * Run: `sbt "Test/runMain graft.StagingAB <sfDir> [pairs=4] [warmup=2] [cpus=4]"`.
  * Prints one `STAGING` line per member (median seconds of each arm, the
  * unstaged/staged ratio, and how many pairs each arm won) and a total
  * line with the summed medians.
  */
object StagingAB {
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val pairs = args.lift(1).fold(4)(_.toInt)
    val warmup = args.lift(2).fold(2)(_.toInt)
    val cpus = args.lift(3).getOrElse("4")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftSession.tune(spark)

    val members = SparkEntry.queries.toSeq.collect {
      case (n, f: EntryHelpers.TaggedQueryFn) if f.tag == "row" => (n, f)
    }.sortBy(_._1)
    println(s"STAGING ${members.size} row members, sf=$sfDir, local[$cpus], " +
      s"$warmup warm-up + $pairs timed pairs")

    def run(f: EntryHelpers.TaggedQueryFn, unstaged: Boolean): Double = {
      val t0 = System.nanoTime()
      def write(): Unit = f(spark, sfDir).write.format("noop").mode("overwrite").save()
      if (unstaged) CompactOrder.introspected(write()) else write()
      val s = (System.nanoTime() - t0) / 1e9
      CompactOrder.releaseStaged()
      s
    }
    /** (staged, unstaged) seconds of pair `i`; odd pairs run unstaged first. */
    def pair(f: EntryHelpers.TaggedQueryFn, i: Int): (Double, Double) =
      if (i % 2 == 0) { val s = run(f, false); (s, run(f, true)) }
      else { val u = run(f, true); (run(f, false), u) }

    val results = members.flatMap { case (name, f) =>
      try {
        (0 until warmup).foreach(pair(f, _))
        val ps = (0 until pairs).map(pair(f, _))
        val (st, un) = (median(ps.map(_._1)), median(ps.map(_._2)))
        val stagedWins = ps.count { case (s, u) => s < u }
        println(f"STAGING $name%-40s staged=$st%7.3f s  unstaged=$un%7.3f s  " +
          f"ratio=${un / st}%5.2f  staged wins $stagedWins/$pairs")
        Some((st, un, stagedWins))
      } catch {
        case e: Throwable =>
          System.err.println(s"[staging] $name failed: ${e.getMessage}")
          None
      }
    }
    println(f"STAGING total over ${results.size} members: " +
      f"staged=${results.map(_._1).sum}%.2f s  unstaged=${results.map(_._2).sum}%.2f s  " +
      s"staging won every pair on ${results.count(_._3 == pairs)}, " +
      s"lost every pair on ${results.count(_._3 == 0)}")
    spark.stop()
  }
}
