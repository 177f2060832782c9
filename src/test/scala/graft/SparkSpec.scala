package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for ScalaTest specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  /** Collect a single column as a Seq (nulls preserved as null). */
  def col1[T](df: DataFrame): Seq[Any] = df.collect().toSeq.map(_.get(0))

  def approx(a: Double, b: Double, tol: Double = 1e-9): Boolean = math.abs(a - b) <= tol

  /** Number of Spark jobs launched while `f` runs. */
  def jobsDuring(f: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(jobStart: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      f
      org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
      n.get()
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Runs `f` under a SparkListener and returns the task count of every
    * stage that ran meanwhile, in completion order. */
  def stageTaskCounts(f: => Unit): Seq[Int] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
    import scala.jdk.CollectionConverters._
    val counts = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        counts.add(e.stageInfo.numTasks)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      f
      org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
      counts.asScala.toSeq
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.tune(
    SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate())
}
