package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MonteCarloSpec extends SparkSpec {
  import spark.implicits._

  test("simulatePaths: deterministic across runs and repartitioning (counter-based RNG)") {
    def run(parts: Int) =
      MonteCarlo.simulatePaths(spark, sims = 10, horizon = 5, start = 100.0,
        mu = 0.0, sigma = 1.0, seed = 7L)
        .repartition(parts)
        .orderBy("sim_id", "step")
        .as[(Long, Int, Double)].collect().toSeq
    assert(run(1) === run(8)) // partition-independent, unlike randn(seed)
  }

  test("simulatePaths: clipMin floors values") {
    val vals = MonteCarlo.simulatePaths(spark, 50, 10, start = 0.0,
      mu = -10.0, sigma = 1.0, seed = 1L, clipMin = Some(0.0))
      .select("value").as[Double].collect().toSeq
    assert(vals.forall(_ >= 0.0))
  }

  test("simulatePaths: draws are approximately standard normal") {
    val z = MonteCarlo.simulatePaths(spark, 2000, 1, start = 0.0,
      mu = 0.0, sigma = 1.0, seed = 42L)
      .select("value").as[Double].collect()
    val mean = z.sum / z.length
    val sd = math.sqrt(z.map(x => (x - mean) * (x - mean)).sum / (z.length - 1))
    assert(math.abs(mean) < 0.1, s"mean=$mean")
    assert(math.abs(sd - 1.0) < 0.1, s"sd=$sd")
  }

  test("fan: quantile ordering p05<=p50<=p95, min<=mean<=max per step") {
    val fan = MonteCarlo.fan(
      MonteCarlo.simulatePaths(spark, 200, 4, 100.0, 0.5, 2.0, seed = 42L))
      .collect().toSeq
    assert(fan.size === 4)
    fan.foreach { r =>
      val (p05, p50, p95) = (r.getAs[Double]("p05"), r.getAs[Double]("p50"), r.getAs[Double]("p95"))
      assert(p05 <= p50 && p50 <= p95)
      assert(r.getAs[Double]("min") <= r.getAs[Double]("mean"))
      assert(r.getAs[Double]("mean") <= r.getAs[Double]("max"))
    }
  }

  test("fitDrift: mean/std of first differences over trailing window (A9)") {
    // series 0, 1, 3, 6 -> diffs 1, 2, 3 -> mu=2, sigma=1
    val df = Seq(("2020-01-01", 0.0), ("2020-02-01", 1.0), ("2020-03-01", 3.0), ("2020-04-01", 6.0))
      .toDF("month", "v").withColumn("month", to_date(col("month")))
    val r = MonteCarlo.fitDrift(df, Nil, "month", "v", window = 10).collect().head
    assert(approx(r.getAs[Double]("mu"), 2.0))
    assert(approx(r.getAs[Double]("sigma"), 1.0))
  }

  test("fanApproxKeyed: sketch quantiles track the exact fan within rank-error bounds") {
    val paths = MonteCarlo.simulatePaths(spark, sims = 500, horizon = 10,
      start = 100.0, mu = 0.5, sigma = 2.0, seed = 7L)
    val exact = MonteCarlo.fan(paths).collect().map(r => r.getAs[Int]("step") -> r).toMap
    val sketch = MonteCarlo.fanApproxKeyed(paths).collect()
    sketch.foreach { r =>
      val e = exact(r.getAs[Int]("step"))
      Seq("p05", "p10", "p50", "p90", "p95").foreach { c =>
        val d = math.abs(r.getAs[Double](c) - e.getAs[Double](c))
        // 500 values at accuracy 10000 -> the sketch is near-exact; allow
        // a generous absolute slack relative to the path spread (~sigma*10)
        assert(d <= 1.0, s"step ${r.get(0)} $c off by $d")
      }
      // non-sketched moments: same aggregates, but partial-merge order is
      // nondeterministic across the two jobs -> ulp tolerance for the sum
      assert(approx(r.getAs[Double]("mean"), e.getAs[Double]("mean"), 1e-9))
      assert(r.getAs[Double]("max") == e.getAs[Double]("max")) // order-independent
    }
  }

  test("fanKeyed: ONE fused percentile aggregate, bit-equal to per-quantile percentiles") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.expressions.aggregate.{ApproximatePercentile, Percentile}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val qs = Seq(0.05, 0.10, 0.50, 0.90, 0.95)
    val names = Seq("p05", "p10", "p50", "p90", "p95")
    val paths = MonteCarlo.simulatePaths(spark, sims = 300, horizon = 6, start = 100.0,
      mu = 0.5, sigma = 2.0, seed = 11L)
      .withColumn("key", when(col("sim_id") % 3 === 0, "a").otherwise("b"))
    // how many `fn` aggregates each aggregate node of the executed plan carries
    def quantileFns(df: DataFrame, fn: Class[_]): Seq[Int] = {
      df.collect()
      new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
        case a: BaseAggregateExec => a.aggregateExpressions.count(e => fn.isInstance(e.aggregateFunction))
      }
    }

    val fused = MonteCarlo.fanKeyed(paths, Seq("key"), qs)
    assert(fused.columns.toSeq ==
      Seq("key", "step") ++ names ++ Seq("mean", "std", "min", "max"))
    // the per-quantile form the fan replaced
    val perQ = paths.groupBy("key", "step")
      .agg(percentile(col("value"), lit(qs.head)).as(names.head),
        qs.tail.zip(names.tail).map { case (q, n) => percentile(col("value"), lit(q)).as(n) }: _*)
      .orderBy("key", "step")
    def bits(df: DataFrame) = df.select(("key" +: "step" +: names).map(col): _*).collect()
      .map(r => (r.getString(0), r.getInt(1),
        names.indices.map(i => java.lang.Double.doubleToRawLongBits(r.getDouble(i + 2)))))
      .toSeq
    val got = bits(fused)
    assert(got.length == 12)
    assert(got == bits(perQ), "fused quantiles differ from per-quantile percentiles")

    val fusedFns = quantileFns(fused, classOf[Percentile])
    assert(fusedFns.nonEmpty && fusedFns.forall(_ == 1), s"percentiles per aggregate: $fusedFns")
    val perQFns = quantileFns(perQ, classOf[Percentile]) // the count sees the unfused form
    assert(perQFns.nonEmpty && perQFns.forall(_ == 5), s"per-quantile form: $perQFns")
    val approxFns = quantileFns(MonteCarlo.fanApproxKeyed(paths, Seq("key"), qs),
      classOf[ApproximatePercentile])
    assert(approxFns.nonEmpty && approxFns.forall(_ == 1),
      s"approx percentiles per aggregate: $approxFns")
  }

  test("poissonBootstrapCi: brackets the mean, deterministic, full replicate set") {
    import spark.implicits._
    val df = (1 to 500).map(i => ("k", i.toLong, i.toLong)).toDF("k", "id", "v")
    val out = MonteCarlo.poissonBootstrapCi(df, Seq("k"), "id", "v",
      replicates = 100).collect().head
    val (mean, lo, hi) = (out.getAs[Long]("mean_e6"),
      out.getAs[Long]("lo_e6"), out.getAs[Long]("hi_e6"))
    assert(out.getAs[Long]("n") == 500L)
    assert(mean == 250500000L) // 250.5 exactly
    assert(lo <= mean && mean <= hi, s"($lo, $mean, $hi)")
    assert(lo < hi && (hi - lo) < mean / 2, s"interval implausibly wide: $lo..$hi")
    assert(out.getAs[Long]("n_reps") == 100L)
    // counter-based weights: a second run is bit-identical
    val again = MonteCarlo.poissonBootstrapCi(df, Seq("k"), "id", "v",
      replicates = 100).collect().head
    assert(again.getAs[Long]("lo_e6") == lo && again.getAs[Long]("hi_e6") == hi)
  }

  test("poissonBootstrapCi: thresholds follow the Poisson(1) CDF shape") {
    val ts = MonteCarlo.PoissonThresholdsE31
    assert(ts.length == 7)
    assert(ts == ts.sorted)
    // P(X=0) = e^-1: the first threshold sits at ~36.8% of the modulus
    assert(math.abs(ts.head / 2147483647.0 - math.exp(-1.0)) < 1e-9)
    assert(ts.last / 2147483647.0 > 0.9999)
  }
}
