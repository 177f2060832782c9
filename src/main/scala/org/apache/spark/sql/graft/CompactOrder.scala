// Lives inside an org.apache.spark.sql subpackage for the private[sql]
// Dataset.ofRows bridge — the standard third-party extension pattern
// (see CosineSim / AsofJoinNative in this directory).
package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Repartition, Sort}
import org.apache.spark.sql.classic.Dataset

/** Rewrites a query's FINAL deterministic ordering from a global sort
  * (range `Exchange` + its separate range-bounds sampling job) to a
  * single-partition local sort: `Sort(order, global = true, child)` →
  * `Sort(order, global = false, Repartition(1, shuffle = false, child))`
  * — i.e. exactly `df.coalesce(1).sortWithinPartitions(order)`.
  *
  * Row content AND total row order are identical by construction: a
  * local sort over one partition containing every row IS a total order
  * under the same `SortOrder` keys. What changes is only the physical
  * route: the range exchange disappears (coalesce is a narrow
  * dependency) and so does the `RangePartitioner` sampling pass over the
  * sort input — the optimization guide's §2.4 "orderBy used only to make
  * output deterministic" accidental shuffle. Measured on the bench
  * session shape (sf0.1, local[32]) by a within-session A/B of the two
  * final sorts: −0.25–0.35 s and −2 jobs per mid-band grid query.
  *
  * ONLY valid for queries whose output is CONTRACT-BOUNDED (key grids,
  * top-k, calendar months, fixed bins): the single sort task must hold
  * the whole result, which for a grid output is as true at 100 TB as at
  * sf0.1. Callers (the registry's `gridTuned` wrapper) own that
  * contract; row-scale outputs keep their global sort. Applied only when
  * the plan ROOT is a global Sort — anything else (limit-topped plans,
  * mid-plan window sorts) is returned unchanged. The contract itself is
  * fenced by `GridBoundSpec`, which re-derives the bound empirically for
  * every gridTuned registration at two SFs each suite run, so an
  * output misclassified as grid-bounded fails CI loudly instead of
  * silently serializing its final stage at scale.
  */
object CompactOrder {
  def apply(df: DataFrame): DataFrame = localSortInOnePartition(df, shuffle = false).getOrElse(df)

  /** A root global `Sort` as a local sort over one partition, reached by
    * a narrow coalesce or a single-partition shuffle; None for any other
    * root. */
  private def localSortInOnePartition(df: DataFrame, shuffle: Boolean): Option[DataFrame] =
    df.queryExecution.logical match {
      case Sort(order, true, child, hint) => Some(Dataset.ofRows(
        df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
        Sort(order, global = false, Repartition(1, shuffle, child), hint)))
      case _ => None
    }

  /** The single-partition frame a single-file sink writes. A root global
    * `Sort` — whether the caller's `orderBy` or the frame's own — becomes
    * `Sort(order, global = false, Repartition(1, shuffle = true, child))`:
    * one task writes the file, so a local sort over its one partition is
    * the total order, with no range exchange and no `RangePartitioner`
    * sampling job over the upstream. Unlike [[apply]]'s narrow coalesce,
    * the single-partition SHUFFLE keeps the upstream (a multi-split scan,
    * joins) on all its tasks and funnels only the result. An unsorted
    * frame has no order to keep and is coalesced. */
  def onePartition(df: DataFrame): DataFrame =
    localSortInOnePartition(df, shuffle = true).getOrElse(df.coalesce(1))

  /** Plan-introspection escape for [[staged]]: while > 0, `staged` is
    * the identity, so plan contracts (PlanSpec) and plan dumps see the
    * REAL child plan instead of the checkpoint's opaque `LogicalRDD`, and
    * a staging A/B (`StagingAB`) builds the unstaged twin in the same
    * JVM. The round-17 snapshot shipped without this and made 10 pinned
    * plan contracts unobservable (q11 PushedFilters, q29 ReadSchema, …)
    * — worse, their negative assertions passed vacuously. The depth is
    * per thread: an introspected build on one thread leaves staging on
    * for frames built concurrently on others. */
  private val introspectDepth = ThreadLocal.withInitial[Int](() => 0)
  private[graft] def introspecting: Boolean = introspectDepth.get > 0
  def introspected[T](f: => T): T = {
    introspectDepth.set(introspectDepth.get + 1)
    try f finally introspectDepth.set(introspectDepth.get - 1)
  }

  /** Checkpoint RDDs created by [[staged]] and not yet released. A
    * localCheckpoint materializes the full row-scale result to executor
    * local storage and nothing unpersists it until the JVM's
    * ContextCleaner notices the dead reference — over a ~100-query
    * sequential runner session that accumulates block-manager storage
    * for no benefit (r17 advisor item). The runners (Bench, Verify) call
    * [[releaseStaged]] after each query's consuming action; a released
    * frame must not be re-executed (the checkpoint truncated its
    * lineage), which holds for the strictly sequential
    * one-action-per-frame runners and is why release is NOT wired into
    * ad-hoc consumers like tests.
    *
    * The queue holds WEAK references: a consumer that never calls
    * [[releaseStaged]] (tests, sweep mains) does not pin the checkpoint
    * blocks for the JVM's life — once its frame is unreachable the RDD is
    * collected and the ContextCleaner drops its blocks. Cleared entries
    * are purged on every add, so the queue stays as long as the live
    * staged frames. */
  private val stagedRdds = new java.util.concurrent.ConcurrentLinkedQueue[
    java.lang.ref.WeakReference[org.apache.spark.rdd.RDD[_]]]()
  private def track(rdd: org.apache.spark.rdd.RDD[_]): Unit = {
    stagedRdds.removeIf(_.get == null)
    stagedRdds.add(new java.lang.ref.WeakReference(rdd))
  }
  def releaseStaged(): Unit = {
    var ref = stagedRdds.poll()
    while (ref != null) {
      val r = ref.get
      if (r != null) try r.unpersist(blocking = false) catch { case _: Throwable => () }
      ref = stagedRdds.poll()
    }
  }

  /** For ROW-SCALE outputs, where the distributed global sort must
    * stay: stage a lazy `localCheckpoint` under the final `Sort`. A
    * range exchange builds its partition bounds by SAMPLING the child
    * RDD in a separate pass — `RangePartitioner.sketch` reservoir-reads
    * every row — so an un-staged final orderBy executes the ENTIRE
    * upstream plan twice (measured on q358: the readout step cost ≈ the
    * whole upstream again). With the checkpoint, the first pass
    * materializes the result to local storage and the sampling + shuffle
    * passes re-read blocks instead of recomputing joins/aggregations.
    * Same rows, same order, same distributed sort; one compute instead
    * of two.
    *
    * The trade, carried explicitly: the result materializes ONCE to
    * executor-local storage (released by the runner via
    * [[releaseStaged]]), and a LOCAL checkpoint is not fault-tolerant —
    * losing an executor loses its blocks and fails the job instead of
    * recomputing from lineage. On a real cluster with churn, a reliable
    * checkpoint (or recomputing the sampling pass) is the safer dial. */
  def staged(df: DataFrame): DataFrame =
    if (introspecting) df
    else df.queryExecution.logical match {
      case Sort(order, true, child, hint) =>
        val spark = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        val ck = Dataset.ofRows(spark, child).localCheckpoint(false)
        ck.queryExecution.analyzed match {
          case lr: org.apache.spark.sql.execution.LogicalRDD => track(lr.rdd)
          case _ => ()
        }
        Dataset.ofRows(spark, Sort(order, global = true, ck.queryExecution.analyzed, hint))
      case _ => df
    }
}
