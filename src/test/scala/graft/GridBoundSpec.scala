package graft

/** The loud fence on the gridTuned contract (round-18, verdict item 4).
  *
  * `EntryHelpers.gridTuned` produces each member's final deterministic
  * ordering as a single-partition local sort — valid ONLY while the
  * output is contract-bounded (a key grid, calendar months, fixed bins,
  * a top-k). Round 17 chose the 290 members empirically (rows(sf0.1) ≤
  * 5000, growth ≤ 1.6× from sf0.01) — a one-off audit nothing
  * re-checks: a future registration whose output saturates at toy SF
  * but grows with the corpus would silently serialize its final stage
  * at 100 TB behind `Coalesce 1`.
  *
  * This spec re-derives the bound for EVERY grid-tagged registration on
  * every suite run, at two SFs: hard cap on the larger SF, plus a
  * growth cap so corpus-proportional outputs fail even while still
  * small. A violation names the query and fails CI loudly — the same
  * discipline as the GridFence collect bounds, applied to the final
  * sort.
  *
  * A member registered with a DECLARED bound (`gridTuned(maxRows = n)`,
  * whose construction caps its rows, e.g. q126's node ids mod 1013) is
  * checked against that bound at both SFs instead: a grid that saturates
  * between the two SFs reads as growth to the heuristic.
  */
class GridBoundSpec extends SparkSpec {

  test("every gridTuned registration stays grid-bounded across SFs") {
    val grid = SparkEntry.queries.toSeq.collect {
      case (n, f: EntryHelpers.TaggedQueryFn) if f.tag == "grid" => (n, f)
    }.sortBy(_._1)
    assert(grid.nonEmpty, "no gridTuned registrations found — tagging broke")

    val small = "/root/testdata/sf0.001"
    val big = "/root/testdata/sf0.01"
    val violations = grid.flatMap { case (name, fn) =>
      val r = scala.util.Try {
        val n0 = fn(spark, small).count()
        val n1 = fn(spark, big).count()
        (n0, n1)
      }
      r match {
        case scala.util.Success((n0, n1)) if fn.maxRows.isDefined =>
          val bound = fn.maxRows.get
          if (n0 > bound || n1 > bound)
            Some(s"$name: rows $n0 (sf0.001), $n1 (sf0.01) exceed the declared bound $bound")
          else None
        case scala.util.Success((n0, n1)) =>
          // hard cap: the single sort task must hold the whole result.
          // growth cap: 10x the data may fill in sparse grid cells (a
          // small-count floor absorbs that) but must not scale the
          // output with the corpus. A member empty at the small SF is
          // held to the floor alone.
          if (n1 > 5000) Some(s"$name: rows(sf0.01)=$n1 exceeds the 5000-row grid cap")
          else if (n1 > math.max(2.5 * n0, 64))
            Some(s"$name: rows grew $n0 -> $n1 across 10x data — output scales with the corpus")
          else None
        case scala.util.Failure(e) =>
          Some(s"$name: failed to evaluate: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    assert(violations.isEmpty,
      "gridTuned members whose output is NOT grid-bounded (move them to " +
        "tuned/rowTuned or re-derive their contract):\n" + violations.mkString("\n"))
  }
}
