"""Self-tests of the benchmark's own arithmetic. No Spark needed:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import statistics
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import metrics  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_matches_linear_interpolation(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0]
        self.assertEqual(metrics.percentile(xs, 0), 1.0)
        self.assertEqual(metrics.percentile(xs, 50), 3.0)
        self.assertEqual(metrics.percentile(xs, 100), 5.0)
        self.assertAlmostEqual(metrics.percentile(xs, 75), 4.0)
        self.assertAlmostEqual(metrics.percentile([1.0, 2.0], 75), 1.75)
        self.assertAlmostEqual(metrics.percentile(list(range(1, 49)), 75), 36.25)

    def test_agrees_with_statistics_inclusive(self):
        xs = [0.3, 0.9, 0.1, 0.7, 0.5, 0.2, 1.4, 0.8]
        q = statistics.quantiles(xs, n=4, method="inclusive")
        self.assertAlmostEqual(metrics.percentile(xs, 25), q[0])
        self.assertAlmostEqual(metrics.percentile(xs, 75), q[2])

    def test_single_and_empty(self):
        self.assertEqual(metrics.percentile([2.5], 75), 2.5)
        with self.assertRaises(ValueError):
            metrics.percentile([], 50)


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(metrics.union_length([(0, 10)], 2, 4), 2)
        self.assertEqual(metrics.union_length([(3, 1)]), 0)
        self.assertEqual(metrics.union_length([]), 0)

    def test_outside_task_time(self):
        # op 0..100 ms; tasks cover 10..30, 20..40 (overlap) and 90..120
        tasks = [(10, 30), (20, 40), (90, 120)]
        self.assertEqual(metrics.outside_task((0, 100), tasks), 100 - 30 - 10)
        self.assertEqual(metrics.outside_task((0, 100), []), 100)
        self.assertEqual(metrics.outside_task((0, 100), [(-5, 200)]), 0)


class SpanTest(unittest.TestCase):
    def test_self_time_subtracts_union_of_children(self):
        spans = metrics.link([
            {"kind": "op", "start": 0.0, "end": 100.0},
            {"kind": "entry.build", "start": 0.0, "end": 20.0},
            {"kind": "spark.execute", "start": 30.0, "end": 100.0},
            {"kind": "job", "start": 35.0, "end": 60.0},
            {"kind": "job", "start": 50.0, "end": 80.0},
            {"kind": "stage", "start": 36.0, "end": 40.0},
            {"kind": "job", "start": 5.0, "end": 15.0},
        ])
        parents = [s["parent"] for s in spans]
        self.assertEqual(parents, [None, 0, 0, 2, 2, 3, 1])
        selfs = metrics.self_times(spans)
        self.assertEqual(selfs[0], 100 - 20 - 70)   # op
        self.assertEqual(selfs[1], 20 - 10)         # build minus its job
        self.assertEqual(selfs[2], 70 - 45)         # execute minus jobs 35..80
        self.assertEqual(selfs[3], 25 - 4)          # job minus its stage
        self.assertEqual(selfs[5], 4)               # a leaf is all self

    def test_op_spans_from_raw_record(self):
        op = {"name": "q", "t0_us": 0, "t1_us": 100_000,
              "marks": [["entry.build", 0, 20_000]],
              "events": {"jobs": [{"id": 1, "start_ms": 30, "end_ms": 90, "stages": [4]}],
                         "stages": [{"id": 4, "submit_ms": 31, "end_ms": 89, "ntasks": 1}],
                         "tasks": [[4, 32, 88, 50, 40_000_000, 1, 2, 0, 0, 0, 0, 0, 0,
                                    0, 10, 0, 1]],
                         "sql": [{"id": 0, "start_ms": 25, "end_ms": 95}],
                         "queries": [{"func": "save", "phases": {"planning": [21, 24]},
                                      "exchanges": 1, "range_exchanges": 1, "sorts": 1,
                                      "codegen_stages": 2}],
                         "batches": []}}
        kinds = [s["kind"] for s in metrics.op_spans(op)]
        self.assertEqual(sorted(kinds), sorted(
            ["op", "entry.build", "spark.plan", "spark.execute", "job", "stage"]))
        m = metrics.per_op_layers(op)
        self.assertEqual(m["sched.jobs"], 1)
        self.assertEqual(m["entry.build_jobs"], 0)
        self.assertEqual(m["plan.range_exchanges"], 1)
        self.assertAlmostEqual(m["sched.outside_task_s"], (100 - 56) / 1000.0)
        self.assertAlmostEqual(m["exec.cpu_s"], 0.04)


class DrawTest(unittest.TestCase):
    NAMES = ([f"q{i:03d}_x_stream_thing{i}" for i in range(40)]
             + [f"q{i:03d}_x_minhash_dedup{i}" for i in range(40, 100)]
             + [f"q{i:03d}_u8_sarimax{i}" for i in range(100, 120)]
             + [f"q{i:03d}_a{i % 9}_agg{i}" for i in range(120, 150)]
             + [f"q{i:03d}_x_other{i}" for i in range(150, 400)])
    # streams cost most, the rest spread evenly
    COSTS = {n: (2.0 if "stream" in n else 0.1 + (int(n[1:4]) % 37) / 37.0) for n in NAMES}

    def draw(self, seed, k=24, names=None):
        return metrics.stratified_draw(names or self.NAMES, seed, k, self.COSTS)

    def test_deterministic_per_seed(self):
        a = self.draw(7)
        self.assertEqual(a, self.draw(7, names=list(reversed(self.NAMES))))
        self.assertNotEqual(a, self.draw(8))

    def test_every_family_and_size(self):
        for seed in range(30):
            d = self.draw(seed)
            self.assertEqual(len(d), 24)
            self.assertEqual(len(set(d)), 24)
            self.assertEqual({metrics.family(n) for n in d}, set(metrics.FAMILIES))

    def test_one_pick_per_cost_stratum(self):
        ranked = sorted(self.NAMES, key=lambda n: (self.COSTS[n], n))
        strata = [set(ranked[i * 400 // 24:(i + 1) * 400 // 24]) for i in range(24)]
        for seed in range(10):
            d = self.draw(seed)
            self.assertEqual(sorted(sum(n in s for n in d) for s in strata), [1] * 24)

    def test_unknown_names_rank_at_median_cost(self):
        d = metrics.stratified_draw(self.NAMES + ["q999_x_new_operator"], 3, 24, self.COSTS)
        self.assertEqual(len(d), 24)

    def test_families(self):
        self.assertEqual(metrics.family("q266_x_stream_nmi"), metrics.STREAM)
        self.assertEqual(metrics.family("q392_x_edit_join_exact"), metrics.TEXT_SIM)
        self.assertEqual(metrics.family("q34_u56_stationarity"), metrics.STATS)
        self.assertEqual(metrics.family("q05_a5_dedupe_mean"), metrics.CORE)
        self.assertEqual(metrics.family("q170_x_weighted_percentiles"), metrics.EXT)


class EndToEndTest(unittest.TestCase):
    @staticmethod
    def raw(workload, lats):
        return {"workload": workload, "ops": [
            {"name": n, "phase": "timed", "lat_s": v} for n, vs in lats.items() for v in vs]
            + [{"name": "q0", "phase": "check", "lat_s": 99.0}]}

    def test_registry_uses_per_query_medians(self):
        raw = self.raw("registry_mix", {"q1": [1.0, 3.0], "q2": [2.0, 2.0], "q3": [4.0, 8.0],
                                        "q4": [5.0, 7.0]})
        m = {k: v for k, (v, _) in metrics.end_to_end(raw, {"rows": 1200}, 9.5).items()}
        self.assertEqual(m["setup_s"], 9.5)
        self.assertEqual(m["wall_s"], 2.0 + 2.0 + 6.0 + 6.0)
        self.assertEqual(m["query_p50_s"], 4.0)
        self.assertEqual(m["query_p75_s"], 6.0)
        self.assertEqual(m["input_rows_per_s"], 1200 / 16.0)
        self.assertEqual(m["series_per_s"], 4 / 16.0)

    def test_ces_splits_queries_from_the_fan(self):
        raw = self.raw("ces_pipeline", {"v2_prep": [2.0, 4.0], "v1_a": [1.0, 1.0],
                                        "v1_b": [1.0, 1.0], "v1_c": [2.0, 2.0],
                                        "fan": [5.0, 3.0]})
        m = {k: v for k, (v, _) in metrics.end_to_end(
            raw, {"rows": 999, "fact_rows": 700, "keys": 8}, 1.0).items()}
        self.assertEqual(m["wall_s"], 3.0 + 1.0 + 1.0 + 2.0 + 4.0)
        self.assertEqual(m["query_p50_s"], 1.5)
        self.assertEqual(m["query_p75_s"], 2.25)
        self.assertEqual(m["input_rows_per_s"], 700 / 7.0)
        self.assertEqual(m["series_per_s"], 8 / 4.0)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            a = gen.forecast_series(os.path.join(d, "a"), 3, 2, 36)
            b = gen.forecast_series(os.path.join(d, "b"), 3, 2, 36)
            c = gen.forecast_series(os.path.join(d, "c"), 4, 2, 36)
            self.assertEqual(a["digest"], b["digest"])
            self.assertNotEqual(a["digest"], c["digest"])
            a = gen.ces_tsvs(os.path.join(d, "ca"), 3, 20, 2)
            b = gen.ces_tsvs(os.path.join(d, "cb"), 3, 20, 2)
            self.assertEqual(a["digest"], b["digest"])
            self.assertEqual(a["rows"], 20 * 2 * len(gen.DATATYPES) * 2 * 13)
            a = gen.registry_tables(os.path.join(d, "ra"), 3, 0.001)
            b = gen.registry_tables(os.path.join(d, "rb"), 3, 0.001)
            c = gen.registry_tables(os.path.join(d, "rc"), 4, 0.001)
            self.assertEqual(a["digest"], b["digest"])
            self.assertNotEqual(a["digest"], c["digest"])
            self.assertEqual(a["tables"]["lineitem"]["rows"], 6000)


if __name__ == "__main__":
    unittest.main()
