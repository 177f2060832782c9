"""Arithmetic of the benchmark: percentiles, the stratified query draw,
span trees with self time, outside-task time, and the end-to-end and
per-layer metrics derived from the JVM's raw run record.

Everything here is pure Python over plain data, so `test_metrics.py`
checks it without Spark.
"""
import hashlib
import random

# ------------------------------------------------------------- percentiles


def percentile(values, q):
    """Linear-interpolation percentile (q in [0, 100]) of a non-empty
    sequence: the value at rank (n - 1) * q / 100 of the sorted data."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sequence")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return percentile(values, 50)


# ------------------------------------------------------- stratified draw

STREAM, TEXT_SIM, STATS, CORE, EXT = "stream", "text_sim", "u_stats", "core", "extension"
FAMILIES = (STREAM, TEXT_SIM, STATS, CORE, EXT)
_TEXT_SIM_WORDS = (
    "text", "token", "bpe", "doc", "word", "ngram", "simhash", "minhash",
    "jaccard", "edit", "lang", "dedup", "embed", "vector", "ann", "ivf", "pq_",
    "cosine", "tfidf", "bm25", "c4", "url", "redact", "pii", "quality", "sentence",
    "vocab", "shingle", "fuzzy", "similar", "knn", "lsh", "perplex", "retriev",
    "line_clean", "normalize", "spans", "gopher", "contamina", "containment")


def family(name):
    """Name family of a registry query `q<nn>_<survey-id>_<desc>`:
    streaming twins, text/similarity, `u*` statistics, core survey
    operators, and the remaining extension operators."""
    parts = name.split("_", 2)
    sid = parts[1] if len(parts) > 1 else ""
    desc = parts[2] if len(parts) > 2 else ""
    if "_stream_" in name or desc.startswith("stream"):
        return STREAM
    if sid != "x":
        return STATS if sid.startswith("u") else CORE
    if any(w in desc for w in _TEXT_SIM_WORDS):
        return TEXT_SIM
    return EXT


def stratified_draw(names, seed, k, costs):
    """A seeded draw of `k` names, stratified by cost and covering every
    family. Names are ranked by their recorded cost (`costs`: name ->
    seconds; a name without one ranks at the median cost) and cut into
    `k` equal-count strata; one name is drawn from each, so every draw
    has the same cost profile. A family the draw missed then replaces
    the pick of a stratum that holds one of its members, unless that
    pick is the last of its own family. Same (names, seed, k, costs),
    same draw; the result is sorted."""
    default = median(list(costs.values())) if costs else 0.0
    ranked = sorted(names, key=lambda n: (costs.get(n, default), n))
    k = min(k, len(ranked))
    h = hashlib.sha256(f"registry-draw:{seed}".encode()).digest()
    rng = random.Random(int.from_bytes(h[:8], "big"))
    strata = [ranked[i * len(ranked) // k:(i + 1) * len(ranked) // k] for i in range(k)]
    pick = [rng.choice(s) for s in strata]
    for f in FAMILIES:
        fams = [family(p) for p in pick]
        if f in fams:
            continue
        swappable = [i for i, s in enumerate(strata)
                     if fams.count(fams[i]) > 1 and any(family(n) == f for n in s)]
        if swappable:
            i = rng.choice(swappable)
            pick[i] = rng.choice([n for n in strata[i] if family(n) == f])
    return sorted(pick)


# ------------------------------------------------------------- intervals


def union_length(intervals, lo=None, hi=None):
    """Total length covered by the union of (start, end) intervals,
    optionally clipped to [lo, hi]."""
    segs = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            segs.append((s, e))
    segs.sort()
    covered, cur_s, cur_e = 0, None, None
    for s, e in segs:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return covered


def outside_task(window, task_intervals):
    """Time inside `window` = (start, end) during which no task ran."""
    lo, hi = window
    return max(hi - lo, 0) - union_length(task_intervals, lo, hi)


# ----------------------------------------------------------------- spans

# depth of each span kind in the tree run > op > layer call > spark phase
# > job > stage; a span's parent is the deepest shallower span that
# contains its start
LEVEL = {"run": 0, "op": 1, "entry.build": 2, "ingest.read_tsv": 2, "sink.write": 2,
         "forecast.models": 2, "spark.plan": 3, "spark.execute": 3, "job": 4, "stage": 5}


def link(spans):
    """Give each span (dicts with kind/start/end) a `parent` index and
    return the list. Spans must be ordered run first."""
    order = sorted(range(len(spans)), key=lambda i: (LEVEL[spans[i]["kind"]], spans[i]["start"]))
    placed = []
    for i in order:
        sp = spans[i]
        best = None
        for j in placed:
            pj = spans[j]
            if LEVEL[pj["kind"]] < LEVEL[sp["kind"]] and pj["start"] <= sp["start"] <= pj["end"]:
                if best is None or LEVEL[pj["kind"]] > LEVEL[spans[best]["kind"]] or (
                        LEVEL[pj["kind"]] == LEVEL[spans[best]["kind"]]
                        and pj["end"] - pj["start"] < spans[best]["end"] - spans[best]["start"]):
                    best = j
        sp["parent"] = best
        placed.append(i)
    return spans


def self_times(spans):
    """Self time of each linked span: its duration minus the part of its
    interval covered by its children."""
    kids = {}
    for i, sp in enumerate(spans):
        if sp.get("parent") is not None:
            kids.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
    out = []
    for i, sp in enumerate(spans):
        dur = sp["end"] - sp["start"]
        out.append(dur - union_length(kids.get(i, []), sp["start"], sp["end"]))
    return out


TASK_FIELDS = ("stage", "launch_ms", "finish_ms", "run_ms", "cpu_ns", "gc_ms", "deser_ms",
               "peak_mem", "shuffle_write_bytes", "shuffle_read_bytes", "fetch_wait_ms",
               "spill_memory_bytes", "spill_disk_bytes", "input_bytes", "input_rows",
               "output_bytes", "output_rows")


def tasks_of(op):
    ev = op.get("events") or {}
    return [dict(zip(TASK_FIELDS, t)) for t in ev.get("tasks", [])]


def op_spans(op):
    """Spans of one traced op, in milliseconds: the op, its layer calls
    (marks), Spark's planning phases and SQL executions, jobs and stages.
    Stage spans carry their task aggregates."""
    ev = op.get("events") or {}
    t0, t1 = op["t0_us"] / 1000.0, op["t1_us"] / 1000.0
    spans = [{"kind": "op", "name": op["name"], "start": t0, "end": t1}]
    for name, s, e in op["marks"]:
        spans.append({"kind": name, "name": name, "start": s / 1000.0, "end": e / 1000.0})
    for q in ev.get("queries", []):
        ph = [v for k, v in q["phases"].items() if k in ("optimization", "planning")]
        an = q["phases"].get("analysis")
        pts = ph + ([an] if an and an[0] >= t0 else [])
        if pts:
            s, e = max(min(p[0] for p in pts), t0), min(max(p[1] for p in pts), t1)
            if e >= s:
                spans.append({"kind": "spark.plan", "name": q["func"], "start": s, "end": e})
    for x in ev.get("sql", []):
        if x["end_ms"] >= x["start_ms"] >= 0:
            spans.append({"kind": "spark.execute", "name": f"sql{x['id']}",
                          "start": float(x["start_ms"]), "end": float(x["end_ms"])})
    tasks = tasks_of(op)
    for j in ev.get("jobs", []):
        if j["end_ms"] >= j["start_ms"]:
            spans.append({"kind": "job", "name": f"job{j['id']}", "start": float(j["start_ms"]),
                          "end": float(j["end_ms"]), "stages": len(j["stages"])})
    for st in ev.get("stages", []):
        if st["end_ms"] >= st["submit_ms"] >= 0:
            ts = [t for t in tasks if t["stage"] == st["id"]]
            spans.append({"kind": "stage", "name": f"stage{st['id']}",
                          "start": float(st["submit_ms"]), "end": float(st["end_ms"]),
                          "tasks": len(ts), "task_run_ms": sum(t["run_ms"] for t in ts),
                          "task_cpu_ms": sum(t["cpu_ns"] for t in ts) / 1e6})
    return link(spans)


# --------------------------------------------------------------- metrics


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def op_medians(raw):
    """Median latency of each timed operation over the passes, by name."""
    by_name = {}
    for o in raw["ops"]:
        if o["phase"] == "timed":
            by_name.setdefault(o["name"], []).append(o["lat_s"])
    return {n: median(v) for n, v in by_name.items()}


def end_to_end(raw, inputs, setup_s):
    """End-to-end metrics of an untraced run, from each operation's median
    latency over the passes. `wall_s` is one pass at median speed: the sum
    of those medians. The latency percentiles are over the queries: every
    registry query, or the four CES queries (v2 collapse, three v1
    extracts). On `ces_pipeline`, `input_rows_per_s` is fact rows over the
    CES queries' time and `series_per_s` is forecast keys over the fan's
    time; on `registry_mix`, which has neither, they are generated rows
    and queries over `wall_s`."""
    med = op_medians(raw)
    wall = sum(med.values())
    if raw["workload"] == "registry_mix":
        queries = list(med.values())
        rows_s, series_s = inputs["rows"] / wall, len(queries) / wall
    else:
        queries = [v for n, v in med.items() if n != "fan"]
        rows_s, series_s = inputs["fact_rows"] / sum(queries), inputs["keys"] / med["fan"]
    return {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall, "s"),
        "query_p50_s": (percentile(queries, 50), "s"),
        "query_p75_s": (percentile(queries, 75), "s"),
        "input_rows_per_s": (rows_s, "rows/s"),
        "series_per_s": (series_s, "1/s"),
    }


def _plan_shape(op):
    """Plan-shape counts of an op: summed over the query executions its
    action ran (the build-time round trips and the final write)."""
    qs = (op.get("events") or {}).get("queries", [])
    return {k: sum(q.get(k, 0) for q in qs)
            for k in ("exchanges", "range_exchanges", "sorts", "codegen_stages")}


def _in(t, window):
    return window[0] <= t <= window[1]


def per_op_layers(op):
    """Per-layer numbers of one traced op (seconds, counts, bytes)."""
    ev = op.get("events") or {}
    t0, t1 = op["t0_us"] / 1000.0, op["t1_us"] / 1000.0
    wall = max(t1 - t0, 1e-9) / 1000.0
    jobs = ev.get("jobs", [])
    stages = ev.get("stages", [])
    tasks = tasks_of(op)
    marks = {}
    for name, s, e in op["marks"]:
        marks.setdefault(name, []).append((s / 1000.0, e / 1000.0))

    def mark_s(name):
        return sum(e - s for s, e in marks.get(name, [])) / 1000.0

    def jobs_in(name):
        return sum(1 for j in jobs if any(_in(j["start_ms"], w) for w in marks.get(name, [])))

    phases = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    for q in ev.get("queries", []):
        for k in phases:
            if k in q["phases"]:
                s, e = q["phases"][k]
                phases[k] += (e - s) / 1000.0
    # straggler: longest task over median task, in the op's longest stage
    straggler = 1.0
    if stages:
        longest = max(stages, key=lambda s: s["end_ms"] - s["submit_ms"])
        durs = [t["finish_ms"] - t["launch_ms"] for t in tasks if t["stage"] == longest["id"]]
        if durs and median(durs) > 0:
            straggler = max(durs) / median(durs)
    batches = ev.get("batches", [])
    spans = op_spans(op)
    selfs = self_times(spans)
    self_by = {}
    for sp, st in zip(spans, selfs):
        self_by[sp["kind"]] = self_by.get(sp["kind"], 0.0) + st / 1000.0
    out_rows = max(sum(t["output_rows"] for t in tasks), 0)
    return {
        "wall_s": wall,
        "entry.build_s": mark_s("entry.build"),
        "entry.build_jobs": jobs_in("entry.build"),
        "plan.analysis_s": phases["analysis"],
        "plan.optimization_s": phases["optimization"],
        "plan.planning_s": phases["planning"],
        **{f"plan.{k}": v for k, v in _plan_shape(op).items()},
        "sched.jobs": len(jobs),
        "sched.stages": len(stages),
        "sched.tasks": len(tasks),
        "single_task_stages": sum(1 for s in stages if s["ntasks"] == 1),
        "sched.outside_task_s": outside_task(
            (t0, t1), [(t["launch_ms"], t["finish_ms"]) for t in tasks]) / 1000.0,
        "exec.run_s": sum(t["run_ms"] for t in tasks) / 1000.0,
        "exec.cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "exec.gc_s": sum(t["gc_ms"] for t in tasks) / 1000.0,
        "exec.deser_s": sum(t["deser_ms"] for t in tasks) / 1000.0,
        "exec.straggler_ratio": straggler,
        "exec.peak_memory_bytes": max([t["peak_mem"] for t in tasks] or [0]),
        "shuffle.write_bytes": sum(t["shuffle_write_bytes"] for t in tasks),
        "shuffle.read_bytes": sum(t["shuffle_read_bytes"] for t in tasks),
        "shuffle.fetch_wait_s": sum(t["fetch_wait_ms"] for t in tasks) / 1000.0,
        "spill.memory_bytes": sum(t["spill_memory_bytes"] for t in tasks),
        "spill.disk_bytes": sum(t["spill_disk_bytes"] for t in tasks),
        "scan.input_bytes": sum(t["input_bytes"] for t in tasks),
        "scan.input_rows": sum(t["input_rows"] for t in tasks),
        "scan.output_rows": out_rows,
        "ingest.read_tsv_s": mark_s("ingest.read_tsv"),
        "ingest.read_tsv_jobs": jobs_in("ingest.read_tsv"),
        "sink.write_s": mark_s("sink.write"),
        "sink.output_bytes": sum(t["output_bytes"] for t in tasks),
        "forecast.models_s": mark_s("forecast.models"),
        "stream.batches": len(batches),
        "stream.batch_s": sum(b["trigger_ms"] for b in batches) / 1000.0,
        "stream.state_rows": max([b["state_rows"] for b in batches] or [0]),
        "stream.state_memory_bytes": max([b["state_memory_bytes"] for b in batches] or [0]),
        "self": self_by,
    }


PER_OP_MEANS = (
    "entry.build_s", "entry.build_jobs", "plan.analysis_s", "plan.optimization_s",
    "plan.planning_s", "plan.exchanges", "plan.range_exchanges", "plan.sorts",
    "plan.codegen_stages", "sched.jobs", "sched.stages", "sched.tasks",
    "sched.outside_task_s", "exec.run_s", "exec.cpu_s", "exec.gc_s", "exec.deser_s",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_s",
    "spill.memory_bytes", "spill.disk_bytes", "scan.input_bytes", "scan.input_rows",
    "ingest.read_tsv_s", "ingest.read_tsv_jobs", "sink.write_s", "sink.output_bytes",
    "stream.batches", "stream.batch_s")
SELF_KINDS = ("op", "entry.build", "ingest.read_tsv", "sink.write",
              "spark.plan", "spark.execute", "job", "stage")


def per_layer(raw, cores):
    """Per-layer metrics of a traced run. Counts, times and bytes are
    means per traced operation; ratios are over all traced operations."""
    traced = [o for o in raw["ops"] if o["phase"] == "timed" and o["traced"]]
    main = [o for o in traced if o["name"] != "models"]
    per = {o["id"]: per_op_layers(o) for o in traced}
    rows = [per[o["id"]] for o in main]
    out = {k: _mean([r[k] for r in rows]) for k in PER_OP_MEANS}
    stages = sum(r["sched.stages"] for r in rows)
    out["sched.single_task_stage_frac"] = (
        sum(r["single_task_stages"] for r in rows) / stages if stages else 0.0)
    wall = sum(r["wall_s"] for r in rows)
    out["exec.core_util"] = sum(r["exec.run_s"] for r in rows) / (wall * cores) if wall else 0.0
    out["exec.straggler_ratio"] = median([r["exec.straggler_ratio"] for r in rows])
    out["exec.peak_memory_bytes"] = max(r["exec.peak_memory_bytes"] for r in rows)
    out_rows = sum(r["scan.output_rows"] for r in rows)
    out["scan.rows_per_output_row"] = (
        sum(r["scan.input_rows"] for r in rows) / out_rows if out_rows else 0.0)
    out["stream.state_rows"] = max(r["stream.state_rows"] for r in rows)
    out["stream.state_memory_bytes"] = max(r["stream.state_memory_bytes"] for r in rows)
    models = [per[o["id"]]["forecast.models_s"] for o in traced if o["name"] == "models"]
    fans = [o["lat_s"] for o in main if o["name"] == "fan"]
    out["forecast.models_s"] = median(models) if models else 0.0
    out["forecast.fan_s"] = max(median(fans) - out["forecast.models_s"], 0.0) if fans else 0.0
    fit = raw.get("extras", {}).get("fit_ms", [])
    out["stats.fit_ms_per_series"] = median(fit) if fit else 0.0
    for k in SELF_KINDS:
        out[f"self.{k.replace('.', '_')}_s"] = _mean([r["self"].get(k, 0.0) for r in rows])
    # tracing overhead: each op's traced latency against the same op in
    # the untraced passes between them
    lat = {}
    for o in raw["ops"]:
        if o["phase"] == "timed":
            lat.setdefault((o["name"], o["traced"]), []).append(o["lat_s"])
    common = [n for (n, t) in lat if t and (n, False) in lat]
    t_s = sum(median(lat[(n, True)]) for n in common)
    u_s = sum(median(lat[(n, False)]) for n in common)
    out["trace.traced_op_s"] = t_s
    out["trace.untraced_op_s"] = u_s
    out["trace.overhead_frac"] = t_s / u_s - 1.0 if u_s else 0.0
    out["trace.spans"] = sum(len(op_spans(o)) for o in traced)
    return out
