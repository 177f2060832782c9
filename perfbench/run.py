#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload registry_mix --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark package if their sources changed,
generates the workload's inputs from the seed, runs one JVM (local[4],
4 shuffle partitions) that makes an untimed checked pass and then timed
passes for `--seconds`, checks the outputs, and prints the metrics. The
last stdout line is one JSON object: `correct`, `attempted`, `failed`
and `metrics` (end-to-end metrics with `--trace 0`, per-layer metrics
with `--trace 1`). See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

ROOT = build.ROOT
WORK_ROOT = os.path.join(ROOT, ".bench_work")
OUT_ROOT = os.path.join(ROOT, ".bench_out")
CORES = 4
JVM_TIMEOUT_S = 160

# workload sizes (see README.md for the measured costs)
REGISTRY_SF = 0.01
REGISTRY_DRAW = 10
# every operation's latency is the median of at least this many timed
# passes, so the first pass's leftover warm-up drops out
MIN_PASSES = 3
# the recorded per-query costs the draw is stratified by (`--costs`
# re-measures them); queries whose DuckDB oracle took longer than
# ORACLE_LIMIT_S there are left out of the draw, so the output check fits
# in a run
COSTS = os.path.join(HERE, "registry_costs.json")
ORACLE_LIMIT_S = 5.0
COSTS_JVM_TIMEOUT_S = 3600
COSTS_ORACLE_TIMEOUT_S = 120
CES_INDUSTRIES, CES_YEARS = 40, 12
FORECAST_KEYS, FORECAST_MONTHS, FORECAST_HORIZON = 8, 48, 36

WORKLOADS = ("registry_mix", "ces_pipeline")
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def pinned_env():
    """The engine's environment knobs, pinned for every run: AQE on
    (GRAFT_AQE unset), staging on (GRAFT_UNSTAGED unset), md5 hashing.
    Any other GRAFT_* knob inherited from the caller is dropped too;
    what was dropped is reported."""
    env = dict(os.environ)
    dropped = {k: env.pop(k) for k in list(env) if k.startswith(("GRAFT_", "SPARK_GRAFT_"))}
    env["GRAFT_HASH"] = "md5"
    return env, dropped


def java_cmd(main_args, work):
    opens = [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return (["java", *opens, "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false",
             "-cp", os.pathsep.join(build.classpath()), "perfbench.Main", *main_args])


def run_java(main_args, work, env, timeout):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "ab") as logf:
        proc = subprocess.Popen(java_cmd(main_args, work), cwd=work, env=env,
                                stdout=logf, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError(f"JVM exceeded {timeout} s")
    if code != 0:
        with open(os.path.join(work, "jvm.log"), "rb") as f:
            tail = f.read()[-3000:].decode(errors="replace")
        raise RuntimeError(f"JVM exited {code}:\n{tail}")


def registry_names(env):
    path = os.path.join(build.BUILD_DIR, "registry.json")
    stamp = open(os.path.join(build.BUILD_DIR, "stamp")).read()
    if os.path.exists(path):
        cached = json.load(open(path))
        if cached.get("stamp") == stamp:
            return cached["queries"]
    work = os.path.join(WORK_ROOT, f"list-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        out = os.path.join(work, "list.json")
        run_java(["--list", "--out", out], work, env, 120)
        queries = json.load(open(out))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(path, "w") as f:
        json.dump({"stamp": stamp, "queries": queries}, f)
    return queries


def generate(workload, in_dir, seed):
    """Generate the workload's inputs. Returns (summary, seconds)."""
    t0 = time.perf_counter()
    if workload == "registry_mix":
        summary = gen.registry_tables(in_dir, seed, REGISTRY_SF)
    else:
        ces = gen.ces_tsvs(in_dir, seed, CES_INDUSTRIES, CES_YEARS)
        fc = gen.forecast_series(in_dir, seed, FORECAST_KEYS, FORECAST_MONTHS)
        summary = {"tables": {**ces["tables"], **fc["tables"]}, "keys": fc["keys"],
                   "fact_rows": ces["rows"], "rows": ces["rows"] + fc["rows"],
                   "bytes": ces["bytes"] + fc["bytes"], "digest": ces["digest"] + fc["digest"]}
    return summary, time.perf_counter() - t0


def drawable(names, costs):
    """Registry queries the draw may pick: all but those whose oracle is
    too slow to check in a run."""
    return [n for n in names if costs["oracle_s"].get(n, 0.0) <= ORACLE_LIMIT_S]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--costs", action="store_true",
                    help="registry_mix only: time every registry query and its DuckDB "
                         f"oracle on the seed's tables and rewrite {os.path.basename(COSTS)}")
    args = ap.parse_args()
    if args.costs and args.workload != "registry_mix":
        ap.error("--costs needs --workload registry_mix")

    try:
        t0 = time.perf_counter()
        if build.ensure_built():
            log(f"built in {time.perf_counter() - t0:.1f} s")
    except build.BuildError as e:
        log(f"build failed: {e}")
        return 2

    env, dropped = pinned_env()
    work = os.path.join(WORK_ROOT, f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return (measure_costs if args.costs else measure)(args, env, dropped, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, env, dropped, work):
    in_dir = os.path.join(work, "in")
    inputs, gen_s = generate(args.workload, in_dir, args.seed)
    main_args = ["--workload", args.workload, "--seed", str(args.seed),
                 "--seconds", str(args.seconds), "--trace", str(args.trace),
                 "--min-passes", str(MIN_PASSES), "--inputs", in_dir, "--work", work,
                 "--out", os.path.join(work, "raw.json")]
    drawn = []
    if args.workload == "registry_mix":
        costs = json.load(open(COSTS))
        names = drawable([q["name"] for q in registry_names(env)], costs)
        drawn = metrics.stratified_draw(names, args.seed, REGISTRY_DRAW, costs["spark_s"])
        main_args += ["--queries", ",".join(drawn)]

    run_java(main_args, work, env, JVM_TIMEOUT_S)
    raw = json.load(open(os.path.join(work, "raw.json")))

    c0 = time.perf_counter()
    out_dir = os.path.join(work, "out")
    if args.workload == "registry_mix":
        failures, _ = checks.registry(in_dir, out_dir, drawn)
    else:
        digests = [o["digest"] for o in raw["ops"] if o["name"] == "fan" and o["digest"]]
        failures = {**checks.ces(in_dir, out_dir),
                    **checks.forecast(out_dir, inputs["keys"], FORECAST_HORIZON, digests)}
    failures.update({o["name"]: "THROWN " + o["error"] for o in raw["ops"]
                     if o["phase"] == "check" and o["error"]})
    check_s = time.perf_counter() - c0

    timed = [o for o in raw["ops"] if o["phase"] == "timed"]
    failed_ops = [o for o in timed if o["error"]]
    n_checks = len(drawn) if args.workload == "registry_mix" else 4 + 5
    attempted = len(timed) + n_checks
    failed = len(failed_ops) + len(failures)
    # the DuckDB check is the benchmark's, not the engine's: outside setup_s
    setup_s = gen_s + raw["session_s"] + raw["check_s"]

    print(f"workload {args.workload} seed {args.seed}: {len(timed)} timed ops in "
          f"{len(raw['passes'])} passes, {attempted} attempted, {failed} failed "
          f"(error_rate {failed / attempted:.4f})")
    print(f"inputs: {inputs['rows']} rows, {inputs['bytes']} bytes, digest {inputs['digest']}; "
          + ", ".join(f"{k} {v.get('rows', '-')} rows/{v['bytes']} B"
                      for k, v in inputs["tables"].items()))
    print(f"setup: generate {gen_s:.3f} s, session {raw['session_s']:.3f} s, "
          f"checked warm-up pass {raw['check_s']:.3f} s; "
          f"output check (not in setup_s) {check_s:.3f} s")
    print("knobs: " + ", ".join(f"{k}={v if v is not None else '<unset>'}"
                                for k, v in raw["knobs"].items())
          + (f"; dropped from the caller's environment: {sorted(dropped)}" if dropped else ""))
    if drawn:
        print("drawn queries: " + " ".join(drawn))
    for name, why in sorted({**failures, **{o['id']: o['error'] for o in failed_ops}}.items()):
        print(f"FAILED {name}: {why}")

    if args.trace:
        ms = metrics.per_layer(raw, CORES)
        units = PER_LAYER_UNITS
        write_trace(args, raw, inputs)
        print_per_op(raw)
    else:
        e2e = metrics.end_to_end(raw, inputs, setup_s)
        ms = {k: v for k, (v, _) in e2e.items()}
        units = {k: u for k, (_, u) in e2e.items()}
        queries = [v for n, v in metrics.op_medians(raw).items() if n != "fan"]
        print(f"query latency percentiles over {len(queries)} queries (each the median "
              f"of {len(raw['passes'])} passes), {sum(v > ms['query_p75_s'] for v in queries)} "
              f"above p75")
    for k in sorted(ms):
        print(f"  {k:32s} {ms[k]:.6g} {units.get(k, '')}")
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": ms[k], "unit": units[k]} for k in units if k in ms}}
    print(json.dumps(result))
    return 0


def measure_costs(args, env, dropped, work):
    """Time every registry query in one warm pass (after the untimed
    checked pass) and its DuckDB oracle on the seed's tables at
    REGISTRY_SF, and rewrite the costs file the draw reads. Exits 1 if any
    query fails its check."""
    in_dir = os.path.join(work, "in")
    gen.registry_tables(in_dir, args.seed, REGISTRY_SF)
    names = [q["name"] for q in registry_names(env)]
    run_java(["--workload", "registry_mix", "--seed", str(args.seed), "--seconds", "0",
              "--min-passes", "1", "--trace", "0", "--inputs", in_dir, "--work", work,
              "--out", os.path.join(work, "raw.json"), "--queries", ",".join(names)],
             work, env, COSTS_JVM_TIMEOUT_S)
    raw = json.load(open(os.path.join(work, "raw.json")))
    failures, oracle_s = checks.registry(in_dir, os.path.join(work, "out"), names,
                                         COSTS_ORACLE_TIMEOUT_S)
    failures.update({o["name"]: "THROWN " + o["error"] for o in raw["ops"] if o["error"]})
    spark_s = {o["name"]: round(o["lat_s"], 4) for o in raw["ops"] if o["phase"] == "timed"}
    with open(COSTS, "w") as f:
        json.dump({"sf": REGISTRY_SF, "seed": args.seed, "spark_s": spark_s,
                   "oracle_s": {k: round(v, 4) for k, v in sorted(oracle_s.items())}},
                  f, indent=0, sort_keys=True)
        f.write("\n")
    for name, why in sorted(failures.items()):
        print(f"FAILED {name}: {why}")
    print(f"{len(spark_s)} queries timed, {len(oracle_s)} oracles, {len(failures)} failed; "
          f"{sum(v > ORACLE_LIMIT_S for v in oracle_s.values())} oracles over "
          f"{ORACLE_LIMIT_S} s; written to {os.path.relpath(COSTS, ROOT)}")
    return 1 if failures else 0


# unit of every per-layer metric; per-op means unless the name says otherwise
PER_LAYER_UNITS = {
    **{k: "s" for k in metrics.PER_OP_MEANS if k.endswith("_s")},
    **{k: "bytes" for k in metrics.PER_OP_MEANS if k.endswith("_bytes")},
    **{k: "count" for k in metrics.PER_OP_MEANS
       if not k.endswith(("_s", "_bytes"))},
    "sched.single_task_stage_frac": "ratio", "exec.core_util": "ratio",
    "exec.straggler_ratio": "ratio", "exec.peak_memory_bytes": "bytes",
    "scan.rows_per_output_row": "ratio", "stream.state_rows": "count",
    "stream.state_memory_bytes": "bytes", "forecast.models_s": "s", "forecast.fan_s": "s",
    "stats.fit_ms_per_series": "ms",
    **{f"self.{k.replace('.', '_')}_s": "s" for k in metrics.SELF_KINDS},
    "trace.traced_op_s": "s", "trace.untraced_op_s": "s", "trace.overhead_frac": "ratio",
    "trace.spans": "count",
}


def write_trace(args, raw, inputs):
    """Write every traced op's span tree (with self times) beside the
    run, for reading after the fact."""
    os.makedirs(OUT_ROOT, exist_ok=True)
    ops = []
    for o in raw["ops"]:
        if not (o["phase"] == "timed" and o["traced"]):
            continue
        spans = metrics.op_spans(o)
        for sp, st in zip(spans, metrics.self_times(spans)):
            sp["self_ms"] = st
        ops.append({"id": o["id"], "name": o["name"], "lat_s": o["lat_s"], "spans": spans,
                    "layers": {k: v for k, v in metrics.per_op_layers(o).items() if k != "self"}})
    timed = [o for o in raw["ops"] if o["phase"] == "timed"]
    run_span = {"kind": "run", "start": timed[0]["t0_us"] / 1000.0,
                "end": timed[-1]["t1_us"] / 1000.0, "traced_ops": len(ops)}
    path = os.path.join(OUT_ROOT, f"trace-{args.workload}-s{args.seed}.json")
    with open(path, "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed, "inputs": inputs,
                   "knobs": raw["knobs"], "passes": raw["passes"], "run": run_span,
                   "ops": ops}, f)
    print(f"trace: {sum(len(o['spans']) for o in ops)} spans of {len(ops)} ops written to "
          f"{os.path.relpath(path, ROOT)}")


def print_per_op(raw):
    print(f"{'op':44s} {'lat_s':>7s} {'build_jobs':>10s} {'jobs':>5s} {'stages':>6s} "
          f"{'range_ex':>8s} {'exch':>5s} {'outside_s':>9s} {'core_util':>9s}")
    for o in raw["ops"]:
        if o["phase"] == "timed" and o["traced"]:
            m = metrics.per_op_layers(o)
            print(f"{o['name']:44s} {o['lat_s']:7.3f} {m['entry.build_jobs']:10d} "
                  f"{m['sched.jobs']:5d} {m['sched.stages']:6d} {m['plan.range_exchanges']:8d} "
                  f"{m['plan.exchanges']:5d} {m['sched.outside_task_s']:9.3f} "
                  f"{m['exec.run_s'] / (m['wall_s'] * CORES):9.3f}")


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception as e:  # no result line on any failure
        log(f"failed: {type(e).__name__}: {e}")
        sys.exit(1)
