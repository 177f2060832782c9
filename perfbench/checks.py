"""Output checks of the untimed pass, one list of failures per workload.

- registry_mix: each drawn query's parquet output against its
  `SparkEntry.oracleSql` statement run in DuckDB over the same generated
  tables, compared with the normalisation of `tools/compare.py`;
  oracle-less queries must return rows.
- ces_pipeline: the v2 collapse and the three v1 proxy extracts against
  an independent DuckDB statement of the reference pipeline over the
  generated TSVs; then the forecast fan's invariants (one row per key
  and step, ordered quantiles) and one bit-identical digest across every
  fan of the run.
"""
import glob
import importlib.util
import json
import os
import threading
import time

import duckdb
import numpy as np
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _compare_module():
    path = os.path.join(ROOT, "tools", "compare.py")
    spec = importlib.util.spec_from_file_location("graft_compare", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def registry(in_dir, out_dir, names, oracle_timeout=None):
    """Returns ({query: failure}, {query: oracle seconds}). Any difference
    `compare` reports fails the query, its CLOSE-ONLY ones (float columns
    equal within 1e-6 but not bit-equal) included, as in the repository's
    oracle gate. An oracle still running after `oracle_timeout` seconds is
    interrupted and fails the query."""
    compare = _compare_module()
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{in_dir}/{t}.parquet')")
    failures, oracle_s = {}, {}
    for name in names:
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not files:
            failures[name] = "NO-SPARK-OUTPUT"
            continue
        got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        if name not in oracle:
            if got.empty:
                failures[name] = "rows-only EMPTY"
            continue
        timer = threading.Timer(oracle_timeout, con.interrupt) if oracle_timeout else None
        t0 = time.perf_counter()
        try:
            if timer:
                timer.start()
            want = con.execute(oracle[name]).df()
            oracle_s[name] = time.perf_counter() - t0
            diff = compare.compare(name, got, want)
        except Exception as e:  # an oracle error is a failed check, not a crash
            oracle_s[name] = time.perf_counter() - t0
            diff = f"ORACLE-ERROR {str(e)[:300]}"
        finally:
            if timer:
                timer.cancel()
        if diff:
            failures[name] = diff
    return failures, oracle_s


EMP = "ALL EMPLOYEES, THOUSANDS"
AHE = "AVERAGE HOURLY EARNINGS OF ALL EMPLOYEES"
V1_MEASURES = ("All employees", "Average hourly earnings", "Average weekly hours")
CAREERS = {  # name -> (exact NAICS codes, NAICS prefixes)
    "mechanic": ((), ("8111",)),
    "graphic_designer": (("54143",), ()),
    "software_developer": (("511210",), ("5415",)),
}


def _ces_views(con, in_dir):
    def tsv(name, cols):
        names = ", ".join(f"'{c}'" for c in cols)
        con.execute(f"""CREATE VIEW raw_{name.replace('.', '_')} AS SELECT * FROM read_csv(
            '{in_dir}/{name}', delim='\t', header=false, skip=1, all_varchar=true,
            quote='', escape='', names=[{names}])""")
    tsv("ce.data", ["series_id", "year", "period", "value", "footnote_codes"])
    tsv("ce.series", ["series_id", "industry_code", "data_type_code", "seasonal", "title"])
    tsv("ce.industry", ["industry_code", "naics_code", "industry_name", "level"])
    tsv("ce.datatype", ["data_type_code", "data_type_text"])
    # the reference's enrichment: monthly rows, coerced values, trimmed
    # keys, dictionary left joins, month-start dates
    con.execute("""CREATE VIEW enriched AS
        WITH d AS (
            SELECT trim(series_id) AS series_id, CAST(year AS INTEGER) AS year,
                   period, TRY_CAST(trim(value) AS DOUBLE) AS value
            FROM raw_ce_data WHERE regexp_full_match(trim(period), 'M(0[1-9]|1[0-2])')),
        s AS (SELECT trim(series_id) AS series_id, trim(industry_code) AS industry_code,
                     trim(data_type_code) AS datatype_code, trim(seasonal) AS seasonal
              FROM raw_ce_series),
        i AS (SELECT trim(industry_code) AS industry_code, trim(naics_code) AS naics_code,
                     industry_name FROM raw_ce_industry),
        t AS (SELECT trim(data_type_code) AS datatype_code,
                     trim(data_type_text) AS datatype_text FROM raw_ce_datatype)
        SELECT d.*, s.industry_code, s.datatype_code, s.seasonal, i.naics_code,
               i.industry_name, t.datatype_text,
               make_date(d.year, CAST(substr(trim(d.period), 2, 2) AS INTEGER), 1) AS date
        FROM d LEFT JOIN s USING (series_id) LEFT JOIN i USING (industry_code)
               LEFT JOIN t USING (datatype_code)""")


def _career_pred(career):
    exact, prefixes = CAREERS[career]
    preds = [f"naics_code IN ({', '.join(repr(c) for c in exact)})"] if exact else []
    preds += [f"starts_with(naics_code, '{p}')" for p in prefixes]
    return "(" + " OR ".join(preds) + ")"


def _read_csv_dir(path):
    files = glob.glob(os.path.join(path, "part-*.csv"))
    if len(files) != 1:
        raise ValueError(f"expected one part file in {path}, found {len(files)}")
    return pd.read_csv(files[0], dtype={"series_id": str, "industry_code": str,
                                        "datatype_code": str, "period": str, "seasonal": str})


def _close(a, b):
    a, b = np.asarray(a, dtype=float), np.asarray(b, dtype=float)
    return bool(np.all((np.isnan(a) & np.isnan(b)) |
                       (np.abs(a - b) <= 1e-9 * np.maximum(np.abs(b), 1.0))))


def ces(in_dir, out_dir):
    """Returns {output: failure message} for the v2 collapse and the v1
    proxy extracts of the check pass."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET enable_progress_bar = false")
    _ces_views(con, in_dir)
    failures = {}
    routed = " UNION ALL ".join(
        f"SELECT '{c}' AS career, * FROM enriched WHERE {_career_pred(c)}" for c in CAREERS)
    # reference collapse_career: employment summed per month; earnings
    # weighted by their industry's employment via a weights join
    want = con.execute(f"""
        WITH r AS ({routed}),
        r2 AS (SELECT * FROM r WHERE datatype_text IN ('{EMP}', '{AHE}')),
        w AS (SELECT career, date, industry_code, sum(value) AS weight
              FROM r2 WHERE datatype_text = '{EMP}' GROUP BY ALL),
        e AS (SELECT r2.career, r2.date, r2.value, w.weight FROM r2 LEFT JOIN w
              USING (career, date, industry_code) WHERE r2.datatype_text = '{AHE}'),
        keys AS (SELECT DISTINCT career, date FROM r2)
        SELECT keys.career, strftime(keys.date, '%Y-%m-%d') AS date,
               (SELECT sum(weight) FROM w WHERE w.career = keys.career AND w.date = keys.date)
                   AS employment_thousands,
               (SELECT sum(value * weight) / nullif(sum(CASE WHEN value IS NOT NULL THEN weight END), 0)
                  FROM e WHERE e.career = keys.career AND e.date = keys.date) AS avg_hourly_earnings
        FROM keys ORDER BY career, date""").df()
    try:
        got = _read_csv_dir(os.path.join(out_dir, "check", "v2_prep"))
        if list(got.columns) != ["career", "date", "employment_thousands", "avg_hourly_earnings"]:
            failures["v2_prep"] = f"columns {list(got.columns)}"
        elif len(got) != len(want):
            failures["v2_prep"] = f"rows {len(got)} vs {len(want)}"
        elif not (list(got["career"]) == list(want["career"])
                  and list(got["date"]) == list(want["date"])):
            failures["v2_prep"] = "keys or their order differ"
        elif not (_close(got["employment_thousands"], want["employment_thousands"])
                  and _close(got["avg_hourly_earnings"], want["avg_hourly_earnings"])):
            failures["v2_prep"] = "values differ"
    except Exception as e:
        failures["v2_prep"] = f"unreadable: {e}"

    measures = ", ".join(f"'{m}'" for m in V1_MEASURES)
    for c in CAREERS:
        key = f"v1_{c}"
        want = con.execute(f"""
            SELECT series_id, strftime(date, '%Y-%m-%d') AS date, value, datatype_text,
                   industry_code
            FROM enriched WHERE datatype_text IN ({measures}) AND {_career_pred(c)}
            ORDER BY series_id, date""").df()
        try:
            got = _read_csv_dir(os.path.join(out_dir, "check", key))
            cols = ["date", "year", "period", "series_id", "seasonal", "industry_code",
                    "industry_name", "datatype_code", "datatype_text", "value"]
            if list(got.columns) != cols:
                failures[key] = f"columns {list(got.columns)}"
                continue
            order = list(zip(got["datatype_text"], got["industry_code"], got["date"]))
            if order != sorted(order):
                failures[key] = "not sorted by (datatype_text, industry_code, date)"
                continue
            g = got.sort_values(["series_id", "date"], kind="mergesort").reset_index(drop=True)
            if len(g) != len(want):
                failures[key] = f"rows {len(g)} vs {len(want)}"
            elif not (list(g["series_id"]) == list(want["series_id"])
                      and list(g["date"]) == list(want["date"])
                      and _close(g["value"], want["value"])):
                failures[key] = "rows differ"
        except Exception as e:
            failures[key] = f"unreadable: {e}"
    return failures


def forecast(out_dir, keys, horizon, digests):
    """Returns {check: failure message} for the fan of the check pass."""
    failures = {}
    fan = pd.read_csv(os.path.join(out_dir, "fan.csv"))
    if len(fan) != keys * horizon:
        failures["rows"] = f"{len(fan)} rows, want {keys} keys x {horizon} steps"
    per_key = fan.groupby("key")["step"].apply(lambda s: sorted(s) == list(range(1, horizon + 1)))
    if len(per_key) != keys or not per_key.all():
        failures["steps"] = "a key lacks steps 1..horizon"
    chain = ["min", "p05", "p10", "p50", "p90", "p95", "max"]
    vals = fan[chain].to_numpy(dtype=float)
    if np.isnan(vals).any() or not (np.diff(vals, axis=1) >= -1e-9).all():
        failures["quantiles"] = "quantiles not monotone within [min, max]"
    if not ((fan["mean"] >= fan["min"] - 1e-9) & (fan["mean"] <= fan["max"] + 1e-9)).all():
        failures["mean"] = "mean outside [min, max]"
    if len(set(digests)) != 1:
        failures["digest"] = f"{len(set(digests))} distinct fan digests across the run"
    return failures
