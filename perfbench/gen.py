"""Seeded input generators for the benchmark's workloads.

Every generator is a pure function of (seed, size): the same seed writes
byte-identical files (`test_metrics.py` checks it). Nothing here reads
the repository's own test data.

- `registry_tables`: the ten TPC-H-ish parquet tables the query registry
  reads (`region nation customer supplier part orders lineitem events
  documents embeddings`), with the schemas and value domains the
  repository's FIXTURES.md section B lists.
- `ces_tsvs`: BLS-layout `ce.data`/`ce.series`/`ce.industry`/`ce.datatype`
  TSVs following FIXTURES.md section A: M13 annual rows, junk values,
  whitespace-damaged headers and keys, and a junk column.
- `forecast_series`: monthly series per key with one exogenous column.
"""
import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _rng(seed, stream):
    return np.random.default_rng(np.random.SeedSequence([seed, stream]))


def _digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _write_parquet(table, path):
    # one row group, snappy, no pandas metadata: the shape of the test
    # tables the registry was written against
    pq.write_table(table, path, compression="snappy", row_group_size=max(table.num_rows, 1))


def _summary(paths, rows):
    return {"rows": int(rows), "bytes": int(sum(os.path.getsize(p) for p in paths)),
            "digest": _digest(paths)}


# ---------------------------------------------------------------- registry

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join key line "
         "merge order part query row scan slow small sort spark stream table the "
         "value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")
DAY_US = 86_400_000_000


def registry_tables(out_dir, seed, sf):
    """Write the registry's ten tables at scale factor `sf` (sf 0.01 is
    60,000 lineitem rows). Returns per-table and total sizes.

    Money columns (balances, prices, event values) keep every digit of
    the draw rather than whole cents. Sums and means of cent values
    rounded to a few decimals often land exactly on a rounding boundary,
    where Spark's and DuckDB's different summation orders round to
    different last digits; full-precision values never sit on one."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    n_users = max(15, int(15_000 * sf))
    tables = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})

    r = _rng(seed, 1)
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(r.uniform(-999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[r.integers(0, 5, n_cust)])})

    r = _rng(seed, 2)
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(r.uniform(-999.99, 9999.99, n_supp))})

    r = _rng(seed, 3)
    pk = np.arange(n_part, dtype=np.int64)
    names = np.char.add(np.char.add(np.array(P_ADJ)[r.integers(0, 8, n_part)], " "),
                        np.array(P_NOUN)[r.integers(0, 8, n_part)])
    tables["part"] = pa.table({
        "p_partkey": pa.array(pk),
        "p_name": pa.array(names),
        "p_brand": pa.array(np.char.add("Brand#", r.integers(1, 26, n_part).astype(str))),
        "p_type": pa.array(np.array(P_TYPES)[r.integers(0, 6, n_part)]),
        "p_size": pa.array(r.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 1))})

    r = _rng(seed, 4)
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(r.uniform(1000.0, 500_000.0, n_ord)),
        "o_orderdate": pa.array(EPOCH_1995 + r.integers(0, 2404, n_ord) * DAY_US,
                                type=pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[r.integers(0, 5, n_ord)])})

    r = _rng(seed, 5)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_li, dtype=np.int64)),
        "l_partkey": pa.array(r.integers(0, n_part, n_li, dtype=np.int64)),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_li, dtype=np.int64)),
        "l_linenumber": pa.array(r.integers(1, 8, n_li, dtype=np.int32)),
        "l_quantity": pa.array(r.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(r.uniform(900.0, 105_000.0, n_li)),
        "l_discount": pa.array(np.round(r.uniform(0.0, 0.1, n_li), 2)),
        "l_tax": pa.array(np.round(r.uniform(0.0, 0.08, n_li), 2)),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[r.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[r.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(EPOCH_1995 + (1 + r.integers(0, 2499, n_li)) * DAY_US,
                               type=pa.timestamp("us"))})

    r = _rng(seed, 6)
    # strictly increasing microsecond timestamps over 30 days
    offs = np.sort(r.choice(30 * DAY_US // 1000, n_ev, replace=False)) * 1000
    offs = offs + r.integers(0, 1000, n_ev)
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(EPOCH_2024 + offs, type=pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, n_users, n_ev, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[r.integers(0, 5, n_ev)]),
        "value": pa.array(0.01 + r.exponential(50.0, n_ev)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)])})

    r = _rng(seed, 7)
    texts = []
    for i in range(n_doc):
        n_words = int(r.integers(10, 100))
        texts.append(" ".join(np.array(WORDS)[r.integers(0, len(WORDS), n_words)]))
    # 5% near-duplicates: an earlier document's text plus a marker token
    for i in r.choice(np.arange(n_doc // 2, n_doc), n_doc // 20, replace=False):
        texts[i] = texts[int(r.integers(0, n_doc // 2))] + " dup"
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[r.choice(5, n_doc, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})

    r = _rng(seed, 8)
    labels = r.integers(0, 10, n_emb, dtype=np.int32)
    centers = r.normal(0.0, 1.0, (10, 64))
    vec = centers[labels] * 0.5 + r.normal(0.0, 1.0, (n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(labels)})

    out, paths, total = {}, [], 0
    for name, t in tables.items():
        p = os.path.join(out_dir, f"{name}.parquet")
        _write_parquet(t, p)
        paths.append(p)
        total += t.num_rows
        out[name] = {"rows": t.num_rows, "bytes": os.path.getsize(p)}
    return {"tables": out, **_summary(paths, total)}


# --------------------------------------------------------------------- CES

# (naics_code, industry_name) rows that hit or nearly miss the three
# reference careers: mechanic (prefix 8111), graphic designer (54143),
# software developer (511210 or prefix 5415)
CAREER_INDUSTRIES = [
    ("8111", "Automotive repair and maintenance"),
    ("81111", "Automotive mechanical and electrical repair"),
    ("811111", "General automotive repair"),
    ("81112", "Automotive body, paint, and interior repair"),
    ("54143", "Graphic design services"),
    ("511210", "Software publishers"),
    ("5415", "Computer systems design and related services"),
    ("541511", "Custom computer programming services"),
    ("541512", "Computer systems design services"),
    ("5414", "Specialized design services"),        # near miss
    ("51121", "Software publishers, broad"),         # near miss
    ("811", "Repair and maintenance"),                # near miss
    ("", "Total private"),                            # null code
]
DATATYPES = [
    ("01", "ALL EMPLOYEES, THOUSANDS"),
    ("03", "AVERAGE HOURLY EARNINGS OF ALL EMPLOYEES"),
    ("06", "PRODUCTION AND NONSUPERVISORY EMPLOYEES, THOUSANDS"),
    ("11", "All employees"),
    ("12", "Average hourly earnings"),
    ("13", "Average weekly hours"),
]
JUNK_VALUES = ["-", "(NA)", "", "n/a", "1,234.5"]


def _tsv(path, header, cols):
    """Write a tab-separated file: `header` verbatim, then the columns
    (equal-length lists of strings) joined row-wise."""
    with open(path, "w", newline="") as f:
        f.write(header + "\n")
        f.write("\n".join(map("\t".join, zip(*cols))))
        f.write("\n")


def ces_tsvs(out_dir, seed, n_industries, years):
    """Write the four BLS TSVs. The fact table holds one row per
    (series, year, period M01..M13); its size is
    n_industries * 2 seasonal * 6 datatypes * years * 13."""
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, 11)
    inds = list(CAREER_INDUSTRIES)
    while len(inds) < n_industries:
        code = str(int(r.integers(1000, 999_999)))
        if code.startswith(("8111", "54143", "511210", "5415")):
            continue
        inds.append((code, f"Industry {code} services"))
    inds = inds[:n_industries]
    ind_codes = [f"{10_000_000 + 3 * i:08d}" for i in range(len(inds))]
    paths = {}

    # header damage: padded names and a trailing junk column
    p = os.path.join(out_dir, "ce.industry")
    _tsv(p, "industry_code \tnaics_code\t industry_name\tdisplay_level",
         [[c + (" " if i % 7 == 0 else "") for i, c in enumerate(ind_codes)],
          [n + (" " if i % 5 == 0 and n else "") for i, (n, _) in enumerate(inds)],
          [nm for _, nm in inds],
          [str(i % 7) for i in range(len(inds))]])
    paths["ce.industry"] = p

    p = os.path.join(out_dir, "ce.datatype")
    _tsv(p, "data_type_code\tdata_type_text ",
         [[c for c, _ in DATATYPES], [t for _, t in DATATYPES]])
    paths["ce.datatype"] = p

    series = [(f"CE{seas}{ic}{dc}", ic, dc, seas)
              for ic in ind_codes for seas in ("S", "U") for dc, _ in DATATYPES]
    sid = [s[0] for s in series]
    p = os.path.join(out_dir, "ce.series")
    _tsv(p, "series_id   \tindustry_code\tdata_type_code\tseasonal\tseries_title",
         [[s + ("  " if i % 9 == 0 else "") for i, s in enumerate(sid)],
          [s[1] for s in series], [s[2] for s in series], [s[3] for s in series],
          ["Title of " + s for s in sid]])
    paths["ce.series"] = p

    # fact: every (series, year, period) with M13 annual rows included
    n_s, n_per = len(sid), 13
    n = n_s * years * n_per
    s_idx = np.repeat(np.arange(n_s), years * n_per)
    yr = np.tile(np.repeat(np.arange(2000, 2000 + years), n_per), n_s)
    per = np.tile(np.arange(1, n_per + 1), n_s * years)
    emp = (s_idx % len(DATATYPES)) % 3 == 0
    base = np.where(emp, r.uniform(5.0, 900.0, n_s)[s_idx], r.uniform(8.0, 60.0, n_s)[s_idx])
    val = np.round(base * (1.0 + 0.024 * (yr - 2000) + r.normal(0.0, 0.01, n)), 1)
    junk = r.random(n) < 0.01
    junk_pick = r.integers(0, len(JUNK_VALUES), n)
    pad = r.random(n) < 0.05
    vals = [JUNK_VALUES[j] if bad else ("   " if padded else "") + repr(v)
            for v, bad, j, padded in zip(val.tolist(), junk.tolist(), junk_pick.tolist(), pad.tolist())]
    sid_col = [sid[i] + (" " if k % 11 == 0 else "") for k, i in enumerate(s_idx.tolist())]
    years_s = [str(y) for y in range(2000, 2000 + years)]
    periods = [f"M{m:02d}" for m in range(1, n_per + 1)]
    foot = ["P" if f else "" for f in (r.random(n) < 0.02).tolist()]
    p = os.path.join(out_dir, "ce.data")
    _tsv(p, "series_id \tyear\tperiod\t value\tfootnote_codes",
         [sid_col, [years_s[y - 2000] for y in yr.tolist()],
          [periods[m - 1] for m in per.tolist()], vals, foot])
    paths["ce.data"] = p

    files = {k: {"bytes": os.path.getsize(v)} for k, v in paths.items()}
    files["ce.data"]["rows"] = int(n)
    files["ce.series"]["rows"] = int(n_s)
    files["ce.industry"]["rows"] = len(inds)
    files["ce.datatype"]["rows"] = len(DATATYPES)
    s = _summary(list(paths.values()), n)
    return {"tables": files, **s}


# ---------------------------------------------------------------- forecast

def forecast_series(out_dir, seed, keys, months):
    """Monthly series per key: trend + 12-month seasonality + AR(1) noise,
    plus an exogenous clipped random walk. Each key's shape (level,
    slope, amplitude, AR coefficient) is fixed by its index; the seed
    draws the noise, so every seed poses fits of the same difficulty.
    One parquet file."""
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, 21)
    start = dt.date(2004, 1, 1)
    dates = [dt.date(start.year + (start.month - 1 + m) // 12, (start.month - 1 + m) % 12 + 1, 1)
             for m in range(months)]
    k_col, d_col, y_col, x_col = [], [], [], []
    t = np.arange(months)
    for k in range(keys):
        shape = _rng(0, 1000 + k)
        level, slope = shape.uniform(50.0, 500.0), shape.uniform(-0.05, 0.3)
        amp = shape.uniform(0.02, 0.15) * level
        phi = shape.uniform(0.2, 0.8)
        e = r.normal(0.0, 0.03 * level, months)
        ar = np.zeros(months)
        for i in range(1, months):
            ar[i] = phi * ar[i - 1] + e[i]
        x = np.maximum(np.cumsum(r.normal(0.001, 0.01, months)), 0.0)
        y = level + slope * t + amp * np.sin(2 * np.pi * t / 12.0) + ar + 40.0 * x
        k_col += [f"k{k:03d}"] * months
        d_col += dates
        y_col.append(np.round(y, 4))
        x_col.append(np.round(x, 6))
    table = pa.table({
        "key": pa.array(k_col),
        "month": pa.array(d_col, type=pa.date32()),
        "value": pa.array(np.concatenate(y_col)),
        "exog": pa.array(np.concatenate(x_col))})
    p = os.path.join(out_dir, "series.parquet")
    _write_parquet(table, p)
    return {"tables": {"series": {"rows": table.num_rows, "bytes": os.path.getsize(p)}},
            "keys": keys, "months": months, **_summary([p], table.num_rows)}
