#!/usr/bin/env python3
"""Seeded generator of the engine's ten fixture tables.

Tables follow the fixture schema (FIXTURES.md §2): one parquet file per
table, one row group per file, timestamps as tz-naive microseconds. Value
domains come from domains.json (fitted from the sf0.1 fixtures by fit.py);
every column is drawn independently from its fitted domain, except the keys,
which are dense 0..n-1, and the foreign keys, which are uniform over the
referenced table's keys. The same seed and scale give the same bytes.

Scale is given as row counts: `customers` drives the star schema and events
through the fitted per-customer ratios; `documents` and `embeddings` are set
on their own, as in the fixtures, where they do not follow the scale factor.

Fidelity check against fixtures (generated at the fixtures' own scale):
    python3 perfbench/gen.py check <fixture_dir> [--seed N]
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
DOM = json.load(open(os.path.join(HERE, "domains.json")))
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _cat(rng, shares, n):
    """Categorical column with the fitted shares, as a string array."""
    vals = list(shares)
    p = np.array([shares[v] for v in vals], dtype=float)
    idx = rng.choice(len(vals), size=n, p=p / p.sum()).astype(np.int32)
    return pa.DictionaryArray.from_arrays(idx, pa.array(vals)).cast(pa.string())


def _money(rng, lo_hi, n):
    lo, hi = (int(round(x * 100)) for x in lo_hi)
    return rng.integers(lo, hi + 1, n) / 100.0


def _days(rng, lo_hi, n):
    lo, hi = (np.datetime64(d, "D") for d in lo_hi)
    d = lo + rng.integers(0, int((hi - lo).astype(int)) + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _names(prefix, digits, n):
    return pa.array([f"{prefix}{k:0{digits}d}" for k in range(n)])


def row_counts(scale):
    c = int(scale["customers"])
    return {
        "region": len(DOM["region"]), "nation": DOM["nation"]["count"], "customer": c,
        "supplier": max(1, round(c * DOM["supplier"]["per_customer"])),
        "part": max(1, round(c * DOM["part"]["per_customer"])),
        "orders": max(1, round(c * DOM["orders"]["per_customer"])),
        "lineitem": max(1, round(c * DOM["orders"]["per_customer"] * DOM["lineitem"]["per_order"])),
        "events": max(1, round(c * DOM["events"]["per_customer"])),
        "documents": int(scale["documents"]), "embeddings": int(scale["embeddings"]),
    }


def build_tables(seed, scale):
    n = row_counts(scale)
    # one independent stream per table, so a table's content does not depend
    # on the sizes of the others
    rngs = dict(zip(TABLES, (np.random.default_rng(s)
                             for s in np.random.SeedSequence(seed).spawn(len(TABLES)))))
    t = {}
    regions = DOM["region"]
    t["region"] = pa.table({"r_regionkey": pa.array(range(len(regions)), pa.int32()),
                            "r_name": pa.array(regions)})
    nk = np.arange(n["nation"], dtype=np.int32)
    t["nation"] = pa.table({"n_nationkey": nk,
                            "n_name": pa.array([f"{DOM['nation']['name_prefix']}{k}" for k in nk]),
                            "n_regionkey": (nk % len(regions)).astype(np.int32)})

    r, d, c = rngs["customer"], DOM["customer"], n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": _names(d["name_prefix"], d["name_digits"], c),
        "c_nationkey": r.integers(0, n["nation"], c).astype(np.int32),
        "c_acctbal": _money(r, d["acctbal"], c),
        "c_mktsegment": _cat(r, d["mktsegment"], c)})

    r, d, k = rngs["supplier"], DOM["supplier"], n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(k, dtype=np.int64),
        "s_name": _names(d["name_prefix"], d["name_digits"], k),
        "s_nationkey": r.integers(0, n["nation"], k).astype(np.int32),
        "s_acctbal": _money(r, d["acctbal"], k)})

    r, d, k = rngs["part"], DOM["part"], n["part"]
    adj, noun = d["name_adjectives"], d["name_nouns"]
    names = np.array([f"{a} {b}" for a in adj for b in noun])
    pk = np.arange(k, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": pa.array(names[r.integers(0, len(names), k)]),
        "p_brand": _cat(r, d["brand"], k),
        "p_type": _cat(r, d["type"], k),
        "p_size": r.integers(int(d["size"][0]), int(d["size"][1]) + 1, k).astype(np.int32),
        "p_retailprice": d["retailprice_base"] + (pk % d["retailprice_cycle"]) / 10.0})

    r, d, k = rngs["orders"], DOM["orders"], n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(k, dtype=np.int64),
        "o_custkey": r.integers(0, c, k).astype(np.int64),
        "o_orderstatus": _cat(r, d["orderstatus"], k),
        "o_totalprice": _money(r, d["totalprice"], k),
        "o_orderdate": _days(r, d["orderdate"], k),
        "o_orderpriority": _cat(r, d["orderpriority"], k)})

    r, d, k = rngs["lineitem"], DOM["lineitem"], n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": r.integers(0, n["orders"], k).astype(np.int64),
        "l_partkey": r.integers(0, n["part"], k).astype(np.int64),
        "l_suppkey": r.integers(0, n["supplier"], k).astype(np.int64),
        "l_linenumber": r.integers(int(d["linenumber"][0]), int(d["linenumber"][1]) + 1, k).astype(np.int32),
        "l_quantity": r.integers(int(d["quantity"][0]), int(d["quantity"][1]) + 1, k).astype(np.float64),
        "l_extendedprice": _money(r, d["extendedprice"], k),
        "l_discount": _money(r, d["discount"], k),
        "l_tax": _money(r, d["tax"], k),
        "l_returnflag": _cat(r, d["returnflag"], k),
        "l_linestatus": _cat(r, d["linestatus"], k),
        "l_shipdate": _days(r, d["shipdate"], k)})

    r, d, k = rngs["events"], DOM["events"], n["events"]
    lo, hi = (np.datetime64(x, "us") for x in d["ts"])
    ts = np.sort(r.integers(0, int((hi - lo).astype(np.int64)), k)) + lo
    users = max(1, round(c * d["users_per_customer"]))
    klo, khi = (int(x) for x in d["props_k"])
    props = pa.array([f'{{"k": {j}}}' for j in range(klo, khi + 1)])
    t["events"] = pa.table({
        "event_id": np.arange(k, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": r.integers(0, users, k).astype(np.int64),
        "event_type": _cat(r, d["event_type"], k),
        "value": np.round(r.exponential(d["value_mean"], k), 2),
        "props": pa.DictionaryArray.from_arrays(
            r.integers(0, khi - klo + 1, k).astype(np.int32), props).cast(pa.string())})

    r, d, k = rngs["documents"], DOM["documents"], n["documents"]
    vocab = np.array(d["vocabulary"])
    lens = r.integers(int(d["words"][0]), int(d["words"][1]) + 1, k)
    flat = vocab[r.integers(0, len(vocab), int(lens.sum()))]
    ends = np.cumsum(lens)
    text = [" ".join(flat[e - m:e]) for e, m in zip(ends, lens)]
    # near duplicates: a share of documents are another document plus a
    # suffix word, drawn in doc order so a copy of a copy is possible
    for i in np.flatnonzero(r.random(k) < d["dup_rate"]):
        j = int(r.integers(0, k - 1))
        text[i] = text[j + (j >= i)] + d["dup_suffix"]
    t["documents"] = pa.table({
        "doc_id": np.arange(k, dtype=np.int64),
        "text": pa.array(text),
        "lang": _cat(r, d["lang"], k),
        "source": pa.array([f"src{j % d['sources']}" for j in range(k)]),
        "n_chars": np.array([len(x) for x in text], dtype=np.int64)})

    r, d, k = rngs["embeddings"], DOM["embeddings"], n["embeddings"]
    v = r.standard_normal((k, d["dim"]))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(k, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, k * d["dim"] + 1, d["dim"], dtype=np.int32)),
            pa.array(v.ravel())),
        "label": r.integers(0, d["labels"], k).astype(np.int32)})
    return t


def generate(out_dir, seed, scale):
    """Write the ten tables to out_dir; returns per-table rows, bytes and
    row groups."""
    os.makedirs(out_dir, exist_ok=True)
    info = {}
    for name, tbl in build_tables(seed, scale).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path, row_group_size=max(1, tbl.num_rows))
        info[name] = {"rows": tbl.num_rows, "bytes": os.path.getsize(path),
                      "row_groups": pq.ParquetFile(path).metadata.num_row_groups}
    return info


# -- fidelity check ----------------------------------------------------------

# Tolerances: counts of rows and of dense keys must match exactly. Both sides
# draw the rest at random, so a share (of a categorical value, of nulls, of
# duplicate documents) may differ by four standard errors of the difference
# of two samples of the table's size, and never less than MIN_SHARE_TOL; a
# count of distinct foreign keys may differ by DISTINCT_TOL (relative).
MIN_SHARE_TOL = 0.01
DISTINCT_TOL = 0.02


def share_tol(p, n):
    return max(MIN_SHARE_TOL, 4 * (2 * p * (1 - p) / n) ** 0.5)
KEYS = {"customer": "c_custkey", "supplier": "s_suppkey", "part": "p_partkey",
        "orders": "o_orderkey", "events": "event_id", "documents": "doc_id",
        "embeddings": "vec_id", "nation": "n_nationkey", "region": "r_regionkey"}
FOREIGN = {"orders": ["o_custkey"], "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
           "events": ["user_id"], "customer": ["c_nationkey"]}


def fidelity(fixture_dir, out_dir, seed=42):
    """Compare tables generated at the fixtures' scale with the fixtures.
    Returns a list of (table, check, fixture value, generated value, ok)."""
    import pandas as pd
    fx = {n: pd.read_parquet(f"{fixture_dir}/{n}.parquet") for n in TABLES}
    scale = {"customers": len(fx["customer"]), "documents": len(fx["documents"]),
             "embeddings": len(fx["embeddings"])}
    generate(out_dir, seed, scale)
    gen = {n: pd.read_parquet(f"{out_dir}/{n}.parquet") for n in TABLES}
    rows = []

    def check(table, what, a, b, ok):
        rows.append((table, what, a, b, bool(ok)))

    for n in TABLES:
        f, g = fx[n], gen[n]
        check(n, "rows", len(f), len(g), len(f) == len(g))
        check(n, "columns", list(f.columns), list(g.columns), list(f.columns) == list(g.columns))
        check(n, "types", [str(x) for x in f.dtypes], [str(x) for x in g.dtypes],
              list(f.dtypes) == list(g.dtypes))
        for col in f.columns:
            a, b = float(f[col].isna().mean()), float(g[col].isna().mean())
            check(n, f"null_share:{col}", a, b, abs(a - b) <= share_tol(a, len(f)))
            if f[col].dtype == object and isinstance(f[col].iloc[0], str) and f[col].nunique() <= 30:
                fs, gs = f[col].value_counts(normalize=True), g[col].value_counts(normalize=True)
                for v in sorted(set(fs.index) | set(gs.index)):
                    a, b = round(float(fs.get(v, 0)), 4), round(float(gs.get(v, 0)), 4)
                    check(n, f"share:{col}={v}", a, b, abs(a - b) <= share_tol(a, len(f)))
        if n in KEYS:
            k = KEYS[n]
            check(n, f"distinct:{k}", f[k].nunique(), g[k].nunique(), f[k].nunique() == g[k].nunique())
        for k in FOREIGN.get(n, []):
            a, b = f[k].nunique(), g[k].nunique()
            check(n, f"distinct:{k}", a, b, abs(a - b) <= DISTINCT_TOL * a)
    nd = len(fx["documents"])
    a = float(fx["documents"].text.str.endswith(" dup").mean())
    b = float(gen["documents"].text.str.endswith(" dup").mean())
    check("documents", "near_dup_share", a, b, abs(a - b) <= share_tol(a, nd))
    a = float(fx["documents"].text.duplicated().mean())
    b = float(gen["documents"].text.duplicated().mean())
    check("documents", "exact_dup_share", a, b, abs(a - b) <= share_tol(a, nd))
    a = fx["customer"].c_name.str.fullmatch(r"Customer#\d{9}").mean()
    b = gen["customer"].c_name.str.fullmatch(r"Customer#\d{9}").mean()
    check("customer", "c_name_format", a, b, a == b == 1.0)
    return rows


def main(argv):
    if len(argv) < 2 or argv[0] != "check":
        print(__doc__, file=sys.stderr)
        return 2
    seed = int(argv[argv.index("--seed") + 1]) if "--seed" in argv else 42
    out = os.path.join(os.path.dirname(HERE), ".perfbench", "fidelity")
    rows = fidelity(argv[1], out, seed)
    bad = [r for r in rows if not r[4]]
    for t, what, a, b, ok in rows:
        if not ok or what in ("rows", "near_dup_share", "exact_dup_share"):
            print(f"{'ok ' if ok else 'BAD'} {t:11s} {what:28s} fixture={a} generated={b}")
    print(f"{len(rows) - len(bad)} of {len(rows)} checks within tolerance")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
