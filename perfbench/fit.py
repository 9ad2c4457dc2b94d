#!/usr/bin/env python3
"""Fit the generator's value domains from a fixture directory.

Usage: python3 perfbench/fit.py <fixture_dir> > perfbench/domains.json

Reads the ten fixture tables (one parquet file each) and records what the
generator needs to reproduce them: categorical values and shares, numeric
and date ranges, key-to-row ratios, the document vocabulary, length range,
language shares and near-duplicate rate, and the name formats. The committed
domains.json was fitted from the sf0.1 fixtures; the benchmark itself only
reads domains.json.
"""
import json
import sys

import pandas as pd


def shares(s):
    return {str(k): round(float(v), 4)
            for k, v in s.value_counts(normalize=True).sort_index().items()}


def rng(s):
    return [float(s.min()), float(s.max())]


def days(s):
    return [str(s.min().date()), str(s.max().date())]


def main(fx):
    t = {n: pd.read_parquet(f"{fx}/{n}.parquet") for n in
         ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]}
    c, s, p, o, li, e, d, em = (t[n] for n in ["customer", "supplier", "part", "orders",
                                               "lineitem", "events", "documents", "embeddings"])
    words = d.text.str.split()
    is_dup = d.text.str.endswith(" dup")
    base_words = sorted({w for ws in words[~is_dup] for w in ws})
    pn = p.p_name.str.split(" ", n=1)
    out = {
        "fitted_rows": {n: len(x) for n, x in t.items()},
        "region": t["region"].r_name.tolist(),
        "nation": {"count": len(t["nation"]), "name_prefix": "NATION_",
                   "regionkey_is_key_mod_regions": bool(
                       (t["nation"].n_regionkey == t["nation"].n_nationkey % len(t["region"])).all())},
        "customer": {"name_prefix": "Customer#", "name_digits": len(c.c_name[0]) - len("Customer#"),
                     "acctbal": rng(c.c_acctbal), "mktsegment": shares(c.c_mktsegment)},
        "supplier": {"name_prefix": "Supplier#", "name_digits": len(s.s_name[0]) - len("Supplier#"),
                     "acctbal": rng(s.s_acctbal), "per_customer": len(s) / len(c)},
        "part": {"per_customer": len(p) / len(c),
                 "name_adjectives": sorted(set(pn.str[0])), "name_nouns": sorted(set(pn.str[1])),
                 "brand": shares(p.p_brand), "type": shares(p.p_type), "size": rng(p.p_size),
                 "retailprice_base": float(p.p_retailprice.min()),
                 "retailprice_cycle": int(p.p_retailprice.nunique())},
        "orders": {"per_customer": len(o) / len(c), "orderstatus": shares(o.o_orderstatus),
                   "totalprice": rng(o.o_totalprice), "orderdate": days(o.o_orderdate),
                   "orderpriority": shares(o.o_orderpriority)},
        "lineitem": {"per_order": len(li) / len(o), "linenumber": rng(li.l_linenumber),
                     "quantity": rng(li.l_quantity), "extendedprice": rng(li.l_extendedprice),
                     "discount": rng(li.l_discount), "tax": rng(li.l_tax),
                     "returnflag": shares(li.l_returnflag), "linestatus": shares(li.l_linestatus),
                     "shipdate": days(li.l_shipdate)},
        "events": {"per_customer": len(e) / len(c), "users_per_customer": e.user_id.nunique() / len(c),
                   "ts": [str(e.ts.min().floor("D")), str(e.ts.max().ceil("D"))],
                   "event_type": shares(e.event_type), "value_mean": round(float(e.value.mean()), 2),
                   "props_k": rng(e.props.str.extract(r"(\d+)")[0].astype(int))},
        "documents": {"vocabulary": base_words, "words": rng(words[~is_dup].str.len()),
                      "dup_rate": round(float(is_dup.mean()), 4), "dup_suffix": " dup",
                      "lang": shares(d.lang), "sources": int(d.source.nunique())},
        "embeddings": {"dim": int(len(em.embedding[0])), "labels": int(em.label.nunique())},
    }
    json.dump(out, sys.stdout, indent=1, sort_keys=True)
    print()


if __name__ == "__main__":
    main(sys.argv[1])
