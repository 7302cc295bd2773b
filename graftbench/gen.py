"""Seeded input generator for the graft benchmark.

Writes the ten test tables (region, nation, customer, supplier, part,
orders, lineitem, events, documents, embeddings) as single-file,
single-row-group parquet with the schema graft's `Tables` loaders read.
The same (profile, seed) gives byte-identical files; another seed gives
different rows with the same recorded properties (`properties()`): every
count, share and mean that `properties.json` records is fixed by the
profile, and the seed only decides which rows carry them.

    python3 graftbench/gen.py <profile> <seed> <out_dir>
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# One profile per workload, plus the small instance the DuckDB oracle
# check replays. Sizes keep one invocation (two cold JVM set-ups, the
# oracle dump and the timed passes) near a minute on 4 cores.
PROFILES = {
    # 16 series on the 720-hour grid: per-series kernels dominate
    "series_kernels": dict(series=16, hours=720, events_per_series=1800, docs=200, vectors=200, tpch_sf=0.001),
    # an sf0.01-sized corpus: expression kernels, band self-joins, ANN rounds
    "corpus_dedup": dict(series=5, hours=720, events_per_series=400, docs=500, vectors=500, tpch_sf=0.001),
    # the small instance every oracle comparison runs on: short series keep
    # the quadratic DuckDB replays of the kernels inside the per-oracle cap
    "oracle": dict(series=3, hours=240, events_per_series=300, docs=100, vectors=100, tpch_sf=0.001),
}

BASE_TYPES = ["click", "signup", "error", "view", "purchase"]
T0_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00, the first event hour of the sf* test data
DAY_US = 86_400 * 1_000_000
VOCAB = ("value hash batch sort data big filter dup fast spark line small customer group row "
         "the query stream key agg scan slow table part a merge window order column join vector").split()
LANGS = ["en", "en", "en", "en", "de", "fr", "es", "zh"]
NEAR_DUP_SHARE = 0.20   # docs that are a token-edited copy of an earlier doc
EXACT_DUP_SHARE = 0.05  # docs that repeat an earlier doc verbatim
VEC_DUP_SHARE = 0.10    # vectors that are a tiny perturbation of an earlier one
DIM = 64
STREAM_EVENT_FEED_CAP = 50_000  # graft.queries.StreamQueries.EventFeedCap
STREAM_DOC_FEED_CAP = 2_000     # graft.queries.StreamQueries.DocFeedCap


def series_names(n):
    if n <= len(BASE_TYPES):
        return BASE_TYPES[:n]
    return [f"{BASE_TYPES[i % 5]}_{i // 5:03d}" for i in range(n)]


def spread_ints(total_mean, k, lo, hi):
    """k integers evenly spaced over [lo, hi] x total_mean: a fixed multiset."""
    return [int(total_mean * (lo + (hi - lo) * i / max(k - 1, 1))) for i in range(k)]


def events(rng, p):
    names = series_names(p["series"])
    ts, vals, kinds = [], [], []
    sizes = rng.permutation(spread_ints(p["events_per_series"], len(names), 0.8, 1.2))
    for i, _ in enumerate(names):
        n = int(sizes[i])
        t = np.sort(rng.integers(0, p["hours"] * 3_600_000_000, n))
        h = t / 3_600_000_000
        level = rng.uniform(20, 80)
        amp = rng.uniform(0.0, 0.5)
        phase = rng.uniform(0, 2 * np.pi)
        cp, shift = p["hours"] * rng.uniform(0.3, 0.7), rng.uniform(0.6, 1.6)
        v = level * (1 + amp * np.sin(2 * np.pi * h / 24 + phase)) * np.where(h >= cp, shift, 1.0)
        v = np.maximum(np.round(v * rng.exponential(1.0, n), 2), 0.01)
        ts.append(t); vals.append(v); kinds.append(np.full(n, i))
    t = np.concatenate(ts); v = np.concatenate(vals); k = np.concatenate(kinds)
    order = np.lexsort((k, t))
    t, v, k = t[order], v[order], k[order]
    n = len(t)
    props = rng.integers(0, 100, n)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(T0_US + t, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n, dtype=np.int64)),
        "event_type": pa.array([names[j] for j in k], pa.string()),
        "value": pa.array(v),
        "props": pa.array([f'{{"k": {x}}}' for x in props], pa.string()),
    })


def documents(rng, p):
    n = p["docs"]
    exact, near = round(n * EXACT_DUP_SHARE), round(n * NEAR_DUP_SHARE)
    n_orig = n - exact - near
    # originals: a fixed multiset of lengths (10..99 tokens) in seeded order
    orig = [" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k))
            for k in rng.permutation([10 + 90 * i // n_orig for i in range(n_orig)])]
    # copies: the originals at evenly spaced length ranks (ties in seeded
    # order), so the copied lengths, and the mean tokens per doc, are fixed too
    by_len = sorted(range(n_orig), key=lambda i: (orig[i].count(" "), rng.random()))
    sources = [by_len[r * n_orig // (exact + near)] for r in range(exact + near)]
    copies = [orig[i] for i in sources[:exact]]
    for i in sources[exact:]:
        toks = orig[i].split(" ")
        for j in rng.choice(len(toks), max(1, len(toks) // 20), replace=False):
            other = [w for w in VOCAB if w != toks[j]]  # an edit that changes the token
            toks[j] = other[int(rng.integers(0, len(other)))]
        copies.append(" ".join(toks))
    texts = orig + copies
    texts = [texts[i] for i in rng.permutation(n)]
    t = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[j] for j in rng.integers(0, len(LANGS), n)], pa.string()),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array(np.array([len(x) for x in texts], dtype=np.int64)),
    })
    mean_tokens = float(np.mean([x.count(" ") + 1 for x in texts]))
    return t, {"near_dup_docs": near, "exact_dup_docs": exact, "mean_tokens_per_doc": round(mean_tokens, 3)}


def embeddings(rng, p):
    n = p["vectors"]
    labels = rng.integers(0, 10, n)
    cent = rng.normal(0, 0.15, (10, DIM))
    x = cent[labels] + rng.normal(0, 0.08, (n, DIM))
    dup = np.zeros(n, dtype=bool)
    dup[1 + rng.permutation(n - 1)[:round(n * VEC_DUP_SHARE)]] = True
    for i in np.nonzero(dup)[0]:
        x[i] = x[int(rng.integers(0, i))] + rng.normal(0, 0.005, DIM)
    x = x.astype(np.float32)
    t = pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    return t, {"near_dup_vectors": int(dup.sum())}


def tpch(rng, sf):
    n_cust, n_supp = max(int(150_000 * sf), 10), max(int(10_000 * sf), 10)
    n_part, n_ord = max(int(200_000 * sf), 20), max(int(1_500_000 * sf), 100)
    n_li = 4 * n_ord
    day0 = np.datetime64("1995-01-01", "D").astype(np.int64)
    colors = "small new red blue old hot large cold".split()
    things = "widget gizmo ring gear bolt plate anvil rod".split()
    ptypes = "ECONOMY STANDARD LARGE SMALL MEDIUM PROMO".split()
    segs = "HOUSEHOLD BUILDING MACHINERY AUTOMOBILE FURNITURE".split()
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

    def pick(xs, k):
        return pa.array([xs[j] for j in rng.integers(0, len(xs), k)], pa.string())

    def days(k, span):
        return pa.array((day0 + rng.integers(0, span, k)) * DAY_US, pa.timestamp("us"))

    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))
    money = lambda lo, hi, k: pa.array(np.round(rng.uniform(lo, hi, k), 2))
    return {
        "region": pa.table({"r_regionkey": i32(range(5)),
                            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])}),
        "nation": pa.table({"n_nationkey": i32(range(25)),
                            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                            "n_regionkey": i32([i % 5 for i in range(25)])}),
        "customer": pa.table({"c_custkey": i64(range(n_cust)),
                              "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
                              "c_nationkey": i32(rng.integers(0, 25, n_cust)),
                              "c_acctbal": money(-999.99, 9999.99, n_cust),
                              "c_mktsegment": pick(segs, n_cust)}),
        "supplier": pa.table({"s_suppkey": i64(range(n_supp)),
                              "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
                              "s_nationkey": i32(rng.integers(0, 25, n_supp)),
                              "s_acctbal": money(-999.99, 9999.99, n_supp)}),
        "part": pa.table({"p_partkey": i64(range(n_part)),
                          "p_name": pa.array([f"{colors[a]} {things[b]}" for a, b in
                                              zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
                          "p_brand": pa.array([f"Brand#{j}" for j in rng.integers(1, 26, n_part)]),
                          "p_type": pick(ptypes, n_part),
                          "p_size": i32(rng.integers(1, 51, n_part)),
                          "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2))}),
        "orders": pa.table({"o_orderkey": i64(range(n_ord)),
                            "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
                            "o_orderstatus": pick(["F", "O", "P"], n_ord),
                            "o_totalprice": money(1000, 500_000, n_ord),
                            "o_orderdate": days(n_ord, 2404),
                            "o_orderpriority": pick(prios, n_ord)}),
        "lineitem": pa.table({"l_orderkey": i64(rng.integers(0, n_ord, n_li)),
                              "l_partkey": i64(rng.integers(0, n_part, n_li)),
                              "l_suppkey": i64(rng.integers(0, n_supp, n_li)),
                              "l_linenumber": i32(rng.integers(1, 8, n_li)),
                              "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
                              "l_extendedprice": money(900, 105_000, n_li),
                              "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
                              "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
                              "l_returnflag": pick(["A", "N", "R"], n_li),
                              "l_linestatus": pick(["F", "O"], n_li),
                              "l_shipdate": days(n_li, 2500)}),
    }


def properties(profile, seed, stats):
    """The recorded input properties: identical for every seed of a profile."""
    p = PROFILES[profile]
    return {"profile": profile, "seed": seed, "series": p["series"], "points_per_series": p["hours"], **stats}


def generate(profile, seed, out_dir):
    p = PROFILES[profile]
    # one independent stream per table, so resizing one table leaves the others' rows unchanged
    streams = np.random.SeedSequence([seed, sorted(PROFILES).index(profile)]).spawn(4)
    rng_ev, rng_doc, rng_vec, rng_tp = (np.random.default_rng(s) for s in streams)
    os.makedirs(out_dir, exist_ok=True)
    ev = events(rng_ev, p)
    docs, doc_stats = documents(rng_doc, p)
    vecs, vec_stats = embeddings(rng_vec, p)
    tables = {**tpch(rng_tp, p["tpch_sf"]), "events": ev, "documents": docs, "embeddings": vecs}
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"), row_group_size=max(t.num_rows, 1),
                       compression="snappy")
    stats = {"events": ev.num_rows, "docs": docs.num_rows, "vectors": vecs.num_rows,
             "near_dup_share": round((doc_stats["near_dup_docs"] + doc_stats["exact_dup_docs"]) / docs.num_rows, 4),
             **doc_stats, **vec_stats,
             # rows the stream replays feed: the raw-event feed is capped by the library,
             # the hourly-grid feeds carry one row per series-hour
             "stream_event_feed_rows": min(ev.num_rows, STREAM_EVENT_FEED_CAP),
             "stream_doc_feed_rows": min(docs.num_rows, STREAM_DOC_FEED_CAP),
             "stream_hourly_feed_rows": p["series"] * p["hours"],
             "orders": tables["orders"].num_rows, "lineitem": tables["lineitem"].num_rows}
    props = properties(profile, seed, stats)
    with open(os.path.join(out_dir, "properties.json"), "w") as f:
        json.dump(props, f, indent=1, sort_keys=True)
    return props


if __name__ == "__main__":
    if len(sys.argv) != 4 or sys.argv[1] not in PROFILES:
        sys.exit(f"usage: gen.py <{'|'.join(PROFILES)}> <seed> <out_dir>")
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])))
