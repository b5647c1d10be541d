"""Seeded input generators for the benchmark.

`write_tables(dir, seed, sizes, corpus)` writes the ten harness tables (the shape
the catalog queries read: a TPC-H-like star schema plus `events`,
`documents` and `embeddings`) at scale factor 0.1, with the row counts
and column types of the repo's sf0.1 fixture directory (spec.json
`sizes`), except that `events.ts` is written as timestamp[ns], the type
FIXTURES.md gives for it. With `corpus` set,
`documents` additionally carries near-duplicate clusters and a shared
boilerplate line (the `corpus_dedup` workload).

The same seed gives byte-identical files: every value comes from one
numpy PCG64 stream and the parquet writer embeds no timestamps.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
BOILERPLATE = ("subscribe to the data stream newsletter for weekly spark "
               "join and window tips")


def _rng(seed, stream):
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _money(rng, lo, hi, n):
    """Uniform 2-decimal amounts in [lo, hi], exact to the cent."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _days(rng, start, end, n):
    """Midnight timestamps (µs, no zone) uniform in [start, end]."""
    s = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - s).astype(int)
    return (s + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _write(path, cols):
    pq.write_table(pa.table(cols), path, compression="snappy")


def _doc_texts(rng, n, dup_share=0.05):
    lens = rng.integers(10, 101, n)
    words = np.array(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lens]
    # a share of documents repeat another document with a marker word
    # appended, as harvested corpora do
    for i in np.flatnonzero(rng.random(n) < dup_share):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return texts


def _corpus(rng, texts, clusters, cluster_max, edit_share, boiler_share):
    """Near-duplicate clusters plus one boilerplate line shared by a fixed
    share of documents; returns the new text list (old ids keep their place,
    cluster members are appended)."""
    texts = list(texts)
    n0 = len(texts)
    for _ in range(clusters):
        src = texts[int(rng.integers(0, n0))].split()
        for _ in range(int(rng.integers(2, cluster_max + 1))):
            toks = list(src)
            for j in np.flatnonzero(rng.random(len(toks)) < edit_share):
                toks[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(toks))
    for i in np.flatnonzero(rng.random(len(texts)) < boiler_share):
        texts[i] = texts[i] + " " + BOILERPLATE
    return texts


def documents_table(seed, n, corpus=None):
    rng = _rng(seed, 8)
    texts = _doc_texts(rng, n)
    if corpus:
        texts = _corpus(rng, texts, **corpus)
    m = len(texts)
    langs = np.array(["en", "de", "es", "fr", "zh"])
    lang = langs[rng.choice(5, m, p=[0.4, 0.15, 0.15, 0.15, 0.15])]
    return {
        "doc_id": pa.array(np.arange(m, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang.tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(m)], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def write_tables(out, seed, sizes, corpus=None):
    """`sizes` holds each table's row count (spec.json `sizes`); region and
    nation are fixed at 5 and 25 rows."""
    os.makedirs(out, exist_ok=True)
    p = lambda t: os.path.join(out, f"{t}.parquet")  # noqa: E731
    n_cust, n_supp, n_part = sizes["customer"], sizes["supplier"], sizes["part"]
    n_ord, n_li, n_ev = sizes["orders"], sizes["lineitem"], sizes["events"]

    _write(p("region"), {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    _write(p("nation"), {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})

    rng = _rng(seed, 1)
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(p("customer"), {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(segs[rng.integers(0, 5, n_cust)].tolist())})

    rng = _rng(seed, 2)
    _write(p("supplier"), {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))})

    rng = _rng(seed, 3)
    adj = np.array(["blue", "old", "small", "new", "large", "hot", "cold", "red"])
    noun = np.array(["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    keys = np.arange(n_part, dtype=np.int64)
    _write(p("part"), {
        "p_partkey": pa.array(keys),
        "p_name": pa.array(np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                                       noun[rng.integers(0, 8, n_part)]).tolist()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(types[rng.integers(0, 6, n_part)].tolist()),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (keys % 1000) / 10.0, 1))})

    rng = _rng(seed, 4)
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(p("orders"), {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)].tolist()),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n_ord)),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", n_ord)),
        "o_orderpriority": pa.array(prio[rng.integers(0, 5, n_ord)].tolist())})

    rng = _rng(seed, 5)
    _write(p("lineitem"), {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)].tolist()),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)].tolist()),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", n_li))})

    rng = _rng(seed, 6)
    etypes = np.array(["click", "error", "purchase", "signup", "view"])
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    _write(p("events"), {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        # timestamp[ns], so Tables.events takes its nanos-as-long branch
        "ts": pa.array((ts0 + offs.astype("timedelta64[us]")).astype("datetime64[ns]")),
        "user_id": pa.array(rng.integers(0, 1500, n_ev).astype(np.int64)),
        "event_type": pa.array(etypes[rng.integers(0, 5, n_ev)].tolist()),
        "value": pa.array(np.round(rng.gamma(2.0, 50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})

    _write(p("documents"), documents_table(seed, sizes["documents"], corpus))

    rng = _rng(seed, 9)
    n_emb = sizes["embeddings"]
    emb = rng.normal(0.0, 1.0, (n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    _write(p("embeddings"), {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32))})
