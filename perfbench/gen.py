"""Seeded corpus generator for the repo benchmark.

Writes the engine's input tables (the schemas of FIXTURES.md section A)
as parquet directories, from a seed and a size spec, and nothing else:
the engine only ever sees these files.

Structure, documented so a claim can name what it depends on:

- Key skew: snapshot rows pick their item with weight 1/(rank+1)^0.6
  over the parts table, so a few items are hot and most are cold.
- Best-of-day fan-in: rows come in (item, day) groups of 1 + Poisson(2)
  rows, capped at 6, each with its own (source, price type) pair drawn
  from the six `l_returnflag` x `l_linestatus` combinations; mean
  fan-in is about 3 candidates per item-day.
- Documents: 10-100 words (uniform) over a 34-word vocabulary; language
  mix en 41%, zh 15%, es 15%, fr 15%, de 14%; 20 sources. About 5.1% of
  documents are a planted near-duplicate of the previous one (one word
  appended), 0.16% an exact duplicate, and about 1% copy a document of
  the decontamination benchmark slice (doc_id % 29 == 0) plus one word.
- Embeddings: 64-d unit Gaussian vectors, labels uniform over 10; 2% are
  near-duplicates of an earlier vector (noise 0.01, renormalised).
- Events: 30 days of January 2024, users skewed like items, five event
  types uniform.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark line column order small sort fast value scan batch part "
         "query agg table hash key group merge join filter stream big "
         "slow vector customer the a index cache shard page window row "
         "data").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
ADJS = "large hot blue red small dark light cold".split()
NOUNS = "ring bolt screw nut washer plate rod gear".split()
PTYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO"]
FLAGS = [("A", "O"), ("A", "F"), ("N", "O"), ("N", "F"), ("R", "O"), ("R", "F")]
DAY0 = np.datetime64("1995-01-02")
N_DAYS = 2500
EV0 = np.datetime64("2024-01-01T00:00:00", "us")
BENCH_MOD = 29  # the decontamination op's benchmark slice: doc_id % 29 == 0


def write_table(out, name, table, files=1):
    d = os.path.join(out, f"{name}.parquet")
    os.makedirs(d, exist_ok=True)
    n = table.num_rows
    step = max(1, -(-n // files))
    for i, lo in enumerate(range(0, max(n, 1), step)):
        pq.write_table(table.slice(lo, step),
                       os.path.join(d, f"part-{i:05d}.parquet"))


def skewed(rng, n, k, alpha=0.6):
    w = 1.0 / np.power(np.arange(1, k + 1), alpha)
    return rng.choice(k, size=n, p=w / w.sum())


def cents(x):
    return np.round(x).astype(np.int64) / 100.0


def parts_table(rng, n):
    k = np.arange(n)
    names = [f"{ADJS[a]} {NOUNS[b]}" for a, b in
             zip(rng.integers(0, 8, n), rng.integers(0, 8, n))]
    return pa.table({
        "p_partkey": pa.array(k, pa.int64()),
        "p_name": names,
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": [PTYPES[t] for t in rng.integers(0, 5, n)],
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": 900.0 + (k % 1000) / 10.0,
    })


def supplier_table(rng, n):
    return pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": cents(rng.integers(-99999, 999999, n)),
    })


def pricing_tables(rng, n_rows, n_parts, n_supp):
    """lineitem (snapshot rows) and the orders they belong to."""
    n_orders = max(1, n_rows // 4)
    fan = np.minimum(1 + rng.poisson(2.0, n_rows), 6)
    fan = fan[np.cumsum(fan) <= n_rows]
    groups = len(fan)
    item = skewed(rng, groups, n_parts)
    day = rng.integers(0, N_DAYS, groups)
    item = np.repeat(item, fan)
    day = np.repeat(day, fan)
    n = len(item)
    flag = np.concatenate([rng.permutation(6)[:f] for f in fan])
    okey = rng.integers(0, n_orders, n)
    order = np.argsort(okey, kind="stable")
    okey_sorted = okey[order]
    starts = np.r_[0, np.flatnonzero(np.diff(okey_sorted)) + 1]
    run = np.arange(n) - np.repeat(starts, np.diff(np.r_[starts, n]))
    lnum = np.empty(n, np.int32)
    lnum[order] = run + 1
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = 900.0 + (item % 1000) / 10.0
    lineitem = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(item, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": cents(qty * price * 100),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": [FLAGS[f][0] for f in flag],
        "l_linestatus": [FLAGS[f][1] for f in flag],
        "l_shipdate": pa.array((DAY0 + day).astype("datetime64[us]")),
    })
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, max(1, n_orders // 10),
                                           n_orders), pa.int64()),
        "o_orderstatus": [("O", "F", "P")[s] for s in
                          rng.integers(0, 3, n_orders)],
        "o_totalprice": cents(rng.integers(100000, 50000000, n_orders)),
        "o_orderdate": pa.array((np.datetime64("1995-01-01") + rng.integers(
            0, 2404, n_orders)).astype("datetime64[us]")),
        "o_orderpriority": [("1-URGENT", "2-HIGH", "3-MEDIUM",
                             "4-NOT SPECIFIED", "5-LOW")[p]
                            for p in rng.integers(0, 5, n_orders)],
    })
    return lineitem, orders


def events_table(rng, n):
    users = max(1, n // 60)
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(EV0 + rng.integers(0, 30 * 86400 * 10**6, n)
                       .astype("timedelta64[us]")),
        "user_id": pa.array(skewed(rng, n, users), pa.int64()),
        "event_type": [("signup", "click", "error", "view", "purchase")[t]
                       for t in rng.integers(0, 5, n)],
        "value": cents(rng.integers(0, 56000, n)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def doc_texts(rng, n):
    out = []
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    pos = 0
    for ln in lens:
        out.append(" ".join(VOCAB[w] for w in words[pos:pos + ln]))
        pos += ln
    return out


def documents_table(rng, n):
    texts = doc_texts(rng, n)
    langs = rng.choice(5, size=n, p=LANG_P)
    srcs = rng.integers(0, 20, n)
    roll = rng.random(n)
    for i in range(1, n):
        if roll[i] < 0.0016:
            texts[i], langs[i], srcs[i] = texts[i - 1], langs[i - 1], srcs[i - 1]
        elif roll[i] < 0.0016 + 0.051:
            texts[i] = texts[i - 1] + " " + VOCAB[rng.integers(len(VOCAB))]
            langs[i], srcs[i] = langs[i - 1], srcs[i - 1]
        elif roll[i] < 0.0016 + 0.051 + 0.01 and i > BENCH_MOD and i % BENCH_MOD:
            # a training document that copies a benchmark-slice document
            j = BENCH_MOD * rng.integers(1, i // BENCH_MOD + 1)
            texts[i] = texts[j] + " " + VOCAB[rng.integers(len(VOCAB))]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": [LANGS[x] for x in langs],
        "source": [f"src{s}" for s in srcs],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def unit(v):
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def embeddings_table(rng, n):
    v = unit(rng.standard_normal((n, 64)))
    for i in np.flatnonzero(rng.random(n) < 0.02):
        j = rng.integers(max(i, 1))
        v[i] = unit((v[j] + 0.01 * rng.standard_normal(64))[None, :])[0]
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def write_corpus(out, seed, spec):
    """One corpus directory from `spec` (row counts per table)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    write_table(out, "part", parts_table(rng, spec["parts"]))
    write_table(out, "supplier", supplier_table(rng, spec["suppliers"]))
    if spec.get("lineitem"):
        li, orders = pricing_tables(rng, spec["lineitem"], spec["parts"],
                                    spec["suppliers"])
        write_table(out, "lineitem", li, files=8)
        write_table(out, "orders", orders, files=4)
    write_table(out, "events", events_table(rng, spec["events"]), files=4)
    write_table(out, "documents", documents_table(rng, spec["docs"]), files=4)
    write_table(out, "embeddings", embeddings_table(rng, spec["vecs"]), files=4)
