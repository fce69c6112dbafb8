"""Seeded input generator for the graft benchmark.

Every input a workload reads is derived here from the workload seed, so the
same seed always yields byte-identical files and the program under test only
ever receives generated inputs. The tables follow the shapes and sizes of
the sf0.1 fixture set (a TPC-H-like star plus an `events` stream table and a
`documents`/`embeddings` corpus); see README.md for the sizes per workload.
"""

import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1 row counts of the tables query_service serves
N_EVENTS = 100_000
N_ORDERS = 150_000
N_USERS = 1_500
N_CUSTOMERS = 15_000

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
ORDER_STATUS = ["O", "F", "P"]
ORDER_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
RETURN_FLAGS = ["A", "N", "R"]
LINE_STATUS = ["O", "F"]
VOCAB = ("batch part spark line column order small sort fast value scan a "
         "hash slow group agg filter query big key window row table stream "
         "merge data vector join customer the index shard tablet event field "
         "term range edge graph node page cache store write read plan").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
N_SOURCES = 20
EMB_DIM = 64
EMB_CLUSTERS = 10

# query_service mix: one round of (kind, table variant) slots; variants of
# select/range are events, orders, lineitem; of bool events, orders; of
# regex events, orders
ROUND_TEMPLATE = [("select", 0), ("select", 1), ("select", 2),
                  ("range", 0), ("range", 1), ("range", 2),
                  ("bool", 0), ("bool", 1), ("regex", 0), ("regex", 1),
                  ("unfielded", 0), ("unfielded", 0)]
LUCENE_PER_ROUND = 4       # a third of each round uses LUCENE syntax
PAGE_SIZE = 50
QUERY_ROUNDS = 16          # 192 query slots, cycled by the clients
REPEATS_PER_ROUND = 2      # slots per round, from the second on, that
                           # repeat an earlier query (~16% of the mix)

# curation_batch corpus
CURATION_DOCS = 2_000
CURATION_NEAR_DUPS = 200
CURATION_EXACT_DUPS = 60
WARM_CORPUS_SHARE = 0.25   # the warm-up corpus is a quarter the size
N_EMBEDDINGS = 2_000
PROBES_PER_PASS = 4
CURATION_PASSES = 64       # probe sets staged; passes cycle through them

# stream_ingest
STREAM_BATCH_DOCS = 100
STREAM_BATCH_EVENTS = 5_000
STREAM_BATCHES = 8         # staged; a run feeds a fixed number of them
STREAM_WARM_BATCHES = 1    # the store's history and the warm-up
STREAM_DUP_RATE = 0.1      # share of a batch that near-duplicates earlier docs

WORKLOADS = ("query_service", "curation_batch", "stream_ingest")
_TAGS = {w: i + 1 for i, w in enumerate(WORKLOADS)}


def rng_for(seed, workload, part):
    """Independent deterministic stream per (seed, workload, part)."""
    return np.random.default_rng([int(seed), _TAGS[workload], part])


def write_parquet(df, path):
    """Timestamps are written as UTC-adjusted microseconds, which Spark
    reads as TIMESTAMP and DuckDB as TIMESTAMPTZ."""
    t = pa.Table.from_pandas(df, preserve_index=False).replace_schema_metadata()
    schema = pa.schema([pa.field(f.name, pa.timestamp("us", tz="UTC"))
                        if pa.types.is_timestamp(f.type) else f for f in t.schema])
    pq.write_table(t.cast(schema), path)


# ---------------------------------------------------------------- tables

def events_table(rng, n, first_id=0):
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 24 * 3600 * 10**6
    ts = np.sort(rng.integers(0, span_us, n)).astype("timedelta64[us]") + start
    return pd.DataFrame({
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts": ts.astype("datetime64[ns]"),
        "user_id": rng.integers(0, N_USERS, n).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.uniform(0, 200, n), 2),
        "props": ['{"k": %d}' % k for k in rng.integers(0, 100, n)],
    })


def orders_table(rng):
    n = N_ORDERS
    days = rng.integers(0, 7 * 365, n).astype("timedelta64[D]")
    return pd.DataFrame({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUSTOMERS, n).astype(np.int64),
        "o_orderstatus": np.array(ORDER_STATUS)[rng.integers(0, 3, n)],
        "o_totalprice": np.round(rng.uniform(900, 500_000, n), 2),
        "o_orderdate": (np.datetime64("1992-01-01") + days).astype("datetime64[ns]"),
        "o_orderpriority": np.array(ORDER_PRIORITY)[rng.integers(0, 5, n)],
    })


def lineitem_table(rng):
    # 1..7 lines per order, ~600k rows; (l_orderkey, l_linenumber) is unique
    lines = rng.integers(1, 8, N_ORDERS)
    okey = np.repeat(np.arange(N_ORDERS, dtype=np.int64), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    n = len(okey)
    qty = rng.integers(1, 51, n).astype(np.float64)
    days = rng.integers(0, 7 * 365, n).astype("timedelta64[D]")
    return pd.DataFrame({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, 20_000, n).astype(np.int64),
        "l_suppkey": rng.integers(0, 1_000, n).astype(np.int64),
        "l_linenumber": lnum,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2_000, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(RETURN_FLAGS)[rng.integers(0, 3, n)],
        "l_linestatus": np.array(LINE_STATUS)[rng.integers(0, 2, n)],
        "l_shipdate": (np.datetime64("1992-01-01") + days).astype("datetime64[ns]"),
    })


def random_words(rng, lo, hi):
    return list(np.array(VOCAB)[rng.integers(0, len(VOCAB), rng.integers(lo, hi))])


def near_dup(rng, words):
    """One word replaced: word-trigram Jaccard >= 0.85 for >= 40 words."""
    out = list(words)
    i = int(rng.integers(0, len(out)))
    choices = [w for w in VOCAB if w != out[i]]
    out[i] = choices[int(rng.integers(0, len(choices)))]
    return out


def trigram_jaccard(a, b):
    sa = {tuple(a[i:i + 3]) for i in range(len(a) - 2)}
    sb = {tuple(b[i:i + 3]) for i in range(len(b) - 2)}
    return len(sa & sb) / len(sa | sb)


def docs_frame(ids, texts, rng):
    n = len(ids)
    return pd.DataFrame({
        "doc_id": np.asarray(ids, dtype=np.int64),
        "text": [" ".join(t) for t in texts],
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
        "source": ["src%d" % s for s in rng.integers(0, N_SOURCES, n)],
        "n_chars": np.array([len(" ".join(t)) for t in texts], dtype=np.int64),
    })


def curation_corpus(rng, scale=1.0):
    """Base documents plus injected near and exact duplicates.

    Returns the frame and the injected near-duplicate pairs (id_a < id_b)
    whose word-trigram Jaccard is at least 0.85."""
    texts = [random_words(rng, 8, 100) for _ in range(int(CURATION_DOCS * scale))]
    long_ids = [i for i, t in enumerate(texts) if len(t) >= 40]
    pairs = []
    for src in rng.choice(long_ids, int(CURATION_NEAR_DUPS * scale), replace=False):
        dup = near_dup(rng, texts[src])
        if trigram_jaccard(texts[src], dup) >= 0.85:
            pairs.append((int(src), len(texts)))
            texts.append(dup)
    for src in rng.choice(len(texts), int(CURATION_EXACT_DUPS * scale), replace=False):
        texts.append(list(texts[src]))
    # shuffle ids so injected copies are spread over the id space
    perm = rng.permutation(len(texts))
    new_id = {old: int(new) for old, new in enumerate(perm)}
    ordered = [None] * len(texts)
    for old, t in enumerate(texts):
        ordered[new_id[old]] = t
    pairs = sorted(tuple(sorted((new_id[a], new_id[b]))) for a, b in pairs)
    return docs_frame(range(len(ordered)), ordered, rng), pairs


def embeddings_table(rng):
    centers = rng.normal(0, 1, (EMB_CLUSTERS, EMB_DIM))
    labels = rng.integers(0, EMB_CLUSTERS, N_EMBEDDINGS)
    vecs = centers[labels] + rng.normal(0, 0.6, (N_EMBEDDINGS, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(N_EMBEDDINGS, dtype=np.int64)),
        "embedding": pa.array([v.astype(np.float32) for v in vecs],
                              type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })


# ---------------------------------------------------------------- queries

def _q(kind, table, syntax, query, where, order):
    return {"kind": kind, "table": table, "syntax": syntax, "query": query,
            "sql": where, "order": order}


def one_query(rng, kind, variant, lucene):
    """One JEXL or LUCENE query of the given kind and table variant, with
    its equivalent SQL predicate."""
    ev = ["event_id"]
    od = ["o_orderkey"]
    li = ["l_orderkey", "l_linenumber"]
    if kind == "select":
        if variant == 0:
            u, t = int(rng.integers(0, N_USERS)), EVENT_TYPES[int(rng.integers(0, 5))]
            q = (f"USER_ID:{u} AND EVENT_TYPE:{t}" if lucene
                 else f"USER_ID == {u} && EVENT_TYPE == '{t}'")
            return _q(kind, "events", lucene, q,
                      f"user_id = {u} AND event_type = '{t}'", ev)
        if variant == 1:
            k = int(rng.integers(0, N_CUSTOMERS))
            q = f"O_CUSTKEY:{k}" if lucene else f"O_CUSTKEY == {k}"
            return _q(kind, "orders", lucene, q, f"o_custkey = {k}", od)
        k = int(rng.integers(0, N_ORDERS))
        q = f"L_ORDERKEY:{k}" if lucene else f"L_ORDERKEY == {k}"
        return _q(kind, "lineitem", lucene, q, f"l_orderkey = {k}", li)
    if kind == "range":
        if variant == 0:
            # bounds end in 5 at the third decimal, so no 2-decimal value
            # sits on a bound and both engines agree on inclusivity
            lo = round(float(rng.uniform(0, 195)), 1) + 0.005
            hi = round(lo + 4.0, 3)
            q = (f"VALUE:[{lo} TO {hi}]" if lucene
                 else f"VALUE >= {lo} && VALUE <= {hi}")
            return _q(kind, "events", lucene, q,
                      f"value >= {lo} AND value <= {hi}", ev)
        if variant == 1:
            lo = int(rng.integers(1_000, 490_000))
            hi = lo + 8_000
            q = (f"O_TOTALPRICE:[{lo} TO {hi}]" if lucene
                 else f"O_TOTALPRICE >= {lo} && O_TOTALPRICE <= {hi}")
            return _q(kind, "orders", lucene, q,
                      f"o_totalprice >= {lo} AND o_totalprice <= {hi}", od)
        qty = int(rng.integers(1, 51))
        f = RETURN_FLAGS[int(rng.integers(0, 3))]
        q = (f"L_QUANTITY:[{qty} TO {qty}] AND L_RETURNFLAG:{f}" if lucene
             else f"L_QUANTITY == {qty} && L_RETURNFLAG == '{f}'")
        return _q(kind, "lineitem", lucene, q,
                  f"l_quantity = {qty} AND l_returnflag = '{f}'", li)
    if kind == "bool":
        n = int(rng.integers(2, 7))
        if variant == 0:
            # OR of n users, ANDed with one event type
            us = sorted({int(u) for u in rng.integers(0, N_USERS, n - 1)})
            t = EVENT_TYPES[int(rng.integers(0, 5))]
            if lucene:
                q = "(" + " OR ".join(f"USER_ID:{u}" for u in us) + f") AND EVENT_TYPE:{t}"
            else:
                q = "(" + " || ".join(f"USER_ID == {u}" for u in us) + f") && EVENT_TYPE == '{t}'"
            sql = f"user_id IN ({', '.join(map(str, us))}) AND event_type = '{t}'"
            return _q(kind, "events", lucene, q, sql, ev)
        # AND/OR over order attributes
        ks = sorted({int(k) for k in rng.integers(0, N_CUSTOMERS, n - 1)})
        s = ORDER_STATUS[int(rng.integers(0, 3))]
        if lucene:
            q = "(" + " OR ".join(f"O_CUSTKEY:{k}" for k in ks) + f") AND NOT O_ORDERSTATUS:{s}"
        else:
            q = "(" + " || ".join(f"O_CUSTKEY == {k}" for k in ks) + f") && O_ORDERSTATUS != '{s}'"
        sql = f"o_custkey IN ({', '.join(map(str, ks))}) AND o_orderstatus <> '{s}'"
        return _q(kind, "orders", lucene, q, sql, od)
    if kind == "regex":
        if variant == 1:
            p = int(rng.integers(1, 6))
            u = int(rng.integers(0, N_USERS - 10))
            q = (f"O_ORDERPRIORITY:{p}-* AND O_CUSTKEY:[{u} TO {u + 9}]" if lucene
                 else f"O_ORDERPRIORITY =~ '{p}-.*' && O_CUSTKEY >= {u} && O_CUSTKEY <= {u + 9}")
            return _q(kind, "orders", lucene, q,
                      f"o_orderpriority LIKE '{p}-%' AND o_custkey BETWEEN {u} AND {u + 9}", od)
        t = EVENT_TYPES[int(rng.integers(0, 5))]
        pre = t[:2]
        u = int(rng.integers(0, N_USERS - 5))
        q = (f"EVENT_TYPE:{pre}* AND USER_ID:[{u} TO {u + 4}]" if lucene
             else f"EVENT_TYPE =~ '{pre}.*' && USER_ID >= {u} && USER_ID <= {u + 4}")
        return _q(kind, "events", lucene, q,
                  f"event_type LIKE '{pre}%' AND user_id BETWEEN {u} AND {u + 4}", ev)
    # unfielded: the global index tells which event fields hold the term
    t = EVENT_TYPES[int(rng.integers(0, 5))]
    lo = int(rng.integers(0, N_EVENTS - 4_000))
    hi = lo + 3_000
    q = (f"{t} AND EVENT_ID:[{lo} TO {hi}]" if lucene
         else f"_ANYFIELD_ == '{t}' && EVENT_ID >= {lo} && EVENT_ID <= {hi}")
    sql = (f"'{t}' IN (event_type, props, CAST(user_id AS VARCHAR), "
           f"CAST(value AS VARCHAR)) "
           f"AND event_id BETWEEN {lo} AND {hi}")
    return _q(kind, "events", lucene, q, sql, ev)


def query_mix(rng):
    """Stratified query list: every round of ROUND_TEMPLATE holds the same
    kinds, tables, LUCENE share and `next` calls, and every round after the
    first the same number of repeats, so the mix is the same for every
    seed; values, order and which slots repeat are seeded. A repeated query
    copies one of an earlier round with the same kind, table and syntax."""
    out = []
    n = len(ROUND_TEMPLATE)
    for r in range(QUERY_ROUNDS):
        lucene = rng.permutation([i < LUCENE_PER_ROUND for i in range(n)])
        nexts = rng.permutation([i % 3 for i in range(n)])
        prev = list(out)

        def same(j):
            key = ROUND_TEMPLATE[j] + ("LUCENE" if lucene[j] else "JEXL",)
            return [q for q in prev if (q["kind"], q["variant"], q["syntax"]) == key]
        can = [j for j in range(n) if same(j)]
        repeat = set(rng.choice(can, min(len(can), REPEATS_PER_ROUND), replace=False))
        for j in rng.permutation(n):
            kind, variant = ROUND_TEMPLATE[j]
            if j in repeat:
                earlier = same(j)
                q = dict(earlier[int(rng.integers(0, len(earlier)))])
            else:
                q = one_query(rng, kind, variant, bool(lucene[j]))
                q["syntax"] = "LUCENE" if q["syntax"] else "JEXL"
                q["variant"] = variant
            q["next_pages"] = int(nexts[j])
            out.append(q)
    for i, q in enumerate(out):
        q["slot"] = i
    return out


# ---------------------------------------------------------------- workloads

def gen_query_service(seed, out):
    write_parquet(events_table(rng_for(seed, "query_service", 1), N_EVENTS),
                  os.path.join(out, "events.parquet"))
    write_parquet(orders_table(rng_for(seed, "query_service", 2)),
                  os.path.join(out, "orders.parquet"))
    write_parquet(lineitem_table(rng_for(seed, "query_service", 3)),
                  os.path.join(out, "lineitem.parquet"))
    queries = query_mix(rng_for(seed, "query_service", 4))
    warm = query_mix(rng_for(seed, "query_service", 5))[:6]
    return {"page_size": PAGE_SIZE, "round_size": len(ROUND_TEMPLATE),
            "queries": queries, "warmup": warm}


def gen_curation_batch(seed, out):
    docs, pairs = curation_corpus(rng_for(seed, "curation_batch", 1))
    write_parquet(docs, os.path.join(out, "corpus.parquet"))
    warm, _ = curation_corpus(rng_for(seed, "curation_batch", 2), WARM_CORPUS_SHARE)
    write_parquet(warm, os.path.join(out, "warm_corpus.parquet"))
    pq.write_table(embeddings_table(rng_for(seed, "curation_batch", 3)),
                   os.path.join(out, "embeddings.parquet"))
    prng = rng_for(seed, "curation_batch", 4)
    probes = [sorted(int(p) for p in prng.choice(N_EMBEDDINGS, PROBES_PER_PASS,
                                                  replace=False))
              for _ in range(CURATION_PASSES)]
    return {"injected_pairs": pairs, "probes": probes}


def stream_batches(rng, n_batches):
    """Micro-batch documents (a seeded share near-duplicates a document of
    an earlier batch) and event rows; ids run on across batches."""
    texts = []
    doc_batches, event_batches = [], []
    for b in range(n_batches):
        bt = []
        for _ in range(STREAM_BATCH_DOCS):
            if texts and rng.random() < STREAM_DUP_RATE:
                src = texts[int(rng.integers(0, len(texts)))]
                bt.append(near_dup(rng, src) if len(src) >= 40 else list(src))
            else:
                bt.append(random_words(rng, 8, 100))
        ids = range(len(texts), len(texts) + len(bt))
        texts.extend(bt)
        doc_batches.append(docs_frame(ids, bt, rng)[["doc_id", "text"]])
        ev = events_table(rng, STREAM_BATCH_EVENTS, b * STREAM_BATCH_EVENTS)
        # a few missing values, so the long layout drops nulls
        ev.loc[rng.random(len(ev)) < 0.02, "props"] = None
        event_batches.append(ev)
    return doc_batches, event_batches


def gen_stream_ingest(seed, out):
    """The first STREAM_WARM_BATCHES batches are the store's history (and
    the warm-up); a run feeds a fixed number of the rest in its window."""
    docs, events = stream_batches(rng_for(seed, "stream_ingest", 1),
                                  STREAM_WARM_BATCHES + STREAM_BATCHES)
    for i, (db, eb) in enumerate(zip(docs, events)):
        write_parquet(db, os.path.join(out, "docs_%03d.parquet" % i))
        write_parquet(eb, os.path.join(out, "events_%03d.parquet" % i))
    return {"batches": STREAM_BATCHES, "warm_batches": STREAM_WARM_BATCHES,
            "batch_docs": STREAM_BATCH_DOCS, "batch_events": STREAM_BATCH_EVENTS}


GENERATORS = {"query_service": gen_query_service,
              "curation_batch": gen_curation_batch,
              "stream_ingest": gen_stream_ingest}


def generate(workload, seed, out):
    """Write the workload's inputs under `out` (created empty) and its
    manifest to `out/manifest.json`; returns the manifest."""
    os.makedirs(out)
    manifest = GENERATORS[workload](seed, out)
    manifest.update({"workload": workload, "seed": int(seed)})
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, sort_keys=True)
    return manifest
