"""Seeded input generator for the perfbench workloads.

Every table is synthesized from the seed alone, with the schema and the
value distributions of the engine's sf0.1 fixture tables (TESTDATA.md) at
the smaller sizes set below, so a checkout needs nothing outside itself.
The same seed always yields byte-identical parquet files.

  flagship_etl  lineitem + orders: a base of BASE_ORDERS orders, replicated
                COPIES times with key offsets, rows in seeded order.
  llm_curation  documents + embeddings with a seeded share of exact
                duplicates and token-tagged near-duplicates.
  lake_upsert   a base events table plus LAKE_BATCHES upsert batches:
                fresh keys, corrections of live keys, and keys corrected
                twice inside one batch (the later version last in file).

`generate` writes the tables and a `manifest.json` holding the seed, row
counts and bytes; `fingerprint` lists a directory's files with sizes and
mtimes so a run can prove it left its inputs untouched.
"""
import datetime
import json
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_ORDERS = 15_000
COPIES = 4
N_DOCS = 1_000
N_VECS = 500
DIM = 64
N_EVENTS = 100_000
N_USERS = 1_500
LAKE_BATCHES = 64
BATCH_FRESH = 2_000
BATCH_CORRECTIONS = 2_000
BATCH_TWICE = 200
DUP_SHARE = 0.03

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window",
         "and", "of", "is", "der", "und", "die", "le", "la", "el", "y"]
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.4, 0.14, 0.15, 0.15, 0.16]


def _ts(days):
    t = np.datetime64("1995-01-02", "us") + days.astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(t, pa.timestamp("us"))


def _write(table, path):
    pq.write_table(table, path, row_group_size=1 << 20)


def _flagship(rng, out):
    lines = rng.integers(1, 8, BASE_ORDERS)
    n = int(lines.sum())
    okey = np.repeat(np.arange(BASE_ORDERS, dtype=np.int64), lines)
    start = np.repeat(np.cumsum(lines) - lines, lines)
    lnum = (np.arange(n) - start + 1).astype(np.int32)
    odays = rng.integers(0, 2497, BASE_ORDERS)
    cols = {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, 20_000, n),
        "l_suppkey": rng.integers(0, 1_000, n),
        "l_linenumber": lnum,
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": rng.integers(90_000, 10_500_000, n) / 100.0,
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n)],
        "l_shipdays": np.repeat(odays, lines) + rng.integers(1, 122, n),
    }
    orders = {
        "o_orderkey": np.arange(BASE_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, 15_000, BASE_ORDERS),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, BASE_ORDERS)],
        "o_totalprice": rng.integers(90_000, 50_000_000, BASE_ORDERS) / 100.0,
        "o_orderdays": odays,
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, BASE_ORDERS)],
    }
    # COPIES replicas with disjoint order keys, rows in seeded order
    li = {k: np.concatenate([v] * COPIES) for k, v in cols.items()}
    li["l_orderkey"] = li["l_orderkey"] + np.repeat(
        np.arange(COPIES, dtype=np.int64) * BASE_ORDERS, n)
    perm = rng.permutation(n * COPIES)
    li = {k: v[perm] for k, v in li.items()}
    li["l_shipdate"] = _ts(li.pop("l_shipdays"))
    od = {k: np.concatenate([v] * COPIES) for k, v in orders.items()}
    od["o_orderkey"] = od["o_orderkey"] + np.repeat(
        np.arange(COPIES, dtype=np.int64) * BASE_ORDERS, BASE_ORDERS)
    perm = rng.permutation(BASE_ORDERS * COPIES)
    od = {k: v[perm] for k, v in od.items()}
    od["o_orderdate"] = _ts(od.pop("o_orderdays"))
    order = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
             "o_orderdate", "o_orderpriority"]
    _write(pa.table({k: li[k] for k in [
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "l_shipdate"]}), f"{out}/lineitem.parquet")
    _write(pa.table({k: od[k] for k in order}), f"{out}/orders.parquet")


def _curation(rng, out):
    words = np.array(WORDS)
    texts = []
    for _ in range(N_DOCS):
        texts.append(" ".join(words[rng.integers(0, len(words), rng.integers(10, 101))]))
    # exact duplicates (case/whitespace variants normalize to the same
    # fingerprint) and near-duplicates tagged with one extra token
    n_dup = int(N_DOCS * DUP_SHARE)
    src = rng.choice(N_DOCS, 2 * n_dup, replace=False)
    dst = rng.choice(np.setdiff1d(np.arange(N_DOCS), src), 2 * n_dup, replace=False)
    for i in range(n_dup):
        texts[dst[i]] = "  " + texts[src[i]].upper() if i % 2 else texts[src[i]]
    for i in range(n_dup, 2 * n_dup):
        texts[dst[i]] = texts[src[i]] + f" tag{rng.integers(0, 1000)}"
    order = rng.permutation(N_DOCS)
    texts = [texts[i] for i in order]
    _write(pa.table({
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), N_DOCS, p=LANG_P)],
        "source": np.array([f"src{i}" for i in range(20)])[rng.integers(0, 20, N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), f"{out}/documents.parquet")

    vecs = rng.standard_normal((N_VECS, DIM))
    labels = rng.integers(0, 10, N_VECS).astype(np.int32)
    n_dup = int(N_VECS * DUP_SHARE)
    src = rng.choice(N_VECS, n_dup, replace=False)
    dst = rng.choice(np.setdiff1d(np.arange(N_VECS), src), n_dup, replace=False)
    vecs[dst] = vecs[src] + 0.05 * rng.standard_normal((n_dup, DIM))
    labels[dst] = labels[src]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    order = rng.permutation(N_VECS)
    _write(pa.table({
        "vec_id": np.arange(N_VECS, dtype=np.int64),
        "embedding": pa.array(list(vecs[order]), pa.list_(pa.float32())),
        "label": labels[order],
    }), f"{out}/embeddings.parquet")


def _events(rng, ids, version):
    n = len(ids)
    return {
        "event_id": ids.astype(np.int64),
        "user_id": rng.integers(0, N_USERS, n),
        "value": rng.integers(0, 20_000, n) / 100.0 + version,
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)],
    }


def _lake(rng, out):
    base = _events(rng, rng.permutation(N_EVENTS), 0)
    secs = rng.integers(0, 30 * 86_400_000_000, N_EVENTS)
    base["ts"] = pa.array(np.datetime64("2024-01-01", "us") + secs.astype("timedelta64[us]"),
                          pa.timestamp("us"))
    base["props"] = [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]
    _write(pa.table(base), f"{out}/events.parquet")
    os.makedirs(f"{out}/batches")
    live = N_EVENTS
    for b in range(LAKE_BATCHES):
        fresh = np.arange(live, live + BATCH_FRESH)
        corr = rng.choice(live, BATCH_CORRECTIONS, replace=False)
        twice = corr[:BATCH_TWICE]
        parts = [_events(rng, rng.permutation(np.concatenate([fresh, corr])), b + 1),
                 _events(rng, twice, b + 1)]
        batch = {k: np.concatenate([p[k] for p in parts]) for k in parts[0]}
        batch["seq"] = np.arange(len(batch["event_id"]), dtype=np.int32)
        _write(pa.table(batch), f"{out}/batches/batch-{b:03d}.parquet")
        live += BATCH_FRESH


WORKLOADS = {"flagship_etl": _flagship, "llm_curation": _curation, "lake_upsert": _lake}


def fingerprint(root):
    """Sorted (relative path, size, mtime_ns) of every file under root."""
    out = []
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            st = os.stat(p)
            out.append((os.path.relpath(p, root), st.st_size, st.st_mtime_ns))
    return sorted(out)


def generate(workload, seed, out):
    os.makedirs(out)
    WORKLOADS[workload](np.random.default_rng([seed, zlib.crc32(workload.encode())]), out)
    tables = {}
    for rel, size, _ in fingerprint(out):
        meta = pq.read_metadata(os.path.join(out, rel))
        tables[rel] = {"rows": meta.num_rows, "bytes": size}
    manifest = {"workload": workload, "seed": seed, "tables": tables,
                "generated_at": datetime.datetime.now(datetime.timezone.utc).isoformat()}
    with open(f"{out}/manifest.json", "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest
