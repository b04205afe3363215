"""Seeded input generator for the perfbench workloads.

Every input is derived from the fixture copies in ``seed/`` plus the seed,
with the sizes in ``workloads.json``. Outputs are cached per (workload,
seed) under the cache root; a cache whose parameters differ is rebuilt.
Alongside the inputs each workload gets ``expect.json`` (closed-form or
DuckDB-computed expectations the checks compare against).
"""
import hashlib
import json
import shutil
from pathlib import Path

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent
SEED_DIR = HERE / "seed"
PARAMS = json.loads((HERE / "workloads.json").read_text())["workloads"]

DAY_US = 86_400_000_000


def _con():
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    return con


def _rng(seed, stream):
    return np.random.default_rng([seed, stream])


def _write_files(table, out_dir, files):
    out_dir.mkdir(parents=True, exist_ok=True)
    n = table.num_rows
    for i in range(files):
        lo, hi = n * i // files, n * (i + 1) // files
        pq.write_table(table.slice(lo, hi - lo), out_dir / f"part-{i:03d}.parquet")


def _bijected(texts, prefix):
    """Prefix every space-separated token: a bijection on tokens, hence on
    word shingles, so Jaccard within a replica is exact and replicas with
    different prefixes share no shingle."""
    return pc.replace_substring_regex(texts, pattern="(^| )", replacement="\\1" + prefix)


def _replica_prefixes(seed, n):
    rng = _rng(seed, 7)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    # r<digits>k<4 letters>x: the digit run ends at 'k', so no prefix is a
    # prefix of another
    return [f"r{r}k{''.join(rng.choice(letters, 4))}x" for r in range(n)]


def base_doc_pairs(cache_root, threshold):
    """Exact word-3-shingle Jaccard pairs of the fixture documents at
    `threshold` (the jaccardOracle SQL of the program's own oracle),
    keyed by row position in seed/documents.parquet. Cached."""
    out = cache_root / f"base_doc_pairs_{threshold}.parquet"
    if out.exists():
        return pq.read_table(out)
    con = _con()
    con.execute(f"CREATE VIEW d AS SELECT row_number() OVER () - 1 AS pos, text "
                f"FROM '{SEED_DIR / 'documents.parquet'}'")
    t = con.sql(f"""
        WITH s AS (
          SELECT pos, list_distinct([l[i] || chr(1) || l[i+1] || chr(1) || l[i+2]
                                     FOR i IN range(1, len(l) - 1)]) AS sh
          FROM (SELECT pos, string_split(text, ' ') AS l FROM d) WHERE len(l) >= 3),
        e AS (SELECT pos, unnest(sh) AS sg FROM s),
        cnt AS (SELECT pos, len(sh) AS nn FROM s),
        inter AS (SELECT x.pos AS a, y.pos AS b, COUNT(*) AS i
                  FROM e x JOIN e y ON x.sg = y.sg AND x.pos < y.pos GROUP BY 1, 2)
        SELECT a, b, ROUND(CAST(i AS DOUBLE) / (ca.nn + cb.nn - i), 6) AS jaccard
        FROM inter JOIN cnt ca ON ca.pos = a JOIN cnt cb ON cb.pos = b
        WHERE CAST(i AS DOUBLE) / (ca.nn + cb.nn - i) >= {threshold}
        ORDER BY a, b""").arrow()
    cache_root.mkdir(parents=True, exist_ok=True)
    pq.write_table(t, out)
    return t


def _components_removed(n, pairs_a, pairs_b):
    """Docs removed by keep-min-per-cluster dedup: sum(size - 1)."""
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(pairs_a, pairs_b):
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return n - len({find(x) for x in range(n)})


def gen_sparse_etl(seed, out):
    p = PARAMS["sparse_etl"]["params"]
    base = pq.read_table(SEED_DIR / "events.parquet")
    n0, reps = base.num_rows, p["replicas"]
    n = n0 * reps
    rng = _rng(seed, 1)
    users = p["users"]
    ranks = np.minimum(rng.zipf(p["user_zipf_a"], n), users) - 1
    user_id = rng.permutation(users).astype(np.int64)[ranks]
    variant = rng.integers(0, p["event_type_variants"], n).astype(str)
    rep = np.repeat(np.arange(reps, dtype=np.int64), n0)
    ts = (np.tile(base["ts"].cast(pa.int64()).to_numpy(), reps) + rep * 30 * DAY_US)
    event_type = pc.binary_join_element_wise(
        pa.concat_arrays([base["event_type"].combine_chunks()] * reps),
        pa.array(variant), "_")
    table = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.int64()).cast(pa.timestamp("us")),
        "user_id": pa.array(user_id),
        "event_type": event_type,
        "value": pa.concat_arrays([base["value"].combine_chunks()] * reps),
        "props": pa.concat_arrays([base["props"].combine_chunks()] * reps),
    })
    _write_files(table, out / "events.parquet", p["files"])
    con = _con()
    con.execute(f"CREATE VIEW ev AS SELECT * FROM '{out / 'events.parquet'}/*.parquet'")
    bound = p["npz_user_bound"]
    r = con.sql(f"""SELECT count(*),
        (SELECT count(*) FROM (SELECT DISTINCT user_id, event_type FROM ev)),
        (SELECT count(*) FROM (SELECT DISTINCT user_id, props FROM ev)),
        (SELECT count(*) FROM (SELECT DISTINCT user_id, event_type FROM ev WHERE user_id < {bound})),
        (SELECT count(*) FROM (SELECT DISTINCT user_id, props FROM ev WHERE user_id < {bound})),
        (SELECT count(DISTINCT event_type) FROM ev)
        FROM ev""").fetchone()
    return {"events": r[0], "cells_type": r[1], "cells_props": r[2],
            "cells": r[1] + r[2], "npz_cells": r[3] + r[4], "event_types": r[5],
            "npz_user_bound": bound, "input_bytes": _dir_bytes(out / "events.parquet")}


def gen_dedup_batch(seed, out, cache_root):
    p = PARAMS["dedup_batch"]["params"]
    base = pq.read_table(SEED_DIR / "documents.parquet", columns=["text"])["text"].combine_chunks()
    n0, reps = len(base), p["replicas"]
    rng = _rng(seed, 2)
    ids = rng.permutation(n0 * reps).astype(np.int64).reshape(reps, n0)
    prefixes = _replica_prefixes(seed, reps)
    texts = pa.concat_arrays([_bijected(base, pf) for pf in prefixes])
    order = rng.permutation(n0 * reps)
    table = pa.table({"doc_id": pa.array(ids.reshape(-1)), "text": texts}).take(order)
    _write_files(table, out / "docs", p["files"])
    pq.write_table(pa.table({"doc_id": ids.reshape(-1),
                             "replica": np.repeat(np.arange(reps), n0)}), out / "replica_of.parquet")
    bp = base_doc_pairs(cache_root, p["threshold"])
    a, b, j = (bp[c].to_numpy() for c in ("a", "b", "jaccard"))
    ia, ib = ids[:, a].reshape(-1), ids[:, b].reshape(-1)
    pq.write_table(pa.table({"doc_a": np.minimum(ia, ib), "doc_b": np.maximum(ia, ib),
                             "jaccard": np.tile(j, reps)}), out / "expected_pairs.parquet")
    distinct_texts = len(pc.unique(base))
    removed = _components_removed(n0, a, b)
    return {"docs": n0 * reps, "pairs": int(len(a) * reps),
            "planted_pairs": int((j >= p["planted_threshold"]).sum() * reps),
            "exact_groups": distinct_texts * reps, "survivors": (n0 - removed) * reps,
            "replicas": reps, "input_bytes": _dir_bytes(out / "docs")}


def gen_stream_ingest(seed, out, cache_root):
    p = PARAMS["stream_ingest"]["params"]
    base = pq.read_table(SEED_DIR / "documents.parquet", columns=["text"])["text"].combine_chunks()
    n0 = len(base)
    rng = _rng(seed, 3)
    ids = (rng.permutation(n0) + 1_000_000).astype(np.int64)
    texts = _bijected(base, _replica_prefixes(seed, 1)[0])
    order = rng.permutation(n0)
    n_index = int(n0 * p["index_fraction"])
    batch = np.full(n0, -1, dtype=np.int64)
    rest = order[n_index:]
    batch[rest] = np.arange(len(rest)) // p["batch_docs"]
    table = pa.table({"doc_id": pa.array(ids), "text": texts})
    pq.write_table(table.take(order[:n_index]), out / "initial.parquet")
    (out / "batches").mkdir(parents=True, exist_ok=True)
    n_files = int(batch.max()) + 1
    for f in range(n_files):
        pq.write_table(table.take(rest[f * p["batch_docs"]:(f + 1) * p["batch_docs"]]),
                       out / "batches" / f"b{f:05d}.parquet")
    bp = base_doc_pairs(cache_root, p["threshold"])
    a, b, j = (bp[c].to_numpy() for c in ("a", "b", "jaccard"))
    lo, hi = np.minimum(ids[a], ids[b]), np.maximum(ids[a], ids[b])
    ba, bb = batch[a], batch[b]
    pq.write_table(pa.table({"doc_lo": lo, "doc_hi": hi, "jaccard": j,
                             "batch_a": ba, "batch_b": bb}), out / "expected_pairs.parquet")
    return {"docs": n0, "index_docs": n_index, "batch_files": n_files,
            "batch_docs": p["batch_docs"]}


def gen_vector_search(seed, out):
    p = PARAMS["vector_search"]["params"]
    base = pq.read_table(SEED_DIR / "embeddings.parquet")
    emb = np.stack(base["embedding"].to_numpy(zero_copy_only=False)).astype(np.float32)
    labels = base["label"].to_numpy()
    n0, reps, dim = emb.shape[0], p["replicas"], emb.shape[1]
    rng = _rng(seed, 4)
    corpus = np.concatenate([emb * (1 + p["noise"] * rng.standard_normal(emb.shape, np.float32))
                             for _ in range(reps)])
    ids = rng.permutation(n0 * reps).astype(np.int64)
    order = rng.permutation(n0 * reps)
    flat = pa.array(corpus[order].reshape(-1))
    table = pa.table({"vec_id": pa.array(ids[order]),
                      "embedding": pa.FixedSizeListArray.from_arrays(flat, dim).cast(pa.list_(pa.float32())),
                      "label": pa.array(np.tile(labels, reps)[order])})
    _write_files(table, out / "corpus", p["files"])
    pick = rng.choice(n0, p["queries"], replace=False)
    q = (emb[pick] * (1 + p["noise"] * rng.standard_normal((len(pick), dim), np.float32))).astype(np.float64)
    qt = pa.table({"qid": pa.array(np.arange(len(pick), dtype=np.int64) + 100_000_000),
                   "qv": pa.FixedSizeListArray.from_arrays(pa.array(q.reshape(-1)), dim)
                   .cast(pa.list_(pa.float64()))})
    pq.write_table(qt, out / "queries.parquet")
    return {"vectors": n0 * reps, "queries": len(pick), "dim": dim, "k": p["k"],
            "recall_floor": p["recall_floor"]}


def _dir_bytes(d):
    return sum(f.stat().st_size for f in Path(d).rglob("*.parquet"))


GENERATORS = {
    "sparse_etl": lambda s, o, c: gen_sparse_etl(s, o),
    "dedup_batch": gen_dedup_batch,
    "stream_ingest": gen_stream_ingest,
    "vector_search": lambda s, o, c: gen_vector_search(s, o),
}


def generate(workload, seed, cache_root):
    """Return the input directory of (workload, seed), generating it if the
    cache is missing or was made with other parameters."""
    tag = hashlib.sha256(json.dumps(PARAMS[workload]["params"], sort_keys=True).encode()
                         + (HERE / "gen.py").read_bytes()).hexdigest()[:16]
    out = cache_root / workload / str(seed)
    expect_file = out / "expect.json"
    if expect_file.exists():
        cached = json.loads(expect_file.read_text())
        if cached.get("tag") == tag:
            return out
    if out.exists():
        shutil.rmtree(out)
    out.mkdir(parents=True)
    expect = GENERATORS[workload](seed, out, cache_root)
    expect.update({"tag": tag, "seed": seed, "workload": workload})
    expect_file.write_text(json.dumps(expect, indent=1))
    return out
