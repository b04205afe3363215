"""Output checks of the perfbench workloads, run after the measuring JVM
exits (outside the timed region). The JVM already checks every pass
against the counts in expect.json; these check the outputs it leaves in
the run's check directory. Each returns (ok, message)."""
import json
from pathlib import Path

import duckdb


def _con():
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    return con


def sparse_etl(data, out, res):
    """DuckDB over the same generated parquet: every cell of the written
    frame equals the event count of its (user, label), no cell is missing
    or extra, and each one-hot block sums to the event count."""
    con = _con()
    con.execute(f"CREATE VIEW ev AS SELECT * FROM '{data}/events.parquet/*.parquet'")
    con.execute(f"CREATE VIEW got AS SELECT user_id, col, value FROM '{out}/sparse_out/**/*.parquet'")
    con.execute("""CREATE VIEW want AS
        SELECT user_id, event_type AS col, CAST(count(*) AS DOUBLE) AS value FROM ev GROUP BY 1, 2
        UNION ALL
        SELECT user_id, props, CAST(count(*) AS DOUBLE) FROM ev GROUP BY 1, 2""")
    bad = con.sql("""SELECT count(*) FROM want w FULL OUTER JOIN got g
        ON w.user_id = g.user_id AND w.col = g.col
        WHERE w.value IS DISTINCT FROM g.value""").fetchone()[0]
    n = con.sql("SELECT count(*) FROM ev").fetchone()[0]
    type_sum, props_sum = con.sql("""SELECT
        sum(value) FILTER (WHERE col IN (SELECT event_type FROM ev)),
        sum(value) FILTER (WHERE col IN (SELECT props FROM ev)) FROM got""").fetchone()
    ok = bad == 0 and type_sum == n and props_sum == n
    return ok, f"cells differing {bad}; type cell sum {type_sum}, props cell sum {props_sum}, events {n}"


def dedup_batch(data, out, res):
    """Pairs and survivors are checked per pass in the JVM against the
    closed form. Here: the overlap top-k of the last pass ranks 1..n
    (n <= k) per document, shares >= 2 fingerprints, and never pairs
    documents of different replicas (their token sets are disjoint)."""
    p = json.loads((Path(__file__).resolve().parent / "workloads.json").read_text())
    k = p["workloads"]["dedup_batch"]["params"]["overlap_k"]
    con = _con()
    con.execute(f"CREATE VIEW top AS SELECT * FROM '{out}/overlap_topk/*.parquet'")
    con.execute(f"CREATE VIEW rep AS SELECT * FROM '{data}/replica_of.parquet'")
    rows, cross, bad_rank, low = con.sql(f"""SELECT
        (SELECT count(*) FROM top),
        (SELECT count(*) FROM top t JOIN rep a ON a.doc_id = t.doc JOIN rep b ON b.doc_id = t.partner
           WHERE a.replica <> b.replica OR t.doc = t.partner),
        (SELECT count(*) FROM (SELECT doc, count(*) AS c, max(rank) AS mx,
            count(DISTINCT rank) AS d FROM top GROUP BY doc) WHERE c > {k} OR mx <> c OR d <> c),
        (SELECT count(*) FROM top WHERE shared < 2)""").fetchone()
    ok = rows > 0 and cross == 0 and bad_rank == 0 and low == 0
    return ok, f"top-k rows {rows}; cross-replica {cross}; bad ranks {bad_rank}; shared<2 {low}"


def stream_ingest(data, out, res):
    """The emitted pair set equals {(lo, hi): j >= t, batch(lo) != batch(hi)}
    over the timed files, where the initial index and the warm-up files
    count as one batch."""
    done, warm_from = map(int, (out / "stream_files_done.txt").read_text().split())
    con = _con()
    con.execute(f"""CREATE VIEW got AS SELECT * FROM read_csv('{out}/stream_pairs.csv',
        header = false, columns = {{'lo': 'BIGINT', 'hi': 'BIGINT', 'j': 'DOUBLE'}})""")
    # the warm-up files were ingested before the timed files: one batch
    # with the initial index
    con.execute(f"""CREATE VIEW want AS SELECT lo, hi, j FROM (
        SELECT doc_lo AS lo, doc_hi AS hi, jaccard AS j,
          CASE WHEN batch_a >= {warm_from} THEN -1 ELSE batch_a END AS ma,
          CASE WHEN batch_b >= {warm_from} THEN -1 ELSE batch_b END AS mb
        FROM '{data}/expected_pairs.parquet')
        WHERE ma < {done} AND mb < {done} AND ma <> mb""")
    n_got, n_want, dup = con.sql("""SELECT (SELECT count(*) FROM got), (SELECT count(*) FROM want),
        (SELECT count(*) - count(DISTINCT (lo, hi)) FROM got)""").fetchone()
    diff = con.sql("""SELECT count(*) FROM want w FULL OUTER JOIN (SELECT DISTINCT * FROM got) g
        ON w.lo = g.lo AND w.hi = g.hi WHERE w.j IS DISTINCT FROM g.j""").fetchone()[0]
    ok = diff == 0 and dup == 0 and n_want > 0
    return ok, f"pairs {n_got}, expected {n_want}, differing {diff}, repeated {dup}"


def vector_search(data, out, res):
    """recall@k of the IVF-PQ answer against Similarity.bruteForceTopK
    (computed once per seed) meets the certificate floor."""
    e = json.loads((Path(data) / "expect.json").read_text())
    con = _con()
    con.execute(f"CREATE VIEW ann AS SELECT qid, vec_id FROM '{out}/ann_topk/*.parquet'")
    con.execute(f"CREATE VIEW ex AS SELECT qid, vec_id FROM '{data}/exact_topk/*.parquet'")
    hits, total, rows = con.sql("""SELECT
        (SELECT count(*) FROM ann JOIN ex USING (qid, vec_id)),
        (SELECT count(*) FROM ex), (SELECT count(*) FROM ann)""").fetchone()
    recall = hits / total if total else 0.0
    ok = total == e["queries"] * e["k"] and rows == total and recall >= e["recall_floor"]
    return ok, f"recall@{e['k']} {recall:.4f} (floor {e['recall_floor']}), rows {rows}/{total}"


CHECKS = {"sparse_etl": sparse_etl, "dedup_batch": dedup_batch,
          "stream_ingest": stream_ingest, "vector_search": vector_search}


def check(workload, data, out, res):
    try:
        return CHECKS[workload](Path(data), Path(out), res)
    except (duckdb.Error, OSError, ValueError) as e:
        return False, f"check could not run: {e}"
