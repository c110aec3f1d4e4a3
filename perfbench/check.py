"""Reference results and output checks.

References are computed once per input directory, in DuckDB (numpy for
the graph loops), and cached next to the inputs. Batch outputs are
compared by row count plus an order-insensitive digest; PageRank ranks,
the one floating-point result, are compared per node within a relative
tolerance. The stream's final per-(user, window) counts are compared
with a recount of the events the generator marked on time.
"""
import json
import os

import duckdb
import numpy as np
import pandas as pd

import stats

RANK_TOLERANCE = 1e-9
# Bumped whenever a reference definition changes, so cached digests are
# recomputed.
REF_VERSION = 2

OUTPUT_COLUMNS = {
    "wordcount": ["_1", "_2"],
    "topk": ["region", "rank", "user", "total"],
    "survivors": ["doc_id", "lang_guess", "n_tokens"],
    "pagerank": ["node"],
}


def connect(tmp_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    return con


def keyed_batch_refs(con, inputs, run_dir):
    con.execute(f"""CREATE OR REPLACE VIEW documents AS
                    SELECT * FROM '{inputs}/documents/*.parquet'""")
    with open(os.path.join(run_dir, "profile_oracle.sql")) as f:
        profile = f.read()
    return {
        "wordcount": f"""
            SELECT w AS _1, count(*) AS _2 FROM (
              SELECT unnest(string_split(line, ' ')) AS w FROM (
                SELECT unnest(string_split(content, chr(10))) AS line
                FROM read_text('{inputs}/text/*.txt')))
            WHERE w <> '' GROUP BY w""",
        "topk": f"""
            WITH s AS (SELECT user, ts // 3600000 AS w, sum(value) AS total
                       FROM '{inputs}/events/*.parquet' GROUP BY user, w),
            j AS (SELECT u.region, s.user, s.total
                  FROM s JOIN '{inputs}/users/*.parquet' u USING (user)),
            r AS (SELECT region, user, total, row_number() OVER (
                    PARTITION BY region ORDER BY total DESC, user DESC) AS rank FROM j)
            SELECT region, rank, user, total FROM r WHERE rank <= 20""",
        # the clean and dedup stages of the q_e2e_curation oracle
        "survivors": f"""
            WITH profiled AS ({profile}),
            gated AS (SELECT * FROM profiled WHERE quality >= CAST(0.5 AS DOUBLE)),
            deduped AS (SELECT * FROM (
              SELECT *, row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
              FROM gated) WHERE rn = 1)
            SELECT doc_id, lang_guess, n_tokens FROM deduped""",
    }


def graph_refs(con, inputs, pagerank_rounds=2):
    """Delta PageRank with the library's round semantics and the round cap
    perfbench.KeyedBatch asks for."""
    e = con.execute(f"SELECT src, dst FROM '{inputs}/edges/*.parquet'").fetchnumpy()
    src, dst = (e[k].astype(np.int64) for k in ("src", "dst"))
    nodes = np.unique(np.concatenate([src, dst]))
    idx = {int(v): i for i, v in enumerate(nodes)}
    s = np.array([idx[int(v)] for v in src])
    d = np.array([idx[int(v)] for v in dst])

    # delta PageRank (Graph.pageRankDelta, eps = 0): nodes that received a
    # contribution last round push their increment along their out-edges
    pairs = np.unique(np.stack([s, d], axis=1), axis=0)
    ps, pt = pairs[:, 0], pairs[:, 1]
    n = len(nodes)
    outdeg = np.bincount(ps, minlength=n).astype(float)
    rank = np.full(n, 0.15 / n)
    pending = rank.copy()
    active = np.ones(n, dtype=bool)
    for _ in range(pagerank_rounds):
        live = active[ps]
        contrib = np.bincount(pt[live], weights=pending[ps[live]] / outdeg[ps[live]], minlength=n)
        received = np.bincount(pt[live], minlength=n) > 0
        if not np.any(contrib[received] != 0):
            break
        rank[received] += 0.85 * contrib[received]
        pending = np.where(received, 0.85 * contrib, 0.0)
        active = received

    con.register("pagerank_ref", pd.DataFrame({"node": nodes, "rank": rank}))
    return {"pagerank": "SELECT * FROM pagerank_ref"}


def references(con, inputs, run_dir):
    """Digests of every keyed_batch reference output, cached in the input
    directory (keyed by the catalog oracle they splice in)."""
    path = os.path.join(inputs, "ref.json")
    with open(os.path.join(run_dir, "profile_oracle.sql")) as f:
        key = f"{REF_VERSION}\n{f.read()}"
    try:
        with open(path) as f:
            cached = json.load(f)
        if cached["key"] == key:
            return cached["refs"]
    except (OSError, ValueError, KeyError):
        pass
    rels = {**keyed_batch_refs(con, inputs, run_dir), **graph_refs(con, inputs)}
    refs = {name: stats.digest(con, sql, OUTPUT_COLUMNS[name]) for name, sql in rels.items()}
    con.execute(f"COPY ({rels['pagerank']}) TO '{inputs}/ref_pagerank.parquet' (FORMAT PARQUET)")
    with open(path, "w") as f:
        json.dump({"key": key, "refs": refs}, f)
    return refs


def check_job(con, out_dir, refs, inputs):
    """Names of the outputs of one job that do not match the reference."""
    wrong = []
    for name, want in refs.items():
        path = os.path.join(out_dir, name)
        if not os.path.isdir(path):
            wrong.append(name)
            continue
        rel = f"SELECT * FROM '{path}/*.parquet'"
        if not stats.digests_match(stats.digest(con, rel, OUTPUT_COLUMNS[name]), want):
            wrong.append(name)
        elif name == "pagerank":
            off = con.execute(f"""
                SELECT count(*) FROM ({rel}) o JOIN '{inputs}/ref_pagerank.parquet' r USING (node)
                WHERE abs(o.rank - r.rank) > {RANK_TOLERANCE} * abs(r.rank)""").fetchone()[0]
            if off:
                wrong.append(name)
    return wrong


def check_stream(con, inputs, counts, late_dropped, plan):
    """Problems with a stream run's final state, as strings (empty if none)."""
    con.register("got", pd.DataFrame(np.array(counts, dtype=np.int64).reshape(-1, 3),
                                      columns=["user", "w", "n"]))
    want = f"""SELECT user, (ts_ms // {plan['window_ms']}) * {plan['window_ms']} AS w,
                      count(*) AS n
               FROM '{inputs}/stream/*.parquet' WHERE NOT late GROUP BY ALL"""
    problems = []
    cols = ["user", "w", "n"]
    if not stats.digests_match(stats.digest(con, "SELECT * FROM got", cols),
                               stats.digest(con, want, cols)):
        problems.append("final per-window counts differ from the recount")
    if late_dropped != plan["late_events"]:
        problems.append(f"watermark dropped {late_dropped} rows, "
                        f"generator made {plan['late_events']} late")
    return problems
