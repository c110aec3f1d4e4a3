"""Seeded input generator for the benchmark workloads.

Every input is a pure function of (workload, seed, scale, GEN_VERSION).
A base block is drawn with numpy from the seed; tables are then grown to
scale with the disjoint-replica construction of the repository's soak
generator (tools/gen_soak_sf1.py), copied here: replica i shifts every
key by i * (base key span), and text replicas i > 0 salt every third word
with the replica id, so replicas share no keys and add no cross-replica
duplicates while per-replica shape (skew, duplicate rate) is unchanged.

Inputs live in a directory named by that key. `manifest.json` is written
last and lists each file's SHA-256; `ensure` regenerates any directory
whose manifest is missing or whose files do not match it, so stale or
partial inputs are never used.
"""
import hashlib
import json
import os
import shutil
import time

import duckdb
import numpy as np

GEN_VERSION = 1

# Per-workload scale. The batch sizes keep a keyed_batch job at a few
# seconds on four cores; the stream ladder is in events per second.
SCALES = {
    "keyed_batch": {"replicas": 2, "lines": 10000, "events": 100000, "users": 2500,
                    "docs": 500, "nodes": 1000, "edges": 4000},
    "stream_window": {"users": 2000, "warm_rate": 1000, "warm_ms": 1500,
                      "rates": [2000, 8000, 128000],
                      "window_ms": 1000, "delay_ms": 2000,
                      "out_of_order": 0.1, "late": 0.01},
}

EVENT_BASE_MS = 1_700_000_000_000
STOP_EN = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "that",
           "for", "on", "with", "as", "at", "by", "this"]
STOP_ES = ["el", "la", "los", "las", "de", "y", "o", "en", "es", "que", "un",
           "una", "por", "con", "para", "del", "se", "al"]
STOP_DE = ["der", "die", "das", "und", "oder", "von", "zu", "in", "ist", "es",
           "dass", "auf", "mit", "als", "bei", "ein", "eine"]
SYLLABLES = ["ka", "lo", "mi", "ne", "ru", "ta", "sel", "dor", "vin", "pa",
             "qua", "es", "ri", "mon", "tal", "ber", "sto", "gra", "fen", "ul"]
VOCAB = np.array([a + b + c for a in SYLLABLES for b in SYLLABLES
                  for c in ["", "n", "s", "ter", "ing"]])


def zipf_index(rng, n, size):
    """Log-uniform draw over 0..n-1: P(k) is proportional to 1/(k+1)."""
    return np.minimum(np.floor(np.power(float(n), rng.random(size))).astype(np.int64) - 1, n - 1)


def words(rng, n, stop, stop_share):
    vocab = VOCAB[zipf_index(rng, len(VOCAB), n)]
    if not stop:
        return vocab
    pick = rng.random(n) < stop_share
    return np.where(pick, np.array(stop)[rng.integers(0, len(stop), n)], vocab)


def texts(rng, lengths, stop, stop_share):
    flat = words(rng, int(lengths.sum()), stop, stop_share)
    ends = np.cumsum(lengths)
    return [" ".join(flat[e - k:e]) for e, k in zip(ends, lengths)]


def replicate_text_sql(table, key, span, replicas, extra):
    """The soak generator's text replication: replica 0 intact, replicas
    i > 0 salt every third word so they are not duplicates of replica 0."""
    return f"""
        SELECT {key} + r.i * {span} AS {key},
               CASE WHEN r.i = 0 THEN text ELSE (
                 SELECT string_agg(
                   CASE WHEN w.n % 3 = 0
                        THEN w.word || 'x' || CAST(r.i AS VARCHAR)
                        ELSE w.word END, ' ' ORDER BY w.n)
                 FROM (SELECT unnest(string_split(text, ' ')) AS word,
                              generate_subscripts(string_split(text, ' '), 1) AS n) w
               ) END AS text{extra}
        FROM {table}, range({replicas}) r(i)"""


def gen_keyed_batch(con, rng, p, out):
    r = p["replicas"]
    lines = texts(rng, rng.integers(8, 17, p["lines"]), STOP_EN, 0.3)
    con.register("lines_df", _frame(line=np.arange(p["lines"]), text=lines))
    text = con.execute(replicate_text_sql("lines_df", "line", p["lines"], r, "")
                       + " ORDER BY line").fetchall()
    os.makedirs(f"{out}/text")
    parts = np.array_split(np.arange(len(text)), 4)
    for k, idx in enumerate(parts):
        with open(f"{out}/text/part-{k:05d}.txt", "w") as f:
            f.write("".join(text[i][1] + "\n" for i in idx))
    n = p["events"]
    con.register("events_df", _frame(
        user=zipf_index(rng, p["users"], n),
        ts=EVENT_BASE_MS + rng.integers(0, 86_400_000, n),
        value=rng.integers(1, 101, n)))
    copy(con, f"""SELECT user + r.i * {p['users']} AS user, ts, value
                  FROM events_df, range({r}) r(i)""", f"{out}/events", parts=4)
    copy(con, f"""SELECT CAST(range AS BIGINT) AS user,
                         CAST(hash(range, {GEN_VERSION}) % 16 AS INTEGER) AS region
                  FROM range({p['users'] * r})""", f"{out}/users")
    docs = gen_documents(con, rng, p["docs"], r, out)
    edges = gen_graph(con, rng, p["nodes"], p["edges"], r, out)
    return {"text": len(text), "events": n * r, "users": p["users"] * r, "documents": docs,
            "edges": edges}


def gen_graph(con, rng, nodes, edges, r, out):
    """A power-law graph: uniform sources, log-uniform destinations."""
    src = rng.integers(0, nodes, edges)
    dst = zipf_index(rng, nodes, edges)
    dst = np.where(dst == src, (src + 1) % nodes, dst)
    con.register("edges_df", _frame(src=src, dst=dst))
    copy(con, f"""SELECT src + r.i * {nodes} AS src, dst + r.i * {nodes} AS dst
                  FROM (SELECT DISTINCT src, dst FROM edges_df), range({r}) r(i)""",
         f"{out}/edges", parts=4)
    return con.execute(f"SELECT count(*) FROM '{out}/edges/*.parquet'").fetchone()[0]


def gen_documents(con, rng, n, replicas, out):
    """Documents in four kinds: English, Spanish, German and junk (very
    short or punctuation-heavy), with about one in ten an exact copy of
    an earlier document so the dedup stage has work."""
    kind = rng.choice(4, n, p=[0.6, 0.25, 0.05, 0.1])
    lengths = rng.integers(10, 300, n)
    docs = []
    for k, stop in enumerate([STOP_EN, STOP_ES, STOP_DE]):
        idx = np.flatnonzero(kind == k)
        docs.append((idx, texts(rng, lengths[idx], stop, 0.3)))
    idx = np.flatnonzero(kind == 3)
    junk = texts(rng, rng.integers(2, 8, len(idx)), None, 0)
    docs.append((idx, [t.replace(" ", " !! ") + " ?" for t in junk]))
    text = np.empty(n, dtype=object)
    for idx, ts in docs:
        text[idx] = ts
    dup = rng.random(n) < 0.1
    dup[0] = False
    src = (rng.random(n) * np.arange(n)).astype(np.int64)
    text[dup] = text[src[dup]]
    lang = np.array(["en", "es", "de", "xx"])[kind]
    con.register("docs_df", _frame(doc_id=np.arange(n), text=text.tolist(), lang=lang))
    copy(con, f"""SELECT doc_id, text, lang, 'src' || CAST(doc_id % 7 AS VARCHAR) AS source,
                         CAST(length(text) AS BIGINT) AS n_chars
                  FROM ({replicate_text_sql('docs_df', 'doc_id', n, replicas, ', lang')})""",
         f"{out}/documents", parts=4)
    return n * replicas


def gen_stream_window(con, rng, p, out, seconds):
    """An event schedule: a warm-up segment, then a ladder of fixed rates
    sharing the timed window equally. Due times are evenly spaced within
    a segment. A share of events is out of order (event time up to half
    the watermark delay behind the due time, so never dropped) and, after
    the warm-up, a share is late: event times an hour back, one window
    each, so the watermark drops every one of them."""
    rung_ms = seconds * 1000.0 / len(p["rates"])
    segments = [(p["warm_rate"], 0.0, float(p["warm_ms"]))]
    for i, rate in enumerate(p["rates"]):
        start = p["warm_ms"] + i * rung_ms
        segments.append((rate, start, start + rung_ms))
    due = np.concatenate([
        s + np.arange(int(rate * (e - s) / 1000.0)) * (1000.0 / rate)
        for rate, s, e in segments])
    due_us = np.round(due * 1000).astype(np.int64)
    n = len(due_us)
    user = zipf_index(rng, p["users"], n)
    ts = EVENT_BASE_MS + due_us // 1000
    ooo = rng.random(n) < p["out_of_order"]
    ts = np.where(ooo, ts - rng.integers(1, p["delay_ms"] // 2, n), ts)
    late = (rng.random(n) < p["late"]) & (due_us >= (p["warm_ms"] + 500) * 1000)
    late_before = EVENT_BASE_MS - 1_800_000
    ts[late] = EVENT_BASE_MS - 3_600_000 - np.arange(late.sum()) * p["window_ms"]
    with open(f"{out}/stream.bin", "wb") as f:
        np.array([n], dtype="<i8").tofile(f)
        for a in (user, ts, due_us):
            a.astype("<i8").tofile(f)
    con.register("stream_df", _frame(seq=np.arange(n), user=user, ts_ms=ts,
                                     due_us=due_us, late=late))
    copy(con, "SELECT * FROM stream_df", f"{out}/stream")
    plan = {k: p[k] for k in ("window_ms", "delay_ms", "warm_ms")}
    plan.update(rungs=[{"rate": rate, "start_ms": s, "end_ms": e}
                       for rate, s, e in segments[1:]],
                late_before_ms=late_before, flush_ts_ms=EVENT_BASE_MS + 100_000_000,
                late_events=int(late.sum()))
    with open(f"{out}/stream_plan.json", "w") as f:
        json.dump(plan, f)
    return {"stream": n}


def _frame(**cols):
    import pandas as pd
    return pd.DataFrame(cols)


def copy(con, sql, path, parts=1):
    """Writes a query's rows as `parts` parquet files under `path`."""
    os.makedirs(path)
    con.execute(f"CREATE OR REPLACE TEMP TABLE _out AS SELECT * FROM ({sql}) ORDER BY ALL")
    total = con.execute("SELECT count(*) FROM _out").fetchone()[0]
    step = -(-total // parts)
    for k in range(parts):
        con.execute(f"""COPY (SELECT * FROM _out LIMIT {step} OFFSET {k * step})
                        TO '{path}/part-{k:05d}.parquet' (FORMAT PARQUET)""")


GENERATORS = {"keyed_batch": gen_keyed_batch, "stream_window": gen_stream_window}


def key(workload, seed, seconds):
    params = dict(SCALES[workload])
    if workload == "stream_window":
        params["seconds"] = seconds
    blob = json.dumps([GEN_VERSION, workload, seed, params], sort_keys=True)
    return params, hashlib.sha256(blob.encode()).hexdigest()[:16]


def file_digests(root):
    out = {}
    for dirpath, _, files in os.walk(root):
        for name in sorted(files):
            path = os.path.join(dirpath, name)
            rel = os.path.relpath(path, root)
            if rel == "manifest.json" or rel.startswith("ref"):
                continue
            with open(path, "rb") as f:
                out[rel] = hashlib.sha256(f.read()).hexdigest()
    return out


def verify(root):
    """The manifest if every listed file is present and unchanged, else None."""
    try:
        with open(f"{root}/manifest.json") as f:
            manifest = json.load(f)
    except (OSError, ValueError):
        return None
    return manifest if file_digests(root) == manifest["files"] else None


def ensure(base, workload, seed, seconds):
    """Returns (input dir, manifest, generation seconds or None if reused)."""
    params, digest = key(workload, seed, seconds)
    root = os.path.join(base, workload, f"v{GEN_VERSION}-seed{seed}-{digest}")
    manifest = verify(root)
    if manifest is not None:
        return root, manifest, None
    t0 = time.perf_counter()
    shutil.rmtree(root, ignore_errors=True)
    tmp = root + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    rng = np.random.default_rng([seed, GEN_VERSION, sorted(GENERATORS).index(workload)])
    extra = (seconds,) if workload == "stream_window" else ()
    rows = GENERATORS[workload](con, rng, params, tmp, *extra)
    con.close()
    manifest = {"version": GEN_VERSION, "workload": workload, "seed": seed,
                "params": params, "rows": rows, "files": file_digests(tmp)}
    with open(f"{tmp}/manifest.json", "w") as f:
        json.dump(manifest, f)
    os.rename(tmp, root)
    return root, manifest, time.perf_counter() - t0
