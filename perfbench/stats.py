"""The benchmark's own arithmetic: percentiles, span self time, the
processed rate behind backlog growth, the sustained-rate choice, and
result digests."""
import statistics

# Percentiles a timing may be reported at, highest first.
PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def median(values):
    return statistics.median(values) if values else None


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of the
    samples at or below it."""
    s = sorted(values)
    if not s:
        return None
    k = max(1, -(-len(s) * p // 100))
    return s[int(k) - 1]


def tail_percentile(values, min_beyond=10):
    """(p, value) for the highest percentile in PERCENTILES that leaves at
    least `min_beyond` samples above it; with too few samples for any of
    them, (100.0, maximum)."""
    n = len(values)
    if n == 0:
        return None, None
    for p in PERCENTILES:
        if n * (100.0 - p) / 100.0 >= min_beyond:
            return p, percentile(values, p)
    return 100.0, max(values)


def union_length(intervals):
    """Total length covered by possibly overlapping [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover; children
    may overlap each other and stick out of the parent."""
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children]
    return (e - s) - union_length(clipped)


def processed_rate(ends, done, start, end):
    """Events per second processed over [start, end] (ms), from a
    cumulative processed-events curve sampled at micro-batch ends and
    interpolated linearly between them and held flat outside them."""
    if not ends:
        return 0.0
    order = sorted(range(len(ends)), key=ends.__getitem__)
    xs = [ends[i] for i in order]
    ys = [done[i] for i in order]

    def at(t):
        if t <= xs[0]:
            return ys[0]
        for k in range(1, len(xs)):
            if t <= xs[k]:
                return ys[k - 1] + (t - xs[k - 1]) / (xs[k] - xs[k - 1]) * (ys[k] - ys[k - 1])
        return ys[-1]

    return (at(end) - at(start)) / ((end - start) / 1000.0)


def sustained_rate(rungs, latency_limit_ms, growth_tolerance):
    """The highest rung rate that it and every lower rung sustained: the
    backlog grew by at most `growth_tolerance` x rate per second, and the
    tail latency met the limit. `rungs` is a list of dicts with `rate`,
    `backlog_growth` (events/s, None if unmeasured) and `latency_tail_ms`.
    Returns None when even the lowest rung failed."""
    best = None
    for r in sorted(rungs, key=lambda r: r["rate"]):
        grows = r["backlog_growth"] is None or r["backlog_growth"] > growth_tolerance * r["rate"]
        late = r["latency_tail_ms"] is None or r["latency_tail_ms"] > latency_limit_ms
        if grows or late:
            break
        best = r["rate"]
    return best


def digest_sql(relation, columns):
    """Order-insensitive digest of a relation in DuckDB: row count and the
    sum of per-row hashes over the named columns, rendered as text."""
    row = " || '|' || ".join(f"coalesce(CAST({c} AS VARCHAR), '<null>')" for c in columns)
    return (f"SELECT count(*) AS n, CAST(coalesce(sum(hash({row})), 0) AS VARCHAR) AS h "
            f"FROM ({relation})")


def digest(con, relation, columns):
    n, h = con.execute(digest_sql(relation, columns)).fetchone()
    return {"rows": int(n), "hash": h}


def digests_match(got, want):
    return got["rows"] == want["rows"] and got["hash"] == want["hash"]
