"""Arithmetic the benchmark's metrics rest on, kept free of Spark so that
`tests/test_stats.py` can pin it: percentiles with a tail rule,
newest-event latency from a progress report, the window-count
conservation check on an upsert sink, and the oracle comparator."""
import datetime
import math
import os
import statistics
from collections import Counter

# A percentile is reported only when at least this many samples lie
# beyond it (choosing-metrics guide §1), so p90 needs 100 samples.
MIN_TAIL = 10


def percentile(samples, q):
    """Nearest-rank q-quantile (0 < q < 1) of `samples`, or None when fewer
    than MIN_TAIL samples lie strictly beyond the rank it picks."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return None
    rank = max(1, math.ceil(q * n))  # 1-based
    if n - rank < MIN_TAIL:
        return None
    return xs[rank - 1]


def median(samples):
    return statistics.median(samples) if samples else None


def geomean(samples):
    xs = list(samples)
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else None


def iso_ms(s):
    """Epoch milliseconds of a Spark progress timestamp (`...Z`)."""
    d = datetime.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fZ")
    return round(d.replace(tzinfo=datetime.timezone.utc).timestamp() * 1000)


def newest_event_latency_ms(progress):
    """Time from the creation of the newest event a trigger carried to the
    trigger's sink commit: `timestamp + batchDuration - eventTime.max`.
    None for a trigger without data."""
    if not progress.get("numInputRows"):
        return None
    newest = (progress.get("eventTime") or {}).get("max")
    if newest is None:
        return None
    return iso_ms(progress["timestamp"]) + progress["batchDuration"] - iso_ms(newest)


def _delta_files(sink_dir):
    deltas = sorted(d for d in os.listdir(sink_dir) if d.startswith("b")) \
        if os.path.isdir(sink_dir) else []
    return [os.path.join(sink_dir, d, "*.parquet") for d in deltas
            if any(f.endswith(".parquet") for f in os.listdir(os.path.join(sink_dir, d)))]


def _resolved(keys):
    """SQL over `read_parquet(?)` of a sink's deltas: last write (highest
    `_batch_id`) wins per key, independently of the program's resolver."""
    k = ", ".join(keys)
    return (f"SELECT * EXCLUDE (rn, _batch_id) FROM ("
            f"  SELECT *, row_number() OVER (PARTITION BY {k} ORDER BY _batch_id DESC) AS rn"
            f"  FROM read_parquet(?)) WHERE rn = 1")


def resolve_sum(con, sink_dir, keys):
    """Σ total_interactions over an upsert sink resolved last-write-wins per
    key. 0 for a sink with no deltas."""
    files = _delta_files(sink_dir)
    if not files:
        return 0
    row = con.execute(f"SELECT coalesce(sum(total_interactions), 0) FROM ({_resolved(keys)})",
                      [files]).fetchone()
    return int(row[0])


def window_count_diff(con, backlog_glob, sink_dir, key):
    """Rows whose multiplicity differs between a resolved catch-up sink and
    the reference's sliding-window counts (10 min windows every 5 min,
    epoch-aligned) computed by DuckDB straight from the wire backlog, with
    the consumer's null filter."""
    files = _delta_files(sink_dir)
    if not files:
        return None
    five = 300_000_000  # µs
    sql = f"""
    WITH e AS (
      SELECT {key} AS key,
             floor(epoch_us(CAST("timestamp" AS TIMESTAMPTZ)) / {five})::BIGINT AS s
      FROM read_json(?, format='newline_delimited', columns={{
        'user_id': 'VARCHAR', 'item_id': 'VARCHAR',
        'interaction_type': 'VARCHAR', 'timestamp': 'VARCHAR'}})
      WHERE user_id IS NOT NULL AND item_id IS NOT NULL AND "timestamp" IS NOT NULL),
    want AS (
      SELECT (s - o.k) * {five} AS ws, (s - o.k) * {five} + 2 * {five} AS we, key,
             count(*) AS n
      FROM e, (VALUES (0), (1)) AS o(k) GROUP BY ALL),
    got AS (
      SELECT epoch_us(window_start) AS ws, epoch_us(window_end) AS we, {key} AS key,
             total_interactions AS n
      FROM ({_resolved(["window_start", "window_end", key])}))
    SELECT (SELECT count(*) FROM (SELECT * FROM want EXCEPT ALL SELECT * FROM got))
         + (SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL SELECT * FROM want))"""
    return int(con.execute(sql, [backlog_glob, files]).fetchone()[0])


def conserved(sink_total, committed_events, windows_per_event=2):
    """Every committed event lands in exactly `windows_per_event` sliding
    windows, so the resolved sink's counts must sum to that multiple."""
    return sink_total == windows_per_event * committed_events


def _cell(v):
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    if isinstance(v, float) and math.isnan(v):
        return "nan"
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _cell(x)) for k, x in v.items()))
    return v


def compare(expected_cols, expected_rows, got_cols, got_rows):
    """Exact multiset comparison of two results after ordering columns by
    name: floats must match bit for bit (NaN equals NaN), timestamps are
    compared in UTC. Returns None when equal, else a one-line reason."""
    if sorted(expected_cols) != sorted(got_cols):
        return f"columns differ: oracle={sorted(expected_cols)} spark={sorted(got_cols)}"
    order = sorted(range(len(expected_cols)), key=lambda i: expected_cols[i])
    gpos = {c: i for i, c in enumerate(got_cols)}

    def canon(rows, pick):
        return Counter(repr(tuple(_cell(r[i]) for i in pick)) for r in rows)

    exp = canon(expected_rows, order)
    got = canon(got_rows, [gpos[expected_cols[i]] for i in order])
    if len(expected_rows) != len(got_rows):
        return f"row counts differ: oracle={len(expected_rows)} spark={len(got_rows)}"
    if exp != got:
        missing = sorted((exp - got).elements())[:1]
        extra = sorted((got - exp).elements())[:1]
        return f"rows differ: oracle-only={missing} spark-only={extra}"
    return None
