"""Output checks: every figure the program produced in a run is compared
with a computation made apart from it, in DuckDB, over the same generated
input files.

Each check returns a list of mismatch descriptions; an empty list passes.
The `expected_*` functions hold the independent computations, `compare`
and the `*_violations` functions hold the comparisons, and the tests in
test_checks.py feed the comparisons perturbed reference values.
"""
import glob
import json
import math
import os

import duckdb

from gen import SENTINEL_TYPE, SENTINEL_USER

GAP_US = 30 * 60_000_000  # session gap of both session operators
SQL_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "sql")
MAX_REPORTED = 3


def connect():
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    return con


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    if hasattr(v, "tzinfo") and v.tzinfo is not None:
        return v.replace(tzinfo=None) - v.utcoffset()
    return v


def _key(row):
    return tuple((x is None, x if x is not None else 0) for x in row)


def _same(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    return a == b


def compare(label, expected, actual):
    """Multiset comparison of two row lists; doubles compare to 1e-9."""
    exp = sorted((tuple(_norm(x) for x in r) for r in expected), key=_key)
    act = sorted((tuple(_norm(x) for x in r) for r in actual), key=_key)
    if len(exp) != len(act):
        return ["%s: %d rows expected, %d produced" % (label, len(exp),
                                                        len(act))]
    bad = [(e, a) for e, a in zip(exp, act)
           if len(e) != len(a) or not all(map(_same, e, a))]
    return ["%s: expected %r, produced %r" % (label, e, a)
            for e, a in bad[:MAX_REPORTED]]


def monotonic_violations(label, rows):
    """rows: (key..., batch_id, n). A running count must never decrease
    for a key from one batch to the next."""
    last = {}
    out = []
    for r in sorted(rows, key=lambda r: (_key(r[:-2]), r[-2])):
        k, n = tuple(r[:-2]), r[-1]
        if k in last and n < last[k]:
            out.append("%s: key %r fell from %d to %d in batch %d"
                       % (label, k, last[k], n, r[-2]))
        last[k] = n
    return out[:MAX_REPORTED]


# ---------------------------------------------------------------- streams

def events_view(con, timed_dir):
    """`ev`: the stream's events; `filename` orders the files, which is the
    order the micro-batches arrived in."""
    con.execute("CREATE OR REPLACE VIEW ev AS SELECT * FROM "
                "read_parquet(%r, filename = true)"
                % os.path.join(timed_dir, "*.parquet"))


def file_rows(con, timed_dir):
    return [con.execute("SELECT count(*) FROM read_parquet(%r)" % f)
            .fetchone()[0]
            for f in sorted(glob.glob(os.path.join(timed_dir, "*.parquet")))]


def read_output(con, out_dir, name, cols):
    """A pipeline's sink contents: one JSON object per row, timestamps as
    epoch microseconds, each with its batch id."""
    path = os.path.join(out_dir, "outputs", name + ".jsonl")
    return con.execute("SELECT %s FROM read_json(%r, "
                       "format = 'newline_delimited')"
                       % (", ".join(cols), path)).fetchall()


def final_by_key(rows, nkey, n_at):
    """Last update per key of an update-mode stream: rows start with
    `nkey` key columns and carry a count at index `n_at` that grows with
    every update, so the row with the largest count is the final state."""
    best = {}
    for r in rows:
        k = r[:nkey]
        if k not in best or r[n_at] > best[k][n_at]:
            best[k] = r
    return list(best.values())


def expected_counts(con, by_type=True):
    if by_type:
        return con.execute(
            "SELECT user_id, event_type, count(*), "
            "sum(CAST(round(value * 100) AS BIGINT)) FROM ev "
            "GROUP BY user_id, event_type").fetchall()
    return con.execute(
        "SELECT user_id, 'all', count(*), "
        "sum(CAST(round(value * 100) AS BIGINT)) FROM ev "
        "GROUP BY user_id").fetchall()


def expected_ewma(con):
    """The EWMA fold in arrival order: batch by batch, each batch's rows by
    (ts, event_id); an event older than the user's newest event of an
    earlier batch (a duplicate planted in the next file) counts as out of
    order."""
    return con.execute(
        "WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id, value, "
        "                  filename AS f FROM ev), "
        "pf AS (SELECT user_id, f, max(us) AS mx FROM e GROUP BY ALL), "
        "prev AS (SELECT user_id, f, max(mx) OVER (PARTITION BY user_id "
        "           ORDER BY f ROWS BETWEEN UNBOUNDED PRECEDING "
        "           AND 1 PRECEDING) AS prev_max FROM pf) "
        "SELECT user_id, count(*), "
        "       list_reduce(list(value ORDER BY f, us, event_id), "
        "         (s, x) -> 0.75::DOUBLE * s + 0.25::DOUBLE * x), "
        "       count(*) FILTER (WHERE us < prev_max) "
        "FROM e JOIN prev USING (user_id, f) GROUP BY user_id").fetchall()


def _sessions_sql(new_session_cond, select):
    return (
        "WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id FROM ev "
        "           WHERE user_id <> %d), "
        "f AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL OR %s "
        "                     THEN 1 ELSE 0 END AS new_s FROM e "
        "      WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)), "
        "g AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id "
        "        ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS sid "
        "      FROM f) "
        "SELECT %s FROM g GROUP BY user_id, sid"
        % (SENTINEL_USER, new_session_cond, select))


def expected_closed_sessions(con):
    """sessionizeWithTimeout: a gap longer than 30 min starts a session."""
    return con.execute(_sessions_sql(
        "us - lag(us) OVER w > %d" % GAP_US,
        "user_id, count(*), min(us), max(us)")).fetchall()


def expected_session_windows(con):
    """session_window: an event joins the session while it starts before
    the session's end (last event + 30 min), so a gap of 30 min or more
    starts a new one."""
    return con.execute(_sessions_sql(
        "us - lag(us) OVER w >= %d" % GAP_US,
        "user_id, min(us), count(*)")).fetchall()


def expected_dedup(con):
    return con.execute("SELECT DISTINCT event_id FROM ev").fetchall()


def expected_join(con):
    return con.execute(
        "SELECT p.event_id, c.event_id FROM ev p JOIN ev c "
        "ON p.user_id = c.user_id AND c.ts >= p.ts - INTERVAL 10 MINUTE "
        "AND c.ts <= p.ts "
        "WHERE p.event_type = 'purchase' AND c.event_type = 'click'"
    ).fetchall()


def expected_gapfill(con):
    return con.execute(
        "WITH m AS (SELECT event_type, epoch_us(ts) // 60000000 AS mn, "
        "                  count(*) AS n, "
        "                  sum(CAST(round(value * 100) AS BIGINT)) AS c "
        "           FROM ev WHERE event_type <> '%s' GROUP BY ALL), "
        "r AS (SELECT event_type, min(mn) AS lo, max(mn) AS hi FROM m "
        "      GROUP BY ALL), "
        "s AS (SELECT event_type, unnest(range(lo, hi + 1)) AS mn FROM r) "
        "SELECT s.event_type, s.mn, coalesce(m.n, 0), "
        "       last_value(m.c IGNORE NULLS) OVER (PARTITION BY s.event_type "
        "         ORDER BY s.mn ROWS UNBOUNDED PRECEDING) "
        "FROM s LEFT JOIN m USING (event_type, mn)" % SENTINEL_TYPE
    ).fetchall()


# the pipelines check_keyed and check_evict compare
KEYED = ("rc_hdfs", "rc_rocksdb", "rc_tws", "ewma", "ewma_tws", "sessionize")
EVICTING = ("session_windows", "dedup", "join", "gapfill")
# The interval join scans the stream twice, once per side, and its source
# reports the rows of both scans. Each side's event-type filter is pushed
# into the parquet scan, whose row-group statistics then skip a sentinel
# file (type `sentinel`) whole: those two batches read no rows.
SCANS = {"join": 2}
PRUNES_SENTINELS = ("join",)


def expected_source_rows(name, rows, sentinel):
    """Rows the source of pipeline `name` must report per batch, for files
    of `rows` rows of which those flagged in `sentinel` are sentinels."""
    return [[0 if s and name in PRUNES_SENTINELS else n * SCANS.get(name, 1)]
            for n, s in zip(rows, sentinel)]


def check_stream_common(con, jvm, timed_dir):
    """Closed-loop bookkeeping: the pipelines that ran are the ones checked,
    each ran one batch per file, in order, whose sources read exactly the
    rows of that file, and nothing was dropped."""
    errs = list(jvm["errors"])
    ran = set(jvm["pipelines"])
    if ran != set(KEYED + EVICTING):
        errs.append("pipelines run %s, pipelines checked %s"
                    % (sorted(ran), sorted(KEYED + EVICTING)))
    files = sorted(glob.glob(os.path.join(timed_dir, "*.parquet")))
    rows = file_rows(con, timed_dir)
    sentinel = ["_sentinel" in os.path.basename(f) for f in files]
    for name, p in sorted(jvm["pipelines"].items()):
        want = expected_source_rows(name, rows, sentinel)
        if p["source_rows"] != want:
            errs.append("%s: batches read %s input rows per source, "
                        "expected %s" % (name, p["source_rows"], want))
        if p["batch_ids"] != list(range(len(rows))):
            errs.append("%s: batch ids %s" % (name, p["batch_ids"]))
    if jvm["rows_dropped_by_watermark"] != 0:
        errs.append("%d rows dropped by watermark"
                    % jvm["rows_dropped_by_watermark"])
    return errs


def check_stream(con, out_dir, jvm, timed_dir):
    events_view(con, timed_dir)
    errs = check_stream_common(con, jvm, timed_dir)
    return (errs + check_keyed(con, out_dir, jvm, timed_dir) +
            check_evict(con, out_dir))


def check_keyed(con, out_dir, jvm, timed_dir):
    """The keyed folds: final state, store symmetry, monotonicity,
    conservation and state size."""
    errs = []
    kc = ["user_id", "event_type", "n", "val_cents"]
    counts = expected_counts(con)
    outs = {}
    for p in ("rc_hdfs", "rc_rocksdb"):
        outs[p] = read_output(con, out_dir, p, ["batch_id"] + kc)
        final = final_by_key([r[1:] for r in outs[p]], 2, 2)
        errs += compare(p + " final state", counts, final)
        errs += monotonic_violations(
            p, [(r[1], r[2], r[0], r[3]) for r in outs[p]])
        fed = sum(rows for rows in file_rows(con, timed_dir))
        if sum(r[2] for r in final) != fed:
            errs.append("%s: final counts sum to %d, %d events fed"
                        % (p, sum(r[2] for r in final), fed))
        if jvm["pipelines"][p]["rows_total"] != len(counts):
            errs.append("%s: state holds %d rows, %d distinct keys"
                        % (p, jvm["pipelines"][p]["rows_total"],
                           len(counts)))
    errs += compare("rc_hdfs vs rc_rocksdb output", outs["rc_hdfs"],
                    outs["rc_rocksdb"])
    errs += compare("rc_tws final state", expected_counts(con, False),
                    final_by_key(read_output(con, out_dir, "rc_tws", kc), 1, 2))
    ewma = expected_ewma(con)
    for p in ("ewma", "ewma_tws"):
        got = final_by_key(read_output(
            con, out_dir, p, ["user_id", "n_events", "ewma", "n_ooo"]), 1, 1)
        errs += compare(p + " final state", ewma, got)
    n_users = len(ewma)
    for p in ("ewma", "rc_tws", "ewma_tws"):
        if jvm["pipelines"][p]["rows_total"] != n_users:
            errs.append("%s: state holds %d rows, %d distinct users"
                        % (p, jvm["pipelines"][p]["rows_total"], n_users))
    errs += compare("sessionize closed sessions",
                    expected_closed_sessions(con),
                    read_output(con, out_dir, "sessionize",
                                ["user_id", "n_events", "start_us",
                                 "end_us"]))
    return errs


def check_evict(con, out_dir):
    """The watermark-evicting operators, after the sentinels flushed them."""
    errs = compare("session_windows", expected_session_windows(con),
                    read_output(con, out_dir, "session_windows",
                                ["user_id", "start_ts",
                                 "n_events"]))
    errs += compare("dedup", expected_dedup(con),
                    read_output(con, out_dir, "dedup", ["event_id"]))
    errs += compare("join pairs", expected_join(con),
                    read_output(con, out_dir, "join", ["p_id", "c_id"]))
    errs += compare("gapfill", expected_gapfill(con),
                    read_output(con, out_dir, "gapfill",
                                ["event_type", "epoch_min", "n",
                                 "ff_cents"]))
    return errs


# ------------------------------------------------------------ batch mix

def tables_views(con, timed_dir):
    for p in sorted(glob.glob(os.path.join(timed_dir, "*.parquet"))):
        t = os.path.basename(p)[:-len(".parquet")]
        con.execute("CREATE OR REPLACE VIEW %s AS SELECT * FROM "
                    "read_parquet(%r)" % (t, p))


def _utc(con, sql):
    """Rows of `sql` with time-zone-aware timestamps as UTC wall time, so
    both engines' timestamps compare as the same Python values."""
    cols = con.execute("DESCRIBE " + sql).fetchall()
    sel = ", ".join(
        "CAST(\"%s\" AS TIMESTAMP)" % c[0]
        if c[1] == "TIMESTAMP WITH TIME ZONE" else "\"%s\"" % c[0]
        for c in cols)
    return con.execute("SELECT %s FROM (%s)" % (sel, sql)).fetchall()


def local_sql(name):
    path = os.path.join(SQL_DIR, name + ".sql")
    with open(path) as f:
        return f.read()


def check_batch(con, out_dir, jvm, timed_dir):
    """Every query the JVM ran, against its registered oracle SQL or the
    SQL kept in sql/."""
    tables_views(con, timed_dir)
    errs = list(jvm["errors"])
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    for q in jvm["queries"]:
        spark_sql = "SELECT * FROM read_parquet(%r)" % os.path.join(
            out_dir, "outputs", q, "*.parquet")
        actual = _utc(con, spark_sql)
        sql = oracle.get(q) or local_sql(q)
        errs += compare(q, _utc(con, sql), actual)
    return errs
