"""Seeded input generation for the benchmark.

Every input is a pure function of (seed, workload shape): the same seed
writes byte-for-byte the same rows. Generation runs once per seed and is
cached under the work directory; no metric includes it.

Streams are written as one parquet file per micro-batch step in the
`events` schema (event_id, ts timestamp[us], user_id, event_type, value,
props). Their make-up is that of the repository's `events` test table at
sf0.1 (measured with DuckDB, see README.md): 1 500 users drawn uniformly,
about 67 events per user, event time uniform over 30 days, five event types
of 20 % each, values exponential with mean 50 rounded to cents. Files cover
consecutive, disjoint event-time spans, so no event is ever behind the
watermark; rows inside a file are shuffled (in-batch disorder). Planted
duplicate event ids (which the test table does not have) exercise the
dedup operator. Two sentinel steps at the end carry one far-future event
each on a throw-away user and event type: the first moves the watermark
past every real session, window, join buffer and gap-fill minute, and the
second is the batch in which those are evicted and emitted. Their file
names end in `_sentinel`, which is how the harness tells them apart from
the data steps.

The batch tables mirror the schemas of the repository's test data (TPC-H
style star schema plus events, documents and embeddings).
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

US_PER_MIN = 60_000_000
US_PER_DAY = 1440 * US_PER_MIN
# 2024-01-01T00:00:00 in epoch microseconds
T0_US = 1_704_067_200_000_000

EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
VALUE_MEAN = 50.0

SENTINEL_USER = -1
SENTINEL_TYPE = "sentinel"
SENTINEL_DELAY_US = 120 * US_PER_MIN

# The stream: half the sf0.1 events table's users with its events per user
# (66.7) and event-time span (30 days), fed as two files of 15 days each.
# The full table's 100 000 events made a run last about 70 s, more than the
# benchmark's time budget allows.
STREAM = dict(users=750, events=50_000, days=30, steps=2, dup_share=0.02,
              sentinels=True)
# the warm-up replays one small file per pipeline: query start, first
# batch, state-store load and commit
WARM_STREAM = dict(users=30, events=2000, days=1, steps=1, dup_share=0.02,
                   sentinels=False)
# Of the planted duplicates, DUP_NEXT per file boundary are copies of the
# previous file's events placed in the next file. They must stay inside the
# watermark delay (10 min) of the previous file's newest event, so those
# events are given times in the file's last 5 minutes, which at the test
# table's event density would hold only about a dozen events.
DUP_NEXT = 8
DUP_NEXT_WINDOW_US = 5 * US_PER_MIN

# events keep the test table's ~67 events per user
TABLES = dict(customer=1600, orders=16000, lines_per_order=4, events=24000,
              event_users=360, documents=500, embeddings=1200)
WARM_TABLES = dict(customer=300, orders=3000, lines_per_order=4, events=4000,
                   event_users=60, documents=200, embeddings=200)
DOC_CLUSTERS = 0.05  # share of documents that seed a planted near-dup cluster
DOC_CLUSTER_SIZE = 3


def _rng(seed, tag):
    return np.random.default_rng([seed, tag])


def _event_columns(rng, n, users, lo_us, span_us):
    """n events in the test table's make-up, sorted by time over
    [lo_us, lo_us + span_us): uniform users 0..users-1 and event types,
    exponential values in cents, props {"k": 0..99}. Returns the columns
    (ts, user_id, event_type, value, k)."""
    return [lo_us + np.sort(rng.integers(0, span_us, n)),
            rng.integers(0, users, n),
            EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
            np.round(rng.exponential(VALUE_MEAN, n), 2),
            rng.integers(0, 100, n)]


def _events_table(event_id, ts_us, user_id, etype, value, props):
    return pa.table({
        "event_id": pa.array(event_id, pa.int64()),
        "ts": pa.array(ts_us, pa.timestamp("us")),
        "user_id": pa.array(user_id, pa.int64()),
        "event_type": pa.array(etype, pa.string()),
        "value": pa.array(value, pa.float64()),
        "props": pa.array(props, pa.string()),
    })


def _write(table, path):
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def gen_stream(out_dir, seed, tag, users, events, days, steps, dup_share,
               sentinels):
    """Writes step_000.parquet … (plus, with `sentinels`, the two sentinel
    steps) and returns the per-step row counts, which do not depend on the
    seed."""
    rng = _rng(seed, tag)
    per_step = events // steps
    span_us = days * US_PER_DAY // steps
    n_next = DUP_NEXT if steps > 1 else 0
    n_same = int(round(per_step * dup_share)) - n_next
    os.makedirs(out_dir, exist_ok=True)
    carried = None
    counts = []
    for k in range(steps):
        lo = T0_US + k * span_us
        cols = [k * per_step + np.arange(per_step)] + _event_columns(
            rng, per_step, users, lo, span_us)
        parts = [cols] if carried is None else [cols, carried]
        carried = None
        if n_next and k + 1 < steps:
            idx = rng.choice(per_step, n_next, replace=False)
            cols[1][idx] = lo + span_us - 1 - rng.integers(
                0, DUP_NEXT_WINDOW_US, n_next)
            carried = [c[idx] for c in cols]
        if n_same:
            idx = rng.choice(per_step, n_same, replace=False)
            parts.append([c[idx] for c in cols])
        merged = [np.concatenate([p[i] for p in parts]) for i in range(6)]
        order = rng.permutation(len(merged[0]))
        merged = [c[order] for c in merged]
        props = ['{"k": %d}' % x for x in merged[5]]
        _write(_events_table(merged[0], merged[1], merged[2], merged[3],
                             merged[4], props),
               os.path.join(out_dir, "step_%03d.parquet" % k))
        counts.append(len(merged[0]))
    end_us = T0_US + steps * span_us
    for j in range(2 if sentinels else 0):
        _write(_events_table([-(j + 1)],
                             [end_us + SENTINEL_DELAY_US + j * US_PER_MIN],
                             [SENTINEL_USER], [SENTINEL_TYPE], [0.0],
                             ['{"k": 0}']),
               os.path.join(out_dir, "step_%03d_sentinel.parquet"
                            % (steps + j)))
        counts.append(1)
    return counts


def _words(rng, n):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 10, n)
    return ["".join(rng.choice(letters, L)) for L in lens]


def _documents(rng, n_docs):
    """Random-token texts over a 4000-word vocabulary (unrelated pairs have
    5-shingle Jaccard near 0.01) plus planted near-dup clusters whose
    members differ from the base only in the last character (Jaccard above
    0.99), far from the 0.9 threshold on both sides so the MinHash banding
    finds every qualifying pair on any seed."""
    vocab = np.array(_words(rng, 4000))
    n_base = int(n_docs * DOC_CLUSTERS)
    texts = []
    while len(texts) < n_docs:
        body = " ".join(vocab[rng.integers(0, len(vocab),
                                           rng.integers(80, 140))])
        texts.append(body)
        if n_base > 0 and len(texts) + DOC_CLUSTER_SIZE - 1 <= n_docs:
            n_base -= 1
            for c in range(DOC_CLUSTER_SIZE - 1):
                texts.append(body[:-1] + "XYZ"[c])
    order = rng.permutation(n_docs)
    texts = [texts[i] for i in order]
    langs = np.array(["en", "es", "de", "fr", "zh"])
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs[rng.integers(0, 5, n_docs)], pa.string()),
        "source": pa.array(["src%d" % x for x in rng.integers(0, 20, n_docs)],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _ts(rng, n, lo, hi):
    return lo + rng.integers(0, hi - lo, n)


def gen_tables(out_dir, seed, tag, customer, orders, lines_per_order, events,
               event_users, documents, embeddings):
    """Writes one parquet file per table; returns {table: rows}."""
    rng = _rng(seed, tag)
    os.makedirs(out_dir, exist_ok=True)
    rows = {}

    def put(name, t):
        _write(t, os.path.join(out_dir, name + ".parquet"))
        rows[name] = t.num_rows

    put("region", pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(["REGION_%d" % i for i in range(5)])}))
    put("nation", pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array(["NATION_%d" % i for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())}))
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    put("customer", pa.table({
        "c_custkey": pa.array(np.arange(1, customer + 1), pa.int64()),
        "c_name": pa.array(["Customer#%d" % i
                            for i in range(1, customer + 1)]),
        "c_nationkey": pa.array(rng.integers(0, 25, customer), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, customer), 2)),
        "c_mktsegment": pa.array(segs[rng.integers(0, 5, customer)])}))
    d1995 = 788_918_400_000_000     # 1995-01-01
    d2001 = 1_004_832_000_000_000   # 2001-11-04
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"])
    put("orders", pa.table({
        "o_orderkey": pa.array(np.arange(1, orders + 1), pa.int64()),
        "o_custkey": pa.array(rng.integers(1, customer + 1, orders),
                              pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "P", "O"])[
            rng.integers(0, 3, orders)]),
        "o_totalprice": pa.array(np.round(rng.uniform(900, 500000, orders),
                                          2)),
        "o_orderdate": pa.array(_ts(rng, orders, d1995, d2001),
                                pa.timestamp("us")),
        "o_orderpriority": pa.array(prio[rng.integers(0, 5, orders)])}))
    n_li = orders * lines_per_order
    okey = np.repeat(np.arange(1, orders + 1), lines_per_order)
    put("lineitem", pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(1, 20001, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, 1001, n_li), pa.int64()),
        "l_linenumber": pa.array(np.tile(np.arange(1, lines_per_order + 1),
                                         orders), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 100000, n_li),
                                             2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["N", "A", "R"])[
            rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[
            rng.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(_ts(rng, n_li, d1995 + 86_400_000_000,
                                   d2001), pa.timestamp("us"))}))
    ev = _event_columns(rng, events, event_users, T0_US, 30 * US_PER_DAY)
    put("events", _events_table(np.arange(events), ev[0], ev[1], ev[2], ev[3],
                                ['{"k": %d}' % x for x in ev[4]]))
    put("documents", _documents(rng, documents))
    vec = rng.standard_normal((embeddings, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    put("embeddings", pa.table({
        "vec_id": pa.array(np.arange(embeddings), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, embeddings), pa.int32())}))
    return rows


def ensure_inputs(root, seed, workload):
    """Generates (once) the timed and the warm-up inputs of one workload
    for one seed under `root`; returns their directory."""
    with open(os.path.abspath(__file__), "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    # the cache is keyed by this file's contents as well, so a change to
    # the generator never reuses inputs made by an older one
    d = os.path.join(root, "seed-%d-%s" % (seed, version), workload)
    done = os.path.join(d, "_DONE")
    if os.path.exists(done):
        return d
    if workload == "batch_query_mix":
        gen_tables(os.path.join(d, "timed"), seed, 11, **TABLES)
        gen_tables(os.path.join(d, "warm"), seed, 12, **WARM_TABLES)
    else:
        gen_stream(os.path.join(d, "timed"), seed, 21, **STREAM)
        gen_stream(os.path.join(d, "warm"), seed, 22, **WARM_STREAM)
    with open(done, "w") as f:
        f.write("ok\n")
    return d
