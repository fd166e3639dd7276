"""Seeded input generator for the batch workloads.

Writes the ten tables the engine's queries read (`region nation customer
supplier part orders lineitem events documents embeddings`) as parquet,
with the same schemas and value distributions as the engine's sf0.1
fixture tables. `scale` 1.0 gives sf0.1 row counts.

Every seed gets a structure-preserving "salted copy" of one base data
set: the values come from BASE_SEED, and the run's seed draws only a key
offset (so two seeds give disjoint key ranges) and each table's row
order. Every copy thus carries the same duplicate families, graph and
join fan-outs, and the same work. Offsets for `doc_id` are a
multiple of 97 so `doc_id % 97` slices keep their structure; `vec_id` is
never offset because qe2 takes its query vectors from `vec_id < 20`.
Documents carry planted near-duplicate families (a copy of an earlier
document plus the word `dup`) and a few exact copies, so LSH candidate
work grows with the input.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The content of every copy; the run's seed only salts keys and row order.
BASE_SEED = 20240101

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast the row agg key query a scan batch").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "old", "red", "small", "green",
            "dark"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "fr", "zh", "de", "es"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]

DAY_US = 86_400_000_000
D1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
D2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us):
    return pa.array(np.asarray(us, dtype=np.int64), pa.int64()).cast(
        pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, cols, order):
    t = pa.table(cols)
    t = t.take(pa.array(order.permutation(t.num_rows)))
    pq.write_table(t, os.path.join(out, f"{name}.parquet"),
                   store_schema=False)


def generate(seed, scale, out):
    """Write every table for `seed` at `scale` into directory `out`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(BASE_SEED)   # the content
    order = np.random.default_rng(seed)      # this copy's keys and order
    off = int(order.integers(1, 1000))  # the seed's disjoint key range
    n = {k: max(1, int(round(v * scale))) for k, v in dict(
        customer=15000, supplier=1000, part=20000, orders=150000,
        lineitem=600000, events=100000, users=1500, documents=5000,
        embeddings=2000).items()}
    cust_off, supp_off, part_off = off * 10_000_000, off * 1_000_000, \
        off * 10_000_000
    order_off, event_off, doc_off = off * 100_000_000, off * 100_000_000, \
        off * 9_700_000
    user_off = off * 10_000_000

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
        order)
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())},
        order)

    c = n["customer"]
    _write(out, "customer", {
        "c_custkey": np.arange(c, dtype=np.int64) + cust_off,
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, c)]}, order)

    s = n["supplier"]
    _write(out, "supplier", {
        "s_suppkey": np.arange(s, dtype=np.int64) + supp_off,
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, s)}, order)

    p = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(out, "part", {
        "p_partkey": np.arange(p, dtype=np.int64) + part_off,
        "p_name": np.array(names)[rng.integers(0, len(names), p)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, p)],
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(p) % 1000) * 0.1, 1)},
        order)

    o = n["orders"]
    _write(out, "orders", {
        "o_orderkey": np.arange(o, dtype=np.int64) + order_off,
        "o_custkey": rng.integers(0, c, o) + cust_off,
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, o)],
        "o_totalprice": _money(rng, 1000, 500000, o),
        "o_orderdate": _ts(D1995 + rng.integers(0, 2404, o) * DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, o)]},
        order)

    li = n["lineitem"]
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, o, li) + order_off,
        "l_partkey": rng.integers(0, p, li) + part_off,
        "l_suppkey": rng.integers(0, s, li) + supp_off,
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, li)],
        "l_shipdate": _ts(D1995 + 86_400_000_000
                          + rng.integers(0, 2498, li) * DAY_US)}, order)

    e = n["events"]
    _write(out, "events", {
        "event_id": np.arange(e, dtype=np.int64) + event_off,
        "ts": _ts(np.sort(D2024 + rng.integers(0, 30 * DAY_US, e))),
        "user_id": rng.integers(0, n["users"], e) + user_off,
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, e)],
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]}, order)

    d = n["documents"]
    texts = []
    for i in range(d):
        r = rng.random()
        if i > 0 and r < 0.05:        # near-duplicate family member
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 0 and r < 0.052:     # exact copy
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(8, 96))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), k)]))
    _write(out, "documents", {
        "doc_id": np.arange(d, dtype=np.int64) + doc_off,
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, d, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}, order)

    m = n["embeddings"]
    labels = rng.integers(0, 10, m)
    cent = rng.normal(0, 0.1, (10, 64))
    vecs = (cent[labels] + rng.normal(0, 0.1, (m, 64))).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": np.arange(m, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}, order)


# The event stream. Event time runs STREAM_SPEEDUP times faster than the
# send schedule, so one wall second carries one minute of event time: the
# 1-minute tumbling windows close every second and the 2-minute watermark
# delay is two seconds of wall time.
STREAM_SPEEDUP = 60
STREAM_T0_MS = int(np.datetime64("2024-02-01", "ms").astype(np.int64))
STREAM_USERS = 2000
STREAM_ZIPF = 1.1
STREAM_TYPES = ["view", "error", "click", "purchase", "signup"]
STREAM_TYPE_P = [0.3, 0.1, 0.3, 0.15, 0.15]
REF_EPS = 4000          # reference rate: latency is measured here
OVERLOAD_EPS = 30000   # above capacity: throughput is measured here
WARM_EVENTS = 4000      # the block each set-up streams before its first batch
OOO_SHARE = 0.1         # events whose event time lags by up to OOO_MAX_MS
OOO_MAX_MS = 30_000
DUP_SHARE = 0.03        # events delivered twice, up to DUP_LAG_MS later
DUP_LAG_MS = 400
REORDER_MS = OOO_MAX_MS // STREAM_SPEEDUP + DUP_LAG_MS  # CEP feed delay
LATE_EVENTS = 40        # planted behind the watermark, one per late user
LATE_USER0 = 1_000_000_000


def stream_phases(seconds):
    """(reference, overload) phase lengths in ms for a run of `seconds`."""
    ref = int(round(seconds * 600))
    return ref, int(round(seconds * 1000)) - ref


def stream_log(seed, seconds, out):
    """Write the seeded event log of one stream-ingest run to
    `out/events.parquet`.

    Columns: the event (event_id, ts, user_id, event_type, value), its send
    time `due_ms` after the start of the measured stream (phase 1 runs
    for the first 60% of the run, phase 2 for the rest), `cep_due_ms`
    (below),
    `phase` (0 the set-up warm block, 1 reference rate, 2 overload) and
    `kind` (0 first delivery, 1 duplicate delivery, 2 planted late). User
    keys are zipf-skewed. Event time is the send time scaled by
    STREAM_SPEEDUP, minus a lag of up to 30 s for the out-of-order share.
    Late events carry an event time one hour behind their send time, far
    behind any watermark the engine can hold, and a user of their own, so
    each one is its own window group.

    `Cep.matchStream` assumes in-order delivery across micro-batches (its
    scaladoc; Flink's CEP gets the same from ascending-timestamp sources),
    so the CEP query reads the same events through a bounded reorder
    stage: each one is sent at `cep_due_ms`, once the send clock has passed
    its event time by the disorder bound (30 s out-of-order lag plus the
    400 ms duplicate lag). That is never before its `due_ms`, and the
    order is event-time order. Late events are sent to it as they come.
    """
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    ref_ms, over_ms = stream_phases(seconds)
    w = 1.0 / np.arange(1, STREAM_USERS + 1) ** STREAM_ZIPF
    users = rng.permutation(STREAM_USERS)  # which key is hot varies by seed
    cols = {k: [] for k in ("event_id", "due_ms", "cep_due_ms", "ts_ms",
                            "user_id",
                            "event_type", "value", "phase", "kind")}
    next_id = 0

    def emit(phase, n, start_ms, span_ms, t0_ms):
        """n events sent from start_ms over span_ms, event time t0_ms plus
        the send time scaled, less the out-of-order lag."""
        nonlocal next_id
        due = start_ms + np.sort(rng.integers(0, max(span_ms, 1), n))
        ts = t0_ms + due * STREAM_SPEEDUP
        ooo = rng.random(n) < OOO_SHARE
        ts = ts - np.where(ooo, rng.integers(0, OOO_MAX_MS, n), 0)
        ids = np.arange(next_id, next_id + n)
        next_id += n
        uid = users[rng.choice(STREAM_USERS, n, p=w / w.sum())]
        typ = rng.choice(len(STREAM_TYPES), n, p=STREAM_TYPE_P)
        val = np.round(rng.exponential(50.0, n), 2)
        dup = rng.random(n) < DUP_SHARE
        for extra, kind in ((np.ones(n, bool), 0), (dup, 1)):
            lag = rng.integers(0, DUP_LAG_MS, n) if kind else np.zeros(n, int)
            sel = extra & (due + lag < start_ms + span_ms) if kind else extra
            cols["event_id"].append(ids[sel])
            cols["due_ms"].append((due + lag)[sel])
            cols["ts_ms"].append(ts[sel])
            cols["cep_due_ms"].append(
                ((ts[sel] - t0_ms) // STREAM_SPEEDUP + REORDER_MS)
                if phase else (due + lag)[sel])
            cols["user_id"].append(uid[sel].astype(np.int64))
            cols["event_type"].append(typ[sel])
            cols["value"].append(val[sel])
            cols["phase"].append(np.full(sel.sum(), phase))
            cols["kind"].append(np.full(sel.sum(), kind))

    emit(0, WARM_EVENTS, 0, 1, STREAM_T0_MS - 86_400_000)
    emit(1, REF_EPS * ref_ms // 1000, 0, ref_ms, STREAM_T0_MS)
    emit(2, OVERLOAD_EPS * over_ms // 1000, ref_ms, over_ms, STREAM_T0_MS)

    # Late events: spread over the last two thirds of the reference phase.
    # The harness holds them back until every query has committed two
    # batches with data, so the engine holds a watermark to drop them by.
    due = np.sort(rng.integers(ref_ms // 3, ref_ms, LATE_EVENTS))
    cols["event_id"].append(np.arange(next_id, next_id + LATE_EVENTS))
    cols["due_ms"].append(due)
    cols["cep_due_ms"].append(due)
    cols["ts_ms"].append(STREAM_T0_MS + due * STREAM_SPEEDUP - 3_600_000)
    cols["user_id"].append(LATE_USER0 + np.arange(LATE_EVENTS))
    cols["event_type"].append(np.arange(LATE_EVENTS) % 2 * 2)  # view, click
    cols["value"].append(np.round(rng.exponential(50.0, LATE_EVENTS), 2))
    cols["phase"].append(np.full(LATE_EVENTS, 1))
    cols["kind"].append(np.full(LATE_EVENTS, 2))

    c = {k: np.concatenate(v) for k, v in cols.items()}
    order = np.lexsort((c["event_id"], c["due_ms"], c["phase"]))
    t = pa.table({
        "event_id": c["event_id"][order].astype(np.int64),
        "ts": pa.array(c["ts_ms"][order].astype(np.int64), pa.int64())
        .cast(pa.timestamp("ms")).cast(pa.timestamp("us")),
        "user_id": c["user_id"][order].astype(np.int64),
        "event_type": np.array(STREAM_TYPES)[c["event_type"][order]],
        "value": c["value"][order].astype(np.float64),
        "due_ms": c["due_ms"][order].astype(np.int64),
        "cep_due_ms": c["cep_due_ms"][order].astype(np.int64),
        "phase": pa.array(c["phase"][order], pa.int32()),
        "kind": pa.array(c["kind"][order], pa.int32()),
    })
    pq.write_table(t, os.path.join(out, "events.parquet"), store_schema=False)
    # the same rows as text, for the generator to load without a session,
    # after a header line with the two phase lengths
    with open(os.path.join(out, "events.tsv"), "w") as fh:
        fh.write(f"#{ref_ms}\t{over_ms}\n")
        for r in zip(c["event_id"][order], c["ts_ms"][order],
                     c["user_id"][order], c["event_type"][order],
                     c["value"][order], c["due_ms"][order],
                     c["cep_due_ms"][order], c["phase"][order],
                     c["kind"][order]):
            fh.write("\t".join(map(str, r)) + "\n")


def digest(out):
    """One hash over the row content of every table in `out`."""
    h = hashlib.sha256()
    for f in sorted(os.listdir(out)):
        if f.endswith(".parquet"):
            h.update(f.encode())
            h.update(str(pq.read_table(os.path.join(out, f))
                         .to_pydict()).encode())
    return h.hexdigest()
