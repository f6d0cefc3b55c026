"""Seeded generators for the benchmark's parquet inputs.

`write_ticks` writes the `ref_ticks` feed: per scenario a random walk of
mids evenly spaced over 12 h. It is the walk of
`graft.sim.TickReplay.syntheticTicks` (the same java.util.Random stream,
start price, step and time grid), so seed 0 reproduces it exactly; other
seeds shift every scenario's RNG seed.

The tables have the schemas of the project's star-schema test tables
(`region nation customer supplier part orders lineitem events documents
embeddings`, one parquet file each, naive microsecond timestamps as written
by pandas/pyarrow) and the same kind of value distributions: uniform keys
and measures, a 30-day event stream with JSON props, random-word documents
with a share of exact and near duplicates, and unit-norm labelled
embeddings. The same seed always writes the same bytes.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
EVENT_TYPES = ["signup", "click", "error", "purchase", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]

# Row counts of the sf0.1 shape; other scales multiply these.
SF01_ROWS = dict(customer=15000, supplier=1000, part=20000, orders=150000,
                 lineitem=600000, events=100000, documents=5000,
                 embeddings=2000)
SF01_USERS = 1500


_LCG_MUL, _LCG_ADD, _LCG_MASK = 0x5DEECE66D, 0xB, (1 << 48) - 1
TICKS_START_MS = 1700000000000


def java_random_states(seeds, n):
    """The first `n` internal states of `java.util.Random(seed)` for each
    seed, shape (len(seeds), n). Uses the LCG's jump-ahead form
    s[k] = A_k * s[0] + C_k (mod 2^48); uint64 products wrap mod 2^64,
    which is exact mod 2^48."""
    m64 = np.uint64(_LCG_MASK)
    s0 = (np.asarray(seeds, dtype=np.uint64) ^ np.uint64(_LCG_MUL)) & m64
    a = np.empty(n, dtype=np.uint64)
    c = np.empty(n, dtype=np.uint64)
    a[0], c[0] = _LCG_MUL, _LCG_ADD
    done = 1
    with np.errstate(over="ignore"):
        while done < n:
            k = min(done, n - done)
            a[done:done + k] = (a[:k] * a[done - 1]) & m64
            c[done:done + k] = (a[:k] * c[done - 1] + c[:k]) & m64
            done += k
        return (s0[:, None] * a[None, :] + c[None, :]) & m64


def write_ticks(out_dir, seed, scenarios=40, per_scenario=37406):
    """One parquet file per scenario with (symbol, ts_ms, mid)."""
    os.makedirs(out_dir, exist_ok=True)
    seeds = [1000 + s + seed * 1000003 for s in range(scenarios)]
    # Each tick draws two nextDouble()s (mid step, spread): 4 LCG states.
    st = java_random_states(seeds, 4 * per_scenario)
    hi = (st[:, 0::4] >> np.uint64(22)).astype(np.int64)
    lo = (st[:, 1::4] >> np.uint64(21)).astype(np.int64)
    steps = (((hi << 27) + lo) * 2.0 ** -53 - 0.5) * 0.02
    step_ms = (12 * 3600 * 1000) // per_scenario
    ts = TICKS_START_MS + np.arange(per_scenario, dtype=np.int64) * step_ms
    for s in range(scenarios):
        mid = np.cumsum(np.concatenate([[150.0 + s], steps[s]]))[1:]
        _write(out_dir, f"part-{s:05d}", {
            "symbol": pa.array([f"USDJPY_{s:02d}"] * per_scenario),
            "ts_ms": pa.array(ts), "mid": pa.array(mid)})


def _ts(days_from_epoch):
    return pa.array((np.asarray(days_from_epoch) * 86400e6).astype("int64"),
                    type=pa.timestamp("us"))


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def events_table(rng, rows, users):
    """30 days of events from Jan 1 2024; event_id follows (ts) order."""
    start = 19723.0  # 2024-01-01 in days since the epoch
    ts = np.sort(start + rng.uniform(0, 30, rows))
    return {
        "event_id": pa.array(np.arange(rows, dtype="int64")),
        "ts": pa.array((ts * 86400e6).astype("int64"), type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, rows, dtype="int64")),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, rows)]),
        "value": pa.array(np.round(rng.exponential(50.0, rows), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, rows)]),
    }


# The backtest reads an event's `value` as a mid and quotes it with a 0.005
# half spread; at this floor every quote passes the 5% spread limit of
# `Backtest.prepareMount`'s bad-quote gate.
MIN_MID = 0.25


def write_events(out_dir, seed, rows=SF01_ROWS["events"], users=SF01_USERS):
    """The backtest feed: an events table whose values are floored at
    MIN_MID. Unfloored, about one seed in a hundred gives some user enough
    near-zero values for the quality gate to refuse the whole feed."""
    os.makedirs(out_dir, exist_ok=True)
    cols = events_table(np.random.default_rng(seed), rows, users)
    cols["value"] = pa.array(np.maximum(cols["value"].to_numpy(), MIN_MID))
    _write(out_dir, "events", cols)


def _documents(rng, n):
    texts = []
    for i in range(n):
        r = rng.random()
        if i >= 10 and r < 0.05:      # near duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i >= 10 and r < 0.052:   # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, 30, k)))
    return {
        "doc_id": pa.array(np.arange(n, dtype="int64")),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
    }


def _embeddings(rng, n, dim=64, labels=10):
    centers = rng.normal(0, 1, (labels, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, labels, n)
    vecs = 0.22 * centers[label] + rng.normal(0, 0.12, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(n, dtype="int64")),
        "embedding": pa.array(list(vecs.astype("float32")),
                              type=pa.list_(pa.float32())),
        "label": pa.array(label.astype("int32")),
    }


def write_star_schema(out_dir, seed, scale=1.0):
    """All ten tables at `scale` × the sf0.1 row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = {k: max(1, int(v * scale)) for k, v in SF01_ROWS.items()}
    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype="int32")),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype="int32")),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype("int32"))})
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n["customer"], dtype="int64")),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n["customer"])]),
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]).astype("int32")),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n["customer"])),
        "c_mktsegment": pa.array([segs[i] for i in rng.integers(0, 5, n["customer"])])})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n["supplier"], dtype="int64")),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n["supplier"])]),
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]).astype("int32")),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n["supplier"]))})
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    types = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
    np_ = n["part"]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(np_, dtype="int64")),
        "p_name": pa.array([f"{adj[a]} {noun[b]}" for a, b in zip(
            rng.integers(0, 8, np_), rng.integers(0, 8, np_))]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, np_)]),
        "p_type": pa.array([types[i] for i in rng.integers(0, 6, np_)]),
        "p_size": pa.array(rng.integers(1, 51, np_).astype("int32")),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(np_) % 1000) * 0.1, 2))})
    no = n["orders"]
    day0 = 9131.0  # 1995-01-01
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(no, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, n["customer"], no, dtype="int64")),
        "o_orderstatus": pa.array([["F", "O", "P"][i] for i in rng.integers(0, 3, no)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
        "o_orderdate": _ts(day0 + rng.integers(0, 2404, no)),
        "o_orderpriority": pa.array([["1-URGENT", "2-HIGH", "3-MEDIUM",
                                      "4-NOT SPECIFIED", "5-LOW"][i]
                                     for i in rng.integers(0, 5, no)])})
    nl = n["lineitem"]
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(np.sort(rng.integers(0, no, nl, dtype="int64"))),
        "l_partkey": pa.array(rng.integers(0, np_, nl, dtype="int64")),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl, dtype="int64")),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype("int32")),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype("float64")),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array([["A", "N", "R"][i] for i in rng.integers(0, 3, nl)]),
        "l_linestatus": pa.array([["F", "O"][i] for i in rng.integers(0, 2, nl)]),
        "l_shipdate": _ts(day0 + 1 + rng.integers(0, 2498, nl))})
    users = max(1, int(SF01_USERS * scale))
    _write(out_dir, "events", events_table(rng, n["events"], users))
    _write(out_dir, "documents", _documents(rng, n["documents"]))
    _write(out_dir, "embeddings", _embeddings(rng, n["embeddings"]))
