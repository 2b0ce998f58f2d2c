"""Seeded input generator for the benchmark.

Writes the ten harness tables (the schemas of FIXTURES.md section B) at
`scale` times the sf0.1 row counts, plus the ingest event feed. The same
(seed, scale) always produces byte-identical parquet, and `checksum`
proves it: two runs on one seed saw the same data.

Keys run from 0 and foreign keys are drawn uniformly, the value
distributions follow the sf0.1 tables (perfbench/README.md lists the
figures measured on them). `region` and `nation` are fixed.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the sf0.1 tables the base copy mirrors.
BASE = {
    "customer": 15_000, "supplier": 1_000, "part": 20_000,
    "orders": 150_000, "lineitem": 600_000, "events": 100_000,
    "documents": 5_000, "embeddings": 2_000,
}
USERS = 1_500  # distinct events.user_id in sf0.1

VOCAB = np.array(
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window".split())
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
ADJ = np.array(["blue", "old", "red", "large", "hot", "cold", "small", "new"])
NOUN = np.array(["widget", "gizmo", "bolt", "plate", "rod", "anvil", "ring", "gear"])
PTYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]

DAY_MS = 86_400_000
EPOCH_1995_MS = 788_918_400_000     # 1995-01-01
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01
EVENT_SPAN_US = 30 * DAY_MS * 1000
EVENT_VALUE_MEAN = 50.0  # sf0.1 events.value: mean 49.9, sd 49.6

# The ingest feed. sf0.1's events have no re-sent ids, no late rows and
# no key skew, so these shares are assumptions of the benchmark, chosen
# to exercise dedup, the watermark and repeated upserts of one key; they
# are not measured traffic.
FEED_BATCHES = 2
DUP_SHARE = 0.05    # exact re-sends of an event_id from the same or previous batch
LATE_SHARE = 0.02   # fresh event_ids stamped 2-24 h before their batch opens
HOT_SHARE = 0.30    # rows re-keyed onto the hot users
HOT_USERS = 0.05    # the hot users' share of all users
WATERMARK_US = 30 * 60 * 1_000_000  # EventStream.dedupEvents' default delay


def _rng(seed, *stream):
    return np.random.default_rng([seed, *stream])


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _ts_ms(ms):
    return pa.array(ms.astype("datetime64[ms]"), pa.timestamp("ms"))


def _rows(name, scale):
    return max(1, round(BASE[name] * scale))


def users(scale):
    return max(1, round(USERS * scale))


def _columns(name, seed, scale):
    """The columns of table `name`, drawn from its own seeded stream."""
    r = _rng(seed, hash_name(name))
    n = _rows(name, scale)
    if name == "customer":
        k = np.arange(n)
        return {
            "c_custkey": k,
            "c_name": np.char.add("Customer#", np.char.zfill(k.astype(str), 9)),
            "c_nationkey": r.integers(0, 25, n).astype(np.int32),
            "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n), 2),
            "c_mktsegment": SEGMENTS[r.integers(0, 5, n)],
        }
    if name == "supplier":
        k = np.arange(n)
        return {
            "s_suppkey": k,
            "s_name": np.char.add("Supplier#", np.char.zfill(k.astype(str), 9)),
            "s_nationkey": r.integers(0, 25, n).astype(np.int32),
            "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n), 2),
        }
    if name == "part":
        k = np.arange(n)
        return {
            "p_partkey": k,
            "p_name": np.char.add(np.char.add(ADJ[r.integers(0, 8, n)], " "),
                                  NOUN[r.integers(0, 8, n)]),
            "p_brand": np.char.add("Brand#", r.integers(1, 26, n).astype(str)),
            "p_type": PTYPES[r.integers(0, 6, n)],
            "p_size": r.integers(1, 51, n).astype(np.int32),
            "p_retailprice": np.round(900.0 + (k % 1000) * 0.1, 1),
        }
    if name == "orders":
        k = np.arange(n)
        return {
            "o_orderkey": k,
            "o_custkey": r.integers(0, _rows("customer", scale), n),
            "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n)],
            "o_totalprice": np.round(r.uniform(1000.0, 500000.0, n), 2),
            "o_orderdate": EPOCH_1995_MS + r.integers(0, 2404, n) * DAY_MS,
            "o_orderpriority": PRIORITIES[r.integers(0, 5, n)],
        }
    if name == "lineitem":
        return {
            "l_orderkey": r.integers(0, _rows("orders", scale), n),
            "l_partkey": r.integers(0, _rows("part", scale), n),
            "l_suppkey": r.integers(0, _rows("supplier", scale), n),
            "l_linenumber": r.integers(1, 8, n).astype(np.int32),
            "l_quantity": r.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": np.round(r.uniform(900.0, 105000.0, n), 2),
            "l_discount": r.integers(0, 11, n) / 100.0,
            "l_tax": r.integers(0, 9, n) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n)],
            "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n)],
            "l_shipdate": EPOCH_1995_MS + DAY_MS + r.integers(0, 2499, n) * DAY_MS,
        }
    if name == "events":
        ts = np.sort(r.choice(EVENT_SPAN_US, n, replace=False)) + EPOCH_2024_US
        return {
            "event_id": np.arange(n),
            "ts": ts,
            "user_id": r.integers(0, users(scale), n),
            "event_type": EVENT_TYPES[r.integers(0, 5, n)],
            "value": np.round(r.exponential(EVENT_VALUE_MEAN, n), 2),
            "props": np.char.add(np.char.add('{"k": ', r.integers(0, 100, n).astype(str)), "}"),
        }
    if name == "documents":
        lens = r.integers(10, 101, n)
        words = VOCAB[r.integers(0, len(VOCAB), int(lens.sum()))]
        bounds = np.concatenate([[0], np.cumsum(lens)])
        texts = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n)]
        # 5 % near-duplicates: a span of an earlier document plus a
        # trailing marker word, so the span-level dedup queries find
        # real shared runs.
        for i in np.flatnonzero(r.random(n) < 0.05):
            if i == 0:
                continue
            src = texts[int(r.integers(0, i))].split(" ")
            lo = int(r.integers(0, max(1, len(src) - 8)))
            hi = int(r.integers(min(len(src), lo + 8), len(src) + 1))
            texts[i] = " ".join(src[lo:hi] + ["dup"])
        texts = np.array(texts)
        return {
            "doc_id": np.arange(n),
            "text": texts,
            "lang": LANGS[r.choice(5, n, p=LANG_P)],
            "source": np.char.add("src", ((np.arange(n)) % 20).astype(str)),
            "n_chars": np.char.str_len(texts).astype(np.int64),
        }
    if name == "embeddings":
        return {
            "vec_id": np.arange(n),
            "embedding": r.normal(0.0, 0.125, (n, 64)).astype(np.float32),
            "label": r.integers(0, 10, n).astype(np.int32),
        }
    raise ValueError(name)


def hash_name(name):
    return int.from_bytes(hashlib.sha256(name.encode()).digest()[:4], "little")


def _arrow(name, cols):
    out = {}
    for k, v in cols.items():
        if k in ("o_orderdate", "l_shipdate"):
            out[k] = _ts_ms(v)
        elif k == "ts":
            out[k] = pa.array((v * 1000).astype("datetime64[ns]"), pa.timestamp("ns"))
        elif k == "embedding":
            out[k] = pa.FixedSizeListArray.from_arrays(pa.array(v.reshape(-1)), 64).cast(
                pa.list_(pa.float32()))
        else:
            out[k] = pa.array(v)
    return pa.table(out)


def _concat(parts):
    return {k: np.concatenate([p[k] for p in parts]) for k in parts[0]}


def tables(out, seed, scale, names, clustered=False):
    """Write the named tables under `out`; return their row counts.

    `clustered` stores `lineitem` in `l_orderkey` order, the order TPC-H's
    own generator emits it in (the other tables are already in key order).
    """
    os.makedirs(out, exist_ok=True)
    rows = {}
    if "region" in names:
        rows["region"] = 5
        _write(pa.table({"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                         "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
               f"{out}/region.parquet")
    if "nation" in names:
        rows["nation"] = 25
        _write(pa.table({"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                         "n_name": [f"NATION_{i}" for i in range(25)],
                         "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}),
               f"{out}/nation.parquet")
    for name in (n for n in BASE if n in names):
        cols = _columns(name, seed, scale)
        if clustered and name == "lineitem":
            order = np.lexsort((cols["l_linenumber"], cols["l_orderkey"]))
            cols = {k: v[order] for k, v in cols.items()}
        _write(_arrow(name, cols), f"{out}/{name}.parquet")
        rows[name] = len(next(iter(cols.values())))
    return rows


def feed(out, seed, scale):
    """Write the ingest feed as FEED_BATCHES parquet files under `out`.

    Built from the scaled `events` rows: user keys skewed onto a hot set,
    rows cut into contiguous event-time batches, then exact re-sends and
    late rows mixed in. Returns the feed's row count.
    """
    ev = _columns("events", seed, scale)
    order = np.argsort(ev["ts"], kind="stable")
    ev = {k: v[order] for k, v in ev.items()}
    r = _rng(seed, hash_name("feed"))
    n = len(ev["ts"])
    n_users = users(scale)
    hot = r.random(n) < HOT_SHARE
    n_hot = max(1, round(n_users * HOT_USERS))
    ev["user_id"] = np.where(hot, r.integers(0, n_hot, n), ev["user_id"])
    cut = np.linspace(0, n, FEED_BATCHES + 1).astype(int)
    os.makedirs(out, exist_ok=True)
    next_id = int(ev["event_id"].max()) + 1
    total = 0
    prev = None
    for b in range(FEED_BATCHES):
        cur = {k: v[cut[b]:cut[b + 1]] for k, v in ev.items()}
        m = len(cur["ts"])
        parts = [cur]
        n_dup = int(m * DUP_SHARE)
        if n_dup:
            pool = cur if prev is None else _concat([prev, cur])
            pick = r.integers(0, len(pool["ts"]), n_dup)
            parts.append({k: v[pick] for k, v in pool.items()})
        n_late = int(m * LATE_SHARE) if b > 0 else 0
        if n_late:
            opened = int(cur["ts"].min())
            parts.append({
                "event_id": np.arange(next_id, next_id + n_late),
                "ts": opened - r.integers(2 * 3600, 24 * 3600, n_late) * 1_000_000
                - r.integers(0, 1_000_000, n_late),
                "user_id": r.integers(0, n_users, n_late),
                "event_type": EVENT_TYPES[r.integers(0, 5, n_late)],
                "value": np.round(r.exponential(EVENT_VALUE_MEAN, n_late), 2),
                "props": np.full(n_late, '{"k": 0}'),
            })
            next_id += n_late
        batch = _concat(parts)
        shuffle = r.permutation(len(batch["ts"]))
        batch = {k: v[shuffle] for k, v in batch.items()}
        t = pa.table({
            "event_id": pa.array(batch["event_id"]),
            "ts": pa.array(batch["ts"].astype("datetime64[us]"), pa.timestamp("us", tz="UTC")),
            "user_id": pa.array(batch["user_id"]),
            "event_type": pa.array(batch["event_type"]),
            "value": pa.array(batch["value"]),
            "props": pa.array(batch["props"]),
        })
        _write(t, f"{out}/batch={b}.parquet")
        total += len(t)
        prev = cur
    return total


def feed_model(feed_dir):
    """Silver's expected final state: latest row per user_id of the
    deduplicated feed, as `EventStream.dedupEvents` then
    `SnapshotStream.upsertBatch(keyCol=user_id, orderCol=ts)` define it.

    A row survives dedup unless its event_id was already delivered or its
    event time is at or below the watermark (the max event time of all
    earlier batches minus the delay). Upserts replace a user's row with
    the latest-ts row of the latest batch that carries the user.
    """
    import pandas as pd
    seen = set()
    max_ts = None
    kept = []
    for b in range(FEED_BATCHES):
        df = pd.read_parquet(f"{feed_dir}/batch={b}.parquet")
        us = df["ts"].astype("int64") // 1000  # ns -> us
        wm = None if max_ts is None else max_ts - WATERMARK_US
        live = np.ones(len(df), bool) if wm is None else (us > wm).to_numpy()
        df = df[live].drop_duplicates("event_id")
        df = df[~df["event_id"].isin(seen)]
        seen.update(df["event_id"].tolist())
        batch_max = int(us.max())
        max_ts = batch_max if max_ts is None else max(max_ts, batch_max)
        df = df.assign(_batch=b)
        kept.append(df)
    allr = pd.concat(kept)
    allr = allr.sort_values(["user_id", "_batch", "ts"])
    return allr.groupby("user_id", as_index=False).tail(1).drop(columns="_batch")


def checksum(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]
