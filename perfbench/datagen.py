"""Seeded input generators for the benchmark workloads.

Everything here runs on the driver with numpy + pyarrow and writes
parquet files; the engine under test only ever sees those files. The
seed picks keys and values, never the shape: row counts, column sets
and the batch mix below are constants, so two seeds give workloads of
the same size and composition.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FEATURES = ["feature_1", "feature_2", "feature_3", "feature_4"]
PAYLOAD = FEATURES + ["score"]


@dataclass(frozen=True)
class BatchMix:
    """Composition of one keyed change batch (fractions of its distinct keys)."""
    rows: int                 # distinct keys per batch
    existing: float           # keys already in the table (update path)
    dup: float                # extra rows re-sending a batch key with a later seq
    null: float               # per-cell NULL probability of each feature column


# upsert_rounds: the paper's bulk-upsert shape
UPSERT_BASE_ROWS = 50_000
UPSERT_MIX = BatchMix(rows=5_000, existing=0.6, dup=0.02, null=0.15)

# lsm_serve: range-layout table read beside small partial-update deltas
LSM_BASE_ROWS = 50_000
LSM_GROUPS = 100
LSM_MIX = BatchMix(rows=500, existing=0.8, dup=0.0, null=0.5)
LSM_RECENT_SHARE = 0.2        # existing delta keys are drawn from the newest 20% ...
LSM_RECENT_WEIGHT = 0.8       # ... with this probability (recency skew)

# analytics_catalog: TPC-H-shaped star schema + documents + embeddings
TPCH_ROWS = {"customer": 1_500, "orders": 15_000, "lineitem": 60_000,
             "documents": 500, "embeddings": 500}
EMBED_DIM = 64

# stream_state: the events feed
EVENT_ROWS = 10_000
EVENT_USERS = 150


def key_str(ids: np.ndarray) -> list[str]:
    return [f"id-{int(i):012d}" for i in ids]


def _write(table: pa.Table, path: str) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return os.path.getsize(path)


def _features(rng: np.random.Generator, n: int, null: float,
              score: np.ndarray | None = None) -> dict:
    cols = {}
    for c in FEATURES:
        v = np.round(rng.random(n), 6)
        mask = rng.random(n) < null
        cols[c] = pa.array(v, mask=mask, type=pa.float64())
    if score is None:
        score = rng.random(n)
    cols["score"] = pa.array(np.round(score, 6), type=pa.float64())
    return cols


def key_ordered_score(rng: np.random.Generator, ids: np.ndarray, span: int) -> np.ndarray:
    """Scores that rise with the key (plus 10% noise), so a range layout
    clustered on the key also clusters `score` and its zone map prunes."""
    return np.minimum(np.asarray(ids) / span, 1.0) * 0.9 + 0.1 * rng.random(len(ids))


def change_batch(rng: np.random.Generator, live: np.ndarray, next_new: np.ndarray,
                 mix: BatchMix, seq0: int, *, recent_share: float = 0.0,
                 recent_weight: float = 0.0, extra: dict | None = None,
                 score_span: int | None = None):
    """One keyed change batch as an arrow table plus the counts it implies.

    `live` is the sorted array of key ids already in the table; new key
    ids are taken from the front of `next_new`. Duplicate rows repeat a
    batch key with a higher `seq`, so latest-per-key keeps them.
    Returns (table, n_existing, n_new, new_ids)."""
    n_exist = int(round(mix.rows * mix.existing))
    n_new = mix.rows - n_exist
    if recent_share > 0:
        cut = int(len(live) * (1 - recent_share))
        n_recent = int(round(n_exist * recent_weight))
        old = rng.choice(live[:cut], n_exist - n_recent, replace=False)
        new = rng.choice(live[cut:], n_recent, replace=False)
        exist_ids = np.concatenate([old, new])
    else:
        exist_ids = rng.choice(live, n_exist, replace=False)
    new_ids = next_new[:n_new]
    ids = np.concatenate([exist_ids, new_ids])
    n_dup = int(round(mix.rows * mix.dup))
    ids = np.concatenate([ids, rng.choice(ids, n_dup, replace=False)])
    n = len(ids)
    cols = {"_id": pa.array(key_str(ids), type=pa.string()),
            "seq": pa.array(np.arange(seq0, seq0 + n, dtype=np.int64))}
    score = key_ordered_score(rng, ids, score_span) if score_span else None
    cols.update(_features(rng, n, mix.null, score))
    for name, fn in (extra or {}).items():
        cols[name] = fn(ids)
    perm = rng.permutation(n)
    table = pa.table(cols).take(pa.array(perm))
    return table, n_exist, n_new, new_ids


def new_key_pool(rng: np.random.Generator, base_rows: int, n: int) -> np.ndarray:
    """`n` distinct fresh key ids above the base range, in increasing order
    so the newest keys are also the largest (recency = key order)."""
    gaps = rng.integers(1, 4, size=n)
    return base_rows + np.cumsum(gaps)


def upsert_batches(seed: int, out_dir: str, base_rows: int, rounds: int,
                   mix: BatchMix = UPSERT_MIX) -> tuple[list[dict], int]:
    """Write `rounds` change batches for a table whose base holds key ids
    0..base_rows-1. Returns per-round {path, matched, upserted,
    untouched} and the total bytes written."""
    rng = np.random.default_rng([seed, 1])
    live = np.arange(base_rows)
    pool = new_key_pool(rng, base_rows, mix.rows * rounds)
    out, total = [], 0
    for r in range(rounds):
        n_live = len(live)
        table, n_exist, n_new, new_ids = change_batch(
            rng, live, pool, mix, seq0=r * 1_000_000)
        pool = pool[n_new:]
        path = os.path.join(out_dir, f"round_{r:03d}.parquet")
        total += _write(table, path)
        out.append({"path": path, "rows": table.num_rows,
                    "matched": n_exist, "upserted": n_new,
                    "untouched": n_live - n_exist})
        live = np.union1d(live, new_ids)
    return out, total


def group_of(ids: np.ndarray) -> pa.Array:
    """Deterministic group column for the lsm_serve view."""
    return pa.array((np.asarray(ids) * 7919 % LSM_GROUPS).astype(np.int64))


def lsm_inputs(seed: int, out_dir: str, base_rows: int, n_deltas: int,
               mix: BatchMix = LSM_MIX) -> tuple[str, list[dict], int]:
    """Base parquet (key, features, score, grp) plus partial-update deltas
    favouring recent keys. A delta may move a key to another group."""
    rng = np.random.default_rng([seed, 2])
    ids = np.arange(base_rows)
    base = {"_id": pa.array(key_str(ids), type=pa.string())}
    base.update(_features(rng, base_rows, 0.0,
                          key_ordered_score(rng, ids, base_rows)))
    base["grp"] = group_of(ids)
    base_path = os.path.join(out_dir, "base.parquet")
    total = _write(pa.table(base), base_path)

    def moved_group(k):
        g = np.asarray(group_of(k).to_numpy()) + (rng.random(len(k)) < 0.1)
        return pa.array(g % LSM_GROUPS, type=pa.int64())

    live = ids
    pool = new_key_pool(rng, base_rows, mix.rows * n_deltas)
    deltas = []
    for d in range(n_deltas):
        table, n_exist, n_new, new_ids = change_batch(
            rng, live, pool, mix, seq0=d * 1_000_000,
            recent_share=LSM_RECENT_SHARE, recent_weight=LSM_RECENT_WEIGHT,
            extra={"grp": moved_group}, score_span=base_rows)
        pool = pool[n_new:]
        path = os.path.join(out_dir, f"delta_{d:03d}.parquet")
        total += _write(table, path)
        new_keys = set(key_str(new_ids))
        updated = set(table.column("_id").to_pylist()) - new_keys
        deltas.append({"path": path, "rows": table.num_rows,
                       "updated": sorted(updated), "new": sorted(new_keys)})
        live = np.union1d(live, new_ids)
    return base_path, deltas, total


# --- analytics tables --------------------------------------------------

_EPOCH = dt.datetime(1970, 1, 1)


def _days(rng, lo: dt.date, hi: dt.date, n: int) -> pa.Array:
    lo_d, hi_d = (dt.datetime.combine(d, dt.time()) for d in (lo, hi))
    span = (hi_d - lo_d).days
    d = rng.integers(0, span + 1, size=n)
    us = ((lo_d - _EPOCH).days + d).astype(np.int64) * 86_400_000_000
    return pa.array(us, type=pa.timestamp("us"))


_WORDS = ("key agg row scan slow fast table value part hash merge batch "
          "spark the line sort window a data column join small customer "
          "query order group filter stream big vector").split()


def _doc_texts(rng, n: int) -> list[str]:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i >= 10 and r < 0.08:           # exact copy of an earlier doc
            texts.append(texts[rng.integers(0, i)])
        elif i >= 10 and r < 0.16:         # near copy: two words replaced
            words = texts[rng.integers(0, i)].split()
            for j in rng.choice(len(words), 2, replace=False):
                words[j] = _WORDS[rng.integers(0, len(_WORDS))]
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(20, 80))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), k)))
    return texts


def analytics_tables(seed: int, out_dir: str,
                     rows: dict[str, int] = TPCH_ROWS) -> tuple[int, int]:
    """customer / orders / lineitem / documents / embeddings in the
    shapes the catalog loaders declare (`schemas.TESTDATA_SCHEMAS`).
    Returns (rows, bytes) written."""
    rng = np.random.default_rng([seed, 3])
    n_c, n_o, n_l = rows["customer"], rows["orders"], rows["lineitem"]
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_c, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_c)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_c).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_c), 2)),
        "c_mktsegment": pa.array(segs[rng.integers(0, 5, n_c)].tolist()),
    })
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_o, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_c, n_o).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_o)].tolist()),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_o), 2)),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_o),
        "o_orderpriority": pa.array(prio[rng.integers(0, 5, n_o)].tolist()),
    })
    qty = rng.integers(1, 51, n_l).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_o, n_l).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, 2000, n_l).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, 100, n_l).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_l).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_l), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_l) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_l) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_l)].tolist()),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_l)].tolist()),
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_l),
    })
    n_d = rows["documents"]
    texts = _doc_texts(rng, n_d)
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_d, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs[rng.integers(0, len(langs), n_d)].tolist()),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_d)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    n_e = rows["embeddings"]
    labels = rng.integers(0, 10, n_e)
    centers = rng.normal(0, 0.15, (10, EMBED_DIM))
    vecs = (centers[labels] + rng.normal(0, 0.1, (n_e, EMBED_DIM))).astype(np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n_e, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    n_rows = n_bytes = 0
    for name, t in (("customer", customer), ("orders", orders),
                    ("lineitem", lineitem), ("documents", documents),
                    ("embeddings", embeddings)):
        n_bytes += _write(t, os.path.join(out_dir, f"{name}.parquet"))
        n_rows += t.num_rows
    return n_rows, n_bytes


def events_table(seed: int, out_dir: str, n: int = EVENT_ROWS,
                 users: int = EVENT_USERS) -> tuple[int, int]:
    """The events feed: ascending µs timestamps over one month."""
    rng = np.random.default_rng([seed, 4])
    start = int((dt.datetime(2024, 1, 1) - _EPOCH).total_seconds()) * 1_000_000
    ts = start + np.sort(rng.integers(0, 30 * 86_400_000_000, n))
    types = np.array(["click", "error", "purchase", "signup", "view"])
    table = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n).astype(np.int64)),
        "event_type": pa.array(types[rng.integers(0, 5, n)].tolist()),
        "value": pa.array(np.round(rng.uniform(0.01, 490.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })
    return n, _write(table, os.path.join(out_dir, "events.parquet"))
