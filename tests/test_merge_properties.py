"""Property-based tests (hypothesis) for the keyed upsert: algebraic
laws that must hold for ANY source/target, not just picked examples.

- idempotence: applying the same source twice = applying it once
- null-skip monotonicity: a merge never turns a non-null cell null
- key conservation: result keys = target keys ∪ non-null source keys
"""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from howto_mongo_bulk_update_from_parquet_spark.operators.merge import keyed_upsert

KEYS = st.sampled_from(["k1", "k2", "k3", "k4"])
VALS = st.one_of(st.none(), st.integers(min_value=-99, max_value=99).map(float))

ROW = st.tuples(KEYS, VALS, VALS)
TABLE = st.lists(ROW, min_size=0, max_size=6)


def _df(spark, rows, dedup_keys=False):
    if dedup_keys:
        seen, out = set(), []
        for k, a, b in rows:
            if k not in seen:
                seen.add(k)
                out.append((k, a, b))
        rows = out
    return spark.createDataFrame(rows, "_id string, a double, b double") \
        if rows else spark.createDataFrame([], "_id string, a double, b double")


def _rows(df):
    return {r["_id"]: (r["a"], r["b"]) for r in df.collect()}


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(tgt=TABLE, src=TABLE)
def test_merge_idempotent(spark, tgt, src):
    t = _df(spark, tgt, dedup_keys=True)
    s = _df(spark, src)
    once = keyed_upsert(t, s, "_id", updated_at_col=None)
    twice = keyed_upsert(once, s, "_id", updated_at_col=None)
    assert _rows(once) == _rows(twice)


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(tgt=TABLE, src=TABLE)
def test_merge_never_nulls_a_value(spark, tgt, src):
    t = _df(spark, tgt, dedup_keys=True)
    s = _df(spark, src)
    before = _rows(t)
    after = _rows(keyed_upsert(t, s, "_id", updated_at_col=None))
    for k, (a0, b0) in before.items():
        a1, b1 = after[k]
        if a0 is not None:
            assert a1 is not None
        if b0 is not None:
            assert b1 is not None


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(tgt=TABLE, src=TABLE)
def test_merge_key_conservation(spark, tgt, src):
    t = _df(spark, tgt, dedup_keys=True)
    s = _df(spark, src)
    out = _rows(keyed_upsert(t, s, "_id", updated_at_col=None))
    want = {k for k, _, _ in tgt} | {k for k, _, _ in src}
    assert set(out) == want


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(base=TABLE, deltas=st.lists(TABLE, min_size=1, max_size=3))
def test_lsm_read_merged_equals_sequential_merge(spark, tmp_path_factory,
                                                base, deltas):
    """The log-structured merge-on-read view must equal folding the
    same rounds through the full-merge operator, for ANY chain of
    upserts — the two write paths are semantically one operator."""
    import os
    import uuid
    from hypothesis import assume
    from howto_mongo_bulk_update_from_parquet_spark.sinks.keyed_table import (
        append_delta, read_merged, upsert_into_keyed_table)

    assume(base or any(deltas))
    path = os.path.join(str(tmp_path_factory.mktemp("lsm_prop")),
                        uuid.uuid4().hex[:8])
    folded = _df(spark, base, dedup_keys=True)
    if base:
        upsert_into_keyed_table(spark, folded, path=path, key="_id",
                                updated_at_col=None)
    for d in deltas:
        ddf = _df(spark, d, dedup_keys=True)
        append_delta(spark, ddf, path=path, key="_id")
        folded = keyed_upsert(folded, ddf, "_id", updated_at_col=None)
    assert _rows(read_merged(spark, path, "_id")) == _rows(folded)
