"""Property test: the union+window as-of join equals a brute-force
per-row reference on random keyed event sets."""

from __future__ import annotations

import datetime as dt

from hypothesis import given, settings, strategies as st

from sparkgraft.operators.relational import asof_join

BASE = dt.datetime(2025, 1, 1)

ts_strategy = st.integers(min_value=0, max_value=10_000).map(
    lambda s: BASE + dt.timedelta(seconds=s)
)
key_strategy = st.sampled_from(["k1", "k2", "k3"])


@settings(max_examples=12, deadline=None)
@given(
    st.lists(st.tuples(key_strategy, ts_strategy), min_size=1, max_size=25),
    st.lists(st.tuples(key_strategy, ts_strategy), min_size=0, max_size=25),
)
def test_asof_equals_bruteforce(spark, left_rows, right_rows):
    left = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(left_rows)],
        "id long, key string, ts timestamp",
    )
    right = spark.createDataFrame(
        [(k, t, float(i)) for i, (k, t) in enumerate(right_rows)],
        "key string, rts timestamp, rv double",
    ) if right_rows else spark.createDataFrame([], "key string, rts timestamp, rv double")

    got = {
        r["id"]: r["rv"]
        for r in asof_join(
            left, right, on=["key"], left_ts="ts", right_ts="rts",
            right_payload=["rv"],
        ).collect()
    }

    # Brute force: for each left row, the rv of the max rts <= ts with
    # the same key, ties on rts broken by the later-unioned row being
    # carried last (matches last_value over (ts, is_left) ordering with
    # input order as final arbiter — so compare only when unambiguous).
    for i, (k, t) in enumerate(left_rows):
        cands = [(rt, rv) for (rk, rt), rv in zip(
            right_rows, [float(j) for j in range(len(right_rows))]
        ) if rk == k and rt <= t]
        if not cands:
            assert got[i] is None
        else:
            best_ts = max(rt for rt, _ in cands)
            best_vals = {rv for rt, rv in cands if rt == best_ts}
            assert got[i] in best_vals, (i, k, t, cands, got[i])
