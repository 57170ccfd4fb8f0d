"""Property-based checks for the round-10 stateful operators on bounded
frames: the capped balance and Markov pairing must equal a
trivially-correct pure-Python
reference on ARBITRARY event frames — exact saturation boundaries
(values landing the balance on exactly 0.0 or 100.0), long negative
runs, timestamp ties (broken by event_id), single-event users, and
users straddling Arrow-batch boundaries. Complements the real-data
oracle sweeps (which can't produce adversarial boundary shapes) and
the cross-micro-batch stream==batch tests in test_streaming.py.
"""

from __future__ import annotations

import datetime

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from banksy_spark.streaming.stateful import capped_balance, markov_pairs

# values around the clamp-relevant range: deltas are value - 50, cap 100
_vals = st.one_of(
    st.integers(min_value=0, max_value=200).map(float),
    # exact saturation hitters: delta -50 (floor) / +150-50=+100 (ceil in one step)
    st.sampled_from([0.0, 50.0, 150.0, 151.25, 49.5, 0.25]),
)
_types = st.sampled_from(["a", "b", "c"])


def _rows(draw_vals):
    return st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),   # user_id (few users => long runs)
            st.integers(min_value=0, max_value=3),   # ts offset (forced ties)
            draw_vals,
        ),
        min_size=1,
        max_size=80,
    )


def _mk_df(spark, rows, payload_col, payload_type):
    base = datetime.datetime(2024, 1, 1)
    data = [
        (i, u, base + datetime.timedelta(seconds=t), p)
        for i, (u, t, p) in enumerate(rows)
    ]
    return spark.createDataFrame(
        data, f"event_id long, user_id long, ts timestamp, {payload_col} {payload_type}"
    ).repartition(7)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_rows(_vals))
def test_capped_balance_matches_python_reference(spark, rows):
    df = _mk_df(spark, rows, "value", "double")
    got = {
        r.event_id: (r.user_id, r.capped_balance)
        for r in capped_balance(df).collect()
    }
    # reference: per user ordered by (ts, event_id), clamp fold
    want = {}
    per_user: dict[int, float] = {}
    order = sorted(enumerate(rows), key=lambda x: (x[1][1], x[0]))
    for eid, (u, _t, v) in order:
        acc = per_user.get(u, 0.0)
        acc = max(0.0, min(100.0, acc + (v - 50.0)))
        per_user[u] = acc
        want[eid] = (u, acc)
    assert got == want  # bit-exact floats


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_rows(_types))
def test_markov_pairs_match_python_reference(spark, rows):
    import collections

    df = _mk_df(spark, rows, "event_type", "string")
    got = collections.Counter(
        (r.from_type, r.to_type) for r in markov_pairs(df).collect()
    )
    last: dict[int, str] = {}
    want: collections.Counter = collections.Counter()
    order = sorted(enumerate(rows), key=lambda x: (x[1][1], x[0]))
    for _eid, (u, _t, ty) in order:
        if u in last:
            want[(last[u], ty)] += 1
        last[u] = ty
    assert got == want
