"""Round-16 optimization pins — vectorized stateful folds.

The optimization round rewrites the per-event Python loops inside the
applyInPandasWithState operators as numpy array programs (guide §4.2:
hand whole batches to vectorized native code instead of looping rows
in Python). The rewrites must be BIT-IDENTICAL — every emitted value
is an exact integer or a second-truncated timestamp string — so each
vectorized fold is fuzz-pinned against a literal re-implementation of
the sequential loop it replaced, over inputs that plant the known
knife-edges (exact-gap boundaries, late events, ties on ts, state
continuation, all-late batches).
"""

from __future__ import annotations

import numpy as np
import pytest

from bigdata_riveranalysis_spark.streaming.stateful import (
    _fmt_us,
    _fmt_us_arr,
    _session_fold_group,
)

GAP_US = 30 * 60 * 1_000_000


def _reference_fold(cur, ts_us, eids, gap_us):
    """The pre-r16 sequential loop, verbatim (the semantics the oracle
    and the r16 boundary pins were written against)."""
    cur = list(cur) if cur is not None else None
    closed = []
    for t, eid in zip(ts_us, eids):
        t, eid = int(t), int(eid)
        if cur is None:
            cur = [t, t, 1, eid]
        elif t - cur[1] > gap_us:
            closed.append(tuple(cur))
            cur = [t, t, 1, eid]
        else:
            cur[0] = min(cur[0], t)
            if t >= cur[1]:
                cur[1], cur[3] = t, eid
            cur[2] += 1
    return closed, cur


def _vector_fold_as_tuples(cur, ts_us, eids, gap_us):
    cs, ce, cn, ceid, new_cur = _session_fold_group(
        None if cur is None else list(cur), ts_us, eids, gap_us
    )
    closed = (
        []
        if cs is None
        else list(zip(map(int, cs), map(int, ce), map(int, cn), map(int, ceid)))
    )
    return closed, new_cur


def _sorted_batch(rng, n, *, span_us, base_us=10**15, tie_every=0):
    ts = base_us + np.sort(rng.randint(0, span_us, n).astype(np.int64))
    if tie_every:
        # plant exact ts ties (the event_id tie-break class)
        src = ts[1::tie_every]
        dst = ts[::tie_every][: len(src)]
        dst[:] = src
        ts = np.sort(ts)
    eids = np.arange(n, dtype=np.int64)
    # sort by (ts, event_id) exactly as the operator does
    order = np.lexsort((eids, ts))
    return ts[order], eids[order]


def test_session_fold_fuzz_parity_no_state():
    rng = np.random.RandomState(7)
    for trial in range(200):
        n = rng.randint(1, 40)
        ts, eids = _sorted_batch(
            rng, n, span_us=GAP_US * 4, tie_every=rng.choice([0, 3])
        )
        ref = _reference_fold(None, ts, eids, GAP_US)
        vec = _vector_fold_as_tuples(None, ts, eids, GAP_US)
        assert vec == ref, f"trial {trial}"


def test_session_fold_fuzz_parity_with_state():
    rng = np.random.RandomState(11)
    for trial in range(300):
        n = rng.randint(1, 40)
        base = 10**15
        ts, eids = _sorted_batch(rng, n, span_us=GAP_US * 4, base_us=base)
        # state whose last event lands before/inside/after the batch —
        # including the ALL-LATE case (state last beyond every batch ts)
        last = base + rng.choice(
            [-GAP_US - 1, -1, 0, GAP_US, GAP_US * 2, GAP_US * 5]
        )
        cur = [int(last - rng.randint(0, GAP_US)), int(last), int(rng.randint(1, 9)), 999_999]
        ref = _reference_fold(cur, ts, eids, GAP_US)
        vec = _vector_fold_as_tuples(cur, ts, eids, GAP_US)
        assert vec == ref, f"trial {trial} state={cur}"


def test_session_fold_exact_gap_knife_edge():
    """Events exactly gap_us apart must NOT break (strict >), one µs
    more must — the boundary the r16 build's fuzz plant targets."""
    base = 10**15
    ts = np.array([base, base + GAP_US, base + 2 * GAP_US + 1], dtype=np.int64)
    eids = np.array([1, 2, 3], dtype=np.int64)
    ref = _reference_fold(None, ts, eids, GAP_US)
    vec = _vector_fold_as_tuples(None, ts, eids, GAP_US)
    assert vec == ref
    closed, cur = vec
    assert closed == [(base, base + GAP_US, 2, 2)]  # strict >: no break at ==
    assert cur == [base + 2 * GAP_US + 1, base + 2 * GAP_US + 1, 1, 3]


def test_session_fold_all_late_batch_keeps_state_end():
    """Every batch row earlier than the state's last event: the open
    session's (end, last_event_id) must stay the state's, the count
    and min-start must still fold."""
    cur = [10**15, 10**15 + 500, 3, 42]
    ts = np.array([10**15 - 300, 10**15 + 100], dtype=np.int64)
    eids = np.array([7, 8], dtype=np.int64)
    ref = _reference_fold(cur, ts, eids, GAP_US)
    vec = _vector_fold_as_tuples(cur, ts, eids, GAP_US)
    assert vec == ref
    _, new_cur = vec
    assert new_cur == [10**15 - 300, 10**15 + 500, 5, 42]


def test_fmt_us_arr_matches_scalar_fmt():
    us = np.array(
        [0, 1, 999_999, 1_000_000, 10**15, 123_456_789_123_456, -1,
         -10**12, 86_399_999_999],
        dtype=np.int64,
    )
    vec = _fmt_us_arr(us)
    for u, v in zip(us, vec):
        assert v == _fmt_us(int(u)), u


def test_vector_fold_single_event_and_empty_state_segments():
    ts = np.array([10**15], dtype=np.int64)
    eids = np.array([5], dtype=np.int64)
    closed, cur = _vector_fold_as_tuples(None, ts, eids, GAP_US)
    assert closed == [] and cur == [10**15, 10**15, 1, 5]
    # a second batch far in the future closes the first session
    ts2 = np.array([10**15 + GAP_US * 10], dtype=np.int64)
    eids2 = np.array([6], dtype=np.int64)
    closed2, cur2 = _vector_fold_as_tuples(cur, ts2, eids2, GAP_US)
    assert closed2 == [(10**15, 10**15, 1, 5)]
    assert cur2 == [10**15 + GAP_US * 10, 10**15 + GAP_US * 10, 1, 6]
