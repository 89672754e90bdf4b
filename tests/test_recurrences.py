"""The recurrence kernels of operators/recurrences.py, without Spark.

The batch seam calls a kernel once over many series; a stream twin
calls it for one key at a time, carrying the state between
micro-batches. Both must see the same numbers, bitwise: one call over
a skewed batch (one 500-row series among 1-, 2- and 3-row ones) must
equal one call per series, and a run that splits every series at
every position, carrying the state across each split, must equal the
unsplit run. Both must equal a plain scalar loop over each series,
also bitwise. The operators built on the kernels are checked against
their former per-series bodies in tests/test_per_group_seam.py and
against the DuckDB oracles in tests/test_oracle_parity.py.
"""

import numpy as np
import pytest

from miningfrequentpattern_spark.operators import recurrences as R

LENS = [1, 2, 3, 500, 3, 1, 2, 2, 3, 1]
M = 3  # Holt–Winters period
TTL = 600_000_000


def _values(rng, n):
    return rng.uniform(-1.0, 1.0, n) * 10.0 ** rng.uniform(-3, 5, n)


def _hw_state(rng, n):
    return (
        _values(rng, n),
        _values(rng, n),
        _values(rng, n * M).reshape(n, M),
        rng.integers(0, M, n),
    )


def _ttl_loop(anchor, has, us):
    kept = []
    for t in us:
        kept.append(not has or t >= anchor + TTL)
        if kept[-1]:
            anchor, has = t, True
    return [np.array(kept)], [anchor, has]


def _holt_loop(level, trend, n, xs):
    lv, tr = [], []
    for x in xs:
        if n == 0:
            level, trend = x, float("nan")
            lv.append(x)
            tr.append(trend)
        else:
            if n == 1:
                trend = x - level
            new = 0.2 * x + (1.0 - 0.2) * (level + trend)
            trend = 0.3 * (new - level) + (1.0 - 0.3) * trend
            level = new
            lv.append(level)
            tr.append(trend)
        n += 1
    return [np.array(lv), np.array(tr)], [level, trend, n]


def _hw_loop(level, trend, ring, t, xs):
    ring, rows = list(ring), []
    for x in xs:
        s_tm = ring[t % M]
        new_l = 0.2 * (x - s_tm) + (1.0 - 0.2) * (level + trend)
        new_b = 0.1 * (new_l - level) + (1.0 - 0.1) * trend
        new_s = 0.3 * (x - level - trend) + (1.0 - 0.3) * s_tm
        rows.append((new_l, new_b, new_s, level + trend + s_tm))
        ring[t % M], level, trend, t = new_s, new_l, new_b, t + 1
    return [np.array(rows).T], [level, trend, ring, t]


# name: (initial state for n series, values for n rows, kernel call,
# scalar loop over one series)
KERNELS = {
    "ttl": (
        lambda rng, n: (
            rng.integers(0, 10**9, n),
            rng.integers(0, 2, n).astype(bool),
        ),
        lambda rng, n: np.cumsum(rng.integers(0, 9, n)) * 60_000_000,
        lambda st, v, g: R.ttl_step(st, v, g, TTL),
        _ttl_loop,
    ),
    "holt": (
        lambda rng, n: (
            _values(rng, n), _values(rng, n), rng.integers(0, 3, n)
        ),
        _values,
        lambda st, v, g: R.holt_step(st, v, g, 0.2, 0.3),
        _holt_loop,
    ),
    "holt_winters": (
        _hw_state,
        _values,
        lambda st, v, g: R.holt_winters_step(st, v, g, 0.2, 0.1, 0.3),
        _hw_loop,
    ),
}


def _outputs(out):
    return list(out) if isinstance(out, tuple) else [out]


def _bits(arrays):
    return [(a.dtype, a.shape, a.tobytes()) for a in arrays]


def _run(call, state, values, gid):
    state = tuple(a.copy() for a in state)
    return _outputs(call(state, values, gid)), list(state)


def _one_series(state, i):
    return tuple(a[i:i + 1] for a in state)


@pytest.mark.parametrize("name", sorted(KERNELS))
def test_kernel_batch_equals_per_series_and_split_runs(name):
    init, values, call, loop = KERNELS[name]
    rng = np.random.default_rng(7)
    state = init(rng, len(LENS))
    gid = np.repeat(np.arange(len(LENS)), LENS)
    vals = values(rng, len(gid))
    starts = np.cumsum([0] + LENS[:-1])

    batch_out, batch_state = _run(call, state, vals, gid)

    per_out, per_state, split_out, split_state = [], [], [], []
    loop_out, loop_state = [], []
    for i, (lo, n) in enumerate(zip(starts, LENS)):
        out, st = loop(*(a[i] for a in state), vals[lo:lo + n])
        loop_out.append(out)
        loop_state.append(
            [np.array([v], dtype=a.dtype) for v, a in zip(st, state)]
        )
        one = _one_series(state, i)
        zeros = np.zeros(n, dtype=np.int64)
        out, st = _run(call, one, vals[lo:lo + n], zeros)
        per_out.append(out)
        per_state.append(st)
        # one call per row, the state carried from call to call
        st, steps = tuple(a.copy() for a in one), []
        for j in range(lo, lo + n):
            steps.append(_outputs(call(st, vals[j:j + 1], zeros[:1])))
        split_out.append([np.concatenate(c, axis=-1) for c in zip(*steps)])
        split_state.append(list(st))

    for got_out, got_state in (
        (per_out, per_state),
        (split_out, split_state),
        (loop_out, loop_state),
    ):
        joined = [np.concatenate(c, axis=-1) for c in zip(*got_out)]
        assert _bits(joined) == _bits(batch_out)
        stacked = [np.concatenate(c) for c in zip(*got_state)]
        assert _bits(stacked) == _bits(batch_state)


def test_step_one_series_round_trips_python_scalars():
    """The stream twins keep Python scalars in GroupState."""
    (anchor, has), kept = R.step_one_series(
        R.ttl_step, (0, False), np.array([5, 9, 16]), 10
    )
    assert (anchor, has) == (16, True)
    assert type(anchor) is int and kept.tolist() == [True, False, True]
