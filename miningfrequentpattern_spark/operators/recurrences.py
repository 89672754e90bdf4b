"""Per-series recurrence kernels, each written once for the batch
operators and their streaming twins.

A kernel is `kernel(state, values, gid, *params) -> outputs`. `gid`
names each row's series (rows of a series contiguous and in order,
ids ascending); `state` is a tuple of arrays indexed by series id,
updated in place, so a series split between calls gives the outputs
of one call. The sorted-partition seam calls a kernel once per Arrow
batch with fresh state; a stream twin calls it for one key through
`step_one_series`. Each series sees the float64 operations of a
scalar loop, in its order.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np


def series_starts(gid: np.ndarray) -> np.ndarray:
    """The first row of each series in `gid`."""
    return np.flatnonzero(np.diff(gid, prepend=gid[:1] - 1))


def fresh_state(gid: np.ndarray, *dtypes) -> tuple[np.ndarray, ...]:
    """Zeroed state arrays, one entry per series id of `gid`."""
    n = int(gid[-1]) + 1 if len(gid) else 0
    return tuple(np.zeros(n, dtype=d) for d in dtypes)


def _lockstep(gid: np.ndarray):
    """The batch laid out position-major, longest series first:
    (ids, order, back, blocks). Row `order[i]` goes to layout slot i,
    and `back` maps the slots back to rows; for position p = 0, 1,
    ... the block (lo, hi, k) holds the p-th rows of the k series
    `ids[:k]`, in slots lo..hi. A kernel steps position p on slices
    (`x[order][lo:hi]`, `state[ids][:k]`), so it pays one Python
    iteration per position of the longest series."""
    starts = series_starts(gid)
    lens = np.diff(starts, append=len(gid))
    by_len = np.argsort(-lens, kind="stable")
    starts, lens = starts[by_len], lens[by_len]
    # lens is descending: the series alive at p are a prefix of it
    alive = np.searchsorted(-lens, -np.arange(lens[0] if len(lens) else 0))
    bounds = np.concatenate(([0], np.cumsum(alive)))
    p = np.repeat(np.arange(len(alive)), alive)
    order = starts[np.arange(len(gid)) - bounds[p]] + p
    back = np.empty_like(order)
    back[order] = np.arange(len(order))
    blocks = zip(bounds[:-1].tolist(), bounds[1:].tolist(), alive.tolist())
    return gid[starts], order, back, blocks


def ttl_step(state, us: np.ndarray, gid: np.ndarray, ttl_us: int) -> np.ndarray:
    """`is_kept` per row: the series has no kept row yet, or the row is
    at least `ttl_us` after the last kept one. Each series' `us` must
    be ascending. State: (anchor, has), the last kept epoch-micros and
    a mask of whether there is one (a mask, not a sentinel, so
    `anchor + ttl_us` cannot overflow).

    Each round, every open series jumps to its next kept row by one
    searchsorted over the batch, so the loop runs once per kept row
    of the series with the most. The search key, series id × distinct
    values + rank of `us`, orders the batch by (series, us) and cannot
    overflow."""
    anchor, has = state
    kept = np.zeros(len(us), dtype=bool)
    vals, rank = np.unique(us, return_inverse=True)
    key = gid * len(vals) + rank
    starts = series_starts(gid)
    s, pos, end = gid[starts], starts, np.append(starts[1:], len(us))
    # rank 0 for a series with no anchor: its first row is kept
    due = np.where(has[s], np.searchsorted(vals, anchor[s] + ttl_us), 0)
    while len(s):
        nxt = np.maximum(np.searchsorted(key, s * len(vals) + due), pos)
        open_ = nxt < end
        s, nxt, end = s[open_], nxt[open_], end[open_]
        kept[nxt] = True
        anchor[s] = at = us[nxt]
        has[s] = True
        due = np.searchsorted(vals, at + ttl_us)
        pos = nxt + 1
    return kept


def holt_step(state, x: np.ndarray, gid: np.ndarray, alpha: float, beta: float):
    """(level, trend) per row of Holt linear smoothing, stream form: a
    series' first row has level = x and trend NaN, its second seeds
    trend = x₂ − x₁ before stepping. State: (level, trend, rows seen),
    the trend NaN until the second row. A series' first and second
    rows can only fall at positions 0 and 1 of a call, so only those
    positions test the rows seen."""
    level, trend, n = state
    ids, order, back, blocks = _lockstep(gid)
    l, b, seen = level[ids], trend[ids], n[ids]
    xs = x[order]
    out = np.empty((2, len(x)))
    for p, (lo, hi, k) in enumerate(blocks):
        xt, prev, bt = xs[lo:hi], l[:k], b[:k]
        if p < 2:
            bt = np.where(seen[:k] + p == 1, xt - prev, bt)
        new = alpha * xt + (1.0 - alpha) * (prev + bt)
        bt = beta * (new - prev) + (1.0 - beta) * bt
        if p == 0:
            first = seen[:k] == 0
            new = np.where(first, xt, new)
            bt = np.where(first, np.nan, bt)
        out[0, lo:hi] = l[:k] = new
        out[1, lo:hi] = b[:k] = bt
    level[ids], trend[ids] = l, b
    n += np.bincount(gid, minlength=len(n))
    return tuple(out[:, back])


def holt_winters_init(x: np.ndarray, starts: np.ndarray, m: int):
    """Holt–Winters state after each series' first 2m values (every
    series starting at `starts` has at least 2m): level = mean of the
    first m, trend = (mean of the next m − level) / m, seasonal ring
    = first m − level. The sums run left to right, position by
    position."""
    first = x[starts[:, None] + np.arange(2 * m)]
    head, tail = np.zeros(len(starts)), np.zeros(len(starts))
    for i in range(m):
        head = head + first[:, i]
        tail = tail + first[:, m + i]
    level = head / m
    trend = (tail / m - level) / m
    ring = first[:, :m] - level[:, None]
    return level, trend, ring, np.zeros(len(starts), dtype=np.int64)


def holt_winters_step(
    state, x: np.ndarray, gid: np.ndarray, alpha: float, beta: float, gamma: float
) -> np.ndarray:
    """(level, trend, seasonal, fitted) rows of additive Holt–Winters
    after the init block. State: (level, trend, ring, t), where
    `ring[s, t % m]` holds s_{t−m} for the series' t-th step. The
    rings are rotated on entry so that every series reads slot p % m
    at position p, and rotated back on exit."""
    level, trend, ring, t = state
    m = ring.shape[1]
    ids, order, back, blocks = _lockstep(gid)
    slots = (t[ids, None] + np.arange(m)) % m
    l, b, r = level[ids], trend[ids], ring[ids[:, None], slots]
    xs = x[order]
    out = np.empty((4, len(x)))
    for p, (lo, hi, k) in enumerate(blocks):
        xt, lp, bp, s_tm = xs[lo:hi], l[:k], b[:k], r[:k, p % m]
        lb = lp + bp
        new_l = alpha * (xt - s_tm) + (1.0 - alpha) * lb
        new_b = beta * (new_l - lp) + (1.0 - beta) * bp
        new_s = gamma * (xt - lp - bp) + (1.0 - gamma) * s_tm
        out[3, lo:hi] = lb + s_tm
        out[0, lo:hi] = l[:k] = new_l
        out[1, lo:hi] = b[:k] = new_b
        out[2, lo:hi] = r[:k, p % m] = new_s
    level[ids], trend[ids], ring[ids[:, None], slots] = l, b, r
    t += np.bincount(gid, minlength=len(t))
    return out[:, back]


def step_one_series(kernel: Callable, scalars: tuple, values: np.ndarray, *params):
    """Run `kernel` over one series whose state is `scalars`: returns
    (the new state as Python scalars, the kernel's outputs)."""
    state = tuple(np.array([v]) for v in scalars)
    out = kernel(state, values, np.zeros(len(values), dtype=np.int64), *params)
    return tuple(a.item() for a in state), out
