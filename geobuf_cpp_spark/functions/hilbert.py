"""Hilbert-curve index — space-filling layout key for 2-D clustering.

Morton/quadkey interleaving (functions.cells.quadkey_of) preserves
locality only per quadrant: consecutive Morton codes can jump across
the map. The Hilbert curve's consecutive indices are ALWAYS 4-adjacent
grid neighbors, which makes it the better file-layout key for 2-D data
skipping (sort by hilbert → write → min/max zone maps prune both lon
and lat ranges; the trick behind Z-order/liquid clustering, improved).
Used with plans.partitioning: repartitionByRange on the Hilbert key
gives each output file a compact spatial footprint.

Two INDEPENDENT implementations, cross-checked in tests and the gate:

* ``hilbert_d`` — vectorized numpy transcription of the classic
  Wikipedia xy2d bit loop (rotate + reflect per level);
* ``sql_hilbert_query`` — an UNROLLED chained-CTE SQL text (one
  projection per bit level, pure integer arithmetic — text linear in
  ``order``) runnable verbatim by both Spark SQL and DuckDB.
"""

from __future__ import annotations

import numpy as np


def hilbert_d(x: np.ndarray, y: np.ndarray, order: int) -> np.ndarray:
    """(x, y) grid coords in [0, 2^order) -> Hilbert distance, vectorized."""
    x = np.asarray(x, dtype=np.int64).copy()
    y = np.asarray(y, dtype=np.int64).copy()
    d = np.zeros_like(x)
    n = np.int64(1) << order
    s = np.int64(1) << (order - 1)
    while s > 0:
        rx = ((x & s) > 0).astype(np.int64)
        ry = ((y & s) > 0).astype(np.int64)
        d += s * s * ((3 * rx) ^ ry)
        # rotate quadrant: reflect when ry==0 & rx==1, then swap axes.
        # The reflection constant n-1 (not the textbook s-1) keeps coords
        # in [0, n): n-1 and s-1 are congruent mod s (n-s is a multiple
        # of s), so (c - x) has identical bits below s for either
        # constant, and all later rounds only test bits strictly below
        # the current s — the curve is identical, without negative
        # intermediates (which the SQL twin's %-based bit test cannot
        # mimic portably).
        refl = (ry == 0) & (rx == 1)
        x = np.where(refl, n - 1 - x, x)
        y = np.where(refl, n - 1 - y, y)
        sw = ry == 0
        x, y = np.where(sw, y, x), np.where(sw, x, y)
        s >>= 1
    return d


def hilbert_coarse_ranges(x0: int, x1: int, y0: int, y1: int,
                          order: int) -> list[tuple[int, int]]:
    """Covering Hilbert-index intervals for the inclusive grid bbox
    [x0, x1] x [y0, y1] — the planning step of a space-filling-curve
    range query (the access path behind Z-order/liquid-clustered
    layouts: sort the table by Hilbert key once, then any bbox becomes
    a handful of key ranges the zone maps / parquet row-group stats can
    prune on, instead of a full scan).

    The decomposition is hierarchical: pick the finest coarse order
    ``g`` whose bbox footprint stays within 4096 coarse cells
    (driver-side work is bounded by construction — a planet-sized bbox
    plans as cheaply as a city block), Hilbert-index those cells at
    order ``g`` (each is one CONTIGUOUS fine range, because the curve
    visits a quadrant completely before leaving it), sort, and fuse
    abutting runs. If more than 64 runs survive, the
    smallest inter-run gaps are swallowed — the cover only ever GROWS,
    so pairing it with an exact bbox refine (as ``zone_pruned_read``
    re-applies its predicate) keeps results exact while the scan skips
    everything outside the intervals.

    Returns sorted, disjoint, inclusive ``(lo, hi)`` index intervals at
    the FINE order; every bbox cell's index lands inside one of them.
    """
    n = 1 << order
    assert 0 <= x0 <= x1 < n and 0 <= y0 <= y1 < n
    g = order
    while g > 0 and (
        ((x1 >> (order - g)) - (x0 >> (order - g)) + 1)
        * ((y1 >> (order - g)) - (y0 >> (order - g)) + 1) > 4096
    ):
        g -= 1
    if g == 0:
        return [(0, (1 << (2 * order)) - 1)]
    shift = order - g
    cxs = np.arange(x0 >> shift, (x1 >> shift) + 1, dtype=np.int64)
    cys = np.arange(y0 >> shift, (y1 >> shift) + 1, dtype=np.int64)
    gx, gy = np.meshgrid(cxs, cys)
    d = np.sort(hilbert_d(gx.ravel(), gy.ravel(), g))
    span = 1 << (2 * shift)
    intervals: list[tuple[int, int]] = []
    cur_lo = int(d[0]) * span
    cur_hi = cur_lo + span - 1
    for di in d[1:]:
        lo = int(di) * span
        if lo == cur_hi + 1:
            cur_hi = lo + span - 1
        else:
            intervals.append((cur_lo, cur_hi))
            cur_lo, cur_hi = lo, lo + span - 1
    intervals.append((cur_lo, cur_hi))
    if len(intervals) > 64:
        order_by_gap = sorted(
            range(1, len(intervals)),
            key=lambda i: (intervals[i][0] - intervals[i - 1][1], i))
        drop = set(order_by_gap[: len(intervals) - 64])
        fused: list[tuple[int, int]] = []
        for i, iv in enumerate(intervals):
            if i in drop:
                fused[-1] = (fused[-1][0], iv[1])
            else:
                fused.append(iv)
        intervals = fused
    return intervals


def sql_hilbert_query(base_sql: str, carry_cols: list[str], x_col: str,
                      y_col: str, order: int) -> str:
    """Full WITH-chain SQL computing the Hilbert index per row.

    ``base_sql`` must select ``carry_cols`` plus integer grid coords
    ``x_col``/``y_col`` in [0, 2^order). One CTE per bit level rewrites
    (hx, hy, hd) with CASE arithmetic — engine-portable (FLOOR-division
    instead of ``div``/``//``, exact for coords < 2^26).
    """
    carry = ", ".join(carry_cols)
    parts = [
        f"h0 AS (SELECT {carry}, CAST({x_col} AS BIGINT) AS hx, "
        f"CAST({y_col} AS BIGINT) AS hy, CAST(0 AS BIGINT) AS hd "
        f"FROM ({base_sql}) hbase"
    ]
    step = 0
    for level in range(order - 1, -1, -1):
        s = 1 << level
        rx = f"(CAST(FLOOR(hx / {s}) AS BIGINT) % 2)"
        ry = f"(CAST(FLOOR(hy / {s}) AS BIGINT) % 2)"
        d_new = (
            f"hd + {s * s} * (CASE "
            f"WHEN {rx} = 0 AND {ry} = 0 THEN 0 "
            f"WHEN {rx} = 0 THEN 1 "
            f"WHEN {ry} = 1 THEN 2 ELSE 3 END)"
        )
        n = 1 << order
        xr = f"(CASE WHEN {ry} = 0 AND {rx} = 1 THEN {n - 1} - hx ELSE hx END)"
        yr = f"(CASE WHEN {ry} = 0 AND {rx} = 1 THEN {n - 1} - hy ELSE hy END)"
        x_new = f"(CASE WHEN {ry} = 0 THEN {yr} ELSE {xr} END)"
        y_new = f"(CASE WHEN {ry} = 0 THEN {xr} ELSE {yr} END)"
        nxt = step + 1
        parts.append(
            f"h{nxt} AS (SELECT {carry}, {x_new} AS hx, {y_new} AS hy, "
            f"{d_new} AS hd FROM h{step}"
        )
        step = nxt
    ctes = "), ".join(parts) + ")"
    return (
        f"WITH {ctes} SELECT {carry}, hd AS hilbert FROM h{step}"
    )
