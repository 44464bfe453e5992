"""Polyline simplification: Douglas-Peucker over per-user event tracks.

The raster->vector half of the tile story produces dense polylines (tile
outlines, contour rings, GPS-grade user tracks); Douglas-Peucker is the
standard simplification before vector-tile emission (the reference's
polygon pipeline ships geometries straight from the database — this is
the generalization step a 10^12-point corpus needs before serving).

Determinism contract (mirrored bit-for-bit by the DuckDB recursive-CTE
oracle in contract_tracks.py):

- The split point of a segment (lo, hi) is the strictly-interior point
  maximizing the SQUARED cross product c² with the chord, c =
  (bx-ax)(ay-py) - (ax-px)(by-ay); ties break to the SMALLEST sequence
  index (np.argmax first-max == lexicographic arg_max([c², -seq])).
- A segment splits iff max c² > eps² * chord_len² — multiplication only,
  no sqrt/division, so both engines compare identical IEEE doubles.
- A degenerate chord (coincident endpoints) has c ≡ 0 and never splits —
  the whole span collapses onto the endpoint pair. Both engines share
  the convention.
"""

from __future__ import annotations

import numpy as np


def dp_keep_mask(x: np.ndarray, y: np.ndarray, eps: float) -> np.ndarray:
    """Boolean keep-mask of the Douglas-Peucker simplification of the
    polyline (x[i], y[i]) i=0..n-1, iterative (explicit stack — recursion
    depth is data-dependent and Python's limit is not)."""
    n = len(x)
    keep = np.zeros(n, dtype=bool)
    if n == 0:
        return keep
    keep[0] = keep[n - 1] = True
    if n <= 2:
        return keep
    eps2 = eps * eps
    stack = [(0, n - 1)]
    while stack:
        lo, hi = stack.pop()
        if hi - lo < 2:
            continue
        ax, ay, bx, by = x[lo], y[lo], x[hi], y[hi]
        px, py = x[lo + 1 : hi], y[lo + 1 : hi]
        c = (bx - ax) * (ay - py) - (ax - px) * (by - ay)
        c2 = c * c
        j = int(np.argmax(c2))  # first max == smallest index tiebreak
        chord2 = (bx - ax) * (bx - ax) + (by - ay) * (by - ay)
        if c2[j] > eps2 * chord2:
            k = lo + 1 + j
            keep[k] = True
            stack.append((lo, k))
            stack.append((k, hi))
    return keep


def simplify_partition(batches, eps: float):
    """``mapInPandas`` kernel over one PARTITION hash-partitioned by
    user_id and sorted by (user_id, event_id): assigns each track's seq
    (arange over its sorted rows == the row_number window it replaces)
    and runs ``dp_keep_mask`` per contiguous group slice.

    The per-group ``applyInPandas`` form paid ~1 ms of Arrow/pandas
    slicing per track (1500 tracks x 2 AQE-coalesced tasks ≈ 4 s at
    sf0.1); here group dispatch is one numpy boundary scan per
    partition and the only per-track cost is the DP kernel itself.
    Memory is bounded by the partition (one shuffle's worth of rows),
    the same bound the grouped form had for its largest group-set."""
    import pandas as pd

    chunks = list(batches)
    if not chunks:
        return
    pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
    if pdf.empty:
        return
    u = pdf["user_id"].to_numpy()
    x = pdf["x"].to_numpy(dtype=np.float64)
    y = pdf["y"].to_numpy(dtype=np.float64)
    starts = np.flatnonzero(np.r_[True, u[1:] != u[:-1]])
    ends = np.r_[starts[1:], len(u)]
    mask = np.empty(len(u), dtype=bool)
    seq = np.empty(len(u), dtype=np.int64)
    for s, e in zip(starts, ends):
        mask[s:e] = dp_keep_mask(x[s:e], y[s:e], eps)
        seq[s:e] = np.arange(e - s)
    yield pd.DataFrame(
        {
            "user_id": u[mask],
            "seq": seq[mask],
            "x": x[mask],
            "y": y[mask],
        }
    )
