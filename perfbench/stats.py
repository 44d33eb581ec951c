"""Small pure helpers: percentiles, file-to-batch mapping, span self time."""

from __future__ import annotations

import bisect
import math
import statistics
from collections.abc import Sequence

MIN_BEYOND = 10  # samples that must lie beyond a reported percentile


def percentile(values: Sequence[float], q: float) -> float:
    """The ``q``-quantile (0 < q < 1) of ``values`` by linear interpolation.

    Refuses (``ValueError``) a tail percentile that fewer than
    ``MIN_BEYOND`` samples lie beyond: with 100 samples a p95 rests on five
    values, which is noise, not a tail."""
    if not 0.0 < q < 1.0:
        raise ValueError(f"quantile {q} outside (0, 1)")
    n = len(values)
    beyond = math.floor(n * (1.0 - q))
    if q > 0.5 and beyond < MIN_BEYOND:
        raise ValueError(
            f"p{q * 100:g} needs {MIN_BEYOND} samples beyond it; {n} samples give {beyond}"
        )
    if n == 0:
        raise ValueError("no samples")
    xs = sorted(values)
    pos = q * (n - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: Sequence[float]) -> float:
    if not values:
        raise ValueError("no samples")
    return float(statistics.median(values))


def files_to_batches(
    file_rows: Sequence[int], batch_rows: Sequence[int]
) -> list[int]:
    """Index of the batch that committed each file.

    Files are taken in drop order, batches in commit order. Without a
    per-trigger file cap every micro-batch of the file source takes all
    unseen files in modification-time order, so batch ``b`` commits exactly
    the files whose cumulative row count lies in
    ``(cum_batch[b-1], cum_batch[b]]``. Raises ``ValueError`` if a batch
    boundary falls inside a file (the source read it partially, which the
    mapping cannot explain) or if rows are left uncommitted."""
    cum_batch = []
    total = 0
    for n in batch_rows:
        total += n
        cum_batch.append(total)
    out = []
    cum = 0
    for n in file_rows:
        if n <= 0:
            raise ValueError("every file must carry at least one row")
        start = cum
        cum += n
        b = bisect.bisect_left(cum_batch, cum)
        if b == len(cum_batch):
            raise ValueError(f"rows {start + 1}..{cum} were never committed")
        if b > 0 and cum_batch[b - 1] > start:
            raise ValueError(f"batch {b - 1} ends inside a file (rows {start + 1}..{cum})")
        out.append(b)
    if cum_batch and cum_batch[-1] != cum:
        raise ValueError(f"batches committed {cum_batch[-1]} rows, files hold {cum}")
    return out


def covered(intervals: Sequence[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the part of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
