"""Small statistics the benchmark reports, kept free of Spark so they can be
tested on their own."""

from __future__ import annotations

import datetime as dt
import math
import statistics

MIN_BEYOND = 10  # a percentile is reported only with this many samples above it


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie above the ``q``-quantile's rank."""
    return n - math.ceil(q * n)


def supports(n: int, q: float) -> bool:
    return samples_beyond(n, q) >= MIN_BEYOND


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of no samples")
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def checked_quantile(values, q: float) -> float:
    """``quantile`` that refuses a percentile the sample cannot support."""
    if not supports(len(values), q):
        raise ValueError(
            f"p{q * 100:g} needs {MIN_BEYOND} samples beyond it; have {len(values)} samples"
        )
    return quantile(values, q)


def median_or_zero(values) -> float:
    """Median of a per-layer series; 0 when the layer did no work in this workload."""
    return float(statistics.median(values)) if values else 0.0


def iso_ms(text: str) -> int:
    """Epoch milliseconds of a progress-report timestamp such as
    ``2020-09-14T09:01:59.880Z``."""
    t = dt.datetime.strptime(text.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f")
    return round((t - dt.datetime(1970, 1, 1)).total_seconds() * 1000)


def batch_watermarks(progress: list[dict]) -> list[tuple[int, int]]:
    """``(batchId, watermark_ms)`` per progress report, in batch order. The
    watermark a report carries is the one its batch evicted state with."""
    out = []
    for p in sorted(progress, key=lambda p: p["batchId"]):
        wm = (p.get("eventTime") or {}).get("watermark")
        out.append((p["batchId"], iso_ms(wm) if wm else 0))
    return out


def attribute_windows(progress: list[dict], window_ends_ms) -> dict[int, int | None]:
    """Batch that emitted each window, from the watermarks alone.

    An append-mode windowed aggregate emits a window in the first batch whose
    eviction watermark has reached the window's end (``end <= watermark``).
    Windows no batch has closed yet map to ``None``.
    """
    marks = batch_watermarks(progress)
    out: dict[int, int | None] = {}
    for end in window_ends_ms:
        out[end] = next((b for b, wm in marks if wm >= end), None)
    return out
