"""Percentiles and commit lag from the server's send and ack logs."""

from __future__ import annotations

import math

#: candidate percentiles, highest first
PERCENTILES = (99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(samples: list[float], p: float) -> float:
    """Nearest-rank percentile of ``samples`` (``p`` in 0..100)."""
    if not samples:
        raise ValueError("percentile of no samples")
    s = sorted(samples)
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]


def tail_percentile(n: int) -> float | None:
    """The highest of :data:`PERCENTILES` that leaves at least ten of
    ``n`` samples beyond it; None when even the median does not."""
    for p in PERCENTILES:
        if n * (1.0 - p / 100.0) >= 10.0 - 1e-9:
            return p
    return None


def commit_lags(sent: list[tuple[int, float]],
                acks: list[tuple[float, int]]) -> list[float]:
    """Per-transaction commit lag: from the server sending the COMMIT
    (``sent``: ``(final_lsn, send time)``) to the arrival of the first
    standby status update whose flush LSN covers it (``acks``:
    ``(arrival time, flush LSN)``). A transaction no acknowledgement
    covers has no lag; the caller counts it as failed."""
    acks = sorted(acks)
    lags: list[float] = []
    for lsn, t_sent in sent:
        t_ack = next((t for t, f in acks if f >= lsn and t >= t_sent), None)
        if t_ack is not None:
            lags.append(t_ack - t_sent)
    return lags
