"""Order statistics the benchmark reports."""

from __future__ import annotations

#: samples that must lie strictly beyond the reported tail value
TAIL_BEYOND = 10


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float, int]:
    """The highest percentile that has at least ``beyond`` samples above it.

    Returns ``(value, percentile, sample_count)``.  With ``n`` samples the
    value is the ``beyond + 1``-th largest, which sits at percentile
    ``100 * (n - beyond) / n``; fewer than ``beyond + 1`` samples have no
    such percentile and raise ``ValueError``.
    """
    n = len(values)
    if n <= beyond:
        raise ValueError(f"tail needs more than {beyond} samples, got {n}")
    ordered = sorted(values)
    return ordered[n - beyond - 1], 100.0 * (n - beyond) / n, n

