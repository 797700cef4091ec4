"""Summary statistics for latency samples."""

PERCENTILES = (50.0, 90.0, 99.0, 99.9)


def _rank(n, p):
    """Nearest rank ceil(n * p / 100), in integers (p has one decimal)."""
    return max(1, -(-n * round(p * 10) // 1000))


def percentile(values, p):
    """Nearest-rank percentile of `values` (p in 0..100)."""
    s = sorted(values)
    if not s:
        raise ValueError("no samples")
    return s[_rank(len(s), p) - 1]


def median(values):
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def tail(values):
    """The highest of PERCENTILES with at least ten samples beyond it, as
    (percentile, value); None when there are fewer than 20 samples."""
    n = len(values)
    best = None
    for p in PERCENTILES:
        if n - _rank(n, p) >= 10:
            best = (p, percentile(values, p))
    return best
