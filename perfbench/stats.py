"""Summary statistics and output checks shared by the workloads."""

from __future__ import annotations

import decimal
import hashlib
import math
import statistics
import time

TAIL_BEYOND = 10


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float, int]:
    """The highest percentile with at least ``beyond`` samples above it.

    Returns ``(value, percentile, samples)``.  With nearest-rank
    percentiles the answer is the sample with exactly ``beyond`` larger
    ones, at percentile ``100·(n − beyond)/n``.  Below ``2·beyond`` samples
    no percentile at or above the median has that many samples beyond it;
    the median is returned then, at percentile 50, rather than a maximum
    that rests on one sample."""
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("no samples")
    if n < 2 * beyond:
        return statistics.median(s), 50.0, n
    return s[n - beyond - 1], 100.0 * (n - beyond) / n, n


def median(values: list[float]) -> float:
    return statistics.median(values)


class Ledger:
    """Items attempted and the ones that failed, with the reason."""

    def __init__(self):
        self.attempted = 0
        self.failures: list[tuple[str, str]] = []

    def record(self, item: str, errors: list[str]) -> bool:
        self.attempted += 1
        if errors:
            self.failures.append((item, "; ".join(errors)))
        return not errors

    @property
    def failed(self) -> int:
        return len(self.failures)

    @property
    def failed_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def checked_item(run, check, fingerprint, clock=time.perf_counter) -> tuple[float, list[str]]:
    """Run one item; return its latency and every reason it failed.

    An item fails when ``run`` raises, when ``check`` finds its output
    wrong, or when the session conf ``fingerprint()`` differs after it."""
    before = fingerprint()
    t0 = clock()
    try:
        out = run()
        lat = clock() - t0
        errors = check(out)
    except Exception as e:  # an item that raises is a failed item; the run goes on
        lat = clock() - t0
        errors = [f"{type(e).__name__}: {str(e)[:300]}"]
    return lat, errors + conf_errors(before, fingerprint())


def conf_errors(before: dict, after: dict) -> list[str]:
    """A failure message per watched conf value an item left changed."""
    return [
        f"session conf {k} changed: {before[k]!r} -> {after.get(k)!r}"
        for k in before
        if before[k] != after.get(k)
    ]


# ---------------------------------------------------------------------------
# order-insensitive, type-tagged digest of a result set
# ---------------------------------------------------------------------------
def _cell(v):
    # tag each scalar with a coarse type so a DECIMAL never equals a DOUBLE
    if v is None:
        return None
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, decimal.Decimal):
        return ("d", str(v))
    if isinstance(v, float):
        return ("f", "NaN" if math.isnan(v) else repr(v))
    if isinstance(v, dict):
        return ("m", tuple(sorted((repr(_cell(k)), _cell(x)) for k, x in v.items())))
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    return v


def canonical_rows(cols: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(type(x)), str(x)) for x in t))
    return out


def digest(cols: list[str], rows: list[tuple]) -> tuple[int, str]:
    """(row count, md5 over sorted column names and sorted canonical rows)."""
    h = hashlib.md5(repr(sorted(cols)).encode())
    for r in canonical_rows(cols, rows):
        h.update(repr(r).encode())
    return len(rows), h.hexdigest()
