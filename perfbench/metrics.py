"""Metric helpers and correctness checks, free of Spark so they test fast.

Checks take plain collected rows and return ``None`` when the result is
right, else a one-line reason; ``Tally`` counts every operation attempted
and every one that raised or failed a check.
"""

from __future__ import annotations

import math
import re
import statistics

#: contract name shape: starts with a letter or digit, at most 64 chars
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

#: a percentile is reported only when at least this many samples lie beyond it
TAIL_MIN_BEYOND = 10

#: candidate tail percentiles, highest first
TAIL_PERCENTILES = (99.9, 99.0, 90.0, 50.0)


def percentile(samples, pct: float) -> float:
    """Linear-interpolation percentile (NumPy's default method)."""
    xs = sorted(samples)
    if not xs:
        raise ValueError("no samples")
    pos = (len(xs) - 1) * pct / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def supported_tail(n: int) -> "float | None":
    """Highest candidate percentile with at least ``TAIL_MIN_BEYOND`` of
    ``n`` samples beyond it, or ``None`` when the sample is too small."""
    for pct in TAIL_PERCENTILES:
        # rounded: 100 * (1 - 0.9) is 9.999... in binary floating point
        if round(n * (100.0 - pct) / 100.0, 9) >= TAIL_MIN_BEYOND:
            return pct
    return None


def latency_summary(samples_s) -> dict:
    """Median and the highest supported tail of a list of seconds, in ms,
    with the sample count."""
    n = len(samples_s)
    out = {"n": n, "p50_ms": statistics.median(samples_s) * 1e3 if n else None}
    pct = supported_tail(n)
    if pct is not None:
        out["tail_pct"] = pct
        out["tail_ms"] = percentile(samples_s, pct) * 1e3
    return out


def ratio(hits: int, base: int) -> dict:
    """A ratio reported with its base."""
    return {"value": hits / base if base else None, "hits": hits, "base": base}


class Tally:
    """Operations attempted and failed (raised, or failed a check)."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.failures: list = []

    def record(self, op: str, reason: "str | None") -> bool:
        self.attempted += 1
        if reason is not None:
            self.failed += 1
            self.failures.append(f"{op}: {reason}")
        return reason is None

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


def first_failure(*reasons) -> "str | None":
    return next((r for r in reasons if r is not None), None)


# -- correctness checks ---------------------------------------------------------

def check_ids_once(expected_ids, got_ids) -> "str | None":
    """Every input id appears in the output exactly once."""
    got = list(got_ids)
    seen = set(got)
    if len(seen) != len(got):
        return f"{len(got) - len(seen)} duplicate ids in output"
    exp = set(expected_ids)
    if seen != exp:
        return (f"{len(exp - seen)} ids missing, "
                f"{len(seen - exp)} unexpected ids")
    return None


def check_ranked(rows, n: int = 10) -> "str | None":
    """``rows`` = [(id, jaccard), ...] in result order: at most ``n``,
    distinct ids, jaccard in [0, 1] and non-increasing."""
    if len(rows) > n:
        return f"{len(rows)} rows > n={n}"
    ids = [r[0] for r in rows]
    if len(set(ids)) != len(ids):
        return "duplicate ids in top-n"
    js = [r[1] for r in rows]
    if any(not (0.0 <= j <= 1.0) for j in js):
        return "jaccard outside [0, 1]"
    if any(a < b for a, b in zip(js, js[1:])):
        return "jaccard not sorted descending"
    return None


def check_exact_copy(rows, doc_id) -> "str | None":
    """An exact-copy query ranks its doc first with jaccard 1.0. Ties at 1.0
    are ordered by id, so the doc may share rank 1 with other 1.0 rows."""
    if not rows or rows[0][1] != 1.0:
        return f"rank 1 is {rows[0] if rows else None}, want jaccard 1.0"
    if doc_id not in {i for i, j in rows if j == 1.0}:
        return f"doc {doc_id} not among the jaccard-1.0 rows"
    return None


def check_same_rows(got, want, tol: float = 1e-12) -> "str | None":
    """Two top-n results hold the same (id, jaccard) rows in the same order."""
    if len(got) != len(want):
        return f"{len(got)} rows vs {len(want)} expected"
    for (gi, gj), (wi, wj) in zip(got, want):
        if gi != wi or abs(gj - wj) > tol:
            return f"row ({gi}, {gj}) vs expected ({wi}, {wj})"
    return None
