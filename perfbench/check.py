"""Result checks: order-insensitive result hashes and failure counting.

A timed operation whose result disagrees with its expectation counts
as a failure exactly like one that raised, so ``failed_ops_share``
covers wrong answers as well as errors.
"""

from __future__ import annotations

import hashlib
import math


def _canon(v):
    """One canonical, hashable form per cell value: numbers compare by
    value (an int64 column on one engine and a double on the other hash
    alike), NaN is NULL, anything else is its text."""
    if hasattr(v, "item"):
        v = v.item()  # numpy scalar
    if v is None or isinstance(v, bool):
        return v
    if isinstance(v, (int, float)):
        return None if math.isnan(v) else repr(float(v))
    return str(v)


def result_digest(pdf) -> tuple[int, str]:
    """(row count, order-insensitive sha256) of a pandas frame.

    Columns are taken in name order so the digest does not depend on
    projection order either.
    """
    cols = sorted(pdf.columns)
    rows = sorted(
        repr(tuple(_canon(v) for v in row))
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return len(rows), h.hexdigest()


class Tally:
    """Attempted / failed operation counts plus the first few reasons."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def record(self, name: str, problems: list[str]) -> bool:
        """Count one operation; ``problems`` empty means it passed."""
        self.attempted += 1
        if problems:
            self.failed += 1
            if len(self.reasons) < 20:
                self.reasons.append(f"{name}: {'; '.join(problems)[:300]}")
        return not problems

    @property
    def share(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def expect_equal(label: str, got, want) -> list[str]:
    return [] if got == want else [f"{label}: got {got!r}, want {want!r}"]
