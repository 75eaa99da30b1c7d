"""Output checks: query results against their DuckDB oracles, and log-store
reads against a model of acknowledged rows.

The query comparison uses the repository's parity harness's canonical form
(``tests.parity.canonical_rows``): columns sorted by name, every cell
stringified (floats via ``repr``, NULL/NaN as one marker), rows sorted,
values compared exactly.
"""

from __future__ import annotations

import bisect
from datetime import datetime, timezone

import pandas as pd

from tests.parity import canonical_rows


def diff_results(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when ``got`` equals ``want`` in canonical form, else the first
    difference as one line."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns differ: got {sorted(got.columns)} want {sorted(want.columns)}"
    g, w = canonical_rows(got), canonical_rows(want)
    if len(g) != len(w):
        return f"row count differs: got {len(g)} want {len(w)}"
    for i, (a, b) in enumerate(zip(g, w)):
        if a != b:
            return f"row #{i} differs: got {a} want {b}"
    return None


def ts_us(value: datetime) -> int:
    """Microseconds since the epoch of an aware or naive-UTC datetime."""
    if value.tzinfo is None:
        value = value.replace(tzinfo=timezone.utc)
    delta = value - datetime(1970, 1, 1, tzinfo=timezone.utc)
    return (delta.days * 86_400 + delta.seconds) * 1_000_000 + delta.microseconds


class AckModel:
    """Acknowledged rows per (container, session), as sorted timestamps.

    A row is acknowledged once ``write_logs`` returned or the stream drain
    that carried it terminated. Every inclusive time-range read must return
    exactly the acknowledged rows in its window."""

    def __init__(self) -> None:
        self._ts: dict[tuple[str, str], list[int]] = {}

    def ack(self, key: tuple[str, str], stamps_us: list[int]) -> None:
        seq = self._ts.setdefault(key, [])
        for t in stamps_us:
            bisect.insort(seq, t)

    def keys(self) -> list[tuple[str, str]]:
        return sorted(k for k, v in self._ts.items() if v)

    def stamps(self, key: tuple[str, str]) -> list[int]:
        return self._ts.get(key, [])

    def total(self, key: tuple[str, str]) -> int:
        return len(self._ts.get(key, []))

    def count(self, key: tuple[str, str], lo_us: int, hi_us: int) -> int:
        """Acknowledged rows with ``lo_us <= ts <= hi_us``."""
        seq = self._ts.get(key, [])
        return bisect.bisect_right(seq, hi_us) - bisect.bisect_left(seq, lo_us)


def check_count(what: str, got: int, want: int) -> str | None:
    return None if got == want else f"{what}: got {got} rows, want {want}"
