"""Pure summarizing functions of the benchmark: no Spark, no I/O.

Spans, latencies and check outcomes go in; metric values come out.
The unit tests in ``perfbench/tests`` drive these on synthetic input.
"""

from __future__ import annotations

import hashlib
import re
import statistics
from collections import defaultdict
from dataclasses import dataclass, field

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def valid_name(name: str) -> bool:
    """A metric or workload name: starts with a letter or digit, then
    at most 63 more letters, digits, ``_``, ``.`` or ``-``."""
    return NAME_RE.fullmatch(name) is not None


@dataclass
class Span:
    """One timed interval of the trace. ``parent`` is the index of the
    enclosing span in the same list, or None for a root."""

    name: str
    start: float
    end: float
    parent: int | None
    exec_id: str
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover
    (children clipped to the parent's interval)."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            p = spans[s.parent]
            lo, hi = max(s.start, p.start), min(s.end, p.end)
            if hi > lo:
                children[s.parent].append((lo, hi))
    return [s.duration - _covered(children[i]) for i, s in enumerate(spans)]


def self_time_by_name(spans: list[Span], keep=lambda s: True) -> dict[str, float]:
    """Summed self time per span name, over the spans ``keep`` admits."""
    out: dict[str, float] = defaultdict(float)
    for s, t in zip(spans, self_times(spans)):
        if keep(s):
            out[s.name] += t
    return dict(out)


def warm_total(latencies: dict[str, list[float]]) -> float:
    """``warm_s``: the sum over the mix of each query's median latency
    across its warm executions."""
    return sum(statistics.median(v) for v in latencies.values())


def fail_frac(attempted: int, failed: int) -> float:
    """Share of executions that raised or failed their output check."""
    if attempted < 1:
        raise ValueError("no execution was attempted")
    return failed / attempted


def rows_digest(rows: list[tuple]) -> str:
    """Order-insensitive digest of canonical rows (as
    ``hearthstats_spark.oracle.canon_rows`` returns them)."""
    h = hashlib.sha256()
    for row in sorted(rows):
        h.update(repr(row).encode())
        h.update(b"\n")
    return h.hexdigest()


@dataclass
class Check:
    """The outcome of one output check."""

    query: str
    ok: bool
    rows: int
    detail: str = ""


def check_digest(query: str, rows: list[tuple], expected: str) -> Check:
    """Hash-exact check of a query's canonical rows against the
    digest the oracle's rows give."""
    got = rows_digest(rows)
    ok = got == expected
    detail = "" if ok else f"digest {got[:12]} != expected {expected[:12]}"
    return Check(query, ok, len(rows), detail)


@dataclass
class Tally:
    """Executions attempted and failed over a run, with the reason
    for every failure."""

    attempted: int = 0
    failed: int = 0
    reasons: list[str] = field(default_factory=list)

    def record(self, ok: bool, reason: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.mark_failed(reason)

    def mark_failed(self, reason: str) -> None:
        """Fail an execution already recorded as attempted."""
        self.failed += 1
        self.reasons.append(reason)

    @property
    def fail_frac(self) -> float:
        return fail_frac(self.attempted, self.failed)


def exit_code(checks: list[Check], tally: Tally, setup_errors: list[str]) -> int:
    """0 only when every output check passed, no execution failed and
    the run started clean."""
    if setup_errors or tally.failed or not all(c.ok for c in checks):
        return 1
    return 0


def ratio(num: float, den: float) -> float:
    """``num / den``, and 0.0 when nothing was attempted."""
    return num / den if den else 0.0
