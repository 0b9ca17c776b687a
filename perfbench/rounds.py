"""Timed rounds that leave out host interference.

Both loops time whole rounds: a block of searches (serve_search) or a pass
over the registry rows (batch_registry).  On a shared virtual machine other
guests take CPU time away for seconds to minutes at a time; the host reports
that time as *steal* in ``/proc/stat``.  Every round records the share of
the machine's CPU time stolen while it ran.  The metrics come from the
rounds whose share stayed at or below ``STEAL_MAX``; the loop runs extra
rounds, up to ``EXTRA`` times ``--seconds`` of request time, to collect
enough of them.  When the host stays busy for longer than that, the least
stolen rounds are used, so a run always reports.
"""

from __future__ import annotations

import statistics
from contextlib import contextmanager

# Runs that lost 3-5 % of the machine's CPU time ran 10-20 % slower than
# runs that lost under 1 %.
STEAL_MAX = 0.02
EXTRA = 1.5  # timed request seconds at most, as a multiple of --seconds


def cpu_times() -> list[int]:
    """The host's aggregate CPU times (``/proc/stat``): user, nice, system,
    idle, iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(start: list[int], end: list[int]) -> float:
    """Share of the machine's CPU time taken by other guests between two
    ``cpu_times`` readings."""
    d = [b - a for a, b in zip(start, end)]
    return d[7] / max(1, sum(d))


class Rounds:
    def __init__(self, seconds: float, min_rounds: int):
        self.seconds = seconds
        self.min_rounds = min_rounds
        self.rounds: list[dict] = []

    def busy(self) -> float:
        return sum(r["s"] for r in self.rounds)

    def _clean(self) -> list[dict]:
        return [r for r in self.rounds if r["steal"] <= STEAL_MAX]

    def more(self) -> bool:
        """Whether to time another round: until ``seconds`` of request time
        and ``min_rounds`` clean rounds, or ``EXTRA * seconds`` of request
        time with at least ``min_rounds`` rounds."""
        if len(self.rounds) < self.min_rounds:
            return True
        if self.busy() >= EXTRA * self.seconds:
            return False
        return self.busy() < self.seconds or len(self._clean()) < self.min_rounds

    @contextmanager
    def round(self):
        """One round; the caller adds its request time to ``s`` and its
        request latencies to ``ms``."""
        rec = {"s": 0.0, "ms": []}
        c0 = cpu_times()
        try:
            yield rec
        finally:
            rec["steal"] = steal_share(c0, cpu_times())
            self.rounds.append(rec)

    def kept(self) -> list[dict]:
        """The rounds the metrics come from."""
        clean = self._clean()
        if len(clean) >= self.min_rounds:
            return clean
        return sorted(self.rounds, key=lambda r: r["steal"])[: self.min_rounds]

    def median_s(self) -> float:
        return statistics.median(r["s"] for r in self.kept())

    def latencies_ms(self) -> list[float]:
        return [x for r in self.kept() for x in r["ms"]]

    def summary(self) -> dict:
        kept = {id(r) for r in self.kept()}
        return {
            "steal": [round(r["steal"], 4) for r in self.rounds],
            "round_s": [round(r["s"], 3) for r in self.rounds],
            "kept": [id(r) in kept for r in self.rounds],
        }
