"""What the runner and the workloads share: the context a workload runs
in and the outcome it returns."""

from __future__ import annotations

import statistics
import sys
from dataclasses import dataclass, field


@dataclass
class Ctx:
    """What a workload gets: the session, its work directory inside the
    checkout, the seed, the measuring time and (traced runs) the tracer."""

    spark: object
    work: str
    seed: int
    seconds: float
    session_s: float
    tracer: object | None = None


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    metrics: dict = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> bool:
        """Count one checked operation; a wrong answer is a failure."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: wrong answer: {what}", file=sys.stderr)
        return ok


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


