"""Pure bookkeeping for the benchmark: no Spark import.

- :func:`tail` — the "highest percentile with >= 10 samples beyond it"
  rule behind ``op_tail_s``;
- :func:`check_name` / :func:`check_unit` — the metric naming rules;
- :class:`OpLedger` — attempted / failed / checked / wrong accounting;
- :func:`progress_layers` — per-pipeline stream-layer numbers from
  ``StreamingQueryProgress`` dicts;
- :func:`result_line` — the final JSON line.
"""

from __future__ import annotations

import json
import re
import statistics
from dataclasses import dataclass, field

TAIL_BEYOND = 10

_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
_UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def check_name(name: str) -> str:
    if not _NAME.fullmatch(name):
        raise ValueError(f"bad metric name {name!r}")
    return name


def check_unit(unit: str) -> str:
    if not _UNIT.fullmatch(unit):
        raise ValueError(f"bad metric unit {unit!r}")
    return unit


@dataclass(frozen=True)
class Tail:
    value: float
    percentile: float
    beyond: int


def tail(samples, beyond: int = TAIL_BEYOND) -> Tail:
    """The sample at the highest percentile that still has ``beyond``
    samples above it in rank order: index ``n - 1 - beyond`` of the
    ascending sort, reported as percentile ``100 * k / (n - 1)``.  The
    rank never drops below the median, so with ``2 * beyond`` samples
    or fewer the tail is the (upper) median and fewer than ``beyond``
    samples lie beyond it."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    k = max(n - 1 - beyond, n // 2)
    pct = 100.0 * k / (n - 1) if n > 1 else 100.0
    return Tail(xs[k], pct, n - 1 - k)


@dataclass
class OpLedger:
    """Counts ops and their outcomes; an op that raised is *failed*,
    an op whose output was compared with a reference is *checked*, and
    a checked op whose output differed is *wrong*."""

    attempted: int = 0
    failed: int = 0
    checked: int = 0
    wrong: int = 0
    errors: list = field(default_factory=list)

    def ok(self) -> None:
        self.attempted += 1

    def fail(self, what: str) -> None:
        self.attempted += 1
        self.failed += 1
        self.errors.append(what)

    def check(self, matched: bool, what: str = "") -> None:
        self.checked += 1
        if not matched:
            self.wrong += 1
            self.errors.append(what)

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0

    @property
    def wrong_frac(self) -> float:
        return self.wrong / self.checked if self.checked else 0.0

    @property
    def correct(self) -> bool:
        return self.attempted > 0 and self.failed == 0 and (
            self.checked > 0 and self.wrong == 0
        )


def progress_layers(progress: list[dict]) -> dict[str, float]:
    """Sum one pipeline's ``StreamingQueryProgress`` dicts (as returned
    by ``query.recentProgress``) into the stream-layer figures.  Every
    entry is one executed micro-batch, the no-data batch that advances
    the watermark included.  State rows and memory are read from the
    last entry, where they are current."""
    dur = [p.get("durationMs", {}) for p in progress]
    ops = [o for p in progress for o in p.get("stateOperators", [])]
    last_ops = progress[-1].get("stateOperators", []) if progress else []

    def total(key: str) -> float:
        return float(sum(d.get(key, 0) for d in dur))

    return {
        "batches": float(len(progress)),
        "add_batch_ms": total("addBatch"),
        "planning_ms": total("queryPlanning"),
        "offsets_ms": total("latestOffset") + total("walCommit"),
        "commit_ms": total("commitOffsets") + total("commitBatch"),
        "state_rows": float(sum(o.get("numRowsTotal", 0) for o in last_ops)),
        "state_mb": sum(o.get("memoryUsedBytes", 0) for o in last_ops) / 1e6,
        "state_commit_ms": float(sum(o.get("commitTimeMs", 0) for o in ops)),
        "late_rows": float(
            sum(o.get("numRowsDroppedByWatermark", 0) for o in ops)
        ),
    }


def trigger_seconds(progress: list[dict]) -> list[float]:
    """Per-micro-batch ``triggerExecution``, in seconds."""
    return [p["durationMs"]["triggerExecution"] / 1000.0 for p in progress]


def median(xs) -> float:
    return float(statistics.median(xs))


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": check_unit(unit)}


def result_line(ledger: OpLedger, metrics: dict[str, dict]) -> str:
    for name in metrics:
        check_name(name)
    return json.dumps(
        {
            "correct": ledger.correct,
            "attempted": ledger.attempted,
            "failed": ledger.failed,
            "metrics": metrics,
        }
    )
