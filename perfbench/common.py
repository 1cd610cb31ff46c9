"""What every workload receives and returns."""

from __future__ import annotations

import statistics
import traceback
from dataclasses import dataclass, field

from perfbench.trace import Tracer


@dataclass
class RunContext:
    spark: object
    seed: int
    seconds: float
    work: str  # scratch directory of this run, inside the checkout
    tracer: Tracer


@dataclass
class Outcome:
    """Operations attempted and failed, the end-to-end metrics, the
    per-layer metrics (traced runs) and descriptive detail."""

    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    metrics: dict[str, tuple[float, str]] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    detail: dict[str, object] = field(default_factory=dict)
    # the measured window (epoch seconds) and the operations timed in it;
    # Spark event-log totals are reported per operation of this window
    window: tuple[float, float] = (0.0, 0.0)
    n_ops: float = 0

    def fail(self, what: str, exc: BaseException | None = None) -> None:
        self.failed += 1
        msg = what if exc is None else f"{what}: {type(exc).__name__}: {exc}"
        if exc is not None:
            traceback.print_exception(exc)
        self.errors.append(msg)


def quantile(values: list[float], q: float) -> float:
    """The q-quantile (0 < q < 1, in hundredths) with linear
    interpolation; the median for q=0.5."""
    if not values:
        raise ValueError("no samples")
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]
