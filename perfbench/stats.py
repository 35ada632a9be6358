"""Pure statistics over timed operations (no Spark, unit-tested)."""

from __future__ import annotations

import math
import statistics
from collections import defaultdict
from collections.abc import Iterable


def per_type_medians(samples: Iterable[tuple[str, float]]) -> dict[str, float]:
    """Median value per op type from ``(op_type, value)`` pairs."""
    by_type: dict[str, list[float]] = defaultdict(list)
    for op_type, value in samples:
        by_type[op_type].append(value)
    return {t: statistics.median(v) for t, v in by_type.items()}


def geomean_of_type_medians(samples: Iterable[tuple[str, float]]) -> float:
    """Geometric mean over op types of each type's median.

    Each type weighs the same however many samples it has and however
    slow it is, so the figure does not jump between query types the way
    the middle of a mixed 0.2 s / 7 s op stream does."""
    medians = list(per_type_medians(samples).values())
    if not medians:
        raise ValueError("no samples")
    if min(medians) <= 0:
        raise ValueError("durations must be positive")
    return math.exp(sum(math.log(m) for m in medians) / len(medians))


def ops_per_min(durations: list[float]) -> float:
    """Completed ops per minute over a fixed op list: ops divided by the
    summed op wall time, so no op is split by a window boundary."""
    total = sum(durations)
    if not durations or total <= 0:
        raise ValueError("need at least one op with positive duration")
    return 60.0 * len(durations) / total


def failed_op_share(failed: int, attempted: int) -> float:
    """Failed or wrong ops over attempted ops."""
    if attempted < 1 or not 0 <= failed <= attempted:
        raise ValueError(f"bad counts: failed={failed} attempted={attempted}")
    return failed / attempted

