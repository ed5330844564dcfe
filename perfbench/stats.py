"""The benchmark's own arithmetic: the tail percentile, throughput and the
converged-GC stopping rule. Pure functions, tested in ``test_stats.py``."""

from __future__ import annotations

from typing import Callable

#: A tail percentile must leave at least this many samples beyond it.
TAIL_BEYOND = 10

#: Converged GC: this many consecutive pairs of readings must each agree
#: within REL_TOL of the larger one, within MAX_ROUNDS rounds.
REL_TOL = 0.01
PAIRS = 2
MAX_ROUNDS = 20


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that still has at
    least ``TAIL_BEYOND`` samples strictly beyond it in rank.

    With ``n`` sorted samples that is rank ``n - TAIL_BEYOND`` (1-based),
    the ``100 * (n - TAIL_BEYOND) / n`` percentile. With ``TAIL_BEYOND``
    samples or fewer no percentile qualifies; the maximum is returned
    with percentile 100.0 so the caller can still report it, flagged by
    the sample count it records beside it.
    """
    if not samples:
        raise ValueError("tail() of no samples")
    xs = sorted(samples)
    n = len(xs)
    if n <= TAIL_BEYOND:
        return xs[-1], 100.0
    rank = n - TAIL_BEYOND
    return xs[rank - 1], 100.0 * rank / n


def throughput(ops_completed: int, wall_s: float) -> float:
    """Ops completed per second of wall time. Failed ops are not
    completed work and must not be counted by the caller."""
    if wall_s <= 0:
        raise ValueError(f"non-positive wall time {wall_s!r}")
    return ops_completed / wall_s


def converge(
    collect: Callable[[], None], read: Callable[[], float]
) -> tuple[float, int]:
    """Repeat ``collect()`` then ``read()`` until ``PAIRS`` consecutive
    pairs of readings each agree within ``REL_TOL`` of the larger one.
    Returns (last reading, rounds taken). Raises if ``MAX_ROUNDS`` pass
    first, so an unsteady reading is never reported as a measurement.

    One agreeing pair is not enough for the JVM heap: py4j proxies free
    their JVM objects only after the Python GC, and Spark's cleaner frees
    blocks only after the JVM GC finds them unreachable, so the heap can
    hold still for one round and then drop by 20% or more."""
    readings: list[float] = []
    for rounds in range(1, MAX_ROUNDS + 1):
        collect()
        readings.append(read())
        last = readings[-(PAIRS + 1):]
        if len(last) == PAIRS + 1 and all(
            abs(a - b) <= REL_TOL * max(a, b) for a, b in zip(last, last[1:])
        ):
            return readings[-1], rounds
    raise RuntimeError(
        f"reading did not settle within {REL_TOL:.0%} in {MAX_ROUNDS} rounds"
    )
