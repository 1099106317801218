"""Rounds, percentiles and failure counting — no Spark in this module.

A round runs every query of a workload once. ``clients`` closed-loop clients
share one queue in a seeded order: each takes the next query as soon as its
previous one has finished, so a slow query holds up only its own client. The
round ends when the last query finishes, and nothing is in flight between
rounds, which is where the caller may release shared scratch state.

A query that raises is never dropped: its time until the failure stays in the
round's wall time, it counts in ``failed``, and it misses every latency limit
(it enters the latency samples as the whole measured time).
"""

from __future__ import annotations

import math
import re
import statistics
import threading
import time
from collections.abc import Callable, Sequence
from dataclasses import dataclass, field

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
PERCENTILES = (50.0, 90.0, 99.0, 99.9)
MIN_BEYOND = 10  # samples a reported percentile must have above it


@dataclass
class Outcome:
    name: str
    latency_s: float
    error: str | None = None
    result: object = None

    @property
    def ok(self) -> bool:
        return self.error is None


@dataclass
class Round:
    wall_s: float
    outcomes: list[Outcome] = field(default_factory=list)


def run_round(
    order: Sequence[str],
    clients: int,
    execute: Callable[[str], object],
) -> Round:
    """Run each name in ``order`` once through ``execute`` on ``clients``
    threads; ``execute`` returns the materialized result or raises."""
    lock = threading.Lock()
    pending = list(reversed(order))
    outcomes: list[Outcome] = []

    def client() -> None:
        while True:
            with lock:
                if not pending:
                    return
                name = pending.pop()
            t0 = time.perf_counter()
            try:
                result = execute(name)
                out = Outcome(name, time.perf_counter() - t0, result=result)
            except Exception as exc:  # a failing query is counted, never fatal
                out = Outcome(name, time.perf_counter() - t0,
                              error=f"{type(exc).__name__}: {str(exc)[:300]}")
            with lock:
                outcomes.append(out)

    t0 = time.perf_counter()
    if clients <= 1:
        client()
    else:
        threads = [threading.Thread(target=client, name=f"client-{i}") for i in range(clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
    return Round(time.perf_counter() - t0, outcomes)


def _betainc(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta function I_x(a, b), by its continued
    fraction (modified Lentz)."""
    if x <= 0.0 or x >= 1.0:
        return 0.0 if x <= 0.0 else 1.0
    if x > (a + 1.0) / (a + b + 2.0):  # the fraction converges fast below this
        return 1.0 - _betainc(b, a, 1.0 - x)
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log1p(-x)) / a
    tiny = 1e-300
    c, d, f = 1.0, 0.0, 1.0
    for i in range(400):
        m = i // 2
        if i == 0:
            num = 1.0
        elif i % 2:
            num = -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))
        else:
            num = m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m))
        d = 1.0 + num * d
        d = 1.0 / (d if abs(d) > tiny else tiny)
        c = 1.0 + num / c
        c = c if abs(c) > tiny else tiny
        f *= c * d
        if abs(c * d - 1.0) < 1e-14:
            break
    return front * (f - 1.0)


def percentile(values: Sequence[float], p: float) -> float:
    """Harrell-Davis estimate of the p-th percentile: a mean of all order
    statistics weighted by a Beta((n+1)q, (n+1)(1-q)) distribution. With a
    few samples it is far steadier than a single order statistic, which
    jumps between neighbouring queries from run to run."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0.0 < p < 100.0:
        raise ValueError(f"percentile must be in (0, 100), got {p}")
    s = sorted(values)
    n = len(s)
    a, b = p / 100.0 * (n + 1), (1.0 - p / 100.0) * (n + 1)
    cdf = [_betainc(a, b, i / n) for i in range(n + 1)]
    return sum((hi - lo) * v for lo, hi, v in zip(cdf, cdf[1:], s))


def tail_percentile(n: int) -> float | None:
    """The highest of PERCENTILES that leaves at least MIN_BEYOND of ``n``
    samples above it, or None when even the median does not."""
    best = None
    for p in PERCENTILES:
        if n * (1.0 - p / 100.0) >= MIN_BEYOND - 1e-9:
            best = p
    return best


def another_round(done: int, queries: int, time_left: bool, fixed: int | None) -> bool:
    """Whether to measure one more round: a fixed count if the workload has
    one, else until time is up and the latency samples carry a p90."""
    if fixed is not None:
        return done < fixed
    return done == 0 or time_left or (tail_percentile(done * queries) or 0.0) < 90.0


def failed_frac(rounds: Sequence[Round]) -> float:
    """Queries that raised or returned a wrong result, over queries attempted."""
    outcomes = [o for r in rounds for o in r.outcomes]
    return sum(not o.ok for o in outcomes) / len(outcomes)


def summarize(rounds: Sequence[Round]) -> dict[str, float]:
    """End-to-end figures of the measured rounds (all but ``setup_s`` and
    ``peak_rss_mb``)."""
    if not rounds:
        raise ValueError("no measured rounds")
    outcomes = [o for r in rounds for o in r.outcomes]
    done = sum(o.ok for o in outcomes)
    busy = sum(r.wall_s for r in rounds)
    latencies = [o.latency_s if o.ok else busy for o in outcomes]
    return {
        "wall_s": statistics.median(r.wall_s for r in rounds),
        "queries_per_s": done / busy,
        "latency_p50_s": percentile(latencies, 50.0),
        "latency_p90_s": percentile(latencies, 90.0),
        "latency_samples": len(latencies),
        "latency_tail_percentile": tail_percentile(len(latencies)),
    }
