"""Pieces shared by the three workloads: op accounting with deferred output
checks, and small statistics helpers."""

from __future__ import annotations

import os
import statistics
import traceback


class Ops:
    """Runs public-API calls as ops inside tracer spans. An op fails when it
    raises or when its output check reports a problem; checks run after
    the timed cycle, so they never count toward a timing."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.attempted = 0
        self.failures: list[dict] = []
        self._pending: list[tuple[str, object, object]] = []

    def run(self, layer: str, name: str, fn, check=None):
        self.attempted += 1
        with self.tracer.span(layer, name):
            try:
                out = fn()
            except Exception as e:  # an op boundary: record and keep going
                self.failures.append({
                    "op": name,
                    "error": f"{type(e).__name__}: {e}"[:400],
                    "where": traceback.format_exc(limit=-3)[-600:],
                })
                return None
        if check is not None:
            self._pending.append((name, out, check))
        return out

    def check_pending(self) -> None:
        pending, self._pending = self._pending, []
        for name, out, check in pending:
            try:
                problem = check(out)
            except Exception as e:
                problem = f"check raised {type(e).__name__}: {e}"
            if problem:
                self.failures.append({"op": name, "error": str(problem)[:400]})


def median(xs) -> float:
    return statistics.median(xs) if xs else float("nan")


def tail(xs: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it; with fewer than 11 samples, the maximum."""
    s = sorted(xs)
    n = len(s)
    if n < 11:
        return (s[-1] if s else float("nan")), 100.0, n
    i = n - 11
    return s[i], 100.0 * (i + 1) / n, n


def du(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total
