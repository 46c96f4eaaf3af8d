"""Op execution and accounting shared by the workloads."""

from __future__ import annotations

import sys
import time

from tracing import Tracer


class Report:
    """Counts and timings of one measured pass."""

    def __init__(self):
        self.attempted = 0
        self.failures: list[tuple[str, str]] = []
        self.digests: dict[str, str] = {}
        self.rows: dict[str, int] = {}
        self.op_times: dict[str, list[float]] = {}
        # the unit the end-to-end latency is taken over: one query
        # (ohsome_queries) or one whole batch iteration (spatial_batch)
        self.op_latencies: list[float] = []
        self.files_read_frac = 0.0

    @property
    def failed(self) -> int:
        return len(self.failures)

    def fail(self, op: str, why: str) -> None:
        self.failures.append((op, why))
        print(f"perfbench: FAILED {op}: {why}", file=sys.stderr)


class OpRunner:
    """Runs an op and checks its output.

    In an untraced run each op runs once.  In a traced run each op runs
    twice back to back, once untraced and once inside its spans, and the
    order alternates from op to op, so the warm-up the first execution
    pays falls on both sides equally and the difference of the two sums is
    the tracing overhead."""

    def __init__(self, untraced: Report, tracer: Tracer | None = None,
                 traced: Report | None = None):
        self.untraced = untraced
        self.tracer = tracer
        self.traced = traced
        self._k = 0
        self._off = Tracer()

    @property
    def tracing(self) -> bool:
        return self.traced is not None

    def run(self, name: str, fn, check):
        """``fn(tracer)`` runs the op and returns its output (consumed
        inside the timed region); ``check(output)`` returns None when the
        output is right, else the reason.  Returns the last output."""
        sides = [(self._off, self.untraced)]
        if self.tracing:
            sides.append((self.tracer, self.traced))
            if self._k % 2:
                sides.reverse()
        self._k += 1
        out = None
        req = f"{name}#{len(self.untraced.op_times.get(name, ()))}"
        for tracer, rep in sides:
            rep.attempted += 1
            t0 = time.perf_counter()
            try:
                with tracer.request(req):
                    out = fn(tracer)
                dt = time.perf_counter() - t0
                why = check(out)
            except Exception as e:  # noqa: BLE001 - an op failure is counted, not fatal
                dt, out, why = time.perf_counter() - t0, None, f"{type(e).__name__}: {e}"
            rep.op_times.setdefault(name, []).append(dt)
            if why:
                rep.fail(name, why)
        return out
