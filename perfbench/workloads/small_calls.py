"""small_calls: many sequential ``interop.lag_matrix_2d_pd`` calls.

This is the reference library's own usage pattern, one small in-memory
array per call. Driver planning, job and task launch and the local Arrow
conversion dominate; data volume is close to zero. It runs the same lag
plan builder as lag_batch with almost no data, so a parallelism change
that helps one and hurts the other shows on both.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

import gen
from harness import Workload, latency_summary, passes_for

WARM_BASE = 1_000_000  # call indices of warm-up inputs, disjoint from timed ones
SPAN = "interop.lag_matrix_2d_pd"
BLOCK_S = 1.76  # one block of the call design (eight calls) on a 4-core machine


class SmallCalls(Workload):
    name = "small_calls"

    def generate(self) -> None:
        # inputs are drawn per call from (seed, call index), see gen.small_call
        self.props = {"series": "1-16", "steps": "100-2000", "lags": "1-5 distinct of 0..10", "layouts": "row/col alternating"}

    def _call(self, spark, i: int, rec=None):
        """One call on input i; with ``rec`` it is timed (input generation
        stays outside the span)."""
        from time_sift_spark.interop import lag_matrix_2d_pd

        data, layout, lags = gen.small_call(self.seed, i)
        if rec is None:
            return lag_matrix_2d_pd(spark, data, layout, lags)
        self.cells += data.size
        return self.call(rec, SPAN, lambda: lag_matrix_2d_pd(spark, data, layout, lags))

    def warm(self, spark) -> None:
        # two blocks of the call design: per-call time still falls over
        # the first dozen calls of a fresh JVM
        for j in range(2 * len(gen.CALL_DESIGN)):
            self._call(spark, WARM_BASE + j)

    def measure(self, spark, rec, seconds: float) -> None:
        self.results: list = []
        self.cells = 0
        # whole blocks only, so every run asks for the same mix of shapes
        self.passes = len(gen.CALL_DESIGN) * passes_for(seconds, BLOCK_S)
        for i in range(self.passes):
            self.results.append(self._call(spark, i, rec))

    def check(self, spark) -> None:
        from time_sift_spark.interop import lag_matrix_2d_np

        self.np_ms = []
        for i, got in enumerate(self.results):
            if got is None:
                continue
            data, layout, lags = gen.small_call(self.seed, i)
            t0 = time.perf_counter()
            want = lag_matrix_2d_np(data, layout, lags)
            self.np_ms.append((time.perf_counter() - t0) * 1000.0)
            if got.shape != want.shape or not np.array_equal(got, want, equal_nan=True):
                self.problem(f"{SPAN}#{i}", f"call {i} ({layout}, lags {lags}) differs from lag_matrix_2d_np")

    def e2e(self, rec) -> dict:
        walls = rec.walls(SPAN)
        return {"rows_per_s": self.cells / sum(walls), "latency_p50_ms": statistics.median(walls) * 1000.0}

    def report(self, rec):
        lat = latency_summary(rec.walls(SPAN))
        out = [("call_p50_ms", lat["p50"], "ms", lat["n"])]
        out += [(f"call_{k}_ms", v, "ms", lat["n"]) for k, v in lat.items() if k not in ("n", "p50")]
        out.append(("cells_per_s", self.e2e(rec)["rows_per_s"], "cells/s", lat["n"]))
        return out

    def layers(self, rec, attrs, progress) -> dict:
        calls = [s for s in rec.spans if s.name == SPAN]

        def per_call(key, scale=1.0):
            return statistics.median(attrs[s.id].get(key, 0.0) * scale for s in calls)

        return {
            f"{SPAN}.jobs_per_call": (per_call("jobs"), "count"),
            f"{SPAN}.tasks_per_call": (per_call("tasks"), "count"),
            f"{SPAN}.driver_ms_per_call": (per_call("driver_s", 1000.0), "ms"),
            f"{SPAN}.exec_run_ms_per_call": (per_call("exec_run_s", 1000.0), "ms"),
            "interop.lag_matrix_2d_np.p50_ms": (statistics.median(self.np_ms), "ms"),
        }
