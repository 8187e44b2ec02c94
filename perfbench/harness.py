"""The flow every workload shares: generate, set up, measure, check, report.

One process, one SparkSession on ``local[<cores>]``, and a single client:
the benchmark's own driver thread calls the repo's public functions in a
closed loop (lag_stream's open-loop phase adds one generator thread).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import traceback

import numpy as np
import pandas as pd

import stats
from tracing import PeakRss, ProgressLog, Recorder, read_event_log, span_attrs

NOOP = "noop"


def force(df) -> None:
    """Run a DataFrame to completion without collecting it."""
    df.write.format(NOOP).mode("overwrite").save()


class Workload:
    """One workload. Subclasses fill in generate/warm/measure/check and
    the metric maps; the base class counts calls and failures."""

    name = ""

    def __init__(self, seed: int, data_dir: str):
        self.seed = seed
        self.data_dir = data_dir
        self.props: dict = {}
        self.attempted = 0
        self.failed = 0
        self.passes = 0
        self.traced = False
        self.problems: list[tuple[str, str]] = []

    def call(self, rec: Recorder, name: str, fn):
        """Time one public-function call as a span; a raise counts as a
        failed operation and returns None."""
        self.attempted += 1
        with rec.span(name):
            try:
                return fn()
            except Exception:
                self.failed += 1
                print(f"[{self.name}] {name} raised:\n{traceback.format_exc()}", file=sys.stderr)
                return None

    def problem(self, op: str, text: str) -> None:
        self.problems.append((op, text))
        print(f"[{self.name}] check failed for {op}: {text}", file=sys.stderr)

    # -- hooks -------------------------------------------------------------
    def generate(self) -> None: ...
    def warm(self, spark) -> None: ...  # untimed warm-up pass, the end of set-up
    def measure(self, spark, rec: Recorder, seconds: float) -> None: ...
    def check(self, spark) -> None: ...
    def e2e(self, rec: Recorder) -> dict: ...  # rows_per_s, latency_p50_ms
    def report(self, rec: Recorder) -> list[tuple[str, float, str, int]]: ...
    def layers(self, rec: Recorder, attrs: dict, progress: ProgressLog) -> dict: ...
    def close(self, spark) -> None: ...


def passes_for(seconds: float, pass_s: float) -> int:
    """Passes that fill ``seconds`` where one pass takes ``pass_s`` (as
    measured on a 4-core machine). The count depends on ``seconds`` only,
    so a faster or slower machine changes how long the passes take, not
    how many there are or how warm the last one is."""
    return max(1, round(seconds / pass_s))


def stop_jvm() -> None:
    """Shut down the Spark JVM this process launched and wait for it."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def jvm_gc_seconds(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0


def median_attr(attrs: dict, spans, name: str, key: str) -> float:
    vals = [attrs[s.id].get(key, 0.0) for s in spans if s.name == name]
    return float(statistics.median(vals)) if vals else 0.0


def a_set(attrs: dict, spans, name: str) -> dict:
    """Attribute set A, plus self time, for one span name: per-call medians."""
    keys = ("wall_s", "self_s", "jobs", "tasks", "driver_s", "exec_run_s", "shuffle_write_mb", "spill_mb")
    units = ("s", "s", "count", "count", "s", "s", "MB", "MB")
    return {f"{name}.{k}": (median_attr(attrs, spans, name, k), u) for k, u in zip(keys, units)}


def jvm_heap_peak_mb(spark) -> float:
    """Summed peak usage of the JVM's heap pools since it started."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    heap = spark._jvm.java.lang.management.MemoryType.HEAP
    pools = [p for p in mf.getMemoryPoolMXBeans() if p.getType() == heap]
    return sum(p.getPeakUsage().getUsed() for p in pools) / 2**20


def run(wl: Workload, *, seconds: float, traced: bool, work_dir: str, out_dir: str, process_start: float) -> dict:
    from time_sift_spark.session import get_spark

    wl.traced = traced
    g0 = time.perf_counter()
    wl.generate()
    gen_s = time.perf_counter() - g0

    conf = {"spark.ui.showConsoleProgress": "false"}
    log_dir = os.path.join(work_dir, "eventlog")
    if traced:
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file://" + log_dir,
            }
        )
    # set-up: from process start (imports, JVM launch, session) through
    # the untimed warm-up pass to the first timed call, minus generation
    rss = PeakRss().start()
    s0 = time.perf_counter()
    spark = get_spark(f"perfbench-{wl.name}", extra_conf=conf)
    get_spark_s = time.perf_counter() - s0
    wl.warm(spark)
    setup_s = time.perf_counter() - process_start - gen_s

    progress = ProgressLog()
    if traced:
        spark.streams.addListener(progress.listener())
    rec = Recorder(wl.name, f"{wl.name}-{wl.seed}-{os.getpid()}", spark.sparkContext if traced else None)
    gc0 = jvm_gc_seconds(spark)
    m0 = time.perf_counter()
    wl.measure(spark, rec, seconds)
    measure_s = time.perf_counter() - m0
    gc_s = jvm_gc_seconds(spark) - gc0
    heap_mb = jvm_heap_peak_mb(spark)
    peak_mb = rss.stop()
    c0 = time.perf_counter()
    try:
        wl.check(spark)
    except Exception:
        wl.problem("check", traceback.format_exc())
    check_s = time.perf_counter() - c0
    print(
        f"# phases: generate {gen_s:.1f} s, set-up {setup_s:.1f} s (get_spark {get_spark_s:.1f} s), "
        f"measure {measure_s:.1f} s ({wl.passes} passes), checks {check_s:.1f} s",
        file=sys.stderr,
    )
    failed_ops = {op for op, _ in wl.problems}
    failed = wl.failed + len(failed_ops)
    attempted = max(wl.attempted, 1)

    e2e = wl.e2e(rec)
    metrics = {
        "setup_s": (setup_s, "s"),
        "rows_per_s": (e2e["rows_per_s"], "rows/s"),
        "latency_p50_ms": (e2e["latency_p50_ms"], "ms"),
    }
    named = [
        ("setup_s", setup_s, "s", 1),
        ("peak_rss_mb", peak_mb, "MB", 1),
        ("failed_op_ratio", failed / attempted, "ratio", attempted),
        *wl.report(rec),
    ]
    print(f"# {wl.name} seed={wl.seed} inputs={json.dumps(wl.props, sort_keys=True)}")
    for name, value, unit, n in named:
        print(f"{name:<24} {value:>14.6g} {unit:<8} n={n}")

    if not traced:
        wl.close(spark)
        spark.stop()
        out = metrics
    else:
        app_id = spark.sparkContext.applicationId
        wl.close(spark)
        spark.stop()  # flushes the event log
        jobs, stages = read_event_log(log_dir, app_id)
        attrs = span_attrs(rec.spans, jobs, stages)
        layer_extra = wl.layers(rec, attrs, progress)
        out = per_layer(wl, rec, attrs, gc_s, peak_mb, heap_mb, get_spark_s)
        rec.dump(os.path.join(out_dir, f"spans-{rec.run_id}.json"))
        with open(os.path.join(out_dir, f"layers-{rec.run_id}.json"), "w") as fh:
            json.dump({"generic": out, "modules": layer_extra, "inputs": wl.props}, fh, indent=1)
        print(f"# per-layer ({wl.name})")
        for name, (value, unit) in sorted({**layer_extra, **out}.items()):
            print(f"{name:<58} {value:>14.6g} {unit}")

    return {
        "correct": not wl.problems and wl.failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in out.items()},
    }


def per_layer(wl, rec, attrs, gc_s, peak_mb, heap_mb, get_spark_s) -> dict:
    """Engine totals over the timed calls, per pass of the workload."""
    passes = max(wl.passes, 1)
    top = [s for s in rec.spans if s.parent is None]
    tot = {k: sum(attrs[s.id].get(k, 0.0) for s in rec.spans) for k in ("jobs", "stages", "tasks", "exec_run_s", "shuffle_write_mb")}
    driver = sum(attrs[s.id]["driver_s"] for s in top)
    timed = sum(s.wall for s in top)
    return {
        "session.get_spark.s": (get_spark_s, "s"),
        "spark.jobs": (tot["jobs"] / passes, "count"),
        "spark.stages": (tot["stages"] / passes, "count"),
        "spark.tasks": (tot["tasks"] / passes, "count"),
        "spark.driver_s": (driver / passes, "s"),
        "spark.exec_run_s": (tot["exec_run_s"] / passes, "s"),
        "spark.shuffle_write_mb": (tot["shuffle_write_mb"] / passes, "MB"),
        "spark.gc_s": (gc_s / passes, "s"),
        "peak_rss_mb": (peak_mb, "MB"),
        "spark.heap_peak_mb": (heap_mb, "MB"),
        "trace.spans": (len(rec.spans) / passes, "count"),
        # the recorder's own cost as a share of the timed calls' wall time
        "trace.overhead_ratio": (timed / max(timed - rec.cost_s, 1e-9), "ratio"),
    }


def pass_walls(rec, calls_per_pass: int) -> list[float]:
    """Summed wall time of each complete pass of top-level calls."""
    walls = [s.wall for s in rec.spans if s.parent is None]
    return [sum(walls[i : i + calls_per_pass]) for i in range(0, len(walls) - calls_per_pass + 1, calls_per_pass)]


def latency_summary(values_s) -> dict:
    return stats.summary([v * 1000.0 for v in values_s])


def compare_frames(got: pd.DataFrame, want: pd.DataFrame, keys: list[str], rtol: float) -> str | None:
    """None when both frames hold the same rows (matched on ``keys``);
    otherwise a one-line description of the first difference."""
    if len(got) != len(want):
        return f"row count {len(got)} != oracle {len(want)}"
    a = got.sort_values(keys).reset_index(drop=True)
    b = want.sort_values(keys).reset_index(drop=True)
    for c in want.columns:
        x = pd.to_numeric(a[c], errors="coerce").to_numpy(dtype=float)
        y = pd.to_numeric(b[c], errors="coerce").to_numpy(dtype=float)
        same = np.isclose(x, y, rtol=rtol, atol=0.0, equal_nan=True) | (x == y)
        if not same.all():
            i = int(np.argmin(same))
            return f"column {c} differs at {dict(a.loc[i, keys])}: {x[i]!r} != {y[i]!r}"
    return None
