"""Seeded end-to-end benchmark of time_sift_spark.

Run from the repository root:

    python3 perfbench/run.py --workload lag_batch --seed 1 --seconds 5 --trace 0

Workloads: lag_batch, small_calls, lag_stream, corpus_pipeline (see
perfbench/README.md). ``--trace 0`` prints the end-to-end metrics,
``--trace 1`` the per-layer ones. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; everything above it is
a human-readable report. Inputs and scratch files live under
``.perfbench_work/`` in the current directory.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = {
    "lag_batch": "LagBatch",
    "small_calls": "SmallCalls",
    "lag_stream": "LagStream",
    "corpus_pipeline": "CorpusPipeline",
}
DEADLINE_S = 170  # a run must end within 180 s; stop short of that


def _deadline(signum, frame):
    print(f"run exceeded {DEADLINE_S} s; aborting without a result", file=sys.stderr)
    os._exit(3)


def _environment(root: str, run_dir: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    for d in (tmp, os.path.join(run_dir, "spark-local"), os.path.join(run_dir, "ckpt")):
        os.makedirs(d, exist_ok=True)
    java_opts = os.environ.get(
        "SPARK_GRAFT_DRIVER_JAVA_OPTS",
        "-XX:ReservedCodeCacheSize=512m -XX:+ExplicitGCInvokesConcurrent",
    )
    os.environ.update(
        {
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
            "SPARK_GRAFT_STREAM_CKPT_DIR": os.path.join(run_dir, "ckpt"),
            "SPARK_GRAFT_DRIVER_JAVA_OPTS": f"{java_opts} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
        }
    )
    sys.path[:0] = [root, HERE]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "time_sift_spark", "__init__.py")):
        print(f"time_sift_spark is not in {root}; run from the repository root", file=sys.stderr)
        return 2
    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)

    work = os.path.join(root, ".perfbench_work")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    out_dir = os.path.join(work, "out")
    os.makedirs(out_dir, exist_ok=True)
    _environment(root, run_dir)
    import harness

    module = importlib.import_module(f"workloads.{args.workload}")
    wl = getattr(module, WORKLOADS[args.workload])(args.seed, os.path.join(run_dir, "data"))
    try:
        result = harness.run(
            wl,
            seconds=args.seconds,
            traced=bool(args.trace),
            work_dir=run_dir,
            out_dir=out_dir,
            process_start=PROCESS_START,
        )
    finally:
        harness.stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    sys.stdout.write(json.dumps(result) + "\n")
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
