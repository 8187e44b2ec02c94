"""lag_batch: the paper's operator family over one generated events table.

Zipf-distributed users (one hot series), one pass = seven calls, each
forced by a noop write: a scan, wide and long lag features, the hot-key
and global scale paths, rolling features and the EWMA scan. At this size
a pass is 29 jobs and job launch outweighs the scan, shuffle, sort and
window work; only the EWMA scan crosses the Python boundary and nothing
keeps state.
"""

from __future__ import annotations

import os
import statistics

import duckdb
import numpy as np
import pandas as pd

import gen
from harness import Workload, a_set, compare_frames, force, latency_summary, pass_walls, passes_for

ROWS, KEYS, ZIPF_S = 40_000, 1_000, 1.2
WIDE_LAGS = [1, 3, 2, 8, 13, 2, 0]
LONG_LAGS = [1, 3, 2]
HOT_LAGS = [1, 5, 30]
BUCKETS = 8  # halo buckets of the scale paths, as the registry's queries use
GLOBAL_LAGS = [1, 2, 3]
WINDOWS = [5, 50]
ALPHA = 0.3
INF = float("inf")
PASS_S = 4.5  # one warm pass on a 4-core machine

OPS = (
    "sources.load_table",
    "operators.lag.wide",
    "operators.lag.long",
    "operators.scale.hotkey",
    "operators.scale.global",
    "operators.rolling.features",
    "operators.ewma.scan",
)


def _oracle(name: str) -> str:
    """Oracle SQL text of a registered query (reused where the registry
    already pins the same call)."""
    from time_sift_spark.queries import REGISTRY

    return REGISTRY[name].oracle


class LagBatch(Workload):
    name = "lag_batch"

    def generate(self) -> None:
        rng = np.random.default_rng(self.seed)
        tbl = gen.events_table(rng, ROWS, KEYS, ZIPF_S)
        gen.write_events(os.path.join(self.data_dir, "events.parquet"), tbl)
        self.props = gen.event_props(tbl, ZIPF_S)
        # Zipf(1.2) over 1k keys puts ~10% of rows on the second key and ~6%
        # on the third: a threshold of 1/12 makes exactly the top two keys
        # hot for every seed, so the decomposed work does not vary by seed
        self.hot_threshold = ROWS // 12
        self.props["hot_threshold"] = self.hot_threshold

    def _calls(self, spark, data_dir: str, hot_threshold: int, rec=None):
        """One pass: (span name, thunk) for each op; a thunk builds the lazy
        plan and forces it, returning the DataFrame for the output check."""
        from time_sift_spark.operators.ewma import ewma_scan
        from time_sift_spark.operators.lag import lag_features
        from time_sift_spark.operators.rolling import rolling_features
        from time_sift_spark.operators.scale import lag_features_global, lag_features_hotkey
        from time_sift_spark.sources.catalog import load_table

        ev = load_table(spark, "events", data_dir)
        key = dict(partition_by="user_id", order_extra="event_id")

        def run(build, plan=False):
            """``plan`` marks calls that go through plans.build_lag_plan; the
            time for their lazy call to return is its own span."""

            def thunk():
                if rec is not None and plan:
                    with rec.span("plans.build_lag_plan"):
                        df = build()
                else:
                    df = build()
                force(df)
                return df

            return thunk

        return [
            ("sources.load_table", run(lambda: load_table(spark, "events", data_dir))),
            ("operators.lag.wide", run(lambda: lag_features(ev, "value", "ts", WIDE_LAGS, fill=INF, **key), True)),
            ("operators.lag.long", run(lambda: lag_features(ev, "value", "ts", LONG_LAGS, layout="long", **key), True)),
            (
                "operators.scale.hotkey",
                run(lambda: lag_features_hotkey(ev, "value", "ts", HOT_LAGS, hot_threshold=hot_threshold, num_buckets=BUCKETS, **key)),
            ),
            ("operators.scale.global", run(lambda: lag_features_global(ev, "value", "ts", GLOBAL_LAGS, order_extra="event_id", num_buckets=BUCKETS))),
            ("operators.rolling.features", run(lambda: rolling_features(ev, "value", "ts", WINDOWS, **key))),
            ("operators.ewma.scan", run(lambda: ewma_scan(ev, "value", "ts", ALPHA, partition_by="user_id", order_extra=("event_id",)))),
        ]

    def warm(self, spark) -> None:
        # one untimed pass on the real input: the first pass pays code
        # generation and JIT costs, and on a small input it costs as much
        # while leaving the next full-size pass still cold
        for _, thunk in self._calls(spark, self.data_dir, self.hot_threshold):
            thunk()

    def measure(self, spark, rec, seconds: float) -> None:
        self.outputs = {}
        self.passes = passes_for(seconds, PASS_S)
        for _ in range(self.passes):
            for name, thunk in self._calls(spark, self.data_dir, self.hot_threshold, rec):
                self.outputs[name] = self.call(rec, name, thunk)

    # -- output checks ------------------------------------------------------
    def check(self, spark) -> None:
        from time_sift_spark.plans.lag_plan import lag_column_names

        con = duckdb.connect()
        path = os.path.join(self.data_dir, "events.parquet")
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{path}'")
        w = "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"

        def lag_sql(lags, fill=None, window=w):
            cols = []
            for k, name in zip(lags, lag_column_names(["value"], lags)):
                e = f"LAG(value, {k}) OVER w"
                cols.append(f"COALESCE({e}, CAST('infinity' AS DOUBLE)) AS {name}" if fill == INF else f"{e} AS {name}")
            return f"SELECT event_id, {', '.join(cols)} FROM events {window}"

        roll = ", ".join(
            f"{fn}(value) OVER (PARTITION BY user_id ORDER BY ts, event_id "
            f"ROWS BETWEEN {n - 1} PRECEDING AND CURRENT ROW) AS value_r{n}_{st}"
            for n in WINDOWS
            for st, fn in (("mean", "AVG"), ("min", "MIN"), ("max", "MAX"))
        )
        oracles = {
            "sources.load_table": ("SELECT event_id, user_id, value FROM events", ["event_id"], 0.0),
            "operators.lag.wide": (lag_sql(WIDE_LAGS, INF), ["event_id"], 0.0),
            "operators.lag.long": (_oracle("lag_events_long_unordered"), ["event_id", "lag_pos"], 0.0),
            "operators.scale.hotkey": (_oracle("lag_hotkey_events"), ["event_id"], 0.0),
            "operators.scale.global": (lag_sql(GLOBAL_LAGS, window="WINDOW w AS (ORDER BY ts, event_id)"), ["event_id"], 0.0),
            "operators.rolling.features": (f"SELECT event_id, {roll} FROM events", ["event_id"], 1e-9),
        }
        for op, (sql, keys, rtol) in oracles.items():
            df = self.outputs.get(op)
            if df is None:
                continue
            want = con.execute(sql).df().drop(columns=["ts"], errors="ignore")
            got = df.select(*want.columns).toPandas()
            msg = compare_frames(got, want, keys, rtol)
            if msg:
                self.problem(op, msg)
        df = self.outputs.get("operators.ewma.scan")
        if df is not None:
            got = df.select("event_id", "value_ewma").toPandas()
            want = ewma_reference(con.execute("SELECT user_id, event_id, value FROM events ORDER BY ts, event_id").df(), ALPHA)
            # pandas' kernel skips the update when the value equals the
            # running mean, where the recurrence rounds: allow 1e-12
            msg = compare_frames(got, want, ["event_id"], 1e-12)
            if msg:
                self.problem("operators.ewma.scan", msg)

    # -- metrics ------------------------------------------------------------
    def _timed(self, rec) -> float:
        return sum(s.wall for s in rec.spans if s.parent is None)

    def e2e(self, rec) -> dict:
        # the unit of work is one pass of the seven calls: a median over
        # calls of different ops would jump between ops from run to run
        return {
            "rows_per_s": ROWS * self.passes / self._timed(rec),
            "latency_p50_ms": statistics.median(pass_walls(rec, len(OPS))) * 1000.0,
        }

    def report(self, rec):
        lat = latency_summary([s.wall for s in rec.spans if s.parent is None])
        return [
            ("rows_per_s", self.e2e(rec)["rows_per_s"], "rows/s", self.passes),
            ("call_p50_ms", lat["p50"], "ms", lat["n"]),
        ] + [(f"{op}.wall_s", statistics.median(rec.walls(op)), "s", len(rec.walls(op))) for op in OPS]

    def layers(self, rec, attrs, progress) -> dict:
        out = {}
        for op in OPS:
            out.update(a_set(attrs, rec.spans, op))
        loads = [s for s in rec.spans if s.name == "sources.load_table"]
        out["sources.load_table.read_mb"] = (statistics.median(attrs[s.id]["read_mb"] for s in loads), "MB")
        out["sources.load_table.read_rows"] = (statistics.median(attrs[s.id]["read_rows"] for s in loads), "rows")
        out["plans.build_lag_plan.ms"] = (statistics.median(rec.walls("plans.build_lag_plan")) * 1000.0, "ms")
        ewma = [s for s in rec.spans if s.name == "operators.ewma.scan"]
        for key, unit in (("python_s", "s"), ("to_python_mb", "MB")):
            out[f"operators.ewma.scan.{key}"] = (statistics.median(attrs[s.id][key] for s in ewma), unit)
        return out


def ewma_reference(rows: pd.DataFrame, alpha: float) -> pd.DataFrame:
    """y_1 = x_1, y_t = (1-alpha)*y_{t-1} + alpha*x_t per user, in the
    IEEE operation order of the registry's recursive-CTE oracle."""
    state: dict[int, float] = {}
    out = np.empty(len(rows))
    for i, (u, x) in enumerate(zip(rows["user_id"].to_numpy(), rows["value"].to_numpy())):
        y = state.get(u)
        y = x if y is None else (1 - alpha) * y + alpha * x
        state[u] = out[i] = y
    return pd.DataFrame({"event_id": rows["event_id"].to_numpy(), "value_ewma": out})
