"""lag_stream: stateful streaming lag features, drained and open-loop.

Open-loop phase (first): a generator thread writes one file every
FILE_EVERY_S on a fixed schedule, stamping each row's ``ts`` with the time
it was due; the query, started during warm-up, runs on a processing-time
trigger with a durable checkpoint and writes each epoch through
``streaming.sinks.parquet_epoch_sink``. Drain phase: a backlog of ordered
event files goes through ``streaming_lag_features`` -> ``run_stream_to_df``
with a small ``maxFilesPerTrigger``, so one drain spans several
micro-batches. The Arrow boundary and state-store commits do most of the
work; scan and shuffle do little.
"""

from __future__ import annotations

import glob
import os
import statistics
import threading
import time

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import stats
from harness import Workload, compare_frames, passes_for

BACKLOG_FILES, FILE_ROWS = 12, 2_000
KEYS, ZIPF_S = 5_000, 1.1
FILES_PER_TRIGGER = 3
LAGS = [1, 2, 3, 5]
OPEN_RATE = 2_000  # rows/s offered in the open-loop phase
FILE_EVERY_S = 0.25
TRIGGER = "1500 milliseconds"
DRAIN_S = 3.0  # one warm drain on a 4-core machine
SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
LAG_COLS = [f"value_lag{k}" for k in LAGS]
DRAIN, SINK, OPEN = "streaming.lag_stream", "streaming.sinks.parquet_epoch_sink", "streaming.lag_stream.open_loop"


def _write_files(dir_: str, rng, n_files: int, rows: int, first_id: int = 0) -> int:
    os.makedirs(dir_, exist_ok=True)
    t = gen.EPOCH_US
    for f in range(n_files):
        ts = t + np.arange(rows, dtype=np.int64) * 1000
        t += rows * 1000
        tbl = gen.events_table(rng, rows, KEYS, ZIPF_S, first_event_id=first_id, ts_us=ts)
        pq.write_table(tbl, os.path.join(dir_, f"part-{f:05d}.parquet"))
        first_id += rows
    return first_id


class LagStream(Workload):
    name = "lag_stream"

    def generate(self) -> None:
        self.rng = np.random.default_rng(self.seed)
        self.backlog = os.path.join(self.data_dir, "backlog")
        self.next_id = _write_files(self.backlog, self.rng, BACKLOG_FILES, FILE_ROWS)
        tbl = pq.read_table(self.backlog)
        self.props = gen.event_props(tbl, ZIPF_S)
        self.props.update(files=BACKLOG_FILES, files_per_trigger=FILES_PER_TRIGGER, open_rate_rows_per_s=OPEN_RATE)
        self._seq = 0

    def _lagged(self, spark, src: str, max_files: int | None):
        import pyspark.sql.functions as F

        from time_sift_spark.streaming.lag_stream import streaming_lag_features

        reader = spark.readStream.schema(SCHEMA)
        if max_files:
            reader = reader.option("maxFilesPerTrigger", str(max_files))
        stream = reader.parquet(src).withColumn("ts", F.unix_micros("ts"))
        return streaming_lag_features(stream, "value", "ts", LAGS, partition_by="user_id", order_extra=("event_id",))

    def _drain(self, spark, src: str, max_files: int):
        from time_sift_spark.streaming.lag_stream import run_stream_to_df

        self._seq += 1
        return run_stream_to_df(self._lagged(spark, src, max_files), f"pb_drain_{self._seq}")

    def warm(self, spark) -> None:
        """Drain the backlog once, so every timed drain is as warm as the
        next, then start the open-loop query and let it process one file,
        so the timed open loop measures a running stream, not its start."""
        from time_sift_spark.streaming.sinks import parquet_epoch_sink

        self._drain(spark, self.backlog, FILES_PER_TRIGGER).count()
        self.open_in = os.path.join(self.data_dir, "open_in")
        self.sink_dir = os.path.join(self.data_dir, "open_sink")
        self.staging = os.path.join(self.data_dir, "open_staging")
        for d in (self.open_in, self.staging):
            os.makedirs(d, exist_ok=True)
        self.rec, self.open_sid = None, None
        self.done: dict[int, float] = {}
        self.emitted = 0
        self.lock = threading.Lock()
        self.sink = parquet_epoch_sink(self.sink_dir)
        self.query = (
            self._lagged(spark, self.open_in, None)
            .writeStream.foreachBatch(self._batch)
            .queryName(f"pb_open_{os.getpid()}")
            .option("checkpointLocation", os.path.join(self.data_dir, "open_ckpt"))
            .trigger(processingTime=TRIGGER)
            .start()
        )
        warm = gen.events_table(self.rng, 200, KEYS, ZIPF_S, first_event_id=2 * 10**9, ts_us=np.zeros(200))
        self._publish(warm, "warm", time.time())
        self.query.processAllAvailable()

    def _batch(self, df, epoch_id) -> None:
        """foreachBatch body: the repo's epoch sink, timed as a span while
        the open loop is measured, plus the completion stamp of the epoch."""
        if self.rec is None:
            self.sink(df, epoch_id)
            return
        with self.rec.span(SINK, parent=self.open_sid):
            self.sink(df, epoch_id)
        files = glob.glob(os.path.join(self.sink_dir, f"epoch={epoch_id}", "*.parquet"))
        n = sum(pq.read_metadata(f).num_rows for f in files)
        with self.lock:
            self.done[epoch_id] = time.time()
            self.emitted += n

    def _publish(self, tbl, tag: str, due: float) -> None:
        """Stamp every row with the file's due time and move the file into
        the watched directory in one rename."""
        ts = np.full(tbl.num_rows, int(due * 1e6), dtype="datetime64[us]")
        tmp = os.path.join(self.staging, f"part-{tag}.parquet")
        pq.write_table(tbl.set_column(1, "ts", pa.array(ts)), tmp)
        os.replace(tmp, os.path.join(self.open_in, f"part-{tag}.parquet"))

    # -- timed phases ---------------------------------------------------------
    def measure(self, spark, rec, seconds: float) -> None:
        self._open_loop(rec, seconds)
        self.passes = passes_for(seconds / 2, DRAIN_S)
        for _ in range(self.passes):
            self.drained = self.call(rec, DRAIN, lambda: self._drain(spark, self.backlog, FILES_PER_TRIGGER))
        self.drain_rows = self.passes * BACKLOG_FILES * FILE_ROWS

    def _open_loop(self, rec, gen_seconds: float) -> None:
        n_files = max(int(gen_seconds / FILE_EVERY_S), 1)
        rows = int(OPEN_RATE * FILE_EVERY_S)
        tables = [
            gen.events_table(self.rng, rows, KEYS, ZIPF_S, first_event_id=self.next_id + j * rows, ts_us=np.zeros(rows))
            for j in range(n_files)
        ]
        self.late_ms: list[float] = []

        def generator(start: float):
            for j, tbl in enumerate(tables):
                due = start + j * FILE_EVERY_S
                time.sleep(max(due - time.time(), 0.0))
                self._publish(tbl, f"{j:05d}", due)
                self.late_ms.append((time.time() - due) * 1000.0)

        self.attempted += 1
        with rec.span(OPEN) as self.open_sid:
            self.rec = rec
            thread = threading.Thread(target=generator, args=(time.time() + 0.1,), name="loadgen")
            thread.start()
            thread.join()
            with self.lock:
                self.backlog_rows = n_files * rows - self.emitted
            try:
                self.query.processAllAvailable()
            except Exception as exc:  # the query died: a failed operation
                self.failed += 1
                self.problem(OPEN, repr(exc))
            self.query.stop()

    def close(self, spark) -> None:
        q = getattr(self, "query", None)
        if q is not None and q.isActive:
            q.stop()

    # -- output checks --------------------------------------------------------
    def _oracle(self, con, src_glob: str):
        return con.execute(
            f"SELECT event_id, {', '.join(f'LAG(value, {k}) OVER w AS value_lag{k}' for k in LAGS)} "
            f"FROM read_parquet('{src_glob}') WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"
        ).df()

    def check(self, spark) -> None:
        con = duckdb.connect()
        if self.drained is not None:
            got = self.drained.select("event_id", *LAG_COLS).toPandas()
            msg = compare_frames(got, self._oracle(con, os.path.join(self.backlog, "*.parquet")), ["event_id"], 0.0)
            if msg:
                self.problem(DRAIN, msg)
        got = con.execute(
            f"SELECT event_id, {', '.join(LAG_COLS)} FROM read_parquet('{self.sink_dir}/epoch=*/*.parquet', hive_partitioning = false)"
        ).df()
        msg = compare_frames(got, self._oracle(con, os.path.join(self.open_in, "*.parquet")), ["event_id"], 0.0)
        if msg:
            self.problem(OPEN, msg)
        self.emit_s = []
        for epoch, done in self.done.items():
            for f in glob.glob(os.path.join(self.sink_dir, f"epoch={epoch}", "*.parquet")):
                ts = pq.read_table(f, columns=["ts"]).column("ts").to_numpy()
                self.emit_s.extend((done - ts / 1e6).tolist())

    # -- metrics ----------------------------------------------------------------
    def e2e(self, rec) -> dict:
        return {
            "rows_per_s": self.drain_rows / sum(rec.walls(DRAIN)),
            "latency_p50_ms": statistics.median(self.emit_s) * 1000.0,
        }

    def report(self, rec):
        emit = stats.summary(self.emit_s)
        out = [
            ("stream_rows_per_s", self.e2e(rec)["rows_per_s"], "rows/s", self.passes),
            ("emit_p50_s", emit["p50"], "s", emit["n"]),
        ]
        out += [(f"emit_{k}_s", v, "s", emit["n"]) for k, v in emit.items() if k not in ("n", "p50")]
        out += [
            ("loadgen.late_ms", max(self.late_ms), "ms", len(self.late_ms)),
            ("loadgen.backlog_files", self.backlog_rows / (OPEN_RATE * FILE_EVERY_S), "files", 1),
            ("open_loop_batches", len(self.done), "count", 1),
        ]
        return out

    def layers(self, rec, attrs, progress) -> dict:
        drains = [s for s in rec.spans if s.name == DRAIN]
        batches = [b for b in progress.batches if (b["name"] or "").startswith("pb_drain_") and b["rows"]]
        per_drain = max(len(drains), 1)

        def med(xs):
            return float(statistics.median(xs)) if xs else 0.0

        def span_med(key):
            return med([attrs[s.id].get(key, 0.0) for s in drains])

        return {
            f"{DRAIN}.batches": (len(batches) / per_drain, "count"),
            f"{DRAIN}.trigger_p50_ms": (med([b["durations"].get("triggerExecution", 0) for b in batches]), "ms"),
            f"{DRAIN}.add_batch_ms": (med([b["durations"].get("addBatch", 0) for b in batches]), "ms"),
            f"{DRAIN}.wal_ms": (med([b["durations"].get("walCommit", 0) for b in batches]), "ms"),
            f"{DRAIN}.state_commit_ms": (med([b["commit_ms"] for b in batches]), "ms"),
            f"{DRAIN}.state_rows": (max([b["state_rows"] for b in batches], default=0), "rows"),
            f"{DRAIN}.state_mb": (max([b["state_bytes"] for b in batches], default=0) / 2**20, "MB"),
            f"{DRAIN}.python_s": (span_med("python_s"), "s"),
            f"{DRAIN}.to_python_mb": (span_med("to_python_mb"), "MB"),
            f"{DRAIN}.from_python_mb": (span_med("from_python_mb"), "MB"),
            f"{DRAIN}.shuffle_write_mb": (span_med("shuffle_write_mb"), "MB"),
            f"{SINK}.ms": (med(rec.walls(SINK)) * 1000.0, "ms"),
            "loadgen.late_ms": (max(self.late_ms), "ms"),
            "loadgen.backlog_files": (self.backlog_rows / (OPEN_RATE * FILE_EVERY_S), "files"),
        }
