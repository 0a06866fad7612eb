"""The benchmark's workloads: what one repetition runs, and the checks
on its output.

``pipeline_batch`` — the paper's pipeline, ``plans.pipeline.
anomaly_pipeline``: load -> dedup / forward-fill -> time, lag and
rolling features -> rolling 3-sigma flags, into the ``noop`` sink so
every column is computed. It runs in the JVM: one window exchange, a
deep projection tree, no Python workers.

``stream_replay`` — the seeded events, split into equal time-ordered
files, drained as a backfill (``availableNow``, one file per
micro-batch) through ``streaming_zscore_flags`` into the exactly-once
parquet alert sink.

One repetition of either is timed from its first library call until its
sinks have committed.
"""

from __future__ import annotations

import os
import shutil
import statistics
from contextlib import contextmanager
from types import SimpleNamespace

import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from amonaly_detection_in_time_series_data_spark.operators.anomaly import rolling_zscore
from amonaly_detection_in_time_series_data_spark.plans import pipeline as pipeline_mod
from amonaly_detection_in_time_series_data_spark.sources.readers import load_table
from amonaly_detection_in_time_series_data_spark.streaming import (
    streaming_zscore_flags,
    write_anomaly_alerts,
)

from bench import plan_fingerprint

import gen
import reference
import spans

LAGS = (1, 2, 3, 24)
WINDOWS = (3, 6, 12, 24)
ZSCORE_WINDOW = 24
DRAIN_TIMEOUT_S = 90


@contextmanager
def _traced_load_table(tr):
    """While tracing, the pipeline's own ``load_table`` call runs inside a
    ``sources`` span (the call happens inside ``anomaly_pipeline``)."""
    if not tr.enabled:
        yield
        return

    def load(*args, **kwargs):
        with tr.span("sources.load_table"):
            return load_table(*args, **kwargs)

    pipeline_mod.load_table = load
    try:
        yield
    finally:
        pipeline_mod.load_table = load_table


class PipelineBatch:
    name = "pipeline_batch"
    # share of the warm window spent in warm-up: the JIT keeps speeding a
    # repetition up for its first ten to fifteen
    warmup_share = 2 / 3

    def __init__(self, input_dir: str, run_dir: str):
        self.input_dir = input_dir
        self.flags = None
        self.analysis_ms = 0.0

    def rep(self, spark, tr) -> None:
        with tr.span("plans.anomaly_pipeline"), _traced_load_table(tr):
            self.flags = pipeline_mod.anomaly_pipeline(
                spark, self.input_dir, lags=LAGS, windows=WINDOWS,
                zscore_window=ZSCORE_WINDOW,
            )
        if tr.enabled:
            self.analysis_ms = _analysis_ms(self.flags)
        with tr.span("operators.sink_noop"):
            self.flags.write.format("noop").mode("overwrite").save()

    def trace_extras(self) -> dict:
        """Catalyst phase times and the plan fingerprint of the last
        repetition's output (planned again on its own query execution),
        with the streaming counters at zero."""
        qe = self.flags._jdf.queryExecution()
        prints = {"anomaly_pipeline": fingerprint(qe, self.input_dir)}
        return {
            "metrics": {**_phase_metrics(self.analysis_ms, qe), **STREAMING_ZERO},
            "fingerprints": prints,
        }

    def check(self, spark) -> list[dict]:
        """The last repetition's row count and flag set against the pandas
        reference of the same contract. The detail also gives the share of
        planted spikes flagged, for information."""
        ev = gen.read_events(self.input_dir)
        ref_rows, ref_flagged = reference.pipeline_flags(ev, LAGS, ZSCORE_WINDOW)
        agg = self.flags.agg(
            F.count(F.lit(1)).alias("n"),
            F.collect_list(
                F.when(F.col("is_anomaly") == 1, F.struct("user_id", "event_id", "is_spike"))
            ).alias("hits"),
            F.sum(F.col("is_spike").cast("int")).alias("spikes"),
        ).collect()[0]
        got = {(r["user_id"], r["event_id"]) for r in agg["hits"]}
        caught = sum(r["is_spike"] for r in agg["hits"])
        return [_result(
            "pipeline_flags", agg["n"] == ref_rows and got == ref_flagged,
            f"rows {agg['n']} vs {ref_rows}; flagged {len(got)} vs {len(ref_flagged)}, "
            f"symmetric difference {len(got ^ ref_flagged)}; "
            f"planted spikes flagged {caught} of {agg['spikes']}",
        )]


STREAM_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("is_spike", T.BooleanType()),
])


class StreamReplay:
    name = "stream_replay"
    # a drain stops speeding up after four or five repetitions
    warmup_share = 1 / 2

    def __init__(self, input_dir: str, run_dir: str):
        self.stream_dir = os.path.join(input_dir, "stream")
        self.run_dir = run_dir
        self.n = 0
        self.last = None  # (query, sink dir) of the last drain

    def rep(self, spark, tr) -> None:
        self.n += 1
        if self.last is not None:  # keep only the last drain's files
            shutil.rmtree(os.path.dirname(self.last[1]), ignore_errors=True)
        base = os.path.join(self.run_dir, f"drain-{self.n}")
        sink, ckpt = os.path.join(base, "alerts"), os.path.join(base, "checkpoint")
        with tr.span("sources.read_stream"):
            events = (
                spark.readStream.schema(STREAM_SCHEMA)
                .option("maxFilesPerTrigger", 1)
                .parquet(self.stream_dir)
            )
            # the cast replay_events_stream applies: the watermark needs TIMESTAMP
            events = events.withColumn("ts", F.col("ts").cast("timestamp"))
        with tr.span("streaming.streaming_zscore_flags"):
            flags = streaming_zscore_flags(events, timeout_minutes=None)
        if tr.enabled:
            self.analysis_ms = _analysis_ms(flags)
        with tr.span("streaming.write_anomaly_alerts"):
            query = write_anomaly_alerts(flags, sink, ckpt)
        with tr.span("streaming.drain", run_id=str(query.runId)):
            finished = query.awaitTermination(DRAIN_TIMEOUT_S)
        if not finished:
            query.stop()
            raise RuntimeError(f"drain did not finish within {DRAIN_TIMEOUT_S} s")
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")
        self.last = (query, sink)

    def progress(self) -> list[dict]:
        return list(self.last[0].recentProgress)

    def trace_extras(self) -> dict:
        """Micro-batch and state-store counters of the last drain, from
        its progress reports, and the last micro-batch's plan."""
        query, sink = self.last
        prog = [p for p in self.progress() if p["numInputRows"] > 0]
        ops = _state_ops(prog)

        def total(key):
            return float(sum(p["durationMs"].get(key, 0) for p in prog))

        last_ops = _state_ops(prog[-1:])
        files = [
            os.path.join(d, f)
            for d, _, names in os.walk(sink) if "_spark_metadata" not in d
            for f in names if f.endswith(".parquet")
        ]
        qe = query._jsq.streamingQuery().lastExecution()
        metrics = {
            "streaming.batches": float(len(prog)),
            "streaming.batch_ms_p50": float(statistics.median(
                p["durationMs"]["triggerExecution"] for p in prog)),
            "streaming.add_batch_ms": total("addBatch"),
            "streaming.query_planning_ms": total("queryPlanning"),
            "streaming.wal_commit_ms": total("walCommit"),
            "streaming.commit_offsets_ms": total("commitOffsets"),
            "streaming.latest_offset_ms": total("latestOffset"),
            "streaming.state_update_ms": float(sum(op["allUpdatesTimeMs"] for op in ops)),
            "streaming.state_commit_ms": float(sum(op["commitTimeMs"] for op in ops)),
            "streaming.state_rows": float(sum(op["numRowsTotal"] for op in last_ops)),
            "streaming.state_mem_bytes": float(sum(op["memoryUsedBytes"] for op in last_ops)),
            "streaming.state_instances": float(sum(
                op["numStateStoreInstances"] for op in last_ops)),
            "streaming.rows_dropped_by_watermark": float(sum(
                op["numRowsDroppedByWatermark"] for op in ops)),
            # the file sink reports numOutputRows = -1: count the files' rows
            "streaming.alert_rows": float(sum(pq.read_metadata(f).num_rows for f in files)),
            "streaming.sink_files": float(len(files)),
        }
        metrics.update(_phase_metrics(self.analysis_ms, qe))
        return {
            "metrics": metrics,
            "fingerprints": {"micro_batch": fingerprint(qe, self.stream_dir)},
            "progress": prog,
        }

    def check(self, spark) -> list[dict]:
        """The sink's alert set against the batch ``rolling_zscore`` flags
        on the same input; every input row processed, none dropped."""
        _, sink = self.last
        got = {
            (r["user_id"], r["event_id"])
            for r in spark.read.parquet(sink).select("user_id", "event_id").collect()
        }
        batch = spark.read.schema(STREAM_SCHEMA).parquet(self.stream_dir)
        want = {
            (r["user_id"], r["event_id"])
            for r in rolling_zscore(batch, "value", ZSCORE_WINDOW, ["user_id"], ["ts", "event_id"])
            .filter(F.col("is_anomaly") == 1)
            .select("user_id", "event_id").collect()
        }
        prog = self.progress()
        dropped = sum(op["numRowsDroppedByWatermark"] for op in _state_ops(prog))
        rows_in = sum(p["numInputRows"] for p in prog)
        n_events = batch.count()
        return [
            _result("stream_alerts", got == want,
                    f"alerts {len(got)} vs batch rolling_zscore {len(want)}, "
                    f"symmetric difference {len(got ^ want)}"),
            _result("stream_complete", dropped == 0 and rows_in == n_events,
                    f"rows dropped by watermark {dropped}; input rows {rows_in} of {n_events}"),
        ]


STREAMING_ZERO = {
    k: 0.0 for k in (
        "streaming.batches", "streaming.batch_ms_p50", "streaming.add_batch_ms",
        "streaming.query_planning_ms", "streaming.wal_commit_ms",
        "streaming.commit_offsets_ms", "streaming.latest_offset_ms",
        "streaming.state_update_ms", "streaming.state_commit_ms",
        "streaming.state_rows", "streaming.state_mem_bytes",
        "streaming.state_instances", "streaming.rows_dropped_by_watermark",
        "streaming.alert_rows", "streaming.sink_files",
    )
}


def _analysis_ms(df) -> float:
    """The eager analysis of ``df``'s own query execution. Read right after
    the build: an action re-enters the phase, and the tracker then reports
    the whole interval between the two."""
    return spans.plan_phases(df._jdf.queryExecution()).get("analysis", 0.0)


def _phase_metrics(analysis_ms: float, qe) -> dict:
    """The ``plans`` phase metrics: the analysis read after the build, and
    the optimization and planning phases of an already planned query
    execution."""
    phases = spans.plan_phases(qe)
    return {
        "plans.analyze_ms": analysis_ms,
        "plans.optimize_ms": phases.get("optimization", 0.0),
        "plans.physical_ms": phases.get("planning", 0.0),
    }


def _state_ops(progress: list[dict]) -> list[dict]:
    """The state-operator reports of a list of micro-batch progresses."""
    return [op for p in progress for op in p.get("stateOperators", [])]


def fingerprint(qe, input_path: str) -> str:
    """``bench.plan_fingerprint`` of a query execution's physical plan,
    with the seed-specific input path masked so equal plans on other
    seeds or checkouts hash equal."""
    text = qe.executedPlan().toString().replace(input_path, "<input>")
    plan = SimpleNamespace(toString=lambda: text)
    jdf = SimpleNamespace(queryExecution=lambda: SimpleNamespace(executedPlan=lambda: plan))
    return plan_fingerprint(SimpleNamespace(_jdf=jdf))


def _result(name: str, ok: bool, detail: str) -> dict:
    return {"check": name, "ok": bool(ok), "detail": detail}


WORKLOADS = {w.name: w for w in (PipelineBatch, StreamReplay)}
