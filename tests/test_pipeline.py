"""The flagship ``plans.anomaly_pipeline``: its one-exchange plan, its
rows against the plain operator composition, and the parquet schema
reuse of ``sources.readers.load_table`` it rides on."""

from __future__ import annotations

import math
import re
import shutil
import struct
import sys
import threading
from collections import OrderedDict
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from amonaly_detection_in_time_series_data_spark.operators.anomaly import rolling_zscore
from amonaly_detection_in_time_series_data_spark.operators.dedup import dedup_keep_positional
from amonaly_detection_in_time_series_data_spark.operators.features import featurize
from amonaly_detection_in_time_series_data_spark.operators.missing import ffill, fill_zero
from amonaly_detection_in_time_series_data_spark.plans.pipeline import anomaly_pipeline
from amonaly_detection_in_time_series_data_spark.sources import readers
from amonaly_detection_in_time_series_data_spark.sources.readers import load_table


def _composed_without_repartition(spark, sf_dir):
    """The pipeline's operators with its defaults, on the scan as read."""
    key, order = ["user_id"], ["ts", "event_id"]
    events = load_table(spark, sf_dir, "events")
    deduped = dedup_keep_positional(events, key + ["ts"], arrival_col="event_id")
    filled = fill_zero(ffill(deduped, ["value"], key, order), ["value"])
    feats = featurize(
        filled, "value", key, order,
        lags=(1, 2, 3, 24), windows=(3, 6, 12, 24),
        aggs=("mean", "std", "min", "max"), dropna=True,
    )
    return rolling_zscore(feats, "value", 24, key, order, 3.0)


def _bits(rows):
    """Rows sorted on the event id, doubles as their IEEE bit patterns so
    NaN and -0.0 compare exactly."""
    def cell(v):
        if isinstance(v, float):
            return ("f", struct.pack("<d", v)) if not math.isnan(v) else ("nan",)
        return v

    return sorted((tuple(cell(v) for v in r) for r in rows), key=lambda t: t[0])


def _last_job_id(spark) -> int:
    """The newest job id the status tracker knows, once the listener bus
    has delivered every event posted so far."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return max(sc.statusTracker().getJobIdsForGroup(None), default=-1)


class TestAnomalyPipeline:
    def test_one_exchange_one_sort(self, spark, sf_dir):
        plan = (
            anomaly_pipeline(spark, sf_dir)
            ._jdf.queryExecution().executedPlan().toString()
        )
        # the dedup window (user_id, ts) and the feature / z-score windows
        # (user_id) share the one hash on user_id and its one sort
        assert len(re.findall(r"\bExchange\b", plan)) == 1, plan
        assert "Exchange hashpartitioning(user_id" in plan, plan
        assert len(re.findall(r"\bSort \[", plan)) == 1, plan

    def test_rows_bit_equal_to_plain_composition(self, spark, sf_dir):
        got = anomaly_pipeline(spark, sf_dir)
        want = _composed_without_repartition(spark, sf_dir)
        assert got.columns == want.columns
        got_rows, want_rows = got.collect(), want.collect()
        assert len(got_rows) > 0
        assert _bits(got_rows) == _bits(want_rows)


class TestParquetSchemaReuse:
    def test_repeat_load_launches_no_job(self, spark, sf_dir, tmp_path):
        shutil.copy(f"{sf_dir}/events.parquet", tmp_path / "events.parquet")
        before = _last_job_id(spark)
        first = load_table(spark, str(tmp_path), "events")
        cold = _last_job_id(spark)
        again = load_table(spark, str(tmp_path), "events")
        warm = _last_job_id(spark)
        # the first read of the file infers its schema in a Spark job; a
        # repeat read of the unchanged file reuses that schema
        assert cold > before
        assert warm == cold
        assert again.schema == first.schema
        assert again.count() == first.count()

    def test_rewritten_file_shows_new_column(self, spark, sf_dir, tmp_path):
        path = tmp_path / "events.parquet"
        table = pq.read_table(f"{sf_dir}/events.parquet")
        pq.write_table(table, path)
        assert "extra" not in load_table(spark, str(tmp_path), "events").columns
        extra = pa.array(range(table.num_rows), type=pa.int64())
        pq.write_table(table.append_column("extra", extra), path)
        df = load_table(spark, str(tmp_path), "events")
        assert df.columns[-1] == "extra"
        assert df.agg({"extra": "sum"}).first()[0] == sum(range(table.num_rows))


def _stand_in_spark():
    """Just enough of a session for ``_parquet_schema``: a conf dict, and
    a reader whose "inferred schema" names the file and its confs, with
    every read logged in ``reads``."""
    confs, reads = {}, []

    def parquet(path):
        reads.append(path)
        return SimpleNamespace(schema=("schema-of", path, dict(confs)))

    return SimpleNamespace(
        confs=confs,
        reads=reads,
        conf=SimpleNamespace(get=lambda key, default=None: confs.get(key, default)),
        read=SimpleNamespace(parquet=parquet),
    )


@pytest.fixture
def stand_in(monkeypatch):
    """A stand-in session over an empty schema cache."""
    monkeypatch.setattr(readers, "_schema_cache", OrderedDict())
    return _stand_in_spark()


class TestParquetSchemaCache:
    def _files(self, tmp_path, n):
        paths = []
        for i in range(n):
            p = tmp_path / f"f{i}.parquet"
            p.write_bytes(b"x")
            paths.append(str(p))
        return paths

    def test_inference_confs_and_file_identity_are_the_key(self, tmp_path, stand_in):
        spark = stand_in
        (path,) = self._files(tmp_path, 1)
        first = readers._parquet_schema(spark, path)
        assert readers._parquet_schema(spark, path) is first and len(spark.reads) == 1
        spark.confs["spark.sql.parquet.binaryAsString"] = "true"
        assert readers._parquet_schema(spark, path)[2] == spark.confs
        assert len(spark.reads) == 2
        with open(path, "ab") as f:  # same path, new size
            f.write(b"y")
        readers._parquet_schema(spark, path)
        assert len(spark.reads) == 3
        # not a regular file: no cached schema, the caller reads as before
        assert readers._parquet_schema(spark, str(tmp_path)) is None
        assert readers._parquet_schema(spark, str(tmp_path / "missing")) is None

    def test_bounded_least_recently_used(self, tmp_path, stand_in):
        spark = stand_in
        size = readers._SCHEMA_CACHE_SIZE
        paths = self._files(tmp_path, size + 1)
        for p in paths[:size]:
            readers._parquet_schema(spark, p)
        readers._parquet_schema(spark, paths[0])  # refresh the oldest
        readers._parquet_schema(spark, paths[size])  # evicts paths[1]
        assert len(readers._schema_cache) == size and len(spark.reads) == size + 1
        readers._parquet_schema(spark, paths[0])
        assert len(spark.reads) == size + 1
        readers._parquet_schema(spark, paths[1])
        assert len(spark.reads) == size + 2

    def test_threads_share_the_cache_safely(self, tmp_path, stand_in):
        spark = stand_in
        paths = self._files(tmp_path, readers._SCHEMA_CACHE_SIZE + 16)
        errors, wrong = [], []

        def work(offset):
            try:
                for i in range(400):
                    p = paths[(i * 7 + offset) % len(paths)]
                    if readers._parquet_schema(spark, p)[1] != p:
                        wrong.append(p)
            except Exception as e:  # any error in a thread fails the test
                errors.append(e)

        old = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            threads = [threading.Thread(target=work, args=(k,)) for k in range(12)]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=60)
        finally:
            sys.setswitchinterval(old)
        assert not any(t.is_alive() for t in threads)
        assert not errors and not wrong
        assert len(readers._schema_cache) <= readers._SCHEMA_CACHE_SIZE
