"""SparkSession factory with engine defaults.

Defaults are chosen for correctness-parity with the pandas reference and
for scale-out behavior:

- ``spark.sql.session.timeZone=UTC`` — the reference's pandas timestamps
  are tz-naive (src/preprocessing.py:34 in the reference); pinning UTC
  makes Spark's timestamp arithmetic reproduce them exactly and makes
  results independent of cluster-node locale.
- AQE on — runtime coalescing of shuffle partitions, skew-join splitting.
  The events table keys windows by ``user_id``; AQE handles residual skew.
- Arrow on — all pandas interchange (tests, pandas UDFs) is vectorized.
- ``spark.sql.shuffle.partitions`` defaults to 32 for local[32] testing;
  on a real cluster this should be ~2-3x total cores (or left to AQE with
  ``spark.sql.adaptive.coalescePartitions.initialPartitionNum`` high).
- ``spark.python.sql.dataFrameDebugging.enabled=false`` — PySpark 4
  captures the Python call site of every ``F.*``/Column call by default
  (an active-session lookup, a conf read, an origin set/clear over py4j
  and an ``inspect.stack()`` each). A warm build of
  ``plans.anomaly_pipeline`` makes ~2,200 py4j round trips with it on
  and ~600 with it off, and the off build is ~40 ms (~13%) faster
  (median of 20 builds on a 4-core host). What is lost:
  runtime errors no longer carry PySpark's call-site query context (the
  Python file and line that built the failing expression). To get it
  back pass ``extra_conf={"spark.python.sql.dataFrameDebugging.enabled":
  "true"}`` to :func:`get_spark` in a FRESH process: PySpark reads the
  flag once, at the first Column call with an active session, and keeps
  it for the life of the process.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # AQE's coalesce floor (default 1m) over-coalesces small-but-CPU-dense
    # post-shuffle stages: a few MB of compressed shuffle bytes expand to
    # 100k+ rows x a wide window/detector expression tree, and the 1m
    # floor packs them onto 1-2 tasks while the rest of the cluster
    # idles (r14: the six-detector battery's final stage ran 2 tasks,
    # max-task 1.03 s). parallelismFirst (default on) already targets
    # defaultParallelism; lowering the floor just stops it being
    # defeated at the low end. NOT a local[32] constant: at scale the
    # data path's partitions sit at/above the 64m advisory so the floor
    # is never binding there — it binds exactly on the small stats/dim
    # subtrees where extra parallelism is free on any cluster size.
    # Measured (r14 interleaved 3-arm A/B at sf0.1): 128k cut the
    # window-family queries 43-56% and the 8-query total 28%; 32k
    # over-splits the explode-heavy text shuffles (minhash +26%), so
    # 128k is the default. Env override (SPARK_GRAFT_MIN_PARTITION) is
    # resolved inside get_spark() like the other SPARK_GRAFT_* knobs.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "128k",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # pandas-written parquet carries TIMESTAMP(NANOS) which Spark cannot
    # read natively; read as int64 ns and convert in sources.readers.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Window group-limit pushes top-k rank filters into partial aggregation.
    "spark.sql.window.group.limit.threshold": "1000",
    # Keep planning quiet and deterministic in tests.
    "spark.ui.enabled": "false",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # No per-Column call-site capture (see the module docstring).
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def get_spark(
    app_name: str = "amonaly-spark-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults applied.

    ``master`` falls back to ``$SPARK_GRAFT_CPUS`` (local[N]) then local[*].
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    conf["spark.sql.adaptive.coalescePartitions.minPartitionSize"] = (
        os.environ.get("SPARK_GRAFT_MIN_PARTITION", "128k")
    )
    # Local mode runs driver == executor, and Spark's default driver heap
    # is 1 GiB — for 32 concurrent tasks that is ~32 MB of heap per task,
    # so any array-heavy operator (tokenized long documents, sort
    # buffers) spends more time collecting than computing: the r9 bench
    # ladder measured GC at 45% of wall on the 200k-token rung, growing
    # superlinearly — the signature of a fixed heap being outgrown, not
    # of an operator quadratic (re-measured at 8g: the same rung's GC
    # share drops to ~10%). Size the heap like a real executor (8-32 GiB
    # is the normal cluster range). Only effective for the process's
    # FIRST session (the JVM reads it at launch); later getOrCreate
    # calls reuse the running JVM.
    conf["spark.driver.memory"] = os.environ.get(
        "SPARK_GRAFT_DRIVER_MEM", "8g"
    )
    # Throughput collector for batch work: an interleaved A/B on the
    # headline queries (tools/ab_gc.py) measured ParallelGC == G1 on
    # wall, while the allocation-heavy longdoc ladder's GC share at the
    # 200k rung dropped 12.8% -> 3.7% of wall. Pauses don't matter in a
    # batch engine; on a real cluster mirror this in
    # spark.executor.extraJavaOptions.
    conf.setdefault(
        "spark.driver.extraJavaOptions", "-XX:+UseParallelGC"
    )
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
