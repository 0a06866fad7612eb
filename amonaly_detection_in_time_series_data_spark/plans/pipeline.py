"""Composed end-to-end anomaly pipeline — the Spark-first equivalent of
the reference's ``run_pipeline`` (main.py:58-233).

Stage map (reference -> here):

  1. load CSVs + header cleanup        -> sources.load_table / load_csv
  2. timestamp parse, dedup 'first',
     numeric clean, ffill              -> dedup_keep_positional + ffill
  3. time/lag/rolling features, dropna -> operators.features.featurize
  4. scale + sequence + train          -> minmax_scale (+ create_sequences
                                          for the model tier)
  5. detect (spec-only in reference)   -> rolling_zscore 3-sigma flags

Crucial structural difference: the reference materializes a full pandas
frame between every stage (>=8 copies); here the stages only extend ONE
logical plan, and nothing executes until the caller acts on the result.

Plan contract: ONE exchange and ONE sort. The dedup window is
partitioned by ``(user_id, ts)`` and every feature and z-score window
by ``user_id``, so left alone Catalyst hashes the events twice (once per
key set) and sorts twice. The events are therefore hashed once on the
series key (``repartition("user_id")``) before the dedup: that
partitioning clusters both key sets, and all the windows ask for the
same order ``(user_id, ts, event_id)``, so the one sort after the one
exchange serves every window. The rows are unchanged — the repartition
only moves where the work happens (pinned by tests/test_pipeline.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sources.readers import load_table
from ..operators.dedup import dedup_keep_positional
from ..operators.missing import ffill, fill_zero
from ..operators.features import featurize
from ..operators.anomaly import rolling_zscore


def anomaly_pipeline(
    spark: SparkSession,
    sf_dir: str,
    target: str = "value",
    lags: tuple[int, ...] = (1, 2, 3, 24),
    windows: tuple[int, ...] = (3, 6, 12, 24),
    zscore_window: int = 24,
    threshold: float = 3.0,
) -> DataFrame:
    """events -> cleaned -> featurized -> 3-sigma anomaly flags.

    The series key is ``user_id`` (the reference's single global series
    generalized to many parallel series — SURVEY §1.1); ordering is
    ``(ts, event_id)`` with the unique event id as a deterministic
    tiebreaker for equal timestamps.
    """
    key = ["user_id"]
    order = ["ts", "event_id"]

    events = load_table(spark, sf_dir, "events").repartition(*key)
    deduped = dedup_keep_positional(events, key + ["ts"], arrival_col="event_id")
    filled = fill_zero(ffill(deduped, [target], key, order), [target])
    feats = featurize(
        filled,
        target,
        key,
        order,
        lags=lags,
        windows=windows,
        aggs=("mean", "std", "min", "max"),
        dropna=True,
    )
    return rolling_zscore(feats, target, zscore_window, key, order, threshold)
