"""Structured Streaming tier (SURVEY.md §2.11 — none in the reference;
the batch operators are naturally incremental per key, so the engine
exposes streaming variants).

Sources and native operators (Spark keeps any state in the JVM):

- :func:`replay_table_stream`, :func:`replay_events_stream` — replay a
  testdata table as a bounded file stream (the standard backfill/replay
  harness; in production the source would be Kafka/files landing
  continuously).
- :func:`streaming_windowed_stats`, :func:`sessionized_stats` —
  watermarked sliding and session windows, late data beyond the
  watermark dropped (watermark-discard semantics — the batch reference
  has no late-data concept).
- :func:`streaming_dedup`, :func:`streaming_enrich`,
  :func:`streaming_hist` — dedup within the watermark, stream-static
  broadcast join, additive histogram sketch.

Keyed-state twins, one per batch detector or walk: z-score,
Page-Hinkley, EWMA, Hampel, trend OLS, Kalman, episode ids, ADWIN, GK
quantiles, alert throttling, KMV, Theta, Croston, transitions,
attribution, funnel, journey paths and SAX here, plus
``streaming.sequences.streaming_sequences``. Each twin supplies only
its output and state schemas, its initial state, its sort columns and
a ``scan(key, state, cols) -> (state, rows)`` recurrence. The private
driver :func:`_keyed_scan` runs every one of them on
``applyInPandasWithState`` under one contract:

- **Order.** All Arrow chunks of a key's micro-batch are concatenated
  and stable-sorted once on the twin's order columns, so a key with
  more rows than ``spark.sql.execution.arrow.maxRecordsPerBatch`` is
  scanned in the same order as a small one. Across micro-batches the
  order is arrival order: the replay-parity claims are for in-order
  (time-split) replay.
- **NULL -> None.** ``cols`` maps every input column to a plain Python
  list, with SQL NULL as ``None``. Arrow hands a null double to pandas
  as NaN; the driver turns it back, so a NaN value arrives as ``None``
  too. Plain lists, not numpy, keep the Python-int arithmetic of the
  integer-unit twins (Page-Hinkley, trend OLS, SAX) bit-equal to batch.
- **Eviction.** With ``timeout_minutes`` set, a key idle that long in
  processing time is evicted: its state is removed and nothing is
  emitted. Every other call saves the new state and re-arms the
  timeout. ``timeout_minutes=None`` keeps state for the query's life.
- **Watermark.** Fixed at 2 hours on the twin's timestamp column. It
  sets the query's event-time watermark but drops nothing here: Spark
  filters late rows out of this operator only under event-time
  timeouts, which no twin uses, so a late row is still scanned (in
  arrival order, after the rows it should have preceded).
"""

from __future__ import annotations

import os
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import _parquet_schema


def replay_table_stream(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Replay any testdata table as a bounded file stream.

    The file stream source requires a directory, so the single parquet
    file is symlinked into a scratch dir. No type fixing — callers that
    need the events ns-timestamp rule use :func:`replay_events_stream`.
    The file's schema is inferred once per process, as in
    ``sources.readers.load_table``.
    """
    import tempfile

    src = os.path.join(sf_dir, f"{table}.parquet")
    stream_dir = os.path.join(
        tempfile.gettempdir(), f"{table}_stream_{abs(hash(sf_dir)) % 10**8}"
    )
    os.makedirs(stream_dir, exist_ok=True)
    link = os.path.join(stream_dir, f"{table}.parquet")
    if not os.path.exists(link):
        os.symlink(src, link)

    schema = _parquet_schema(spark, src) or spark.read.parquet(src).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(stream_dir)
    )


def replay_events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """Replay the events table as a bounded file stream.

    The testdata's ns-precision timestamp arrives as an int64 (legacy
    nanosAsLong) and is converted to TimestampType by integer division
    to µs — same rule as the batch reader (sources.readers.load_table);
    a plain cast would misread it as seconds.
    """
    stream = replay_table_stream(spark, sf_dir, "events", max_files_per_trigger)
    from pyspark.sql import types as T

    if isinstance(stream.schema["ts"].dataType, T.LongType):
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def streaming_windowed_stats(
    events: DataFrame,
    window: str = "24 hours",
    slide: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding-window per-user value stats with event-time watermarking."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("win"), F.col("user_id"))
        .agg(
            F.avg("value").alias("mean_value"),
            F.stddev_samp("value").alias("std_value"),
            F.count("*").alias("n"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "user_id",
            "mean_value",
            "std_value",
            "n",
        )
    )


def sessionized_stats(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    key: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Per-key gap-merged session aggregates via Spark's NATIVE
    ``session_window`` — sessions are built INCREMENTALLY as events
    arrive (two overlapping sessions merge when a bridging event lands),
    with watermark-driven state eviction, instead of the batch
    lag/cumsum formulation (``operators.timeseries.sessionize``) that
    needs the whole series ordered.

    The same code path runs on BATCH input (``session_window`` is a
    grouping expression, not a streaming-only construct) — the parity
    test replays the events table through both and compares exactly.

    Boundary contract (measured, pinned in tests): a session's end is
    ``last event + gap`` and an event arriving at EXACTLY that end
    MERGES into the session (inclusive boundary) — the same semantics
    as the lag/cumsum operator's strict ``> gap`` new-session test, so
    the two formulations agree on every input. At 100 TB:
    state is per-(key, open-session) and evicted at the watermark; the
    aggregation shuffles once on the key like any streaming agg.
    """
    src = events.withWatermark(ts_col, watermark) if events.isStreaming else events
    return (
        src.groupBy(
            F.col(key), F.session_window(F.col(ts_col), gap).alias("sw")
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(value_col).alias("sum_value"),
        )
        .select(
            key,
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def _ddl(df: DataFrame, cols: Sequence[str]) -> str:
    """``name type, ...`` DDL of ``df``'s columns ``cols``: the key and
    order portions of a twin's schemas follow its input's types."""
    return ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.select(*cols).schema.fields
    )


def _ddl_names(ddl: str) -> list[str]:
    """Top-level field names of a ``name type, ...`` DDL string (commas
    inside ``<...>`` or ``(...)`` belong to a type)."""
    names, depth, field = [], 0, ""
    for ch in ddl + ",":
        depth += (ch in "<(") - (ch in ">)")
        if ch == "," and depth == 0:
            names.append(field.split()[0])
            field = ""
        else:
            field += ch
    return names


def _keyed_scan(
    df: DataFrame,
    keys: Sequence[str],
    out_schema: str,
    state_schema: str,
    init: tuple,
    order: Sequence[str],
    scan: Callable[[tuple, tuple, dict[str, list]], tuple[tuple, list[tuple]]],
    timeout_minutes: int | None,
    ts_col: str = "ts",
) -> DataFrame:
    """Run ``scan`` per key of ``df`` as one stateful streaming operator
    — the driver under every keyed-state twin (contract in the module
    docstring: order, NULL -> None, eviction, 2-hour watermark).

    ``scan(key, state, cols)`` receives the grouping-key tuple, the
    key's state tuple (``init`` for a new key) and the key's whole
    micro-batch as ``{column: list}``, stable-sorted on ``order`` (left
    in arrival order when ``order`` is empty). It returns the new state
    tuple, matching ``state_schema``, and the output rows as tuples in
    ``out_schema`` column order.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    order = list(order)
    out_cols = _ddl_names(out_schema)

    def handler(key, chunks, state):
        import pandas as pd

        # ProcessingTimeTimeout fired for an idle key: evict its state
        # and emit nothing. Without this, the handler would re-save the
        # state and re-arm the timeout, so per-key state would never be
        # evicted (unbounded with key cardinality).
        if state.hasTimedOut:
            state.remove()
            return
        pdf = pd.concat(list(chunks), ignore_index=True)
        if order:
            pdf = pdf.sort_values(order, kind="mergesort")
        cols = {}
        for c in pdf.columns:
            vals = pdf[c].tolist()
            if pdf[c].hasnans:
                vals = [
                    None if na else v
                    for v, na in zip(vals, pdf[c].isna().tolist())
                ]
            cols[c] = vals
        new_state, rows = scan(key, state.get if state.exists else init, cols)
        state.update(new_state)
        if timeout_minutes is not None:
            state.setTimeoutDuration(timeout_minutes * 60 * 1000)
        yield pd.DataFrame(rows, columns=out_cols)

    return (
        df.withWatermark(ts_col, "2 hours")
        .groupBy(*keys)
        .applyInPandasWithState(
            handler,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=(
                GroupStateTimeout.ProcessingTimeTimeout
                if timeout_minutes is not None
                else GroupStateTimeout.NoTimeout
            ),
        )
    )


def streaming_zscore_flags(
    events: DataFrame,
    window_rows: int = 24,
    threshold: float = 3.0,
    timeout_minutes: int | None = 60,
) -> DataFrame:
    """Online rolling z-score per user via per-key state.

    State = the last ``window_rows`` values per user (a bounded deque);
    each incoming batch is scored against the state *then* appended —
    reproducing the batch past-only frame [t-w, t-1] when events arrive
    in order. A NULL value keeps its place in the deque, as a NULL row
    keeps its place in the batch row frame: the mean and std skip it,
    and its own score is NULL (flag 0).
    """
    import math

    def scan(key, state, cols):
        buf = list(state[0])
        rows = []
        for eid, ts, v in zip(cols["event_id"], cols["ts"], cols["value"]):
            hist = [x for x in buf[-window_rows:] if x is not None]
            n = len(hist)
            z = None
            if n >= 2 and v is not None:
                mu = sum(hist) / n
                var = sum((x - mu) ** 2 for x in hist) / (n - 1)
                sd = math.sqrt(var)
                z = (v - mu) / sd if sd > 0 else None
            rows.append(
                (key[0], eid, ts, v, z, int(z is not None and abs(z) > threshold))
            )
            buf.append(v)
        return (buf[-window_rows:],), rows

    return _keyed_scan(
        events,
        ["user_id"],
        "user_id bigint, event_id bigint, ts timestamp, value double, "
        "zscore double, is_anomaly int",
        "values array<double>",
        ([],),
        ["ts", "event_id"],
        scan,
        timeout_minutes,
    )


def streaming_page_hinkley(
    events: DataFrame,
    lam: float = 10.0,
    delta: float = 0.0,
    unit_digits: int = 2,
    timeout_minutes: int | None = 60,
) -> DataFrame:
    """Online Page-Hinkley change detection per user — the streaming
    face of :func:`operators.anomaly.page_hinkley`.

    Why this is the tier's best streaming citizen: the state is FIVE
    integers per key — (n, Σm, u, min u, max d) — O(1) regardless of
    stream length (the rolling z-score keeps a w-value deque; windowed
    stats keep a window's worth per slide). The integer micro-unit form
    (same ``floor((2S+n)/(2n))`` running mean as batch) makes the
    stream's output EQUAL the batch operator's bit-for-bit for in-order
    arrival — asserted, not approximate, in the replay-parity test.
    Python ints are arbitrary-precision, so the running sums cannot
    overflow the state's bigint before the batch side would.
    """
    scale = 10**unit_digits
    delta_i = int(round(delta * scale))
    lam_i = int(round(lam * scale))

    def scan(key, state, cols):
        n, s, u, minu, d, maxd = state
        rows = []
        for eid, ts, v in zip(cols["event_id"], cols["ts"], cols["value"]):
            m = int(round(float(v) * scale))
            n += 1
            s += m
            # Python // floors toward -inf — identical to the batch
            # side's F.floor((2S+n)/(2n)) for any sign of S
            xbar = (2 * s + n) // (2 * n)
            dev = m - xbar
            u += dev - delta_i
            d += dev + delta_i
            if n == 1:
                minu, maxd = u, d
            else:
                minu = min(minu, u)
                maxd = max(maxd, d)
            inc, dec = u - minu, maxd - d
            rows.append(
                (key[0], eid, ts, float(v), inc / scale, dec / scale,
                 int(inc > lam_i or dec > lam_i))
            )
        return (n, s, u, minu, d, maxd), rows

    return _keyed_scan(
        events,
        ["user_id"],
        "user_id bigint, event_id bigint, ts timestamp, value double, "
        "ph_inc double, ph_dec double, ph_alarm int",
        "n bigint, s bigint, u bigint, minu bigint, d bigint, maxd bigint",
        (0, 0, 0, 0, 0, 0),
        ["ts", "event_id"],
        scan,
        timeout_minutes,
    )


def streaming_ewma_deviation(
    events: DataFrame,
    window_rows: int = 8,
    alpha: float = 0.5,
    threshold: float = 3.0,
    timeout_minutes: int | None = 60,
) -> DataFrame:
    """Online EWMA control chart per user — the streaming face of
    :func:`operators.anomaly.ewma_deviation`, completing the streaming
    detector battery (z-score, Page-Hinkley, EWMA).

    State = the last ``window_rows`` values per key (same bounded deque
    as the z-score twin; the batch operator truncates the EWMA for
    exactly this reason — bounded state is what a stream must hold).
    Each row is scored against state THEN appended, reproducing the
    batch past-only [t-w, t-1] frame for in-order arrival. The weighted
    sum accumulates most-recent-first with the same ``(1-alpha)^lag``
    literals as the batch flat-codegen form, so parity holds to float
    summation order (replay-asserted at rel 1e-6, the z-score twin's
    contract). A NULL value keeps its lag position, as in the batch
    frame: it adds no weight to the EWMA and no term to the std.
    """
    import math

    def scan(key, state, cols):
        buf = list(state[0])
        rows = []
        for eid, ts, v in zip(cols["event_id"], cols["ts"], cols["value"]):
            hist = buf[-window_rows:]
            num = den = 0.0
            for j, x in enumerate(reversed(hist), start=1):
                if x is not None:
                    wt = (1.0 - alpha) ** (j - 1)
                    num += x * wt
                    den += wt
            ewma = num / den if den > 0 else None
            vals = [x for x in hist if x is not None]
            n = len(vals)
            if n >= 2:
                mu = sum(vals) / n
                var = sum((x - mu) ** 2 for x in vals) / (n - 1)
                rstd = math.sqrt(var)
            else:
                rstd = None
            # batch contract: ewma_dev is the rstd-NORMALIZED
            # deviation, NULL when no ewma or zero/undefined spread
            dev = (
                (v - ewma) / rstd
                if (
                    v is not None
                    and ewma is not None
                    and rstd is not None
                    and rstd != 0.0
                )
                else None
            )
            alarm = int(dev is not None and abs(dev) > threshold)
            rows.append((key[0], eid, ts, v, ewma, dev, alarm))
            buf.append(v)
        return (buf[-window_rows:],), rows

    return _keyed_scan(
        events,
        ["user_id"],
        "user_id bigint, event_id bigint, ts timestamp, value double, "
        "ewma double, ewma_dev double, ewma_alarm int",
        "values array<double>",
        ([],),
        ["ts", "event_id"],
        scan,
        timeout_minutes,
    )


def streaming_hampel_flags(
    events: DataFrame,
    window_rows: int = 11,
    k: float = 3.0,
    timeout_minutes: int | None = 60,
) -> DataFrame:
    """Online Hampel despiker per user — the streaming face of
    :func:`operators.anomaly.hampel_flags` in its past-only
    (``centered=False``) mode, the one an online detector can have
    (the centered textbook frame needs the future).

    Same bounded-deque state as the z-score twin; each row is scored
    against the previous ``window_rows`` values' exact interpolated
    median/MAD (identical formulas to the batch operator, so replay
    parity is exact — order statistics, nothing accumulates), then
    appended. A NULL value keeps its place in the window and is left
    out of the median, as in the batch row frame.
    """

    def med(sorted_vals):
        m = len(sorted_vals)
        return (
            sorted_vals[(m + 1) // 2 - 1] + sorted_vals[(m + 2) // 2 - 1]
        ) / 2.0

    def scan(key, state, cols):
        buf = list(state[0])
        rows = []
        for eid, ts, v in zip(cols["event_id"], cols["ts"], cols["value"]):
            hist = [x for x in buf[-window_rows:] if x is not None]
            if hist:
                m = med(sorted(hist))
                mad = med(sorted(abs(x - m) for x in hist))
                if v is None:
                    flag = 0
                elif mad == 0.0:
                    flag = int(v != m)
                else:
                    flag = int(abs(v - m) > k * 1.4826 * mad)
            else:
                m = mad = None
                flag = 0
            rows.append((key[0], eid, ts, v, m, mad, flag))
            buf.append(v)
        return (buf[-window_rows:],), rows

    return _keyed_scan(
        events,
        ["user_id"],
        "user_id bigint, event_id bigint, ts timestamp, value double, "
        "hampel_median double, hampel_mad double, hampel_flag int",
        "values array<double>",
        ([],),
        ["ts", "event_id"],
        scan,
        timeout_minutes,
    )


def streaming_trend_ols(
    events: DataFrame,
    threshold: float = 3.0,
    unit_digits: int = 2,
    min_points: int = 3,
    timeout_minutes: int | None = 60,
) -> DataFrame:
    """Online recursive-least-squares detrending per user — the
    streaming face of :func:`operators.anomaly.trend_ols_expanding`.

    State is SEVEN integers per key — the row counter and the six OLS
    sufficient statistics (n, Σx, Σy, Σx², Σxy, Σy²) in exact
    ``10^-unit_digits`` units — O(1) regardless of stream length, the
    same citizenship class as :func:`streaming_page_hinkley`. Every row
    is scored against the fit of the rows BEFORE it (the batch twin's
    ``rowsBetween(unboundedPreceding, -1)`` frame), then folded into the
    sums. Because both sides derive their doubles from the SAME exact
    integers with the same IEEE expression order, the stream's output
    equals the batch operator's bit-for-bit on in-order replay —
    asserted exactly in the parity test. Python ints are
    arbitrary-precision, so the sums cannot overflow before the batch
    side's BIGINT would.
    """
    import math

    scale = 10**unit_digits

    def scan(key, state, cols):
        rn, n_i, sx_i, sy_i, sxx_i, sxy_i, syy_i = state
        rows = []
        for eid, ts, v in zip(cols["event_id"], cols["ts"], cols["value"]):
            x = rn  # 0-based row index, null y rows included
            m = int(round(v * scale)) if v is not None else None
            # score vs the PAST fit — same IEEE expression order as
            # the batch columns (floats from the same exact ints)
            slope = fit = z = alarm = None
            n = float(n_i)
            sx, sy = float(sx_i), float(sy_i)
            sxx, sxy, syy = float(sxx_i), float(sxy_i), float(syy_i)
            vx = n * sxx - sx * sx
            if n >= min_points and vx > 0:
                b = (n * sxy - sx * sy) / vx
                a = (sy - b * sx) / n
                sse = max(
                    0.0, syy - sy * sy / n - b * b * (sxx - sx * sx / n)
                )
                s = math.sqrt(sse / (n - 2)) if n > 2 else None
                fit_i = a + b * float(x)
                slope = b / scale
                fit = fit_i / scale
                if m is not None and s is not None and s != 0.0:
                    z = (float(m) - fit_i) / s
                    alarm = int(abs(z) > threshold)
            rows.append((key[0], eid, ts, v, slope, fit, z, alarm))
            rn += 1
            if m is not None:
                n_i += 1
                sx_i += x
                sy_i += m
                sxx_i += x * x
                sxy_i += x * m
                syy_i += m * m
        return (rn, n_i, sx_i, sy_i, sxx_i, sxy_i, syy_i), rows

    return _keyed_scan(
        events,
        ["user_id"],
        "user_id bigint, event_id bigint, ts timestamp, value double, "
        "trend_run_slope double, trend_run_fit double, "
        "trend_run_z double, trend_run_alarm int",
        "rn bigint, n bigint, sx bigint, sy bigint, "
        "sxx bigint, sxy bigint, syy bigint",
        (0, 0, 0, 0, 0, 0, 0),
        ["ts", "event_id"],
        scan,
        timeout_minutes,
    )


def streaming_kalman_level(
    events: DataFrame,
    q_var: float,
    r_var: float,
    threshold: float = 3.0,
    timeout_minutes: int | None = 60,
) -> DataFrame:
    """Online local-level Kalman filter per user — the streaming face
    of :func:`operators.kalman.kalman_level` (filter half; the RTS
    smoother needs the future and has no streaming face by nature).

    State is TWO floats per key — the filtered level and its variance —
    O(1) regardless of stream length, the textbook reason Kalman
    filters ARE streaming algorithms. Unlike the batch operator,
    ``q_var``/``r_var`` must be explicit: the batch default estimates R
    from the whole series (Hall difference estimator), which a stream
    cannot see.

    Both sides execute the identical IEEE expression sequence
    (predict, innovate, gain, update), so the stream equals the batch
    operator BIT-FOR-BIT on in-order replay — asserted exactly in the
    parity test. Input contract matches the batch operator: a
    null-free series; a NULL value raises ``ValueError``.
    """
    import math

    if q_var is None or r_var is None:
        raise ValueError(
            "streaming_kalman_level: q_var and r_var must be explicit — "
            "a stream cannot estimate R from the full series"
        )
    Q, R = float(q_var), float(r_var)
    thr = float(threshold)

    def scan(key, state, cols):
        a, P = state  # (None, None) until the key's first value
        rows = []
        for eid, ts, y in zip(cols["event_id"], cols["ts"], cols["value"]):
            if y is None:
                raise ValueError(
                    "streaming_kalman_level: null values in series (fill first)"
                )
            if a is None:
                a, P = y, R
                rows.append((key[0], eid, ts, y, None, a, None, None, None))
                continue
            a_pred = a
            p_pred = P + Q
            F_t = p_pred + R
            v = y - a_pred
            K = p_pred / F_t
            a = a_pred + K * v
            P = (1.0 - K) * p_pred
            sd = math.sqrt(F_t)
            score = v / sd
            rows.append(
                (key[0], eid, ts, y, a_pred, a, sd, score, abs(score) > thr)
            )
        return (a, P), rows

    return _keyed_scan(
        events,
        ["user_id"],
        "user_id bigint, event_id bigint, ts timestamp, value double, "
        "kf_pred double, kf_level double, kf_innov_sd double, "
        "kf_score double, kf_flag boolean",
        "level double, var double",
        (None, None),
        ["ts", "event_id"],
        scan,
        timeout_minutes,
    )


def streaming_episode_assign(
    events: DataFrame,
    gap_seconds: float = 7200.0,
    flag_col: str = "is_alert",
    timeout_minutes: int | None = 60,
) -> DataFrame:
    """Online episode-id assignment per user — the streaming face of
    :func:`operators.anomaly.anomaly_episodes`' sessionization step
    (the episode SUMMARY aggregates need the episode to close and stay
    a batch/foreachBatch concern; the id assignment itself is the
    O(1)-state part a stream can own).

    State is TWO numbers per key — the last ALERT timestamp (epoch
    micros) and the running episode counter — exactly the lag/cumsum
    recurrence the batch operator evaluates, so replay equals the batch
    ``attach=True`` assignment BIT-for-bit (asserted in the parity
    test). Non-alert rows pass through with a null episode_id and do
    not touch the gap clock.
    """
    gap_us = int(round(float(gap_seconds) * 1_000_000))

    def scan(key, state, cols):
        # last_us = -1 is the "no alert seen yet" sentinel (a typed
        # state column cannot hold null)
        last_us, counter = state
        rows = []
        for eid, ts, v, flag in zip(
            cols["event_id"], cols["ts"], cols["value"], cols[flag_col]
        ):
            if flag is None or int(flag) == 0:
                rows.append(
                    (key[0], eid, ts, v,
                     int(flag) if flag is not None else None, None)
                )
                continue
            t_us = ts.value // 1000
            if last_us < 0 or t_us - last_us > gap_us:
                counter += 1
            last_us = t_us
            rows.append((key[0], eid, ts, v, int(flag), counter))
        return (last_us, counter), rows

    return _keyed_scan(
        events,
        ["user_id"],
        "user_id bigint, event_id bigint, ts timestamp, value double, "
        f"{flag_col} int, episode_id bigint",
        "last_us long, counter long",
        (-1, 0),
        ["ts", "event_id"],
        scan,
        timeout_minutes,
    )


def streaming_adwin(
    events: DataFrame,
    delta: float = 0.002,
    max_buckets: int = 5,
    timeout_minutes: int | None = 60,
) -> DataFrame:
    """Online ADWIN drift detection per user — the streaming face of
    :func:`operators.adwin.adwin_changes`. ADWIN is a streaming
    algorithm by construction: the persisted state IS its exponential
    histogram (O(max_buckets * log n) bucket (sum, count) pairs), and
    both sides run the SAME ``AdwinState`` code path over losslessly
    round-tripped float64/int64 arrays, so replay equals the batch
    operator BIT-for-bit (asserted exactly in the parity test). As in
    batch, a NULL value raises ``ValueError``.
    """
    from ..operators.adwin import AdwinState

    def scan(key, state, cols):
        sums, sqs, counts = state
        st = AdwinState(delta=delta, max_buckets=max_buckets,
                        sums=sums, sqs=sqs, counts=counts)
        rows = []
        for eid, ts, v in zip(cols["event_id"], cols["ts"], cols["value"]):
            if v is None:
                raise ValueError(
                    "streaming_adwin: null values in series (fill first)"
                )
            changed = st.add(v)
            rows.append((key[0], eid, ts, v, st.n, st.mean(), changed))
        return (list(st.sums), list(st.sqs), list(st.counts)), rows

    return _keyed_scan(
        events,
        ["user_id"],
        "user_id bigint, event_id bigint, ts timestamp, value double, "
        "adwin_n bigint, adwin_mean double, adwin_change boolean",
        "sums array<double>, sqs array<double>, counts array<long>",
        ([], [], []),
        ["ts", "event_id"],
        scan,
        timeout_minutes,
    )


def streaming_quantiles(
    events: DataFrame,
    quantiles: tuple[float, ...] = (0.5, 0.95, 0.99),
    eps: float = 0.01,
    timeout_minutes: int | None = 60,
) -> DataFrame:
    """Online per-user epsilon-approximate quantiles via a persisted
    Greenwald-Khanna sketch (:mod:`operators.gk`) — the
    p99-per-service monitoring shape the batch ``percentile`` /
    ``approx_percentile`` cannot maintain incrementally. Each row
    emits the CURRENT estimates after folding its value in; state is
    the sketch's tuple arrays, O((1/eps) log(eps n)) per key with the
    paper's rank-error guarantee (asserted against exact quantiles on
    replay in the parity test)."""
    from ..operators.gk import GKSketch

    qs = [float(q) for q in quantiles]
    qcols = [f"q{str(q).replace('.', '_')}" for q in qs]

    def scan(key, state, cols):
        vs, gs, ds, n = state
        sk = GKSketch(eps=eps, vs=vs, gs=gs, ds=ds, n=n)
        rows = []
        for eid, ts, v in zip(cols["event_id"], cols["ts"], cols["value"]):
            v = float(v)
            sk.insert(v)
            rows.append((key[0], eid, ts, v, *[sk.query(q) for q in qs]))
        return (list(sk.vs), list(sk.gs), list(sk.ds), sk.n), rows

    return _keyed_scan(
        events,
        ["user_id"],
        "user_id bigint, event_id bigint, ts timestamp, value double, "
        + ", ".join(f"{c} double" for c in qcols),
        "vs array<double>, gs array<long>, ds array<long>, n long",
        ([], [], [], 0),
        ["ts", "event_id"],
        scan,
        timeout_minutes,
    )


def streaming_throttle_alerts(
    flagged: DataFrame,
    cooldown_seconds: float = 3600.0,
    flag_col: str = "is_anomaly",
    policy: str = "quiet-period",
    timeout_minutes: int | None = 60,
) -> DataFrame:
    """Online alert throttling — the streaming face of
    :func:`operators.anomaly.throttle_alerts`, for the pipeline tail
    where alerts actually page someone.

    The best streaming citizen in the family: state is TWO floats per
    key — last ALERT ts (quiet-period re-arms on every alarm) and last
    DELIVERED ts (fixed-cooldown re-arms on delivery) — O(1) however
    long the stream. Both batch policies reproduce exactly for in-order
    replay (asserted, not approximate: the decision rule is pure
    timestamp comparisons, no float accumulation).

    Input: a scored stream carrying ``user_id, event_id, ts`` and the
    flag column. Output: same grain plus ``alert_delivered``.
    """
    if policy not in ("quiet-period", "fixed-cooldown"):
        raise ValueError(
            f"streaming_throttle_alerts: unknown policy {policy!r}"
        )

    def scan(key, state, cols):
        last_alert, last_delivered = state
        rows = []
        for eid, ts, flag in zip(cols["event_id"], cols["ts"], cols[flag_col]):
            flag = int(flag) if flag is not None else 0
            delivered = 0
            if flag == 1:
                t = ts.timestamp()
                if policy == "quiet-period":
                    if last_alert is None or t - last_alert > cooldown_seconds:
                        delivered = 1
                    last_alert = t
                else:
                    if (
                        last_delivered is None
                        or t - last_delivered > cooldown_seconds
                    ):
                        delivered = 1
                        last_delivered = t
            rows.append((key[0], eid, ts, flag, delivered))
        return (last_alert, last_delivered), rows

    return _keyed_scan(
        flagged,
        ["user_id"],
        "user_id bigint, event_id bigint, ts timestamp, "
        f"{flag_col} int, alert_delivered int",
        "last_alert double, last_delivered double",
        (None, None),
        ["ts", "event_id"],
        scan,
        timeout_minutes,
    )


def streaming_dedup(
    events: DataFrame, key_cols=("event_id",), watermark: str = "2 hours"
) -> DataFrame:
    """Streaming exact dedup on the key with bounded state:
    ``dropDuplicatesWithinWatermark``.

    Plain ``dropDuplicates(keys)`` on a stream keeps state FOREVER when
    the event-time column is not part of the dedup keys — the watermark
    evicts nothing, and per-key state grows with stream lifetime (the
    documented Spark contract: eviction requires the event-time column
    in the subset). ``dropDuplicatesWithinWatermark`` is the fix: dedup
    by the business key alone, with each key's state expiring once the
    watermark passes its first-seen event time. State = one entry per
    key seen within the horizon — bounded by (arrival rate x horizon),
    not stream length — which is the contract a duplicate-suppression
    stage actually needs (a duplicate later than the horizon is by
    definition out of contract). The streaming analogue of batch
    ``dedup_exact``/O3.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


def streaming_enrich(events: DataFrame, dim: DataFrame, on: str = "user_id") -> DataFrame:
    """Stream-static broadcast join — each microbatch joins against the
    (broadcast) static dimension; no stream-side state at all."""
    return events.join(F.broadcast(dim), on)


def streaming_kmv(
    events: DataFrame,
    value_col: str = "value",
    k: int = 256,
    hash_fn: str = "xxhash64",
    key_cols: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    timeout_minutes: int | None = 60,
) -> DataFrame:
    """Continuously maintained KMV theta sketch per key — the streaming
    twin of :func:`operators.kmv.kmv_build`. Each micro-batch emits the
    key's updated sketch (sorted k smallest distinct hashes), its size,
    and the ``(k-1)/u_k`` distinct-count estimate, so a dashboard reads
    live cardinalities — and live set INTERSECTIONS via
    :func:`~operators.kmv.kmv_intersect_estimate` over the emitted
    sketch columns — without ever rescanning the stream's history.

    State is the sorted ≤k-long hash array — bounded by construction
    (the whole point of the sketch), and by the min-wise property the
    streamed sketch equals the batch build over the same rows EXACTLY
    (array equality, not approx — pinned on multi-micro-batch replay).
    Hashing runs JVM-side before the stateful operator; the Python
    state function only merges longs.
    """
    from ..operators.kmv import _U_DIV, _U_OFF, _kmv_hash

    if k < 2:
        raise ValueError(f"streaming_kmv: k must be >= 2, got {k}")
    if hash_fn not in _U_DIV:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    keys = list(key_cols)
    kk = int(k)
    u_off, u_div = _U_OFF[hash_fn], _U_DIV[hash_fn]

    # NULLs must be dropped BEFORE hashing, mirroring kmv_build's
    # isNotNull filter: xxhash64(NULL) is the seed 42 (never NULL), so
    # no NULL guard downstream could catch it and a NULL value would
    # inject hash 42 into the sketch, inflating below-k counts and
    # breaking the documented array-equality with the batch build.
    keyed = events.filter(F.col(value_col).isNotNull()).select(
        *keys,
        ts_col,
        _kmv_hash(F.col(value_col), hash_fn).alias("__h"),
    )

    def scan(key, state, cols):
        mins = sorted(set(state[0]).union(cols["__h"]))[:kk]
        if len(mins) < kk:
            est = float(len(mins))
        else:
            # same IEEE sequence as operators.kmv.kmv_estimate
            est = (kk - 1) / ((float(mins[kk - 1]) + u_off) / u_div)
        return (mins,), [(*key, mins, len(mins), est)]

    return _keyed_scan(
        keyed,
        keys,
        f"{_ddl(events, keys)}, kmv array<bigint>, kmv_size int, kmv_est double",
        "mins array<bigint>",
        ([],),
        [],
        scan,
        timeout_minutes,
        ts_col,
    )


def streaming_theta(
    events: DataFrame,
    alpha: float = 0.2,
    min_points: int = 3,
    timeout_minutes: int | None = 60,
    ts_col: str = "ts",
    value_col: str = "value",
    key_cols: Sequence[str] = ("user_id",),
) -> DataFrame:
    """Online Theta-method one-step forecasts per series key — the
    streaming face of :func:`operators.timeseries.theta_forecast`. The
    strictly causal formulation was chosen in the batch operator
    precisely so a stream could run it: state is SEVEN scalars per key
    (row counter, the four expanding-OLS sums, the SES level, and the
    backtest error accumulators) — O(1) regardless of stream length.

    Both sides execute the identical IEEE float sequence (the batch
    loop's update order is replicated statement-for-statement,
    including the ``ses = y0`` init followed by the same-row SES
    update), so the stream equals the batch operator BIT-FOR-BIT on
    in-order replay. Input contract matches the batch operator: one
    value per (key, ts) — compose after a grid resample.

    ``key_cols`` mirrors the batch operator's ``series_cols`` (r10,
    ADVICE): the key portion of the output and state schemas is derived
    from the INPUT schema, so any key arity/type works.
    """
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"streaming_theta: alpha must be in (0,1), got {alpha}")
    if min_points < 3:
        raise ValueError(
            f"streaming_theta: min_points must be >= 3, got {min_points}"
        )
    a = float(alpha)
    mp = int(min_points)
    keys = list(key_cols)

    def scan(key, state, cols):
        cnt, sx, sy, sxx, sxy, ses, err_sum, err_n = state
        rows = []
        for ts, yv in zip(cols[ts_col], cols[value_col]):
            if yv is None:
                raise ValueError(
                    "streaming_theta: null values in series (fill first)"
                )
            y_t = float(yv)
            t = cnt
            if cnt == 0:
                ses = y_t  # batch init: ses = y[0] BEFORE the loop
            fc = None
            err = None
            if cnt >= mp:
                det = cnt * sxx - sx * sx
                if det > 0:
                    b = (cnt * sxy - sx * sy) / det
                    a0 = (sy - b * sx) / cnt
                    line_t = a0 + b * t
                    fc = 0.5 * (line_t + ses)
                    err = abs(y_t - fc)
                    err_sum += err
                    err_n += 1
                    z_t = 2.0 * y_t - line_t
                else:
                    z_t = y_t
            else:
                z_t = y_t
            ses = a * z_t + (1.0 - a) * ses
            sx += t
            sy += y_t
            sxx += t * t
            sxy += t * y_t
            cnt += 1
            rows.append(
                (*key, ts, y_t, fc, err, (err_sum / err_n) if err_n else None)
            )
        return (cnt, sx, sy, sxx, sxy, ses, err_sum, err_n), rows

    return _keyed_scan(
        events,
        keys,
        f"{_ddl(events, keys)}, {ts_col} timestamp, {value_col} double, "
        "theta_forecast double, abs_err double, theta_mae double",
        "cnt bigint, sx double, sy double, sxx double, sxy double, "
        "ses double, err_sum double, err_n bigint",
        (0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0),
        [ts_col],
        scan,
        timeout_minutes,
        ts_col,
    )


def streaming_croston(
    events: DataFrame,
    alpha: float = 0.1,
    sba: bool = True,
    timeout_minutes: int | None = 60,
    ts_col: str = "ts",
    value_col: str = "value",
    key_cols: Sequence[str] = ("user_id",),
) -> DataFrame:
    """Online Croston/SBA intermittent-demand forecasts per series key —
    the streaming face of :func:`operators.timeseries.croston_forecast`.
    Croston is two SES recursions updated only on demand periods: state
    is SEVEN scalars per key (the two SES levels + their init flags,
    the inter-demand gap counter, and the backtest accumulators) —
    O(1) regardless of stream length; spare-parts/error-rate streams
    are the method's home turf.

    Identical IEEE update order to the batch loop → BIT-FOR-BIT replay
    parity. Input contract matches the batch operator: a regular
    zero-filled grid per key (compose after ``resample_grid`` +
    zero-fill); negative demand raises.

    ``key_cols`` mirrors the batch operator's ``series_cols`` (r10,
    ADVICE): the key portion of the output and state schemas is derived
    from the INPUT schema, so any key arity/type works.
    """
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"streaming_croston: alpha must be in (0,1), got {alpha}")
    a = float(alpha)
    factor = (1.0 - a / 2.0) if sba else 1.0
    keys = list(key_cols)

    def scan(key, state, cols):
        z, p, has_z, has_p, gap, err_sum, err_n = state
        rows = []
        for ts, yv in zip(cols[ts_col], cols[value_col]):
            if yv is None:
                raise ValueError(
                    "streaming_croston: null values in series (fill first)"
                )
            y_t = float(yv)
            if y_t < 0:
                raise ValueError("streaming_croston: negative demand")
            fc = None
            err = None
            if has_z and has_p and p > 0:
                fc = factor * z / p
                err = abs(y_t - fc)
                err_sum += err
                err_n += 1
            gap += 1
            if y_t > 0:
                if not has_z:
                    z = y_t  # first demand initializes the size
                    has_z = True
                elif not has_p:
                    p = float(gap)
                    has_p = True
                    z = a * y_t + (1.0 - a) * z
                else:
                    z = a * y_t + (1.0 - a) * z
                    p = a * gap + (1.0 - a) * p
                gap = 0
            rows.append(
                (*key, ts, y_t, fc, err, (err_sum / err_n) if err_n else None)
            )
        return (z, p, has_z, has_p, gap, err_sum, err_n), rows

    return _keyed_scan(
        events,
        keys,
        f"{_ddl(events, keys)}, {ts_col} timestamp, {value_col} double, "
        "croston_forecast double, abs_err double, croston_mae double",
        "z double, p double, has_z boolean, has_p boolean, "
        "gap bigint, err_sum double, err_n bigint",
        (0.0, 0.0, False, False, 0, 0.0, 0),
        [ts_col],
        scan,
        timeout_minutes,
        ts_col,
    )


def streaming_hist(
    events: DataFrame,
    value_col: str = "value",
    lo: float = 0.0,
    hi: float = 250.0,
    n_bins: int = 10,
    key_cols: Sequence[str] = ("user_id",),
    prefix: str = "b",
) -> DataFrame:
    """Continuously maintained binned-histogram sketch per key — the
    streaming face of :func:`~..operators.binsketch.hist_sketch`, and
    the demonstration of its algebraic class: the build is a PLAIN
    additive aggregation, so Structured Streaming maintains it NATIVELY
    (the state store holds B running bigint sums per key — no custom
    state function, no applyInPandasWithState, no watermark needed for
    correctness in update/complete output). Contrast
    :func:`streaming_kmv`, whose bounded-state merge needs a custom
    stateful operator. The streamed counts equal the batch build over
    the same rows EXACTLY (integer sums are order-free), pinned on
    multi-micro-batch replay.

    Use update/complete output mode (it is an open aggregation); route
    through ``foreachBatch`` + :func:`~..operators.ivm.maintain_agg_snapshot`
    instead when the sketch table must live on disk with snapshot cuts.
    """
    from ..operators.binsketch import hist_sketch

    return hist_sketch(
        events, list(key_cols), value_col, lo, hi, n_bins, prefix
    )


def streaming_transitions(
    events: DataFrame,
    session_cols: Sequence[str] = ("user_id",),
    order_cols: Sequence[str] = ("ts", "event_id"),
    type_col: str = "event_type",
    ts_col: str = "ts",
    timeout_minutes: int | None = 60,
) -> DataFrame:
    """Online user-journey transition events per session — the
    streaming face of :func:`operators.product_analytics.
    transition_matrix`'s lag step (the k x k count/probability matrix
    is an open aggregation and stays a downstream
    update-mode/foreachBatch concern; the WALK itself is the
    O(1)-state part a stream can own, exactly the
    :func:`streaming_episode_assign` split).

    State is the last event type per session key (one string + a
    has-seen flag) — the ``lag`` recurrence. Each arriving row beyond
    the session's first emits one append-mode transition row
    ``(session_cols..., order_cols..., from_type, to_type)``; grouping
    those by (from_type, to_type) reproduces the batch matrix's ``cnt``
    EXACTLY on in-order replay (asserted in the parity test). A null
    PREVIOUS type emits nothing — the batch operator's
    ``lag IS NOT NULL`` filter cannot distinguish "no previous" from
    "previous was null", and the twin mirrors that contract; a null
    CURRENT type is emitted as a transition to null and becomes the
    next row's (suppressed) predecessor.
    """
    keys = list(session_cols)
    order = list(order_cols)

    def scan(key, state, cols):
        has_last, last_type = state
        rows = []
        for o, cur in zip(zip(*(cols[c] for c in order)), cols[type_col]):
            cur = None if cur is None else str(cur)
            if has_last and last_type is not None:
                rows.append((*key, *o, last_type, cur))
            has_last, last_type = True, cur
        return (has_last, last_type), rows

    return _keyed_scan(
        events,
        keys,
        f"{_ddl(events, keys)}, {_ddl(events, order)}, "
        "from_type string, to_type string",
        "has_last boolean, last_type string",
        (False, None),
        order,
        scan,
        timeout_minutes,
        ts_col,
    )


def streaming_attribution(
    events: DataFrame,
    channel_col: str = "event_type",
    touch_types: Sequence[str] = ("signup", "view", "click"),
    conversion_types: Sequence[str] = ("purchase",),
    lookback_us: int = 7 * 86_400_000_000,
    half_life_us: int = 86_400_000_000,
    models: Sequence[str] = ("first", "last", "linear", "position", "decay"),
    key_cols: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    timeout_minutes: int | None = 60,
) -> DataFrame:
    """Online marketing attribution per user — the streaming face of
    :func:`operators.product_analytics.attribution_credit`. The
    bounded-state part a stream can own is the per-user TOUCH LIST
    within the lookback (entries older than ``now - lookback`` can
    never credit a future conversion and are pruned on arrival — state
    is exactly the batch operator's touches-per-lookback contract);
    each arriving conversion emits its credit rows
    ``(key..., ts, model, channel, ppm)`` in append mode. The
    (model, channel) totals are an open aggregation and stay a
    downstream update-mode/foreachBatch concern — the
    :func:`streaming_transitions` split.

    Credit arithmetic is the batch operator's EXACT integer math
    replayed in Python ints (floor-div ppm, power-of-two decay
    weights), and eligibility is purely timestamp-based (strictly
    earlier, within lookback) just like the batch range frame — so
    aggregating the streamed rows equals the batch
    ``attribution_credit`` output bit-for-bit on in-order replay
    (conversions AND credit_ppm; asserted in the parity test). A
    conversion row that is also a touch credits later conversions but
    never itself, matching the strict-earlier frame.
    """
    known = ("first", "last", "linear", "position", "decay")
    bad = [m for m in models if m not in known]
    if bad:
        raise ValueError(f"streaming_attribution: unknown models {bad}")
    if len(set(models)) != len(list(models)):
        raise ValueError(
            f"streaming_attribution: duplicate models in {list(models)!r}"
        )
    keys = list(key_cols)
    model_list = list(models)
    touch_set = set(touch_types)
    conv_set = set(conversion_types)

    def credits_for(touches: list, cus: int) -> list:
        """(model, channel, ppm) rows for one conversion — the batch
        integer math, verbatim."""
        elig = sorted((t, c) for t, c in touches if cus - lookback_us <= t < cus)
        out = []
        if not elig:
            return [(m, "(direct)", 1_000_000) for m in model_list]
        n = len(elig)
        for m in model_list:
            if m == "first":
                out.append((m, elig[0][1], 1_000_000))
            elif m == "last":
                out.append((m, elig[-1][1], 1_000_000))
            elif m == "linear":
                ppm = 1_000_000 // n
                out.extend((m, c, ppm) for _, c in elig)
            elif m == "position":
                if n == 1:
                    out.append((m, elig[0][1], 1_000_000))
                elif n == 2:
                    out.append((m, elig[0][1], 500_000))
                    out.append((m, elig[1][1], 500_000))
                else:
                    out.append((m, elig[0][1], 400_000))
                    mid = 200_000 // (n - 2)
                    out.extend((m, c, mid) for _, c in elig[1:-1])
                    out.append((m, elig[-1][1], 400_000))
            else:  # decay
                ks = [(cus - t) // half_life_us for t, _ in elig]
                kmin = min(ks)
                ws = [1 << (40 - min(k - kmin, 40)) for k in ks]
                sumw = sum(ws)
                out.extend(
                    (m, c, (1_000_000 * w) // sumw)
                    for (_, c), w in zip(elig, ws)
                )
        return out

    def scan(key, state, cols):
        touches = list(zip(*state))
        rows = []
        for ts, et in zip(cols[ts_col], cols[channel_col]):
            us = ts.value // 1000
            if et in conv_set:
                # prune on conversion arrival too: a user whose
                # traffic turns conversion-only must not retain
                # touches beyond the lookback indefinitely (the
                # state contract is pruned-on-ANY-arrival; safe —
                # entries below us - lookback are ineligible for
                # this and every future conversion)
                touches = [
                    (t, c) for t, c in touches if t >= us - lookback_us
                ]
                for m, c, ppm in credits_for(touches, us):
                    rows.append((*key, ts, m, c, ppm))
            if et in touch_set:
                touches.append((us, str(et)))
                # prune: older than us - lookback can never credit
                # a future conversion (future cus >= us)
                touches = [
                    (t, c) for t, c in touches if t >= us - lookback_us
                ]
        return ([t for t, _ in touches], [c for _, c in touches]), rows

    return _keyed_scan(
        events,
        keys,
        f"{_ddl(events, keys)}, {ts_col} timestamp, model string, "
        "channel string, ppm bigint",
        "tus array<bigint>, chs array<string>",
        ([], []),
        [ts_col],
        scan,
        timeout_minutes,
        ts_col,
    )


def streaming_funnel(
    events: DataFrame,
    steps: Sequence[str],
    within_us: int | None = None,
    event_col: str = "event_type",
    key_cols: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    timeout_minutes: int | None = 60,
) -> DataFrame:
    """Online funnel progression per user — the streaming face of
    :func:`operators.product_analytics.funnel_user_depth`, including
    the anchored ``within`` window variant (r12's ``funnel_w``).

    State is O(steps) scalars per user: the completed depth, the
    anchor (the FIRST step-1 timestamp — "the first signup starts the
    clock"), and the last-completed-step timestamp. Each event that
    ADVANCES the funnel emits an append row ``(key..., ts,
    funnel_depth)`` — so the user's current depth is the max streamed
    row, and the depth-over-time sankey is the row sequence. The
    per-user final-depth table stays a downstream open aggregation
    (``max(funnel_depth) group by user``) — the
    :func:`streaming_transitions` split.

    The walk is the batch operator's advancement rule verbatim: a step
    counts iff it names ``steps[done]``, is STRICTLY later than the
    last completed step, and (anchored variant) falls within
    ``within_us`` of the anchor; non-step event types are ignored
    entirely (the batch ``isin(steps)`` filter). Ties replay the batch
    ``sort_array(struct(ts, ev))`` order: micro-batches sort by
    ``(ts, event)``. On in-order replay the streamed max depth per
    user equals the batch ``funnel_depth`` exactly for every user who
    advanced at least once, and users the batch scores 0 emit nothing
    (asserted in the parity test).

    Timeout caveat (r13 ADVICE): the default
    ``timeout_minutes=60`` bounds per-user state, but eviction
    mid-funnel resets ``done``/``anchor`` to 0 — a user whose funnel
    spans longer than the timeout re-walks from step 1 and can stream
    depths the batch operator (anchored at the FIRST step-1) would
    never assign. Because streamed depth is otherwise monotone per
    user, this re-emission is the one way parity can diverge: the
    replay-parity claim above holds unconditionally only with
    ``timeout_minutes=None``; the default trades that guarantee for
    bounded state on funnels slower than the timeout.
    """
    k = len(steps)
    if k < 1:
        raise ValueError("streaming_funnel: need at least one step")
    if len(set(steps)) != k:
        raise ValueError(
            f"streaming_funnel: steps must be distinct, got {list(steps)!r}"
        )
    keys = list(key_cols)
    step_list = [str(s) for s in steps]

    def scan(key, state, cols):
        done, anchor, last = state
        rows = []
        for ts, ev in zip(cols[ts_col], cols[event_col]):
            if done >= k:
                break
            if ev not in step_list:
                continue
            us = ts.value // 1000
            ok = ev == step_list[done] and (done == 0 or us > last)
            if within_us is not None and done > 0:
                ok = ok and us <= anchor + within_us
            if ok:
                if done == 0:
                    anchor = us
                done += 1
                last = us
                rows.append((*key, ts, done))
        return (done, anchor, last), rows

    return _keyed_scan(
        events,
        keys,
        f"{_ddl(events, keys)}, {ts_col} timestamp, funnel_depth int",
        "done int, anchor bigint, last bigint",
        (0, 0, 0),
        [ts_col, event_col],
        scan,
        timeout_minutes,
        ts_col,
    )


def streaming_journey_paths(
    events: DataFrame,
    k: int = 3,
    session_cols: Sequence[str] = ("user_id",),
    order_cols: Sequence[str] = ("ts", "event_id"),
    type_col: str = "event_type",
    ts_col: str = "ts",
    sep: str = ">",
    timeout_minutes: int | None = 60,
) -> DataFrame:
    """Online k-step journey paths per session — the streaming face of
    :func:`operators.product_analytics.journey_paths`, completing the
    product-analytics streaming family (transitions is the k=2 walk;
    this is the k-deep one). The top-paths table (count/share) is an
    open aggregation and stays a downstream update-mode/foreachBatch
    concern — the :func:`streaming_transitions` split; the WALK owns
    O(k) state.

    State is the last k-1 event types per session key, kept as
    parallel (value, is-null) arrays so a NULL type still OCCUPIES its
    position exactly like the batch lag columns: a completed run
    containing a NULL anywhere emits nothing (the batch lag-filter
    convention), but the NULL advances the window and poisons the next
    k-1 runs it participates in. Each arriving row that completes an
    all-non-null run emits one append row ``(session_cols...,
    order_cols..., path)`` with the batch's ``sep``-joined path key
    (same 'type must not contain sep' contract); grouping the streamed
    rows by path reproduces the batch ``cnt`` EXACTLY on in-order
    replay (asserted in the parity test), and share = cnt/total
    downstream.
    """
    if k < 2:
        raise ValueError(f"streaming_journey_paths: k must be >= 2, got {k}")
    keys = list(session_cols)
    order = list(order_cols)

    def scan(key, state, cols):
        vals, nulls = state
        prev = [(None if isnull else v) for v, isnull in zip(vals, nulls)]
        rows = []
        for o, cur in zip(zip(*(cols[c] for c in order)), cols[type_col]):
            cur = None if cur is None else str(cur)
            run = prev + [cur]
            if len(run) == k and all(t is not None for t in run):
                rows.append((*key, *o, sep.join(run)))
            prev = run[-(k - 1):]
        return (
            ["" if t is None else t for t in prev], [t is None for t in prev]
        ), rows

    return _keyed_scan(
        events,
        keys,
        f"{_ddl(events, keys)}, {_ddl(events, order)}, path string",
        "vals array<string>, nulls array<boolean>",
        ([], []),
        order,
        scan,
        timeout_minutes,
        ts_col,
    )


def streaming_sax(
    events: DataFrame,
    series_cols: Sequence[str] = ("user_id",),
    value_col: str = "value",
    ts_col: str = "ts",
    window_rows: int = 16,
    word_len: int = 4,
    alphabet_size: int = 4,
    unit_digits: int = 2,
    order_tiebreak: Sequence[str] = (),
    timeout_minutes: int | None = 60,
) -> DataFrame:
    """Online SAX words per series — the streaming face of
    :func:`operators.sax.sax_words` (ledger row 24), completing the
    bridge SAX exists for: the emitted word stream feeds the text
    machinery LIVE (word-frequency / heavy-hitter motif counting, or
    novelty = a word never seen before, both downstream open
    aggregations — the :func:`streaming_transitions` split; this
    operator owns the WALK).

    State is O(window) and bounded by construction: the tumbling
    window index plus at most ``window_rows - 1`` pending
    ``(value_unit, ts_us)`` pairs per key. Each arriving row with a
    non-null value joins the buffer; when the buffer fills, ONE append
    row ``(series..., win, win_start, word)`` is emitted and the
    buffer resets — partial trailing windows emit nothing, exactly the
    batch contract.

    Bit-exact replay parity (asserted in pytest): the word arithmetic
    replays the batch operator's expression text statement for
    statement in Python — integer unit snap (``int(round(v * scale))``,
    the twin convention; the repo's data contract keeps values ON the
    unit grid so HALF_UP-vs-banker's divergence cannot arise), exact
    integer window/segment sums, then the identical double expression
    ``(segS/segN - S/N) / (sqrt(N*S2 - S*S)/N)`` (Python ints < 2^53
    convert exactly; same operation order, IEEE-identical), flat
    window => z = 0, and the same 4-decimal breakpoint literals (a
    string-cast double literal equals the Python float of the same
    text). NULL-value semantics replay the batch exactly: the batch
    assigns ``row_number`` BEFORE its ``__xi IS NOT NULL`` filter, so
    a NULL OCCUPIES its window position and poisons the whole window
    (``__N = window_rows`` then fails) while window INDICES keep
    counting through poisoned windows — the twin advances the
    position/window counters for NULL rows and suppresses the
    poisoned window's word (pinned by a NULL-bearing replay test).

    Timeout caveat (the :func:`streaming_funnel` convention): the
    default 60-min ProcessingTimeTimeout frees dead keys, but eviction
    mid-window drops the pending partial window AND resets the window
    counter, so a revived key re-numbers from win 0; replay parity
    holds unconditionally only with ``timeout_minutes=None``.
    """
    import math

    from amonaly_detection_in_time_series_data_spark.operators.sax import SAX_BREAKPOINTS

    if alphabet_size not in SAX_BREAKPOINTS:
        raise ValueError(
            f"streaming_sax: alphabet_size must be one of "
            f"{sorted(SAX_BREAKPOINTS)}, got {alphabet_size}"
        )
    if window_rows % word_len != 0:
        raise ValueError(
            f"streaming_sax: window_rows ({window_rows}) must be "
            f"divisible by word_len ({word_len})"
        )
    keys = list(series_cols)
    scale = 10 ** int(unit_digits)
    seg_rows = window_rows // word_len
    bps = [float(repr(b)) for b in SAX_BREAKPOINTS[alphabet_size]]

    def word_of(xs: list[int]) -> str:
        s_all = sum(xs)
        s2_all = sum(x * x for x in xs)
        n = window_rows
        disc = n * s2_all - s_all * s_all
        out = []
        for s in range(word_len):
            seg = xs[s * seg_rows:(s + 1) * seg_rows]
            if disc == 0:
                z = 0.0
            else:
                z = (sum(seg) / seg_rows - s_all / n) / (
                    math.sqrt(float(disc)) / n
                )
            c = chr(97 + len(bps))
            for i, b in enumerate(bps):
                if z < b:
                    c = chr(97 + i)
                    break
            out.append(c)
        return "".join(out)

    def scan(key, state, cols):
        import pandas as pd

        win, seen, poisoned, xs, tss = state
        xs, tss = list(xs), list(tss)
        rows = []
        for ts, v in zip(cols[ts_col], cols[value_col]):
            seen += 1
            if v is None:
                # batch row_number runs BEFORE the null filter: the
                # NULL keeps its position (poisons this window) and
                # window indices keep counting
                poisoned = True
            else:
                xs.append(int(round(float(v) * scale)))
                tss.append(ts.value // 1000)
            if seen == window_rows:
                if not poisoned:
                    rows.append(
                        (*key, win, pd.Timestamp(min(tss) * 1000), word_of(xs))
                    )
                win += 1
                seen, poisoned, xs, tss = 0, False, [], []
        return (win, seen, poisoned, xs, tss), rows

    return _keyed_scan(
        events,
        keys,
        f"{_ddl(events, keys)}, win bigint, win_start timestamp, word string",
        "win bigint, seen int, poisoned boolean, "
        "xs array<bigint>, tss array<bigint>",
        (0, 0, False, [], []),
        [ts_col, *order_tiebreak],
        scan,
        timeout_minutes,
        ts_col,
    )
