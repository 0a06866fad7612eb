"""The keyed-state driver under the streaming twins
(``streaming.rolling._keyed_scan``), driven without Spark: a stand-in
frame captures the handler it gives ``applyInPandasWithState``, and the
tests call that handler with pandas chunks and a stand-in ``GroupState``.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd
import pytest
from pyspark.sql.streaming.state import GroupStateTimeout

from amonaly_detection_in_time_series_data_spark.streaming.rolling import (
    _ddl_names,
    _keyed_scan,
    streaming_adwin,
    streaming_kalman_level,
    streaming_zscore_flags,
)
from amonaly_detection_in_time_series_data_spark.streaming.sequences import (
    streaming_sequences,
)

T0 = dt.datetime(2024, 1, 1)


class _Frame:
    """Records what a twin wires up instead of building a stream."""

    def withWatermark(self, col, delay):
        self.watermark = (col, delay)
        return self

    def groupBy(self, *keys):
        self.keys = keys
        return self

    def applyInPandasWithState(self, fn, **kw):
        self.fn, self.kw = fn, kw
        return self


class _State:
    """The slice of ``GroupState`` the driver uses."""

    def __init__(self, value=None, timed_out=False):
        self.value = value
        self.hasTimedOut = timed_out
        self.removed = False
        self.timeout_ms = None

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return tuple(self.value)

    def update(self, value):
        self.value = tuple(value)

    def remove(self):
        self.value = None
        self.removed = True

    def setTimeoutDuration(self, ms):
        self.timeout_ms = ms


def _driver(scan, order=("ts", "seq"), init=(0,), timeout_minutes=60):
    return _keyed_scan(
        _Frame(), ["user_id"], "user_id bigint, n bigint", "n bigint",
        init, order, scan, timeout_minutes,
    )


def _chunk(ts_hours, seqs, values):
    return pd.DataFrame({
        "user_id": [7] * len(seqs),
        "ts": [T0 + dt.timedelta(hours=h) for h in ts_hours],
        "seq": seqs,
        "value": values,
    })


def _recording_scan(calls):
    def scan(key, state, cols):
        calls.append((key, state, cols))
        return (state[0] + len(cols["seq"]),), [(key[0], state[0])]
    return scan


def test_wiring():
    frame = _driver(lambda k, s, c: (s, []))
    assert frame.watermark == ("ts", "2 hours")
    assert frame.keys == ("user_id",)
    assert frame.kw["outputMode"] == "append"
    assert frame.kw["timeoutConf"] == GroupStateTimeout.ProcessingTimeTimeout
    none = _driver(lambda k, s, c: (s, []), timeout_minutes=None)
    assert none.kw["timeoutConf"] == GroupStateTimeout.NoTimeout


def test_timeout_evicts_without_output():
    calls = []
    frame = _driver(_recording_scan(calls))
    state = _State(value=(5,), timed_out=True)
    empty = _chunk([], [], [])
    assert list(frame.fn((7,), iter([empty]), state)) == []
    assert state.removed and not state.exists
    assert state.timeout_ms is None
    assert calls == []


def test_sorts_the_whole_batch_across_chunks():
    calls = []
    frame = _driver(_recording_scan(calls))
    # hour 2 arrives twice: the stable sort keeps seq order on the tie,
    # and the chunks interleave in time
    chunks = [
        _chunk([3, 1, 2], [6, 2, 4], [6.0, 2.0, 4.0]),
        _chunk([2, 0, 2], [5, 1, 3], [5.0, 1.0, 3.0]),
    ]
    list(frame.fn((7,), iter(chunks), _State()))
    (_, _, cols), = calls
    assert cols["seq"] == [1, 2, 3, 4, 5, 6]
    assert cols["value"] == [1.0, 2.0, 3.0, 4.0, 5.0, 6.0]
    assert cols["ts"][0] == pd.Timestamp(T0)


def test_empty_order_keeps_arrival_order():
    calls = []
    frame = _driver(_recording_scan(calls), order=())
    chunks = [_chunk([3, 1], [6, 2], [6.0, 2.0]), _chunk([0], [1], [1.0])]
    list(frame.fn((7,), iter(chunks), _State()))
    assert calls[0][2]["seq"] == [6, 2, 1]


def test_null_arrives_as_none():
    calls = []
    frame = _driver(_recording_scan(calls), order=("seq",))
    pdf = pd.DataFrame({
        "user_id": [7, 7, 7],
        "ts": [T0, pd.NaT, T0],
        "seq": [1, 2, 3],
        "value": [1.5, np.nan, 2.5],
        "label": ["a", None, "c"],
        "flag": [1.0, np.nan, 0.0],  # a nullable int column, as Arrow hands it
    })
    list(frame.fn((7,), iter([pdf]), _State()))
    cols = calls[0][2]
    assert cols["value"] == [1.5, None, 2.5]
    assert cols["ts"][1] is None and cols["ts"][0] == pd.Timestamp(T0)
    assert cols["label"] == ["a", None, "c"]
    assert cols["flag"] == [1.0, None, 0.0]
    # plain Python scalars, not numpy: exact int arithmetic stays exact
    assert type(cols["seq"][0]) is int and type(cols["value"][0]) is float


def test_state_round_trips():
    calls = []
    frame = _driver(_recording_scan(calls), init=(0,))
    state = _State()
    out1 = list(frame.fn((7,), iter([_chunk([0, 1], [1, 2], [1.0, 2.0])]), state))
    assert calls[0][1] == (0,)  # a new key starts from init
    assert state.get == (2,)
    assert state.timeout_ms == 60 * 60 * 1000
    out2 = list(frame.fn((7,), iter([_chunk([2], [3], [3.0])]), state))
    assert calls[1][1] == (2,)
    assert state.get == (3,)
    assert [df.values.tolist() for df in out1 + out2] == [[[7, 0]], [[7, 2]]]
    assert list(out1[0].columns) == ["user_id", "n"]


def test_output_names_skip_commas_inside_types():
    ddl = (
        "k decimal(10, 2), xs array<struct<a:int,b:int>>, "
        "m map<string, int>, ts timestamp"
    )
    assert _ddl_names(ddl) == ["k", "xs", "m", "ts"]


def test_no_timeout_leaves_the_timer_alone():
    frame = _driver(_recording_scan([]), timeout_minutes=None)
    state = _State()
    list(frame.fn((7,), iter([_chunk([0], [1], [1.0])]), state))
    assert state.get == (1,) and state.timeout_ms is None


def test_zscore_twin_keeps_the_null_position():
    """A NULL holds its slot in the [t-w, t-1] deque, like a NULL row in
    the batch row frame: with w=4 the row after the NULL sees three
    values, and the spike four rows later is still scored."""
    frame = streaming_zscore_flags(_Frame(), window_rows=4)
    vals = [10.0, 11.0, 9.0, None, 10.0, 11.0, 9.0, 100.0]
    pdf = pd.DataFrame({
        "user_id": [1] * 8,
        "event_id": list(range(8)),
        "ts": [T0 + dt.timedelta(hours=i) for i in range(8)],
        "value": [np.nan if v is None else v for v in vals],
    })
    state = _State()
    (out,) = frame.fn((1,), iter([pdf]), state)
    z = out["zscore"].tolist()
    assert out["is_anomaly"].tolist() == [0, 0, 0, 0, 0, 0, 0, 1]
    assert np.isnan(z[3])  # the NULL row has no score
    assert z[7] == 90.0  # frame [None, 10, 11, 9]: mean 10, sd 1
    assert state.get == ([10.0, 11.0, 9.0, 100.0],)


def test_sequences_timeout_evicts_idle_key():
    """streaming_sequences runs on the driver, so an idle-key timeout
    drops the buffer instead of re-saving it and re-arming forever."""
    frame = streaming_sequences(_Frame(), seq_len=3, timeout_minutes=60)
    tss = [T0, T0 + dt.timedelta(hours=1)]
    state = _State(value=([1.0, 2.0], tss), timed_out=True)
    empty = pd.DataFrame(
        {"user_id": [], "event_id": [], "ts": [], "value": []}
    )
    assert list(frame.fn((1,), iter([empty]), state)) == []
    assert state.removed and not state.exists
    assert state.timeout_ms is None


@pytest.mark.parametrize(
    "build",
    [lambda f: streaming_kalman_level(f, q_var=1.0, r_var=1.0), streaming_adwin],
    ids=["kalman", "adwin"],
)
def test_null_raises_where_batch_raises(build):
    """Kalman and ADWIN refuse NULLs in batch; their twins do too, with
    a ValueError instead of a NaN carried into the state."""
    frame = build(_Frame())
    pdf = pd.DataFrame({
        "user_id": [1, 1],
        "event_id": [0, 1],
        "ts": [T0, T0 + dt.timedelta(hours=1)],
        "value": [1.0, np.nan],
    })
    with pytest.raises(ValueError, match="null values"):
        list(frame.fn((1,), iter([pdf]), _State()))
