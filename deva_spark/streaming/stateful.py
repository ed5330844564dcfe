"""Custom stateful streaming operators (applyInPandasWithState).

Reference surface: the ad-hoc per-key instance state the engine carries —
``accumulate.state`` (`/root/reference/deva/core/compute/ops.py:803-806`),
Welford mean/M2 anomaly state (`deva/naja/radar/engine.py:264-298`), ADWIN
drift detectors (`radar/engine.py:241-263`), signal-driven ``collect``
flush (`ops.py:568-615`).

Spark mapping: grouped-map ``applyInPandasWithState`` with GroupState —
per-key state lives in the checkpointed state store (RocksDB at scale), so
a 1000-executor run shards keys across executors and survives restarts,
unlike the reference's in-process dicts.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

WELFORD_STATE_SCHEMA = "n long, mean double, m2 double"
ZSCORE_OUT_SCHEMA = (
    "user_id long, event_id long, value double, z double"
)


def _welford_zscore_fn(
    key: tuple,
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
):
    """Online Welford accumulator per key; emits rows whose |z| >= 3 once
    the key has >= 30 observations — the radar engine's exact contract
    (`radar/engine.py:264-298`), with state in the Spark state store."""
    if state.exists:
        n, mean, m2 = state.get
    else:
        n, mean, m2 = 0, 0.0, 0.0
    out_rows = []
    for pdf in pdfs:
        pdf = pdf.sort_values(["ts", "event_id"])
        for x, eid in zip(pdf["value"].tolist(), pdf["event_id"].tolist()):
            x = float(x)
            # flag BEFORE updating, against the state built from history
            if n >= 30:
                var = m2 / (n - 1) if n > 1 else 0.0
                sd = var**0.5
                if sd > 0:
                    z = (x - mean) / sd
                    if abs(z) >= 3.0:
                        out_rows.append(
                            (int(key[0]), int(eid), x, float(z))
                        )
            n += 1
            d = x - mean
            mean += d / n
            m2 += d * (x - mean)
    state.update((n, mean, m2))
    if out_rows:
        yield pd.DataFrame(
            out_rows, columns=["user_id", "event_id", "value", "z"]
        )


def streaming_zscore_anomalies(stream_df: DataFrame) -> DataFrame:
    """Per-user online z-score anomaly stream (Welford state per key)."""
    return (
        stream_df.groupBy("user_id")
        .applyInPandasWithState(
            _welford_zscore_fn,
            outputStructType=ZSCORE_OUT_SCHEMA,
            stateStructType=WELFORD_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


EWMA_STATE_SCHEMA = "s double, started boolean"
EWMA_OUT_SCHEMA = "user_id long, event_id long, ewma double"


def make_ewma_fn(alpha: float):
    """``smoothing.ewma`` streaming twin: one float of state per key
    (s_t = α·x_t + (1-α)·s_{t-1}, adjust=False)."""

    def _ewma_fn(key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState):
        if state.exists:
            s, started = state.get
        else:
            s, started = 0.0, False
        rows = []
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "event_id"])
            for x, eid in zip(pdf["value"].tolist(), pdf["event_id"].tolist()):
                x = float(x)
                s = x if not started else alpha * x + (1 - alpha) * s
                started = True
                rows.append((int(key[0]), int(eid), s))
        state.update((s, started))
        if rows:
            yield pd.DataFrame(rows, columns=["user_id", "event_id", "ewma"])

    return _ewma_fn


def streaming_ewma(stream_df: DataFrame, alpha: float = 0.3) -> DataFrame:
    return stream_df.groupBy("user_id").applyInPandasWithState(
        make_ewma_fn(alpha),
        outputStructType=EWMA_OUT_SCHEMA,
        stateStructType=EWMA_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


RUNNING_STATE_SCHEMA = "total double"
RUNNING_OUT_SCHEMA = "user_id long, event_id long, rs double"

CENTS_STATE_SCHEMA = "total long"


def _running_sum_cents_fn(key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState):
    """Exact-integer running sum: the micro-batch input carries a ``cents``
    bigint column (value pre-scaled by the caller), the carried state is one
    int, and the emitted total is ``cents/100`` — bit-identical to the batch
    DECIMAL running fold regardless of accumulation order."""
    (total,) = state.get if state.exists else (0,)
    rows = []
    for pdf in pdfs:
        pdf = pdf.sort_values(["ts", "event_id"])
        for cents, eid in zip(pdf["cents"].tolist(), pdf["event_id"].tolist()):
            total += int(cents)
            rows.append((int(key[0]), int(eid), total / 100.0))
    state.update((total,))
    if rows:
        yield pd.DataFrame(rows, columns=["user_id", "event_id", "rs"])


def streaming_running_sum_exact(stream_df: DataFrame) -> DataFrame:
    """Hash-stable twin of :func:`streaming_running_sum`: accumulates the
    2-decimal ``value`` in integer cents so the streamed running total is
    exactly the batch oracle's DECIMAL prefix sum (driver query x35)."""
    from pyspark.sql import functions as F

    cents = stream_df.withColumn(
        "cents", F.round(F.col("value") * 100, 0).cast("bigint")
    )
    return cents.groupBy("user_id").applyInPandasWithState(
        _running_sum_cents_fn,
        outputStructType=RUNNING_OUT_SCHEMA,
        stateStructType=CENTS_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _running_sum_fn(key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState):
    """``accumulate``/``scan`` streaming twin: carried fold state per key,
    one output row per event with the running total."""
    (total,) = state.get if state.exists else (0.0,)
    rows = []
    for pdf in pdfs:
        pdf = pdf.sort_values(["ts", "event_id"])
        for x, eid in zip(pdf["value"].tolist(), pdf["event_id"].tolist()):
            total += float(x)
            rows.append((int(key[0]), int(eid), round(total, 2)))
    state.update((total,))
    if rows:
        yield pd.DataFrame(rows, columns=["user_id", "event_id", "rs"])


def streaming_running_sum(stream_df: DataFrame) -> DataFrame:
    return stream_df.groupBy("user_id").applyInPandasWithState(
        _running_sum_fn,
        outputStructType=RUNNING_OUT_SCHEMA,
        stateStructType=RUNNING_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


FUNNEL_OUT_SCHEMA = "user_id long, step integer, event_type string"
FUNNEL_STATE_SCHEMA = "step integer, entry long"


def make_funnel_fn(steps: list):
    """Per-user ordered-funnel tracker: state is (furthest step, its
    entry time in ns); a row advances the funnel iff it is the NEXT
    step's type and strictly after the current entry — scanning in
    (ts, event_id) order makes the greedy first-match identical to the
    batch min-ts chaining (`analytics.funnel_counts`), so the drained
    conversions hash-match the batch oracle regardless of micro-batch
    boundaries. One row is emitted per (user, step) conversion, exactly
    once (the state is monotonic)."""

    def _fn(key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState):
        step, entry = state.get if state.exists else (0, -1)
        rows = []
        for pdf in pdfs:
            if step >= len(steps):
                break
            pdf = pdf.sort_values(["ts", "event_id"])
            for ts, et in zip(pdf["ts"], pdf["event_type"]):
                if step >= len(steps):
                    break
                if et == steps[step]:
                    ns = int(pd.Timestamp(ts).value)
                    if step == 0 or ns > entry:
                        step += 1
                        entry = ns
                        rows.append((int(key[0]), step, et))
        state.update((int(step), int(entry)))
        if rows:
            yield pd.DataFrame(rows, columns=["user_id", "step", "event_type"])

    return _fn


def streaming_funnel(stream_df: DataFrame, steps: list) -> DataFrame:
    """Streaming twin of ``analytics.funnel_counts``'s conversion events
    (driver query x69): per-user stateful sequence tracking via
    ``applyInPandasWithState``; the caller aggregates the emitted
    conversions into step counts."""
    return stream_df.groupBy("user_id").applyInPandasWithState(
        make_funnel_fn(list(steps)),
        outputStructType=FUNNEL_OUT_SCHEMA,
        stateStructType=FUNNEL_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
