"""Custom stateful streaming operators via applyInPandasWithState.

TS.INCRBY/TS.DECRBY (src/module.c:1469-1564) reads the series' last value
and writes last+delta — inherently stateful across micro-batches.  The
reference keeps `lastValue` on the Series struct; here the per-key state
lives in Spark's streaming state store (checkpointed, partitioned by key —
scales horizontally and survives restarts, which is the RDB persistence of
agg contexts for free).

The same template carries any custom running operator the reference's
closed command set lacks (EWMA, monotonic counters, rate()).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from redistimeseries_spark.operators.smooth import (
    EWM_BAND_SCHEMA,
    ewm_band_columns,
    ewm_recurrence,
    last_wins,
)

INCR_OUTPUT_SCHEMA = "key string, ts long, value double"
INCR_STATE_SCHEMA = "last_ts long, last_value double"


def _incr_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    if state.exists:
        last_ts, last_value = state.get
    else:
        last_ts, last_value = -1, 0.0
    # accepted iff ts >= running max of prior ACCEPTED ts — which equals the
    # running max of ALL prior ts (an accepted row always raises the max to
    # itself), so the reference's reject-if-ts<last rule (src/module.c:1509)
    # vectorizes to a prefix-max mask + cumsum per Arrow chunk.
    outs = []
    for pdf in pdfs:
        pdf = pdf.sort_values("seq")
        t = pdf["ts"].to_numpy(np.int64)
        d = pdf["value"].to_numpy(np.float64)
        prior = np.maximum.accumulate(np.concatenate(([last_ts], t)))[:-1]
        keep = t >= prior
        kt = t[keep]
        kv = last_value + np.cumsum(d[keep])
        if len(kt):
            last_ts = int(max(last_ts, kt[-1]))
            last_value = float(kv[-1])
        outs.append(pd.DataFrame({"key": key[0], "ts": kt, "value": kv}))
    state.update((last_ts, last_value))
    yield pd.concat(outs) if outs else pd.DataFrame(
        {"key": [], "ts": [], "value": []}
    )


def incrby_stream(increments):
    """increments: streaming DF (key, ts, value=delta, seq).  Returns the
    running-counter sample stream (append mode)."""
    return increments.groupBy("key").applyInPandasWithState(
        _incr_fn,
        outputStructType=INCR_OUTPUT_SCHEMA,
        stateStructType=INCR_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


EWM_BAND_STATE_SCHEMA = "last_ts long, c0 double, m double, q double"


def ewm_band_stream(samples, alpha: float, band_k: float = 2.0):
    """Continuous adaptive Bollinger envelope over a sample stream
    (operators/smooth.ts_ewm_band's streaming form — the live breakout
    monitor on the ingest stream; cusum_stream's sibling for LEVEL
    rather than DRIFT).  The per-key EWM moment pair lives in Spark's
    streaming state store, CENTERED on the key's first accepted sample
    (the variance-credibility discipline: q stays variance-scaled, so
    the EWM_SNAP snap never deletes a large-offset series' genuine
    variance).

    Each micro-batch takes the batch operator's effective samples: NaN
    rows dropped, duplicate ts folded to the (ts, value) last-wins
    sample (`smooth.last_wins`), applied in ts order.  A row whose ts
    is at or below the key's last applied ts from an EARLIER batch is
    DROPPED — an accumulating statistic cannot be retro-inserted, and
    append-mode output cannot retract the row already emitted for that
    ts (the incrby/cusum_stream rule; feed the resolved ingest view
    for replay-exact history).  The moments run through
    `smooth.ewm_recurrence` seeded with the carried state and the band
    through `smooth.ewm_band_columns` — the batch operator's own
    kernel, so the stream equals ts_ewm_band on feeds whose batches
    arrive in ts order (pinned in test_streaming_native)."""
    if band_k <= 0:
        raise ValueError("band_k must be positive")
    if not 0 < alpha < 1:
        raise ValueError("alpha must be in (0, 1)")
    a, kf = float(alpha), float(band_k)

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(pdfs))
        pdf = last_wins(pdf[~pdf["value"].isna()])
        if state.exists:
            last_ts, c0, m0, q0 = state.get
            pdf = pdf[pdf["ts"] > last_ts].reset_index(drop=True)
        elif len(pdf):
            # the key's first valid sample: centering origin, plain seed
            c0, m0, q0 = float(pdf["value"].iloc[0]), None, None
        if not len(pdf):
            # all NaN or already applied; an all-NaN key stores no
            # state, so its centering origin stays unset
            return
        y = pdf["value"].to_numpy(np.float64) - c0
        m = ewm_recurrence(y, a, m0)
        q = ewm_recurrence(y * y, a, q0)
        state.update((int(pdf["ts"].iloc[-1]), c0, float(m[-1]), float(q[-1])))
        yield pd.DataFrame(
            {
                "key": pdf["key"],
                "ts": pdf["ts"],
                "value": pdf["value"],
                **ewm_band_columns(c0, y, m, q, a, kf),
            }
        )

    return samples.groupBy("key").applyInPandasWithState(
        fn,
        outputStructType=EWM_BAND_SCHEMA,
        stateStructType=EWM_BAND_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


ANOM_OUTPUT_SCHEMA = (
    "key string, ts long, value double, mean double, std double,"
    " zscore double, anomaly boolean"
)
ANOM_STATE_SCHEMA = "last_ts long, tail array<double>"


def anomaly_stream(samples, window_n: int = 20, z: float = 3.0):
    """Continuous rolling z-score outlier detection over a sample
    stream (operators/smooth.ts_anomalies' streaming form — the third
    live monitor: cusum_stream watches DRIFT, ewm_band_stream watches
    LEVEL, this watches POINT OUTLIERS).  Each sample is compared
    against the mean/stddev of its `window_n` PRECEDING accepted
    samples (itself excluded — an outlier cannot vote itself normal);
    zscore/mean/std are NULL until window_n predecessors exist, exactly
    the batch operator's warm-up contract, and the stream equals
    `ts_anomalies` on in-order feeds (pinned in test_streaming_native).

    The per-key state is the BOUNDED tail of the last window_n accepted
    values (an array column in Spark's streaming state store —
    checkpointed, key-partitioned, O(window_n) per key however long the
    stream runs).  Each micro-batch applies its samples in (ts, value)
    order; a row with ts below the running maximum is DROPPED (the
    incrby_stream reject-if-ts<last rule — a trailing-window statistic
    cannot be retro-inserted; feed the resolved ingest view for
    replay-exact history).  In-batch the rolling moments vectorize as
    pandas rolling mean/std over the tail-prepended series — no Python
    loop per row."""
    if window_n < 2:
        raise ValueError("window_n must be >= 2")
    if z <= 0:
        raise ValueError("z must be positive")
    n, zf = int(window_n), float(z)

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            last_ts, tail = state.get
            tail = list(tail)
        else:
            last_ts, tail = -(1 << 62), []
        outs = []
        for pdf in pdfs:
            pdf = pdf[~pdf["value"].isna()]
            pdf = pdf.sort_values(["ts", "value"]).reset_index(drop=True)
            t = pdf["ts"].to_numpy(np.int64)
            prior = np.maximum.accumulate(
                np.concatenate(([last_ts], t))
            )[:-1]
            keep = t >= prior
            pdf = pdf[keep].reset_index(drop=True)
            if not len(pdf):
                continue
            k_tail = len(tail)
            ser = pd.Series(
                tail + list(pdf["value"].astype(np.float64)),
                dtype=np.float64,
            )
            prev = ser.shift(1)
            n_prev = (
                prev.rolling(n, min_periods=1).count().fillna(0.0)
            )
            mean = prev.rolling(n).mean()
            std = prev.rolling(n).std(ddof=1)
            full = (n_prev >= n).to_numpy()[k_tail:]
            mv = mean.to_numpy()[k_tail:]
            sv = std.to_numpy()[k_tail:]
            yv = ser.to_numpy()[k_tail:]
            zs = np.where(
                full & (sv > 0), (yv - mv) / np.where(sv > 0, sv, 1.0),
                np.nan,
            )
            outs.append(
                pd.DataFrame(
                    {
                        "key": pdf["key"],
                        "ts": pdf["ts"],
                        "value": pdf["value"],
                        "mean": np.where(full, mv, np.nan),
                        "std": np.where(full, sv, np.nan),
                        "zscore": zs,
                        "anomaly": full & (sv > 0) & (np.abs(zs) > zf),
                    }
                ).astype(
                    {
                        "mean": object, "std": object, "zscore": object,
                    }
                ).where(lambda d: d.notna(), None)
            )
            last_ts = int(pdf["ts"].iloc[-1])
            # plain Python floats: the state store pickles the tuple and
            # numpy scalars don't unpickle JVM-side
            tail = (tail + [float(v) for v in yv])[-n:]
        state.update((last_ts, tail))
        if outs:
            yield pd.concat(outs)
        else:
            yield pd.DataFrame(
                {
                    c: []
                    for c in [
                        "key", "ts", "value", "mean", "std",
                        "zscore", "anomaly",
                    ]
                }
            )

    return samples.groupBy("key").applyInPandasWithState(
        fn,
        outputStructType=ANOM_OUTPUT_SCHEMA,
        stateStructType=ANOM_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


CUSUM_OUTPUT_SCHEMA = (
    "key string, ts long, value double, s_pos double, s_neg double,"
    " alarm boolean"
)
CUSUM_STATE_SCHEMA = "last_ts long, s_pos double, s_neg double"


def cusum_stream(samples, k: float, h: float, target: float):
    """Continuous two-sided tabular CUSUM over a sample stream
    (operators/correlate.ts_cusum's streaming form — the live drift
    monitor an alerting pipeline runs on the ingest stream).  The
    per-key (s_pos, s_neg) statistics live in Spark's streaming state
    store (checkpointed, key-partitioned); each micro-batch applies its
    samples in (ts, value) order and a row with ts below the running
    maximum is DROPPED (an accumulating statistic cannot be
    retro-inserted — the incrby_stream reject-if-ts<last rule; feed the
    resolved ingest view for replay-exact history).  `target` must be
    EXPLICIT here: self-baselining on the series mean needs the full
    history, which a stream by definition does not have.

    In-batch the recurrence is vectorized by the same closed form the
    batch operator uses, seeded with the carried state: with C =
    cumsum(d) and prefix_i = min(-s_entry, C_1..C_{i-1}),
    s_i = max(0, C_i - prefix_i) — two numpy accumulates, no Python
    loop per row."""
    if k < 0:
        raise ValueError("k (slack) must be >= 0")
    if h <= 0:
        raise ValueError("h (threshold) must be positive")
    kf, hf, tf = float(k), float(h), float(target)

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            last_ts, sp0, sn0 = state.get
        else:
            last_ts, sp0, sn0 = -(1 << 62), 0.0, 0.0
        outs = []
        for pdf in pdfs:
            pdf = pdf[~pdf["value"].isna()]  # NaN invalid everywhere
            pdf = pdf.sort_values(["ts", "value"])
            t = pdf["ts"].to_numpy(np.int64)
            x = pdf["value"].to_numpy(np.float64)
            prior = np.maximum.accumulate(
                np.concatenate(([last_ts], t))
            )[:-1]
            keep = t >= prior
            t, x = t[keep], x[keep]
            if not len(t):
                continue
            dp = x - tf - kf
            dn = tf - x - kf
            cp = np.cumsum(dp)
            cn = np.cumsum(dn)
            pref_p = np.minimum.accumulate(
                np.concatenate(([-sp0], cp))
            )[:-1]
            pref_n = np.minimum.accumulate(
                np.concatenate(([-sn0], cn))
            )[:-1]
            # pref <= -s_entry <= 0 always, so no extra zero clamp on it
            sp = np.maximum(0.0, cp - pref_p)
            sn = np.maximum(0.0, cn - pref_n)
            last_ts = int(t[-1])
            sp0, sn0 = float(sp[-1]), float(sn[-1])
            outs.append(
                pd.DataFrame(
                    {
                        "key": key[0],
                        "ts": t,
                        "value": x,
                        "s_pos": sp,
                        "s_neg": sn,
                        "alarm": (sp > hf) | (sn > hf),
                    }
                )
            )
        state.update((last_ts, sp0, sn0))
        if outs:
            yield pd.concat(outs)
        else:
            yield pd.DataFrame(
                {
                    "key": [],
                    "ts": [],
                    "value": [],
                    "s_pos": [],
                    "s_neg": [],
                    "alarm": [],
                }
            )

    return samples.groupBy("key").applyInPandasWithState(
        fn,
        outputStructType=CUSUM_OUTPUT_SCHEMA,
        stateStructType=CUSUM_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
