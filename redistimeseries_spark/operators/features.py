"""Per-series feature extraction — the fleet-triage operator.

Beyond-reference: the reference's vocabulary (src/compaction.c
aggregators, src/query_language.c range options) describes ONE series
at a time; a 500k-series fleet at 100 TB first needs a cheap per-key
summary to decide which series deserve the expensive operators
(decompose, holt_winters, anomaly monitors) and which are flat noise.
`ts_features` computes the standard time-series feature vector of the
tsfeatures/catch22 tradition — volume, moments, linear trend, lag-1
autocorrelation, mean-crossing rate, flatness, spikiness — one row per
key, directly usable for clustering, routing, or quality triage.

All features are computed on the regular bucket grid (per-bucket
averages over OBSERVED buckets — the ts_acf convention: empty buckets
are absent, not zero; consecutive-bucket features only pair buckets
exactly one `bucket_dur` apart, so gaps shrink the pair count instead
of fabricating adjacency across them).

Spark shape: one (key, bucket) hash aggregation is the only per-sample
stage; then one exchange of the grid on `key` feeds a single window
pass (per-key mean / min-bucket via unbounded frames, next-bucket via
lead — all #buckets-bounded per key) and one final per-key hash
aggregation.  No joins, no Python, nothing scales with a key's sample
count past the first aggregation — a hot series costs by its time
span (the decompose/acf plan class).

Trend runs on the bucket INDEX (b - min(b)) / dur — exact small
integers, the ts_detect_period discipline: an OLS on raw epoch millis
cancels catastrophically at 1e12 (PLANS.md round-11).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from redistimeseries_spark import MAX_TS, MIN_TS
from redistimeseries_spark.functions.buckets import resolve_align
from redistimeseries_spark.functions.filters import (
    bigint_sql,
    filter_valid_range,
    run_sql,
)


def ts_features(
    samples: DataFrame,
    bucket_dur: int,
    keys: list[str] | str | None = None,
    start: int = MIN_TS,
    end: int = MAX_TS,
    align="0",
) -> DataFrame:
    """One feature row per key (keys with >= 1 observed bucket):

    - ``n_samples`` — valid (non-NaN, in-range) raw samples
    - ``n_buckets`` — observed grid buckets
    - ``mean`` / ``std`` / ``vmin`` / ``vmax`` — moments of the gridded
      series (``std`` is the sample stddev, NULL at one bucket)
    - ``cv`` — coefficient of variation std / \\|mean\\| (NULL when the
      mean is 0 or std undefined)
    - ``trend_slope`` / ``trend_r2`` — OLS of the gridded value on the
      bucket index (slope in value-units per bucket; NULL under 2
      buckets; r2 additionally NULL for a constant series — the
      Syy = 0 edge is engine-dependent, so it is defined away like
      corr's)
    - ``acf1`` — lag-1 autocorrelation over consecutive observed
      buckets (identical pair set to ``ts_acf`` at lag 1; NULL when
      either leg is constant or under 2 pairs)
    - ``crossing_rate`` — fraction of consecutive-bucket pairs that
      STRICTLY cross the key's grid mean (sign product < 0; touching
      the mean exactly is not a crossing); NULL with no pairs
    - ``flat_rate`` — fraction of consecutive-bucket pairs with exactly
      equal values; NULL with no pairs
    - ``spikiness`` — max \\|v - mean\\| / std, the largest absolute
      z-score on the grid (NULL when std is 0 or undefined)
    """
    if bucket_dur <= 0:
        raise ValueError("bucket_dur must be positive")
    return run_sql(
        FEATURES_SQL,
        filter_valid_range(samples, keys, start, end),
        dur=bigint_sql(bucket_dur),
        align=bigint_sql(resolve_align(align, start, end)),
    ).orderBy("key")


# Both window specs share the (key, __b) sort order so the window stage
# reuses ONE grid sort (an unordered partition-frame spec would plan a
# second key-only Sort).  r2 of a CONSTANT series is an engine-dependent
# edge (Postgres/Spark return 1.0 when Syy = 0, other engines NaN/NULL) —
# defined NULL there, like corr.
FEATURES_SQL = """
SELECT key, n_samples, n_buckets, mean, std,
       CASE WHEN std IS NOT NULL AND mean <> 0 THEN std / abs(mean) END AS cv,
       vmin, vmax, __sl AS trend_slope,
       CASE WHEN std > 0 THEN __r2 END AS trend_r2,
       CASE WHEN __sa > 0 AND __sb > 0 THEN __cov / (__sa * __sb) END AS acf1,
       CASE WHEN __adjn > 0 THEN __cross / __adjn END AS crossing_rate,
       CASE WHEN __adjn > 0 THEN __flat / __adjn END AS flat_rate,
       CASE WHEN std > 0 THEN __maxdev / std END AS spikiness
FROM (
  SELECT key, sum(__c) AS n_samples, count(1) AS n_buckets,
         avg(__v) AS mean, stddev_samp(__v) AS std,
         min(__v) AS vmin, max(__v) AS vmax,
         regr_slope(__v, __x) AS __sl, regr_r2(__v, __x) AS __r2,
         covar_samp(CASE WHEN __adj THEN __v END,
                    CASE WHEN __adj THEN __vn END) AS __cov,
         stddev_samp(CASE WHEN __adj THEN __v END) AS __sa,
         stddev_samp(CASE WHEN __adj THEN __vn END) AS __sb,
         sum(CASE WHEN __adj THEN 1 ELSE 0 END) AS __adjn,
         sum(CASE WHEN __adj AND (__v - __mu) * (__vn - __mu) < 0
                  THEN 1 ELSE 0 END) AS __cross,
         sum(CASE WHEN __adj AND __vn = __v THEN 1 ELSE 0 END) AS __flat,
         max(abs(__v - __mu)) AS __maxdev
  FROM (
    SELECT key, __b, __v, __c, __mu, __minb, __vn, __bn,
           CAST((__b - __minb) / {dur} AS DOUBLE) AS __x,
           coalesce(__bn = __b + {dur}, false) AS __adj
    FROM (
      SELECT key, __b, __v, __c,
             avg(__v) OVER (PARTITION BY key ORDER BY __b ROWS BETWEEN
                            UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS __mu,
             min(__b) OVER (PARTITION BY key ORDER BY __b ROWS BETWEEN
                            UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS __minb,
             lead(__v) OVER (PARTITION BY key ORDER BY __b) AS __vn,
             lead(__b) OVER (PARTITION BY key ORDER BY __b) AS __bn
      FROM (SELECT key, ts - pmod(ts - {align}, {dur}) AS __b,
                   avg(value) AS __v, count(1) AS __c
            FROM {src} GROUP BY key, __b)))
  GROUP BY key)
"""
