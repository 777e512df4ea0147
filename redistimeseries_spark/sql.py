"""SQL surface: expose the store as Spark SQL views plus engine scalar
helpers as SQL UDFs, so the whole query surface is reachable from
`spark.sql(...)` (SURVEY §2.10: the reference's command vocabulary is
closed; ours is that vocabulary *plus* full SQL).

The scalar functions are declarative SQL UDFs (CREATE FUNCTION ... RETURN
<expr>), which Catalyst inlines into the calling plan — they stay inside
whole-stage codegen, unlike Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from redistimeseries_spark.operators.smooth import EWM_SNAP
from redistimeseries_spark.store import TSStore

# bucket(ts) = ts - ((ts - align) mod dur), clamped >= 0
# (CalcBucketStart, src/tsdb.h:88-99)
_TS_BUCKET_SQL = """
CREATE OR REPLACE TEMPORARY FUNCTION ts_bucket(ts BIGINT, dur BIGINT, align BIGINT)
RETURNS BIGINT
RETURN greatest(ts - pmod(ts - align, dur), 0)
"""

# reported bucket ts under BUCKETTIMESTAMP -/~/+
# (src/filter_iterator.c:42-55)
_TS_REPORT_SQL = """
CREATE OR REPLACE TEMPORARY FUNCTION ts_bucket_report(b BIGINT, dur BIGINT, mode STRING)
RETURNS BIGINT
RETURN CASE mode WHEN '~' THEN b + dur DIV 2 WHEN '+' THEN b + dur ELSE b END
"""


def _ts_tvf_sql(p: str) -> list[str]:
    """SQL TABLE functions (Spark 4 `CREATE FUNCTION ... RETURNS TABLE`)
    over the `<p>samples` view, one per beyond-reference TS companion, so
    the `spark.sql` surface matches the Python facade (engine.topk /
    deriv / changes / resets / predict_linear / value_histogram /
    resample / holt / ewma / anomalies / mad / outlier_mad /
    hist_quantile / decompose / forecast / corr / cusum / ewm_band /
    acf / detect_period / features / seasonal_strength —
    named
    `<p><op>`, so two stores registered under
    different prefixes keep independent function sets).  Bodies are the
    operators' exact plans re-expressed
    declaratively — Catalyst inlines them at the call site, so `SELECT *
    FROM ts_deriv(3600000)` compiles to the same aggregation the
    DataFrame operator builds (pinned equal in test_sql_surface).  Bucket
    math is align-0 (`greatest(ts - pmod(ts, dur), 0)`); filter by key or
    time range in the surrounding WHERE clause instead of via args.

    `ts_holt` is the one sequential-recurrence member: its body folds
    each series' sorted sample array with `aggregate()` (O(n^2) array
    growth per key) — a correct SQL twin for interactive use; the Arrow
    applyInPandas facade (operators/smooth.ts_holt) is the scale path."""
    nn = "NOT isnan(value)"
    b = "greatest(ts - pmod(ts, dur), 0)"

    def _interp(a: str) -> str:
        # percentile(·, 0.5)'s exact interpolation over a sorted array
        return (
            f"element_at({a}, CAST(floor((size({a}) - 1) * 0.5) AS INT) + 1)"
            f" + ((size({a}) - 1) * 0.5 - floor((size({a}) - 1) * 0.5))"
            f" * (element_at({a}, CAST(ceil((size({a}) - 1) * 0.5) AS INT) + 1)"
            f"    - element_at({a}, CAST(floor((size({a}) - 1) * 0.5) AS INT) + 1))"
        )

    # single-pass median+MAD aggregate (operators/percentiles.ts_mad's
    # exact expression): nested reduce lambdas bind array/median/devs
    mm_sql = (
        "reduce(array(sort_array(collect_list(value))),"
        " CAST(NULL AS STRUCT<med: DOUBLE, mad: DOUBLE>),"
        " (z, a) -> reduce(array(" + _interp("a") + "),"
        "   CAST(NULL AS STRUCT<med: DOUBLE, mad: DOUBLE>),"
        "   (z2, med) -> reduce("
        "     array(sort_array(transform(a, x -> abs(x - med)))),"
        "     CAST(NULL AS STRUCT<med: DOUBLE, mad: DOUBLE>),"
        "     (z3, dv) -> struct(med AS med, " + _interp("dv") + " AS mad))))"
    )
    return [
        # PromQL topk/bottomk per bucket (operators/multi.ts_topk); agg
        # dispatch covers the groupBy-native core five PLUS the p-name
        # exact percentiles ('p50', 'p99.9' — round-8 parity with the
        # facade's percentile_frac; >100 reaches raise_error like the
        # facade's out-of-range ValueError).  percentile()'s percentage
        # argument must be foldable AT CREATE-FUNCTION ANALYSIS, where
        # `agg` is still a parameter — so the percentile arm computes
        # the identical quantile_cont interpolation itself over
        # sort_array(collect_list(...)), binding the sorted array and
        # the rank position via the reduce-lambda trick (dl_word_ngrams).
        # The two arms are a UNION ALL with mutually-exclusive HAVING
        # predicates on `agg` alone: after the TVF inlines, the literal
        # folds them to true/false and PropagateEmptyRelation DELETES the
        # dead aggregate — an avg/sum/min/max/count call never builds the
        # collect_list buffer (outer refs can't appear INSIDE an
        # aggregate function, so a single guarded CASE cannot express
        # this).  twa stays facade-only (documented in README).
        f"""CREATE OR REPLACE TEMPORARY FUNCTION {p}topk(
                dur BIGINT, n INT, agg STRING, bottom BOOLEAN)
            RETURNS TABLE (ts BIGINT, key STRING, value DOUBLE, rnk INT)
            RETURN SELECT ts, key, value, rnk FROM (
              SELECT __b AS ts, key, __v AS value,
                     row_number() OVER (PARTITION BY __b ORDER BY
                       CASE WHEN bottom THEN __v ELSE -__v END ASC,
                       key ASC) AS rnk
              FROM (
                SELECT key, __b,
                       round(CASE WHEN agg = 'avg' THEN avg(value)
                                  WHEN agg = 'sum' THEN sum(value)
                                  WHEN agg = 'min' THEN min(value)
                                  WHEN agg = 'max' THEN max(value)
                                  WHEN agg = 'count' THEN CAST(count(value) AS DOUBLE)
                                  ELSE CAST(raise_error(concat(
                                    '{p}topk: unsupported agg ', agg,
                                    ' (SQL surface dispatches avg/sum/',
                                    'min/max/count/p<number> with the',
                                    ' percentile in [0, 100]; twa is',
                                    ' facade-only)'))
                                    AS DOUBLE)
                             END, 6) AS __v
                FROM (SELECT key, {b} AS __b, value
                      FROM {p}samples WHERE {nn})
                GROUP BY key, __b
                HAVING agg IS NULL
                       OR NOT (agg RLIKE '^p[0-9]+([.][0-9]+)?$'
                               AND try_cast(substring(agg, 2) AS DOUBLE) <= 100)
                UNION ALL
                SELECT key, __b,
                       round(reduce(
                         array(sort_array(collect_list(value))),
                         CAST(NULL AS DOUBLE),
                         (z, a) -> reduce(
                           array((size(a) - 1)
                             * try_cast(substring(agg, 2) AS DOUBLE) / 100),
                           CAST(NULL AS DOUBLE),
                           (z2, q) ->
                             element_at(a, CAST(floor(q) AS INT) + 1)
                             + (q - floor(q))
                             * (element_at(a, CAST(ceil(q) AS INT) + 1)
                                - element_at(a, CAST(floor(q) AS INT) + 1)))),
                         6) AS __v
                FROM (SELECT key, {b} AS __b, value
                      FROM {p}samples WHERE {nn})
                GROUP BY key, __b
                HAVING agg RLIKE '^p[0-9]+([.][0-9]+)?$'
                       AND try_cast(substring(agg, 2) AS DOUBLE) <= 100)
              WHERE __v IS NOT NULL AND NOT isnan(__v))
            WHERE rnk <= n""",
        # per-bucket least-squares slope, value-units/second (ts_deriv)
        f"""CREATE OR REPLACE TEMPORARY FUNCTION {p}deriv(dur BIGINT)
            RETURNS TABLE (key STRING, ts BIGINT, slope DOUBLE)
            RETURN SELECT key, __b AS ts, slope FROM (
              SELECT key, __b, regr_slope(value, __x) AS slope
              FROM (SELECT key, {b} AS __b,
                           (ts - {b}) / 1000.0 AS __x, value
                    FROM {p}samples WHERE {nn})
              GROUP BY key, __b)
            WHERE slope IS NOT NULL""",
        # per-bucket change count vs previous valid sample (ts_changes)
        f"""CREATE OR REPLACE TEMPORARY FUNCTION {p}changes(dur BIGINT)
            RETURNS TABLE (key STRING, ts BIGINT, changes BIGINT)
            RETURN SELECT key, __b AS ts, __s AS changes FROM (
              SELECT key, __b, sum(__e) AS __s, count(__e) AS __n
              FROM (
                SELECT key, {b} AS __b,
                       CASE WHEN __p IS NULL THEN NULL
                            ELSE CAST(value <> __p AS INT) END AS __e
                FROM (SELECT key, ts, value,
                             lag(value) OVER (PARTITION BY key ORDER BY ts) AS __p
                      FROM {p}samples WHERE {nn}))
              GROUP BY key, __b)
            WHERE __n > 0""",
        # reset-aware counter increase / per-second rate per bucket
        # (rate.ts_increase / ts_rate — the step sum over the full-history
        # valid-sample lag chain; emit when any sample has a predecessor)
        f"""CREATE OR REPLACE TEMPORARY FUNCTION {p}increase(dur BIGINT)
            RETURNS TABLE (key STRING, ts BIGINT, increase DOUBLE)
            RETURN SELECT key, __b AS ts, __s AS increase FROM (
              SELECT key, __b, sum(__e) AS __s, count(__e) AS __n
              FROM (
                SELECT key, {b} AS __b,
                       CASE WHEN __p IS NULL THEN NULL
                            WHEN value >= __p THEN value - __p
                            ELSE value END AS __e
                FROM (SELECT key, ts, value,
                             lag(value) OVER (PARTITION BY key ORDER BY ts) AS __p
                      FROM {p}samples WHERE {nn}))
              GROUP BY key, __b)
            WHERE __n > 0""",
        f"""CREATE OR REPLACE TEMPORARY FUNCTION {p}rate(dur BIGINT)
            RETURNS TABLE (key STRING, ts BIGINT, rate DOUBLE)
            RETURN SELECT key, ts, increase / (dur / 1000.0) AS rate
            FROM {p}increase(dur)""",
        # per-bucket counter-reset count (ts_resets)
        f"""CREATE OR REPLACE TEMPORARY FUNCTION {p}resets(dur BIGINT)
            RETURNS TABLE (key STRING, ts BIGINT, resets BIGINT)
            RETURN SELECT key, __b AS ts, __s AS resets FROM (
              SELECT key, __b, sum(__e) AS __s, count(__e) AS __n
              FROM (
                SELECT key, {b} AS __b,
                       CASE WHEN __p IS NULL THEN NULL
                            ELSE CAST(value < __p AS INT) END AS __e
                FROM (SELECT key, ts, value,
                             lag(value) OVER (PARTITION BY key ORDER BY ts) AS __p
                      FROM {p}samples WHERE {nn}))
              GROUP BY key, __b)
            WHERE __n > 0""",
        # per-bucket linear extrapolation `horizon` past bucket end
        f"""CREATE OR REPLACE TEMPORARY FUNCTION {p}predict_linear(
                dur BIGINT, horizon BIGINT)
            RETURNS TABLE (key STRING, ts BIGINT, predicted DOUBLE)
            RETURN SELECT key, __b AS ts,
                          __c + __m * (dur + horizon) / 1000.0 AS predicted
            FROM (
              SELECT key, __b, regr_slope(value, __x) AS __m,
                     regr_intercept(value, __x) AS __c
              FROM (SELECT key, {b} AS __b,
                           (ts - {b}) / 1000.0 AS __x, value
                    FROM {p}samples WHERE {nn})
              GROUP BY key, __b)
            WHERE __m IS NOT NULL""",
        # per-bucket last-minus-first gauge difference (rate.ts_delta)
        f"""CREATE OR REPLACE TEMPORARY FUNCTION {p}delta(dur BIGINT)
            RETURNS TABLE (key STRING, ts BIGINT, delta DOUBLE)
            RETURN SELECT key, __b AS ts, delta FROM (
              -- duplicate-(key, ts) rows: (ts, value) last-wins ordering
              -- on both endpoints, effective-sample two-row minimum
              SELECT key, __b,
                     max_by(value, struct(ts, value))
                       - min_by(value, struct(ts, -value)) AS delta,
                     count(DISTINCT ts) AS __n
              FROM (SELECT key, ts, {b} AS __b, value
                    FROM {p}samples WHERE {nn})
              GROUP BY key, __b)
            WHERE __n >= 2""",
        # spot gauge movement, last two samples (rate.ts_idelta);
        # duplicate (key, ts) rows order deterministically by (ts, value)
        # and exactly one row per key emits — the facade's rule
        f"""CREATE OR REPLACE TEMPORARY FUNCTION {p}idelta()
            RETURNS TABLE (key STRING, ts BIGINT, idelta DOUBLE)
            RETURN SELECT key, ts, idelta FROM (
              SELECT key, ts,
                     value - lag(value) OVER
                       (PARTITION BY key ORDER BY ts, value) AS idelta,
                     row_number() OVER
                       (PARTITION BY key ORDER BY ts DESC, value DESC) AS __rn
              FROM {p}samples WHERE {nn})
            WHERE __rn = 1 AND idelta IS NOT NULL""",
        # robust median/MAD dispersion per bucket (percentiles.ts_mad):
        # ONE aggregation — the sorted bucket array yields both the
        # interpolated median and the MAD inside a nested-reduce
        # expression, the facade's exact single-pass plan (the two-pass
        # join formulation measured 691 s at 1B rows)
        f"""CREATE OR REPLACE TEMPORARY FUNCTION {p}mad(dur BIGINT)
            RETURNS TABLE (key STRING, ts BIGINT, med DOUBLE, mad DOUBLE)
            RETURN WITH m AS (
              SELECT key, {b} AS __b, {mm_sql} AS mm
              FROM {p}samples WHERE {nn}
              GROUP BY key, {b})
            SELECT key, __b AS ts, mm.med AS med, mm.mad AS mad FROM m""",
        # per-sample Hampel robust-z outlier flags (ts_outlier_mad):
        # the {p}mad stats joined back to the samples; flags from the
        # 6dp-rounded score, mad=0 buckets flag nothing
        f"""CREATE OR REPLACE TEMPORARY FUNCTION {p}outlier_mad(
                dur BIGINT, k DOUBLE)
            RETURNS TABLE (key STRING, ts BIGINT, value DOUBLE,
                           score DOUBLE, is_outlier BOOLEAN)
            RETURN WITH s AS (
              SELECT key, ts, {b} AS __b, value
              FROM {p}samples WHERE {nn}),
            m AS (SELECT key, __b, {mm_sql} AS mm
                  FROM s GROUP BY key, __b),
            st AS (SELECT key, __b, mm.med AS med, mm.mad AS mad FROM m)
            SELECT s.key, s.ts, s.value,
                   round(abs(s.value - st.med)
                         / (1.4826 * nullif(st.mad, 0.0)), 6) AS score,
                   coalesce(round(abs(s.value - st.med)
                            / (1.4826 * nullif(st.mad, 0.0)), 6) > k,
                            false) AS is_outlier
            FROM s JOIN st ON s.key = st.key AND s.__b = st.__b""",
        # PromQL histogram_quantile composed over the value histogram
        # (percentiles.ts_histogram_quantile): rank q*total, first
        # crossing bin, uniform interpolation inside it.  q outside
        # [0, 1] raises (the facade's ValueError; the guard lives in the
        # source CTE because an out-of-range q otherwise yields an EMPTY
        # crossing set — silently no rows — and the TVF inlines q as a
        # literal, so Catalyst folds the valid-q case to true and the
        # invalid case to a plan-time error, the {p}topk pattern)
        f"""CREATE OR REPLACE TEMPORARY FUNCTION {p}hist_quantile(
                bin_width DOUBLE, q DOUBLE)
            RETURNS TABLE (key STRING, qv DOUBLE)
            RETURN WITH h AS (
              SELECT key, floor(value / bin_width) * bin_width AS bin_lo,
                     count(1) AS n
              FROM {p}samples
              WHERE {nn} AND (CASE WHEN q BETWEEN 0 AND 1 THEN true
                              ELSE CAST(raise_error(concat(
                                '{p}hist_quantile: q must lie in [0, 1],'
                                ' got ', q)) AS BOOLEAN) END)
              GROUP BY 1, 2),
            c AS (SELECT key, bin_lo, n,
                         sum(n) OVER (PARTITION BY key) AS tot,
                         sum(n) OVER (PARTITION BY key ORDER BY bin_lo
                           ROWS UNBOUNDED PRECEDING) AS cum
                  FROM h),
            x AS (SELECT key, bin_lo, n, cum, q * tot AS r,
                         row_number() OVER
                           (PARTITION BY key ORDER BY bin_lo) AS rn
                  FROM c WHERE cum >= q * tot)
            SELECT key, bin_lo + bin_width * (r - (cum - n)) / n AS qv
            FROM x WHERE rn = 1""",
        # fixed-width value histogram (percentiles.ts_value_histogram)
        f"""CREATE OR REPLACE TEMPORARY FUNCTION {p}value_hist(
                bin_width DOUBLE, lo DOUBLE)
            RETURNS TABLE (key STRING, bin_lo DOUBLE, n BIGINT)
            RETURN SELECT key,
                          lo + floor((value - lo) / bin_width) * bin_width AS bin_lo,
                          count(1) AS n
            FROM {p}samples WHERE {nn}
            GROUP BY 1, 2""",
        # regular-grid resampling, locf or linear (resample.ts_resample)
        f"""CREATE OR REPLACE TEMPORARY FUNCTION {p}resample(
                step BIGINT, method STRING)
            RETURNS TABLE (key STRING, ts BIGINT, value DOUBLE)
            RETURN WITH df AS (
              SELECT key, ts, value FROM {p}samples WHERE {nn}),
            bounds AS (SELECT key, min(ts) AS __lo, max(ts) AS __hi
                       FROM df GROUP BY key),
            grid AS (
              SELECT key, explode(CASE
                WHEN (__lo + step - 1) - pmod(__lo + step - 1, step)
                     <= __hi - pmod(__hi, step)
                THEN sequence((__lo + step - 1) - pmod(__lo + step - 1, step),
                              __hi - pmod(__hi, step), step)
                ELSE CAST(array() AS ARRAY<BIGINT>) END) AS ts
              FROM bounds),
            u AS (
              SELECT key, ts, value, 1 AS __s FROM df
              UNION ALL
              SELECT key, ts, CAST(NULL AS DOUBLE), 0 FROM grid),
            e AS (
              -- (ts, value) last-wins tiebreak on duplicate-(key, ts)
              -- samples, mirroring the facade and the differential twin
              SELECT key, ts, __s,
                last(value, true) OVER
                  (PARTITION BY key ORDER BY ts, __s DESC, value
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS __pv,
                last(CASE WHEN __s = 1 THEN ts END, true) OVER
                  (PARTITION BY key ORDER BY ts, __s DESC, value
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS __pt,
                last(value, true) OVER
                  (PARTITION BY key ORDER BY ts DESC, __s ASC, value ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS __nv,
                last(CASE WHEN __s = 1 THEN ts END, true) OVER
                  (PARTITION BY key ORDER BY ts DESC, __s ASC, value ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS __nt
              FROM u)
            SELECT key, ts,
              CASE WHEN method NOT IN ('locf', 'linear')
                     THEN CAST(raise_error(concat(
                       '{p}resample: method must be locf or linear, got ',
                       method)) AS DOUBLE)
                   WHEN method = 'locf' THEN __pv
                   WHEN __pt = ts THEN __pv
                   WHEN __nt IS NULL THEN __pv
                   ELSE __pv + (__nv - __pv) * (ts - __pt) / (__nt - __pt)
              END AS value
            FROM e WHERE __s = 0""",
        # EWMA smoothing (smooth.ts_ewma); aggregate() fold over each
        # series' (ts, value)-sorted sample array — SQL twin only (the
        # chunk-affine facade is the scale path; round 9 closes the
        # holt-has-a-TVF / ewma-doesn't asymmetry)
        f"""CREATE OR REPLACE TEMPORARY FUNCTION {p}ewma(alpha DOUBLE)
            RETURNS TABLE (key STRING, ts BIGINT, ewma DOUBLE)
            RETURN WITH arr AS (
              SELECT key, array_sort(collect_list(struct(ts, value))) AS a
              FROM {p}samples WHERE {nn}
              GROUP BY key),
            sm AS (
              SELECT key, a, aggregate(
                slice(a, 2, size(a) - 1),
                array(element_at(a, 1).value),
                (acc, x) -> concat(acc, array(
                  alpha * x.value + (1 - alpha) * element_at(acc, -1)))) AS ys
              FROM arr)
            SELECT key, p.ts AS ts, element_at(ys, pos + 1) AS ewma
            FROM sm LATERAL VIEW posexplode(a) t AS pos, p""",
        # adaptive Bollinger envelope (smooth.ts_ewm_band); aggregate()
        # fold carrying BOTH EWM moments over each series' effective
        # (dup-folded) sorted samples — SQL twin only, the chunk-affine
        # facade is the scale path.  Same one-step-ahead band, variance
        # credibility snap, zero-width suppression, AND first-sample
        # centering as the facade (the moments run over y = value - c0
        # where c0 is the key's first sample, so q is variance-scaled
        # and the snap never deletes a large-offset series' genuine
        # variance — the round-10 ADVICE finding).  The snap threshold
        # is the facade's EWM_SNAP, spliced into the text.
        f"""CREATE OR REPLACE TEMPORARY FUNCTION {p}ewm_band(
                alpha DOUBLE, band_k DOUBLE)
            RETURNS TABLE (key STRING, ts BIGINT, value DOUBLE,
                           ewma DOUBLE, std DOUBLE, upper DOUBLE,
                           lower DOUBLE, breakout BOOLEAN)
            RETURN WITH arr AS (
              SELECT key, array_sort(collect_list(struct(ts, value))) AS a
              FROM (SELECT key, ts, max(value) AS value
                    FROM {p}samples WHERE {nn} GROUP BY key, ts)
              GROUP BY key),
            sm AS (
              SELECT key, a, element_at(a, 1).value AS c0,
                CASE WHEN alpha <= 0 OR alpha >= 1
                  THEN CAST(raise_error(concat(
                    '{p}ewm_band: alpha must be in (0, 1), got ',
                    CAST(alpha AS STRING)))
                    AS STRUCT<ms: ARRAY<DOUBLE>, qs: ARRAY<DOUBLE>>)
                  WHEN band_k <= 0
                  THEN CAST(raise_error(concat(
                    '{p}ewm_band: band_k must be positive, got ',
                    CAST(band_k AS STRING)))
                    AS STRUCT<ms: ARRAY<DOUBLE>, qs: ARRAY<DOUBLE>>)
                  ELSE aggregate(
                    slice(a, 2, size(a) - 1),
                    named_struct(
                      'ms', array(0D), 'qs', array(0D)),
                    (acc, x) -> named_struct(
                      'ms', concat(acc.ms, array(
                        alpha * (x.value - element_at(a, 1).value)
                        + (1 - alpha) * element_at(acc.ms, -1))),
                      'qs', concat(acc.qs, array(
                        alpha * (x.value - element_at(a, 1).value)
                              * (x.value - element_at(a, 1).value)
                        + (1 - alpha) * element_at(acc.qs, -1)))))
                END AS st
              FROM arr),
            e AS (
              SELECT key, p.ts AS ts, p.value AS value, c0,
                     p.value - c0 AS y,
                     element_at(st.ms, pos + 1) AS m,
                     element_at(st.qs, pos + 1) AS q
              FROM sm LATERAL VIEW posexplode(a) t AS pos, p),
            g AS (
              SELECT key, ts, value, c0, y, m, q,
                     (m - alpha * y) / (1 - alpha) AS pm,
                     (q - alpha * y * y) / (1 - alpha) AS pq
              FROM e),
            f AS (
              SELECT key, ts, value, c0, y, m,
                sqrt(CASE WHEN q - m * m > {EWM_SNAP} * q
                          THEN q - m * m ELSE 0D END) AS sd,
                pm,
                sqrt(CASE WHEN pq - pm * pm > {EWM_SNAP} * q
                          THEN pq - pm * pm ELSE 0D END) AS psd
              FROM g)
            SELECT key, ts, value, c0 + m AS ewma, sd AS std,
                   c0 + (pm + band_k * psd) AS upper,
                   c0 + (pm - band_k * psd) AS lower,
                   psd > 0 AND (y > pm + band_k * psd
                                OR y < pm - band_k * psd) AS breakout
            FROM f""",
        # Holt-Winters seasonal smoothing + forecast on the bucket grid
        # (holtwinters.ts_holt_winters, ADDITIVE mode — multiplicative
        # stays facade-only like twa); aggregate() fold over each key's
        # sorted bucket-mean array carrying (i, level, trend, seasonal
        # vector, output arrays), the seasonal slot updated by the
        # transform (e, k) index lambda.  l_new has no let-binding in a
        # SQL lambda, so its expression repeats inline per consumer —
        # the documented SQL-twin convention; the Arrow facade is the
        # scale path.  Argument guard in the bucket expression of the
        # source CTE (evaluated per source row — the {p}corr rule)
        f"""CREATE OR REPLACE TEMPORARY FUNCTION {p}holt_winters(
                step BIGINT, period INT, alpha DOUBLE, beta DOUBLE,
                gamma DOUBLE, horizon INT)
            RETURNS TABLE (key STRING, ts BIGINT, value DOUBLE,
                           level DOUBLE, trend DOUBLE, seasonal DOUBLE,
                           yhat DOUBLE)
            RETURN WITH g AS (
              SELECT key,
                     ts - pmod(ts, (CASE WHEN step > 0 AND period >= 2
                         AND alpha > 0 AND alpha < 1
                         AND beta > 0 AND beta < 1
                         AND gamma > 0 AND gamma < 1 AND horizon >= 0
                       THEN step
                       ELSE CAST(raise_error(concat(
                         '{p}holt_winters: need step > 0, period >= 2,',
                         ' alpha/beta/gamma in (0, 1), horizon >= 0'))
                         AS BIGINT) END)) AS b,
                     avg(value) AS value
              FROM {p}samples WHERE {nn} GROUP BY key, 2),
            arr AS (
              SELECT key,
                     array_sort(collect_list(struct(b AS ts, value))) AS a
              FROM g GROUP BY key HAVING count(1) >= 2 * period),
            ini AS (
              SELECT key, a, size(a) AS n,
                aggregate(slice(a, 1, period), 0D,
                          (z, x) -> z + x.value) / period AS l0,
                (aggregate(slice(a, period + 1, period), 0D,
                           (z, x) -> z + x.value) / period
                 - aggregate(slice(a, 1, period), 0D,
                             (z, x) -> z + x.value) / period)
                  / period AS b0
              FROM arr),
            st AS (
              SELECT key, a, n, aggregate(
                slice(a, period + 1, n - period),
                named_struct(
                  'i', period, 'l', l0, 'b', b0,
                  's', transform(slice(a, 1, period),
                                 x -> x.value - l0),
                  'ls', CAST(array() AS ARRAY<DOUBLE>),
                  'bs', CAST(array() AS ARRAY<DOUBLE>),
                  'ss', CAST(array() AS ARRAY<DOUBLE>),
                  'ys', CAST(array() AS ARRAY<DOUBLE>)),
                (acc, x) -> named_struct(
                  'i', acc.i + 1,
                  'l', alpha * (x.value
                         - element_at(acc.s, pmod(acc.i, period) + 1))
                       + (1 - alpha) * (acc.l + acc.b),
                  'b', beta * ((alpha * (x.value
                           - element_at(acc.s, pmod(acc.i, period) + 1))
                         + (1 - alpha) * (acc.l + acc.b)) - acc.l)
                       + (1 - beta) * acc.b,
                  's', transform(acc.s, (e, k) ->
                         CASE WHEN k = pmod(acc.i, period)
                           THEN gamma * (x.value
                             - (alpha * (x.value
                                  - element_at(acc.s,
                                      pmod(acc.i, period) + 1))
                                + (1 - alpha) * (acc.l + acc.b)))
                             + (1 - gamma) * e
                           ELSE e END),
                  'ls', concat(acc.ls, array(
                          alpha * (x.value
                            - element_at(acc.s, pmod(acc.i, period) + 1))
                          + (1 - alpha) * (acc.l + acc.b))),
                  'bs', concat(acc.bs, array(
                          beta * ((alpha * (x.value
                              - element_at(acc.s,
                                  pmod(acc.i, period) + 1))
                            + (1 - alpha) * (acc.l + acc.b)) - acc.l)
                          + (1 - beta) * acc.b)),
                  'ss', concat(acc.ss, array(
                          gamma * (x.value
                            - (alpha * (x.value
                                 - element_at(acc.s,
                                     pmod(acc.i, period) + 1))
                               + (1 - alpha) * (acc.l + acc.b)))
                          + (1 - gamma) * element_at(acc.s,
                              pmod(acc.i, period) + 1))),
                  'ys', concat(acc.ys, array(
                          acc.l + acc.b + element_at(acc.s,
                            pmod(acc.i, period) + 1))))) AS st
              FROM ini)
            SELECT key, p2.ts AS ts, p2.value AS value,
                   element_at(st.ls, pos + 1) AS level,
                   element_at(st.bs, pos + 1) AS trend,
                   element_at(st.ss, pos + 1) AS seasonal,
                   element_at(st.ys, pos + 1) AS yhat
            FROM st LATERAL VIEW posexplode(
              slice(a, period + 1, n - period)) t AS pos, p2
            UNION ALL
            SELECT key, element_at(a, -1).ts + h * step AS ts,
                   CAST(NULL AS DOUBLE) AS value,
                   CAST(NULL AS DOUBLE) AS level,
                   CAST(NULL AS DOUBLE) AS trend,
                   element_at(st.s, pmod(n + h - 1, period) + 1)
                     AS seasonal,
                   st.l + h * st.b
                     + element_at(st.s, pmod(n + h - 1, period) + 1)
                     AS yhat
            FROM st LATERAL VIEW explode(
              CASE WHEN horizon > 0 THEN sequence(1, horizon)
                   ELSE CAST(array() AS ARRAY<INT>) END) t AS h""",
        # Holt double-exponential smoothing (smooth.ts_holt); aggregate()
        # fold over each series' sorted sample array — SQL twin only, the
        # Arrow facade is the scale path
        f"""CREATE OR REPLACE TEMPORARY FUNCTION {p}holt(
                alpha DOUBLE, beta DOUBLE)
            RETURNS TABLE (key STRING, ts BIGINT, level DOUBLE, trend DOUBLE)
            RETURN WITH arr AS (
              SELECT key, array_sort(collect_list(struct(ts, value))) AS a
              FROM {p}samples WHERE {nn}
              GROUP BY key HAVING count(1) >= 2),
            sm AS (
              SELECT key, a, aggregate(
                slice(a, 2, size(a) - 1),
                named_struct(
                  'ls', array(element_at(a, 1).value),
                  'bs', array(element_at(a, 2).value - element_at(a, 1).value)),
                (acc, x) -> named_struct(
                  'ls', concat(acc.ls, array(
                    alpha * x.value + (1 - alpha)
                    * (element_at(acc.ls, -1) + element_at(acc.bs, -1)))),
                  'bs', concat(acc.bs, array(
                    beta * ((alpha * x.value + (1 - alpha)
                             * (element_at(acc.ls, -1) + element_at(acc.bs, -1)))
                            - element_at(acc.ls, -1))
                    + (1 - beta) * element_at(acc.bs, -1))))) AS st
              FROM arr)
            SELECT key, p.ts AS ts,
                   element_at(st.ls, pos + 1) AS level,
                   element_at(st.bs, pos + 1) AS trend
            FROM sm LATERAL VIEW posexplode(a) t AS pos, p""",
        # rolling z-score anomalies (smooth.ts_anomalies); a SQL window
        # frame bound must be a PARSE-TIME literal, so `window_n` cannot
        # parameterize `ROWS BETWEEN n PRECEDING` — instead a running
        # collect_list gathers each row's predecessors and slice() takes
        # the last window_n (O(n^2) per key; SQL twin only, the
        # chunk-context facade is the scale path).  Guards mirror the
        # facade's ValueErrors ({p}hist_quantile's raise_error pattern);
        # NULL tail (fewer than window_n predecessors) propagates NULL
        # mean/std/zscore and anomaly=false, and a zero-variance window
        # yields std=0 -> zscore NULL, exactly the facade's rules.
        f"""CREATE OR REPLACE TEMPORARY FUNCTION {p}anomalies(
                window_n INT, z DOUBLE)
            RETURNS TABLE (key STRING, ts BIGINT, value DOUBLE,
                           mean DOUBLE, std DOUBLE, zscore DOUBLE,
                           anomaly BOOLEAN)
            RETURN WITH e AS (
              SELECT key, ts, value,
                collect_list(value) OVER (PARTITION BY key
                  ORDER BY ts, value
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev
              FROM {p}samples WHERE {nn}),
            r AS (
              SELECT key, ts, value,
                CASE WHEN window_n < 2 THEN CAST(raise_error(concat(
                       '{p}anomalies: window_n must be >= 2, got ',
                       CAST(window_n AS STRING))) AS ARRAY<DOUBLE>)
                     WHEN z <= 0D THEN CAST(raise_error(concat(
                       '{p}anomalies: z must be positive, got ',
                       CAST(z AS STRING))) AS ARRAY<DOUBLE>)
                     WHEN size(prev) >= window_n
                       THEN slice(prev, size(prev) - window_n + 1, window_n)
                END AS tail
              FROM e),
            m AS (
              SELECT key, ts, value, tail,
                aggregate(tail, 0D, (s, x) -> s + x) / size(tail) AS mn
              FROM r),
            s AS (
              SELECT key, ts, value, mn,
                sqrt(aggregate(tail, 0D, (s2, x) -> s2 + (x - mn) * (x - mn))
                     / (size(tail) - 1)) AS sd
              FROM m)
            SELECT key, ts, value, mn AS mean, sd AS std,
              CASE WHEN sd > 0 THEN (value - mn) / sd END AS zscore,
              coalesce(CASE WHEN sd > 0
                            THEN abs((value - mn) / sd) > z END,
                       false) AS anomaly
            FROM s""",
        # classical seasonal decomposition (decompose.ts_decompose); a
        # SQL window frame bound must be a PARSE-TIME literal, so the
        # +-half-period centered-MA frame cannot be `ROWS BETWEEN h
        # PRECEDING` — the TVF gathers each spine row's window via a
        # key-equi self-join with a +-h*step band predicate instead
        # (O(rows x period) matched pairs, O(n^2) filtering inside a hot
        # key: the documented SQL-twin convention, {p}anomalies'
        # precedent; the expression-windowed facade is the scale path).
        # Guards mirror the facade's ValueErrors; both modes supported.
        f"""CREATE OR REPLACE TEMPORARY FUNCTION {p}decompose(
                step BIGINT, period INT, mode STRING)
            RETURNS TABLE (key STRING, ts BIGINT, value DOUBLE,
                           trend DOUBLE, seasonal DOUBLE, resid DOUBLE)
            RETURN WITH g AS (
              SELECT key,
                CASE WHEN step <= 0 THEN CAST(raise_error(concat(
                       '{p}decompose: step must be positive, got ',
                       CAST(step AS STRING))) AS BIGINT)
                     WHEN period < 2 THEN CAST(raise_error(concat(
                       '{p}decompose: period must be >= 2, got ',
                       CAST(period AS STRING))) AS BIGINT)
                     WHEN mode NOT IN ('additive', 'multiplicative')
                       THEN CAST(raise_error(concat(
                       '{p}decompose: mode must be additive or ',
                       'multiplicative, got ', mode)) AS BIGINT)
                     ELSE ts - pmod(ts, step) END AS b,
                avg(value) AS value
              FROM {p}samples WHERE {nn} GROUP BY 1, 2),
            spine AS (
              SELECT key, explode(sequence(min(b), max(b), step)) AS b
              FROM g GROUP BY key),
            gr AS (
              SELECT s.key, s.b, g.value
              FROM spine s LEFT JOIN g ON s.key = g.key AND s.b = g.b),
            tj AS (
              -- an aggregate may not MIX outer params with local refs
              -- inside the function call, so the edge flag (offset ==
              -- +-half-period) is projected BEFORE the aggregation
              SELECT g1.key, g1.b, g1.value AS v0, o.value AS nval,
                CASE WHEN abs(o.b - g1.b) = (period DIV 2) * step
                     THEN o.value END AS edge_val
              FROM gr g1 LEFT JOIN gr o
                ON o.key = g1.key
                AND o.b BETWEEN g1.b - (period DIV 2) * step
                            AND g1.b + (period DIV 2) * step),
            t AS (
              SELECT key, b, v0 AS value,
                CASE WHEN period % 2 = 1
                       AND count(nval) = period
                     THEN sum(nval) / period
                     WHEN period % 2 = 0
                       AND count(nval) = period + 1
                     THEN (sum(nval) - sum(edge_val) / 2.0) / period
                END AS trend,
                pmod(b DIV step, period) AS phase
              FROM tj GROUP BY key, b, v0),
            d AS (
              SELECT key, b, value, trend, phase,
                CASE WHEN mode = 'multiplicative'
                     THEN CASE WHEN trend <> 0 THEN value / trend END
                     ELSE value - trend END AS det
              FROM t),
            se AS (
              SELECT key, phase,
                CASE WHEN mode = 'multiplicative'
                     THEN CASE WHEN ctr <> 0 THEN pmean / ctr END
                     ELSE pmean - ctr END AS seasonal
              FROM (SELECT key, phase, pmean,
                           avg(pmean) OVER (PARTITION BY key) AS ctr
                    FROM (SELECT key, phase, avg(det) AS pmean
                          FROM d GROUP BY 1, 2)))
            SELECT d.key, d.b AS ts, d.value, d.trend, se.seasonal,
              CASE WHEN mode = 'multiplicative'
                   THEN CASE WHEN d.trend <> 0 AND se.seasonal <> 0
                             THEN d.value / d.trend / se.seasonal END
                   ELSE d.value - d.trend - se.seasonal END AS resid
            FROM d LEFT JOIN se
              ON d.key = se.key AND d.phase = se.phase""",
        # pairwise per-bucket Pearson correlation (correlate.ts_corr);
        # guarded moment components instead of corr() — a zero-variance
        # leg raises DIVIDE_BY_ZERO under ANSI inside the aggregate.
        # The dur guard lives in the SOURCE CTE's WHERE (the
        # {p}hist_quantile pattern): inside the aggregate projection it
        # would never evaluate when the pair matches zero rows, so an
        # invalid dur silently returned empty instead of raising
        # (round-10 ADVICE finding); here the TVF inlines dur as a
        # literal and Catalyst folds the invalid case to a plan-time
        # error regardless of matched rows
        f"""CREATE OR REPLACE TEMPORARY FUNCTION {p}corr(
                dur BIGINT, ka STRING, kb STRING)
            RETURNS TABLE (key_a STRING, key_b STRING, ts BIGINT,
                           corr DOUBLE, n BIGINT)
            RETURN WITH v AS (
              SELECT key, ts, max(value) AS value
              FROM {p}samples
              WHERE {nn} AND (CASE WHEN dur > 0 THEN true
                              ELSE CAST(raise_error(concat(
                                '{p}corr: dur must be positive, got ',
                                CAST(dur AS STRING))) AS BOOLEAN) END)
              GROUP BY key, ts),
            m AS (
              SELECT a.ts AS ts, a.value AS va, b.value AS vb
              FROM v a JOIN v b ON b.ts = a.ts
              WHERE a.key = ka AND b.key = kb),
            g AS (
              SELECT {b} AS __b,
                     covar_samp(va, vb) AS cov,
                     stddev_samp(va) AS sa, stddev_samp(vb) AS sb,
                     count(1) AS n
              FROM m GROUP BY 1)
            SELECT ka AS key_a, kb AS key_b, __b AS ts,
                   cov / (sa * sb) AS corr, n
            FROM g WHERE sa > 0 AND sb > 0""",
        # lagged cross-correlation sweep (correlate.ts_xcorr): the lag
        # grid is sequence(-max_lag, max_lag, step) — a SQL surface
        # cannot take a Python list, so the TVF exposes the symmetric
        # sweep (the common discovery shape); the 64-step cap mirrors
        # the facade's 128-lag bound.  Same guarded moment components
        # as {p}corr, same source-CTE guard placement (an invalid
        # argument raises even when the pair matches zero rows)
        f"""CREATE OR REPLACE TEMPORARY FUNCTION {p}xcorr(
                ka STRING, kb STRING, max_lag BIGINT, step BIGINT)
            RETURNS TABLE (key_a STRING, key_b STRING, lag BIGINT,
                           corr DOUBLE, n BIGINT)
            RETURN WITH v AS (
              SELECT key, ts, max(value) AS value
              FROM {p}samples
              WHERE {nn} AND (CASE WHEN step > 0 AND max_lag >= 0
                                     AND max_lag <= 64 * step THEN true
                              ELSE CAST(raise_error(concat(
                                '{p}xcorr: need step > 0 and 0 <= ',
                                'max_lag <= 64 * step, got max_lag=',
                                CAST(max_lag AS STRING), ' step=',
                                CAST(step AS STRING))) AS BOOLEAN) END)
              GROUP BY key, ts),
            -- the guard lives TWICE: in v's WHERE (evaluated on every
            -- source row BEFORE the key filter — the {p}corr rule, so
            -- an invalid call raises even when the pair matches zero
            -- rows and the join side prunes the Generate away) and
            -- inside sequence's step argument (sequence(x, y, 0)
            -- would otherwise throw its own pre-analysis boundary
            -- error before any guard runs)
            l AS (SELECT explode(sequence(-max_lag, max_lag,
                    CASE WHEN step > 0 AND max_lag >= 0
                           AND max_lag <= 64 * step THEN step
                         ELSE CAST(raise_error(concat(
                           '{p}xcorr: need step > 0 and 0 <= ',
                           'max_lag <= 64 * step, got max_lag=',
                           CAST(max_lag AS STRING), ' step=',
                           CAST(step AS STRING))) AS BIGINT) END))
                  AS lag),
            m AS (
              SELECT l.lag, a.value AS va, b.value AS vb
              FROM v a CROSS JOIN l
              JOIN v b ON b.key = kb AND b.ts = a.ts + l.lag
              WHERE a.key = ka),
            g AS (
              SELECT lag,
                     covar_samp(va, vb) AS cov,
                     stddev_samp(va) AS sa, stddev_samp(vb) AS sb,
                     count(1) AS n
              FROM m GROUP BY 1)
            SELECT ka AS key_a, kb AS key_b, lag,
                   cov / (sa * sb) AS corr, n
            FROM g WHERE sa > 0 AND sb > 0""",
        # strongest lag per pair (correlate.ts_lead_lag): one max_by
        # over the SAME rounded-strength struct ordering the facade
        # uses, on top of the {p}xcorr TVF (SQL UDFs inline, so the
        # composition is one plan); min_n floors at 2 (corr undefined
        # below)
        f"""CREATE OR REPLACE TEMPORARY FUNCTION {p}lead_lag(
                ka STRING, kb STRING, max_lag BIGINT, step BIGINT,
                min_n BIGINT)
            RETURNS TABLE (key_a STRING, key_b STRING, lag BIGINT,
                           corr DOUBLE, n BIGINT)
            RETURN WITH x AS (
              SELECT * FROM {p}xcorr(ka, kb, max_lag, step)
              WHERE n >= greatest(min_n, 2)),
            b AS (
              SELECT max_by(
                       named_struct('lag', lag, 'corr', corr, 'n', n),
                       named_struct('s', round(abs(corr), 9),
                                    'al', -abs(lag), 'l', -lag)) AS w
              FROM x)
            SELECT ka AS key_a, kb AS key_b, w.lag, w.corr, w.n
            FROM b WHERE w IS NOT NULL""",
        # autocorrelation sweep (correlate.ts_acf): the {p}xcorr shape
        # with the key as its own pair — no pair argument, every series
        # sweeps against itself on the dur grid; same twice-placed
        # guard (source-CTE WHERE + sequence step) so an invalid call
        # raises even on an empty match
        f"""CREATE OR REPLACE TEMPORARY FUNCTION {p}acf(
                dur BIGINT, max_lag INT)
            RETURNS TABLE (key STRING, lag_n INT, lag_ms BIGINT,
                           acf DOUBLE, n BIGINT)
            RETURN WITH g AS (
              SELECT key, greatest(ts - pmod(ts, dur), 0) AS b,
                     avg(value) AS v
              FROM {p}samples
              WHERE {nn} AND (CASE WHEN dur > 0 AND max_lag >= 1
                                     AND max_lag <= 128 THEN true
                              ELSE CAST(raise_error(concat(
                                '{p}acf: need dur > 0 and max_lag in',
                                ' [1, 128], got dur=',
                                CAST(dur AS STRING), ' max_lag=',
                                CAST(max_lag AS STRING))) AS BOOLEAN)
                              END)
              GROUP BY 1, 2),
            l AS (SELECT explode(sequence(
                    CASE WHEN dur > 0 AND max_lag >= 1
                           AND max_lag <= 128 THEN 1
                         ELSE CAST(raise_error(concat(
                           '{p}acf: need dur > 0 and max_lag in',
                           ' [1, 128], got dur=',
                           CAST(dur AS STRING), ' max_lag=',
                           CAST(max_lag AS STRING))) AS INT) END,
                    max_lag)) AS lag_n),
            m AS (
              SELECT g.key, l.lag_n, g.v AS va, b.v AS vb
              FROM g CROSS JOIN l
              JOIN g b ON b.key = g.key
                      AND b.b = g.b + CAST(l.lag_n AS BIGINT) * dur),
            a AS (
              SELECT key, lag_n,
                     covar_samp(va, vb) AS cov,
                     stddev_samp(va) AS sa, stddev_samp(vb) AS sb,
                     count(1) AS n
              FROM m GROUP BY 1, 2)
            SELECT key, lag_n, CAST(lag_n AS BIGINT) * dur AS lag_ms,
                   cov / (sa * sb) AS acf, n
            FROM a WHERE sa > 0 AND sb > 0""",
        # seasonality detection (correlate.ts_detect_period): the
        # always-detrended chain — per-key OLS on the bucket index,
        # fleet feature extraction (features.ts_features): one grid
        # hash agg, one per-key window pass, one final agg — the whole
        # per-key feature vector declaratively; dur guard in the
        # source CTE (TVF args inline as literals, so Catalyst folds
        # the valid case to true and the invalid case to a plan-time
        # error even on an empty match — the {p}hist_quantile pattern)
        f"""CREATE OR REPLACE TEMPORARY FUNCTION {p}features(dur BIGINT)
            RETURNS TABLE (key STRING, n_samples BIGINT,
                           n_buckets BIGINT, mean DOUBLE, std DOUBLE,
                           cv DOUBLE, vmin DOUBLE, vmax DOUBLE,
                           trend_slope DOUBLE, trend_r2 DOUBLE,
                           acf1 DOUBLE, crossing_rate DOUBLE,
                           flat_rate DOUBLE, spikiness DOUBLE)
            RETURN WITH g AS (
              SELECT key, greatest(ts - pmod(ts, dur), 0) AS b,
                     avg(value) AS v, count(1) AS c
              FROM {p}samples
              WHERE {nn} AND (CASE WHEN dur > 0 THEN true
                              ELSE CAST(raise_error(concat(
                                '{p}features: dur must be positive,',
                                ' got ', CAST(dur AS STRING)))
                                AS BOOLEAN) END)
              GROUP BY 1, 2),
            d AS (SELECT *, avg(v) OVER (PARTITION BY key) AS mu,
                         min(b) OVER (PARTITION BY key) AS minb,
                         lead(v) OVER (PARTITION BY key ORDER BY b)
                           AS vn,
                         lead(b) OVER (PARTITION BY key ORDER BY b)
                           AS bn
                  FROM g),
            e AS (SELECT *, CAST(b - minb AS DOUBLE) / dur AS x,
                         coalesce(bn = b + dur, false) AS adj
                  FROM d),
            a AS (SELECT key, sum(c) AS n_samples,
                         count(1) AS n_buckets, avg(v) AS mean,
                         stddev_samp(v) AS std, min(v) AS vmin,
                         max(v) AS vmax, regr_slope(v, x) AS sl,
                         regr_r2(v, x) AS r2,
                         covar_samp(CASE WHEN adj THEN v END,
                                    CASE WHEN adj THEN vn END) AS cov,
                         stddev_samp(CASE WHEN adj THEN v END) AS sa,
                         stddev_samp(CASE WHEN adj THEN vn END) AS sb,
                         sum(CASE WHEN adj THEN 1 ELSE 0 END) AS adjn,
                         sum(CASE WHEN adj
                                   AND (v - mu) * (vn - mu) < 0
                                  THEN 1 ELSE 0 END) AS crossings,
                         sum(CASE WHEN adj AND vn = v
                                  THEN 1 ELSE 0 END) AS flats,
                         max(abs(v - mu)) AS maxdev
                  FROM e GROUP BY 1)
            SELECT key, n_samples, n_buckets, mean, std,
                   CASE WHEN std IS NOT NULL AND mean <> 0
                        THEN std / abs(mean) END AS cv,
                   vmin, vmax, sl AS trend_slope,
                   CASE WHEN std > 0 THEN r2 END AS trend_r2,
                   CASE WHEN sa > 0 AND sb > 0
                        THEN cov / (sa * sb) END AS acf1,
                   CASE WHEN adjn > 0
                        THEN crossings / adjn END AS crossing_rate,
                   CASE WHEN adjn > 0
                        THEN flats / adjn END AS flat_rate,
                   CASE WHEN std > 0
                        THEN maxdev / std END AS spikiness
            FROM a""",
        # the {p}acf sweep over the residual, 9dp-rounded local-peak
        # scan, argmax, divisor-descent fundamental pick (facade
        # covers detrend=False)
        f"""CREATE OR REPLACE TEMPORARY FUNCTION {p}detect_period(
                dur BIGINT, max_p INT, min_strength DOUBLE,
                min_n BIGINT, tol DOUBLE)
            RETURNS TABLE (key STRING, period_n INT, period_ms BIGINT,
                           acf DOUBLE, n BIGINT)
            RETURN WITH g0 AS (
              SELECT key, greatest(ts - pmod(ts, dur), 0) AS b,
                     avg(value) AS v
              FROM {p}samples
              WHERE {nn} AND (CASE WHEN dur > 0 AND max_p >= 3
                                     AND max_p <= 128 AND min_n >= 2
                                   THEN true
                              ELSE CAST(raise_error(concat(
                                '{p}detect_period: need dur > 0,',
                                ' max_p in [3, 128], min_n >= 2,',
                                ' got dur=', CAST(dur AS STRING),
                                ' max_p=', CAST(max_p AS STRING),
                                ' min_n=', CAST(min_n AS STRING)))
                                AS BOOLEAN) END)
              GROUP BY 1, 2),
            gx AS (
              SELECT *, CAST(b - min(b) OVER (PARTITION BY key)
                             AS DOUBLE) / dur AS x
              FROM g0),
            fit AS (
              SELECT key, regr_slope(v, x) AS sl,
                     regr_intercept(v, x) AS ic
              FROM gx GROUP BY 1),
            g AS (
              SELECT gx.key, gx.b,
                     gx.v - coalesce(fit.ic + fit.sl * gx.x, 0D) AS v
              FROM gx JOIN fit ON fit.key = gx.key),
            l AS (SELECT explode(sequence(
                    CASE WHEN dur > 0 AND max_p >= 3 AND max_p <= 128
                           AND min_n >= 2 THEN 1
                         ELSE CAST(raise_error(concat(
                           '{p}detect_period: need dur > 0, max_p in',
                           ' [3, 128], min_n >= 2, got dur=',
                           CAST(dur AS STRING), ' max_p=',
                           CAST(max_p AS STRING), ' min_n=',
                           CAST(min_n AS STRING))) AS INT) END,
                    max_p)) AS lag_n),
            m AS (
              SELECT g.key, l.lag_n, g.v AS va, b.v AS vb
              FROM g CROSS JOIN l
              JOIN g b ON b.key = g.key
                      AND b.b = g.b + CAST(l.lag_n AS BIGINT) * dur),
            a AS (
              SELECT key, lag_n,
                     covar_samp(va, vb) AS cov,
                     stddev_samp(va) AS sa, stddev_samp(vb) AS sb,
                     count(1) AS n
              FROM m GROUP BY 1, 2),
            acfs AS (
              SELECT key, lag_n,
                     CAST(lag_n AS BIGINT) * dur AS lag_ms,
                     cov / (sa * sb) AS acf, n
              FROM a WHERE sa > 0 AND sb > 0 AND n >= min_n),
            w AS (
              SELECT *, round(acf, 9) AS s,
                     lag(round(acf, 9)) OVER (PARTITION BY key
                                              ORDER BY lag_n) AS pv,
                     lead(round(acf, 9)) OVER (PARTITION BY key
                                               ORDER BY lag_n) AS nx
              FROM acfs),
            pk AS (
              SELECT key, lag_n, lag_ms, acf, n, s FROM w
              WHERE pv IS NOT NULL AND nx IS NOT NULL
                AND s > pv AND s >= nx AND acf >= min_strength),
            am AS (
              SELECT key,
                     max_by(named_struct('alag', lag_n, 'asr', s),
                            named_struct('s', s, 'l', -lag_n)) AS a
              FROM pk GROUP BY 1),
            fin AS (
              SELECT pk.key AS key,
                     min_by(named_struct('pn', pk.lag_n,
                                         'pm', pk.lag_ms,
                                         'acf', pk.acf, 'n', pk.n),
                            pk.lag_n) AS w
              FROM pk JOIN am ON am.key = pk.key
              WHERE am.a.alag % pk.lag_n = 0
                AND pk.s >= am.a.asr - tol
              GROUP BY 1)
            SELECT key, w.pn AS period_n, w.pm AS period_ms,
                   w.acf AS acf, w.n AS n
            FROM fin""",
        # rolling q-quantile (percentiles.ts_rolling_quantile): a SQL
        # frame bound must be a parse-time literal (the {p}decompose
        # convention), so the trailing window materializes by exploding
        # each row into the `win` windows it CONTRIBUTES to (rn + 0..
        # win-1, an equi-join shape — no quadratic band join) and
        # sorting each window's buffer once; exact quantile_cont
        # interpolation inlined over the sorted array (percentile()'s
        # percentage must fold at CREATE-FUNCTION analysis, the {p}topk
        # note).  O(rows x win) — the documented interactive SQL-twin
        # convention; the facade operator is the scale path
        f"""CREATE OR REPLACE TEMPORARY FUNCTION {p}rolling_quantile(
                q DOUBLE, win INT)
            RETURNS TABLE (key STRING, ts BIGINT, value DOUBLE,
                           n BIGINT, rq DOUBLE)
            RETURN WITH v AS (
              SELECT key, ts, value
              FROM {p}samples
              WHERE {nn} AND (CASE WHEN q >= 0 AND q <= 1 AND win >= 1
                                   THEN true
                              ELSE CAST(raise_error(concat(
                                '{p}rolling_quantile: need q in [0, 1]',
                                ' and win >= 1, got q=',
                                CAST(q AS STRING), ' win=',
                                CAST(win AS STRING))) AS BOOLEAN) END)),
            w AS (
              SELECT key, ts, value,
                     row_number() OVER (PARTITION BY key
                                        ORDER BY ts, value) AS rn
              FROM v),
            c AS (
              SELECT key, rn + off AS rn2, value
              FROM w CROSS JOIN (
                SELECT explode(sequence(0, win - 1)) AS off)),
            g AS (
              SELECT key, rn2, count(value) AS n,
                     sort_array(collect_list(value)) AS arr
              FROM c GROUP BY 1, 2)
            SELECT w.key, w.ts, w.value, g.n,
              CASE WHEN g.n >= win THEN
                element_at(g.arr,
                  CAST(floor((g.n - 1) * q) AS INT) + 1)
                + ((g.n - 1) * q - floor((g.n - 1) * q))
                  * (element_at(g.arr,
                       CAST(ceil((g.n - 1) * q) AS INT) + 1)
                     - element_at(g.arr,
                         CAST(floor((g.n - 1) * q) AS INT) + 1))
              END AS rq
            FROM w JOIN g ON g.key = w.key AND g.rn2 = w.rn""",
        # two-sided tabular CUSUM (correlate.ts_cusum): the closed form
        # s = S - min(0, running_min(S)) over prefix sums — growing
        # frames only; target NULL self-baselines on the key's mean
        f"""CREATE OR REPLACE TEMPORARY FUNCTION {p}cusum(
                k DOUBLE, h DOUBLE, target DOUBLE)
            RETURNS TABLE (key STRING, ts BIGINT, value DOUBLE,
                           s_pos DOUBLE, s_neg DOUBLE, alarm BOOLEAN)
            RETURN WITH v AS (
              SELECT key, ts, value,
                     avg(value) OVER (PARTITION BY key) AS mkey
              FROM {p}samples WHERE {nn}),
            d AS (
              SELECT key, ts, value,
                CASE WHEN k < 0 THEN CAST(raise_error(concat(
                       '{p}cusum: k (slack) must be >= 0, got ',
                       CAST(k AS STRING))) AS DOUBLE)
                     WHEN h <= 0 THEN CAST(raise_error(concat(
                       '{p}cusum: h (threshold) must be positive, got ',
                       CAST(h AS STRING))) AS DOUBLE)
                     ELSE value - coalesce(target, mkey) - k END AS dp,
                coalesce(target, mkey) - value - k AS dn
              FROM v),
            s AS (
              SELECT key, ts, value,
                sum(dp) OVER (PARTITION BY key ORDER BY ts, value
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS csp,
                sum(dn) OVER (PARTITION BY key ORDER BY ts, value
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS csn
              FROM d),
            r AS (
              SELECT key, ts, value, csp, csn,
                min(csp) OVER (PARTITION BY key ORDER BY ts, value
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mp,
                min(csn) OVER (PARTITION BY key ORDER BY ts, value
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mn
              FROM s)
            SELECT key, ts, value,
              csp - least(0D, mp) AS s_pos,
              csn - least(0D, mn) AS s_neg,
              (csp - least(0D, mp)) > h
                OR (csn - least(0D, mn)) > h AS alarm
            FROM r""",
        # seasonal linear forecast (decompose.ts_forecast): the
        # decompose CTE chain + a per-key OLS fit of the trend with the
        # constant-trend flat-line fallback (round 10), extrapolated
        # horizon steps with the phase component repeated forward
        f"""CREATE OR REPLACE TEMPORARY FUNCTION {p}forecast(
                step BIGINT, period INT, horizon INT, mode STRING)
            RETURNS TABLE (key STRING, ts BIGINT, forecast DOUBLE)
            RETURN WITH g AS (
              SELECT key,
                CASE WHEN step <= 0 THEN CAST(raise_error(concat(
                       '{p}forecast: step must be positive, got ',
                       CAST(step AS STRING))) AS BIGINT)
                     WHEN period < 2 THEN CAST(raise_error(concat(
                       '{p}forecast: period must be >= 2, got ',
                       CAST(period AS STRING))) AS BIGINT)
                     WHEN horizon < 1 THEN CAST(raise_error(concat(
                       '{p}forecast: horizon must be >= 1, got ',
                       CAST(horizon AS STRING))) AS BIGINT)
                     WHEN mode NOT IN ('additive', 'multiplicative')
                       THEN CAST(raise_error(concat(
                       '{p}forecast: mode must be additive or ',
                       'multiplicative, got ', mode)) AS BIGINT)
                     ELSE ts - pmod(ts, step) END AS b,
                avg(value) AS value
              FROM {p}samples WHERE {nn} GROUP BY 1, 2),
            spine AS (
              SELECT key, explode(sequence(min(b), max(b), step)) AS b
              FROM g GROUP BY key),
            gr AS (
              SELECT s.key, s.b, g.value
              FROM spine s LEFT JOIN g ON s.key = g.key AND s.b = g.b),
            tj AS (
              -- an aggregate may not MIX outer params with local refs
              -- inside the function call, so the edge flag (offset ==
              -- +-half-period) is projected BEFORE the aggregation
              SELECT g1.key, g1.b, g1.value AS v0, o.value AS nval,
                CASE WHEN abs(o.b - g1.b) = (period DIV 2) * step
                     THEN o.value END AS edge_val
              FROM gr g1 LEFT JOIN gr o
                ON o.key = g1.key
                AND o.b BETWEEN g1.b - (period DIV 2) * step
                            AND g1.b + (period DIV 2) * step),
            t AS (
              SELECT key, b, v0 AS value,
                CASE WHEN period % 2 = 1
                       AND count(nval) = period
                     THEN sum(nval) / period
                     WHEN period % 2 = 0
                       AND count(nval) = period + 1
                     THEN (sum(nval) - sum(edge_val) / 2.0) / period
                END AS trend,
                pmod(b DIV step, period) AS phase
              FROM tj GROUP BY key, b, v0),
            d AS (
              SELECT key, b, trend, phase,
                CASE WHEN mode = 'multiplicative'
                     THEN CASE WHEN trend <> 0 THEN value / trend END
                     ELSE value - trend END AS det
              FROM t),
            se AS (
              SELECT key, phase,
                CASE WHEN mode = 'multiplicative'
                     THEN CASE WHEN ctr <> 0 THEN pmean / ctr END
                     ELSE pmean - ctr END AS seasonal
              FROM (SELECT key, phase, pmean,
                           avg(pmean) OVER (PARTITION BY key) AS ctr
                    FROM (SELECT key, phase, avg(det) AS pmean
                          FROM d GROUP BY 1, 2))),
            f AS (
              SELECT key,
                coalesce(regr_slope(trend, CAST(b AS DOUBLE)), 0D) AS m,
                coalesce(regr_intercept(trend, CAST(b AS DOUBLE)),
                         avg(trend)) AS c,
                max(b) AS last_b
              FROM d GROUP BY key HAVING avg(trend) IS NOT NULL),
            hz AS (
              SELECT key, m, c,
                explode(sequence(last_b + step,
                                 last_b + step * horizon, step)) AS ts
              FROM f)
            SELECT hz.key, hz.ts,
              CASE WHEN mode = 'multiplicative'
                   THEN (hz.m * CAST(hz.ts AS DOUBLE) + hz.c)
                        * coalesce(se.seasonal, 1D)
                   ELSE hz.m * CAST(hz.ts AS DOUBLE) + hz.c
                        + coalesce(se.seasonal, 0D) END AS forecast
            FROM hz LEFT JOIN se
              ON se.key = hz.key
              AND se.phase = pmod(hz.ts DIV step, period)""",
        # decomposition strength measures (decompose.ts_seasonal_strength
        # — Wang/Smith/Hyndman): composes OVER the {p}decompose TVF
        # (created above; temporary functions resolve at creation
        # order), so the guards and both modes come for free and the
        # two bodies cannot drift apart
        f"""CREATE OR REPLACE TEMPORARY FUNCTION {p}seasonal_strength(
                step BIGINT, period INT, mode STRING)
            RETURNS TABLE (key STRING, n_est BIGINT,
                           strength_trend DOUBLE,
                           strength_seasonal DOUBLE)
            RETURN WITH est AS (
              SELECT key, resid,
                CASE WHEN mode = 'multiplicative'
                     THEN seasonal * resid
                     ELSE seasonal + resid END AS sr,
                CASE WHEN mode = 'multiplicative'
                     THEN trend * resid
                     ELSE trend + resid END AS tr
              FROM {p}decompose(step, period, mode)
              WHERE resid IS NOT NULL),
            a AS (SELECT key, count(1) AS n_est,
                         var_samp(resid) AS vr, var_samp(sr) AS vsr,
                         var_samp(tr) AS vtr
                  FROM est GROUP BY 1)
            SELECT key, n_est,
              CASE WHEN vtr > 0
                   THEN greatest(CAST(0 AS DOUBLE), 1D - vr / vtr)
                   END AS strength_trend,
              CASE WHEN vsr > 0
                   THEN greatest(CAST(0 AS DOUBLE), 1D - vr / vsr)
                   END AS strength_seasonal
            FROM a""",
    ]


def register_sql(spark: SparkSession, store: TSStore, prefix: str = "ts_") -> None:
    """Create temp views `<prefix>samples` / `<prefix>labels`, the
    ts_bucket / ts_bucket_report scalar SQL functions, and the TS
    companion TABLE functions (`_ts_tvf_sql`) in the session catalog."""
    store.samples.createOrReplaceTempView(f"{prefix}samples")
    store.labels.createOrReplaceTempView(f"{prefix}labels")
    spark.sql(_TS_BUCKET_SQL)
    spark.sql(_TS_REPORT_SQL)
    for stmt in _ts_tvf_sql(prefix):
        spark.sql(stmt)


# ---- training-data pipeline vocabulary ------------------------------------
# Scalar document functions as declarative SQL UDFs: Catalyst inlines the
# body at the call site, so `SELECT dl_exact_fp(text) FROM docs` compiles
# to the same whole-stage-codegen expression the DataFrame operators in
# pipeline/text.py build — no Python, no serialization boundary.

_PIPELINE_FN_SQL = [
    # normalized text (the shared canonical form of fingerprints/simhash)
    """CREATE OR REPLACE TEMPORARY FUNCTION dl_norm_text(t STRING)
       RETURNS STRING
       RETURN regexp_replace(lower(t), '\\\\s+', ' ')""",
    # whitespace token count (pipeline/text.token_counts)
    """CREATE OR REPLACE TEMPORARY FUNCTION dl_ws_tokens(t STRING)
       RETURNS BIGINT
       RETURN size(array_remove(split(t, '\\\\s+'), ''))""",
    # BPE-ish subword estimate (chars/4 on non-space chars)
    """CREATE OR REPLACE TEMPORARY FUNCTION dl_bpe_tokens_est(t STRING)
       RETURNS BIGINT
       RETURN CAST(ceil(length(regexp_replace(t, '\\\\s', '')) / 4.0) AS BIGINT)""",
    # exact content fingerprint (pipeline/text.fingerprints)
    """CREATE OR REPLACE TEMPORARY FUNCTION dl_exact_fp(t STRING)
       RETURNS STRING
       RETURN md5(regexp_replace(lower(t), '\\\\s+', ' '))""",
    # deterministic split bucket (pipeline/curation.hash_split)
    """CREATE OR REPLACE TEMPORARY FUNCTION dl_hash_bucket(id BIGINT)
       RETURNS BIGINT
       RETURN CAST(conv(substring(md5(CAST(id AS STRING)), 1, 7), 16, 10) AS BIGINT) % 10000""",
    # distinct char k-shingles (pipeline/dedup.char_shingles).  A scalar
    # SQL UDF body is one expression, so the projected-lowered-text trick
    # is unavailable; lowercasing each k-char WINDOW keeps the work
    # O(len*k) instead of O(len^2) (equal to char_shingles for
    # length-preserving case mappings — all of ASCII)
    """CREATE OR REPLACE TEMPORARY FUNCTION dl_shingles(t STRING, k INT)
       RETURNS ARRAY<STRING>
       COMMENT 'distinct lowercased char k-shingles; equals the DataFrame
         operator char_shingles for length-preserving case mappings (all
         of ASCII) — pass pre-lowercased text for non-ASCII corpora where
         lower() can change length (e.g. Turkish dotted I)'
       RETURN array_distinct(transform(
           sequence(1, greatest(length(t) - k + 1, 1)),
           i -> lower(substring(t, i, k))))""",
    # distinct word n-grams as an array (pipeline/dedup.word_ngram_sets);
    # the word array is bound once via a lambda parameter so split() is
    # not re-evaluated per gram position
    """CREATE OR REPLACE TEMPORARY FUNCTION dl_word_ngrams(t STRING, n INT)
       RETURNS ARRAY<STRING>
       RETURN reduce(
           array(array_remove(split(lower(t), '[^a-z0-9]+'), '')),
           CAST(array() AS ARRAY<STRING>),
           (acc, wa) -> array_distinct(transform(
               sequence(1, greatest(size(wa) - n + 1, 1)),
               i -> concat_ws(' ', slice(wa, i, n)))))""",
    # canonical URL (pipeline/curation.canonical_url); the scrubbed
    # string is bound once via the reduce-lambda trick (dl_word_ngrams)
    # so the fragment/param strip is not re-evaluated per reference
    """CREATE OR REPLACE TEMPORARY FUNCTION dl_canonical_url(u STRING)
       RETURNS STRING
       RETURN reduce(
           array(regexp_replace(regexp_replace(regexp_replace(
               regexp_replace(u, '#.*$', ''),
               '([?&])(utm_[a-z_]+|fbclid|gclid)=[^&]*', '$1'),
               '([?&])&+', '$1'),
               '[?&]$', '')),
           CAST('' AS STRING),
           (acc, s) -> regexp_replace(regexp_replace(regexp_replace(
               regexp_replace(
                   concat(
                       lower(regexp_extract(s, '^([^:/?#]+://[^/?#]*)', 1)),
                       substring(s,
                           length(regexp_extract(s, '^([^:/?#]+://[^/?#]*)', 1)) + 1,
                           1073741824)),
                   '^(http://[^:/?#]+):80(/|$)', '$1$2'),
               '^(https://[^:/?#]+):443(/|$)', '$1$2'),
               '/+[?]', '?'),
               '/+$', ''))""",
    # BM25 term weight (pipeline/retrieval.bm25_scores): idf * saturated tf
    """CREATE OR REPLACE TEMPORARY FUNCTION dl_bm25_weight(
           tf BIGINT, df BIGINT, n_docs BIGINT, dl BIGINT, avgdl DOUBLE,
           k1 DOUBLE, b DOUBLE)
       RETURNS DOUBLE
       RETURN ln(1 + (n_docs - df + 0.5) / (df + 0.5))
              * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * dl / avgdl))""",
]


def register_pipeline_sql(spark: SparkSession, docs=None, emb=None) -> None:
    """Register the dl_* scalar functions (and optional `documents` /
    `embeddings` temp views) so the pipeline vocabulary is reachable from
    `spark.sql(...)` alongside the ts_* surface."""
    for stmt in _PIPELINE_FN_SQL:
        spark.sql(stmt)
    if docs is not None:
        docs.createOrReplaceTempView("documents")
    if emb is not None:
        emb.createOrReplaceTempView("embeddings")
