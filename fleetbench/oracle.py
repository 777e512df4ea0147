"""Independent reference answers and the comparison every check uses.

The time-series oracles run in DuckDB (or pandas/numpy where the answer is
a fold DuckDB would only obscure) over the generator's own arrays — never
through the engine — so a wrong engine answer cannot agree with itself.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

REL_TOL = 1e-9
ABS_TOL = 1e-6


def same_frame(got: pd.DataFrame, want: pd.DataFrame, cols: list[str]) -> bool:
    """Order-insensitive equality on `cols`: exact for ints/strings, float
    columns within REL_TOL/ABS_TOL, NaN equal to NaN."""
    if len(got) != len(want):
        return False
    keys = [c for c in cols if got[c].dtype.kind not in "fc"]
    g = got[cols].sort_values(keys).reset_index(drop=True)
    w = want[cols].sort_values(keys).reset_index(drop=True)
    for c in cols:
        a, b = g[c].to_numpy(), w[c].to_numpy()
        if a.dtype.kind in "fc" or b.dtype.kind in "fc":
            a, b = a.astype(np.float64), b.astype(np.float64)
            if not np.allclose(a, b, rtol=REL_TOL, atol=ABS_TOL, equal_nan=True):
                return False
        elif not (a.astype(str) == b.astype(str)).all():
            return False
    return True


class FleetOracle:
    """DuckDB over a Fleet's arrays; every method returns a pandas frame
    shaped like the engine's answer."""

    def __init__(self, fleet):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.con.register("samples", fleet.arrow())
        self.con.register("labels", fleet.labels)

    def q(self, sql: str, *params) -> pd.DataFrame:
        return self.con.execute(sql, list(params)).df()

    def close(self):
        self.con.close()

    def range_agg(self, key, start, end, dur) -> pd.DataFrame:
        return self.q(
            f"SELECT key, ts - ts % {dur} AS ts, avg(value) AS avg FROM samples "
            "WHERE key = ? AND ts BETWEEN ? AND ? GROUP BY ALL",
            key, start, end,
        )

    def range_raw(self, key, start, end) -> pd.DataFrame:
        return self.q(
            "SELECT key, ts, value FROM samples WHERE key = ? AND ts BETWEEN ? AND ?",
            key, start, end,
        )

    def matched(self, preds: dict[str, str]) -> str:
        """SQL subquery of keys carrying every label=value in `preds`."""
        conds = " INTERSECT ".join(
            f"SELECT key FROM labels WHERE label = '{k}' AND value = '{v}'" for k, v in preds.items()
        )
        return f"({conds})"

    def mrange_agg(self, preds, start, end, dur, agg) -> pd.DataFrame:
        return self.q(
            f"SELECT key, ts - ts % {dur} AS ts, {agg}(value) AS {agg} FROM samples "
            f"WHERE key IN {self.matched(preds)} AND ts BETWEEN ? AND ? GROUP BY ALL",
            start, end,
        )

    def mrange_groupby(self, preds, start, end, dur, agg, groupby, reduce) -> pd.DataFrame:
        return self.q(
            f"""WITH per AS (
                  SELECT key, ts - ts % {dur} AS ts, {agg}(value) AS v FROM samples
                  WHERE key IN {self.matched(preds)} AND ts BETWEEN ? AND ? GROUP BY ALL)
                SELECT '{groupby}=' || l.value AS key, per.ts, {reduce}(per.v) AS {agg}
                FROM per JOIN labels l ON l.key = per.key AND l.label = '{groupby}'
                GROUP BY ALL""",
            start, end,
        )

    def mget(self, preds) -> pd.DataFrame:
        return self.q(
            "SELECT key, max(ts) AS ts, arg_max(value, ts) AS value FROM samples "
            f"WHERE key IN {self.matched(preds)} GROUP BY key"
        )

    def queryindex(self, preds) -> pd.DataFrame:
        return self.q(f"SELECT key FROM {self.matched(preds)} t")


class IngestModel:
    """pandas replay of what a StreamingStore with dup policy `last` must
    hold after a sequence of micro-batches: every arrival is kept with its
    batch number and folded on demand."""

    def __init__(self, arrivals: list[pd.DataFrame] | None = None):
        self.arrivals = arrivals if arrivals is not None else []

    def add(self, batch: pd.DataFrame, b: int):
        self.arrivals.append(batch.assign(batch=b))

    def _all(self, key=None) -> pd.DataFrame:
        a = pd.concat(self.arrivals, ignore_index=True)
        return a if key is None else a[a.key == key]

    def resolved(self, key=None) -> pd.DataFrame:
        """(key, ts, value): per (key, ts) the last non-NaN arrival, NaN
        only when every arrival was NaN."""
        a = self._all(key)
        # NaN arrivals sort first within a (key, ts) group, so `last` picks
        # the newest valid arrival whenever one exists
        a = a.assign(valid=~a.value.isna()).sort_values(["key", "ts", "valid", "batch"])
        out = a.drop_duplicates(["key", "ts"], keep="last")
        return out[["key", "ts", "value"]].reset_index(drop=True)

    def latest(self, keys=None) -> pd.DataFrame:
        """Raw newest arrival per key (the latest table ignores dup policy)."""
        a = self._all()
        if keys is not None:
            a = a[a.key.isin(keys)]
        return a.sort_values(["key", "ts"]).drop_duplicates("key", keep="last")[["key", "ts", "value"]]

    def rule(self, dur: int, agg: str, include_open: bool = True, key=None) -> pd.DataFrame:
        """Bucketed rule table over the resolved samples: NaNs ignored, a
        bucket emitted when it holds a valid sample; without include_open
        each series' newest (open) bucket is left out."""
        r = self.resolved(key)
        v = r[~r.value.isna()].assign(bucket=lambda d: d.ts - d.ts % dur)
        out = v.groupby(["key", "bucket"], as_index=False).value.agg(agg)
        if not include_open:
            newest = r.groupby("key").ts.max() // dur * dur
            out = out[out.bucket < out.key.map(newest)]
        return out.rename(columns={"bucket": "ts"})[["key", "ts", "value"]]


def dedup_scores(result: pd.DataFrame, cluster: dict[int, int]) -> tuple[float, float, bool]:
    """(dup_recall, drop_precision, consistent) of a dedup_pipeline answer
    against the planted clusters.  recall: planted redundant copies dropped
    / planted redundant copies (every cluster member but one); precision:
    dropped docs that are planted members whose canonical lies in the same
    cluster / dropped docs; consistent: one row per doc, keep iff the doc
    is its own canonical, and canonical <= doc_id."""
    r = result
    consistent = (
        r.doc_id.is_unique
        and bool(((r.doc_id == r.canonical) == r.keep).all())
        and bool((r.canonical <= r.doc_id).all())
    )
    dropped = r[~r.keep]
    ok = [
        d in cluster and cluster.get(c) == cluster[d]
        for d, c in zip(dropped.doc_id.tolist(), dropped.canonical.tolist())
    ]
    redundant = len(cluster) - len(set(cluster.values()))
    recall = sum(ok) / redundant if redundant else 1.0
    precision = sum(ok) / len(ok) if ok else 1.0
    return recall, precision, consistent


def isclose(a: float, b: float) -> bool:
    if a is None or b is None:
        return a is b
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=ABS_TOL)
