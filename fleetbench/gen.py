"""Seeded input generators.

Everything a workload feeds the engine comes from here, driven by one
integer seed: the same seed gives byte-identical arrays (see `digest`),
so the engine and the independent oracles always see the same inputs.

Shapes follow the TSBS devops data set the reference benchmarks with:
hosts carry hostname/region/datacenter/service labels and report a fixed
set of metrics at a fixed cadence; a series is one (host, metric) pair.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np
import pandas as pd

T0 = 1_704_067_200_000  # 2024-01-01T00:00:00Z, a day boundary
MIN = 60_000
HOUR = 3_600_000
DAY = 86_400_000

REGIONS = [
    "us-east-1", "us-west-1", "us-west-2", "eu-west-1",
    "eu-central-1", "ap-southeast-1", "ap-northeast-1", "sa-east-1",
]
METRICS = [
    "cpu_usage_user", "cpu_usage_system", "cpu_usage_idle", "mem_used_percent",
    "disk_used_percent", "diskio_reads", "diskio_writes", "net_bytes_recv",
    "net_bytes_sent", "nginx_requests",
]
# monotone counters with an occasional reset (the ts_increase input shape)
COUNTERS = {"diskio_reads", "diskio_writes", "net_bytes_recv", "net_bytes_sent", "nginx_requests"}
N_SERVICES = 10


def digest(*parts) -> str:
    """sha256 over numpy arrays / strings / nested lists, in order."""
    h = hashlib.sha256()
    for p in parts:
        if isinstance(p, np.ndarray):
            h.update(str(p.dtype).encode())
            h.update(np.ascontiguousarray(p).tobytes())
        else:
            h.update(repr(p).encode())
    return h.hexdigest()[:16]


def zipf_ranks(rng: np.random.Generator, n_items: int, size: int, s: float = 1.1) -> np.ndarray:
    """`size` draws from a Zipf(s) popularity law over `n_items` items whose
    popularity order is itself a seeded permutation."""
    p = 1.0 / np.arange(1, n_items + 1) ** s
    order = rng.permutation(n_items)
    return order[rng.choice(n_items, size=size, p=p / p.sum())]


@dataclass
class Fleet:
    """A devops fleet: `n_hosts` x len(METRICS) series sampled every
    `cadence_ms` from T0 for `hours`.  Rows are sorted by (key, ts), the
    store's physical order."""

    keys: np.ndarray  # str, one per series
    key_idx: np.ndarray  # int32 per row -> keys
    ts: np.ndarray  # int64 per row
    value: np.ndarray  # float64 per row
    labels: pd.DataFrame  # (key, label, value), long form
    host_labels: pd.DataFrame  # one row per series: key, hostname, region, ...
    cadence_ms: int
    end_ts: int  # last sample's ts

    @property
    def n_samples(self) -> int:
        return len(self.ts)

    def latest(self) -> pd.DataFrame:
        """Each series' newest sample (rows are sorted by key, ts)."""
        last = np.flatnonzero(np.r_[self.key_idx[1:] != self.key_idx[:-1], True])
        return pd.DataFrame(
            {"key": self.keys[self.key_idx[last]], "ts": self.ts[last], "value": self.value[last]}
        )

    def samples_frame(self) -> pd.DataFrame:
        return pd.DataFrame(
            {"key": self.keys[self.key_idx], "ts": self.ts, "value": self.value}
        )

    def arrow(self):
        import pyarrow as pa

        key = pa.DictionaryArray.from_arrays(pa.array(self.key_idx), pa.array(self.keys))
        return pa.table({"key": key.cast(pa.string()), "ts": self.ts, "value": self.value})

    def digest(self) -> str:
        return digest(self.keys, self.key_idx, self.ts, self.value, self.labels.values.tolist())


def host_catalog(rng: np.random.Generator, n_hosts: int) -> pd.DataFrame:
    """Hosts spread evenly over regions and services (which host lands
    where is seeded), so label queries match the same number of series
    whatever the seed."""
    region = rng.permutation(np.arange(n_hosts) % len(REGIONS))
    service = rng.permutation(np.arange(n_hosts) % N_SERVICES)
    rows = []
    for h in range(n_hosts):
        r = REGIONS[region[h]]
        rows.append(
            {
                "hostname": f"host_{h}",
                "region": r,
                "datacenter": f"{r}{'abc'[int(rng.integers(0, 3))]}",
                "service": str(service[h]),
            }
        )
    return pd.DataFrame(rows)


def fleet(seed: int, n_hosts: int, hours: float, cadence_ms: int = 10_000) -> Fleet:
    rng = np.random.default_rng([seed, 1])
    hosts = host_catalog(rng, n_hosts)
    n_pts = int(hours * HOUR // cadence_ms)
    n_series = n_hosts * len(METRICS)
    keys = np.array([f"{h}:{m}" for h in hosts.hostname for m in METRICS])
    is_counter = np.tile([m in COUNTERS for m in METRICS], n_hosts)

    # gauges: a random walk folded into [0, 100] (TSBS's bounded walk)
    walk = 50.0 + np.cumsum(rng.normal(0.0, 1.0, (n_series, n_pts)), axis=1)
    walk = 100.0 - np.abs(100.0 - np.abs(walk) % 200.0)
    # counters: cumulative positive increments, reset to 0 once for about
    # a third of the series
    cnt = np.cumsum(rng.exponential(1000.0, (n_series, n_pts)), axis=1)
    reset_at = rng.integers(1, n_pts, n_series)
    resets = rng.random(n_series) < 0.33
    cols = np.arange(n_pts)[None, :]
    base = np.take_along_axis(cnt, (reset_at - 1)[:, None], axis=1)
    cnt = np.where(resets[:, None] & (cols >= reset_at[:, None]), cnt - base, cnt)
    vals = np.where(is_counter[:, None], np.round(cnt), np.round(walk, 3))

    key_idx = np.repeat(np.arange(n_series, dtype=np.int32), n_pts)
    ts = np.tile(T0 + np.arange(n_pts, dtype=np.int64) * cadence_ms, n_series)
    per_series = hosts.loc[hosts.index.repeat(len(METRICS))].reset_index(drop=True)
    per_series.insert(0, "key", keys)
    per_series["metric"] = np.tile(METRICS, n_hosts)
    labels = per_series.melt(id_vars="key", var_name="label", value_name="value")
    return Fleet(
        keys=keys,
        key_idx=key_idx,
        ts=ts,
        value=vals.reshape(-1).astype(np.float64),
        labels=labels[["key", "label", "value"]],
        host_labels=per_series,
        cadence_ms=cadence_ms,
        end_ts=int(T0 + (n_pts - 1) * cadence_ms),
    )


@dataclass
class IngestStream:
    """Micro-batches for a StreamingStore: batch 0 is the prefill history,
    later batches advance every series by `batch_pts` samples and also
    carry late samples (new timestamps inside already-written buckets),
    duplicate timestamps (re-sent earlier samples with new values) and a
    few NaNs.  Late and duplicate timestamps are always older than the
    series' newest sample, so the batch's newest sample per series is
    unique and the `latest` answer is unambiguous."""

    keys: np.ndarray
    labels: pd.DataFrame
    cadence_ms: int
    prefill_pts: int
    batch_pts: int
    seed: int

    def batch(self, b: int) -> pd.DataFrame:
        """Batch `b` as a (key, ts, value) frame; deterministic in (seed, b)."""
        rng = np.random.default_rng([self.seed, 2, b])
        n = self.prefill_pts if b == 0 else self.batch_pts
        first = 0 if b == 0 else self.prefill_pts + (b - 1) * self.batch_pts
        idx = np.arange(first, first + n, dtype=np.int64)
        k = np.repeat(np.arange(len(self.keys)), n)
        ts = np.tile(T0 + idx * self.cadence_ms, len(self.keys))
        val = np.round(rng.normal(50.0, 10.0, len(ts)), 3)
        val[rng.random(len(ts)) < 0.002] = np.nan
        parts = [pd.DataFrame({"key": self.keys[k], "ts": ts, "value": val})]
        if b > 0:
            n_new = len(ts)
            # late: half-cadence offsets inside the last ~30 minutes already
            # written (odd offsets never collide with the cadence grid, and
            # the batch number in the draw keeps batches apart)
            n_late = max(1, int(0.02 * n_new))
            lk = rng.integers(0, len(self.keys), n_late)
            back = rng.integers(1, min(first, 180) + 1, n_late)
            late_ts = T0 + (first - back) * self.cadence_ms + 1 + 2 * b
            parts.append(
                pd.DataFrame(
                    {"key": self.keys[lk], "ts": late_ts,
                     "value": np.round(rng.normal(50.0, 10.0, n_late), 3)}
                )
            )
            # duplicates: grid timestamps already written, re-sent with a
            # new value (dup policy `last` must let the re-send win, except
            # that a NaN re-send never replaces a valid value)
            n_dup = max(1, int(0.01 * n_new))
            dk = rng.integers(0, len(self.keys), n_dup)
            dback = rng.integers(1, min(first, 360) + 1, n_dup)
            dval = np.round(rng.normal(50.0, 10.0, n_dup), 3)
            dval[: max(1, n_dup // 20)] = np.nan
            parts.append(
                pd.DataFrame(
                    {"key": self.keys[dk], "ts": T0 + (first - dback) * self.cadence_ms,
                     "value": dval}
                )
            )
        out = pd.concat(parts, ignore_index=True)
        # one arrival per (key, ts) inside a batch: the engine defines no
        # arrival order within a micro-batch, so the oracle could not either
        return out.drop_duplicates(["key", "ts"], keep="first").reset_index(drop=True)


def ingest_stream(seed: int, n_hosts: int, prefill_minutes: int, batch_pts: int) -> IngestStream:
    rng = np.random.default_rng([seed, 3])
    hosts = host_catalog(rng, n_hosts)
    keys = np.array([f"{h}:{m}" for h in hosts.hostname for m in METRICS])
    per_series = hosts.loc[hosts.index.repeat(len(METRICS))].reset_index(drop=True)
    per_series.insert(0, "key", keys)
    per_series["metric"] = np.tile(METRICS, n_hosts)
    labels = per_series.melt(id_vars="key", var_name="label", value_name="value")
    cadence = 10_000
    return IngestStream(
        keys=keys,
        labels=labels[["key", "label", "value"]],
        cadence_ms=cadence,
        prefill_pts=prefill_minutes * MIN // cadence,
        batch_pts=batch_pts,
        seed=seed,
    )


# ---- corpus ----------------------------------------------------------------

_BOILERPLATE = [
    "home about contact privacy terms cookie policy sign in subscribe newsletter",
    "skip to main content menu search results page next previous share this",
    "copyright all rights reserved powered by open source community edition",
    "breaking news latest updates top stories trending now most read today",
    "accept cookies we use cookies to improve your experience on our site",
]


@dataclass
class Corpus:
    docs: pd.DataFrame  # (doc_id long, text string)
    cluster: dict[int, int]  # planted near-duplicate doc_id -> cluster id

    def digest(self) -> str:
        return digest(self.docs.doc_id.to_numpy(), self.docs.text.tolist())


def corpus(seed: int, n_docs: int, vocab: int = 6000, near_frac: float = 0.03,
           exact_frac: float = 0.01) -> Corpus:
    """Zipf-vocabulary documents with shared boilerplate, plus planted
    duplicate clusters: near-duplicates (clusters of 2 and 3 members in
    turn, each copy 1-2 word edits off its source) and exact copies.
    `cluster` maps every planted member to its cluster.

    The vocabulary and the planted structure (how many clusters, of which
    sizes, how many exact copies) are the same for every seed, so the
    dedup pipeline takes the same path and does about the same work
    whatever the seed: the word lengths of the most frequent words alone
    moved the LSH candidate volume, and the run time, by 1.6x across
    seeds.  The seed draws the documents."""
    vrng = np.random.default_rng([0, 4])
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = np.array(
        ["".join(vrng.choice(letters, int(vrng.integers(3, 9)))) for _ in range(vocab)]
    )
    rng = np.random.default_rng([seed, 4])
    p = 1.0 / np.arange(1, vocab + 1) ** 1.1
    p /= p.sum()
    n_near, n_exact = int(n_docs * near_frac), int(n_docs * exact_frac)
    n_orig = n_docs - n_near - n_exact
    texts = []
    for _ in range(n_orig):
        body = words[rng.choice(vocab, int(rng.integers(50, 120)), p=p)]
        texts.append(_BOILERPLATE[int(rng.integers(0, len(_BOILERPLATE)))] + " " + " ".join(body))
    sources = iter(rng.permutation(n_orig).tolist())
    clusters: list[list[int]] = []
    while len(texts) < n_orig + n_near:
        src = next(sources)
        clusters.append([src])
        for _ in range(min(1 + len(clusters) % 2, n_orig + n_near - len(texts))):
            toks = texts[src].split(" ")
            for _ in range(int(rng.integers(1, 3))):
                i = int(rng.integers(12, len(toks)))
                while (w := str(words[rng.choice(vocab, p=p)])) == toks[i]:
                    pass
                toks[i] = w
            clusters[-1].append(len(texts))
            texts.append(" ".join(toks))
    while len(texts) < n_docs:
        src = next(sources)
        clusters.append([src, len(texts)])
        texts.append(texts[src])
    # doc ids are a seeded permutation, so copies are not adjacent to
    # their sources and the cluster's canonical (min id) is not always
    # the original
    ids = rng.permutation(n_docs).astype(np.int64) + 1
    cluster = {int(ids[m]): ci for ci, c in enumerate(clusters) for m in c}
    return Corpus(docs=pd.DataFrame({"doc_id": ids, "text": texts}), cluster=cluster)
