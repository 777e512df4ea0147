"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the correctness baseline: a broadcast of the
query vector + a JVM-side fold (zip_with / aggregate) per row + Spark's
TakeOrderedAndProject for the top-k — no Python in the hot path, no full
sort (the top-k is a bounded heap per partition + driver merge), so the
plan scales linearly with corpus size across executors.

The scale path prunes candidates first: an LSH bucket from the sign bits
of the leading dimensions (deterministic, engine-portable); at 100 TB the
same shape becomes IVF — a k-means coarse quantizer table broadcast to the
scan, probing nprobe nearest centroids.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from redistimeseries_spark.materialize import materialize
from redistimeseries_spark.pipeline.retrieval import INDEX_TABLES
from redistimeseries_spark.store_files import (
    _path_exists,
    _touch,
    read_state,
    recover,
)
from pyspark.storagelevel import StorageLevel


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, x: s + x))


def cosine_topk(
    emb: DataFrame, query_vec_id: int, k: int = 20
) -> DataFrame:
    """Brute-force cosine top-k against the embedding of `query_vec_id`.
    Returns (vec_id, cos) — ties broken by vec_id for determinism."""
    d = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    q = d.filter(F.col("vec_id") == query_vec_id).select(
        F.col("v").alias("q"), _norm(F.col("v")).alias("qn")
    )
    scored = (
        d.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != query_vec_id)
        .select(
            "vec_id",
            (_dot(F.col("v"), F.col("q")) / (_norm(F.col("v")) * F.col("qn"))).alias("cos"),
        )
    )
    return (
        scored.orderBy(F.col("cos").desc(), F.col("vec_id").asc())
        .limit(k)
        .select("vec_id", F.round("cos", 6).alias("cos"))
    )


def sign_bucket(v: Column, bits: int = 8) -> Column:
    """LSH bucket id from the sign bits of the first `bits` dimensions."""
    out = F.lit(0)
    for i in range(bits):
        out = out + F.when(F.element_at(v, i + 1) >= 0, F.lit(2**i)).otherwise(F.lit(0))
    return out


def _assign_cells(d: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, v, vn, cid): nearest-centroid cell per vector — broadcast
    cross-join + partial-aggregatable max(struct) argmax, no window sort.
    Norms are PROJECTED once per vector and once per centroid before the
    cross-join: inlining _norm in the csim expression re-evaluates an
    O(dim) aggregate ncent times per vector (the [[spark-lambda-inlining
    -pitfall]] — measured 2x on the 100k-vector semdedup probe).  The
    vector norm rides along as `vn` so downstream scoring joins reuse it
    instead of re-aggregating per candidate pair."""
    nd = d.select("vec_id", "v", _norm(F.col("v")).alias("__vn"))
    nc = F.broadcast(
        cents.select("cid", "cv", _norm(F.col("cv")).alias("__cn"))
    )
    sim = nd.crossJoin(nc).select(
        "vec_id",
        "v",
        F.col("__vn"),
        "cid",
        (_dot(F.col("v"), F.col("cv")) / (F.col("__vn") * F.col("__cn"))).alias(
            "csim"
        ),
    )
    return (
        sim.groupBy("vec_id")
        .agg(
            F.any_value("v").alias("v"),
            F.any_value("__vn").alias("vn"),
            F.max(F.struct(F.col("csim"), (-F.col("cid")).alias("ncid"))).alias("m"),
        )
        .select("vec_id", "v", "vn", (-F.col("m.ncid")).alias("cid"))
    )


def train_centroids(
    emb: DataFrame, ncent: int = 16, iters: int = 3, dim: int | None = None
) -> DataFrame:
    """Distributed Lloyd iterations for the IVF coarse quantizer: (cid, cv).

    Deterministic init: embeddings of the `ncent` FIRST-IN-md5(vec_id)
    -ORDER vec_ids — hash-spread, because id-ordered seeds collapse to a
    handful of directions on corpora where consecutive ids are
    near-duplicates (the semdedup probe measured 256 id-ordered seeds
    degenerating to ~6 effective centroids, which Lloyd cannot recover
    from: identical seeds stay identical under the empty-cell fixup).
    Each iteration is one broadcast assign + one groupBy element-wise
    mean — the standard Spark k-means shape without an MLlib dependency.
    The mean is `dim` scalar avg() aggregates (one shuffle of ncent*dim
    cells, not a posexplode of corpus*dim rows), so an iteration costs
    one corpus scan.  Empty cells keep their previous centroid (standard
    Lloyd fixup)."""
    d = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    if dim is None:
        dim = len(d.select("v").first().v)
    cents = d.orderBy(
        F.md5(F.col("vec_id").cast("string")), F.col("vec_id")
    ).limit(ncent).select(
        F.col("vec_id").cast("long").alias("cid"), F.col("v").alias("cv")
    )
    for _ in range(iters):
        assigned = _assign_cells(d, cents)
        means = assigned.groupBy("cid").agg(
            F.array(
                *[F.avg(F.element_at(F.col("v"), i + 1)) for i in range(dim)]
            ).alias("mv")
        )
        cents = (
            cents.join(means, "cid", "left")
            .select("cid", F.coalesce(F.col("mv"), F.col("cv")).alias("cv"))
            .localCheckpoint()  # truncate lineage across iterations
        )
    return cents


def ivf_topk(
    emb: DataFrame,
    query_vec_id: int,
    k: int = 20,
    ncent: int = 16,
    nprobe: int = 4,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF ANN: a coarse quantizer partitions vectors into cells; the query
    probes only the `nprobe` nearest cells.  Default centroids are the
    embeddings of the `ncent` smallest vec_ids — deterministic, so the
    DuckDB oracle can replicate them; pass `centroids=train_centroids(...)`
    for Lloyd-trained cells (changes recall, not the plan shape).

    Plan shape at 100 TB: centroid table is tiny and broadcast; cell
    assignment is one scan + map-side argmax aggregation (no sort, no
    window); the probe is a broadcast semi-join that prunes the scan to
    nprobe/ncent of the corpus before the top-k heap."""
    d = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    cents = centroids if centroids is not None else d.orderBy("vec_id").limit(
        ncent
    ).select(F.col("vec_id").cast("long").alias("cid"), F.col("v").alias("cv"))
    assigned = _assign_cells(d, cents)
    probes = (
        d.filter(F.col("vec_id") == query_vec_id)
        .crossJoin(F.broadcast(cents))
        .select(
            "cid",
            (
                _dot(F.col("v"), F.col("cv")) / (_norm(F.col("v")) * _norm(F.col("cv")))
            ).alias("csim"),
        )
        .orderBy(F.col("csim").desc(), F.col("cid").asc())
        .limit(nprobe)
        .select(F.col("cid").alias("pcid"))
    )
    q = d.filter(F.col("vec_id") == query_vec_id).select(
        F.col("v").alias("q"), _norm(F.col("v")).alias("qn")
    )
    scored = (
        assigned.join(F.broadcast(probes), F.col("cid") == F.col("pcid"))
        .filter(F.col("vec_id") != query_vec_id)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            (_dot(F.col("v"), F.col("q")) / (F.col("vn") * F.col("qn"))).alias("cos"),
        )
    )
    return (
        scored.orderBy(F.col("cos").desc(), F.col("vec_id").asc())
        .limit(k)
        .select("vec_id", F.round("cos", 6).alias("cos"))
    )


def lsh_topk(
    emb: DataFrame, query_vec_id: int, k: int = 20, bits: int = 8,
    multiprobe: int = 0,
) -> DataFrame:
    """Bucketed ANN: search only vectors sharing the query's sign-bit
    bucket — the candidate set shrinks ~2^bits-fold; recall trades off
    accordingly.  multiprobe=r widens the probe to every bucket within
    Hamming distance r of the query's (standard multi-probe LSH): the
    candidate set grows ~sum(C(bits, i), i<=r)-fold and recall recovers.
    The probe predicate is pure JVM bit arithmetic
    (bit_count(bucket XOR qb) <= r) against a 1-row broadcast."""
    d = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
    ).withColumn("bucket", sign_bucket(F.col("v"), bits))
    q = d.filter(F.col("vec_id") == query_vec_id).select(
        F.col("v").alias("q"), _norm(F.col("v")).alias("qn"), F.col("bucket").alias("qb")
    )
    probe_cond = (
        F.bit_count(F.col("bucket").bitwiseXOR(F.col("qb"))) <= multiprobe
        if multiprobe > 0
        else F.col("bucket") == F.col("qb")
    )
    scored = (
        d.join(F.broadcast(q), probe_cond)
        .filter(F.col("vec_id") != query_vec_id)
        .select(
            "vec_id",
            (_dot(F.col("v"), F.col("q")) / (_norm(F.col("v")) * F.col("qn"))).alias("cos"),
        )
    )
    return (
        scored.orderBy(F.col("cos").desc(), F.col("vec_id").asc())
        .limit(k)
        .select("vec_id", F.round("cos", 6).alias("cos"))
    )


def ivf_topk_batch(
    emb: DataFrame,
    query_vec_ids: list[int],
    k: int = 10,
    ncent: int = 16,
    nprobe: int = 4,
    centroids: DataFrame | None = None,
    arrow: bool | str = "auto",
    n_rows: int | None = None,
) -> DataFrame:
    """(qid, vec_id, cos) — IVF ANN for a query SET: top-k per query.
    `n_rows` (corpus cardinality, if known) skips arrow="auto"'s bounded
    count probe — see _resolve_arrow's shuffled-lineage caveat.

    The realistic retrieval shape (embedding-dedup probes, RAG batch
    lookups): the corpus is cell-assigned ONCE, each query probes its
    `nprobe` nearest cells, and the probe table (|queries| x nprobe rows,
    carrying the query vector) broadcasts into a join on cell id — a
    corpus row is scored only against the queries probing its cell, never
    |corpus| x |queries|.  The per-query top-k is `row_number <= k` over a
    qid-partitioned window, which Spark's InferWindowGroupLimit rewrites
    into a partial per-partition top-k heap before the shuffle (the
    many-group analogue of TakeOrderedAndProject), so no query's full
    candidate list is ever sorted in one task."""
    from pyspark.sql import Window

    d = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    # seed centroids materialize once (ncent rows): they feed the corpus
    # assignment AND the query probe join, and each would otherwise re-run
    # the orderBy-limit corpus scan deriving them
    cents = centroids if centroids is not None else d.orderBy("vec_id").limit(
        ncent
    ).select(
        F.col("vec_id").cast("long").alias("cid"), F.col("v").alias("cv")
    ).localCheckpoint()
    # arrow: the corpus-side assignment (the one pass that touches every
    # vector) runs the BLAS kernel; probe/top-k stay expression-side
    arrow = _resolve_arrow(arrow, d, n_rows)
    assigned = (_assign_cells_arrow if arrow else _assign_cells)(d, cents)
    qs = d.filter(F.col("vec_id").isin(query_vec_ids)).select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv"),
        _norm(F.col("v")).alias("qn"),
    )
    qsim = qs.crossJoin(F.broadcast(cents)).select(
        "qid",
        "qv",
        "qn",
        "cid",
        (_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * _norm(F.col("cv")))).alias(
            "csim"
        ),
    )
    wq = Window.partitionBy("qid").orderBy(F.col("csim").desc(), F.col("cid").asc())
    probes = (
        qsim.withColumn("prn", F.row_number().over(wq))
        .filter(F.col("prn") <= nprobe)
        .select("qid", "qv", "qn", "cid")
    )
    scored = (
        assigned.join(F.broadcast(probes), "cid")
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            (_dot(F.col("v"), F.col("qv")) / (F.col("vn") * F.col("qn"))).alias(
                "cos"
            ),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("qid", "vec_id", F.round("cos", 6).alias("cos"))
    )


def quantize_embeddings(emb: DataFrame, qmax: int = 127) -> DataFrame:
    """(vec_id, scale, qv) — symmetric per-vector int8 quantization:
    scale = max(|v|)/qmax, qv[i] = round(v[i]/scale).  A 100 TB embedding
    store shrinks 4x (float32 -> int8) and the ANN scan becomes integer
    dot products rescaled by sa*sb at the end — the standard storage tier
    under an IVF/LSH index.  Pure array HOF projection, zero shuffle;
    all-zero vectors keep scale 0 and an all-zero qv."""
    v = F.col("embedding").cast("array<double>")
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = amax / qmax
    safe = F.greatest(scale, F.lit(1e-300))
    qv = F.transform(v, lambda x: F.round(x / safe, 0).cast("int"))
    return emb.select(
        "vec_id",
        F.round(scale, 9).alias("scale"),
        qv.alias("qv"),
    )


def cosine_topk_quantized(emb: DataFrame, query_vec_id: int, k: int = 20) -> DataFrame:
    """Brute-force cosine top-k over the int8-quantized store.  Per-vector
    symmetric quantization cancels the scales out of the cosine entirely,
    so this IS cosine_topk over the integer vectors — delegated, same
    plan, same tiebreaks; the only error vs the float store is rounding."""
    q = quantize_embeddings(emb).select(
        "vec_id", F.col("qv").cast("array<float>").alias("embedding")
    )
    return cosine_topk(q, query_vec_id, k)


# `arrow="auto"` picks the BLAS/Arrow kernel at-or-above this input size:
# the interpreted expression paths are the oracle-gated reference twins,
# but their per-row cost is ncent-or-ksub interpreted O(dim) folds, so
# the BLAS kernels win far earlier than the original 50k setting assumed:
# an interleaved warm A/B on 2k x 512 vectors read semdedup 1.7-2.1 s
# expression vs 0.81-0.92 s Arrow (and 5-14x at 100k+, the probe
# numbers).  Below ~2k rows the two are within Python-worker-startup
# noise of each other; the expression twins stay reachable via
# arrow=False and the A/B pytest pins 6dp equality either way.
ARROW_AUTO_THRESHOLD = 2_000

# pq_encode's own auto threshold: its expression path pays m * ksub
# interpreted aggregate folds PER ROW (128 at the default 8x16 — measured
# 1.4 s expression vs 0.36 s Arrow at just 2k vectors, the gap linear in
# rows) PLUS a ~8 s one-time analysis/codegen tax on the fold tree that
# dwarfs the Python-worker startup the 50k default was guarding against —
# so "auto" always takes the Arrow kernel here.  The expression path
# stays reachable via arrow=False as the oracle-gated reference twin;
# byte-equality of the two paths is pytest-pinned, so the switch point is
# pure plan choice.
PQ_ARROW_AUTO_THRESHOLD = 0


def _resolve_arrow(
    arrow,
    d: DataFrame,
    n_rows: int | None = None,
    threshold: int = ARROW_AUTO_THRESHOLD,
) -> bool:
    """Resolve an `arrow` kernel flag: True/False are explicit; "auto"
    picks the BLAS kernel when the input reaches ARROW_AUTO_THRESHOLD
    rows.  Any other string raises — bool('false') is True, so a typo'd
    flag would silently select a kernel (ADVICE r7).

    The "auto" probe is a bounded limit().count() — never a full scan —
    but it still EXECUTES the input's lineage once: cheap on a
    file-backed frame, yet a shuffled/synthetic upstream replays in full
    (a 400k-vector exploded corpus paid 25 s for the probe alone,
    BASELINE.md d26).  Callers that already know the cardinality pass
    `n_rows` and the probe is skipped entirely."""
    if isinstance(arrow, str):
        if arrow != "auto":
            raise ValueError(
                f"arrow must be True, False or 'auto', got {arrow!r}"
            )
        if threshold <= 0:
            # every input reaches a non-positive threshold — the PQ
            # family's always-on kernels (PQ_ARROW_AUTO_THRESHOLD = 0)
            # would otherwise still pay one limit(0).count() job per call
            return True
        if n_rows is not None:
            return n_rows >= threshold
        return d.limit(threshold).count() >= threshold
    return bool(arrow)


def pq_train(
    emb: DataFrame, m: int = 8, ksub: int = 16, iters: int = 0
) -> DataFrame:
    """(sub, code, sv) — PRODUCT-QUANTIZATION codebook (Jégou et al.,
    "Product Quantization for Nearest Neighbor Search", TPAMI 2011): the
    vector splits into `m` contiguous subspaces, each with its own
    `ksub`-entry codebook, so a vector stores as m small codes (m bytes
    at ksub<=256) instead of dim floats — the 16-32x memory tier under
    IVF that makes billion-vector ANN fit a cluster's RAM.

    Deterministic seeds: the subvectors of the `ksub` SMALLEST vec_ids
    (code = id rank), the ivf_topk convention, so the DuckDB oracle can
    replicate the codebook exactly.  `iters>0` runs per-subspace
    distributed Lloyd on top (one scan per iteration: broadcast
    assign-argmin + (sub, code) element-wise mean; empty codes keep
    their previous centroid) — better codebooks, same plan shapes."""
    if m <= 0 or ksub <= 0:
        raise ValueError("m and ksub must be positive")
    d = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    dim = len(d.select("v").first().v)
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    from pyspark.sql import Window

    seeds = (
        d.orderBy("vec_id")
        .limit(ksub)
        .select(
            (
                F.row_number().over(Window.orderBy("vec_id")) - 1
            ).alias("code"),
            "v",
        )
    )
    cb = seeds.select(
        F.posexplode(
            F.array(
                *[F.slice("v", s * dsub + 1, dsub) for s in range(m)]
            )
        ).alias("sub", "sv"),
        "code",
    ).select("sub", "code", "sv")
    if iters == 0:
        return cb
    # per-subspace Lloyd over the exploded (vec_id, sub, x) corpus
    sx = d.select(
        "vec_id",
        F.posexplode(
            F.array(*[F.slice("v", s * dsub + 1, dsub) for s in range(m)])
        ).alias("sub", "x"),
    )
    for _ in range(iters):
        dist = F.aggregate(
            F.zip_with("x", "sv", lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )
        assigned = (
            sx.join(F.broadcast(cb), "sub")
            .select("vec_id", "sub", "x", "code", dist.alias("__d"))
            .groupBy("vec_id", "sub")
            .agg(
                F.any_value("x").alias("x"),
                F.min(F.struct(F.col("__d"), F.col("code"))).alias("mm"),
            )
            .select("sub", F.col("mm.code").alias("code"), "x")
        )
        means = assigned.groupBy("sub", "code").agg(
            F.array(
                *[F.avg(F.element_at(F.col("x"), i + 1)) for i in range(dsub)]
            ).alias("mv")
        )
        cb = (
            cb.join(means, ["sub", "code"], "left")
            .select(
                "sub", "code", F.coalesce(F.col("mv"), F.col("sv")).alias("sv")
            )
            .localCheckpoint()
        )
    return cb


def _pq_codebook_rows(codebook: DataFrame):
    """Collect the codebook driver-side — m*ksub rows of dsub doubles
    (KBs; the ivf_topk_indexed driver-side-coarse-search precedent) —
    as {sub: [sv_by_code]} with dense code ranges validated."""
    rows = codebook.select("sub", "code", "sv").collect()
    by_sub: dict[int, dict[int, list[float]]] = {}
    for r in rows:
        by_sub.setdefault(r.sub, {})[r.code] = list(r.sv)
    out = {}
    for s, codes in by_sub.items():
        if set(codes) != set(range(len(codes))):
            raise ValueError(f"subspace {s} codebook has gaps")
        out[s] = [codes[c] for c in range(len(codes))]
    return out


def pq_encode(
    emb: DataFrame,
    codebook: DataFrame,
    arrow: bool | str = "auto",
    n_rows: int | None = None,
) -> DataFrame:
    """(vec_id, codes) — encode every vector as its per-subspace nearest
    codebook entry (squared-L2 argmin, ties to the smaller code).

    The codebook is collected driver-side and inlined as LITERALS, so
    encoding is ONE zero-shuffle projection over the corpus — array_min
    over a (dist, code) struct array per subspace, pure JVM codegen, the
    quantize_embeddings plan shape.  At 100 TB this is the one
    full-corpus pass; everything after scans m-byte codes.

    `arrow=True` swaps the m*ksub interpreted aggregate() folds per
    vector for one BLAS matmul per (batch, subspace) — the semdedup
    kernel treatment; zero shuffle either way, and the A/B pytest pins
    code-for-code equality on real embeddings.  The default "auto"
    selects by input size (ARROW_AUTO_THRESHOLD); `n_rows` (corpus
    cardinality, if known) skips the probe — see _resolve_arrow's
    shuffled-lineage caveat."""
    cb = _pq_codebook_rows(codebook)
    m = len(cb)
    dsub = len(cb[0][0])
    d = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    if _resolve_arrow(arrow, d, n_rows, threshold=PQ_ARROW_AUTO_THRESHOLD):
        return _pq_encode_arrow(d, cb)
    # ONE transform over a ksub x dsub codebook literal per subspace, not
    # ksub separate fold subtrees: the unrolled form built m * ksub
    # independent aggregate(zip_with(...)) trees (thousands of expression
    # nodes), and Catalyst analysis + codegen of that tree cost ~10 s PER
    # EXECUTION at m=8, ksub=16 — pure driver time, zero tasks.  The
    # element-wise math and the (dist, code) struct array_min tie-break
    # are identical, so codes are byte-equal (oracle-pinned).
    code_cols = []
    for s in range(m):
        sub_v = F.slice("v", s * dsub + 1, dsub)
        cb_lit = F.array(
            *[
                F.array(*[F.lit(float(x)) for x in sv])
                for sv in cb[s]
            ]
        )
        cands = F.transform(
            cb_lit,
            lambda sv, c: F.struct(
                F.aggregate(
                    F.zip_with(sub_v, sv, lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0),
                    lambda acc, t: acc + t,
                ).alias("d"),
                c.alias("c"),
            ),
        )
        code_cols.append(F.array_min(cands).getField("c"))
    return d.select("vec_id", F.array(*code_cols).alias("codes"))


def _pq_encode_arrow(d: DataFrame, cb) -> DataFrame:
    """Arrow twin of the literal-argmin encode: per (batch, subspace),
    dists = |x|^2 - 2 X @ C.T + |c|^2 in one BLAS matmul; np.argmin
    takes the first minimum (smallest code), matching the struct
    array_min tie-break.  The expanded-formula float sums differ from
    the fold in the last ulp — the A/B pytest pins code equality."""
    import numpy as np
    import pandas as pd

    m = len(cb)
    dsub = len(cb[0][0])
    Cs = [np.array(cb[s], dtype=np.float64) for s in range(m)]
    Cn = [(C * C).sum(axis=1) for C in Cs]

    def fn(batches):
        for pdf in batches:
            V = np.array(pdf["v"].tolist(), dtype=np.float64)
            codes = np.empty((len(pdf), m), dtype=np.int32)
            for s in range(m):
                X = V[:, s * dsub : (s + 1) * dsub]
                dists = (
                    (X * X).sum(axis=1)[:, None]
                    - 2.0 * (X @ Cs[s].T)
                    + Cn[s][None, :]
                )
                codes[:, s] = np.argmin(dists, axis=1)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "codes": list(codes)}
            )

    return d.mapInPandas(fn, "vec_id long, codes array<int>")


def pq_topk_adc(
    codes_df: DataFrame,
    codebook: DataFrame,
    emb: DataFrame,
    query_vec_id: int,
    k: int = 20,
) -> DataFrame:
    """(vec_id, cos) — asymmetric-distance top-k over PQ codes: the
    query stays EXACT while corpus vectors are reconstructed from their
    codes, scored via a per-query lookup table

        LUT[s][c]  = <q_s, codebook[s][c]>      (dot contribution)
        NRM[s][c]  = |codebook[s][c]|^2         (norm contribution)
        cos(v) ~= sum_s LUT[s][codes_v[s]]
                  / (sqrt(sum_s NRM[s][codes_v[s]]) * |q|)

    — PQ's ADC form adapted to cosine.  The LUT is m*ksub doubles built
    driver-side from the collected codebook + query and inlined as
    literals, so the scan reads ONLY (vec_id, codes) — never the float
    vectors — and does m array lookups per row; the top-k is
    TakeOrderedAndProject.  Ties break by vec_id; the query itself is
    excluded; zero-norm codes score NULL and are filtered."""
    cos = _adc_cos_expr(codebook, emb, query_vec_id)
    return (
        codes_df.filter(F.col("vec_id") != query_vec_id)
        .select("vec_id", cos.alias("cos"))
        .filter(F.col("cos").isNotNull() & ~F.isnan("cos"))
        .orderBy(F.col("cos").desc(), F.col("vec_id").asc())
        .limit(k)
        .select("vec_id", F.round("cos", 6).alias("cos"))
    )


def _adc_cos_expr(codebook: DataFrame, emb: DataFrame, query_vec_id: int) -> Column:
    """The ADC cosine expression over a `codes` column: LUT + norm table
    built driver-side from the collected codebook and query, inlined as
    literals (m array lookups per row, no join, no float vectors)."""
    q = (
        emb.filter(F.col("vec_id") == query_vec_id)
        .select(F.col("embedding").cast("array<double>").alias("v"))
        .collect()
    )
    if not q:
        raise ValueError(f"query_vec_id {query_vec_id} not found")
    return _adc_cos_from_qv(_pq_codebook_rows(codebook), list(q[0].v))


def _adc_cos_from_qv(cb, qv: list[float]) -> Column:
    """ADC cosine from collected codebook rows + a driver-side query
    vector (the piece ivf_pq_topk_indexed reuses without an emb table)."""
    import math

    m = len(cb)
    dsub = len(cb[0][0])
    if len(qv) != m * dsub:
        raise ValueError("query dim does not match codebook")
    qn = math.sqrt(sum(x * x for x in qv))
    lut = [
        [
            sum(qv[s * dsub + i] * sv[i] for i in range(dsub))
            for sv in cb[s]
        ]
        for s in range(m)
    ]
    nrm = [[sum(x * x for x in sv) for sv in cb[s]] for s in range(m)]

    def _lookup(table):
        terms = [
            F.element_at(
                F.array(*[F.lit(float(x)) for x in table[s]]),
                F.element_at("codes", s + 1) + 1,
            )
            for s in range(m)
        ]
        out = terms[0]
        for t in terms[1:]:
            out = out + t
        return out

    return _lookup(lut) / (F.sqrt(_lookup(nrm)) * F.lit(qn))


def ivf_pq_topk(
    emb: DataFrame,
    query_vec_id: int,
    k: int = 20,
    ncent: int = 16,
    nprobe: int = 4,
    m: int = 8,
    ksub: int = 16,
    centroids: DataFrame | None = None,
    codebook: DataFrame | None = None,
    arrow: bool | str = "auto",
    n_rows: int | None = None,
) -> DataFrame:
    """(vec_id, cos) — IVF-PQ, the composition that runs billion-vector
    ANN in practice (FAISS's IndexIVFPQ shape): the coarse quantizer
    prunes the scan to `nprobe` cells, and the survivors are scored from
    their PQ codes via the ADC lookup table — so the query-time scan
    touches only (vec_id, cid, codes) rows, never a float vector; floats
    exist only in the broadcast/driver-side centroid + codebook tables
    and the query itself.

    Defaults build both quantizers deterministically (ivf_topk's
    smallest-vec_id centroids, pq_train's seed codebook); pass trained
    tables for recall.  Plan shape: one cell-assign + encode projection
    per corpus row (map-side against broadcast/literal tables), a
    broadcast probe semi-join, m literal-array lookups per candidate,
    TakeOrderedAndProject top-k.  `arrow=True` runs assignment and
    encoding as BLAS kernels (the semdedup gears; same results,
    A/B-pinned)."""
    d = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    cents = centroids if centroids is not None else d.orderBy("vec_id").limit(
        ncent
    ).select(F.col("vec_id").cast("long").alias("cid"), F.col("v").alias("cv"))
    cb = codebook if codebook is not None else pq_train(emb, m, ksub)
    arrow = _resolve_arrow(arrow, d, n_rows)
    cells = (_assign_cells_arrow if arrow else _assign_cells)(d, cents).select(
        "vec_id", "cid"
    )
    codes = pq_encode(emb, cb, arrow=arrow)
    probes = (
        d.filter(F.col("vec_id") == query_vec_id)
        .crossJoin(F.broadcast(cents))
        .select(
            "cid",
            (
                _dot(F.col("v"), F.col("cv"))
                / (_norm(F.col("v")) * _norm(F.col("cv")))
            ).alias("csim"),
        )
        .orderBy(F.col("csim").desc(), F.col("cid").asc())
        .limit(nprobe)
        .select(F.col("cid").alias("pcid"))
    )
    cos = _adc_cos_expr(cb, emb, query_vec_id)
    return (
        codes.join(cells, "vec_id")
        .join(F.broadcast(probes), F.col("cid") == F.col("pcid"))
        .filter(F.col("vec_id") != query_vec_id)
        .select("vec_id", cos.alias("cos"))
        .filter(F.col("cos").isNotNull() & ~F.isnan("cos"))
        .orderBy(F.col("cos").desc(), F.col("vec_id").asc())
        .limit(k)
        .select("vec_id", F.round("cos", 6).alias("cos"))
    )


def build_ivf_index(
    emb: DataFrame,
    path: str,
    ncent: int = 16,
    train_iters: int = 0,
    pq_m: int | None = None,
    pq_ksub: int = 16,
    arrow: bool | str = "auto",
    n_rows: int | None = None,
) -> None:
    """Materialize the IVF index: centroids (tiny) + the corpus
    partitioned BY CELL on disk.  At 100 TB the cell assignment is the
    expensive pass (one scan x ncent dot products); building once and
    querying many is the only sane economics — `ivf_topk` recomputes it
    per query and exists as the ad-hoc/correctness path.

    Layout: `<path>/cells/cid=<k>/...` — a probe reads ONLY its nprobe
    cell directories (partition pruning, the same mechanism as the
    time-series day layout); `<path>/centroids/` holds the quantizer.

    `pq_m` additionally trains a product-quantization codebook
    (`<path>/codebook`) and stores each vector's PQ `codes` in its cell
    row — `ivf_pq_topk_indexed` then answers queries from the pruned
    cell dirs reading ONLY (vec_id, codes): the persisted form of the
    full IVF-PQ economics (float vectors written once at build, never
    read again by queries)."""
    from redistimeseries_spark.pipeline.retrieval import BATCH_BUILT_ID

    d = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    if train_iters > 0:
        cents = train_centroids(emb, ncent, train_iters)
    else:
        cents = d.orderBy("vec_id").limit(ncent).select(
            F.col("vec_id").cast("long").alias("cid"), F.col("v").alias("cv")
        )
    cents.write.mode("overwrite").parquet(f"{path}/centroids")
    cents = emb.sparkSession.read.parquet(f"{path}/centroids")
    arrow = _resolve_arrow(arrow, d, n_rows)
    rows = (_assign_cells_arrow if arrow else _assign_cells)(d, cents).drop("vn")
    if pq_m is not None:
        cb = pq_train(emb, pq_m, pq_ksub, iters=train_iters)
        cb.write.mode("overwrite").parquet(f"{path}/codebook")
        cb = emb.sparkSession.read.parquet(f"{path}/codebook")
        rows = rows.join(pq_encode(emb, cb, arrow=arrow), "vec_id")
    # sentinel batch_id keeps the cells schema UNIFORM when the store is
    # later extended by IVFIndexStream (same hazard + fix as
    # retrieval.build_text_index: mixed-schema inference either dropped
    # every batch-built vector from queries or skipped commit filtering)
    rows = rows.withColumn("batch_id", F.lit(BATCH_BUILT_ID))
    rows.write.mode("overwrite").partitionBy("cid").parquet(f"{path}/cells")
    emb.sparkSession.createDataFrame(
        [(BATCH_BUILT_ID,)], "batch_id long"
    ).write.mode("overwrite").parquet(f"{path}/batches")
    from redistimeseries_spark.pipeline.retrieval import _clear_stream_state

    _clear_stream_state(emb.sparkSession, path)
    _touch(emb.sparkSession, f"{path}/_batch_built")


def ivf_pq_topk_indexed(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 20,
    nprobe: int = 4,
) -> DataFrame:
    """(vec_id, cos) — ADC top-k against a `build_ivf_index(pq_m=...)`
    store.  The coarse search resolves driver-side against the tiny
    centroid table (O(ncent), like ivf_topk_indexed), the scan carries a
    `cid IN (...)` partition filter, and scoring is the literal-LUT ADC
    expression — the query reads only (vec_id, codes) from nprobe/ncent
    of the index directories and touches no float vector at all."""
    cents = spark.read.parquet(f"{path}/centroids").collect()
    qn = sum(x * x for x in query_vec) ** 0.5

    def cos(cv):
        num = sum(x * y for x, y in zip(query_vec, cv))
        nc = sum(x * x for x in cv) ** 0.5
        return num / (qn * nc) if qn and nc else float("-inf")

    probed = [
        cid
        for _, cid in sorted(
            ((cos(r.cv), r.cid) for r in cents),
            key=lambda t: (-t[0], t[1]),
        )[:nprobe]
    ]
    cb = _pq_codebook_rows(spark.read.parquet(f"{path}/codebook"))
    d = _read_cells(spark, path).filter(F.col("cid").isin(probed))
    d = _committed_cells(spark, path, d)
    score = _adc_cos_from_qv(cb, [float(x) for x in query_vec])
    return (
        d.select("vec_id", score.alias("cos"))
        .filter(F.col("cos").isNotNull() & ~F.isnan("cos"))
        .orderBy(F.col("cos").desc(), F.col("vec_id").asc())
        .limit(k)
        .select("vec_id", F.round("cos", 6).alias("cos"))
    )


class IVFIndexStream:
    """foreachBatch target maintaining a `build_ivf_index` store
    INCREMENTALLY: each micro-batch assigns its vectors against the
    FROZEN coarse quantizer and appends them to their cell partitions —
    the corpus is never rescanned as it streams in (the TextIndexStream
    economics applied to the vector index; production IVF systems do
    exactly this — centroids stay fixed between periodic retrains, which
    are a rebuild).  Centroids bootstrap deterministically from the first
    batch (embeddings of its `ncent` smallest vec_ids) when the store is
    empty, so the stream stands alone or extends a batch-built index.

    At-least-once safety mirrors TextIndexStream: every appended cell row
    carries its batch_id, the completed-batch marker is written LAST, and
    readers keep only committed rows and distinct() replay duplicates.
    The centroid bootstrap is an idempotent overwrite (deterministic from
    the same batch), so a replay can't fork the quantizer.

    PQ maintenance: when the store has a codebook (built by
    `build_ivf_index(pq_m=...)`), each batch's vectors are PQ-encoded
    against that FROZEN codebook and the codes ride in the appended cell
    rows — `ivf_pq_topk_indexed` keeps its codes-only scan over the
    whole hybrid store.  Frozen-codebook encode is the same production
    convention as the frozen coarse quantizer: retrains are a rebuild."""

    def __init__(
        self,
        spark,
        path: str,
        ncent: int = 16,
        compact_every: int | None = None,
        compact_max_files: int | None = None,
    ):
        """`compact_every=N` compacts the store after every Nth
        committed batch (store_files._maybe_compact — the stream is the
        only writer inside process_batch, so the maintenance pass's
        quiesced-writer precondition holds by construction);
        `compact_max_files=N` triggers on total data-file count instead
        (either firing compacts)."""
        import os

        self.spark, self.path, self.ncent = spark, path, ncent
        self.compact_every = compact_every
        self.compact_max_files = compact_max_files
        self._compact_floor = None
        self._store_checked = False
        os.makedirs(path, exist_ok=True)

    def _check_store(self) -> None:
        """Sentinel-schema guard (retrieval._require_sentinel_store)."""
        from redistimeseries_spark.pipeline.retrieval import (
            _require_sentinel_store,
        )

        if self._store_checked:
            return
        _require_sentinel_store(
            self.spark, self.path, "cells", "build_ivf_index"
        )
        self._store_checked = True

    def _centroids(self, d: DataFrame) -> DataFrame:
        cents = read_state(
            self.spark, self.path, "centroids", "cid long, cv array<double>"
        )
        if not cents.take(1):
            (
                d.orderBy("vec_id")
                .limit(self.ncent)
                .select(
                    F.col("vec_id").cast("long").alias("cid"),
                    F.col("v").alias("cv"),
                )
                .write.mode("overwrite")
                .parquet(f"{self.path}/centroids")
            )
            cents = self.spark.read.parquet(f"{self.path}/centroids")
        return cents

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        recover(self.spark, self.path, INDEX_TABLES)
        self._check_store()
        # monotone stream marker BEFORE any append (see TextIndexStream)
        _touch(self.spark, f"{self.path}/_streamed")
        done = read_state(self.spark, self.path, "batches", "batch_id long")
        if done.filter(F.col("batch_id") == batch_id).take(1):
            return
        d = batch.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
        cents = self._centroids(d)
        rows = _assign_cells(d, cents).drop("vn")
        if _path_exists(self.spark, f"{self.path}/codebook"):
            # PQ store: encode against the frozen codebook so the hybrid
            # store's codes column stays total (deterministic, so a
            # replay re-encodes identically and collapses on read).
            # pq_encode's arrow="auto" adds one bounded count job per
            # batch to pick the kernel — negligible next to the batch's
            # write jobs, and a kernel flip across batches is harmless
            # (codes are A/B-pinned equal)
            cb = self.spark.read.parquet(f"{self.path}/codebook")
            codes = pq_encode(
                d.select("vec_id", F.col("v").alias("embedding")), cb
            )
            rows = rows.join(codes, "vec_id")
        (
            rows.withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .partitionBy("cid")
            .parquet(f"{self.path}/cells")
        )
        self.spark.createDataFrame([(batch_id,)], "batch_id long").write.mode(
            "append"
        ).parquet(f"{self.path}/batches")
        from redistimeseries_spark.pipeline.retrieval import _maybe_compact_index

        _maybe_compact_index(self, batch_id)


def _read_cells(spark, path: str) -> DataFrame:
    """Read `<path>/cells` with the legacy-mixed-schema rescue
    (retrieval._read_index_rows — the shared sentinel-store machinery)."""
    from redistimeseries_spark.pipeline.retrieval import _read_index_rows

    return _read_index_rows(spark, path, "cells")


def _committed_cells(spark, path: str, d: DataFrame) -> DataFrame:
    """Neutralize uncommitted/replayed rows of a streamed index slice:
    keep rows whose batch committed, collapse byte-identical replay
    duplicates.  Pure batch-built indexes (no batch_id column anywhere)
    pass through; NULL batch_id rows are legacy batch-built rows
    surfacing through a merged schema — committed by construction (a
    batch build is an atomic overwrite).  Batch-only stores (sentinel
    rows, `_batch_built` marker, never stream-touched) skip the joins
    entirely — every row is committed by construction, and the probe
    path's latency floor is broadcast-build-bound."""
    if "batch_id" not in d.columns:
        return d
    from redistimeseries_spark.pipeline.retrieval import _needs_commit_filtering

    if not _needs_commit_filtering(spark, path):
        return d.drop("batch_id")
    done = read_state(spark, path, "batches", "batch_id long")
    # ONE scan: broadcast LEFT join against the committed set (a
    # semi-join + null-branch self-union would plan the slice twice)
    return (
        d.join(
            F.broadcast(done.withColumn("__c", F.lit(1))), "batch_id", "left"
        )
        .filter(F.col("batch_id").isNull() | F.col("__c").isNotNull())
        .drop("__c")
        .dropDuplicates(["vec_id"])
        .drop("batch_id")
    )


def ivf_topk_indexed(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 20,
    nprobe: int = 4,
) -> DataFrame:
    """(vec_id, cos) — top-k against a build_ivf_index store.  The
    query's nprobe cells resolve driver-side against the tiny centroid
    table (the IVF coarse search is O(ncent), never distributed), and
    the scan carries a `cid IN (...)` partition filter — only nprobe/
    ncent of the index directories are read at all."""
    cents = spark.read.parquet(f"{path}/centroids").collect()

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        na = sum(x * x for x in a) ** 0.5
        nb = sum(x * x for x in b) ** 0.5
        return num / (na * nb) if na and nb else 0.0

    probes = sorted(
        ((cos(query_vec, r.cv), -r.cid) for r in cents), reverse=True
    )[:nprobe]
    cids = [-n for _, n in probes]
    d = _committed_cells(
        spark, path, _read_cells(spark, path).filter(F.col("cid").isin(cids))
    )
    qn = sum(x * x for x in query_vec) ** 0.5
    qcol = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = d.select(
        "vec_id",
        (_dot(F.col("v"), qcol) / (_norm(F.col("v")) * F.lit(qn))).alias("cos"),
    )
    return (
        scored.orderBy(F.col("cos").desc(), F.col("vec_id").asc())
        .limit(k)
        .select("vec_id", F.round("cos", 6).alias("cos"))
    )


def semdedup(
    emb: DataFrame,
    threshold: float = 0.95,
    ncent: int = 16,
    centroids: DataFrame | None = None,
    arrow: bool | str = "auto",
    n_rows: int | None = None,
) -> DataFrame:
    """(vec_id, cid, dup_of) — semantic dedup over an embedding column
    (SemDeDup, Abbas et al. 2023, arXiv:2303.09540): partition the
    embedding space with the coarse quantizer, compute pairwise cosines
    WITHIN each cell only, and mark a vector a duplicate when an earlier
    cell-mate sits at-or-above the threshold.  `dup_of` is the smallest
    such mate's vec_id (NULL for keepers) — filter `dup_of IS NULL` for
    the pruned corpus.  Keep-smallest-id is the deterministic stand-in
    for the paper's keep-one-per-epsilon-cluster rule, which is what
    makes the SQL oracle gate possible.

    Scale shape — the whole point of SemDeDup's design: the quadratic
    pairwise pass is bounded PER CELL (sum of cell_size^2, never
    corpus^2), and `ncent` is the production lever that keeps cells
    shuffle-partition-sized at 100 TB.  One broadcast assign (scan +
    map-side argmax agg, no window), one cid-keyed self-join, one
    (vec_id) min-aggregate.

    Default centroids are the `ncent` embeddings FIRST IN md5(vec_id)
    ORDER — deterministic and oracle-replicable like ivf_topk's
    smallest-id convention, but hash-spread across the corpus: id-ordered
    seeds degenerate catastrophically when consecutive ids are
    near-duplicates (exactly the corpus a dedup runs on — 256 seeds
    collapsing to ~6 directions turns cells, and the quadratic
    within-cell pass, corpus-sized).  Pass
    `centroids=train_centroids(...)` for Lloyd-trained cells (better
    balance still, same plan).

    `arrow=True` swaps both hot passes for numpy kernels — one BLAS
    matmul per Arrow batch for assignment, one |cell|^2 matmul per cell
    for the pairwise pass (applyInPandas) — ~5x at probe scale with
    BLAS-ordered (vs fold-ordered) float sums; the expression path stays
    the oracle-gated small-input path and the A/B pytest pins 6dp
    equality.  The default "auto" selects the kernel by input size
    (ARROW_AUTO_THRESHOLD)."""
    if not 0.0 <= threshold <= 1.0:
        raise ValueError("threshold must lie in [0, 1]")
    d = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    arrow = _resolve_arrow(arrow, d, n_rows)
    cents = centroids if centroids is not None else d.orderBy(
        F.md5(F.col("vec_id").cast("string")), F.col("vec_id")
    ).limit(ncent).select(
        F.col("vec_id").cast("long").alias("cid"), F.col("v").alias("cv")
    )
    # the assignment pass (scan + nearest-centroid argmax over every
    # vector) is consumed twice — the unit-normalized pair frame and the
    # final dup_of left join — and re-aliased subtrees defeat exchange
    # reuse, so it is materialized once (plan-verified: two sort-merge
    # joins each re-running the assignment otherwise)
    assigned = (_assign_cells_arrow if arrow else _assign_cells)(
        d, cents
    ).transform(materialize)
    # normalize ONCE per row so the pairwise filter is a bare dot product
    # (an inlined norm would re-run an O(dim) aggregate per candidate pair)
    unit = assigned.select(
        "cid",
        "vec_id",
        F.transform("v", lambda x: x / F.col("vn")).alias("u"),
    ).localCheckpoint()
    if arrow:
        dups = _semdedup_pairs_arrow(unit, threshold)
    else:
        a = unit.select("cid", F.col("vec_id").alias("i"), F.col("u").alias("ui"))
        b = unit.select("cid", F.col("vec_id").alias("j"), F.col("u").alias("uj"))
        dups = (
            a.join(b, "cid")
            .filter(F.col("j") < F.col("i"))
            .filter(_dot(F.col("ui"), F.col("uj")) >= threshold)
            .groupBy("i")
            .agg(F.min("j").alias("dup_of"))
        )
    return (
        assigned.join(dups, assigned.vec_id == dups.i, "left")
        .select("vec_id", "cid", "dup_of")
        .orderBy("vec_id")
    )


def _assign_cells_arrow(d: DataFrame, cents: DataFrame) -> DataFrame:
    """Arrow twin of _assign_cells: the centroid table (ncent x dim,
    catalog-sized by construction) collects to a numpy matrix and each
    Arrow batch scores against it with ONE BLAS matmul instead of
    ncent interpreted aggregate() folds per vector — the minhash-kernel
    treatment (~5x on the 100k-vector probe).  Same argmax tie-break
    (highest csim, then smallest cid: centroid rows are sorted by cid, and
    np.argmax returns the first maximum).  Float sums are BLAS-ordered,
    not fold-ordered, so results can differ from the expression path in
    the last ulp — the A/B pytest pins equality at 6dp."""
    import numpy as np
    import pandas as pd

    crows = sorted((r.cid, r.cv) for r in cents.collect())
    C = np.array([cv for _, cv in crows], dtype=np.float64)
    cids = np.array([cid for cid, _ in crows], dtype=np.int64)
    cn = np.sqrt((C * C).sum(axis=1))
    cn[cn == 0] = np.nan  # zero centroid: csim NaN, never the argmax

    def fn(batches):
        for pdf in batches:
            V = np.array(pdf["v"].tolist(), dtype=np.float64)
            vn = np.sqrt((V * V).sum(axis=1))
            sims = (V @ C.T) / (np.where(vn == 0, np.nan, vn)[:, None] * cn[None, :])
            best = np.nanargmax(
                np.where(np.isnan(sims), -np.inf, sims), axis=1
            )
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "v": pdf["v"],
                    "vn": vn,
                    "cid": cids[best],
                }
            )

    return d.mapInPandas(fn, "vec_id long, v array<double>, vn double, cid long")


def _semdedup_pairs_arrow(unit: DataFrame, threshold: float) -> DataFrame:
    """(i, dup_of) via one |cell| x |cell| matmul per cell inside
    applyInPandas — replaces the cid self-join + per-pair interpreted dot.
    Memory is |cell|^2 per group, which is exactly the quantity `ncent`
    exists to bound (the operator docstring's lever)."""
    import numpy as np
    import pandas as pd

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        U = np.array(pdf["u"].tolist(), dtype=np.float64)
        S = U @ U.T
        n = len(pdf)
        hit = (S >= threshold) & np.tril(np.ones((n, n), dtype=bool), k=-1)
        has = hit.any(axis=1)
        first = hit.argmax(axis=1)  # smallest j: rows sorted by vec_id
        ids = pdf["vec_id"].to_numpy()
        return pd.DataFrame(
            {"i": ids[has], "dup_of": ids[first[has]]}
        )

    return unit.groupBy("cid").applyInPandas(fn, "i long, dup_of long")


class SemDedupStream:
    """foreachBatch target running SemDeDup INCREMENTALLY: each
    micro-batch dedups against everything already ACCEPTED without
    rescanning it (the DedupStream economics applied to embeddings —
    state is one unit vector per accepted embedding, cell-partitioned,
    never the corpus).  The coarse quantizer freezes at first-batch
    bootstrap (md5-order seeds, the semdedup convention), so cell ids are
    stable for the life of the store; periodic retrains are a rebuild,
    exactly like IVFIndexStream.

    Per batch: assign to cells -> candidate pairs = (batch x accepted
    store) + (batch x earlier-in-batch), both cid-keyed joins on unit
    vectors (bare dot >= threshold) -> dup_of = smallest candidate ->
    KEEPERS append to the cell store; every vector's verdict appends to
    a decisions log.  Keeps-first-ARRIVED: a later batch's smaller
    vec_id defers to an already-accepted larger one (the order-dependence
    every streaming dedup has; batch semdedup on the union keeps the
    smallest id instead).

    At-least-once safety is the TextIndexStream/IVFIndexStream
    discipline verbatim: cell rows carry batch_id, the marker is written
    LAST, readers semi-join the committed-batch set and
    dropDuplicates(vec_id) — crash-orphaned rows invisible, replay
    duplicates collapse, decisions deduplicate on read because verdicts
    are deterministic."""

    CELL_SCHEMA = "cid long, vec_id long, u array<double>, batch_id long"
    DECISION_SCHEMA = "vec_id long, status string, dup_of long"

    def __init__(self, spark, path: str, threshold: float = 0.95,
                 ncent: int = 16, compact_every: int | None = None,
                 compact_max_files: int | None = None):
        import os

        if not 0.0 <= threshold <= 1.0:
            raise ValueError("threshold must lie in [0, 1]")
        self.spark, self.path = spark, path
        self.threshold, self.ncent = threshold, ncent
        self.compact_every = compact_every
        self.compact_max_files = compact_max_files
        self._compact_floor = None
        os.makedirs(path, exist_ok=True)

    def _centroids(self, d: DataFrame) -> DataFrame:
        cents = read_state(
            self.spark, self.path, "centroids", "cid long, cv array<double>"
        )
        if not cents.take(1):
            (
                d.orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
                .limit(self.ncent)
                .select(
                    F.col("vec_id").cast("long").alias("cid"),
                    F.col("v").alias("cv"),
                )
                .write.mode("overwrite")
                .parquet(f"{self.path}/centroids")
            )
            cents = self.spark.read.parquet(f"{self.path}/centroids")
        return cents

    def accepted(self) -> DataFrame:
        """Committed, replay-collapsed accepted vectors (cid, vec_id, u)."""
        done = read_state(self.spark, self.path, "batches", "batch_id long")
        return (
            read_state(self.spark, self.path, "cells", self.CELL_SCHEMA)
            .join(F.broadcast(done), "batch_id", "left_semi")
            .dropDuplicates(["vec_id"])
            .drop("batch_id")
        )

    def decisions(self) -> DataFrame:
        return read_state(
            self.spark, self.path, "decisions", self.DECISION_SCHEMA
        ).distinct()

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        recover(self.spark, self.path, INDEX_TABLES)
        done = read_state(self.spark, self.path, "batches", "batch_id long")
        if done.filter(F.col("batch_id") == batch_id).take(1):
            return
        d = batch.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
        cents = self._centroids(d)
        assigned = _assign_cells(d, cents)
        unit = assigned.select(
            "cid",
            "vec_id",
            F.transform("v", lambda x: x / F.col("vn")).alias("u"),
        ).localCheckpoint()
        # committed-only store: own crash-orphaned rows from a previous
        # attempt at THIS batch are uncommitted too, so the semi-join
        # alone restores replay determinism
        stored = self.accepted().select(
            "cid", F.col("vec_id").alias("cand"), F.col("u").alias("uc")
        )
        cand_store = (
            unit.join(stored, "cid")
            .filter(_dot(F.col("u"), F.col("uc")) >= self.threshold)
            .select("vec_id", "cand")
        )
        a = unit.select("cid", "vec_id", "u")
        b = unit.select(
            "cid", F.col("vec_id").alias("cand"), F.col("u").alias("uc")
        )
        cand_batch = (
            a.join(b, "cid")
            .filter(F.col("cand") < F.col("vec_id"))
            .filter(_dot(F.col("u"), F.col("uc")) >= self.threshold)
            .select("vec_id", "cand")
        )
        dups = (
            cand_store.unionByName(cand_batch)
            .groupBy("vec_id")
            .agg(F.min("cand").alias("dup_of"))
        )
        decisions = (
            unit.join(dups, "vec_id", "left")
            .select(
                "vec_id",
                F.when(F.col("dup_of").isNotNull(), F.lit("near_dup"))
                .otherwise(F.lit("kept"))
                .alias("status"),
                "dup_of",
            )
            .localCheckpoint()
        )
        kept = decisions.filter(F.col("status") == "kept").select("vec_id")
        (
            unit.join(kept, "vec_id")
            .select("cid", "vec_id", "u")
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .partitionBy("cid")
            .parquet(f"{self.path}/cells")
        )
        decisions.write.mode("append").parquet(f"{self.path}/decisions")
        self.spark.createDataFrame([(batch_id,)], "batch_id long").write.mode(
            "append"
        ).parquet(f"{self.path}/batches")
        from redistimeseries_spark.pipeline.retrieval import _maybe_compact_index

        _maybe_compact_index(self, batch_id)
