"""Deduplication operators for training-data pipelines.

All hashing is md5-based so the Spark plans and the DuckDB oracles compute
bit-identical signatures (no engine-private hash functions).

Scale shapes:
  * exact       — one groupBy on the content hash; map-side partial agg.
  * minhash LSH — shingle explode -> per-(doc, hashfn) min -> band keys ->
                  self-join on band bucket.  The band join replaces the
                  O(n^2) pairwise compare with a join keyed on equal band
                  signatures; buckets above `max_bucket` (giant
                  near-identical clusters) switch to star expansion — each
                  member pairs with the bucket's min doc_id only, so output
                  stays linear while connected-components still recovers
                  the full cluster.  AQE skew-join handles partition-level
                  stragglers below the cap.
  * simhash     — token explode -> 64 weighted-bit sums -> fingerprint;
                  near-dups = fingerprints at small Hamming distance (the
                  bucket key here is the fingerprint itself).
  * ngram jaccard — shingle-join candidate pairs + exact Jaccard verify,
                  the verify runs only on pairs sharing >=1 shingle; grams
                  shared by more than `max_doc_freq` docs are cut before
                  the self-join (the standard df-cut — one boilerplate gram
                  otherwise makes the candidate join quadratic on its key).
  * embedding   — cosine pairs within a coarse bucket (label / LSH sign
                  bits), avoiding the all-pairs product.
"""

from __future__ import annotations

from pyspark.errors import PySparkNotImplementedError
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from redistimeseries_spark.materialize import materialize
from pyspark.sql import types as T

# ---- shared tokenization (identical text in Spark SQL and DuckDB) --------
WORD_RE = "[^a-z0-9]+"


def _words(col: str = "text"):
    return F.array_remove(F.split(F.lower(F.col(col)), WORD_RE), "")


def _widen(docs: DataFrame, key: str = "doc_id") -> DataFrame:
    """Repartition `docs` by `key` to the session shuffle width when it
    has fewer partitions — a parallelism floor for the interpreted
    per-doc passes (shingling, tokenize) that otherwise run at the
    input's partitioning (a corpus unioned from a few small scans runs
    them near-serially).  A no-op at scale, where scans carry many
    splits.  The partition-count check inspects `docs.rdd`, which is
    free for scan-rooted inputs; a shuffle-rooted input pays one
    upstream materialization for it."""
    spark = docs.sparkSession
    try:
        width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        width = spark.sparkContext.defaultParallelism
    try:
        if docs.rdd.getNumPartitions() < width:
            return docs.repartition(width, F.col(key))
    except PySparkNotImplementedError:
        pass  # Spark Connect has no `.rdd`: keep the input partitioning
    return docs


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct text with the keeper
    (min doc_id) and the duplicate count."""
    return (
        docs.select(F.md5(F.col("text")).alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("keeper"),
            F.count(F.lit(1)).cast("long").alias("n_copies"),
        )
    )


def duplicate_span_stats(
    docs: DataFrame, w: int = 64, stride: int = 16, min_df: int = 2
) -> DataFrame:
    """(doc_id, n_windows, dup_windows, dup_frac) — the EXACT-SUBSTRING
    duplication signal of Lee et al. 2021 ("Deduplicating Training Data
    Makes Language Models Better"): strided `w`-char windows of the
    normalized text (lowercased, whitespace-collapsed — the fingerprints
    convention) are fingerprinted, and a window whose fingerprint occurs
    at least `min_df` times ANYWHERE in the corpus (other docs or a
    repeat inside the same doc) marks a duplicated span.  `dup_frac` is
    the fraction of a doc's windows that are duplicated — the drop /
    trim decision threshold; docs shorter than `w` contribute their
    whole text as one window, so verbatim short copies still register.

    Suffix arrays don't distribute; strided fingerprint windows are the
    standard scalable approximation (miss bound: a duplicated run
    shorter than w + stride - 1 chars can fall between windows).

    Scale shape: one map-side projection builds each doc's window
    array (md5 of w chars per window, stride bounds the volume at
    ~len/stride rows), then ONE (fingerprint) count aggregate and ONE
    (doc_id) rollup — all partial-aggregatable keyed work, no windows,
    no self-join, nothing driver-side."""
    if w <= 0 or stride <= 0:
        raise ValueError("w and stride must be positive")
    if min_df < 2:
        raise ValueError("min_df must be >= 2")
    nt = docs.select(
        "doc_id",
        F.regexp_replace(F.lower(F.col("text")), "\\s+", " ").alias("nt"),
    )
    wins = F.expr(
        f"transform(sequence(1, greatest(length(nt) - {w} + 1, 1), {stride}),"
        f" i -> md5(substring(nt, i, {w})))"
    )
    # materialized once: the window-fingerprint projection (one md5 per
    # strided window — the expensive stage) is consumed by the document-
    # frequency count, the dup join AND the final per-doc spine; without
    # this each consumer recomputes every window hash (re-aliased
    # subtrees defeat exchange reuse — the LSH band-table failure).
    spine = nt.select("doc_id", wins.alias("__w")).select(
        "doc_id", "__w", F.size("__w").cast("long").alias("n_windows")
    ).transform(materialize)
    ex = spine.select("doc_id", F.explode("__w").alias("fp"))
    cnt = ex.groupBy("fp").agg(F.count(F.lit(1)).alias("__c"))
    dup = (
        ex.join(cnt, "fp")
        .filter(F.col("__c") >= min_df)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("dup_windows"))
    )
    return (
        spine.select("doc_id", "n_windows")
        .join(dup, "doc_id", "left")
        .select(
            "doc_id",
            "n_windows",
            F.coalesce("dup_windows", F.lit(0)).alias("dup_windows"),
            F.round(
                F.coalesce("dup_windows", F.lit(0))
                / F.greatest("n_windows", F.lit(1)),
                6,
            ).alias("dup_frac"),
        )
    )


def substring_contaminated(
    train: DataFrame,
    eval_docs: DataFrame,
    w: int = 50,
    stride: int = 16,
    min_hits: int = 1,
) -> DataFrame:
    """(doc_id, contaminated_windows, contaminated) — GPT-style
    EXACT-SUBSTRING decontamination (the "50-character overlap" rule):
    a training doc is contaminated when at least `min_hits` of its
    strided `w`-char windows occur VERBATIM anywhere in the evaluation
    corpus.  The eval side is indexed at STRIDE 1 — every w-substring of
    every eval doc — so a train window matches iff its exact content
    appears in eval (no alignment miss on the eval side; the train
    stride only bounds detection to shared spans of at least
    w + stride - 1 chars, the duplicate_span_stats bound).  Both sides
    share the fingerprints normalization (lowercase, whitespace
    collapsed).  The trio: decontaminate (word n-gram), cross_contaminated
    (fuzzy MinHash), this (exact substring — robust to tokenization).

    Scale shape: eval sets are KBs-to-MBs against a 100 TB corpus, so
    the stride-1 eval fingerprint set (|eval chars| rows) distincts
    small and BROADCASTS; the train side is one strided map-side window
    projection probing it — no corpus shuffle beyond the per-doc count
    (partial-agg first), the decontaminate economics at substring
    granularity."""
    if w <= 0 or stride <= 0:
        raise ValueError("w and stride must be positive")
    if min_hits < 1:
        raise ValueError("min_hits must be >= 1")

    def _nt(df):
        return df.select(
            "doc_id",
            F.regexp_replace(F.lower(F.col("text")), "\\s+", " ").alias("nt"),
        )

    # window arrays are never null or empty by construction
    # (greatest(..., 1); null text folds to [NULL], whose NULL fp never
    # joins), so explode_outer is row-identical to explode WITHOUT the
    # inferred size()>0 filter that re-evaluates the whole interpreted
    # window transform below the exchange (see word_ngrams)
    ev = (
        _nt(eval_docs)
        .select(
            F.expr(
                f"transform(sequence(1, greatest(length(nt) - {w} + 1, 1)),"
                f" i -> md5(substring(nt, i, {w})))"
            ).alias("__w")
        )
        .select(F.explode_outer("__w").alias("fp"))
        .distinct()
    )
    tr = (
        _nt(_widen(train))
        .select(
            "doc_id",
            F.expr(
                f"transform(sequence(1, greatest(length(nt) - {w} + 1, 1), {stride}),"
                f" i -> md5(substring(nt, i, {w})))"
            ).alias("__w"),
        )
        .select("doc_id", F.explode_outer("__w").alias("fp"))
    )
    hits = (
        tr.join(F.broadcast(ev), "fp")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("contaminated_windows"))
    )
    return (
        train.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("contaminated_windows", F.lit(0)).alias(
                "contaminated_windows"
            ),
            (F.coalesce("contaminated_windows", F.lit(0)) >= min_hits).alias(
                "contaminated"
            ),
        )
    )


def char_shingles(docs: DataFrame, k: int = 5) -> DataFrame:
    """(doc_id, shingle) — distinct lowercased char k-grams."""
    # lowered text projected before the lambda: an inlined lower(text)
    # re-evaluates per element (O(len^2) per doc).  explode_outer:
    # shingle arrays are never null or empty by construction (null text
    # folds to [NULL], emitting the NULL shingle the plain explode also
    # emits), and a plain explode infers a size()>0 filter that
    # re-evaluates the transform below the exchange (see word_ngrams).
    return (
        docs.select("doc_id", F.lower(F.col("text")).alias("lt"))
        .select(
            "doc_id",
            F.expr(
                f"array_distinct(transform(sequence(1, greatest(length(lt) - {k - 1}, 1)),"
                f" i -> substring(lt, i, {k})))"
            ).alias("__sh"),
        )
        .select("doc_id", F.explode_outer("__sh").alias("shingle"))
        .distinct()
    )


# Universal-hash minhash: one md5 per distinct shingle; permutation h is the
# affine map (a_h * x + b_h) mod P over x = first 7 hex chars of md5(shingle)
# as an integer (28 bits, so a*x + b stays far below int64 — DuckDB errors on
# overflow where Spark would wrap).  P is the Mersenne prime 2^31 - 1.
MINHASH_P = 2_147_483_647


def minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_h, b_h) pairs, identical in query and oracle."""
    return [
        (
            (2654435761 * (h + 1)) % MINHASH_P or 1,
            (40503 * (h + 1) * 65537) % MINHASH_P,
        )
        for h in range(num_hashes)
    ]


def minhash_signatures(
    docs: DataFrame, num_hashes: int = 8, k: int = 5, arrow: bool = True
) -> DataFrame:
    """(doc_id, h, minhash) — minhash_h(doc) = min over shingles of
    (a_h * md5_28(shingle) + b_h) mod P.

    Scale shape: entirely map-side — one linear pass over the docs scan,
    no explode, no shuffle, output one row per (doc, h); the per-doc
    kernel is an Arrow-vectorized mapInPandas batch by default (see
    `_minhash_wide` for the measured 4.8x over the pure-expression form
    and the byte-identity argument; `arrow=False` keeps the UDF-free
    plan).  (The naive shape — explode shingles, distinct, md5 per
    (h, shingle), groupBy — shuffles |docs| x |shingles| x num_hashes
    rows and did not finish at 500k docs.)"""
    wide = _minhash_wide(docs, num_hashes, k, arrow=arrow)
    stack = ", ".join(f"{h}L, mh{h}" for h in range(num_hashes))
    return wide.select(
        "doc_id", F.expr(f"stack({num_hashes}, {stack}) AS (h, minhash)")
    )


def _minhash_wide(
    docs: DataFrame, num_hashes: int, k: int, arrow: bool = True
) -> DataFrame:
    """(doc_id, mh0..mh{n-1}) — the minhash signature as WIDE columns.

    Default path: an Arrow-batched mapInPandas kernel.  This is the one
    place in the dedup family where the built-in-function rule inverts:
    the pure-expression form needs `num_hashes` array passes of
    interpreted lambda evaluation (higher-order functions never enter
    whole-stage codegen), ~20M interpreted evals on a 5k-doc batch —
    measured 3.6 s where the Arrow kernel takes 0.75 s (4.8x), because the
    permutation minima vectorize in numpy and the md5-per-shingle memoizes
    across the batch's repeated shingles.  Signatures are byte-identical
    (asserted in tests): the hash is the same
    conv(substring(md5(shingle),1,7),16,10) math, text is lowered
    JVM-SIDE before the exchange so Python never applies its own unicode
    lowering, and Python/UTF8String substring both slice code points.

    `arrow=False` keeps the pure-expression plan (fused shingle+hash
    transform, one pass, no array_distinct — min over a multiset equals
    min over its support) for deployments that must stay UDF-free.
    """
    # lowered JVM-side: identical semantics for both paths, and for the
    # expression path the projection keeps the lambda from re-evaluating
    # lower() per element (O(len^2) per doc)
    lowered = docs.select("doc_id", F.lower(F.col("text")).alias("lt"))
    coeffs = minhash_coeffs(num_hashes)
    if arrow:
        import hashlib

        import numpy as np
        import pandas as pd

        A = np.array([a for a, _ in coeffs], dtype=np.int64)[:, None]
        B = np.array([b for _, b in coeffs], dtype=np.int64)[:, None]

        def mh_batches(it):
            for pdf in it:
                memo: dict = {}  # per-batch: bounded by the batch's text

                def h28(s):
                    v = memo.get(s)
                    if v is None:
                        v = int(hashlib.md5(s.encode()).hexdigest()[:7], 16)
                        memo[s] = v
                    return v

                m = len(pdf)
                out = np.empty((m, num_hashes), dtype=np.int64)
                na = np.zeros(m, dtype=bool)
                for i, lt in enumerate(pdf["lt"]):
                    if lt is None:
                        na[i] = True  # expression path yields null minhash
                        continue
                    n = max(len(lt) - k + 1, 1)
                    xs = np.fromiter(
                        (h28(lt[j : j + k]) for j in range(n)),
                        dtype=np.int64,
                        count=n,
                    )
                    out[i] = ((A * xs + B) % MINHASH_P).min(axis=1)
                res = pd.DataFrame({"doc_id": pdf["doc_id"]})
                for h in range(num_hashes):
                    col = pd.array(out[:, h], dtype="Int64")
                    if na.any():
                        col[na] = pd.NA
                    res[f"mh{h}"] = col
                yield res

        schema = "doc_id long, " + ", ".join(
            f"mh{h} long" for h in range(num_hashes)
        )
        return lowered.mapInPandas(mh_batches, schema)

    hashed = F.expr(
        f"transform(sequence(1, greatest(length(lt) - {k - 1}, 1)),"
        f" i -> conv(substring(md5(substring(lt, i, {k})), 1, 7), 16, 10))"
    )
    d = lowered.select("doc_id", hashed.cast("array<long>").alias("__xs"))

    def _perm(a: int, b: int):
        return lambda x: (x * F.lit(a) + F.lit(b)) % F.lit(MINHASH_P)

    return d.select(
        "doc_id",
        *[
            F.array_min(F.transform(F.col("__xs"), _perm(a, b))).alias(f"mh{h}")
            for h, (a, b) in enumerate(coeffs)
        ],
    )


def _lsh_bands(
    docs: DataFrame, num_hashes: int, bands: int, k: int, arrow: bool = True
) -> DataFrame:
    """(doc_id, band, band_key) — LSH band keys, entirely map-side.
    Band keys fold from the wide signature columns: the former
    stack -> groupBy(doc_id, band) collect_list shape shuffled
    |docs| x num_hashes rows just to regroup columns that were already
    side by side in one row — this one never shuffles (sort_array keeps
    the key order-insensitive, as collect_list's arrival order was)."""
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands "
            f"({bands}): trailing hashes would be silently dropped, "
            "changing recall with no error"
        )
    rows = num_hashes // bands
    wide = _minhash_wide(docs, num_hashes, k, arrow=arrow)
    band_rows = ", ".join(
        f"{b}, concat_ws('|', sort_array(array("
        + ", ".join(f"mh{b * rows + r}" for r in range(rows))
        + ")))"
        for b in range(bands)
    )
    return wide.select(
        "doc_id", F.expr(f"stack({bands}, {band_rows}) AS (band, band_key)")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    num_hashes: int = 8,
    bands: int = 4,
    k: int = 5,
    max_bucket: int = 1024,
    arrow: bool = True,
) -> DataFrame:
    """Candidate near-duplicate pairs (doc_a < doc_b) sharing at least one
    LSH band (rows-per-band = num_hashes / bands).

    Buckets with more than `max_bucket` members — giant near-identical
    clusters (boilerplate pages, empty docs) — would emit O(m^2) pairs from
    the self-join; they switch to star expansion instead: every member
    pairs with the bucket's min doc_id only.  Output stays linear in bucket
    size and connected_components recovers exactly the same clusters, which
    is what the candidate pairs exist for."""
    from pyspark.sql import Window

    band = _lsh_bands(docs, num_hashes, bands, k, arrow=arrow)
    w = Window.partitionBy("band", "band_key")
    band = band.withColumn("__bsz", F.count(F.lit(1)).over(w)).withColumn(
        "__rep", F.min("doc_id").over(w)
    )
    # the banded table is consumed THREE times below (both self-join
    # sides + the star branch).  Exchange reuse does NOT deduplicate the
    # three subtrees — plan-verified: the MapInPandas minhash kernel
    # appears three times with zero ReusedExchange, because self-join
    # deduplication re-aliases one side and Python-UDF subtrees fail
    # canonical matching — so without this the WHOLE minhash pass (the
    # corpus scan, the Python kernel, the band exchange, the window) runs
    # three times per query: measured 3 x ~1.7 s concurrent stages at
    # sf0.1, and at 100 TB it would be three full corpus scans.  One
    # eager materialization of the |docs| x bands banded rows (the same
    # volume the exchange already wrote to shuffle disk) makes it run
    # once.
    band = band.transform(materialize)
    small = band.filter(F.col("__bsz") <= max_bucket)
    a = small.alias("a")
    b = small.alias("b")
    all_pairs = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.band_key") == F.col("b.band_key"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    star = band.filter(
        (F.col("__bsz") > max_bucket) & (F.col("doc_id") != F.col("__rep"))
    ).select(F.col("__rep").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    return all_pairs.union(star).distinct()


def cross_minhash_lsh_pairs(
    left: DataFrame,
    right: DataFrame,
    num_hashes: int = 8,
    bands: int = 4,
    k: int = 5,
    arrow: bool = True,
) -> DataFrame:
    """(left_id, right_id) — candidate near-duplicate pairs BETWEEN two
    corpora: the fuzzy analogue of exact decontamination (a train doc
    near-duplicating an eval doc escapes both md5 dedup and verbatim
    n-gram screens when a few words differ).  Each side computes its LSH
    band keys map-side (`_lsh_bands`); one equi-join on (band, band_key)
    proposes the pairs — never a cross product.  Feed the output to
    `ngram_jaccard_verify` (rename columns to doc_a/doc_b) for exact
    disposal, or use `cross_contaminated` when only the left-side
    verdict matters.

    Scale note: a band bucket with m left and n right members emits
    m x n rows here.  For the flag-only decision that explosion is
    avoidable — `cross_contaminated` semi-joins instead (linear).  For
    pair-level output it is the honest answer set; cut pathological
    buckets upstream (boilerplate/empty docs) with quality filters."""
    lb = _lsh_bands(left, num_hashes, bands, k, arrow=arrow).select(
        F.col("doc_id").alias("left_id"), "band", "band_key"
    )
    rb = _lsh_bands(right, num_hashes, bands, k, arrow=arrow).select(
        F.col("doc_id").alias("right_id"), "band", "band_key"
    )
    return lb.join(rb, ["band", "band_key"]).select("left_id", "right_id").distinct()


def cross_contaminated(
    left: DataFrame,
    right: DataFrame,
    num_hashes: int = 8,
    bands: int = 4,
    k: int = 5,
    arrow: bool = True,
    broadcast_right: bool = True,
) -> DataFrame:
    """(doc_id, contaminated) — one row per LEFT doc: true iff it shares
    at least one LSH band with ANY right-corpus doc (near-duplicate
    contamination screen; Brown et al.'s fuzzy train/test overlap check,
    done with minhash instead of verbatim 13-grams).

    Scale shape: the right side collapses to its DISTINCT (band,
    band_key) set — eval suites are tiny relative to a pre-training
    corpus, so that set broadcasts (`broadcast_right=False` for a big
    right corpus) — and the left bands probe it with a LEFT SEMI join:
    output stays one row per left doc, giant shared buckets never
    multiply rows."""
    lb = _lsh_bands(left, num_hashes, bands, k, arrow=arrow)
    rkeys = (
        _lsh_bands(right, num_hashes, bands, k, arrow=arrow)
        .select("band", "band_key")
        .distinct()
    )
    if broadcast_right:
        rkeys = F.broadcast(rkeys)
    hit = (
        lb.join(rkeys, ["band", "band_key"], "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("__hit", F.lit(True))
    )
    return (
        left.select("doc_id")
        .join(hit, "doc_id", "left")
        .select("doc_id", F.coalesce("__hit", F.lit(False)).alias("contaminated"))
    )


def _nibble(expr: str) -> str:
    return f"(instr('0123456789abcdef', {expr}) - 1)"


def simhash_expr_sql(bits: int = 64, tok: str = "tok") -> str:
    """SQL fragment: SUM over exploded tokens -> simhash fingerprint.
    Bit b uses hex digit b//4 of md5(token), bit b%4; each token occurrence
    votes +1/-1; bit set iff the sum is positive.  Valid in both Spark SQL
    and DuckDB (md5/substr/instr/floor arithmetic only).  bits=64 packs
    into a signed int64 — bit 63 is the sign bit, so its weight is the
    int64 minimum (two's complement; written as an expression because
    neither parser takes the literal directly)."""
    if not 1 <= bits <= 64:
        raise ValueError("simhash bits must be in [1, 64]")
    terms = []
    for b in range(bits):
        nib = _nibble(f"substr(md5({tok}), {b // 4 + 1}, 1)")
        bit = f"(CAST(floor({nib} / {2 ** (b % 4)}) AS INT) % 2)"
        weight = str(2**b) if b < 63 else "(-9223372036854775807 - 1)"
        terms.append(
            f"(CASE WHEN sum(CASE WHEN {bit} = 1 THEN 1 ELSE -1 END) > 0"
            f" THEN {weight} ELSE 0 END)"
        )
    return " + ".join(terms)


def simhash(docs: DataFrame, bits: int = 64, arrow: bool = True) -> DataFrame:
    """(doc_id, simhash) — 64-bit simhash over word tokens (16 bits
    collision-swamps at corpus scale: birthday bound ~2^8 docs).

    Default path: an Arrow/numpy kernel.  The expression form evaluates a
    `bits`-term CASE aggregate per token occurrence — 64 interpreted
    nibble/floor/mod subtrees per token (measured ~1.6 s for 500 docs at
    sf0.01-scale corpora, the per-token analogue of the PQ literal-fold
    finding); the kernel computes each DISTINCT token's 64-bit vote row
    once (per-batch memo — token frequency is Zipfian, so the memo hit
    rate is high) and reduces a doc to one (distinct-tokens x bits)
    int64 matvec.  The arithmetic is IDENTICAL: Python hashlib md5 over
    UTF-8 bytes == Spark md5, hex digit b//4 bit b%4 voting, strict
    `sum > 0` bit set, bit 63 carrying the int64-min two's-complement
    weight — fingerprints are byte-equal (pinned in tests).  Tokenization
    stays JVM-SIDE (the minhash-kernel discipline) so Python never
    applies its own lowering/regex.  Docs with no tokens emit no row on
    either path (explode drops them; the kernel skips them).
    `arrow=False` keeps the pure-expression aggregation, which remains
    the oracle-gated reference twin."""
    if arrow:
        if not 1 <= bits <= 64:
            raise ValueError("simhash bits must be in [1, 64]")
        import hashlib

        import numpy as np
        import pandas as pd

        tok_arrays = docs.select("doc_id", _words().alias("__toks"))
        nib_idx = np.arange(bits) // 4
        nib_shift = np.arange(bits) % 4
        # unsigned weights; bit 63's two's-complement sign weight is
        # applied at pack time
        pow_u = (np.uint64(1) << np.arange(bits, dtype=np.uint64))

        def sh_batches(it):
            for pdf in it:
                memo: dict = {}  # per-batch: bounded by the batch's vocab

                def tok_bits(t):
                    v = memo.get(t)
                    if v is None:
                        m = hashlib.md5(t.encode()).hexdigest()
                        nibs = np.fromiter(
                            (int(c, 16) for c in m[: (bits + 3) // 4]),
                            dtype=np.uint8,
                        )
                        v = ((nibs[nib_idx] >> nib_shift) & 1).astype(np.int64)
                        memo[t] = v
                    return v

                ids, fps = [], []
                for doc_id, toks in zip(pdf["doc_id"], pdf["__toks"]):
                    if toks is None or len(toks) == 0:
                        continue  # explode-drop parity
                    u, cnt = np.unique(np.asarray(toks, dtype=object), return_counts=True)
                    m = np.stack([tok_bits(t) for t in u])
                    # votes[b] = sum over occurrences of (+1 if bit else -1)
                    votes = 2 * (cnt @ m) - cnt.sum()
                    set_bits = votes > 0
                    uval = int(pow_u[set_bits].sum(dtype=np.uint64))
                    if bits == 64 and uval >= 1 << 63:
                        uval -= 1 << 64  # bit 63 = int64 min weight
                    ids.append(doc_id)
                    fps.append(uval)
                yield pd.DataFrame({"doc_id": ids, "simhash": fps}).astype(
                    {"simhash": "int64"}
                )

        out_schema = T.StructType(
            [docs.schema["doc_id"], T.StructField("simhash", T.LongType())]
        )
        return tok_arrays.mapInPandas(sh_batches, out_schema)
    toks = docs.select("doc_id", F.explode(_words()).alias("tok"))
    return toks.groupBy("doc_id").agg(
        F.expr(simhash_expr_sql(bits)).cast("long").alias("simhash")
    )


def simhash_hamming_pairs(
    docs: DataFrame, max_hamming: int = 3, bits: int = 64
) -> DataFrame:
    """(doc_a, doc_b, hamming) — near-duplicate pairs whose simhash
    fingerprints differ in at most `max_hamming` bits.

    Pigeonhole blocking (Manku et al., "Detecting Near-Duplicates for Web
    Crawling", WWW'07 — public algorithm): split the `bits`-bit
    fingerprint into max_hamming+1 contiguous segments; any pair within
    distance max_hamming agrees on at least one segment, so a self-join
    keyed on (segment index, segment value) proposes EVERY qualifying pair
    — the blocked join is exact, no recall loss — and `bit_count(a XOR b)`
    disposes.  Output is distinct pairs with doc_a < doc_b.

    Scale shape: the join is keyed on segment values, never all-pairs; a
    segment bucket's size is bounded by the number of docs sharing 16
    fingerprint bits — i.e. by near-identical-cluster size, the same hub
    population the LSH band cap handles.  AQE skew-join splits oversized
    buckets at runtime.
    """
    nb = max_hamming + 1
    width = bits // nb
    # materialized once: both self-join sides read the fingerprint frame,
    # and the simhash projection is the expensive stage (a bits-wide
    # interpreted aggregation over every token — measured seconds per 5k
    # docs); re-aliased subtrees defeat exchange reuse (the LSH band-table
    # failure), so without this it computes twice.  The frame is two
    # narrow columns per doc.
    sig = simhash(docs, bits).transform(materialize)
    seg_exprs = []
    for i in range(nb):
        lo = i * width
        w = width if i < nb - 1 else bits - lo
        mask = (1 << w) - 1
        seg_exprs.append(f"{i}, shiftrightunsigned(simhash, {lo}) & {mask}L")
    segs = sig.select(
        "doc_id",
        "simhash",
        F.expr(f"stack({nb}, {', '.join(seg_exprs)}) AS (seg, segval)"),
    )
    a, b = segs.alias("a"), segs.alias("b")
    return (
        a.join(
            b,
            (F.col("a.seg") == F.col("b.seg"))
            & (F.col("a.segval") == F.col("b.segval"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("__sha"),
            F.col("b.simhash").alias("__shb"),
        )
        .distinct()
        .withColumn("hamming", F.expr("bit_count(__sha ^ __shb)").cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def word_ngram_sets(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, gs) — each doc's distinct word n-grams as ONE array row.
    Entirely map-side (split / transform / array_distinct inside a single
    projection): no explode, no shuffle — the shape consumers that need
    per-doc gram SETS (Jaccard verify) want, skipping the
    explode -> groupBy(collect_set) round trip entirely."""
    # word array projected before the lambda: the inlined split would
    # re-evaluate per gram position (O(n_words^2) per doc)
    return docs.select(
        "doc_id",
        F.expr(f"array_remove(split(lower(text), '{WORD_RE}'), '')").alias("wa"),
    ).select(
        "doc_id",
        F.expr(
            f"array_distinct(transform(sequence(1, greatest(size(wa) - {n - 1}, 1)),"
            f" i -> concat_ws(' ', slice(wa, i, {n}))))"
        ).alias("gs"),
    )


def word_ngrams(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, gram) — distinct word n-grams, one row per gram.
    array_distinct already guarantees per-doc uniqueness, so the explode
    needs no distinct() after it — adding one would re-shuffle every gram
    row for nothing.

    explode_outer, not explode: a plain explode makes the optimizer infer
    a `size(gs) > 0` row filter and push it below any exchange into the
    scan, where it RE-EVALUATES the whole interpreted shingle transform a
    second time (measured: the corpus gram pass of the decontaminate
    family ran 4.2 s where the transform itself costs 0.4 s).  The gram
    array is never null or empty by construction (`greatest(..., 1)`
    keeps one element even for short docs, and a null/empty word array
    still folds to [''] through concat_ws), so the outer explode is
    row-for-row identical — including the '' gram a null-text doc
    produces — with no inferred filter to duplicate."""
    return word_ngram_sets(docs, n).select(
        "doc_id", F.explode_outer("gs").alias("gram")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.4,
    max_doc_freq: int = 10_000,
    heavy_df_floor: int = 64,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs that share >=1 gram.
    Returns (doc_a, doc_b, jaccard >= threshold).

    Scale shape: per-doc gram counts ride the gram rows through the
    self-join (no driver-side broadcast of a |docs|-row table; the joins
    that remain are key-partitioned and AQE picks their strategy), and
    grams shared by more than `max_doc_freq` documents are cut before the
    self-join — one boilerplate gram shared by millions of docs would
    otherwise make the candidate join quadratic on that key.  The cut
    removes the gram from both the intersection and the sizes, so the
    Jaccard stays exact over the retained gram vocabulary.

    HOT-GRAM SPLIT (exact — output is byte-identical): the candidate-join
    volume is sum(df^2) over retained grams, and a handful of
    high-but-under-the-cut df grams usually dominate it (measured on the
    planted-mutation corpus: 4 grams at df 5k-10k carried 175M of the
    203M join rows, almost all landing on pairs whose only overlap is
    that boilerplate).  The top <=64 retained grams by df (those with
    df >= `heavy_df_floor`) are therefore excluded from candidate
    GENERATION and instead ride every doc as one 64-bit membership mask:
    a pair found through any light gram adds `bit_count(hmask_a &
    hmask_b)` to its light-gram intersection count, which is exactly
    |shared heavy grams|.  Pairs sharing ONLY heavy grams satisfy
    jaccard <= min(h_a/sz_a, h_b/sz_b) (inter <= min(h_a, h_b) and
    union >= max(sz_a, sz_b)), so they can reach the threshold only when
    BOTH endpoints are "risky" (h_x >= threshold * sz_x — docs that are
    mostly hot boilerplate); risky docs get an exact array_intersect
    verify over their full gram sets, and the risky set is counted off
    the materialized per-doc frame so the sub-path is skipped entirely
    when empty (every corpus measured).  A degenerate threshold <= 0
    marks every doc risky and the sub-path degrades to the full heavy
    join — still exact, never lossy.

    The same bound gives the PPJoin length filter: jaccard >= t implies
    min(sz) >= t * max(sz), applied as a join predicate.

    PARALLELISM: the interpreted shingle pass and the candidate join run
    at the input's partitioning; a corpus assembled from a few small
    scans (or a unioned fixture) would run them near-serially, so inputs
    with fewer partitions than the session shuffle width are repartitioned
    by doc_id first (a no-op at scale, where scans carry many splits).
    The check inspects `docs.rdd`, which is free for scan-rooted inputs;
    a shuffle-rooted input pays one upstream materialization for it.
    """
    docs = _widen(docs)
    # the gram frame is consumed by the df aggregation, the per-doc
    # sizes/mask aggregation and both sides of the candidate self-join;
    # without materialization each consumer re-runs the doc scan +
    # tokenize + shingle — neither compile-time exchange reuse nor AQE's
    # stage cache deduplicates the re-aliased subtrees (the same failure
    # plan-verified on the LSH band table).  The checkpoint holds the
    # per-doc gram ARRAYS, not the exploded rows: exploding an inline
    # gram expression makes the planner push a `size(grams) > 0` filter
    # below the exchange into the scan, re-evaluating the whole
    # interpreted shingle transform a second time at the INPUT's
    # parallelism (measured 4.3 s vs 0.05 s for the explode alone at
    # sf0.1); exploding the materialized arrays is a cheap per-consumer
    # projection, and the array form is the more compact thing to store.
    gsets = word_ngram_sets(docs, n).transform(materialize)
    g = gsets.select("doc_id", F.explode("gs").alias("gram"))
    # gram document frequencies materialized once (vocabulary-sized):
    # consumed by the hot cut on every g2 consumer AND the driver-side
    # heavy-gram selection below.
    dfreq = (
        g.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("__df"))
        .transform(materialize)
    )
    hot = dfreq.filter(F.col("__df") > max_doc_freq).select("gram")
    g2 = g.join(hot, "gram", "left_anti")
    # top <=64 retained grams by df — the hot-key set handled specially.
    # Bounded collect (64 rows); deterministic tie-break on the gram text.
    heavy = [
        r.gram
        for r in dfreq.filter(
            (F.col("__df") <= max_doc_freq) & (F.col("__df") >= heavy_df_floor)
        )
        .orderBy(F.col("__df").desc(), "gram")
        .limit(64)
        .collect()
    ]
    if heavy:
        mask_entries = []
        for i, gram in enumerate(heavy):
            v = 1 << i
            if v >= 1 << 63:
                v -= 1 << 64  # bit 63 as the int64 sign bit
            mask_entries += [F.lit(gram), F.lit(v)]
        hmap = F.create_map(*mask_entries)
        hmask_agg = F.bit_or(
            F.coalesce(F.element_at(hmap, F.col("gram")), F.lit(0))
        )
    else:
        hmask_agg = F.max(F.lit(0))
    # per-doc (retained-gram count, heavy membership mask), materialized:
    # joined into both candidate sides and, when heavy grams exist, read
    # again for the risky-doc count — |docs| rows of three columns.
    docinfo = (
        g2.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("sz"), hmask_agg.alias("hmask"))
        .transform(materialize)
    )
    gl = g2
    if heavy:
        gl = gl.filter(F.element_at(hmap, F.col("gram")).isNull())
    gsz = gl.join(docinfo, "doc_id")
    a, b = gsz.alias("a"), gsz.alias("b")
    light = (
        a.join(
            b,
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # length filter: jaccard >= t implies min(sz) >= t * max(sz)
            & (F.col("a.sz") >= F.lit(threshold) * F.col("b.sz"))
            & (F.col("b.sz") >= F.lit(threshold) * F.col("a.sz")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(
            F.count(F.lit(1)).alias("__light"),
            F.first("a.sz").alias("sza"),
            F.first("b.sz").alias("szb"),
            F.first("a.hmask").alias("hma"),
            F.first("b.hmask").alias("hmb"),
        )
        .withColumn(
            "inter",
            F.col("__light") + F.expr("bit_count(hma & hmb)").cast("long"),
        )
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )
    if not heavy:
        return light
    risky = docinfo.filter(
        F.expr("bit_count(hmask)").cast("double")
        >= F.lit(threshold) * F.col("sz")
    )
    if risky.count() < 2:
        return light
    # exact verify for heavy-only pairs among risky docs: full gram sets
    # (light + heavy) so the intersection is over the same vocabulary as
    # the light path; pairs also found through a light gram produce the
    # identical row there, deduplicated by the final distinct.
    rdoc = risky.select("doc_id")
    rg = g2.join(rdoc, "doc_id", "left_semi")
    rh = rg.filter(F.element_at(hmap, F.col("gram")).isNotNull()).join(
        docinfo, "doc_id"
    )
    ra, rb = rh.alias("a"), rh.alias("b")
    rpairs = (
        ra.join(
            rb,
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.sz") >= F.lit(threshold) * F.col("b.sz"))
            & (F.col("b.sz") >= F.lit(threshold) * F.col("a.sz")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    rsets = rg.groupBy("doc_id").agg(F.collect_list("gram").alias("gs"))
    risky_out = (
        rpairs.join(
            rsets.select(F.col("doc_id").alias("doc_a"), F.col("gs").alias("ga")),
            "doc_a",
        )
        .join(
            rsets.select(F.col("doc_id").alias("doc_b"), F.col("gs").alias("gb")),
            "doc_b",
        )
        .withColumn("inter", F.size(F.array_intersect("ga", "gb")).cast("long"))
        .withColumn(
            "jaccard",
            F.col("inter") / (F.size("ga") + F.size("gb") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )
    return light.unionByName(risky_out).distinct()


def ngram_jaccard_verify(
    docs: DataFrame,
    pairs: DataFrame,
    n: int = 3,
    threshold: float = 0.4,
    with_containment: bool = False,
    broadcast_docs: int = 50_000,
    hashed_grams: bool = True,
    n_docs: int | None = None,
) -> DataFrame:
    """(doc_a, doc_b, jaccard[, containment]) — exact n-gram Jaccard
    restricted to the given candidate pairs.  with_containment adds
    |A∩B| / min(|A|, |B|): near 1.0 with a LOW jaccard means one doc is
    embedded in the other (quote, boilerplate wrapper, prefix crawl) —
    the standard one-sided signal symmetric Jaccard misses; such pairs
    pass the containment filter a curation pipeline applies even though
    they fail the jaccard one.  This is the scale path: a blocking stage
    (MinHash LSH, simhash segments) proposes candidates and this verify
    disposes — the gram self-join over the whole corpus that the
    standalone `ngram_jaccard_pairs` pays never happens.

    Shape: each doc's distinct grams collapse to ONE array row (one
    aggregation over the gram explode), the pair list joins that compact
    table twice on doc id, and the intersection runs JVM-side via
    array_intersect — so the joins move |pairs| + 2|docs| rows, never the
    |pairs| x grams-per-doc exploded intermediate (measured ~3x faster
    end-to-end at 100k docs with 20-dup clusters).  Candidate pairs sharing
    zero grams drop out below any threshold > 0.
    """
    # only docs that appear in a candidate pair need grams: at production
    # blocking selectivity (candidates << corpus) the semi-join prunes the
    # gram computation to the involved docs; when most docs are involved
    # it costs one broadcast-sized join against the pair list.  When the
    # CALLER already knows the corpus is bounded (`n_docs` — dedup_pipeline
    # reads it off its adaptive-collapse aggregate for free) the prune
    # cannot pay: every doc's gram set fits the broadcast anyway, so the
    # whole prune apparatus — the pair-list materialization pass, the
    # distinct cand-doc count job, and the per-side semi-join — is skipped
    # and the propose chain fuses with the verify join into ONE job
    # (measured: −1.5 s of the 6.1 s steady-state b10 at sf0.1).
    fused = n_docs is not None and n_docs <= broadcast_docs
    if fused:
        pairs = pairs.select("doc_a", "doc_b")
        small = True
        gsets = word_ngram_sets(docs, n)
    else:
        # the pair list is consumed TWICE below (doc prune + the verify
        # join), so it is materialized once — without this the upstream
        # blocking chain (minhash/simhash) would execute twice.
        pairs = pairs.select("doc_a", "doc_b").transform(
            materialize, disk=False
        )
        cand_docs = (
            pairs.select(F.col("doc_a").alias("doc_id"))
            .union(pairs.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        # the pair list is already materialized, so sizing the join
        # strategy costs one tiny job: when few docs are involved (each
        # gram set is a few KB — 50k docs ~ 150 MB, comfortably
        # broadcastable) broadcast the gram table into both pair joins
        # instead of letting a sort-merge shuffle |pairs| rows plus every
        # gram array; above the threshold the shuffled join is the right
        # plan and AQE keeps it
        small = cand_docs.count() <= broadcast_docs
        gsets = word_ngram_sets(docs.join(cand_docs, "doc_id", "left_semi"), n)
    if hashed_grams:
        # intersect 64-bit gram hashes instead of gram strings: the
        # per-pair hash-set probe stops re-hashing ~15-char strings
        # (measured 2.5x on the intersect stage).  Intersection size — and
        # so jaccard — changes only if two DIFFERENT grams of the same
        # doc pair collide in 64 bits (~1e-15 for 100-gram docs);
        # hashed_grams=False keeps the exact-string path.
        gsets = gsets.select(
            "doc_id", F.expr("transform(gs, g -> xxhash64(g))").alias("gs")
        )
    if small:
        # the gram table is referenced by BOTH pair joins; without the
        # checkpoint each side plans its own BroadcastExchange over the
        # full gram-computation subtree (the doc scan, the semi-join when
        # pruning, the shingling, the xxhash64 pass all run TWICE — plan-
        # verified: two independent BroadcastExchange subtrees, no reuse,
        # because the per-side column renames make the subtrees unequal).
        # It is bounded here by construction: at most `broadcast_docs`
        # gram rows, the same bound the broadcast itself relies on.
        gsets = F.broadcast(materialize(gsets, disk=False))
    return (
        pairs
        .join(
            gsets.select(F.col("doc_id").alias("doc_a"), F.col("gs").alias("ga")),
            "doc_a",
        )
        .join(
            gsets.select(F.col("doc_id").alias("doc_b"), F.col("gs").alias("gb")),
            "doc_b",
        )
        .withColumn("inter", F.size(F.array_intersect("ga", "gb")))
        .withColumn(
            "jaccard",
            F.col("inter") / (F.size("ga") + F.size("gb") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(
            "doc_a",
            "doc_b",
            F.round("jaccard", 6).alias("jaccard"),
            *(
                [
                    F.round(
                        F.col("inter") / F.least(F.size("ga"), F.size("gb")), 6
                    ).alias("containment")
                ]
                if with_containment
                else []
            ),
        )
    )


def dedup_pipeline(
    docs: DataFrame,
    num_hashes: int = 8,
    bands: int = 4,
    k: int = 5,
    n: int = 3,
    threshold: float = 0.4,
    max_bucket: int = 1024,
) -> DataFrame:
    """End-to-end near-duplicate removal — the composed propose/dispose/
    cluster/keep chain a training-data pipeline actually runs:

        MinHash-LSH band join   (propose candidate pairs, never all-pairs)
     -> exact n-gram Jaccard    (dispose: verify only the candidates)
     -> connected components    (large-star/small-star, O(log n) rounds)
     -> canonical per cluster   (min doc_id keeps; the rest drop)

    Returns one row per input doc: (doc_id, canonical, keep) where
    canonical is the min doc_id of the doc's near-dup cluster (itself if
    unpaired) and keep is true iff doc_id == canonical.  Downstream keeps
    `filter(keep)` — or joins on canonical to attribute provenance.

    Every stage is a keyed join or aggregation: nothing in the chain is
    all-pairs or driver-materialized, so the composition inherits each
    stage's scale envelope.

    TUNING: rows-per-band (num_hashes / bands) is the scale lever.  The
    LSH candidate probability at similarity s is 1-(1-s^r)^bands; with the
    default r=2 a boilerplate-heavy corpus proposes candidates for
    moderately-similar pairs too, and the verify stage pays O(candidates).
    Measured on the 10k-doc bench corpus: r=2 -> 1.87M candidates,
    r=4 (num_hashes=16) -> 291k, r=8 -> 6.7k, with byte-identical final
    keep decisions at threshold 0.4 (BASELINE.md round 4).  At 100 TB run
    r>=4 and let `max_bucket` star-expand the giant clusters.

    EXACT duplicates collapse to one representative per md5 BEFORE the
    near-dup stages — provably lossless (an exact copy's shingles, bands
    and grams are identical to its representative's, so every candidate
    pair it could form exists through the representative) and the
    standard production ordering: on a heavily-duplicated crawl the
    shingle/minhash/verify work shrinks by the duplication factor.  The
    copies rejoin the cluster graph as (copy, representative) edges, so
    `canonical` is still the min doc_id over the FULL cluster, exact
    copies included.  The collapse is ADAPTIVE: one md5-cardinality
    aggregate decides — an all-unique corpus skips the representative
    join entirely (measured: the unconditional collapse cost 21% on a
    zero-exact-dup corpus and saved 27% on a half-duplicated one)."""
    fp = docs.select("doc_id", F.md5("text").alias("__fp"))
    st = fp.agg(
        F.count(F.lit(1)).alias("n"), F.count_distinct("__fp").alias("g")
    ).collect()[0]
    if st.n > st.g:
        # the fingerprint frame feeds the rep aggregation AND its join
        # probe — materialized once so the corpus md5 pass runs once
        # more, not twice more (re-aliased subtrees defeat exchange
        # reuse); the unique-corpus branch skips the storage entirely
        fp = materialize(fp)
        reps = fp.groupBy("__fp").agg(F.min("doc_id").alias("__rep"))
        fp = fp.join(reps, "__fp").select("doc_id", "__rep")
        rep_docs = docs.join(
            fp.filter(F.col("doc_id") == F.col("__rep")).select("doc_id"),
            "doc_id",
            "left_semi",
        )
        # exact copies ride back in as star edges to their representative
        # (rep < copy always: the rep is the group min)
        exact = fp.filter(F.col("doc_id") != F.col("__rep")).select(
            F.col("__rep").alias("doc_a"), F.col("doc_id").alias("doc_b")
        )
    else:
        rep_docs, exact = docs, None
    cand = minhash_lsh_pairs(rep_docs, num_hashes, bands, k, max_bucket)
    # n_docs is known for free from the adaptive-collapse aggregate: when
    # the corpus is broadcast-bounded, verify skips its prune/materialize
    # apparatus and the propose chain fuses with the verify join into one
    # job (see ngram_jaccard_verify)
    near = ngram_jaccard_verify(
        rep_docs, cand, n, threshold, n_docs=st.n
    ).select("doc_a", "doc_b")
    comp = connected_components_star(
        near if exact is None else near.unionByName(exact)
    )
    return (
        docs.select("doc_id")
        .join(comp, "doc_id", "left")
        .withColumn("canonical", F.coalesce("component", F.col("doc_id")))
        .withColumn("keep", F.col("doc_id") == F.col("canonical"))
        .select("doc_id", "canonical", "keep")
    )


def _driver_union_find(session, edge_rows, id_type):
    """Resolve a BOUNDED edge list on the driver with path-compressed
    union-find and return the (doc_id, component) frame, broadcast-hinted.

    component = min reachable id: union always keeps the smaller root, so
    every tree root is its component's minimum — identical to the
    min-label fixpoint.  Self-loop rows (u == v) register the node without
    a union, matching the propagation variant's node set.  NULL endpoints
    (dirty input) are skipped — None is not orderable against real ids,
    and the distributed path's equi-joins never propagate through a null
    key either, so neither path unions across one.

    pandas in, not a list of tuples: the tuple path pickles and
    type-verifies row by row (~0.55 s at 10k rows, measured); the pandas
    path crosses as ONE Arrow batch (~0.17 s).  The broadcast hint matters
    because driver-resolved components are bounded (edge-threshold-sized)
    but arrive as an ExistingRDD with no size statistics, so a downstream
    join would plan sort-merge — exchange + sort on BOTH sides
    (plan-verified on dedup_pipeline's final left join); the hint makes it
    a BroadcastHashJoin with no shuffle at all."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for u, v in edge_rows:
        if u is None or v is None:
            continue
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)  # root stays the min id
    nodes = {n for uv in edge_rows for n in uv if n is not None}
    out_rows = [(n, find(n)) for n in sorted(nodes)]
    import pandas as pd

    schema = T.StructType(
        [
            T.StructField("doc_id", id_type),
            T.StructField("component", id_type),
        ]
    )
    return F.broadcast(
        session.createDataFrame(
            pd.DataFrame(out_rows, columns=["doc_id", "component"]), schema
        )
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 25,
    driver_threshold: int = 1 << 17,
) -> DataFrame:
    """(doc_id, component) — transitive closure of near-dup pairs; a doc's
    component is the smallest doc_id reachable through the pair graph (the
    canonical keeper), so A~B and B~C collapse into one group even when A~C
    was never emitted as a candidate pair.

    Shape: iterative min-label propagation — each round every node takes
    min(own label, neighbors' labels); one shuffle join + one aggregation
    per round, converging in O(graph diameter) rounds (near-dup graphs are
    shallow: diameter ~ duplication-chain length, not corpus size).
    localCheckpoint truncates lineage so the plan doesn't grow with rounds.
    At 100 TB, hub nodes (boilerplate shared by millions of docs) skew the
    join key; AQE skew-join splits those partitions, and the
    large-star/small-star variant (same join primitive, alternating
    directions) bounds per-round traffic if needed.

    ADAPTIVE (the star variant's switch discipline, measured there): when
    the symmetrized edge list holds at most 2 x `driver_threshold` rows it
    collects to the driver and resolves with path-compressed union-find —
    identical output (component = min reachable id on both paths; gated
    against the same recursive-CTE oracle), skipping O(diameter) rounds of
    join + aggregation + checkpoint + convergence-action, each a fixed
    scheduling cost regardless of graph size.  The count is read off the
    already-materialized checkpoint, so the decision costs no extra pass;
    larger graphs run the propagation loop unchanged."""
    # materialized once BEFORE symmetrizing: the union's two branches are
    # re-aliased copies of the full pair-generation subtree (candidate
    # join and all), so without this the pairs compute twice — measured
    # 74.8 s vs the star variant's 43.5 s on the identical input at sf0.1
    # (the star variant materializes first; this is the same fix).
    e = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .distinct()
        .transform(materialize)
    )
    if driver_threshold and e.count() <= driver_threshold:
        # union-find is undirected: the directed distinct list carries the
        # same node set (self-loops register nodes) and connectivity
        return _driver_union_find(
            pairs.sparkSession,
            [(r.src, r.dst) for r in e.collect()],
            e.schema["src"].dataType,
        )
    edges = (
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint()
    )
    prev_sum = None
    for _ in range(max_iter):
        prop = edges.join(
            labels.withColumnRenamed("node", "src"), "src"
        ).select(F.col("dst").alias("node"), "comp")
        labels = (
            labels.union(prop).groupBy("node").agg(F.min("comp").alias("comp"))
        ).localCheckpoint()
        # min-propagation is monotone: the label total strictly decreases
        # until fixpoint, so one scalar action per round detects convergence.
        cur_sum = labels.agg(F.sum("comp")).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels.select(F.col("node").alias("doc_id"), F.col("comp").alias("component"))


def connected_components_star(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 20,
    driver_threshold: int = 1 << 17,
) -> DataFrame:
    """(doc_id, component) via large-star/small-star alternation — the
    O(log n)-round MapReduce connected-components algorithm (Kiveris et
    al., "Connected Components in MapReduce and Beyond"; public algorithm,
    re-derived here in DataFrame form).  Same contract as
    connected_components (component = min reachable doc_id), different
    scale envelope: min-label propagation needs O(diameter) rounds and
    ships a hub's full neighbor list through the join every round; the
    star operations rewire strictly-larger (large-star) /
    smaller-or-equal (small-star) neighbors onto the neighborhood minimum,
    halving chains each round and flattening hubs into stars.

    Each round is two groupBy-min + join passes over the edge list;
    convergence is detected from a (count, sum) edge-set signature —
    monotone under star rewiring, so a fixpoint signature means a fixpoint
    edge set.

    ADAPTIVE: dedup graphs are usually tiny relative to the corpus (edges
    exist only between near-duplicates), and each distributed round costs
    ~6 shuffles + 2 checkpoints of fixed scheduling overhead.  When the
    deduped edge list holds at most `driver_threshold` edges (default 128k
    ≈ 2 MB — bounded, unlike collecting a corpus) it collects to the
    driver and resolves with path-compressed union-find; larger graphs run
    the distributed loop unchanged.  Same switch discipline as AQE's
    runtime broadcast-join downgrade: the count is read off the already-
    materialized checkpoint, so the decision costs no extra pass."""
    e = (
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    if driver_threshold and e.count() <= driver_threshold:
        return _driver_union_find(
            pairs.sparkSession,
            [(r_.u, r_.v) for r_ in e.collect()],
            e.schema["u"].dataType,
        )

    def sym(edges):
        return edges.union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).distinct()

    def neighborhood_min(s):
        return s.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )

    prev_sig = None
    for _ in range(max_iter):
        # large-star: (v, m) for every neighbor v > u
        s = sym(e)
        m = neighborhood_min(s)
        e = (
            s.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()
        )
        # small-star: (v, m) for v <= u, plus (u, m)
        s = sym(e)
        m = neighborhood_min(s)
        j = s.join(m, "u")
        e = (
            j.filter(F.col("v") <= F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(j.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()
        )
        sig = e.agg(
            F.count(F.lit(1)), F.sum("u"), F.sum("v")
        ).collect()[0]
        if tuple(sig) == prev_sig:
            break
        prev_sig = tuple(sig)
    # fixpoint edges are (node -> root) stars; roots map to themselves
    out = e.select(F.col("u").alias("doc_id"), F.col("v").alias("component"))
    roots = out.select(F.col("component").alias("doc_id")).distinct().withColumn(
        "component", F.col("doc_id")
    )
    return out.union(roots).groupBy("doc_id").agg(F.min("component").alias("component"))


def embedding_neardup_pairs(
    emb: DataFrame,
    threshold: float = 0.99,
    bucket_col: str | None = "label",
    arrow: bool = True,
    max_bucket: int = 1 << 15,
) -> DataFrame:
    """Near-duplicate vectors by cosine within a coarse bucket.
    bucket_col=None derives the bucket from the embedding's own sign bits
    (pipeline/similarity.sign_bucket) — the label-free 100 TB path: no
    all-pairs product, the self-join keys on the 2^bits-way LSH blocking.
    Returns (vec_a, vec_b, cos).

    Default path: the semdedup-family per-bucket matmul kernel
    (applyInPandas) — one blockwise |bucket| x |bucket| BLAS matmul per
    bucket replaces the bucket self-join's per-pair interpreted
    zip_with/aggregate dot (measured 6.5 -> 2.3 s at sf0.1 on label
    buckets; 6dp-equal, pinned — the kernel multiplies the SAME raw
    vectors and divides by the same norm product, so only the summation
    order differs).  Memory is bounded blockwise (1024 x |bucket| per
    task) EXCEPT that applyInPandas hands each group to one worker
    whole, so buckets above `max_bucket` members (a boilerplate label, a
    degenerate sign bucket) route to the expression self-join instead,
    which streams through the shuffle machinery — the skew guard is one
    narrow bucket-count aggregation, and when no bucket exceeds the cap
    (every corpus measured) the kernel plan is unchanged.
    `arrow=False` keeps the pure-expression self-join twin for every
    bucket.

    ZERO-NORM vectors (cosine undefined) never pair on either path: the
    kernel's nan cosines fail the threshold, and the expression join
    filters norm > 0 before dividing — degenerate vectors silently drop
    from pair output rather than raising, by contract."""
    if bucket_col is None:
        from redistimeseries_spark.pipeline.similarity import sign_bucket

        bucket = sign_bucket(F.col("embedding").cast("array<double>"))
    else:
        bucket = F.col(bucket_col)
    id_type = emb.schema["vec_id"].dataType
    if arrow:
        import numpy as np
        import pandas as pd

        da = emb.select(
            "vec_id",
            bucket.alias("bucket"),
            F.col("embedding").cast("array<double>").alias("v"),
        )
        out_schema = T.StructType(
            [
                T.StructField("vec_a", id_type),
                T.StructField("vec_b", id_type),
                T.StructField("cos", T.DoubleType()),
            ]
        )

        def fn(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("vec_id").reset_index(drop=True)
            V = np.array(pdf["v"].tolist(), dtype=np.float64)
            ids = pdf["vec_id"].to_numpy()
            nrm = np.sqrt((V * V).sum(axis=1))
            out_a, out_b, out_c = [], [], []
            blk, n = 1024, len(pdf)
            # 0-norm vectors yield nan cosines, which fail >= threshold
            # and drop out (the same never-pair contract the expression
            # path implements with its norm > 0 filter)
            with np.errstate(divide="ignore", invalid="ignore"):
                for s in range(0, n, blk):
                    e = min(s + blk, n)
                    C = (V[s:e] @ V.T) / np.outer(nrm[s:e], nrm)
                    ii, jj = np.nonzero(C >= threshold)
                    keep = (ii + s) < jj  # vec_a < vec_b on sorted ids
                    out_a.append(ids[ii[keep] + s])
                    out_b.append(ids[jj[keep]])
                    out_c.append(C[ii[keep], jj[keep]])
            return pd.DataFrame(
                {
                    "vec_a": np.concatenate(out_a) if out_a else [],
                    "vec_b": np.concatenate(out_b) if out_b else [],
                    "cos": np.concatenate(out_c) if out_c else [],
                }
            )

        def kernel_pairs(frame):
            return (
                frame.groupBy("bucket")
                .applyInPandas(fn, out_schema)
                .select("vec_a", "vec_b", F.round("cos", 6).alias("cos"))
            )

        # skew guard: one narrow (bucket -> count) aggregation; the list
        # of oversized buckets is corpus/max_bucket-bounded (tiny), and
        # with none — the common case — the kernel plan below is exactly
        # the unguarded one.
        bigb = (
            da.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > max_bucket)
            .select("bucket")
        )
        if max_bucket and bigb.count() > 0:
            da = da.transform(materialize)
            small = da.join(F.broadcast(bigb), "bucket", "left_anti")
            big = da.join(F.broadcast(bigb), "bucket", "left_semi")
            return kernel_pairs(small).unionByName(
                _embedding_expr_pairs(_with_norm(big), threshold)
            )
        return kernel_pairs(da)
    d = emb.select(
        "vec_id",
        bucket.alias("bucket"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    # materialized once: both self-join sides read this frame, and the
    # bucket + norm projection is an interpreted fold over every vector —
    # re-aliased subtrees defeat exchange reuse (the LSH band-table
    # failure), so without this it computes twice.
    d = _with_norm(d).transform(materialize)
    return _embedding_expr_pairs(d, threshold)


def _with_norm(d: DataFrame) -> DataFrame:
    """(vec_id, bucket, v) + the vector's L2 norm."""
    return d.withColumn(
        "norm",
        F.sqrt(
            F.aggregate(
                F.transform(F.col("v"), lambda x: x * x),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ),
    )


def _embedding_expr_pairs(d: DataFrame, threshold: float) -> DataFrame:
    """The pure-expression bucket self-join over a (vec_id, bucket, v,
    norm) frame: per-pair zip_with/aggregate dot, streamed through the
    shuffle machinery (per-task memory is shuffle-bounded, not
    bucket-bounded — the oversized-bucket fallback of the kernel path).
    norm > 0 on both sides keeps the 0-norm never-pair contract without
    tripping ANSI DIVIDE_BY_ZERO."""
    a, b = d.alias("a"), d.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id"))
            & (F.col("a.norm") > F.lit(0.0))
            & (F.col("b.norm") > F.lit(0.0)),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            (dot / (F.col("a.norm") * F.col("b.norm"))).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
        .select("vec_a", "vec_b", F.round("cos", 6).alias("cos"))
    )
