"""corpus_dedup: near-duplicate removal over a generated web-text corpus.

The only workload for `pipeline`: Arrow minhash kernels plus a ~40-stage
propose/verify/cluster join chain.  The planted near-duplicate clusters
are the answer key.  Run by hand: BENCHMARK.json leaves it out to give
the other two workloads longer timed loops (README, "Left out").
"""

from __future__ import annotations

import gen
from core import Op, to_pandas
from oracle import dedup_scores

N_DOCS = 2000
PARTITIONS = 4
MIN_RECALL = 0.85  # LSH banding may miss a planted pair; it may never merge unrelated docs


class CorpusDedup:
    name = "corpus_dedup"

    def __init__(self, ctx):
        self.ctx = ctx
        self.scores: tuple[float, float, bool] | None = None

    def setup(self) -> dict:
        spark = self.ctx.spark
        self.corpus = gen.corpus(self.ctx.seed, N_DOCS)
        with self.ctx.tracer.span("pipeline", "load_corpus") as s:
            self.docs = spark.createDataFrame(self.corpus.docs).repartition(PARTITIONS).cache()
            self.docs.count()
        return {"pipeline.load_s": s.dur}

    def teardown(self):
        self.ctx.spark.catalog.clearCache()

    def digest(self) -> str:
        return self.corpus.digest()

    def check(self, got, want) -> bool:
        self.scores = dedup_scores(got, self.corpus.cluster)
        recall, precision, consistent = self.scores
        return consistent and len(got) == len(self.corpus.docs) and precision == 1.0 and recall >= MIN_RECALL

    def warmup(self) -> list[Op]:
        return self.next_cycle()

    def next_cycle(self) -> list[Op]:
        from redistimeseries_spark.pipeline.dedup import dedup_pipeline

        return [Op(
            "pipeline", "dedup",
            lambda tr: dedup_pipeline(self.docs, num_hashes=16, bands=4),
            lambda: None, self.check, force=to_pandas, work=N_DOCS,
        )]
