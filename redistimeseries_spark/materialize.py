"""Shared eager-materialization helper for multiply-consumed subtrees.

THE PROBLEM (round 11, plan-verified on the minhash LSH band table and
the smoother chunk frame): when a DataFrame subtree is consumed more
than once in a query — both sides of a self-join, a stats aggregation
plus its join, a three-stage kernel pipeline — Spark re-executes the
whole subtree per consumer.  Neither compile-time exchange reuse nor
AQE's runtime stage cache deduplicates them: self-join deduplication
re-aliases one side, and any Python/Arrow kernel node defeats canonical
plan matching.  One eager materialization bounds the subtree to one
execution.

THE TRADEOFFS (deliberate, and the reason this lives in one documented
place instead of forty call sites):

* `localCheckpoint` stores blocks on EXECUTORS and truncates lineage:
  losing an executor mid-query fails the job instead of recomputing
  (Spark cautions against it under dynamic allocation).  Invisible on
  local[*]; on a cluster it trades a 2-3x recompute for reduced
  resilience.  For long cluster pipelines set a reliable checkpoint
  directory (`spark.sparkContext.setCheckpointDir(...)`): `materialize`
  then uses `DataFrame.checkpoint`, whose files live in the checkpoint
  dir and survive executor loss.  Spark deletes those files only with
  `spark.cleaner.referenceTracking.cleanCheckpoints=true` (off by
  default), so set it too or long sessions accumulate checkpoint data.
* Eager materialization runs a Spark job at DataFrame-CONSTRUCTION
  time: formerly-lazy operators execute when called, and a caller that
  narrows the OUTPUT (filter/select after the operator returns) no
  longer pushes its predicate below the boundary into the source scan.
  Operators therefore take their filters as ARGUMENTS (keys/start/end,
  threshold, ...) which apply before the materialization — pass filters
  in rather than composing them on the result.
* DISK_ONLY (the `disk=True` default) matters for corpus-scale frames:
  a large block at the default MEMORY_AND_DISK level squeezes execution
  memory for every LATER query in the session (py4j releases the
  driver-side reference lazily, so blocks linger) — measured ts_holt
  5.5 s isolated but 15.9 s after two prior ts_ewma calls; DISK_ONLY
  holds it flat.  Use `disk=False` only for provably small frames
  (vocabulary-sized, one-row-per-chunk) where the memory level's read
  speed wins.

Plain `.localCheckpoint()` WITHOUT this helper remains the right call
for its other job — truncating lineage across iterative loops
(connected-components rounds, k-means iterations, streaming batch
folds) where the frame is small and the point is plan growth, not
subtree sharing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel


def materialize(df: DataFrame, disk: bool = True) -> DataFrame:
    """Eagerly materialize `df` once so multiple consumers share one
    execution (module docstring has the full tradeoff discussion).

    With a session checkpoint directory configured, a reliable
    `checkpoint()` — slower (distributed filesystem write) but safe
    against executor loss on clusters; `disk` does not apply there (the
    files live in the checkpoint dir).  Otherwise
    `localCheckpoint(eager=True)` at DISK_ONLY (`disk=True`) or the
    default MEMORY_AND_DISK level (`disk=False`)."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    if disk:
        return df.localCheckpoint(
            eager=True, storageLevel=StorageLevel.DISK_ONLY
        )
    return df.localCheckpoint(eager=True)
