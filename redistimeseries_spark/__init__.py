"""sparkts — a PySpark-native time-series analytics engine.

Re-implements the query and data-processing capabilities of RedisTimeSeries
(reference: /root/reference, Redis C module) as idiomatic Spark DataFrame /
SQL / Structured Streaming plans.

Data model (SURVEY.md §1.5):
  samples  (key string, ts long epoch-ms, value double)   -- the fact table
  labels   (key string, label string, value string)       -- secondary index
  series   (key, retention_ms, duplicate_policy, ...)     -- catalog
  rules    (src_key, dest_key, agg, bucket_ms, align_ts)  -- compaction rules

Scale notes: samples are stored sorted by (key, ts) so Parquet row-group
min/max stats give the same time-pruning the reference's chunk rax-seek does
(src/series_iterator.c:21-56).  Label filters are answered on the driver
from a label index, and reach the samples scan as a `key IN (...)` filter.  Per-series operators groupBy/window on `key`, which
shuffles once and parallelizes per series — the Spark-native replacement for
the reference's LibMR shard fan-out (src/libmr_commands.c).
"""

from redistimeseries_spark.session import get_spark
from redistimeseries_spark.store import TSStore

MIN_TS = 0
MAX_TS = (1 << 63) - 1  # reference: '+' sentinel = LLONG_MAX (src/query_language.c:673-693)

__all__ = ["get_spark", "TSStore", "MIN_TS", "MAX_TS"]
