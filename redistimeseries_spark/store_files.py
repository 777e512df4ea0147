"""Store maintenance shared by the five append-per-micro-batch stores:
the time-series `StreamingStore` (streaming/ingest.py) and the
pipeline's `TextIndexStream`, `IVFIndexStream`, `SemDedupStream` and
`DedupStream`.  Each appends one parquet fragment set per micro-batch to
tables under one root and rewrites them in a compaction pass.  Shared
here, once:

* driver-side Hadoop-FS helpers — no Spark job, right for remote URIs;
* `read_state`, the missing-state read: a missing table reads as empty,
  EXCEPT while the root's `_compacting` marker is up — then the read
  raced a rename swap and raises the retryable `StoreCompactingError`;
* the crash-recoverable swap (`_swap_in`): under the marker, write
  `<sub>__compact`, rename `<sub>` -> `<sub>__old` and `<sub>__compact`
  -> `<sub>`, delete `<sub>__old`.  Every crash point (a partial
  `__compact`; the live table missing beside `__old`; a leftover
  `__old`) is repaired by `_recover_swap`, and the marker comes down
  only after the last swap, so a crashed pass always leaves it up —
  each store's writer runs `recover` on its tables before it reads;
* `_maybe_compact`, the one compaction trigger.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import DataFrame

# present while a compaction pass is mid-flight (and left behind by a
# crashed one): a missing table under it is mid-swap, not absent
COMPACTING_MARKER = "_compacting"


class StoreCompactingError(RuntimeError):
    """A read raced a compaction pass's rename swap (the `_compacting`
    marker is up): the table is mid-swap, not lost — and not EMPTY.
    RETRYABLE once the pass finishes (sub-second) or, after a crash, once
    the store's next write has recovered it."""


@lru_cache(maxsize=None)
def _path_class(jvm):
    # resolving the class name costs one gateway round trip per dotted
    # component (~3 ms); a process holds one JVM view per session
    return jvm.org.apache.hadoop.fs.Path


def _fs(spark, path: str):
    """(Hadoop FileSystem, Path) for `path`, driver-side."""
    hp = _path_class(spark._jvm)(path)
    return hp.getFileSystem(spark._jsc.hadoopConfiguration()), hp


def _path_exists(spark, path: str) -> bool:
    fs, hp = _fs(spark, path)
    return bool(fs.exists(hp))


def _touch(spark, path: str) -> None:
    fs, hp = _fs(spark, path)
    if not fs.exists(hp):
        fs.create(hp, True).close()


def _rm(spark, path: str) -> None:
    fs, hp = _fs(spark, path)
    if fs.exists(hp):
        fs.delete(hp, True)


def _rename(spark, src: str, dst: str) -> None:
    """Same-filesystem move; `dst` must not exist."""
    fs, sp = _fs(spark, src)
    if not fs.rename(sp, _path_class(spark._jvm)(dst)):
        raise IOError(f"rename {src} -> {dst} failed")


def _put(spark, path: str, text: str) -> None:
    """Write a small file whole: `<path>.tmp`, then rename — a reader
    never sees `path` half-written."""
    fs, hp = _fs(spark, path + ".tmp")
    out = fs.create(hp, True)
    try:
        out.write(bytearray(text.encode()))
    finally:
        out.close()
    _rename(spark, path + ".tmp", path)


def _ls(spark, path: str) -> list[str]:
    fs, hp = _fs(spark, path)
    if not fs.exists(hp):
        return []
    return [s.getPath().getName() for s in fs.listStatus(hp)]


def _data_file_count(spark, path: str) -> int:
    """Parquet data files under `path`, recursively (0 when absent)."""
    fs, hp = _fs(spark, path)
    if not fs.exists(hp):
        return 0
    it = fs.listFiles(hp, True)
    n = 0
    while it.hasNext():
        if it.next().getPath().getName().endswith(".parquet"):
            n += 1
    return n


def read_state(spark, root: str, sub: str, schema: str | None = None) -> DataFrame:
    """`<root>/<sub>` read with its known `schema` (no inference job;
    partition columns in the schema come from the directory layout).  A
    missing table reads as no rows — or raises with `schema=None`, which
    reads the stored schema — and raises `StoreCompactingError` while the
    marker is up.  Any other failure (corrupt footer, permissions)
    propagates."""
    from pyspark.errors import AnalysisException

    path = f"{root}/{sub}"
    reader = spark.read if schema is None else spark.read.schema(schema)
    try:
        return reader.parquet(path)
    except AnalysisException as exc:
        missing = "PATH_NOT_FOUND" in str(exc) or "Path does not exist" in str(exc)
        if missing and _path_exists(spark, f"{root}/{COMPACTING_MARKER}"):
            raise StoreCompactingError(
                f"store at {root} is mid-compaction (its {COMPACTING_MARKER} "
                f"marker is present) and {path} vanished under this read — "
                f"retry after the compaction pass finishes"
            ) from exc
        if not missing or schema is None:
            raise
        return spark.createDataFrame([], schema)


def _recover_swap(spark, root: str, sub: str) -> bool:
    """Repair `<root>/<sub>` after a crashed swap; returns whether it
    exists.  Live missing beside `__old` (crash between the renames):
    rename the old data back — the only copy known good.  Leftover
    `__old` / `__compact` beside a live table are deleted."""
    live = f"{root}/{sub}"
    if not _path_exists(spark, live) and _path_exists(spark, live + "__old"):
        _rename(spark, live + "__old", live)
    _rm(spark, live + "__compact")
    _rm(spark, live + "__old")
    return _path_exists(spark, live)


def recover(spark, root: str, subs) -> None:
    """Repair a crashed compaction pass before a store's writer reads or
    writes: the pass holds the `_compacting` marker from its first write
    to its last rename, so a marker seen by the store's single writer is
    a crashed pass's — restore each table in `subs` (`_recover_swap`),
    then drop the marker.  Without the marker it is one existence probe,
    no Spark job."""
    marker = f"{root}/{COMPACTING_MARKER}"
    if _path_exists(spark, marker):
        for sub in subs:
            _recover_swap(spark, root, sub)
        _rm(spark, marker)


def _swap_in(spark, root: str, sub: str, write) -> bool:
    """`write(dest)` the compacted table to `<sub>__compact` and rename
    it in for `<sub>`; returns whether it swapped.  A write with no data
    files is dropped instead: its schema-less directory would break
    readers, and the table it would replace shows no row either."""
    live = f"{root}/{sub}"
    write(live + "__compact")
    if _data_file_count(spark, live + "__compact") == 0:
        _rm(spark, live + "__compact")
        return False
    if _path_exists(spark, live):
        _rename(spark, live, live + "__old")
    _rename(spark, live + "__compact", live)
    _rm(spark, live + "__old")
    return True


def _maybe_compact(store, batch_id: int, count, compact) -> None:
    """The compaction trigger a store runs after each committed batch;
    either setting firing runs `compact()`:

    - `store.compact_every=N`: after the Nth, 2Nth, ... micro-batch id;
    - `store.compact_max_files=N`: when `count()`, the store's parquet
      data-file count (what the read-side listing cost tracks), exceeds
      N — and, against thrash once a compacted store alone holds more
      than N files, exceeds 2x `store._compact_floor`, the count after
      the last pass (in memory: a restart re-learns it in one pass).

    The stream is the store's only writer inside process_batch, so the
    pass's quiesced-writer precondition holds."""
    every, max_files = store.compact_every, store.compact_max_files
    due = bool(every and (batch_id + 1) % every == 0)
    if not due and max_files:
        cnt, floor = count(), store._compact_floor
        due = cnt > max_files and (floor is None or cnt > 2 * floor)
    if due:
        compact()
        if max_files:
            store._compact_floor = count()
