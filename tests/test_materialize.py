"""materialize(): the reliable-vs-local checkpoint choice follows the
session's checkpoint directory.  Spark-free: a stub frame records which
checkpoint call it received."""

from types import SimpleNamespace

from pyspark.storagelevel import StorageLevel

from redistimeseries_spark.materialize import materialize


class _Frame:
    def __init__(self, checkpoint_dir):
        ctx = SimpleNamespace(getCheckpointDir=lambda: checkpoint_dir)
        self.sparkSession = SimpleNamespace(sparkContext=ctx)
        self.calls = []

    def checkpoint(self, eager):
        self.calls.append(("checkpoint", eager))
        return self

    def localCheckpoint(self, eager, storageLevel=None):
        self.calls.append(("local", eager, storageLevel))
        return self


def test_checkpoint_dir_selects_reliable_checkpoint():
    f = _Frame("hdfs://nn/checkpoints")
    assert materialize(f) is f
    assert materialize(f, disk=False) is f
    # `disk` does not apply: the files live in the checkpoint dir
    assert f.calls == [("checkpoint", True), ("checkpoint", True)]


def test_no_checkpoint_dir_selects_local_checkpoint():
    f = _Frame(None)
    assert materialize(f) is f
    assert materialize(f, disk=False) is f
    assert f.calls == [
        ("local", True, StorageLevel.DISK_ONLY),
        ("local", True, None),
    ]
