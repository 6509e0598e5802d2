"""Streaming checkpoints: the manager get_spark names, and exactly-once
across a crash between the offset-log write and the commit.

``get_spark`` sets ``spark.sql.streaming.checkpointFileManagerClass`` to
Spark's FileSystem-based manager (session.py docstring). Every metadata
log writes through it, so the guarantees ``HDFSMetadataLog`` relies on
are pinned here: the ``.crc`` sidecar and the refusal to overwrite.
"""

from __future__ import annotations

import glob
import os

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from conftest import drain_stream
from mypipe_spark.changelog import write_changelog
from mypipe_spark.operators.decode import mutations_only
from mypipe_spark.sources.stream import changelog_batch, changelog_stream
from mypipe_spark.streaming.pipe import Pipe


def _manager(spark, directory):
    jvm = spark._jvm
    hconf = spark._jsparkSession.sessionState().newHadoopConf()
    path = jvm.org.apache.hadoop.fs.Path(f"file:{directory}")
    pkg = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    return pkg.CheckpointFileManager.create(path, hconf)


def _write(manager, path, data: bytes):
    out = manager.createAtomic(path, False)
    out.write(bytearray(data))
    return out


def test_checkpoints_use_the_filesystem_manager(spark, tmp_path):
    """Pinned by its Spark 4.1 name: an upgrade that moves the class
    fails here by name."""
    manager = _manager(spark, tmp_path)
    assert manager.getClass().getName() == (
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
    )


def test_manager_writes_a_crc_sidecar(spark, tmp_path):
    manager = _manager(spark, tmp_path)
    path = spark._jvm.org.apache.hadoop.fs.Path(f"file:{tmp_path}/0")
    _write(manager, path, b"v1\n{}").close()
    assert sorted(os.listdir(tmp_path)) == [".0.crc", "0"]


def test_manager_refuses_to_overwrite_a_log_entry(spark, tmp_path):
    """``HDFSMetadataLog.add`` writes with ``overwriteIfPossible=false``
    and relies on a second writer of the same batch id failing on
    close, with the first writer's entry left as it was."""
    jvm = spark._jvm
    manager = _manager(spark, tmp_path)
    path = jvm.org.apache.hadoop.fs.Path(f"file:{tmp_path}/0")
    _write(manager, path, b"first").close()
    out = _write(manager, path, b"second")
    with pytest.raises(Py4JJavaError) as err:
        out.close()
    exists = jvm.java.lang.Class.forName("org.apache.hadoop.fs.FileAlreadyExistsException")
    assert exists.isInstance(err.value.java_exception)
    assert (tmp_path / "0").read_bytes() == b"first"


def _parquet_pipe(src: str, sink: str, ckpt: str) -> Pipe:
    return Pipe(
        pipe_id="p_crash_replay",
        source=lambda s: changelog_stream(s, src, max_files_per_trigger=1),
        transforms=[mutations_only],
        producer="parquet",
        producer_options={"path": sink},
        checkpoint_dir=ckpt,
    )


def _data_files(sink: str) -> list[str]:
    return sorted(glob.glob(os.path.join(sink, "*.parquet")))


def test_crash_before_commit_replays_the_batch_exactly_once(spark, tmp_path):
    """A crash after batch N's offset-log write and before its commit:
    the restarted query re-runs batch N, the file sink finds N in its
    own ``_spark_metadata`` log and writes nothing, and the sink holds
    every mutation once — the same rows as a clean run."""
    src = str(tmp_path / "cl")
    write_changelog(spark, src, num_transactions=12, seed=7, num_files=3)
    expected = mutations_only(changelog_batch(spark, src)).count()

    clean = str(tmp_path / "clean")
    _parquet_pipe(src, clean, str(tmp_path / "clean_ckpt")).run_available(spark)
    assert spark.read.parquet(clean).count() == expected

    sink, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _parquet_pipe(src, sink, ckpt).run_available(spark)
    commits = os.path.join(ckpt, "commits")
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    assert last == 2  # one batch per source file
    os.remove(os.path.join(commits, str(last)))
    os.remove(os.path.join(commits, f".{last}.crc"))
    files_before = _data_files(sink)

    q = _parquet_pipe(src, sink, ckpt).start(spark)
    drain_stream(q)
    rows_read = {p["batchId"]: p["numInputRows"] for p in q.recentProgress}
    # batch N re-ran; the sink skipped it, so its plan never read a row
    assert rows_read.get(last) == 0 and sum(rows_read.values()) == 0, rows_read
    assert os.path.exists(os.path.join(commits, str(last)))
    assert _data_files(sink) == files_before

    out = spark.read.parquet(sink)
    assert out.count() == expected
    assert out.groupBy("seq").count().filter(F.col("count") > 1).count() == 0
