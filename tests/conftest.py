"""Shared pytest fixtures: one SparkSession for the whole run."""

from __future__ import annotations

import contextlib
import json
import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SMOKE_SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from machinelearningalgomapreduce_spark.session import ensure_query_conf, get_spark

    s = get_spark(app_name="pytest", master="local[8]", shuffle_partitions=8)
    ensure_query_conf(s)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SMOKE_SF_DIR


def jobs_while(spark, group, fn):
    """(fn(), number of Spark jobs fn launched), counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@contextlib.contextmanager
def conf_scope(spark, confs):
    """Set runtime SQL confs for the body; restore the previous values."""
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def drain(q, timeout: int = 420) -> None:
    """awaitTermination with the boolean ASSERTED (r15, VERDICT r14 item 3).

    Every capped ``q.awaitTermination(N)`` in this tree is an
    availableNow-style drain (or a post-stop() flush) that the test then
    asserts state on; ``awaitTermination`` returning False means the drain
    did NOT finish — asserting on sink/index state at that point reports a
    partial-state diff instead of the real problem (test_ivf_pq failed a
    slow-host battery exactly this way at r14 while the operator was
    correct). This helper turns a slow host into a clear TimeoutError and
    a real hang into a hang report, never a wrong-state assertion.
    """
    if not q.awaitTermination(timeout):
        try:
            status = q.status
        except Exception:  # noqa: BLE001 - best-effort diagnostics only
            status = "<status unavailable>"
        try:
            q.stop()
        except Exception:  # noqa: BLE001 - the raise below is the signal
            pass
        raise TimeoutError(
            f"stream did not terminate within {timeout}s (host too slow or "
            f"a real hang): {status}"
        )


def file_stream(spark, root, frames):
    """readStream over one parquet file per Spark frame, in list order.

    Each frame is written as a single file under ``root/src`` with a
    strictly increasing mtime, and the stream reads one file per trigger
    (maxFilesPerTrigger=1), so every frame is its own micro-batch and
    the watermark advances between them."""
    import shutil

    src = root / "src"
    src.mkdir()
    for i, df in enumerate(frames):
        staging = root / f"staging{i}"
        df.coalesce(1).write.parquet(str(staging))
        part = next(p for p in staging.iterdir() if p.name.endswith(".parquet"))
        dest = src / f"{i:03d}.parquet"
        shutil.copy(part, dest)
        os.utime(dest, (1_000_000 + 100 * i, 1_000_000 + 100 * i))
    return (
        spark.readStream.schema(frames[0].schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )


def run_stream(stream_df, name, checkpoint, output_mode="update"):
    """Drain ``stream_df`` into memory table ``name`` with
    trigger(availableNow); returns (collected rows, the finished query)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", str(checkpoint))
        .trigger(availableNow=True)
        .start()
    )
    drain(q, 600)
    return stream_df.sparkSession.table(name).collect(), q


def stage_crashed_commit(log, seg, batches):
    """Leave what a writer of ``log`` (a ``SegmentLog``) that crashed
    between linking its manifest and flipping the pointer leaves: the
    segment ``seg`` and an unflipped manifest of the next version, both
    aged past the orphan horizon (the crash happened long ago, so the log
    may reclaim the version and ``vacuum`` the segment)."""
    v = log.current_version() + 1
    with open(log.manifest_path(v), "w") as f:
        json.dump({"segments": [seg], "batches": batches}, f)
    old = time.time() - 3600
    seg_dir = os.path.join(log.path, seg["dir"])
    for root, dirs, files in os.walk(seg_dir):
        for n in (*dirs, *files):
            os.utime(os.path.join(root, n), (old, old))
    for path in (seg_dir, log.manifest_path(v)):
        os.utime(path, (old, old))
