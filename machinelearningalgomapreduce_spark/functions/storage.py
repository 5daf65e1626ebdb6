"""Storage helpers: the one way to materialize a reused frame, and the
on-disk sizing behind the broadcast-gating call sites.

``materialize_once`` is the only place the package checkpoints a frame
(tests/test_materialize.py walks the source to keep it so).

``dir_size_below`` is ONE copy of the "broadcast only while it provably
fits" discipline, reached through ``SegmentLog.broadcastable``
(operators/matview.py): the dedup seen-index anti-join (streaming/sinks.py)
and the star-rollup dim join both gate their F.broadcast on the on-disk
parquet size of the committed version's live segments — past the cap the
join stays declarative and AQE plans the shuffle. At 100 TB the same
decision comes from table statistics; on this engine the committed files
ARE the statistics.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

BROADCAST_CAP_BYTES = 64 << 20


def dir_size_below(paths: list[str], cap_bytes: int = BROADCAST_CAP_BYTES) -> bool:
    """True while the files under ``paths`` total at most ``cap_bytes``
    (early-exits the walk as soon as the cap is crossed)."""
    total = 0
    for path in paths:
        for root, _dirs, files in os.walk(path):
            for f in files:
                total += os.path.getsize(os.path.join(root, f))
                if total > cap_bytes:
                    return False
    return True


def materialize_once(df: DataFrame) -> DataFrame:
    """Compute ``df`` once, now, and return a frame that reads the stored
    result: the one way a reused or loop-carried frame is materialized.

    One eager action stores the rows; every later reference reads them
    instead of re-running ``df``'s plan, and the returned frame's lineage
    starts at the stored blocks (an iterative loop's plan stays O(1)
    deep). Nothing is registered in the session's CacheManager, so no
    later query's plan depends on what ran before it; Spark's
    ContextCleaner releases the blocks once the returned frame is
    garbage.

    Where the rows live is a deployment choice, Spark's own
    ``spark.checkpoint.dir``: when the SparkContext has a checkpoint
    directory they are written there (``checkpoint``) and survive losing
    the executor that computed them. Without one they stay in executor
    block storage (``localCheckpoint``), and losing that executor fails
    the next read. Both run the same jobs: Spark 4.1's reliable
    checkpoint writes the files in the action that computes the rows.
    """
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)
