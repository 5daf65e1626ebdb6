"""Delta-less incremental materialized-view maintenance (SURVEY.md §2B
incremental tier; VERDICT r7 item 7).

``IncrementalAggView`` keeps a keyed, algebraically-mergeable aggregate
rollup on disk and refreshes it one delta batch at a time:

    state' = re-aggregate( state ∪ partial(delta) )

— the q_incremental_agg merge algebra (operators/incremental.py) turned
into a persistent, crash-safe, replay-idempotent view. No table format
dependency: versions are immutable parquet directories and the commit is
ONE atomic pointer flip (``os.replace`` of ``_CURRENT``), which is also
what makes reads non-blocking — a reader resolving the pointer a moment
before a refresh commits simply sees the previous version.

Storage layout (all inside ``path``):

    _CURRENT              ← text file holding the committed version number
    v00000001/
        data.parquet/     ← the rolled-up state, O(groups) rows
        batches.json      ← EVERY batch id folded into this version
        schema.json       ← the state's schema: reads pin it, so no
                            schema-inference job runs (a version dir
                            without it is read with inference)
    v00000002/ ...

Crash safety: a version directory is written COMPLETELY before the
pointer flips, so a crash mid-write leaves an orphan ``v*`` dir that no
pointer references — ignored by readers, cleaned by the next refresh
(never adopted: adopting a maybe-half-written directory would trade a
recompute for corruption). Replaying a Structured-Streaming epoch or
re-running a batch job re-sends a ``batch_id`` already in
``batches.json`` → no-op, so foreachBatch at-least-once delivery yields
exactly-once STATE.

Single writer by design: refreshes are serialized by the caller (a
streaming query's foreachBatch, a scheduled job) — concurrent refreshes
would race the version counter (last pointer flip wins; the loser's
batch is silently dropped from the ledger). Readers need no
coordination at any time.

Merge algebra: count→sum, sum→sum, min→min, max→max — each
associative + commutative, so any delta partitioning and any refresh
order produce the identical state (the property test re-aggregates the
full input in one pass and requires frame equality). Exactness follows
the incremental.py rule: integer / DECIMAL sums merge bit-exact; double
sums would drift with merge order, so specs that need exact doubles
should sum a DECIMAL or scaled-BIGINT column and derive on read.
Non-algebraic finals (avg, rate) are DERIVED on read from merged parts
(``derive`` mapping) and never stored.

100 TB shape: the stored state is O(groups) and is the ONLY history ever
read — a refresh scans just the delta (one map-side-combined partial
aggregate), unions O(groups) + O(delta-groups) rows, and re-aggregates.
State files are written hash-partitioned on the group keys
(``n_buckets``, the catalog CACHE_KEYS analogue) so consecutive refresh
re-aggregations start from a key-clustered layout; on a real cluster the
same spec would back a bucketed table and the union-re-aggregate would
co-locate with zero extra exchange.
"""

from __future__ import annotations

import functools
import json
import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

# output-column merge function per partial kind: how two partial states
# combine under re-aggregation.
_PARTIAL = {
    "count": (lambda c: F.count(F.lit(1)) if c == "*" else F.count(c), F.sum),
    "sum": (lambda c: F.sum(c), F.sum),
    "min": (lambda c: F.min(c), F.min),
    "max": (lambda c: F.max(c), F.max),
}

_POINTER = "_CURRENT"

# An above-pointer manifest this old is a crashed commit's orphan (a live
# writer flips its pointer within milliseconds of linking the manifest);
# younger collisions are treated as real concurrent writers and raise.
MANIFEST_ORPHAN_SECONDS = 300.0

# Bounded rebase-retry on version collisions (VERDICT r11 item 5): a
# refresh that collides with a LIVE competing writer re-reads _CURRENT
# once the competitor's pointer flip lands, rebases onto its committed
# manifest, and retries — so two racing single batches BOTH land,
# serialized, instead of one erroring out. Single-writer remains the
# documented operating mode; this only serializes the occasional overlap.
_COMMIT_RETRIES = 2
_COMMIT_REBASE_WAIT_SECONDS = 2.0


def _await_rebase(current_version_fn, base_v: int, err: Exception) -> None:
    """After a version collision, wait (bounded) for the competing
    writer's pointer flip to become visible so the caller can rebase on
    COMMITTED state — never on an unflipped manifest, which would let a
    later flip regress the pointer past our commit. If the pointer never
    advances, the competitor crashed between its manifest link and its
    pointer flip (an orphan that self-expires after
    MANIFEST_ORPHAN_SECONDS): re-raise the collision loudly."""
    import time as _time

    deadline = _time.monotonic() + _COMMIT_REBASE_WAIT_SECONDS
    while _time.monotonic() < deadline:
        if current_version_fn() > base_v:
            return
        _time.sleep(0.05)
    raise err


def _link_or_excl_create(tmp: str, path: str) -> None:
    """Exclusive create of ``path`` from the durable bytes at ``tmp``:
    ``os.link`` (atomic full-content publish) with an O_CREAT|O_EXCL
    fallback for filesystems without hard-link support — some NFS/FUSE/
    object-store mounts raise EPERM/EOPNOTSUPP there (r12 ADVICE).
    Either way a collision surfaces as FileExistsError. The fallback
    copies bytes after the exclusive create, so a crash mid-copy can
    leave a torn manifest at the final name — the price of a linkless
    filesystem; the link path has no such window."""
    try:
        os.link(tmp, path)
        return
    except FileExistsError:
        raise
    except OSError:
        fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        try:
            with open(tmp, "rb") as src, os.fdopen(fd, "wb") as dst:
                dst.write(src.read())
                dst.flush()
                os.fsync(dst.fileno())
        except Exception:
            try:
                os.remove(path)
            except OSError:
                pass
            raise


def _write_json_durable(
    path: str, obj, exclusive: bool = False, above_pointer_fn=None
) -> None:
    """Write JSON with flush+fsync before the atomic rename: the pointer
    flip is only a commit if what it points AT is durable first — on
    delayed-allocation filesystems an unsynced manifest/ledger can be
    lost in a power cut while the later rename survives, leaving a
    committed pointer to torn metadata. (Parquet data files are written
    by Spark's committers; their durability is the FileSystem's contract
    — this helper covers the metadata this module writes itself.)

    ``exclusive=True`` turns a silent last-writer-wins overwrite into a
    LOUD version-collision error (VERDICT r10 item 6): the final name is
    created via ``os.link`` — atomic, and FileExistsError if another
    writer already committed this version. Used for per-version manifest
    files, where two writers racing the version counter must not drop
    one batch from the ledger silently. The pid-unique tmp keeps racing
    writers from truncating each other's in-flight bytes.

    Orphan self-healing (r11 review): the commit marker is the POINTER
    flip, so a writer that crashed between linking its manifest and
    flipping the pointer leaves an above-pointer orphan manifest —
    without recovery every later commit of the same version would
    collide forever (the pre-exclusive os.replace self-healed by
    overwriting). An existing manifest OLDER than
    ``MANIFEST_ORPHAN_SECONDS`` is such an orphan (a live concurrent
    writer flips its pointer within milliseconds of linking) and is
    renamed aside (atomic — one reclaimer wins) before one retry; a
    FRESH collision is a real concurrent writer and raises.

    ``above_pointer_fn`` (r12 ADVICE, medium): age alone cannot prove
    orphanhood — a competitor whose manifest has been COMMITTED (pointer
    at or past it) for >300s while THIS writer spent those minutes
    inside its own read-to-commit window (a realistic segment-write
    duration at scale) is not an orphan, and reclaiming it would drop an
    already-acknowledged batch from the ledger and, if later versions
    exist, flip the pointer backwards. Callers pass a zero-arg callable
    that re-reads the committed pointer AT RECLAIM TIME and returns True
    only while the colliding version is strictly ABOVE it; when it
    returns False the collision is with committed state and raises so
    the rebase-retry path can serialize behind it. The residual race
    (competitor's flip lands between this check and the rename-aside) is
    caught by the competitor's own post-commit verification, which runs
    after its flip and before it acknowledges the batch."""
    tmp = f"{path}.{os.getpid()}.tmp" if exclusive else path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
        f.flush()
        os.fsync(f.fileno())
    if not exclusive:
        os.replace(tmp, path)
        return
    import time as _time

    for attempt in (0, 1):
        try:
            _link_or_excl_create(tmp, path)
            os.remove(tmp)
            return
        except FileExistsError:
            pass
        except OSError:
            # unexpected filesystem failure (not a collision): don't
            # strand the pid-named tmp next to the manifests (r12 ADVICE)
            try:
                os.remove(tmp)
            except OSError:
                pass
            raise
        try:
            stale = (
                _time.time() - os.path.getmtime(path)
                > MANIFEST_ORPHAN_SECONDS
            )
        except OSError:
            stale = False  # vanished — retry the link
            if attempt == 0:
                continue
        if (
            attempt == 0
            and stale
            and (above_pointer_fn is None or above_pointer_fn())
        ):
            try:
                aside = f"{path}.orphan.{os.getpid()}"
                os.rename(path, aside)
                os.remove(aside)
                continue  # reclaimed the crashed commit's version
            except OSError:
                pass  # lost the reclaim race — fall through to raise
        os.remove(tmp)
        raise ValueError(
            f"version collision at {path}: another writer committed "
            "this version concurrently — refreshes are single-writer "
            "per view (serialize them, e.g. via foreachBatch); this "
            "batch was NOT committed and must be retried. If this "
            "collision is an orphan from a crashed commit (pointer "
            "never flipped), it self-expires after "
            f"{MANIFEST_ORPHAN_SECONDS}s, or run vacuum()."
        ) from None


def _new_seg_name(next_id: int) -> str:
    """Writer-unique segment directory name. The numeric prefix is a
    readability/ordering hint only — uniqueness comes from the
    pid+random suffix, because two OS processes racing refresh() on one
    view directory can both read the same max segment id from the
    directory scan, and a shared name would make the second writer's
    mode("error") parquet write explode on the first writer's directory
    (found by the two-process race test; the manifest, not the name,
    defines recency order)."""
    import secrets

    return f"seg-{next_id:08d}-{os.getpid()}-{secrets.token_hex(4)}"


def _seg_id_of(name: str) -> int | None:
    """Leading numeric id of a segment dir name (old plain ``seg-N`` and
    new suffixed ``seg-N-pid-token`` forms), or None for non-segments."""
    if not name.startswith("seg-"):
        return None
    head = name[4:].split("-", 1)[0]
    return int(head) if head.isdigit() else None


def _schema_record(df: DataFrame) -> dict:
    """JSON-able schema of a frame about to be written, with every column
    nullable — the form a parquet file source reads back, so a count
    partial (NOT NULL) and a compacted sum of counts (nullable) record the
    same schema. ``df.schema`` needs analysis only — no Spark job runs."""
    return StructType([
        StructField(f.name, f.dataType, True, f.metadata) for f in df.schema
    ]).jsonValue()


def _read_parquet(spark: SparkSession, parts: list[tuple[str, dict | None]]) -> DataFrame:
    """Union of parquet directories given as (path, recorded schema or
    None), with no schema-inference job for recorded schemas.

    Paths sharing a recorded schema are read by ONE schema-pinned scan;
    ``unionByName`` (which widens, e.g. int ∪ bigint → bigint) runs only
    across distinct schemas, in order of first appearance. Paths with no
    record (written before schemas were recorded) form one group read with
    inference: one merge-schema job for the whole group, falling back to a
    scan per path when their footers disagree on a column type."""
    groups: dict[str | None, tuple[dict | None, list[str]]] = {}
    for path, schema in parts:
        key = None if schema is None else json.dumps(schema, sort_keys=True)
        groups.setdefault(key, (schema, []))[1].append(path)
    frames = []
    for schema, paths in groups.values():
        if schema is not None:
            frames.append(spark.read.schema(StructType.fromJson(schema)).parquet(*paths))
            continue
        try:
            frames.append(spark.read.option("mergeSchema", "true").parquet(*paths))
        except Exception as e:  # noqa: BLE001 - the JVM error reaches Python untyped
            if "CANNOT_MERGE_SCHEMAS" not in str(e):
                raise
            frames.extend(spark.read.parquet(p) for p in paths)
    return functools.reduce(DataFrame.unionByName, frames)


def _snapshot_is_small(path: str, cap_bytes: int | None = None) -> bool:
    """Broadcast a committed snapshot only while its on-disk parquet
    provably fits — the shared functions/storage.py discipline; past the
    cap the caller keeps the join declarative and lets AQE plan the
    shuffle. (Kept as a module name so tests can monkeypatch the gate.)"""
    from machinelearningalgomapreduce_spark.functions.storage import (
        BROADCAST_CAP_BYTES,
        dir_size_below,
    )

    return dir_size_below(
        path, BROADCAST_CAP_BYTES if cap_bytes is None else cap_bytes
    )


class IncrementalAggView:
    """A persistent keyed rollup maintained by merging delta partials.

    ``aggs`` maps output column → ("count"|"sum"|"min"|"max", src_col);
    ``derive`` (optional) maps output column → fn(state DataFrame) →
    Column computed on read from the merged parts (e.g. avg = sum/count).

    >>> mv = IncrementalAggView(path, keys=["l_returnflag"], aggs={
    ...     "n_rows": ("count", "*"),
    ...     "sum_qty": ("sum", "l_quantity"),
    ...     "max_ship": ("max", "l_shipdate"),
    ... }, derive={"avg_qty": lambda s: s["sum_qty"] / s["n_rows"]})
    >>> mv.refresh(spark, monday_rows, batch_id="2026-08-10")
    >>> mv.read(spark)        # rollup over everything folded in so far
    """

    def __init__(
        self,
        path: str,
        keys: list[str],
        aggs: dict[str, tuple[str, str]],
        derive: dict[str, "callable"] | None = None,
        n_buckets: int = 8,
        spec_extra: dict | None = None,
        ledger_cap: int | None = None,
    ) -> None:
        if not keys:
            raise ValueError("IncrementalAggView needs at least one group key")
        for alias, (fn, _col) in aggs.items():
            if fn not in _PARTIAL:
                raise ValueError(
                    f"agg {alias!r}: {fn!r} is not mergeable "
                    f"(supported: {sorted(_PARTIAL)}); non-algebraic "
                    "aggregates must be derived on read"
                )
            if alias in keys:
                raise ValueError(f"agg alias {alias!r} collides with a key")
        self.path = path
        self.keys = list(keys)
        self.aggs = dict(aggs)
        self.derive = dict(derive or {})
        self.n_buckets = n_buckets
        if ledger_cap is not None and ledger_cap < 1:
            raise ValueError(f"ledger_cap must be >= 1 or None, got {ledger_cap}")
        self.ledger_cap = ledger_cap
        # The state-DEFINING spec: merging deltas computed under different
        # keys/aggs (or a wrapper's different sketch width/depth) into
        # existing state would be silent corruption — same column names,
        # different meanings. Persisted at first refresh, validated on
        # every later one. `derive` is read-time-only (never stored) and
        # `n_buckets` is pure layout, so neither participates.
        self._spec = {
            "keys": self.keys,
            "aggs": {a: list(v) for a, v in self.aggs.items()},
            "extra": spec_extra or {},
        }
        os.makedirs(path, exist_ok=True)

    # ---- version bookkeeping -------------------------------------------
    def current_version(self) -> int:
        """Committed version number, 0 if never refreshed."""
        try:
            with open(os.path.join(self.path, _POINTER)) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return 0

    def _vdir(self, version: int) -> str:
        return os.path.join(self.path, f"v{version:08d}")

    def applied_batches(self) -> list[str]:
        """Batch ids folded into the committed state (replay ledger)."""
        v = self.current_version()
        if v == 0:
            return []
        with open(os.path.join(self._vdir(v), "batches.json")) as f:
            return json.load(f)

    def _read_state(self, spark: SparkSession, v: int) -> DataFrame:
        vdir = self._vdir(v)
        try:
            with open(os.path.join(vdir, "schema.json")) as f:
                schema = json.load(f)
        except FileNotFoundError:
            schema = None
        return _read_parquet(spark, [(os.path.join(vdir, "data.parquet"), schema)])

    # ---- the merge algebra ---------------------------------------------
    def _partial(self, delta: DataFrame) -> DataFrame:
        exprs = [
            _PARTIAL[fn][0](col).alias(alias)
            for alias, (fn, col) in self.aggs.items()
        ]
        return delta.groupBy(*self.keys).agg(*exprs)

    def _merge(self, state: DataFrame, partial: DataFrame) -> DataFrame:
        exprs = [
            _PARTIAL[fn][1](alias).alias(alias)
            for alias, (fn, _col) in self.aggs.items()
        ]
        return state.unionByName(partial).groupBy(*self.keys).agg(*exprs)

    # ---- spec guard -------------------------------------------------------
    _SPEC_FILE = "_SPEC.json"

    def _check_or_write_spec(self) -> None:
        """First refresh records the state-defining spec; every later
        refresh validates against it, so reopening an existing view
        directory with different keys/aggs (or a wrapper's different
        width/depth via ``spec_extra``) fails loudly instead of silently
        sum-merging same-named-but-differently-bucketed state."""
        spec_path = os.path.join(self.path, self._SPEC_FILE)
        if os.path.exists(spec_path):
            with open(spec_path) as f:
                on_disk = json.load(f)
            if on_disk != self._spec:
                raise ValueError(
                    f"view at {self.path} was built with a different spec:\n"
                    f"  on disk: {on_disk}\n  this instance: {self._spec}\n"
                    "merging deltas across specs would corrupt the state; "
                    "use a new path (or rebuild) to change the spec"
                )
            return
        _write_json_durable(spec_path, self._spec)

    # ---- public API -----------------------------------------------------
    def refresh(self, spark: SparkSession, delta: DataFrame, batch_id: str) -> bool:
        """Fold one delta batch into the view. Returns False (no-op) when
        ``batch_id`` was already applied — safe to call from foreachBatch
        or a retried job. The delta is scanned ONCE; history is never
        rescanned.

        By default the ledger carries every applied batch id (at one
        epoch a minute that is ~10 MB/year of JSON, reloaded and
        rewritten per refresh — deliberate: exact replay protection over
        the view's whole life). ``ledger_cap`` keeps only the newest N
        ids, trading full-history replay detection for O(cap) ledger
        I/O — safe when replays can only arrive within a bounded horizon
        (Structured Streaming re-sends recent epochs, not ancient
        ones)."""
        self._check_or_write_spec()
        applied = self.applied_batches()
        if batch_id in applied:
            return False
        self._gc_orphans()
        partial = self._partial(delta)
        v = self.current_version()
        state = partial if v == 0 else self._merge(self._read_state(spark, v), partial)
        nxt = self._vdir(v + 1)
        state.repartition(self.n_buckets, *self.keys).write.mode(
            "error"
        ).parquet(os.path.join(nxt, "data.parquet"))
        ledger = [*applied, batch_id]
        if self.ledger_cap is not None:
            ledger = ledger[-self.ledger_cap:]
        _write_json_durable(os.path.join(nxt, "batches.json"), ledger)
        _write_json_durable(os.path.join(nxt, "schema.json"), _schema_record(state))
        tmp = os.path.join(self.path, _POINTER + ".tmp")
        with open(tmp, "w") as f:
            f.write(str(v + 1))
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, os.path.join(self.path, _POINTER))  # THE commit
        return True

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """The rollup at ``version`` (default: latest committed), with
        derived columns appended. Version 0 / empty view → empty frame
        with the declared schema (keys as-is requires ≥1 refresh, so 0
        raises instead of guessing key types).

        Runs the spec guard: every sketch/monitor wrapper read delegates
        here, and a wrapper constructed with a different width/depth/
        n_bins would otherwise DERIVE silently wrong estimates from
        existing state (reads re-apply constructor parameters just as
        merges do)."""
        self._check_or_write_spec()
        v = self.current_version() if version is None else version
        if v == 0:
            raise ValueError("view has no committed version yet")
        if v > self.current_version():
            raise ValueError(
                f"version {v} not committed (current={self.current_version()})"
            )
        df = self._read_state(spark, v)
        for alias, fn in self.derive.items():
            df = df.withColumn(alias, _as_column(fn(df)))
        return df

    def vacuum(self, keep_last: int = 2) -> list[int]:
        """Drop committed versions older than the newest ``keep_last``
        (time-travel window). Returns the removed version numbers. The
        current version is always kept — ``keep_last`` < 1 is rejected,
        because range(1, cur+1) would rmtree the committed state itself
        and leave a pointer to nothing."""
        if keep_last < 1:
            raise ValueError(f"keep_last must be >= 1, got {keep_last}")
        cur = self.current_version()
        removed = []
        for v in range(1, max(1, cur - keep_last + 1)):
            d = self._vdir(v)
            if os.path.exists(d):
                shutil.rmtree(d)
                removed.append(v)
        return removed

    def _gc_orphans(self) -> None:
        """Remove version dirs ABOVE the committed pointer — debris from a
        crash between state write and pointer flip. Never adopted (the
        write may be partial); the interrupted batch simply re-applies."""
        cur = self.current_version()
        for name in os.listdir(self.path):
            if name.startswith("v") and name[1:].isdigit() and int(name[1:]) > cur:
                shutil.rmtree(os.path.join(self.path, name))


def _as_column(c) -> Column:
    return c if isinstance(c, Column) else F.lit(c)


class FrequencySketchView:
    """Incremental frequency sketch: Count-Min cells as the stored state.

    CM cells merge by per-(row, col_idx) SUM (sketches.py::count_min_merge
    — associative + commutative, NOT idempotent, so unlike the HLL view
    the replay LEDGER is what makes at-least-once delivery safe: a
    re-sent batch would double-count cells, and refresh() drops it).
    State is ≤ depth×width rows forever; point estimates broadcast the
    sketch against any probe set without touching raw history.
    """

    def __init__(
        self, path: str, value_col: str, depth: int | None = None,
        width: int | None = None, n_buckets: int = 8,
    ) -> None:
        from machinelearningalgomapreduce_spark.operators.sketches import (
            CM_DEPTH,
            CM_WIDTH,
        )

        self.value_col = value_col
        self.depth = CM_DEPTH if depth is None else depth
        self.width = CM_WIDTH if width is None else width
        self._mv = IncrementalAggView(
            path,
            keys=["row", "col_idx"],
            aggs={"cnt": ("sum", "cnt")},
            n_buckets=n_buckets,
            spec_extra={"sketch": "count_min", "value_col": value_col,
                        "depth": self.depth, "width": self.width},
        )

    def refresh(self, spark: SparkSession, delta: DataFrame, batch_id: str) -> bool:
        from machinelearningalgomapreduce_spark.operators.sketches import (
            count_min_build,
        )

        cells = count_min_build(delta, self.value_col, self.depth, self.width)
        return self._mv.refresh(spark, cells, batch_id)

    def cells(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        return self._mv.read(spark, version)

    def estimate(
        self, spark: SparkSession, items: DataFrame, col: str | None = None,
        version: int | None = None,
    ) -> DataFrame:
        """Point-frequency estimates (min over depth cells; ≥ true count)
        for the ``items`` frame's ``col`` (default: the sketched column)."""
        from machinelearningalgomapreduce_spark.operators.sketches import (
            count_min_estimate,
        )

        return count_min_estimate(
            self.cells(spark, version), items, col or self.value_col,
            self.depth, self.width,
        )

    def current_version(self) -> int:
        return self._mv.current_version()

    def applied_batches(self) -> list[str]:
        return self._mv.applied_batches()

    def vacuum(self, keep_last: int = 2) -> list[int]:
        return self._mv.vacuum(keep_last)


class DistinctCountView:
    """Incremental per-group distinct-count view: HLL register rows as
    the stored state, maintained by the IncrementalAggView max-merge.

    count-distinct is NOT algebraic over raw rows — but the explicit HLL
    register table (sketches.py::hll_register_rows) is: registers merge
    by plain per-(group, reg) ``max``, which is exactly the aggs algebra
    IncrementalAggView already guarantees (associative, commutative,
    idempotent — replay-safe even WITHOUT the ledger). So the view stores
    ≤ HLL_M rows per group, each refresh scans only the delta, and any
    merge history yields the bit-identical register state a one-pass
    build produces (the property test asserts frame equality, which makes
    the derived estimate identical too, not merely close).

    100 TB shape: the state is O(groups·m) rows forever; a refresh is one
    map-side-combined register build over the delta plus an O(state)
    re-max. Estimates never touch raw data. Inherits versioning, the
    atomic pointer commit, the replay ledger, time travel, and vacuum.
    """

    def __init__(
        self,
        path: str,
        keys: list[str],
        value_col: str,
        n_buckets: int = 8,
    ) -> None:
        self.keys = list(keys)
        self.value_col = value_col
        self._mv = IncrementalAggView(
            path,
            keys=[*keys, "reg"],
            aggs={"max_rank": ("max", "max_rank")},
            n_buckets=n_buckets,
            spec_extra={"sketch": "hll_registers", "value_col": value_col},
        )

    def refresh(self, spark: SparkSession, delta: DataFrame, batch_id: str) -> bool:
        from machinelearningalgomapreduce_spark.operators.sketches import (
            hll_register_rows,
        )

        rows = hll_register_rows(delta, self.value_col, tuple(self.keys))
        return self._mv.refresh(spark, rows, batch_id)

    def registers(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """The committed register state (keys + reg + max_rank)."""
        return self._mv.read(spark, version)

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """One row per group: (keys..., n_zero, est_distinct)."""
        from machinelearningalgomapreduce_spark.operators.sketches import (
            hll_estimate_by,
        )

        return hll_estimate_by(self.registers(spark, version), tuple(self.keys))

    # version bookkeeping passes straight through to the inner view
    def current_version(self) -> int:
        return self._mv.current_version()

    def applied_batches(self) -> list[str]:
        return self._mv.applied_batches()

    def vacuum(self, keep_last: int = 2) -> list[int]:
        return self._mv.vacuum(keep_last)


class QuantileHistogramView:
    """Incremental quantile view: an equi-width integer-cents histogram
    (sketches.py::quantile_hist_build) as the stored state, maintained by
    the IncrementalAggView sum-merge.

    Quantiles are NOT algebraic over raw rows — but the fixed-width bin
    table is: bins merge by plain per-bucket ``sum`` (associative,
    commutative — NOT idempotent, so like the Count-Min view the replay
    LEDGER is what makes at-least-once delivery exactly-once). Any merge
    history yields the bit-identical bin table a one-pass build produces,
    so the derived quantile estimates are identical too, with error
    bounded by one bin width against the true quantile.

    100 TB shape: state is O(value range / width) rows forever (~210 for
    lineitem prices); a refresh is one map-side-combined bin count over
    the delta plus an O(bins) re-sum. Estimates never touch raw data.
    Inherits versioning, the atomic pointer commit, the replay ledger,
    time travel, and vacuum."""

    def __init__(
        self, path: str, value_col: str, width: int | None = None,
        n_buckets: int = 8,
    ) -> None:
        from machinelearningalgomapreduce_spark.operators.sketches import (
            QHIST_WIDTH,
        )

        self.value_col = value_col
        self.width = QHIST_WIDTH if width is None else width
        self._mv = IncrementalAggView(
            path,
            keys=["bucket"],
            aggs={"cnt": ("sum", "cnt")},
            n_buckets=n_buckets,
            spec_extra={"sketch": "quantile_hist", "value_col": value_col,
                        "width": self.width},
        )

    def refresh(self, spark: SparkSession, delta: DataFrame, batch_id: str) -> bool:
        from machinelearningalgomapreduce_spark.operators.sketches import (
            quantile_hist_build,
        )

        bins = quantile_hist_build(delta, self.value_col, self.width)
        return self._mv.refresh(spark, bins, batch_id)

    def bins(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """The committed bin table (bucket, cnt)."""
        return self._mv.read(spark, version)

    def estimate(
        self, spark: SparkSession, pcts: tuple[int, ...] | None = None,
        version: int | None = None,
    ) -> DataFrame:
        """Upper-bound quantile estimates (pct, est_cents) from the
        committed bins — first bucket whose cumulative count reaches
        pct% of N, reported as its exclusive upper bound in cents."""
        from machinelearningalgomapreduce_spark.operators.sketches import (
            QHIST_PCTS,
            quantile_hist_estimate,
        )

        return quantile_hist_estimate(
            self.bins(spark, version),
            QHIST_PCTS if pcts is None else pcts,
            self.width,
        )

    def current_version(self) -> int:
        return self._mv.current_version()

    def applied_batches(self) -> list[str]:
        return self._mv.applied_batches()

    def vacuum(self, keep_last: int = 2) -> list[int]:
        return self._mv.vacuum(keep_last)


def _content_key(batch: DataFrame) -> str:
    """Order- and partitioning-independent fingerprint of a micro-batch:
    row count + the BIGINT sum of a per-row 52-bit md5 slice over the
    json-rendered row. Two deliveries of the same data always produce
    the same key; epoch NUMBERS do not survive a checkpoint change (a
    fresh checkpoint renumbers from 0, so a backfilled file can steal
    epoch-0 from an already-applied batch and be silently dropped while
    the old batches double-count under new numbers)."""
    def _slice_sum(salt: str, lo: int):
        # DECIMAL(38,0) accumulator: exact and order-free like BIGINT but
        # the sum of n 52-bit terms fits for any realistic n (BIGINT
        # overflows — ANSI-errors — past ~4k rows)
        return F.coalesce(
            F.sum(
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit(salt), F.to_json(F.struct(*batch.columns))
                            )
                        ),
                        lo,
                        13,
                    ),
                    16,
                    10,
                )
                .cast("bigint")
                .cast("decimal(38,0)")
            ),
            F.lit(0).cast("decimal(38,0)"),
        )

    # TWO independently-salted 52-bit sums: a single additive fingerprint
    # admits multiset-sum collisions between genuinely distinct batches
    # (~2^-52 per pair, compounding over a years-long ledger); requiring
    # both sums AND the count to collide pushes that to ~2^-104.
    row = batch.agg(
        F.count(F.lit(1)).alias("n"),
        _slice_sum("", 1).alias("s1"),
        _slice_sum("cksalt:", 14).alias("s2"),
    ).collect()[0]
    return f"content-{row['n']}-{row['s1']}-{row['s2']}"


def mv_ingest_stream(
    spark: SparkSession,
    source: DataFrame,
    view,  # anything with refresh(spark, delta, batch_id) -> bool
    checkpoint_dir: str,
    compact_every: int | None = None,
):
    """Maintain a materialized view from a stream — any of this module's
    view classes (IncrementalAggView, SegmentedAggView, the sketch views,
    DriftMonitorView) via their shared refresh contract: each micro-batch is
    one ``refresh`` call keyed by a CONTENT fingerprint (not the epoch
    number), so Structured Streaming's at-least-once foreachBatch
    delivery composes with the batch ledger into exactly-once view state
    across retries, restarts, AND checkpoint resets — a replayed or
    re-numbered delivery of the same rows no-ops, while new data under a
    recycled epoch number still applies. Consequence to be aware of: two
    GENUINELY distinct batches with byte-identical content are also
    treated as a replay (for an aggregate-maintenance view that is the
    safe default; feed an event-time column through the aggregation if
    duplicate deltas must both count). Costs one extra aggregate over
    the delta per batch.

    ``compact_every`` (segmented views only — refresh must accept
    ``compact=`` and expose ``segments()``): the maintenance SCHEDULE
    knob. Per-batch compaction (the default, None) keeps the segment
    invariant tight but puts the merge job on the ingest latency path;
    ``compact_every=N`` defers it — each refresh stays a pure O(delta)
    append and compact() runs whenever N or more segments are LIVE. The
    trigger is derived from the view's own durable manifest, not an
    in-memory counter: a stream that restarts (checkpoint resume) every
    few batches would reset a closure counter and never compact, letting
    read amplification grow unboundedly. Reads are correct under ANY
    deferral (the merge algebra needs no invariant); call
    ``view.compact`` once more in an off-peak window after the stream
    drains."""
    if compact_every is not None:
        if compact_every < 1:
            raise ValueError(f"compact_every must be >= 1, got {compact_every}")
        if not hasattr(view, "compact") or not hasattr(view, "segments"):
            raise TypeError(
                f"{type(view).__name__} has no compact()/segments() — "
                "compact_every only applies to segmented views"
            )

    def fold(batch: DataFrame, batch_id: int) -> None:
        if compact_every is None:
            view.refresh(spark, batch, batch_id=_content_key(batch))
            return
        view.refresh(spark, batch, batch_id=_content_key(batch), compact=False)
        if len(view.segments()) >= compact_every:
            view.compact(spark)

    return (
        source.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


class DriftMonitorView:
    """Incremental serving-drift monitor: the MV form of q_psi
    (operators/classifier.py). State is the per-(group, bin) event count
    under FIXED equal-width bounds — plain sum-merge, so any delta
    partitioning/order yields the bit-identical bin table (the
    QuantileHistogramView argument). A pinned REFERENCE snapshot of
    that state (``set_reference``) defines the training-window
    distribution; ``psi`` derives, per group, the population-stability
    index of everything ingested AFTER the pin (current − reference
    counts — exact integer subtraction, so the "serving window" needs
    no second view) against the reference, with the conventional
    stable/drifting/shifted bands.

    Bounds are fixed at construction: equal-width binning is only
    mergeable when every partial uses the same grid (at scale the
    feature range comes from the training profile, not the delta).
    Values outside [lo, hi) clamp to the edge bins, same as q_psi's
    `least` guard. The reference is an immutable copied snapshot
    (``_ref-v*`` + atomic pointer), so vacuum of old versions never
    invalidates it.

    100 TB shape: state is O(groups × bins) forever; a refresh is one
    map-side-combined count over the delta + an O(state) re-sum; psi
    reads two O(state) tables and never touches raw data. Inherits the
    version pointer, replay ledger, time travel, and vacuum."""

    def __init__(
        self, path: str, group_col: str, value_col: str,
        lo: float, hi: float, n_bins: int = 10, n_buckets: int = 8,
    ) -> None:
        if not hi > lo:
            raise ValueError(f"need hi > lo, got [{lo}, {hi})")
        self.path = path
        self.group_col = group_col
        self.value_col = value_col
        self.lo, self.hi, self.n_bins = float(lo), float(hi), int(n_bins)
        self._mv = IncrementalAggView(
            path,
            keys=["grp", "bin"],
            aggs={"cnt": ("sum", "cnt")},
            n_buckets=n_buckets,
            spec_extra={
                "monitor": "psi_drift", "group_col": group_col,
                "value_col": value_col, "lo": self.lo, "hi": self.hi,
                "n_bins": self.n_bins,
            },
        )

    def _binned(self, delta: DataFrame) -> DataFrame:
        b = F.least(
            F.greatest(
                F.floor(
                    (F.col(self.value_col) - self.lo)
                    * float(self.n_bins) / (self.hi - self.lo)
                ),
                F.lit(0),
            ),
            F.lit(self.n_bins - 1),
        ).cast("bigint")
        # NULL feature values get their own bin −1: NULL would propagate
        # through the arithmetic, and NULL-keyed state rows silently fall
        # out of psi()'s grid join — making the classic upstream-breakage
        # drift (values going NULL) invisible to the monitor.
        b = F.coalesce(b, F.lit(-1).cast("bigint"))
        return (
            delta.select(F.col(self.group_col).alias("grp"), b.alias("bin"))
            .groupBy("grp", "bin")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    def refresh(self, spark: SparkSession, delta: DataFrame, batch_id: str) -> bool:
        return self._mv.refresh(spark, self._binned(delta), batch_id)

    def bins(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        return self._mv.read(spark, version)

    # -- reference pin ----------------------------------------------------
    def set_reference(self, spark: SparkSession, version: int | None = None) -> int:
        """Snapshot the committed state as the pinned reference
        distribution; returns the pinned version. Crash-safe like a
        refresh: the snapshot directory is written completely, then ONE
        atomic pointer flip adopts it."""
        v = self._mv.current_version() if version is None else version
        if v == 0:
            raise ValueError("cannot pin a reference before the first refresh")
        ref_dir = os.path.join(self.path, f"_ref-v{v:08d}")
        if not os.path.exists(ref_dir):
            tmp = ref_dir + ".inprogress"
            shutil.rmtree(tmp, ignore_errors=True)
            self._mv.read(spark, v).write.mode("overwrite").parquet(
                os.path.join(tmp, "data.parquet")
            )
            os.replace(tmp, ref_dir)
        with open(os.path.join(self.path, "_REF.tmp"), "w") as fh:
            fh.write(f"{v}")
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(
            os.path.join(self.path, "_REF.tmp"), os.path.join(self.path, "_REF")
        )
        # reclaim superseded reference snapshots: without this every
        # re-pin leaks an O(groups×bins) _ref-v* directory forever (the
        # inner view's vacuum only manages bare v* state dirs). Single
        # writer by design; a reader racing a re-pin re-resolves the
        # pointer on its next call.
        for name in sorted(os.listdir(self.path)):
            if (
                name.startswith("_ref-v")
                and name[6:].isdigit()
                and int(name[6:]) != v
            ):
                shutil.rmtree(os.path.join(self.path, name))
        return v

    def reference_version(self) -> int:
        ptr = os.path.join(self.path, "_REF")
        if not os.path.exists(ptr):
            return 0
        return int(open(ptr).read().strip())

    def reference(self, spark: SparkSession) -> DataFrame:
        v = self.reference_version()
        if v == 0:
            raise ValueError("no reference pinned — call set_reference first")
        return spark.read.parquet(
            os.path.join(self.path, f"_ref-v{v:08d}", "data.parquet")
        )

    # -- derived drift ----------------------------------------------------
    def psi(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Per-group PSI of post-reference ingest vs the reference:
        (grp, n_ref, n_cur, psi_micro, band). The q_psi determinism
        discipline — 0.5 half-count smoothing over the FULL bin grid,
        round-6 ln terms summed as DECIMAL(18,6), micro fixed-point.

        `version` must be at or after the pinned reference: an older
        snapshot would make n_new = cur − ref negative and the log terms
        meaningless, so it is rejected rather than silently coalesced."""
        ref_v = self.reference_version()
        v = self.current_version() if version is None else version
        if v < ref_v:
            raise ValueError(
                f"psi version {v} predates the pinned reference v{ref_v} — "
                "post-reference ingest is undefined before the pin"
            )
        ref = self.reference(spark).select(
            "grp", "bin", F.col("cnt").alias("ref_cnt")
        )
        cur = self.bins(spark, version).select(
            "grp", "bin", F.col("cnt").alias("cur_cnt")
        )
        both = cur.join(ref, ["grp", "bin"], "full")
        # grid = the value bins 0..n_bins-1, PLUS the NULL bin (−1) for
        # exactly the groups where either side actually has NULL counts —
        # so NULL drift is measured when present, and groups without
        # NULLs keep the standard n_bins smoothing denominator.
        grid = (
            both.select("grp").distinct()
            .select(
                "grp",
                F.explode(
                    F.sequence(F.lit(0), F.lit(self.n_bins - 1))
                ).alias("bin0"),
            )
            .select("grp", F.col("bin0").cast("bigint").alias("bin"))
            .unionByName(
                both.filter(F.col("bin") == -1).select("grp", "bin").distinct()
            )
        )
        joined = (
            grid.join(both, ["grp", "bin"], "left")
            .select(
                "grp",
                "bin",
                F.coalesce("ref_cnt", F.lit(0)).alias("n_ref"),
                (F.coalesce("cur_cnt", F.lit(0)) - F.coalesce("ref_cnt", F.lit(0))).alias("n_new"),
            )
        )
        tot = joined.groupBy("grp").agg(
            F.sum("n_ref").cast("double").alias("tot_ref"),
            F.sum("n_new").cast("double").alias("tot_new"),
        )
        # nullif guards: a group with no post-pin ingest (tot_new = 0) or
        # one unseen at pin time (tot_ref = 0) has no defined PSI — terms
        # go NULL, psi coalesces to 0 and the band reports the situation
        # explicitly instead of a drift verdict.
        p = (F.col("n_ref") + 0.5) / F.nullif(F.col("tot_ref"), F.lit(0.0))
        q = (F.col("n_new") + 0.5) / F.nullif(F.col("tot_new"), F.lit(0.0))
        term = F.round((p - q) * F.log(p / q), 6).cast("decimal(18,6)")
        scored = joined.join(tot, "grp").groupBy("grp").agg(
            F.sum("n_ref").cast("bigint").alias("n_ref"),
            F.sum("n_new").cast("bigint").alias("n_cur"),
            F.sum(term).alias("psi_sum"),
        )
        psi = F.coalesce(F.col("psi_sum").cast("double"), F.lit(0.0))
        return scored.select(
            "grp",
            "n_ref",
            "n_cur",
            F.floor(psi * 1000000.0 + F.lit(0.5)).cast("bigint").alias("psi_micro"),
            F.when(F.col("n_cur") == 0, F.lit("no_serving_data"))
            .when(F.col("n_ref") == 0, F.lit("new_group"))
            .when(psi < 0.1, F.lit("stable"))
            .when(psi <= 0.25, F.lit("drifting"))
            .otherwise(F.lit("shifted"))
            .alias("band"),
        )

    def current_version(self) -> int:
        return self._mv.current_version()

    def applied_batches(self) -> list[str]:
        return self._mv.applied_batches()

    def vacuum(self, keep_last: int = 2) -> list[int]:
        return self._mv.vacuum(keep_last)


class SegmentedAggView:
    """LSM-style segmented twin of IncrementalAggView: O(delta) refresh
    writes, size-tiered compaction, identical read semantics.

    IncrementalAggView rewrites the FULL O(groups) state on every
    refresh — correct, but at 100 TB with a wide key domain and a
    minute-cadence stream that is the classic write-amplification
    problem: a 10 TB state rewritten per minute to absorb a 100 MB
    delta. This view instead appends each delta's partial aggregate as
    an immutable SEGMENT (O(delta-groups) rows written, state never
    read on the write path) and re-aggregates the union of live
    segments at READ time — sound because the merge algebra
    (count/sum/min/max) is associative + commutative, so any segment
    partitioning and any merge order yield the identical rollup.

    Unbounded segment lists would make reads O(#batches), so a
    SIZE-TIERED compactor (the Bigtable/Cassandra policy) bounds them:
    every segment carries a ``weight`` (number of delta batches folded
    into it); tier(seg) = floor(log_fanout(weight)); whenever a tier
    accumulates ``fanout`` members, they merge into ONE segment of the
    next tier (one distributed union-re-aggregate job over just those
    segments). Each row is therefore rewritten at most
    O(log_fanout(#batches)) times over the view's life — vs O(#batches)
    for the flat view — and a read unions at most
    O(fanout · log_fanout(#batches)) segments.

    Storage layout (all inside ``path``)::

        _CURRENT            ← committed manifest version number
        _SPEC.json          ← state-defining spec (same guard as the flat view)
        m00000001.json      ← manifest: live segments + replay ledger
        seg-00000001/       ← immutable parquet partial (data.parquet)

    Each manifest segment is ``{"dir", "weight", "schema"}``: the schema
    of the frame written, recorded at write time (analysis only, no job).
    A read therefore infers nothing — it is ONE schema-pinned parquet
    scan per distinct schema across the live segments (normally one scan
    in total), and ``unionByName`` runs only between schemas that really
    differ (e.g. a key that arrived as int, then as bigint). Segments
    from manifests written before schemas were recorded are read
    together with one inference job.

    Crash safety mirrors IncrementalAggView: segments and the new
    manifest are fully written BEFORE the one atomic pointer flip;
    a crash leaves unreferenced seg-*/m* debris that readers never see
    (the pointer still names the old manifest) and ``vacuum`` removes.
    Replay: the manifest's ledger makes re-sent batch_ids no-ops, so
    at-least-once delivery yields exactly-once state. Time travel:
    ``read(version=...)`` resolves an older manifest; compaction never
    deletes segments (old manifests stay resolvable) — ``vacuum``
    drops old manifests and then any segment no kept manifest
    references.

    Single writer by design, like the flat view. Derived columns
    (``derive``) compute on read from the merged parts.
    """

    _SPEC_FILE = "_SPEC.json"

    def __init__(
        self,
        path: str,
        keys: list[str],
        aggs: dict[str, tuple[str, str]],
        derive: dict[str, "callable"] | None = None,
        fanout: int = 4,
        n_buckets: int = 8,
        spec_extra: dict | None = None,
        ledger_cap: int | None = None,
    ) -> None:
        if not keys:
            raise ValueError("SegmentedAggView needs at least one group key")
        if fanout < 2:
            raise ValueError(f"fanout must be >= 2, got {fanout}")
        if ledger_cap is not None and ledger_cap < 1:
            raise ValueError(f"ledger_cap must be >= 1 or None, got {ledger_cap}")
        self.ledger_cap = ledger_cap
        for alias, (fn, _col) in aggs.items():
            if fn not in _PARTIAL:
                raise ValueError(
                    f"agg {alias!r}: {fn!r} is not mergeable "
                    f"(supported: {sorted(_PARTIAL)})"
                )
            if alias in keys:
                raise ValueError(f"agg alias {alias!r} collides with a key")
        self.path = path
        self.keys = list(keys)
        self.aggs = dict(aggs)
        self.derive = dict(derive or {})
        self.fanout = int(fanout)
        self.n_buckets = int(n_buckets)
        # fanout is part of the spec: reopening with a different fanout
        # would re-tier existing segments and break the amortization
        # invariant mid-chain (weights stay valid, but the written
        # guarantee changes silently). keys/aggs are state-defining as in
        # the flat view; n_buckets/derive are layout/read-time only.
        self._spec = {
            "keys": self.keys,
            "aggs": {a: list(v) for a, v in self.aggs.items()},
            "fanout": self.fanout,
            "extra": spec_extra or {},
        }
        os.makedirs(path, exist_ok=True)

    # ---- pointers & manifests ------------------------------------------
    def current_version(self) -> int:
        try:
            with open(os.path.join(self.path, _POINTER)) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return 0

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.path, f"m{version:08d}.json")

    def _manifest(self, version: int) -> dict:
        with open(self._manifest_path(version)) as f:
            return json.load(f)

    def segments(self, version: int | None = None) -> list[dict]:
        """Live segment descriptors [{dir, weight, schema}] at ``version``."""
        v = self.current_version() if version is None else version
        if v == 0:
            return []
        return self._manifest(v)["segments"]

    def applied_batches(self) -> list[str]:
        v = self.current_version()
        return self._manifest(v)["batches"] if v else []

    def _tier(self, weight: int) -> int:
        t = 0
        while weight >= self.fanout ** (t + 1):
            t += 1
        return t

    def _check_or_write_spec(self) -> None:
        spec_path = os.path.join(self.path, self._SPEC_FILE)
        if os.path.exists(spec_path):
            with open(spec_path) as f:
                on_disk = json.load(f)
            if on_disk != self._spec:
                raise ValueError(
                    f"view at {self.path} was built with a different spec:\n"
                    f"  on disk: {on_disk}\n  this instance: {self._spec}\n"
                    "use a new path (or rebuild) to change the spec"
                )
            return
        _write_json_durable(spec_path, self._spec)

    # ---- merge algebra (shared shapes with the flat view) ---------------
    def _partial(self, delta: DataFrame) -> DataFrame:
        exprs = [
            _PARTIAL[fn][0](col).alias(alias)
            for alias, (fn, col) in self.aggs.items()
        ]
        return delta.groupBy(*self.keys).agg(*exprs)

    def _reagg(self, df: DataFrame) -> DataFrame:
        exprs = [
            _PARTIAL[fn][1](alias).alias(alias)
            for alias, (fn, _col) in self.aggs.items()
        ]
        return df.groupBy(*self.keys).agg(*exprs)

    def _union_segments(self, spark: SparkSession, segs: list[dict]) -> DataFrame:
        return _read_parquet(spark, [
            (os.path.join(self.path, s["dir"], "data.parquet"), s.get("schema"))
            for s in segs
        ])

    def _next_seg_id(self) -> int:
        mx = 0
        for name in os.listdir(self.path):
            sid = _seg_id_of(name)
            if sid is not None:
                mx = max(mx, sid)
        return mx + 1

    def _write_segment(self, df: DataFrame, weight: int = 1) -> dict:
        """Write ``df`` as a new segment; returns its manifest descriptor."""
        name = _new_seg_name(self._next_seg_id())
        df.repartition(self.n_buckets, *self.keys).write.mode("error").parquet(
            os.path.join(self.path, name, "data.parquet")
        )
        return {"dir": name, "weight": weight, "schema": _schema_record(df)}

    def _commit(self, segments: list[dict], batches: list[str], base_v: int) -> int:
        # Commit at base_v+1 where base_v is the version the CONTENT was
        # derived from — NOT the pointer at commit time (r12): reading
        # the pointer here would let a writer that based its manifest on
        # v0 commit cleanly at v2 after a competitor's flip, silently
        # dropping the competitor's segment with no collision at all.
        # Pinning to the read version makes any lost-update race a loud
        # version collision (the optimistic-concurrency version check).
        v = base_v + 1
        # exclusive: a concurrent writer that already committed this
        # version raises here instead of silently dropping one batch
        # from the ledger via a last-pointer-flip-wins overwrite.
        # above_pointer_fn: a colliding manifest at/below the committed
        # pointer is COMMITTED state, never an age-based orphan — raise
        # the collision so the rebase-retry serializes behind it.
        wrote = {"segments": segments, "batches": batches}
        _write_json_durable(
            self._manifest_path(v), wrote, exclusive=True,
            above_pointer_fn=lambda: self.current_version() < v,
        )
        ptmp = os.path.join(self.path, _POINTER + ".tmp")
        with open(ptmp, "w") as f:
            f.write(str(v))
            f.flush()
            os.fsync(f.fileno())
        os.replace(ptmp, os.path.join(self.path, _POINTER))  # THE commit
        # Post-commit verification (r12 ADVICE): a writer paused longer
        # than MANIFEST_ORPHAN_SECONDS between its manifest link and this
        # pointer flip can have its manifest reclaimed as an "orphan" by
        # a concurrent writer — the flip above then commits the OTHER
        # writer's manifest and this batch would vanish silently. One
        # cheap re-read turns that race back into a loud failure.
        if self._manifest(v) != wrote:
            raise ValueError(
                f"post-commit verification failed at version {v} of "
                f"{self.path}: the committed manifest is not the one this "
                "writer linked (a concurrent writer reclaimed it as an "
                "orphan during a long pause) — this batch was NOT "
                "committed and must be retried"
            )
        return v

    # ---- public API ------------------------------------------------------
    def refresh(
        self, spark: SparkSession, delta: DataFrame, batch_id: str,
        compact: bool = True,
    ) -> bool:
        """Append one delta batch as a weight-1 segment (O(delta) work —
        existing state is NOT read), then run any due size-tiered
        compactions. Returns False (no-op) for an already-applied
        batch_id. ``compact=False`` defers compaction (e.g. to an
        off-peak maintenance call of ``compact()``)."""
        self._check_or_write_spec()
        seg = None
        for attempt in range(_COMMIT_RETRIES + 1):
            v = self.current_version()
            manifest = self._manifest(v) if v else {"segments": [], "batches": []}
            applied = manifest["batches"]
            if batch_id in applied:
                if seg is not None:
                    # a rebase found a competitor already committed THIS
                    # batch id (concurrent replay) — our written segment
                    # is referenced by no manifest; reclaim it instead of
                    # leaking it until vacuum (r12 review)
                    shutil.rmtree(os.path.join(self.path, seg["dir"]), ignore_errors=True)
                return False
            if seg is None:  # the delta is written once; retries re-ledger it
                seg = self._write_segment(self._partial(delta))
            ledger = [*applied, batch_id]
            if self.ledger_cap is not None:
                # Same trade as the flat view's ledger_cap: O(cap) manifest
                # I/O per refresh, replay protection only within the newest
                # cap batch ids (safe when replays arrive within a bounded
                # horizon, as Structured Streaming's do).
                ledger = ledger[-self.ledger_cap:]
            try:
                self._commit([*manifest["segments"], seg], ledger, base_v=v)
                break
            except ValueError as e:
                # Bounded rebase-retry (VERDICT r11 item 5): a LIVE
                # competing writer won this version — wait for its pointer
                # flip, rebase on its committed manifest (which now also
                # carries its segment + batch id), retry at the next
                # version. Anything else (an orphan that never flips,
                # exhausted retries, non-collision errors) surfaces.
                if (
                    "version collision" not in str(e)
                    or attempt == _COMMIT_RETRIES
                ):
                    raise
                _await_rebase(self.current_version, v, e)
        if compact:
            self.compact(spark)
        return True

    def compact(self, spark: SparkSession) -> int:
        """Run compaction rounds until the policy (``_victims``) finds
        nothing due. Each round merges the victims into ONE segment of
        combined weight (one union-re-aggregate job over just those
        segments — the rest of the state is untouched) and commits the
        survivors plus that segment. Returns the number of merge rounds
        executed."""
        # compaction RE-APPLIES the merge algebra and rewrites state, so
        # a wrong-spec instance must fail loudly here, not corrupt disk
        self._check_or_write_spec()
        rounds = 0
        while True:
            v0 = self.current_version()  # version the merge is derived from
            segs = self.segments(v0)
            tiers: dict[int, list[dict]] = {}
            for s in segs:
                tiers.setdefault(self._tier(s["weight"]), []).append(s)
            victims = self._victims(tiers)
            if not victims:
                return rounds
            merged = self._reagg(self._union_segments(spark, victims))
            new_seg = self._write_segment(merged, sum(s["weight"] for s in victims))
            victim_dirs = {s["dir"] for s in victims}
            survivors = [s for s in segs if s["dir"] not in victim_dirs]
            self._commit([*survivors, new_seg], self.applied_batches(), base_v=v0)
            rounds += 1

    def _victims(self, tiers: dict[int, list[dict]]) -> list[dict] | None:
        """Size-tiered policy: the smallest-weight ``fanout`` members of
        the LOWEST tier holding ``fanout`` or more segments (so merges
        cascade upward naturally); None when no tier is due."""
        due = [t for t, members in tiers.items() if len(members) >= self.fanout]
        if not due:
            return None
        return sorted(tiers[min(due)], key=lambda s: (s["weight"], s["dir"]))[
            : self.fanout
        ]

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """The rollup at ``version`` (default latest): union of that
        manifest's segments, re-aggregated, derived columns appended.

        Unlike the flat view (whose read is a plain parquet scan), this
        read RE-APPLIES the merge algebra — so the spec guard runs here
        too: summing another spec's max partials would silently return
        garbage instead of failing."""
        self._check_or_write_spec()
        v = self.current_version() if version is None else version
        if v == 0:
            raise ValueError("view has no committed version yet")
        if v > self.current_version():
            raise ValueError(
                f"version {v} not committed (current={self.current_version()})"
            )
        df = self._reagg(self._union_segments(spark, self.segments(v)))
        for alias, fn in self.derive.items():
            df = df.withColumn(alias, _as_column(fn(df)))
        return df

    def vacuum(self, keep_last: int = 2) -> list[str]:
        """Drop manifests older than the newest ``keep_last``, then every
        segment directory no kept manifest references (compaction
        leaves old segments on disk precisely so old manifests stay
        time-travel-resolvable; this is where they are finally freed).
        Also removes crash debris above the pointer. Returns removed
        file/dir names."""
        if keep_last < 1:
            raise ValueError(f"keep_last must be >= 1, got {keep_last}")
        cur = self.current_version()
        removed: list[str] = []
        keep_versions = set(range(max(1, cur - keep_last + 1), cur + 1))
        live: set[str] = set()
        for v in keep_versions:
            # a version inside the keep window may already have been
            # dropped by an earlier, stricter vacuum — skip, don't crash
            if not os.path.exists(self._manifest_path(v)):
                continue
            live.update(s["dir"] for s in self.segments(v))
        for name in sorted(os.listdir(self.path)):
            full = os.path.join(self.path, name)
            if name.startswith("m") and name[1:9].isdigit():
                if int(name[1:9]) not in keep_versions:
                    os.remove(full)
                    removed.append(name)
            elif name.startswith("seg-") and name not in live:
                shutil.rmtree(full)
                removed.append(name)
        return removed


class LeveledAggView(SegmentedAggView):
    """LEVELED compaction policy over the same segmented state machine —
    the other classic LSM trade (RocksDB/LevelDB's default vs the parent's
    size-tiered/Cassandra policy).

    Policy (invariant-driven, same tier function tier(w) = ⌊log_fanout w⌋):
      * tier 0 may hold up to fanout−1 fresh weight-1 segments; at fanout
        members they merge into one;
      * every tier ≥ 1 holds AT MOST ONE resident segment — an arriving
        same-tier segment immediately merges WITH the resident (one
        union-re-aggregate job), cascading upward when the combined
        weight crosses the next tier boundary.

    The trade vs size-tiered, for the same fanout f over n batches:
      * read amplification: a read unions ≤ (f−1) + log_f(n) segments
        (one per tier) — vs size-tiered's ≤ (f−1)·log_f(n);
      * write amplification: a row is rewritten O(f·log_f n) times (the
        tier resident absorbs ~f merges before promoting) — vs
        size-tiered's O(log_f n).
    Pick leveled when reads dominate (a frequently-queried rollup),
    size-tiered when the ingest rate dominates. Storage layout, manifest
    format, crash safety, replay ledger, time travel, vacuum and the
    compaction loop are all inherited unchanged — only the victim choice
    (``_victims``) differs, and both policies'
    reads re-apply the same merge algebra, so results are identical
    (pytest: 10-batch leveled ≡ size-tiered ≡ flat ≡ one-pass).
    """

    def _victims(self, tiers: dict[int, list[dict]]) -> list[dict] | None:
        if len(tiers.get(0, [])) >= self.fanout:
            return sorted(tiers[0], key=lambda s: (s["weight"], s["dir"]))[
                : self.fanout
            ]
        over = [t for t, m in tiers.items() if t >= 1 and len(m) >= 2]
        # merge the WHOLE offending tier (lowest first — the result may
        # land in a higher tier and cascade there)
        return tiers[min(over)] if over else None


class FactDimRollupView:
    """Incremental agg-over-join (star rollup) view:

        SELECT dim.attr..., AGG(fact.x)...
        FROM fact JOIN dim ON fact.fk = dim.key
        GROUP BY dim.attr...

    maintained under append-only FACT deltas and DIM upserts without
    ever rescanning fact history. The load-bearing design choice: the
    stored fact state is keyed by the JOIN KEY (fk), not by the dim
    attribute — an IncrementalAggView over fk — so a dimension update
    that moves a key to a new attribute value (customer changes market
    segment) RECLASSIFIES that key's entire history at the next read
    for free: reads join the O(join keys) fact state against the
    CURRENT dim snapshot and re-aggregate to the attribute domain
    (as-of-read semantics, the behavior a from-scratch recompute gives).
    Folding the join INTO the stored state (keying by attr) would make
    every dim update a history rewrite.

    The dim side is a keyed LATEST-WINS snapshot with the same
    version-dir + atomic-pointer + batch-ledger machinery: an upsert
    batch keeps max_by(ts) per key within the batch, then overrides the
    stored row for those keys (state ← latest ∪ state ⟕̸ latest-keys).

    100 TB shape: fact refresh = one map-side-combined partial over the
    delta + O(distinct fks) re-agg (hash-partitioned on fk); dim upsert
    = one anti-join of O(dim) against the O(delta-keys) broadcast; read
    = fact-state ⋈ dim (broadcast while the dim is provably small, the
    usual star-schema case) + one bounded-domain re-agg. Raw fact rows
    are scanned exactly once, at ingest.
    """

    def __init__(
        self,
        path: str,
        fact_key: str,
        aggs: dict[str, tuple[str, str]],
        dim_key: str,
        dim_attrs: list[str],
        dim_ts: str = "ts",
        n_buckets: int = 8,
    ) -> None:
        if not dim_attrs:
            raise ValueError("FactDimRollupView needs at least one dim attribute")
        self.path = path
        self.fact_key = fact_key
        self.dim_key = dim_key
        self.dim_attrs = list(dim_attrs)
        self.dim_ts = dim_ts
        self.aggs = dict(aggs)
        self._fact = IncrementalAggView(
            os.path.join(path, "fact"),
            keys=[fact_key],
            aggs=aggs,
            n_buckets=n_buckets,
            spec_extra={"role": "fact_of_star_rollup", "dim_key": dim_key},
        )
        self._dim_dir = os.path.join(path, "dim")
        os.makedirs(self._dim_dir, exist_ok=True)

    # ---- dim snapshot (latest-wins upsert, versioned) --------------------
    def _dim_version(self) -> int:
        try:
            with open(os.path.join(self._dim_dir, _POINTER)) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return 0

    def _dim_vdir(self, v: int) -> str:
        return os.path.join(self._dim_dir, f"v{v:08d}")

    def dim_applied_batches(self) -> list[str]:
        v = self._dim_version()
        if v == 0:
            return []
        with open(os.path.join(self._dim_vdir(v), "batches.json")) as f:
            return json.load(f)

    def refresh_dim(self, spark: SparkSession, updates: DataFrame, batch_id: str) -> bool:
        """Upsert one batch of dim rows (latest max_by(ts) per key within
        the batch wins; batch rows override stored rows for their keys).
        Same crash/replay contract as the fact side."""
        applied = self.dim_applied_batches()
        if batch_id in applied:
            return False
        # the fact side's _gc_orphans discipline: a crash between the
        # v{N+1} parquet write and the pointer flip leaves an orphan dir
        # the retried upsert would collide with (mode="error") forever
        cur = self._dim_version()
        for name in os.listdir(self._dim_dir):
            if name.startswith("v") and name[1:].isdigit() and int(name[1:]) > cur:
                shutil.rmtree(os.path.join(self._dim_dir, name))
        cols = [self.dim_key, *self.dim_attrs, self.dim_ts]
        latest = (
            updates.select(*cols)
            .groupBy(self.dim_key)
            # tie-break beyond ts: two same-key rows with EQUAL timestamps
            # must pick the same winner on every run (struct comparison is
            # field-order lexicographic), not whichever partition merges
            # last — the ivf_index within-batch-dedup discipline
            .agg(
                F.max_by(
                    F.struct(*cols), F.struct(self.dim_ts, *self.dim_attrs)
                ).alias("r")
            )
            .select("r.*")
        )
        v = self._dim_version()
        if v == 0:
            state = latest
        else:
            prev = spark.read.parquet(
                os.path.join(self._dim_vdir(v), "data.parquet")
            )
            keys = latest.select(self.dim_key)
            state = prev.join(F.broadcast(keys), self.dim_key, "left_anti").unionByName(
                latest
            )
        nxt = self._dim_vdir(v + 1)
        state.write.mode("error").parquet(os.path.join(nxt, "data.parquet"))
        _write_json_durable(os.path.join(nxt, "batches.json"), [*applied, batch_id])
        tmp = os.path.join(self._dim_dir, _POINTER + ".tmp")
        with open(tmp, "w") as f:
            f.write(str(v + 1))
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, os.path.join(self._dim_dir, _POINTER))
        return True

    def dim(self, spark: SparkSession) -> DataFrame:
        v = self._dim_version()
        if v == 0:
            raise ValueError("dim snapshot has no committed version yet")
        return spark.read.parquet(os.path.join(self._dim_vdir(v), "data.parquet"))

    # ---- fact side --------------------------------------------------------
    def refresh_fact(self, spark: SparkSession, delta: DataFrame, batch_id: str) -> bool:
        """Fold one append-only fact delta (O(delta) + O(distinct fks))."""
        return self._fact.refresh(spark, delta, batch_id)

    def fact_state(self, spark: SparkSession) -> DataFrame:
        return self._fact.read(spark)

    # ---- the joined rollup -------------------------------------------------
    def read(self, spark: SparkSession, join_type: str = "inner") -> DataFrame:
        """The star rollup under the CURRENT dim snapshot: fact state
        (keyed by fk) ⋈ dim → re-aggregate to the attribute domain.
        ``join_type='left'`` keeps fks missing from the dim (attrs NULL)
        so referential gaps surface instead of silently dropping mass."""
        state = self._fact.read(spark)
        # Pin ONE dim version for both the size gate and the join —
        # resolving the pointer twice would let a concurrent refresh_dim
        # commit in between, making the gate inspect a different (smaller)
        # snapshot than the one joined.
        v = self._dim_version()
        if v == 0:
            raise ValueError("dim snapshot has no committed version yet")
        dim_data = os.path.join(self._dim_vdir(v), "data.parquet")
        d = spark.read.parquet(dim_data)
        # Broadcast only while the committed dim snapshot provably fits
        # (on-disk parquet size, the sinks._index_is_small discipline);
        # a large dimension would otherwise force a driver-side broadcast
        # build and can OOM — past the cap the join stays declarative and
        # AQE plans the shuffle.
        if _snapshot_is_small(dim_data):
            d = F.broadcast(d)
        joined = state.join(
            d,
            state[self.fact_key] == d[self.dim_key],
            join_type,
        )
        exprs = [
            _PARTIAL[fn][1](alias).alias(alias)
            for alias, (fn, _col) in self.aggs.items()
        ]
        return joined.groupBy(*self.dim_attrs).agg(*exprs)


def export_view_snapshot(
    spark: SparkSession, view, out_dir: str, version: int | None = None
) -> dict:
    """Publish one committed version of a materialized view as a
    manifest-committed JSONL dataset (sources/custom.py::
    ManifestJsonlSink) — the handoff from incremental maintenance to a
    downstream consumer that requires two-phase-commit exports (a
    training job reading feature rollups, a serving loader). Works for
    the views exposing the VERSIONED read contract — ``read(spark,
    version)`` + ``current_version()``: IncrementalAggView,
    SegmentedAggView, DistinctCountView. Views whose accessor is named
    differently (FrequencySketchView.cells, QuantileHistogramView.bins,
    DriftMonitorView.bins) or whose read takes no version
    (FactDimRollupView's join_type read) do NOT fit — export their
    underlying ``_mv`` / ``_fact`` view instead; the guard below
    rejects them loudly rather than mis-binding the version argument.

    Idempotent by layout: each version exports into its own
    ``out_dir/v{N}`` subdirectory, and a directory that already holds a
    committed manifest is returned AS-IS (re-running an export job is a
    no-op, and two versions can never interleave shards under one
    manifest — the sink's append semantics extend manifests, which is
    exactly wrong for snapshot republication). The committed manifest
    (shards + row counts + order-insensitive checksums) is returned;
    the paired ManifestJsonlSource reader re-verifies those checksums
    on every scan.

    100 TB shape: the export writes the O(groups) view STATE, never raw
    history; shard parallelism = the state's partition count."""
    from machinelearningalgomapreduce_spark.sources.custom import ManifestJsonlSink

    import inspect as _inspect

    if not hasattr(view, "current_version") or not hasattr(view, "read"):
        raise TypeError(
            f"{type(view).__name__} has no versioned read contract "
            "(needs read(spark, version) + current_version()); export its "
            "underlying versioned view instead"
        )
    params = list(_inspect.signature(view.read).parameters)
    if "version" not in params:
        raise TypeError(
            f"{type(view).__name__}.read({', '.join(params)}) takes no "
            "version — not a versioned view; export its underlying "
            "versioned view instead"
        )
    v = view.current_version() if version is None else version
    target = os.path.join(out_dir, f"v{v:08d}")
    manifest_path = os.path.join(target, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as fh:
            return json.load(fh)
    if os.path.isdir(target):
        # No manifest ⇒ nothing was committed: any files here are orphan
        # shards from an export that crashed between shard-task commits and
        # the sink's manifest commit. The re-run's manifest would list only
        # its own shards (correct), but the debris would inflate the export
        # directory forever — clear the target before re-exporting. Guard
        # the delete: only known export debris (shard-*.jsonl, the sink's
        # manifest tmp/lock) may be present; anything else means out_dir
        # points at an unrelated directory and deleting it would destroy
        # the caller's data — refuse instead.
        stray = [
            e
            for e in os.listdir(target)
            if not (
                (e.startswith("shard-") and e.endswith(".jsonl"))
                or e in ("manifest.json.tmp", "manifest.json.lock")
            )
        ]
        if stray:
            raise ValueError(
                f"refusing to clear {target}: found non-export entries "
                f"{sorted(stray)[:5]} — out_dir must be an export "
                "directory (only shard-*.jsonl debris is cleaned up)"
            )
        shutil.rmtree(target)
    spark.dataSource.register(ManifestJsonlSink)
    view.read(spark, v).write.format("manifest_jsonl").option(
        "path", target
    ).mode("append").save()
    with open(manifest_path) as fh:
        return json.load(fh)
