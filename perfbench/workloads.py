"""The benchmark's workloads, each driven through the package's public API.

``QueryWorkload`` runs a fixed list of registry queries per pass (the
``headline`` and ``heavy_ops`` workloads); ``IngestWorkload`` folds seeded
delta batches into a ``SegmentedAggView`` and reads it back after every
refresh (``mv_ingest``). Both are closed loops with one client: the next
operation starts when the previous one has returned.

An operation record is a dict with its ``kind``, wall ``seconds`` and, in
traced passes, the job groups it ran under and the per-layer parts.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

import numpy as np

import datagen
import gate
import probes

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _ROOT not in sys.path:
    sys.path.insert(0, _ROOT)

from bench import HEADLINE  # noqa: E402  bench.py's 12 headline queries

# Multi-job operators, one per operator module whose builder time is reported
# on its own (BUILD_MODULES); perfbench/README.md says why the other heavy
# operators are left out (the run budget).
HEAVY = ["q_sim_topk", "q_bfs_levels", "q_pagerank", "q_dedup_minhash", "q_spearman"]
# Operator modules whose builder time is also reported on its own.
BUILD_MODULES = ("graph", "paths", "dedup", "similarity", "classicml")

# bench.py's session settings for the cached sf0.1 tier.
HEADLINE_CONF = {
    "spark.shuffle.compress": "false",
    "spark.shuffle.spill.compress": "false",
    "spark.broadcast.compress": "false",
    "spark.rdd.compress": "false",
    "spark.locality.wait": "0",
}
HEADLINE_SHUFFLE_PARTITIONS = "4"
HEADLINE_CACHE_PARTITIONS = 16

# DuckDB control: in a traced run, passes repeat until there are
# CONTROL_PASSES of them and they took CONTROL_SECONDS, and the median pass is
# reported; an untraced run makes one pass, which is also the gate's reference.
CONTROL_PASSES = 3
CONTROL_SECONDS = 1.0

MV_BATCHES = 8
MV_REPLAYS = 2
MV_FANOUT = 4
MV_SPEC = dict(
    keys=["l_orderkey"],
    aggs={"n_rows": ("count", "*"), "sum_qty": ("sum", "l_quantity")},
)


def now() -> float:
    return time.perf_counter()


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    """Shared state of one run: session, inputs, tracer, seeded RNG."""

    name = ""
    sf = 0.0
    session_conf: dict[str, str] = {}

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.rng = np.random.default_rng([ctx.seed, 1])
        self.spark = None
        self.sf_dir = ""
        self.problems: list[str] = []
        # Operation kinds whose result failed the correctness gate.
        self.bad: set[str] = set()

    # ---- inputs and set-up ------------------------------------------------
    def make_inputs(self) -> None:
        self.sf_dir = datagen.write(os.path.join(self.ctx.work, "data"), self.ctx.seed, self.sf)

    def configure(self, spark) -> None:
        from machinelearningalgomapreduce_spark.session import ensure_query_conf

        ensure_query_conf(spark)

    def collect_registry(self) -> None:
        from machinelearningalgomapreduce_spark import registry

        self.qs = registry.queries()

    def load(self) -> None:
        raise NotImplementedError

    def floor_probe(self) -> float:
        """bench.py's per-action floor: a trivial scan of ``region`` into the
        noop sink, best of three."""
        from machinelearningalgomapreduce_spark.sources.catalog import load_tables

        region = load_tables(self.spark, self.sf_dir).region.select("r_regionkey")
        best = float("inf")
        for _ in range(3):
            t0 = now()
            noop(region)
            best = min(best, now() - t0)
        return best

    def repeat_control(self, one_pass) -> float:
        """Median wall time of ``one_pass(rep)`` over the control passes."""
        totals: list[float] = []
        least, seconds = (CONTROL_PASSES, CONTROL_SECONDS) if self.ctx.trace else (1, 0.0)
        while len(totals) < least or sum(totals) < seconds:
            t0 = now()
            one_pass(len(totals))
            totals.append(now() - t0)
        return probes.median(totals)

    def job_group(self, group: str | None) -> None:
        sc = self.spark.sparkContext
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(group, group)

    def jobs_of(self, group: str) -> int:
        return len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))



class QueryWorkload(Workload):
    """Registry queries executed into the ``noop`` sink, in a seeded order
    per pass; one correctness check per query per run against DuckDB."""

    queries: list[str] = []
    cached = False

    def load(self) -> None:
        from machinelearningalgomapreduce_spark.sources.catalog import load_tables

        load_tables(self.spark, self.sf_dir, cached=self.cached,
                    cache_partitions=HEADLINE_CACHE_PARTITIONS if self.cached else None)

    def warmup(self) -> None:
        """Fill the input cache (when cached), then one execution of every
        query; the collected rows feed the gate."""
        from machinelearningalgomapreduce_spark.sources.catalog import load_tables

        if self.cached:
            tables = load_tables(self.spark, self.sf_dir)
            for name in tables.names():
                tables[name].count()
        self.results: dict[str, tuple[list[str], list[tuple]] | None] = {}
        for name in self.pass_order():
            try:
                df = self.qs[name](self.spark, self.sf_dir)
                self.results[name] = (df.columns, [tuple(r) for r in df.collect()])
            except Exception as exc:  # noqa: BLE001 - a failing query is reported, not fatal
                self.problems.append(f"{name}: warm-up raised {exc!r}"[:500])
                self.results[name] = None

    def pass_order(self) -> list[str]:
        return [self.queries[i] for i in self.rng.permutation(len(self.queries))]

    def run_pass(self, pass_id: str, traced: bool) -> list[dict]:
        ops = []
        for i, name in enumerate(self.pass_order()):
            op = {"kind": name, "ok": True}
            try:
                if traced:
                    self._traced_query(op, f"{pass_id}-{i}")
                else:
                    t0 = now()
                    noop(self.qs[name](self.spark, self.sf_dir))
                    op["seconds"] = now() - t0
            except Exception as exc:  # noqa: BLE001
                op.update(ok=False, seconds=0.0)
                self.problems.append(f"{name}: raised {exc!r}"[:500])
            ops.append(op)
        return ops

    def _traced_query(self, op: dict, gid: str) -> None:
        from machinelearningalgomapreduce_spark.plans import inspect

        name, tr = op["kind"], self.ctx.tracer
        module = self.qs[name].__module__.rsplit(".", 1)[-1]
        with tr.span("op", query=name) as whole:
            self.job_group(f"{gid}-build")
            with tr.span("operators.build", module=module) as s:
                df = self.qs[name](self.spark, self.sf_dir)
            op["build_s"], op["module"] = s.seconds, module
            op["build_jobs"] = self.jobs_of(f"{gid}-build")
            self.job_group(None)
            with tr.span("plans.plan") as s:
                inspect.formatted_plan(df)
            op["plan_s"] = s.seconds
            op["exchanges"] = inspect.count_exchanges(df)
            op["broadcast_joins"] = inspect.count_broadcast_joins(df)
            self.job_group(f"{gid}-run")
            with tr.span("exec.run") as s:
                noop(df)
            self.job_group(None)
            op["run_s"], op["run_group"] = s.seconds, f"{gid}-run"
            op["groups"] = [f"{gid}-build", f"{gid}-run"]
        op["seconds"] = whole.seconds

    def control(self) -> float:
        """Same-run DuckDB control: the median time DuckDB takes for every
        query's oracle SQL. The first pass's rows are the correctness
        reference."""
        from machinelearningalgomapreduce_spark import registry

        oracles = registry.oracle_sql()
        con = gate.connect(self.sf_dir, self.ctx.cpus)

        def one_pass(rep: int) -> None:
            for name in self.queries:
                cols, rows = gate.fetch(con, oracles[name])
                if rep == 0:
                    self._check(name, cols, rows)

        try:
            return self.repeat_control(one_pass)
        finally:
            con.close()

    def _check(self, name: str, cols: list[str], rows: list[tuple]) -> None:
        got = self.results.get(name)
        why = "no result" if got is None else gate.mismatch(got[0], got[1], cols, rows)
        if why:
            self.bad.add(name)
            self.problems.append(f"{name}: {why}")


class Headline(QueryWorkload):
    name = "headline"
    sf = 0.01
    session_conf = HEADLINE_CONF
    queries = list(HEADLINE)
    cached = True

    def configure(self, spark) -> None:
        super().configure(spark)
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.shuffle.partitions", HEADLINE_SHUFFLE_PARTITIONS)


class HeavyOps(QueryWorkload):
    name = "heavy_ops"
    sf = 0.01
    queries = HEAVY


class IngestWorkload(Workload):
    """``mv_ingest``: lineitem split into MV_BATCHES delta batches by a
    seeded hash of ``l_orderkey``, folded into a ``SegmentedAggView`` from an
    empty directory, MV_REPLAYS batch ids re-sent as replays, and
    ``read().count()`` after every refresh."""

    name = "mv_ingest"
    sf = 0.01

    def make_inputs(self) -> None:
        import pyarrow.parquet as pq

        super().make_inputs()
        rng = np.random.default_rng([self.ctx.seed, 2])
        self.salt = int(rng.integers(0, 2**31))
        # Replays: distinct batch ids, each re-sent after a later batch.
        self.sequence: list[tuple[int, bool]] = []
        replay_after: dict[int, list[int]] = {}
        for b in sorted(rng.choice(MV_BATCHES, MV_REPLAYS, replace=False).tolist()):
            replay_after.setdefault(int(rng.integers(b, MV_BATCHES)), []).append(b)
        for b in range(MV_BATCHES):
            self.sequence.append((b, False))
            self.sequence += [(r, True) for r in replay_after.get(b, [])]
        lineitem = os.path.join(self.sf_dir, "lineitem.parquet")
        okeys = np.unique(pq.read_table(lineitem, columns=["l_orderkey"]).column(0).to_numpy())
        self.batch_keys = np.bincount(datagen.batch_of(okeys, self.salt, MV_BATCHES),
                                      minlength=MV_BATCHES)
        self.delta_bytes = os.path.getsize(lineitem)
        self.n_views = 0
        self.last_view = None
        # bytes each pass wrote into its view directory, by pass id
        self.pass_bytes: dict[str, int] = {}

    def collect_registry(self) -> None:
        from machinelearningalgomapreduce_spark.operators import matview

        self.view_cls = matview.SegmentedAggView

    def load(self) -> None:
        from pyspark.sql import functions as F

        from machinelearningalgomapreduce_spark.sources.catalog import load_table

        lineitem = load_table(self.spark, self.sf_dir, "lineitem")
        expr = datagen.batch_expr(self.salt, MV_BATCHES)
        self.deltas = [lineitem.filter(F.expr(f"{expr} = {b}")) for b in range(MV_BATCHES)]

    def new_view(self):
        self.n_views += 1
        path = os.path.join(self.ctx.work, "views", f"v{self.n_views}")
        return self.view_cls(path, fanout=MV_FANOUT, **MV_SPEC)

    def warmup(self) -> None:
        """One full pass into a scratch view; its checks count like any pass's."""
        view = self.new_view()
        self.fold(view, self.sequence, "warmup", traced=False)
        shutil.rmtree(view.path, ignore_errors=True)

    def run_pass(self, pass_id: str, traced: bool) -> list[dict]:
        view = self.new_view()
        ops = self.fold(view, self.sequence, pass_id, traced)
        self.pass_bytes[pass_id] = probes.dir_bytes(view.path)
        view.vacuum(keep_last=1)
        if self.last_view is not None:
            shutil.rmtree(self.last_view.path, ignore_errors=True)
        self.last_view = view
        return ops

    def fold(self, view, sequence, pass_id: str, traced: bool) -> list[dict]:
        from machinelearningalgomapreduce_spark.plans import inspect

        tr = self.ctx.tracer if traced else probes.Tracer(False)
        ops, applied = [], set()
        for i, (b, replay) in enumerate(sequence):
            gid = f"{pass_id}-{i}"
            before = len(view.segments())
            if traced:
                self.job_group(f"{gid}-refresh")
            with tr.span("matview.refresh", batch=b, replay=replay) as s:
                fresh = view.refresh(self.spark, self.deltas[b], batch_id=f"b{b:02d}")
            after = len(view.segments())
            merged = max(0, before + 1 - after) if fresh else 0
            kind = "replay" if replay else ("compact" if merged else "append")
            op = {"kind": kind, "ok": fresh != replay, "seconds": s.seconds, "run_s": s.seconds,
                  "compactions": merged // (MV_FANOUT - 1),
                  "groups": [f"{gid}-refresh"], "run_group": f"{gid}-refresh"}
            if not op["ok"]:
                self.problems.append(f"refresh b{b:02d} replay={replay} returned {fresh}")
            applied.add(b)
            ops.append(op)

            read = {"kind": "read", "ok": True, "segments": after,
                    "groups": [f"{gid}-build", f"{gid}-read"], "run_group": f"{gid}-read"}
            with tr.span("op", kind="read") as whole:
                if traced:
                    self.job_group(f"{gid}-build")
                with tr.span("operators.build", module="matview") as s:
                    df = view.read(self.spark)
                read["build_s"], read["module"] = s.seconds, "matview"
                if traced:
                    read["build_jobs"] = self.jobs_of(f"{gid}-build")
                    self.job_group(None)
                    with tr.span("plans.plan") as p:
                        inspect.formatted_plan(df)
                    read["plan_s"] = p.seconds
                    read["exchanges"] = inspect.count_exchanges(df)
                    read["broadcast_joins"] = inspect.count_broadcast_joins(df)
                    self.job_group(f"{gid}-read")
                with tr.span("exec.run") as r:
                    n = df.count()
                read["run_s"] = r.seconds
                if traced:
                    self.job_group(None)
            read["seconds"] = whole.seconds
            want = int(sum(self.batch_keys[k] for k in applied))
            if n != want:
                read["ok"] = False
                self.problems.append(f"read after b{b:02d}: {n} rows, expected {want}")
            ops.append(read)
        return ops

    def control(self) -> float:
        """Correctness of the last pass's final state, then the median time
        of the DuckDB twin of one pass: per batch, the partial aggregate
        stored as an in-memory segment table, then the union of segments
        re-aggregated and counted. The twin keeps its segments in memory so
        the control measures the host's compute weather, not its disk;
        replays have no DuckDB counterpart."""
        con = gate.connect(self.sf_dir, self.ctx.cpus)
        expr = datagen.batch_expr(self.salt, MV_BATCHES)
        try:
            # Every batch has been applied, so the distinct batches are the
            # whole table.
            cols, rows = gate.fetch(con, (
                "SELECT l_orderkey, count(*) AS n_rows, sum(l_quantity) AS sum_qty "
                "FROM lineitem GROUP BY l_orderkey"))
            df = self.last_view.read(self.spark)
            why = gate.mismatch(df.columns, [tuple(r) for r in df.collect()], cols, rows)
            if why:
                self.bad.add("read")
                self.problems.append(f"final read: {why}")

            def one_pass(rep: int) -> None:
                segs: list[str] = []
                for b in range(MV_BATCHES):
                    segs.append(f"seg_{rep}_{b}")
                    con.execute(
                        f"CREATE TABLE {segs[-1]} AS SELECT l_orderkey, count(*) AS n_rows, "
                        f"sum(l_quantity) AS sum_qty FROM lineitem WHERE {expr} = {b} "
                        "GROUP BY l_orderkey")
                    union = " UNION ALL ".join(f"SELECT * FROM {s}" for s in segs)
                    con.execute(
                        "SELECT count(*) FROM (SELECT l_orderkey, sum(n_rows), sum(sum_qty) "
                        f"FROM ({union}) GROUP BY l_orderkey)").fetchall()

            return self.repeat_control(one_pass)
        finally:
            con.close()


WORKLOADS = {w.name: w for w in (Headline, HeavyOps, IngestWorkload)}
