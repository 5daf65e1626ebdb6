"""Self-test of the correctness gate: deliberately wrong results must trip it.

    python3 perfbench/selftest.py

Runs two headline queries and one mv_ingest pass through the benchmark's
own workload code, checks that the untouched results pass the gate, then
corrupts them and checks that each corruption is caught:

- a double changed by one unit in the last place;
- one row dropped;
- two columns swapped (names and values);
- one delta batch folded into the view a second time under a new batch id.

Exits 0 when every case behaves, 1 otherwise.
"""

from __future__ import annotations

import math
import os
import shutil
import sys

import probes
import run
import workloads


class GateProbe(workloads.Headline):
    queries = ["q_filter_agg", "q_pricing_summary"]


def _corrupt_one_double(rows: list[tuple]) -> list[tuple]:
    for i, row in enumerate(rows):
        for j, v in enumerate(row):
            if isinstance(v, float):
                bad = list(row)
                bad[j] = math.nextafter(v, math.inf)
                return rows[:i] + [tuple(bad)] + rows[i + 1:]
    raise ValueError("no double to corrupt")


def _check_queries(ctx: run.Context, conf: dict[str, str]) -> list[str]:
    wl = GateProbe(ctx)
    wl.make_inputs()
    try:
        run.setup(wl, ctx, conf)
        wl.control()
        failures = [f"clean results flagged: {wl.problems}"] if wl.bad else []
        clean = dict(wl.results)
        cols, rows = clean["q_pricing_summary"]
        swapped = [cols[1], cols[0], *cols[2:]]
        cases = {
            "one ulp": {"q_filter_agg": (clean["q_filter_agg"][0],
                                         _corrupt_one_double(clean["q_filter_agg"][1]))},
            "dropped row": {"q_pricing_summary": (cols, rows[:-1])},
            "swapped columns": {"q_pricing_summary": (
                swapped, [(r[1], r[0], *r[2:]) for r in rows])},
        }
        for label, bad in cases.items():
            wl.results = {**clean, **bad}
            wl.bad, wl.problems = set(), []
            wl.control()
            if wl.bad != set(bad):
                failures.append(f"{label}: gate flagged {sorted(wl.bad)}, expected {sorted(bad)}")
            else:
                print(f"selftest: {label} caught: {wl.problems}")
    finally:
        if wl.spark is not None:
            wl.spark.stop()
    return failures


def _check_view(ctx: run.Context, conf: dict[str, str]) -> list[str]:
    wl = workloads.IngestWorkload(ctx)
    wl.make_inputs()
    try:
        run.setup(wl, ctx, conf)
        ops = wl.run_pass("selftest", traced=False)
        replays = [op for op in ops if op["kind"] == "replay"]
        failures = [] if replays and all(op["ok"] for op in replays) else [
            f"replays not all no-ops: {replays}"]
        wl.control()
        if wl.bad or wl.problems:
            failures.append(f"clean view flagged: {wl.problems}")
        wl.last_view.refresh(wl.spark, wl.deltas[0], batch_id="b00-again")
        wl.bad, wl.problems = set(), []
        wl.control()
        if wl.bad != {"read"}:
            failures.append(f"double-applied batch not caught: {sorted(wl.bad)}")
        else:
            print(f"selftest: double-applied batch caught: {wl.problems}")
    finally:
        run.stop_spark(wl.spark)
    return failures


def main() -> int:
    if not os.path.isfile(os.path.join(run.ROOT, run.PACKAGE, "__init__.py")):
        print(f"selftest: the {run.PACKAGE} package is not in {run.ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, run.ROOT)
    work = os.path.join(run.ROOT, ".perfbench_work", f"selftest-p{os.getpid()}")
    conf = run.isolate(work)
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    ctx = run.Context(seed=1, seconds=1, trace=False, work=work, cpus=cpus,
                      tracer=probes.Tracer(False))
    try:
        failures = _check_queries(ctx, conf) + _check_view(ctx, conf)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for f in failures:
        print(f"selftest: FAIL {f}")
    print("selftest: " + ("FAILED" if failures else "gate catches every corruption"))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
