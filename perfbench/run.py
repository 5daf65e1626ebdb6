"""perfbench: the repository benchmark.

Runs one named workload against the package's public functions on
``local[<cores>]``, checks every result, and prints every metric by name
with its unit; the last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 10 --trace 0

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` is a separate
run that times spans around every call into a layer, enables Spark's JSON
event log and reports the per-layer metrics (perfbench/README.md). All
inputs are generated from ``--seed`` under ``.perfbench_work/`` in the
checkout, which is also where Spark's scratch space and the span dump go.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass

import probes

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "machinelearningalgomapreduce_spark"
SETUP_REPEATS = 3
MIN_PASSES = 3
# A traced run makes its first pass plain, then runs plain and traced passes
# in the order plain, traced, traced, plain, ... (at least TRACE_PAIRS of each).
TRACE_PAIRS = 2
# Keeps the JVM's perf-data file out of /tmp; heap and JIT keep the JVM's
# defaults, as get_spark leaves them.
JVM_OPTIONS = "-XX:-UsePerfData"

# Printed with the end-to-end metrics but not gated: their run-to-run spread
# is too wide for a bound (perfbench/README.md, "Metrics").
INFO = {"vs_duckdb_x": "x", "op_p50_s": "s", "op_p90_s": "s", "peak_rss_mb": "MB",
        "failed_frac": "ratio"}


def metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


@dataclass
class Context:
    seed: int
    seconds: int
    trace: bool
    work: str
    cpus: int
    tracer: probes.Tracer


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def now() -> float:
    return time.perf_counter()


def isolate(work: str) -> dict[str, str]:
    """Keep every scratch file of Python, the JVM and Spark inside ``work``;
    returns the SparkConf entries that do so."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    tempfile.tempdir = tmp
    return {
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} {JVM_OPTIONS}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def setup(wl, ctx: Context, conf: dict[str, str]) -> tuple[list[dict[str, float]], float]:
    """SETUP_REPEATS set-ups (session start, registry, input load), each on a
    fresh SparkContext, then one warm-up pass on the last one."""
    from machinelearningalgomapreduce_spark.session import get_spark

    tr, runs = ctx.tracer, []
    for _ in range(SETUP_REPEATS):
        if wl.spark is not None:
            wl.spark.stop()
        with tr.span("setup") as whole:
            with tr.span("session.start") as a:
                wl.spark = get_spark(app_name=f"perfbench-{wl.name}", master=f"local[{ctx.cpus}]",
                                     extra_conf={**conf, **wl.session_conf})
                wl.configure(wl.spark)
            with tr.span("registry.collect") as b:
                wl.collect_registry()
            with tr.span("sources.catalog.load") as c:
                wl.load()
        runs.append({"session.start_s": a.seconds, "registry.collect_s": b.seconds,
                     "sources.catalog.load_s": c.seconds, "total": whole.seconds})
        log(f"perfbench: set-up {len(runs)}: " + " ".join(f"{k}={v:.2f}" for k, v in runs[-1].items()))
    with tr.span("setup.warmup") as w:
        wl.warmup()
    log(f"perfbench: warm-up {w.seconds:.2f}s")
    settle(wl.spark)
    return runs, w.seconds


def settle(spark) -> None:
    """Collect the warm-up's garbage, so every run starts measuring from the
    same heap state."""
    spark.sparkContext._jvm.java.lang.System.gc()


def measure(wl, ctx: Context) -> list[dict]:
    """Whole passes until ``seconds`` have passed and at least MIN_PASSES
    ran. A traced run makes its first pass plain and then runs plain and
    traced passes as plain, traced, traced, plain, ..., so the tracing
    overhead compares passes made in the same process, and a steady drift
    in pass time (the JIT still compiling) cancels out of the difference."""
    passes: list[dict] = []
    end = now() + ctx.seconds
    least = 1 + 2 * TRACE_PAIRS if ctx.trace else MIN_PASSES
    while len(passes) < least or now() < end:
        traced = ctx.trace and bool(passes) and (len(passes) - 1) % 4 in (1, 2)
        floor = wl.floor_probe() if traced else None
        pass_id = f"p{len(passes)}"
        with ctx.tracer.span("pass", traced=traced) as s:
            ops = wl.run_pass(pass_id, traced)
        passes.append({"id": pass_id, "seconds": s.seconds, "ops": ops, "traced": traced,
                       "floor": floor})
        log(f"perfbench: pass {len(passes)} traced={int(traced)} {s.seconds:.2f}s")
    return passes


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def end_to_end(setups, warmup_s, passes) -> dict[str, float]:
    return {
        "setup_s": probes.median([s["total"] for s in setups]) + warmup_s,
        "pass_s": probes.median([p["seconds"] for p in passes]),
    }


def op_latencies(passes) -> list[float]:
    return [op["seconds"] for p in passes for op in p["ops"] if op["ok"]]


def per_layer(wl, ctx, names, setups, warmup_s, passes, control, event_log) -> dict[str, float]:
    """Every per-layer metric; a layer the workload does not use reads 0."""
    median, p90 = probes.median, probes.p90
    out = dict.fromkeys(names, 0.0)
    for k in ("session.start_s", "registry.collect_s", "sources.catalog.load_s"):
        out[k] = median([s[k] for s in setups])
    out["setup.cold_s"] = setups[0]["total"]
    out["setup.warmup_s"] = warmup_s
    out["duckdb.query_s"] = control

    traced = [p for p in passes if p["traced"]]
    plain = [p for p in passes[1:] if not p["traced"]]
    out["trace.pass_s"] = median([p["seconds"] for p in traced])
    out["trace.plain_pass_s"] = median([p["seconds"] for p in plain])
    out["trace.overhead_s"] = out["trace.pass_s"] - out["trace.plain_pass_s"]
    out["exec.floor_s"] = median([p["floor"] for p in traced])

    def per_pass(fn) -> float:
        return median([fn(p["ops"]) for p in traced])

    def total(key, ops, module=None):
        return sum(op.get(key, 0) for op in ops if module is None or op.get("module") == module)

    for key in ("build_s", "build_jobs"):
        out[f"operators.{key}"] = per_pass(lambda ops: total(key, ops))
        for m in ("graph", "paths", "dedup", "similarity", "classicml"):
            out[f"operators.{m}.{key}"] = per_pass(lambda ops: total(key, ops, m))
    out["plans.plan_s"] = per_pass(lambda ops: total("plan_s", ops))
    out["plans.exchanges"] = per_pass(lambda ops: total("exchanges", ops))
    out["plans.broadcast_joins"] = per_pass(lambda ops: total("broadcast_joins", ops))

    counters = []
    for p in traced:
        groups = {g for op in p["ops"] for g in op.get("groups", [])}
        c = probes.exec_counters(event_log, groups)
        c["sched_s"] = sum(
            op["run_s"] - probes.busy_seconds(probes.group_tasks(event_log, op["run_group"]))
            for op in p["ops"] if "run_group" in op and "run_s" in op)
        wall = sum(op.get("build_s", 0.0) + op["run_s"] for op in p["ops"] if "run_s" in op)
        c["busy_frac"] = c["task_s"] / (wall * ctx.cpus) if wall else 0.0
        counters.append(c)
    for key in counters[0]:
        out[f"exec.{key}"] = median([c[key] for c in counters])

    if wl.name == "mv_ingest":
        ops = [op for p in traced for op in p["ops"]]
        refresh = [op["seconds"] for op in ops if op["kind"] in ("append", "compact", "replay")]
        reads = [op["seconds"] for op in ops if op["kind"] == "read"]
        replays = [op for op in ops if op["kind"] == "replay"]
        out["matview.append_refresh_s"] = median([op["seconds"] for op in ops if op["kind"] == "append"])
        out["matview.compact_refresh_s"] = median([op["seconds"] for op in ops if op["kind"] == "compact"])
        out["matview.compactions"] = per_pass(lambda ops: total("compactions", ops))
        segments = [op["segments"] for op in ops if op["kind"] == "read"]
        out["matview.segments_per_read"] = sum(segments) / len(segments)
        written = [wl.pass_bytes[p["id"]] for p in traced]
        out["matview.bytes_written_per_delta_byte"] = median(written) / wl.delta_bytes
        out["matview.replay_noop_frac"] = (
            sum(op["ok"] for op in replays) / len(replays) if replays else 0.0)
        out["matview.refresh_p50_s"], out["matview.refresh_p90_s"] = median(refresh), p90(refresh)
        out["matview.read_p50_s"], out["matview.read_p90_s"] = median(reads), p90(reads)
    return out


def run(args: argparse.Namespace) -> dict:
    import workloads  # imports bench.py and the package from the checkout root

    end_to_end_units, per_layer_units = metric_units()
    cpus = len(os.sched_getaffinity(0))
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    conf = isolate(work)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    ctx = Context(args.seed, args.seconds, bool(args.trace), work, cpus,
                  probes.Tracer(bool(args.trace)))
    if ctx.trace:
        ev_dir = os.path.join(work, "eventlog")
        os.makedirs(ev_dir)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": f"file://{ev_dir}",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    wl = workloads.WORKLOADS[args.workload](ctx)
    try:
        t0 = now()
        wl.make_inputs()
        log(f"perfbench: inputs for seed {args.seed} in {now() - t0:.2f}s")
        setups, warmup_s = setup(wl, ctx, conf)
        passes = measure(wl, ctx)
        peak_mb = probes.peak_rss_mb()
        t0 = now()
        control = wl.control()
        log(f"perfbench: control and correctness {now() - t0:.2f}s")
        app_id = wl.spark.sparkContext.applicationId
        stop_spark(wl.spark)
        wl.spark = None
        if ctx.trace:
            event_log = probes.read_event_log(os.path.join(ev_dir, app_id))
            metrics = per_layer(wl, ctx, per_layer_units, setups, warmup_s, passes, control,
                                event_log)
            ctx.tracer.dump(os.path.join(work_root, f"trace-{args.workload}-s{args.seed}.json"))
            units = per_layer_units
        else:
            metrics = end_to_end(setups, warmup_s, passes)
            units = end_to_end_units
    finally:
        if wl.spark is not None:
            stop_spark(wl.spark)
        shutil.rmtree(work, ignore_errors=True)

    missing = set(units) ^ set(metrics)
    if missing:
        raise RuntimeError(f"metrics computed and metrics declared differ: {sorted(missing)}")
    ops = [op for p in passes for op in p["ops"]]
    failed = sum(1 for op in ops if not op["ok"] or op["kind"] in wl.bad)
    for problem in wl.problems:
        log(f"perfbench: FAIL {problem}")
    print(f"perfbench workload={args.workload} seed={args.seed} trace={int(ctx.trace)} "
          f"sf={wl.sf:g} cores={cpus} passes={len(passes)} ops={len(ops)} failed={failed}")
    latencies = op_latencies(passes)
    info = {"vs_duckdb_x": probes.median([p["seconds"] for p in passes]) / control,
            "op_p50_s": probes.median(latencies), "op_p90_s": probes.p90(latencies),
            "peak_rss_mb": peak_mb, "failed_frac": failed / len(ops)}
    for name, value in [*metrics.items(), *info.items()]:
        print(f"  {name} = {value:.6g} {units.get(name) or INFO[name]}")
    return {
        "correct": failed == 0 and not wl.problems,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["headline", "heavy_ops", "mv_ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        log(f"perfbench: the {PACKAGE} package is not in {ROOT}; nothing to measure")
        return 2
    sys.path.insert(0, ROOT)
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
