#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload portfolio_read --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 1

One run of one workload prints a details line (the workload's own
metrics, named as in ``perfbench/README.md``) and, last, one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` - the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.  ``--workload all`` runs every workload in its own
process, untraced and (with ``--trace 1``) traced, and also prints the
tracing overhead: traced minus untraced end-to-end result.

Run it from the repository root.  Everything it writes goes under
``.bench_build/perfbench`` there.
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import datagen, stats  # noqa: E402
from perfbench.trace import RssSampler, SparkProbe, Tracer  # noqa: E402

WORK_BASE = os.path.join(ROOT, ".bench_build", "perfbench")

# launch settings, fixed so results do not depend on the host's memory
# or on the caller's working directory
CPUS = 4
DRIVER_MEMORY = "2g"
# set-ups per run (session start + table registration); setup_s is
# their median.  The first also launches the JVM.  Warm-up (every op
# shape once) follows the last set-up and is reported on its own.
SETUPS = 3

def _metric_units(kind: str) -> dict[str, str]:
    """``{name: unit}`` of the ``end_to_end`` or ``per_layer`` metrics
    declared in BENCHMARK.json, the one list of what a run reports."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


REQUIRED = [
    "relational_query_engine_sql_spark/__init__.py",
    "tools/driver_sim.py",
]


def _fail_incomplete_checkout() -> None:
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(
            f"perfbench: not a checkout of the engine (missing {missing})",
            file=sys.stderr,
        )
        sys.exit(2)


def _launch_env(work: str) -> None:
    """Settings every process of the run inherits.  The engine's
    package must be importable by Spark's Python workers whatever the
    caller's working directory, and scratch space stays in the
    checkout."""
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # collected timestamps are converted in the local zone; the session
    # and the oracles use UTC
    os.environ["TZ"] = "UTC"
    time.tzset()
    import tempfile

    tempfile.tempdir = None


def _start_session(work: str):
    from relational_query_engine_sql_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        cpus=CPUS,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            # a fixed-size heap: peak RSS then tracks what the run touches,
            # not when G1 chose to grow the heap
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _stop_jvm() -> None:
    """Shut the py4j gateway and wait for the JVM to exit; it exits
    when its standard input closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def run_workload(name: str, seed: int, seconds: float, trace: bool) -> tuple[dict, dict]:
    """One run of one workload; returns (result line, details)."""
    work = os.path.join(WORK_BASE, f"run-{name}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _launch_env(work)

    from perfbench.workloads import WORKLOADS, Context

    sampler = RssSampler().start()
    spark = None
    phases: dict[str, float] = {}
    mark = time.perf_counter()

    def phase(label: str) -> None:
        nonlocal mark
        now = time.perf_counter()
        phases[label] = now - mark
        mark = now

    try:
        wl_cls = WORKLOADS[name]
        data_dir = (
            datagen.ensure_tables(os.path.join(WORK_BASE, "data"))
            if wl_cls.needs_tables else os.path.join(work, "data")
        )
        phase("inputs_s")
        wl = wl_cls(seed, data_dir, work)
        wl.prepare()
        phase("prepare_s")

        tracer = Tracer(trace)
        setups = []
        for i in range(SETUPS):
            if spark is not None:
                spark.stop()
            wl.stage(i)
            tracer.request = f"setup-{i}"
            t0 = time.perf_counter()
            with tracer.span("session.start", layer="session"):
                spark = _start_session(work)
            t1 = time.perf_counter()
            ctx = Context(spark, tracer, data_dir)
            with tracer.span("session.register", layer="session"):
                wl.register(ctx, i)
            t2 = time.perf_counter()
            setups.append({"setup_s": t2 - t0, "start_s": t1 - t0,
                           "register_s": t2 - t1})
        # peak memory is that of the session the measured ops run in
        setup_peaks = sampler.reset()
        phase("setups_s")
        tracer.request = "warmup"
        t0 = time.perf_counter()
        with tracer.span("session.warmup", layer="session"):
            wl.warm_up(ctx)
        warmup_s = time.perf_counter() - t0
        phase("warmup_s")

        probe = SparkProbe(spark) if trace else None
        latency: dict[str, list[float]] = collections.defaultdict(list)
        records: list[dict] = []
        attempted = failed = 0
        items0 = wl.items
        ops = iter(wl.ops())
        start = time.perf_counter()
        deadline = start + seconds
        last_end = start
        done = False
        while not (done and time.perf_counter() >= deadline):
            op = next(ops)
            attempted += 1
            tracer.request = attempted
            t0 = time.perf_counter()
            try:
                with tracer.span(op.kind, layer="request"):
                    rows_out = wl.execute(ctx, op)
                ok = True
            except Exception:  # noqa: BLE001 - a failed op is counted, the loop goes on
                traceback.print_exc(file=sys.stderr)
                failed += 1
                ok, rows_out = False, 0
            last_end = time.perf_counter()
            if ok:
                latency[op.kind].append(last_end - t0)
            rec = None
            if probe is not None:
                rec = _trace_op(probe, tracer, attempted, op.kind, last_end - t0, rows_out)
                records.append(rec)
            spark.catalog.clearCache()
            wl.after_op(ctx, op)
            done = wl.round_done(op)
            if rec is not None:
                rec["version"] = op.args.get("version")
        elapsed = last_end - start
        items = wl.items - items0
        phase("loop_s")

        problems = wl.check(ctx)
        attempted += wl.final_checks
        failed += len(problems)
        for p in problems:
            print(f"perfbench: {name}: {p}", file=sys.stderr)
        extra = wl.details(ctx)
        layer = {}
        if trace:
            tracer.self_times()
            extra.update(wl.traced_details(ctx, records))
            layer = _layer_metrics(records, tracer, setups, warmup_s, sampler, extra)
        phase("checks_s")
    finally:
        if spark is not None:
            spark.stop()
        _stop_jvm()
        sampler.stop()
    phase("stop_s")

    primary = latency.get(wl.primary_op, [])
    e2e = {
        "setup_s": stats.median([s["setup_s"] for s in setups]),
        "op_p50_s": stats.median(primary) if primary else 0.0,
        "items_per_s": items / elapsed if elapsed > 0 else 0.0,
        "peak_rss_mb": sampler.peak_total,
    }
    correct = failed == 0 and bool(primary)
    metrics_src = layer if trace else e2e
    units = _metric_units("per_layer" if trace else "end_to_end")
    result = {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": float(metrics_src.get(k, 0.0)), "unit": u}
            for k, u in units.items()
        },
    }
    extra["setup_peak_rss_mb"] = setup_peaks["total"]
    details = {
        "workload": name, "seed": seed, "seconds": seconds, "trace": trace,
        "settings": {"cpus": CPUS, "driver_memory": DRIVER_MEMORY,
                     "PYTHONPATH": "<repo root>", "setups": SETUPS},
        "end_to_end": e2e,
        "setup_runs_s": [s["setup_s"] for s in setups],
        "warmup_s": warmup_s,
        "attempted": attempted, "failed": failed,
        "failed_op_share": failed / attempted if attempted else 0.0,
        "elapsed_s": elapsed,
        "phases_s": phases,
        **wl.named_metrics(latency, e2e["items_per_s"]),
        **extra,
    }
    if trace:
        out = os.path.join(WORK_BASE, "out")
        os.makedirs(out, exist_ok=True)
        path = os.path.join(out, f"trace-{name}-seed{seed}.json")
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"details": details, "layer": layer, "ops": records,
                       "spans": tracer.spans}, f, default=str)
        details["trace_file"] = os.path.relpath(path, ROOT)
    shutil.rmtree(work, ignore_errors=True)
    return result, details


def _trace_op(probe, tracer, request, kind, wall, rows_out) -> dict:
    """Per-op Spark figures, read from the status store after the op."""
    cached = probe.cached_bytes()
    spans = [s for s in tracer.spans if s["request"] == request]
    got = probe.collect([(s["id"], s["start"], s["end"]) for s in spans])
    for s in spans:
        s["jobs"] = len(got["by_span"].get(s["id"], []))
    rec = {"request": request, "kind": kind, "wall_s": wall,
           "rows_out": rows_out, "cached_bytes": cached, **got["totals"]}
    rec["driver_gap_s"] = max(0.0, wall - rec["job_s"])
    return rec


def _layer_metrics(records, tracer, setups, warmup_s, sampler, extra) -> dict:
    n = max(1, len(records))

    def mean(key):
        return sum(r[key] for r in records) / n

    m = {
        "session.start_s": stats.median([s["start_s"] for s in setups]),
        "session.register_s": stats.median([s["register_s"] for s in setups]),
        "session.warmup_s": warmup_s,
        "spark.jobs": mean("jobs"),
        "spark.stages": mean("stages"),
        "spark.tasks": mean("tasks"),
        "spark.job_s": mean("job_s"),
        "spark.driver_gap_s": mean("driver_gap_s"),
        "spark.shuffle_write_bytes": mean("shuffle_write_bytes"),
        "spark.shuffle_read_bytes": mean("shuffle_read_bytes"),
        "spark.spill_bytes": mean("spill_bytes"),
        "spark.executor_run_s": mean("executor_run_s"),
        "spark.executor_cpu_s": mean("executor_cpu_s"),
        "spark.gc_s": mean("gc_s"),
        "spark.cached_bytes": mean("cached_bytes"),
        "sources.files_read": mean("files_read"),
        "sources.bytes_read": mean("input_bytes"),
        "sources.rows_read": mean("rows_read"),
        "sources.rows_read_per_row_out": (
            sum(r["rows_read"] for r in records)
            / max(1, sum(r["rows_out"] for r in records))
        ),
        "proc.jvm_rss_peak_mb": sampler.peak_jvm,
        "proc.python_rss_peak_mb": sampler.peak_python,
    }
    measured = [s for s in tracer.spans if isinstance(s["request"], int)]
    op_time = sum(s["end"] - s["start"] for s in measured if s["parent"] is None)
    self_by_layer: dict[str, float] = {}
    calls: dict[str, list[dict]] = {}
    for s in measured:
        if s["parent"] is not None:
            calls.setdefault(s["name"], []).append(s)
        self_by_layer[s["layer"]] = self_by_layer.get(s["layer"], 0.0) + s["self_s"]
    for name, ss in calls.items():
        m[f"{name}_s"] = stats.median([s["end"] - s["start"] for s in ss])
        if not name.startswith("datapipe."):  # its jobs sit in child spans
            m[f"{name}_jobs"] = sum(s.get("jobs", 0) for s in ss) / len(ss)
    share = {k: v / op_time for k, v in self_by_layer.items()} if op_time else {}
    m["plans.self_share"] = share.get("plans", 0.0)
    m["spark.collect_share"] = share.get("spark", 0.0)
    m["trading.self_share"] = share.get("operators.trading", 0.0)
    m["txnlog.self_share"] = share.get("operators.txnlog", 0.0)
    m["datapipe.self_share"] = share.get("datapipe", 0.0)
    m["streaming.self_share"] = share.get("streaming", 0.0)
    for k in ("write_amplification", "space_amplification"):
        if k in extra:
            m[f"txnlog.{k}"] = extra[k]
    m.update({k: v for k, v in extra.items() if "." in k})
    return m


def run_all(seed: int, seconds: float, trace: bool) -> dict:
    """Every workload in its own process, untraced and, with ``trace``,
    traced; prints each metric with its unit and the tracing overhead
    (traced minus untraced end-to-end figures)."""
    from perfbench.workloads import WORKLOADS

    units = _metric_units("end_to_end")
    out = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        runs = []
        for t in ([0, 1] if trace else [0]):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
                   "--seed", str(seed), "--seconds", str(seconds), "--trace", str(t)]
            proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                                  check=False)
            lines = [x for x in proc.stdout.splitlines() if x.strip()]
            if proc.returncode != 0 or len(lines) < 2:
                raise RuntimeError(f"{name} --trace {t} exited {proc.returncode}")
            details, res = json.loads(lines[-2]), json.loads(lines[-1])
            out["correct"] &= res["correct"]
            runs.append(details)
        details = runs[0]
        out["attempted"] += details["attempted"]
        out["failed"] += details["failed"]
        for k, v in details["end_to_end"].items():
            out["metrics"][f"{name}.{k}"] = {"value": v, "unit": units[k]}
            print(f"{name:15s} {k:36s} {v:14.4f} {units[k]}")
        for k, v in details.items():
            if isinstance(v, (int, float)) and k not in ("seed", "seconds", "trace"):
                print(f"{name:15s} {k:36s} {v:14.4f}")
        if trace:
            for k, v in runs[1]["end_to_end"].items():
                diff = v - details["end_to_end"][k]
                out["metrics"][f"{name}.trace_overhead.{k}"] = {
                    "value": diff, "unit": units[k]}
                print(f"{name:15s} {'trace_overhead.' + k:36s} {diff:14.4f} {units[k]}")
            print(f"{name:15s} trace file {runs[1]['trace_file']}")
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    _fail_incomplete_checkout()
    if args.workload == "all":
        result = run_all(args.seed, args.seconds, bool(args.trace))
    else:
        from perfbench.workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            ap.error(f"unknown workload {args.workload!r}; choose from "
                     f"{sorted(WORKLOADS)} or all")
        result, details = run_workload(args.workload, args.seed, args.seconds,
                                       bool(args.trace))
        print(json.dumps(details, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
