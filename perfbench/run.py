"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 18 --trace 0
    python3 perfbench/run.py --smoke

A run generates its inputs from ``--seed``, starts one Spark session, runs
a cold pass whose outputs are then checked, one untimed warm-up pass, and
timed passes worth about ``--seconds`` on the reference box. With
``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` it carries the per-layer metrics, taken from traced passes
interleaved with untraced ones so the tracing overhead is measured in the
same run. The line before it is a report with sample counts, percentiles
and failed checks; the full report adds every pass and its run conditions.
See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

# Spark task threads; the fourth core of the 4-core reference box is left
# to the driver, the JVM's own threads and the Python workers.
SPARK_CORES = 3
DRIVER_MEM = "1g"

SIZES = {
    "full": {
        "sf": 0.01,
        "grains": 80,
        "lloyd_iters": 1,
        "lattice": (40, 25),
        "steps": 10,
    },
    "smoke": {
        "sf": 0.001,
        "grains": 30,
        "lloyd_iters": 1,
        "lattice": (12, 8),
        "steps": 10,
    },
}

E2E_UNITS = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "pass_s": "s",
    "query_p50_s": "s",
    "query_tail_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "ok_frac": "fraction",
}
LAYER_FIELDS = {
    "wall_s": "s",
    "self_s": "s",
    "jobs": "count",
    "task_s": "s",
    "busy_frac": "fraction",
    "shuffle_mb": "MB",
}
QUERY_MODULES = (
    "relational", "windows", "setops", "analytics", "timeseries",
    "simulation", "streaming",
    "llm_dedup", "llm_similarity", "llm_text", "llm_pipeline", "io_codec",
)
LAYERS = (
    "geometry.pipeline",
    "geometry.clip",
    "operators.proximity",
    "simulation.experiment",
    "sources.binary_snapshots",
) + tuple(f"queries.{m}" for m in QUERY_MODULES)
RUN_UNITS = {
    "session.wall_s": "s",
    "simulation.experiment.particle_steps_per_s": "1/s",
    "spark.gc_s": "s",
    "spark.failed_tasks": "count",
    "jvm.cpu_s": "s",
    "pyworker.cpu_s": "s",
    "queries.build_s": "s",
    "queries.run_s": "s",
    "sources.written_mb": "MB",
    "streaming.sink_views_left": "count",
    "trace.overhead_s": "s",
}


def layer_units() -> dict[str, str]:
    units = {f"{l}.{f}": u for l in LAYERS for f, u in LAYER_FIELDS.items()}
    units.update(RUN_UNITS)
    return units


def process_age_s() -> float:
    """Seconds since this process started (interpreter start included)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def tail(samples: list[float]) -> tuple[float, int, int]:
    """(value, percentile, samples beyond it): nearest-rank value at the
    highest whole percentile with at least ten samples beyond it. With
    fewer than 20 samples that percentile lies below the median, so no
    tail is resolvable and the median rank is reported instead."""
    xs = sorted(samples)
    n = len(xs)
    p = max(50, math.floor(100 * (1 - 10 / n)))
    rank = max(1, math.ceil(p / 100 * n))
    return xs[rank - 1], p, n - rank


def force_gc(spark) -> None:
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def stop_spark(spark) -> None:
    """Stop the session, then the JVM that spark-submit started, and wait
    for it (it exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def sink_views(spark) -> int:
    return sum(
        1
        for t in spark.catalog.listTables()
        if t.isTemporary and t.name.startswith("sink_")
    )


def run(args) -> int:
    from perfbench import telemetry
    from perfbench.workloads import WORKLOADS

    sizes = SIZES[args.sizes]
    run_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(run_dir)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(SPARK_CORES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # Python workers import the engine's UDF modules by name.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    spark = None
    try:
        from columnarmodeling_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        session_s = time.perf_counter() - t0
        ready_s = process_age_s()
        root_pid = os.getpid()
        workload = WORKLOADS[args.workload]()
        tracer = telemetry.Tracer(spark, enabled=False)

        # Input generation is the part of set-up that can be repeated in
        # one process; each repeat writes a fresh directory.
        gen_s = []
        for rep in range(3):
            rep_dir = os.path.join(run_dir, f"inputs{rep}")
            os.makedirs(rep_dir)
            t0 = time.perf_counter()
            workload.setup(spark, args.seed, sizes, rep_dir)
            gen_s.append(time.perf_counter() - t0)
        setup_s = ready_s + statistics.median(gen_s)

        failed_ops: dict[str, str] = {}
        op_runs: dict[str, int] = {}
        passes: list[dict] = []

        def one_pass(pass_no: int, traced: bool = False, cold: bool = False) -> dict:
            tracer.enabled = traced
            tracer.pass_no = pass_no
            cpu0 = telemetry.tree_cpu(root_pid)
            m0 = telemetry.machine()
            ops_lat = []
            op_names = []
            with tracer.span(args.workload, "pass"):
                t_pass = time.perf_counter()
                for op in workload.ops(tracer, pass_no, cold):
                    op_runs[op.name] = op_runs.get(op.name, 0) + 1
                    t_op = time.perf_counter()
                    try:
                        with tracer.span(op.name, "op"):
                            op.run()
                    except Exception as e:  # counted, and the run goes on
                        failed_ops.setdefault(op.name, repr(e)[:300])
                        continue
                    ops_lat.append(time.perf_counter() - t_op)
                    op_names.append(op.name)
                wall = time.perf_counter() - t_pass
            cpu = telemetry.tree_cpu(root_pid).minus(cpu0)
            tracer.enabled = False
            return {
                "pass": pass_no,
                "traced": traced,
                "wall_s": wall,
                "ops_s": ops_lat,
                "ops": op_names,
                "cpu_s": cpu.total,
                "jvm_cpu_s": cpu.jvm,
                "pyworker_cpu_s": cpu.pyworker,
                "conditions": telemetry.conditions(m0, telemetry.machine(), cpu.total),
            }

        with telemetry.MemorySampler(root_pid) as mem:
            # The cold pass is the checked pass: its outputs are verified
            # outside any timing.
            cold = one_pass(0, cold=True)
            t0 = time.perf_counter()
            for name, why in workload.verify().items():
                failed_ops.setdefault(name, why)
            checks_s = time.perf_counter() - t0
            # The second pass of a session still runs while the JIT compiles
            # (10-25% slower than later ones), so it is not timed.
            force_gc(spark)
            warmup = one_pass(1)
            n_timed = max(1, round(args.seconds / workload.nominal_pass_s))
            for i in range(n_timed * (2 if args.trace else 1)):
                force_gc(spark)
                # traced passes in ABBA order, so a drift across the
                # timed passes cancels out of the tracing overhead
                traced = args.trace == 1 and i % 4 in (0, 3)
                passes.append(one_pass(i + 2, traced=traced))
            peak_mem = mem.peak_mb

        untraced = [p for p in passes if not p["traced"]]
        lat = [x for p in untraced for x in p["ops_s"]]
        attempted = sum(op_runs.values())
        failed = sum(op_runs.get(name, 0) for name in failed_ops)
        tail_v, tail_p, tail_beyond = tail(lat)
        e2e = {
            "setup_s": (setup_s, 1),
            "cold_pass_s": (cold["wall_s"], 1),
            "pass_s": (statistics.median(p["wall_s"] for p in untraced), len(untraced)),
            "query_p50_s": (statistics.median(lat), len(lat)),
            "query_tail_s": (tail_v, len(lat)),
            "cpu_s": (statistics.median(p["cpu_s"] for p in untraced), len(untraced)),
            "peak_rss_mb": (peak_mem, 1),
            "ok_frac": ((attempted - failed) / attempted, attempted),
        }
        report = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "sizes": sizes,
            "spark_cores": SPARK_CORES,
            "machine_cpus": os.cpu_count(),
            "driver_memory": DRIVER_MEM,
            "metrics": {
                k: {"value": v, "unit": E2E_UNITS[k], "n": n}
                for k, (v, n) in e2e.items()
            },
            "query_tail": {"percentile": tail_p, "beyond": tail_beyond},
            "setup": {"to_session_ready_s": ready_s, "session_s": session_s,
                      "inputs_s": gen_s},
            "failed_checks": failed_ops,
            "checks_s": checks_s,
            "passes": [cold, warmup] + passes,
        }
        if hasattr(workload, "step_s"):
            report["step_s"] = workload.step_s
        if hasattr(workload, "experiment_s"):
            timed = {p["pass"] for p in untraced}
            exp = [s for n, s in workload.experiment_s if n in timed]
            report["particle_steps_per_s"] = {
                "value": workload.particle_steps / statistics.median(exp),
                "unit": "1/s",
                "n": len(exp),
            }

        result_metrics = {
            k: {"value": v, "unit": E2E_UNITS[k]} for k, (v, _) in e2e.items()
        }
        if args.trace:
            layer = layer_metrics(tracer, passes, session_s, spark)
            report["layers"] = layer
            result_metrics = {
                k: {"value": layer[k], "unit": u} for k, u in layer_units().items()
            }
            write_spans(tracer, args)
        report_dir = os.path.join(ROOT, ".perfbench", "reports")
        os.makedirs(report_dir, exist_ok=True)
        stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        with open(os.path.join(report_dir, stem + ".json"), "w") as f:
            json.dump(report, f, indent=1, default=str)
        print("perfbench report " + json.dumps(
            {k: report[k] for k in ("workload", "seed", "spark_cores", "metrics",
                                    "query_tail", "particle_steps_per_s",
                                    "failed_checks") if k in report},
            default=str,
        ))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": result_metrics,
        }))
        return 0
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)


def layer_metrics(tracer, passes, session_s, spark) -> dict[str, float]:
    """Per-layer numbers: sums over each traced pass, then the median over
    traced passes. A span's counters include its child spans' work;
    ``self_s`` excludes the children's time."""
    traced = [p["pass"] for p in passes if p["traced"]]
    per_pass: dict[str, list[float]] = {}

    def add(key: str, pass_values: dict[int, float]) -> None:
        per_pass[key] = [pass_values.get(n, 0.0) for n in traced]

    by_pass_layer: dict[tuple[int, str], dict[str, float]] = {}
    for s in tracer.spans:
        if s.kind == "layer":
            acc = by_pass_layer.setdefault((s.pass_no, s.name), {})
            acc["wall_s"] = acc.get("wall_s", 0.0) + s.wall_s
            acc["self_s"] = acc.get("self_s", 0.0) + tracer.self_time(s)
            for k in ("jobs", "task_s", "shuffle_mb"):
                acc[k] = acc.get(k, 0.0) + s.counters[k]
    for layer in LAYERS:
        for f in ("wall_s", "self_s", "jobs", "task_s", "shuffle_mb"):
            add(f"{layer}.{f}", {
                n: by_pass_layer.get((n, layer), {}).get(f, 0.0) for n in traced
            })
        per_pass[f"{layer}.busy_frac"] = [
            (t / (w * SPARK_CORES)) if w > 0 else 0.0
            for t, w in zip(per_pass[f"{layer}.task_s"], per_pass[f"{layer}.wall_s"])
        ]
    pass_spans = {s.pass_no: s for s in tracer.spans if s.kind == "pass"}
    add("spark.gc_s", {n: pass_spans[n].counters["gc_s"] for n in traced})
    add("spark.failed_tasks", {n: pass_spans[n].counters["failed_tasks"] for n in traced})
    by_no = {p["pass"]: p for p in passes}
    add("jvm.cpu_s", {n: by_no[n]["jvm_cpu_s"] for n in traced})
    add("pyworker.cpu_s", {n: by_no[n]["pyworker_cpu_s"] for n in traced})
    for phase in ("build", "run"):
        add(f"queries.{phase}_s", {
            n: sum(s.wall_s for s in tracer.spans
                   if s.pass_no == n and s.attrs.get("phase") == phase)
            for n in traced
        })
    add("simulation.experiment.particle_steps_per_s", {
        s.pass_no: s.attrs["particle_steps_per_s"]
        for s in tracer.spans if "particle_steps_per_s" in s.attrs
    })
    add("sources.written_mb", {
        s.pass_no: s.attrs["written_mb"]
        for s in tracer.spans if "written_mb" in s.attrs
    })
    out = {k: statistics.median(v) for k, v in per_pass.items()}
    out["session.wall_s"] = session_s
    out["streaming.sink_views_left"] = sink_views(spark)
    untraced_wall = [p["wall_s"] for p in passes if not p["traced"]]
    traced_wall = [p["wall_s"] for p in passes if p["traced"]]
    out["trace.overhead_s"] = statistics.median(traced_wall) - statistics.median(untraced_wall)
    return out


def write_spans(tracer, args) -> None:
    path = os.path.join(
        ROOT, ".perfbench", "reports",
        f"{args.workload}-seed{args.seed}-spans.json",
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(
            [
                {
                    "id": s.id, "name": s.name, "kind": s.kind, "parent": s.parent,
                    "pass": s.pass_no, "start": s.start, "end": s.end,
                    "self_s": tracer.self_time(s), "counters": s.counters,
                    "attrs": s.attrs,
                }
                for s in tracer.spans
            ],
            f,
            default=str,
        )


def smoke() -> int:
    """Every workload once at tiny sizes, traced: the report line must carry
    every end-to-end metric with its unit and sample count, the result line
    every per-layer metric with its unit, and every output check must pass."""
    from perfbench.workloads import WORKLOADS

    problems = []
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", "1", "--seconds", "1", "--trace", "1", "--sizes", "smoke"]
        proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or len(lines) < 2:
            problems.append(f"{name}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
            continue
        report = json.loads(lines[-2].removeprefix("perfbench report "))
        result = json.loads(lines[-1])
        for got, want in ((report["metrics"], E2E_UNITS), (result["metrics"], layer_units())):
            if set(got) != set(want):
                problems.append(f"{name}: metrics differ: {sorted(set(got) ^ set(want))}")
            for metric, unit in want.items():
                m = got.get(metric, {})
                if m.get("unit") != unit or not isinstance(m.get("value"), (int, float)):
                    problems.append(f"{name}: {metric} has no value with unit {unit}: {m}")
                if want is E2E_UNITS and "n" not in m:
                    problems.append(f"{name}: {metric} has no sample count")
        ok = report["metrics"]["ok_frac"]["value"]
        if ok != 1.0 or not result["correct"]:
            problems.append(f"{name}: ok_frac {ok}, failed checks {report['failed_checks']}")
        print(f"smoke {name}: ok_frac {ok}, {len(result['metrics'])} per-layer metrics",
              flush=True)
    for p in problems:
        print("SMOKE FAIL " + p)
    print("smoke " + ("failed" if problems else "passed"))
    return 1 if problems else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sizes", choices=sorted(SIZES), default="full")
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    # A terminated run still stops Spark and deletes its run directory.
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))
    try:
        import columnarmodeling_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    if args.smoke:
        return smoke()
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
