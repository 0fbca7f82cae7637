"""Lifecycle benchmark for venice_spark.

Run from the repository root:

    python3 perfbench/run.py --workload serve_write --seed 7 --seconds 18 --trace 0

Workloads: serve_write, corpus_prep (see perfbench/workloads.py and
perfbench/README.md). The program gets only inputs generated from `--seed`.
`--seconds` sizes the timed loop: it runs as many cycles (serve_write) or
passes (corpus_prep) as take about that long on a 4-vCPU box, so that every
run of one length makes the same ops.
Spark runs `local[N]` with N the CPUs this process may use, and
SPARK_GRAFT_CPUS=N. Everything the run writes lives under
`.perfbench_work/` in the checkout and is removed at exit.

`--trace 0` prints the end-to-end metrics. `--trace 1` runs the workload
with Spark's event log on, a job group per op and counting probes around
library functions, then runs it untraced in a child process (the reference
for `trace.overhead_pct`), and prints the per-layer metrics. Either way the
last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; the lines before it are a
human-readable table and a `RECORD {...}` line with the run record.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shlex
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
RECONCILE_MAX_PCT = 10.0  # traced op rows must reconcile with op wall this closely

E2E = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "read_p50_ms": "ms",
    "write_p50_ms": "ms",
}

# module metrics of the traced run, with units (op metrics are added below)
MODULE_LAYERS = {
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "catalog.ms_per_read": "ms",
    "catalog.calls_per_read": "count",
    "catalog.delta_slots_mean": "count",
    "partitioner.route_ms_per_read": "ms",
    "engine.df_build_ms": "ms",
    "push.bytes_per_input_byte": "ratio",
    "push.files_written": "count",
    "push.delta_bytes_per_row": "B",
    "push.compact_bytes_rewritten_mb": "MB",
    "producer.flush_ms": "ms",
    "hybrid.serve_ms": "ms",
    "hybrid.log_files": "count",
    "hybrid.bytes_per_op": "B",
    "hybrid.compactions": "count",
    "aa.serve_ms": "ms",
    "aa.bytes_per_op": "B",
    "dcr.seed_rows_per_s": "1/s",
    "dedup.exact_ms": "ms",
    "dedup.minhash_pairs_ms": "ms",
    "dedup.canonical_ms": "ms",
    "dedup.ngram_spans_ms": "ms",
    "dedup.pack_ms": "ms",
    "dedup.planted_recall": "ratio",
    "pipeline.decontaminate_ms": "ms",
    "similarity.recall_at_k": "ratio",
    "trace.overhead_pct": "%",
    "trace.reconcile_max_err_pct": "%",
}
OP_UNITS = {
    "jobs": "count", "tasks": "count", "driver_ms": "ms", "exec_cpu_ms": "ms",
    "pyworker_ms": "ms", "gc_ms": "ms", "shuffle_mb": "MB",
}


def layer_units() -> dict[str, str]:
    from perfbench.trace import OP_FIELDS, OPS

    units = dict(MODULE_LAYERS)
    for op in OPS:
        for f in OP_FIELDS:
            units[f"{op}.{f}"] = OP_UNITS[f]
    return units


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def configure_env(work: Path, traced: bool) -> None:
    """Everything Spark, its JVM and its Python workers need, set before the
    JVM starts. Nothing is written outside `work`."""
    for d in ("local", "tmp", "warehouse", "eventlog"):
        (work / d).mkdir(parents=True, exist_ok=True)
    env = os.environ
    env["SPARK_GRAFT_CPUS"] = str(cpu_count())
    env["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    env["SPARK_LOCAL_DIRS"] = str(work / "local")
    env["SPARK_GRAFT_WAREHOUSE"] = str(work / "warehouse")
    env["TMPDIR"] = str(work / "tmp")
    env["SPARK_DRIVER_MEMORY"] = "2g"
    args = [
        "--driver-java-options", f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    if traced:
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
            "--conf", f"spark.eventLog.dir=file://{work / 'eventlog'}",
        ]
    env["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def git_commit() -> str:
    head = ROOT / ".git" / "HEAD"
    if not head.is_file():
        return "unknown (not a git checkout)"
    ref = head.read_text().strip()
    if ref.startswith("ref: "):
        path = ROOT / ".git" / ref[5:]
        return path.read_text().strip() if path.is_file() else ref
    return ref


def versions() -> dict:
    import pyarrow
    import pyspark

    return {"python": platform.python_version(), "pyspark": pyspark.__version__,
            "pyarrow": pyarrow.__version__}


def run_workload(args, work: Path, traced: bool) -> tuple[dict, dict, object]:
    """Set up once, run the loop, check outputs. Returns (metrics, record,
    outcome).

    setup_s is what a user pays before the first timed op: session start,
    the (cold) set-up and the workload's warm-up of the paths its loop uses.
    After the loop the inputs are generated again from the seed, only to
    prove they come out byte-identical."""
    configure_env(work, traced)
    load_start = os.getloadavg()
    from perfbench.trace import OPS, Probes, install_library_probes, op_layers, p50, read_event_log
    from perfbench.workloads import METRIC_MEANING, WORKLOADS

    t = time.perf_counter()
    from venice_spark import get_spark

    spark = get_spark("perfbench", master=f"local[{cpu_count()}]")
    session_s = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    probes = None
    try:
        if traced:
            probes = Probes()
            install_library_probes(probes)
        wl = WORKLOADS[args.workload](spark, args.seed, args.seconds, traced, probes)
        t = time.perf_counter()
        state = wl.setup(str(work / "setup"))
        setup_cold_s = time.perf_counter() - t
        print_first = wl.fingerprint(state[0])
        out = wl.run(str(work / "run"), state)
        wl.check(wl.fingerprint(wl.inputs()) == print_first,
                 "the seed regenerated different inputs")
        java = spark.sparkContext._jvm.System.getProperty("java.version")
    finally:
        if probes is not None:
            probes.close()
        stop_spark(spark)
    # the largest single process: this driver or the JVM (waited for above)
    peak_rss_mb = max(
        resource.getrusage(resource.RUSAGE_SELF).ru_maxrss,
        resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss,
    ) / 1024.0

    metrics = {"setup_s": session_s + setup_cold_s + out.warmup_s, **out.e2e}
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": int(traced),
        "loop": "closed, 1 client",
        "nproc": cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "master": f"local[{cpu_count()}]",
        "loadavg_start": load_start,
        "loadavg_end": os.getloadavg(),
        "versions": {**versions(), "java": java},
        "commit": git_commit(),
        "session_start_s": session_s,
        "setup_cold_s": setup_cold_s,
        "warmup_s": out.warmup_s,
        "inputs": out.inputs,
        "samples": out.samples,
        "named": {k: v[0] for k, v in out.named.items()},
        "error_rate": out.error_rate(),
        "metric_meaning": METRIC_MEANING[args.workload],
        "op_p50_ms": {op: p50(wl.clock.walls(op)) for op in wl.clock.ops()},
        "op_counts": {op: len(wl.clock.walls(op)) for op in wl.clock.ops()},
        "op_walls_ms": {op: [round(x, 1) for x in wl.clock.walls(op)] for op in wl.clock.ops()},
    }
    if traced:
        jobs, stages = read_event_log(str(work / "eventlog"))
        rows, worst = op_layers(wl.clock.spans, jobs, stages)
        layers = {k: 0.0 for k in layer_units()}
        layers.update(out.layers)
        layers["session.start_s"] = session_s
        layers["session.peak_rss_mb"] = peak_rss_mb
        layers["trace.reconcile_max_err_pct"] = worst
        wl.check(worst <= RECONCILE_MAX_PCT,
                 f"an op's driver_ms + job span misses its wall by {worst:.1f}%")
        for op, row in rows.items():
            for f, v in row.items():
                if op in OPS:
                    layers[f"{op}.{f}"] = v
        record["op_layers"] = rows
        record["spark_jobs"] = len(jobs)
        metrics = layers
    return metrics, record, out


def untraced_reference(args) -> dict:
    """Run the same workload and seed untraced in a child process; return its
    RECORD (per-op p50 walls are the overhead reference)."""
    cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=str(ROOT), stdout=subprocess.PIPE, text=True, timeout=170)
    if proc.returncode != 0:
        raise RuntimeError(f"untraced reference run exited {proc.returncode}")
    for line in proc.stdout.splitlines():
        if line.startswith("RECORD "):
            return json.loads(line[len("RECORD "):])
    raise RuntimeError("untraced reference run printed no RECORD line")


def trace_overhead_pct(traced: dict, ref: dict) -> float:
    """Traced op wall against what the same op mix costs untraced."""
    want = sum(n * ref["op_p50_ms"][op] for op, n in traced["op_counts"].items() if op in ref["op_p50_ms"])
    got = sum(n * traced["op_p50_ms"][op] for op, n in traced["op_counts"].items() if op in ref["op_p50_ms"])
    return (got / want - 1.0) * 100.0 if want else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["serve_write", "corpus_prep"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    sys.path.insert(0, str(ROOT))  # the perfbench package and venice_spark
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (ROOT / "venice_spark" / "__init__.py").is_file():
        print(f"error: no venice_spark package under {ROOT}; run from a repository checkout",
              file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work" / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        metrics, record, out = run_workload(args, work, bool(args.trace))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass  # another run is using it
    # after the traced run, so that its peak RSS is its own
    ref = untraced_reference(args) if args.trace else None
    if ref is not None:
        metrics["trace.overhead_pct"] = trace_overhead_pct(record, ref)
        record["untraced_reference"] = {"op_p50_ms": ref["op_p50_ms"], "named": ref["named"]}

    units = layer_units() if args.trace else E2E
    print(f"# {args.workload} seed={args.seed} trace={args.trace} "
          f"error_rate={out.error_rate():.4f} ({out.failed} failed, {out.wrong} wrong of {out.attempted})")
    if not args.trace:
        for name, (value, unit) in out.named.items():
            shown = "n/a (too few samples)" if value is None else f"{value:.4f}"
            print(f"{args.workload:12s} {name:28s} {shown} {unit}")
    for name in units:
        print(f"{args.workload:12s} {name:28s} {metrics[name]:.4f} {units[name]}")
    print("RECORD " + json.dumps(record, default=str))
    bad = out.failed + out.wrong
    print(json.dumps({
        "correct": bad == 0,
        "attempted": out.attempted,
        "failed": bad,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
