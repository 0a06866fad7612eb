"""The anomaly engine's benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload pipeline_batch --seed 1 --seconds 30 --trace 0

Generates (or reuses) the workload's seeded input, starts the engine's
session on ``local[<cpus>]``, runs one cold repetition and then warm
repetitions for ``--seconds``, checks the outputs against driver-side
references, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` the per-layer ones, from spans and
Spark's in-process counters (see README.md). Everything the run writes
stays under ``.perfbench/`` at the repository root; a detailed artifact
per run lands in ``.perfbench/artifacts/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

import gen  # noqa: E402  (HERE is sys.path[0] when run as a script)

END_TO_END_UNITS = {
    "setup_s": "s",
    "first_run_s": "s",
    "run_s_p50": "s",
    "events_per_s": "events/s",
    "jvm_peak_rss_mb": "MB",
}
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "sources.build_ms": "ms",
    "sources.input_bytes": "B",
    "plans.build_ms": "ms",
    "plans.analyze_ms": "ms",
    "plans.optimize_ms": "ms",
    "plans.physical_ms": "ms",
    "plans.build_jobs": "count",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.failed_tasks": "count",
    "operators.executor_run_ms": "ms",
    "operators.executor_cpu_ms": "ms",
    "operators.gc_ms": "ms",
    "operators.core_busy_share": "ratio",
    "operators.shuffle_write_bytes": "B",
    "operators.shuffle_read_bytes": "B",
    "operators.spill_bytes": "B",
    "operators.broadcast_bytes": "B",
    "operators.python_run_ms": "ms",
    "operators.python_start_ms": "ms",
    "operators.python_bytes_sent": "B",
    "operators.python_bytes_returned": "B",
    "streaming.batches": "count",
    "streaming.batch_ms_p50": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.state_update_ms": "ms",
    "streaming.state_commit_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_mem_bytes": "B",
    "streaming.state_instances": "count",
    "streaming.rows_dropped_by_watermark": "count",
    "streaming.alert_rows": "count",
    "streaming.sink_files": "count",
    "trace.overhead_ms": "ms",
    "trace.unattributed_share": "ratio",
}
# a traced repetition's root span may leave at most this share of its
# wall time outside its child spans
UNATTRIBUTED_TOLERANCE = 0.05
DEADLINE_S = 150.0
DRIVER_MEM = "2g"
PROBE_LOOPS = 300_000


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(gen.SHAPES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_environment(run_dir: str, cores: int) -> None:
    """Point every scratch location of Spark, the JVM and the Python
    workers into ``run_dir`` and put the repository on the workers'
    import path, so the run works from any working directory."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # shuffle (and so state-store) partitions = cores, and a bounded
    # driver heap; see README.md
    os.environ["SPARK_GRAFT_SHUFFLE"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # pandas deprecation chatter from PySpark's own serializer, per batch
    os.environ["PYTHONWARNINGS"] = "ignore::FutureWarning"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), java_opts) if p
    )
    sys.path.insert(0, ROOT)


def cpu_times() -> list[int]:
    """The host's aggregate CPU counters (user ... steal) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the host's CPU time stolen by the hypervisor in between:
    how much other tenants slowed this run down."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


def host_probe_s() -> float:
    """Wall time of a fixed pure-Python loop on the driver: how fast the
    host runs one core right now."""
    start = time.perf_counter()
    x = 0
    for i in range(PROBE_LOOPS):
        x += i * i % 7
    return time.perf_counter() - start


def jvm_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()  # the JVM exits on EOF of its stdin
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    # a later session in this process launches a fresh JVM
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args) -> dict:
    cores = len(os.sched_getaffinity(0))
    shape = gen.SHAPES[args.workload]
    input_dir = os.path.join(WORK, "inputs", gen.input_key(args.workload, shape, args.seed))
    manifest = gen.write_input(shape, args.seed, input_dir)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    prepare_environment(run_dir, cores)
    try:
        return measure(args, cores, input_dir, manifest, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def measure(args, cores, input_dir, manifest, run_dir) -> dict:
    setup_probe = host_probe_s()
    t0 = time.perf_counter()
    from amonaly_detection_in_time_series_data_spark.session import get_spark
    from pyspark import SparkContext

    import spans as tracing
    import workloads

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        },
    )
    spark.range(1).count()
    setup_s = time.perf_counter() - t0
    jvm_pid = SparkContext._gateway.proc.pid
    try:
        wl = workloads.WORKLOADS[args.workload](input_dir, run_dir)
        tracer = tracing.Tracer(spark.sparkContext) if args.trace else None
        cpu_before = cpu_times()
        reps, errors = repeat(wl, spark, args, tracer, t0)
        steal = steal_share(cpu_before, cpu_times())
        rss = jvm_peak_rss_mb(jvm_pid)
        checks = []
        if not errors:
            try:
                checks = wl.check(spark)
            except Exception:
                errors.append(traceback.format_exc())
        layer = {}
        if tracer and reps:
            try:
                layer = per_layer(spark, tracer, reps, cores, setup_s)
            except Exception:
                errors.append(traceback.format_exc())
    finally:
        stop_spark(spark)

    untraced = [r for r in reps[1:] if not r["traced"]]
    # the JIT keeps warming for the first few repetitions: count only
    # those that start after the workload's warm-up share of the window
    # (at least one)
    measured = [
        r for r in untraced if r["offset_s"] >= args.seconds * wl.warmup_share
    ] or untraced[-1:]
    failed = len(errors) + sum(not c["ok"] for c in checks)
    attempted = len(reps) + len(errors) + len(checks)
    e2e = {}
    if measured:
        p50 = statistics.median(r["wall_s"] for r in measured)
        e2e = {
            "setup_s": setup_s,
            "first_run_s": reps[0]["wall_s"],
            "run_s_p50": p50,
            "events_per_s": manifest["rows"] / p50,
            "jvm_peak_rss_mb": rss,
        }
    return {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "seconds": args.seconds,
        "host": {**host_facts(cores), "steal_share": steal, "setup_probe_s": setup_probe},
        "input": manifest,
        "reps": reps,
        "warm_n": len(untraced),
        "measured_n": len(measured),
        "end_to_end": e2e,
        "per_layer": layer.get("metrics", {}),
        "trace_detail": layer.get("detail", {}),
        "checks": checks,
        "errors": errors,
        "attempted": attempted,
        "failed": failed,
        "correct": failed == 0 and bool(checks) and bool(measured),
    }


def repeat(wl, spark, args, tracer, t0):
    """One cold repetition, then warm ones until the next would end after
    ``--seconds``; each warm one records when it started in that window.
    With tracing, warm repetitions alternate untraced and traced (at least
    one of each) so the overhead can be measured."""
    import spans as tracing

    null = tracing.NullTracer()
    reps: list[dict] = []
    errors: list[str] = []
    warm_start = None
    while True:
        i = len(reps)
        traced = bool(tracer) and i % 2 == 0  # the cold one, then every other
        tr = tracer if traced else null
        probe = host_probe_s()
        start = time.perf_counter()
        try:
            if traced:
                with tr.span("rep", rep=i) as root:
                    wl.rep(spark, tr)
            else:
                wl.rep(spark, tr)
            wall = time.perf_counter() - start
            rec = {"rep": i, "wall_s": wall, "probe_s": probe, "traced": traced,
                   "offset_s": start - warm_start if i else 0.0}
            if traced:
                rec["span"] = root["id"]
                rec["extras"] = wl.trace_extras()
        except Exception:
            errors.append(traceback.format_exc())
            break
        reps.append(rec)
        if i == 0:
            warm_start = time.perf_counter()
            continue
        elapsed = time.perf_counter() - warm_start
        enough = not tracer or len(reps) >= 3
        if enough and elapsed + wall > args.seconds:
            break
        if time.perf_counter() - t0 + wall > DEADLINE_S:
            break
    return reps, errors


def per_layer(spark, tracer, reps, cores, setup_s) -> dict:
    """Per-layer metrics: medians over the traced warm repetitions."""
    import spans as tracing

    groups = {f"{tracing.JOB_GROUP_PREFIX}{s['id']}": s["id"] for s in tracer.spans}
    for s in tracer.spans:
        if "run_id" in s:
            groups[s["run_id"]] = s["id"]
    counters = tracing.read_counters(spark, groups)
    per_rep = []
    problems = tracing.check_tree(tracer.spans)
    for r in reps:
        if not r["traced"]:
            continue
        spans = tracer.subtree(r["span"])
        own = tracing.self_times(spans)
        root = spans[0]
        wall_ms = (root["end"] - root["start"]) * 1e3
        c = {k: 0.0 for k in tracing.COUNTERS}
        plan_jobs = 0.0
        for s in spans:
            sc = counters.get(s["id"])
            if sc is None:
                continue
            for k in c:
                c[k] += sc[k]
            if s["name"].startswith("plans."):
                plan_jobs += sc["jobs"]
        layer_ms = {
            layer: 1e3 * sum(own[s["id"]] for s in spans if s["name"].startswith(layer + "."))
            for layer in ("sources", "plans")
        }
        m = {
            "sources.build_ms": layer_ms["sources"],
            "sources.input_bytes": c["input_bytes"],
            "plans.build_ms": layer_ms["plans"],
            "plans.build_jobs": plan_jobs,
            "operators.core_busy_share": c["executor_run_ms"] / (wall_ms * cores),
            "trace.unattributed_share": own[root["id"]] * 1e3 / wall_ms,
        }
        for k in tracing.COUNTERS:
            if k != "input_bytes":
                m[f"operators.{k}"] = c[k]
        m.update(r["extras"]["metrics"])
        per_rep.append({"rep": r["rep"], "wall_ms": wall_ms, "metrics": m})
    warm_traced = [p for p in per_rep if p["rep"] > 0] or per_rep
    metrics = {
        k: statistics.median(p["metrics"][k] for p in warm_traced)
        for k in warm_traced[0]["metrics"]
    }
    traced_walls = [r["wall_s"] for r in reps[1:] if r["traced"]]
    untraced_walls = [r["wall_s"] for r in reps[1:] if not r["traced"]]
    if traced_walls and untraced_walls:
        metrics["trace.overhead_ms"] = 1e3 * (
            statistics.median(traced_walls) - statistics.median(untraced_walls)
        )
    metrics["trace.unattributed_share"] = max(
        p["metrics"]["trace.unattributed_share"] for p in per_rep
    )
    metrics["session.start_s"] = setup_s
    if metrics["trace.unattributed_share"] > UNATTRIBUTED_TOLERANCE:
        problems.append(
            f"spans leave {metrics['trace.unattributed_share']:.1%} of a repetition "
            f"unattributed (tolerance {UNATTRIBUTED_TOLERANCE:.0%})"
        )
    t_base = tracer.spans[0]["start"] if tracer.spans else 0.0
    return {
        "metrics": metrics,
        "detail": {
            "per_rep": per_rep,
            "tree_problems": problems,
            "unattributed_tolerance": UNATTRIBUTED_TOLERANCE,
            "spans": [
                {**s, "start": s["start"] - t_base, "end": s["end"] - t_base}
                for s in tracer.spans
            ],
            "span_counters": {str(k): v for k, v in counters.items()},
        },
    }


def host_facts(cores: int) -> dict:
    import numpy
    import pyarrow
    import pyspark

    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "cpus": cores,
        "master": f"local[{cores}]",
        "mem_gb": round(mem_kb / 1024**2, 1),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
    }


def result_line(art: dict) -> dict:
    units = PER_LAYER_UNITS if art["trace"] else END_TO_END_UNITS
    values = art["per_layer"] if art["trace"] else art["end_to_end"]
    return {
        "correct": art["correct"] and all(k in values for k in units),
        "attempted": art["attempted"],
        "failed": art["failed"],
        "metrics": {
            k: {"value": values[k], "unit": u} for k, u in units.items() if k in values
        },
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.seconds <= 0:
        print("--seconds must be positive", file=sys.stderr)
        return 2
    art = run(args)
    if args.trace:
        problems = art["trace_detail"].get("tree_problems", [])
        if problems:
            art["correct"] = False
            art["errors"].extend(problems)
    out_dir = os.path.join(WORK, "artifacts")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(art, f, indent=1, default=str)
    for r in art["reps"]:
        print(f"rep {r['rep']}: {r['wall_s']:.3f} s, host probe {r['probe_s']:.3f} s"
              f"{' (traced)' if r['traced'] else ''}")
    print(f"host steal share during the repetitions: {art['host']['steal_share']:.1%}")
    for c in art["checks"]:
        print(f"check {c['check']}: {'ok' if c['ok'] else 'FAILED'} ({c['detail']})")
    for e in art["errors"]:
        print(f"error: {e}", file=sys.stderr)
    print(f"artifact: {os.path.relpath(path, ROOT)}")
    print(json.dumps(result_line(art)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
