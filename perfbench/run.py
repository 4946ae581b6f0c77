"""Same-host benchmark of the KG system: one workload per invocation.

    python3 perfbench/run.py --workload kg_fused --seed 0 --seconds 10 --trace 0

Runs from any working directory against the checkout that holds this
directory. Load comes from this one process on ``local[<cpus>]`` with the
session defaults the program ships (``session.get_spark``); scratch files
(inputs, Spark local dirs, warehouse, event log) go under
``<checkout>/.bench_work`` and are removed at the end, except the trace.

``--trace 0`` measures the end-to-end metrics. ``--trace 1`` runs the same
workload with the Spark event log on, tags every timed action with its
operation, adds the workload's own layer measurements (kernel replay with
per-layer timers, checkpoint lineage, side runs of the request and dedup
paths), and reports the per-layer metrics instead; a layer the workload
does not exercise reads 0.

Human-readable lines go first; the last line of standard output is one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {  # name → unit
    "setup_s": "s",
    "docs_per_s": "1/s",
    "peak_worker_rss_mb": "MB",
}
# per-op means of the event-log totals, reported on every workload
SPARK_TOTALS = ("spark.executor_run_s", "spark.executor_cpu_s", "spark.jvm_gc_s",
                "spark.spill_bytes", "spark.peak_exec_mem_bytes", "spark.tasks",
                "python.total_s", "python.boot_s", "python.init_s",
                "python.data_sent_bytes", "python.data_received_bytes")


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric with its unit, as BENCHMARK.json lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def tail(values: list[float]) -> tuple[str, float] | None:
    """The highest whole percentile with at least ten samples beyond it
    (nearest rank), or None when that percentile would be below the median
    (fewer than 20 samples)."""
    n = len(values)
    if n < 20:
        return None
    p = math.floor(100 * (n - 10) / n)
    return f"p{p}", sorted(values)[max(math.ceil(p / 100 * n) - 1, 0)]


def describe(name: str, values: list[float], unit: str, scale: float) -> str:
    if not values:
        return f"  {name:<24} no samples"
    t = tail(values)
    tail_txt = (f"{t[0]} {t[1] * scale:.1f}" if t
                else "tail n/a (fewer than 20 samples)")
    return (f"  {name:<24} median {statistics.median(values) * scale:.1f} {unit}"
            f"  {tail_txt}  n={len(values)}")


def session(work: str, cpus: int, traced: bool):
    """The program's session with every scratch path inside ``work``."""
    from corenlp_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
    }
    if traced:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="perfbench", master=f"local[{cpus}]",
                     extra_conf=conf)


def measure(args, work: str) -> tuple[dict, dict, list[str]]:
    """Set up, run the timed loop, check. Returns (numbers, per-layer
    metrics, problems)."""
    import workloads
    from procs import MemoryProbe, process_age_s, stop_spark
    from spans import Tracer

    cpus = len(os.sched_getaffinity(0))
    traced = bool(args.trace)
    probe = MemoryProbe()
    tracer = Tracer() if traced else None
    ctx = workloads.Ctx(root=ROOT, work=work, spark=None, seed=args.seed,
                        cpus=cpus, tracer=tracer)
    w = workloads.WORKLOADS[args.workload]()
    t_inputs = time.perf_counter()
    w.inputs(ctx)
    inputs_s = time.perf_counter() - t_inputs
    t_session = time.perf_counter()
    spark = ctx.spark = session(work, cpus, traced)
    session_s = time.perf_counter() - t_session
    layer: dict[str, float] = {}
    op_s: list[float] = []
    failed_ops = 0
    try:
        t_warm = time.perf_counter()
        w.setup(ctx)
        warmup_s = time.perf_counter() - t_warm
        probe.sample()
        # process start → ready to time, less the benchmark's own inputs
        setup_s = process_age_s() - inputs_s

        start = time.perf_counter()
        i = 0
        while time.perf_counter() - start < args.seconds:
            ctx.label(f"{w.prefix}{i}")
            t0 = time.perf_counter()
            try:
                if tracer is None:
                    w.op(ctx, i)
                else:
                    with tracer.span("op", trace=f"{w.prefix}{i}"):
                        w.op(ctx, i)
                op_s.append(time.perf_counter() - t0)
            except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
                failed_ops += 1
                ctx.problems.append(f"op {i}: {traceback.format_exc(limit=4)}")
            probe.sample()
            i += 1
        loop_s = time.perf_counter() - start
        ctx.label("check")
        wrong = w.check(ctx)
        if traced:
            ctx.label("trace")
            layer.update(w.trace_metrics(ctx))
            probe.sample()
    finally:
        w.close(ctx)
        stop_spark(spark)

    numbers = {
        "attempted": i, "failed": min(i, failed_ops + wrong),
        "op_s": op_s, "loop_s": loop_s, "docs_per_op": w.docs_per_op,
        "setup_s": setup_s, "session_s": session_s, "warmup_s": warmup_s,
        "inputs_s": inputs_s,
        "worker_mb": probe.peak_mb("worker"), "jvm_mb": probe.peak_mb("jvm"),
        "summary": w.summary(),
    }
    if traced:
        from eventlog import event_log_file, ops_from_log, reduce_event_log

        reduced = reduce_event_log(event_log_file(os.path.join(work, "eventlog")))
        ops = ops_from_log(reduced, w.prefix)
        for key in SPARK_TOTALS:
            layer[key] = statistics.mean(o.get(key, 0.0) for o in ops) if ops else 0.0
        layer.update(w.log_metrics(reduced))
        layer["session.start_s"] = session_s
        layer["session.warmup_s"] = warmup_s
        layer["session.jvm_peak_rss_mb"] = probe.peak_mb("jvm")
        layer["trace.docs_per_s"] = (w.docs_per_op / statistics.median(op_s)
                                     if op_s else 0.0)
        tracer.write(os.path.join(ROOT, ".bench_work",
                                  f"trace-{args.workload}-{args.seed}.json"),
                     layer)
    return numbers, layer, ctx.problems


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "corenlp_spark")):
        print(f"no program to benchmark: {ROOT}/corenlp_spark is missing",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    # Python workers import the program from the checkout; temp files of
    # the JVM, the workers and this process stay inside the checkout
    work = os.path.join(ROOT, ".bench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    try:
        numbers, layer, problems = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    n = numbers
    op_s = n["op_s"]
    e2e = {
        "setup_s": n["setup_s"],
        "docs_per_s": n["docs_per_op"] / statistics.median(op_s) if op_s else 0.0,
        "peak_worker_rss_mb": n["worker_mb"],
    }
    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}  "
          f"cpus {len(os.sched_getaffinity(0))}")
    print(f"  {'setup_s':<24} {e2e['setup_s']:.2f} s  (session "
          f"{n['session_s']:.2f} s, warm-up {n['warmup_s']:.2f} s; inputs "
          f"{n['inputs_s']:.2f} s, not counted)  n=1")
    print(describe("op_ms", op_s, "ms", 1e3))
    print(f"  {'':<24} each: {' '.join(f'{v * 1e3:.0f}' for v in op_s)}")
    for name, values in n["summary"].items():
        print(describe(name, values, "s", 1.0))
    print(f"  {'docs_per_s':<24} {e2e['docs_per_s']:.1f} 1/s "
          f"({n['docs_per_op']} docs per op, loop {n['loop_s']:.1f} s)")
    print(f"  {'peak_worker_rss_mb':<24} {n['worker_mb']:.1f} MB  "
          f"(JVM {n['jvm_mb']:.1f} MB)")
    print(f"  {'error_rate':<24} {n['failed'] / max(n['attempted'], 1):.4f} "
          f"({n['failed']}/{n['attempted']})")
    for p in problems:
        print(f"  PROBLEM {p}")

    if args.trace:
        units = per_layer_units()
        metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u}
                   for k, u in units.items()}
        for k in sorted(units):
            print(f"  {k:<48} {metrics[k]['value']:.6g} {units[k]}")
    else:
        metrics = {k: {"value": float(v), "unit": END_TO_END[k]}
                   for k, v in e2e.items()}
    out = {"correct": not problems and n["failed"] == 0,
           "attempted": n["attempted"], "failed": n["failed"],
           "metrics": metrics}
    sys.stdout.flush()
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
