"""KG-pipeline benchmark.

    python3 kgbench/run.py --workload {textbook_link,incremental_add} \
        --seed N --seconds S --trace {0,1}

Run from the repository root.  Generates the workload's inputs from
``--seed``, sets up (Spark session, inputs, warm-up), runs the workload's
operation back to back for ``--seconds`` seconds, checks the outputs, and
prints two JSON lines: the run report, then the result

    {"correct": bool, "attempted": int, "failed": int, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are the per-layer ledger, and
the spans are written to ``.kgbench/reports/``.  Every file the run makes
lives under ``.kgbench/`` in the current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.getcwd()


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _isolate(work: str) -> None:
    """Keep every file Spark and its workers write inside ``work``, and let
    the Python workers import the engine from the checkout."""
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # every JVM Spark starts (its launcher too): no hsperfdata, temp in work
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def _stop(spark) -> None:
    """Stop Spark, its JVM and the Python workers, and wait for each."""
    from pyspark import SparkContext

    from kgbench.trace import descendants

    procs = set(descendants())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        jvm = getattr(gateway, "proc", None)
        if jvm is not None:
            jvm.stdin.close()  # the gateway JVM exits on stdin EOF
            jvm.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    procs = _wait_gone(procs, 30)
    for pid in procs:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    _wait_gone(procs, 10)


def _wait_gone(procs: set[int], seconds: float) -> set[int]:
    """Poll until none of ``procs`` exists or ``seconds`` pass; returns the
    ones still alive."""
    deadline = time.time() + seconds
    while procs and time.time() < deadline:
        procs = {p for p in procs if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    return procs


def _declared(kind: str) -> dict[str, str]:
    """{metric: unit} for ``end_to_end`` or ``per_layer`` in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def tail(times: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it, as
    (seconds, percentile, samples); with fewer than 11 samples, the max."""
    xs, n = sorted(times), len(times)
    k = n - 11 if n >= 11 else n - 1
    return xs[k], 100.0 * (k + 1) / n, n


def run(args, work: str) -> tuple[dict, dict]:
    import pandas
    import pyarrow
    import pyspark

    from kgbench.trace import Tracer, tree_cpu_s, worker_peak_rss_mb
    from kgbench.workloads import WORKLOADS, Context, span_overhead_s
    from textchunking_and_knowledgegraph_spark.session import build_session

    wl = WORKLOADS[args.workload]()
    cpus = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    t0 = time.perf_counter()
    spark = build_session(
        app_name="kgbench", master=f"local[{cpus}]",
        extra_conf={
            "spark.driver.memory": "3g",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "10000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    try:
        tracer = Tracer(spark.sparkContext, run_id)
        ctx = Context(spark, tracer, work, args.seed, args.seconds)
        t1 = time.perf_counter()
        input_times = wl.setup(ctx)
        # the inputs were made several times; count them once, at the median
        inputs_s = statistics.median(input_times)
        setup_s = session_s + time.perf_counter() - t1 - sum(input_times) + inputs_s

        # a traced run measures the ledger first, while the engine is as cold
        # as an untraced run's op; its untraced ops then serve as the base
        ledger = wl.ledger(ctx) if args.trace else {}

        times, cpu, errors = [], [], []
        i = 0
        end = time.perf_counter() + args.seconds
        while True:
            start, cpu0 = time.perf_counter(), tree_cpu_s()
            try:
                wl.op(ctx, i)
                times.append(time.perf_counter() - start)
                cpu.append(tree_cpu_s() - cpu0)
            except Exception:
                errors.append(traceback.format_exc())
            i += 1
            if time.perf_counter() >= end:
                break

        gate = wl.gate(ctx)
        rss = worker_peak_rss_mb()
        if args.trace:
            ledger["ledger.span_overhead_s"] = span_overhead_s(ctx, wl.src)
    finally:
        _stop(spark)

    attempted, failed = i, len(errors)
    report = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "cpus": cpus, "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__, "reference_pins": "not exercised",
        "input_docs": ctx.info.get("docs"), "input_mb": ctx.info.get("input_mb"),
        "setup": {"session_s": session_s, "inputs_s_median": inputs_s, "total_s": setup_s},
        "op_s": times, "op_cpu_s": cpu, "failed_op_ratio": failed / attempted, "errors": errors[:3],
        "gate": gate,
    }
    op_s = statistics.median(times) if times else None
    report[wl.op_metric] = op_s
    if times and wl.op_metric == "add_p50_s":
        t, pct, n = tail(times)
        report["add_tail_s"] = {"value": t, "percentile": pct, "samples": n}
    correct = bool(gate.get("ok")) and failed == 0
    if args.trace:
        m = dict(ledger)
        m["session.start_s"] = session_s
        m["sources.input_mb"] = ctx.info["input_mb"]
        m["sources.docs"] = ctx.info["docs"]
        m["ledger.untraced_op_s"] = op_s
        # a traced op carries one span; the ladder's prefixes carry one each
        m["ledger.trace_overhead_ratio"] = m["ledger.span_overhead_s"] / op_s if op_s else None
        report["ledger_note"] = (
            "trace_overhead_ratio = ledger.span_overhead_s / ledger.untraced_op_s, base "
            "ledger.untraced_op_s = median untraced op of this run, run after the ladder "
            "whose last prefix is ledger.traced_op_s")
        tracer.write(os.path.join(ROOT, ".kgbench", "reports", f"{run_id}.json"), m)
    else:
        m = {
            "op_cpu_s": statistics.median(cpu) if cpu else None,
            "golden_precision": gate["precision"],
            "golden_recall": gate["recall"],
            "py_worker_peak_rss_mb": rss,
            "ok_op_ratio": 1.0 - failed / attempted,
            "setup_s": setup_s,
        }
    declared = _declared("per_layer" if args.trace else "end_to_end")
    # a layer this workload does not run reports 0 and is listed here
    report["layers_not_run"] = sorted(set(declared) - set(m))
    report["undeclared"] = sorted(set(m) - set(declared))
    metrics = {name: {"value": m.get(name, 0), "unit": unit} for name, unit in declared.items()}
    return report, {"correct": correct, "attempted": attempted, "failed": failed,
                    "metrics": metrics}


def main(argv=None) -> int:
    args = _args(argv)
    sys.path.insert(0, ROOT)
    try:
        import textchunking_and_knowledgegraph_spark  # noqa: F401
    except ImportError as e:
        print(f"kgbench: the engine package is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    from kgbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"kgbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".kgbench", f"work-{os.getpid()}")
    _isolate(work)
    try:
        report, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
