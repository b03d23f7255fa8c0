"""Benchmark entry point.

    python3 perfbench/run.py --workload serve_local --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout.  Everything the run writes goes
under ``.perfbench_out/`` in that checkout.  The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``; with ``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json, with ``--trace 1`` the per-layer ones.  Mismatches are
listed on standard error and in the run directory's ``failures.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench_out")
WORKLOADS = ("serve_local", "write_query")


def _sandbox(run_dir: str) -> None:
    """Point every temp and scratch location of Python, Spark and the JVM
    into the run directory (executors inherit the environment)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    tempfile.tempdir = None


def _spark(run_dir: str, ncpu: int, trace: bool):
    from pyspark.sql import SparkSession

    java_opts = (
        f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} "
        f"-Dderby.system.home={run_dir} "
        # a fixed set of JIT threads, for trace.tree_cpu_s
        "-XX:-UseDynamicNumberOfCompilerThreads"
    )
    b = (
        SparkSession.builder.master(f"local[{ncpu}]")
        .appName("probe-spark-perfbench")
        .config("spark.sql.shuffle.partitions", str(2 * ncpu))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "3g")
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.local.dir", os.path.join(run_dir, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(run_dir, "warehouse"))
    )
    if trace:
        events = os.path.join(run_dir, "events")
        os.makedirs(events, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", f"file://{events}")
            .config("spark.eventLog.compress", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _untraced(args) -> dict:
    """The end-to-end metrics of an untraced run of the same workload and
    seed, run now, before the traced run, in a process of its own."""
    p = subprocess.run(
        [sys.executable, os.path.abspath(__file__),
         "--workload", args.workload, "--seed", str(args.seed),
         "--seconds", str(args.seconds), "--trace", "0"],
        check=True, stdout=subprocess.PIPE, text=True,
    )
    return json.loads(p.stdout.strip().splitlines()[-1])["metrics"]


def _declared(trace: bool) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import probe_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not in this checkout: {e}", file=sys.stderr)
        return 2
    untraced = _untraced(args) if args.trace else None

    run_dir = os.path.join(OUT, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    _sandbox(run_dir)

    from perfbench import gen, workloads
    from perfbench import trace as tr

    host0 = tr.host_cpu_times()
    ncpu = len(os.sched_getaffinity(0))
    with ThreadPoolExecutor(1) as pool:  # the vocabulary while the JVM starts
        vocab = pool.submit(gen.Vocab, args.seed)
        spark = _spark(run_dir, ncpu, bool(args.trace))
        vocab = vocab.result()
    tracer = tr.Tracer(spark) if args.trace else tr.NullTracer()
    ctx = workloads.Context(
        spark, run_dir, args.seed, args.seconds, tracer, ncpu, vocab
    )
    try:
        try:
            getattr(workloads, args.workload)(ctx)
        finally:
            tracer.close()
            _stop(spark)
            ctx.log("spark stopped")
        result = _result(args, ctx, run_dir, untraced)
    finally:
        # keep the trace files; drop the indexes, corpora and Spark scratch
        for name in os.listdir(run_dir):
            p = os.path.join(run_dir, name)
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
    ctx.log(f"done; host steal {tr.host_steal_frac(host0, tr.host_cpu_times()):.1%}")
    print(json.dumps(result))
    return 0


def _result(args, ctx, run_dir: str, untraced) -> dict:
    from perfbench import trace as tr
    from perfbench import workloads

    failures = ctx.ledger.failures + ctx.request_errors
    attempted = ctx.ledger.checked + ctx.requests
    failed = len(failures)
    # over the answers that were checked: most served requests are not
    ctx.e2e["correct_frac"] = (
        1.0 - failed / (ctx.ledger.checked + len(ctx.request_errors)), "ratio",
    )
    with open(os.path.join(run_dir, "failures.json"), "w") as f:
        json.dump(failures, f, indent=1)
    for fl in failures:
        print(f"perfbench: FAILED {fl}", file=sys.stderr)

    if args.trace:
        ctx.tracer.write(os.path.join(run_dir, "spans.jsonl"))
        metrics = workloads.layer_metrics(
            ctx, tr.event_log_stats(os.path.join(run_dir, "events")),
            {k: u for k, u in _declared(True).items() if not k.startswith("trace.")},
        )
        for name, (value, _unit) in sorted(ctx.e2e.items()):
            base = untraced[name]["value"]
            metrics[f"trace.overhead.{name}"] = (
                value / base - 1.0 if base else 0.0, "ratio",
            )
    else:
        metrics = ctx.e2e

    declared = _declared(bool(args.trace))
    got = {k: u for k, (_v, u) in metrics.items()}
    if got != declared:
        raise RuntimeError(
            f"metrics differ from BENCHMARK.json: {sorted(set(got) ^ set(declared))}"
            f" {[k for k in got if k in declared and got[k] != declared[k]]}"
        )
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": _fmt(metrics),
    }


def _fmt(metrics: dict) -> dict:
    return {k: {"value": float(v), "unit": u} for k, (v, u) in sorted(metrics.items())}


if __name__ == "__main__":
    sys.exit(main())
