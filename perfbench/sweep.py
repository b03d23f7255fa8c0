"""Run the benchmark over several seeds and summarise each metric.

    python3 perfbench/sweep.py --seeds 1-10 [--workloads serve_local ...]
        [--trace 0] [--out .perfbench_out/sweep.json]

For every workload and metric it reports the values, their median and the
spread: the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median, which is
what the metric's ``bound`` in BENCHMARK.json is compared with.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _seeds(text: str) -> list[int]:
    out: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def summarise(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _q2, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med,) * 3
    return {
        "median": med, "q1": q1, "q3": q3,
        "spread": (q3 - q1) / med if med else 0.0,
        "values": values,
    }


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument(
        "--workloads", nargs="+", default=[w["name"] for w in spec["workloads"]]
    )
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", default=os.path.join(ROOT, ".perfbench_out", "sweep.json"))
    args = ap.parse_args()

    report: dict = {}
    for w in args.workloads:
        runs = []
        for seed in _seeds(args.seeds):
            t0 = time.perf_counter()
            p = subprocess.run(
                spec["command"] + [
                    "--workload", w, "--seed", str(seed),
                    "--seconds", str(spec["run_seconds"]),
                    "--trace", str(args.trace),
                ],
                cwd=ROOT, capture_output=True, text=True,
            )
            wall = time.perf_counter() - t0
            if p.returncode != 0:
                print(p.stderr[-3000:], file=sys.stderr)
                raise SystemExit(f"{w} seed {seed}: exit {p.returncode}")
            res = json.loads(p.stdout.strip().splitlines()[-1])
            res.update(seed=seed, wall_s=wall)
            res["failures"] = [
                line for line in p.stderr.splitlines()
                if line.startswith("perfbench: FAILED")
            ]
            steal = [
                line.rsplit(" ", 1)[-1] for line in p.stderr.splitlines()
                if "host steal" in line
            ]
            res["host_steal"] = steal[-1] if steal else None
            runs.append(res)
            print(
                f"{w} seed {seed}: {wall:.1f}s failed {res['failed']}/"
                f"{res['attempted']} "
                + " ".join(
                    f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()
                    if not k.startswith(("local.shape", "engine.shape"))
                ),
                flush=True,
            )
        names = runs[0]["metrics"]
        report[w] = {
            "runs": runs,
            "metrics": {
                k: summarise([r["metrics"][k]["value"] for r in runs]) for k in names
            },
        }
        for k, s in report[w]["metrics"].items():
            print(f"  {w} {k}: median {s['median']:.4g} spread {s['spread']:.3f}")
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
