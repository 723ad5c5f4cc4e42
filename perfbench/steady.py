"""Steadiness check: run a workload repeatedly, each run a fresh process
with its own seed, and print every metric's median, quartiles and
range, with the quartile spread as a share of the median against the
metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload search --seeds 1-10
    python3 perfbench/steady.py --workload pipeline --seeds 1-5 --trace

With --trace the runs are traced and the per-layer metrics are shown;
the ``traced.*`` metrics minus the untraced end-to-end medians of an
earlier untraced call (same seeds) give the tracing overhead, printed
when both result files exist. Raw results are kept in
.perfbench_run/steady-<workload>-<trace>.json.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(int(trace))]
    t0 = time.monotonic()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.monotonic() - t0
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"seed {seed}: exit code {p.returncode}")
    out = json.loads(p.stdout.strip().splitlines()[-1])
    out["wall_s"] = wall
    return out


def summarize(results: list[dict], bounds: dict[str, float]) -> None:
    names = list(results[0]["metrics"])
    print(f"{'metric':44} {'median':>12} {'q1':>12} {'q3':>12} {'min':>12} {'max':>12} {'iqr/med':>8} {'bound':>6}")
    for name in names:
        vals = [r["metrics"][name]["value"] for r in results]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (vals[0],) * 3
        spread = (q3 - q1) / med if med else 0.0
        b = bounds.get(name)
        flag = "" if b is None else ("  ok" if spread < b / 3 else "  WIDE" if spread > b else "  >1/3")
        print(f"{name:44} {med:12.4f} {q1:12.4f} {q3:12.4f} {min(vals):12.4f} {max(vals):12.4f} "
              f"{spread:8.3f} {'' if b is None else b:>6}{flag}")
    walls = [r["wall_s"] for r in results]
    print(f"runs {len(results)}  wall per run: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    print("failed/attempted per run:", [f"{r['failed']}/{r['attempted']}" for r in results],
          "correct:", all(r["correct"] for r in results))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--trace", action="store_true")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    results = []
    for seed in _seeds(a.seeds):
        r = run_once(a.workload, seed, bench["run_seconds"], a.trace)
        print(f"seed {seed}: {r['wall_s']:.1f} s  " + "  ".join(
            f"{k}={v['value']:.4g}" for k, v in r["metrics"].items() if k in bounds
        ), flush=True)
        results.append(r)
    summarize(results, bounds)
    out_dir = os.path.join(ROOT, ".perfbench_run")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"steady-{a.workload}-{int(a.trace)}.json"), "w") as f:
        json.dump(results, f)
    other = os.path.join(out_dir, f"steady-{a.workload}-{int(not a.trace)}.json")
    if os.path.exists(other):
        with open(other) as f:
            prev = json.load(f)
        traced, plain = (results, prev) if a.trace else (prev, results)
        print("tracing overhead (traced median - untraced median):")
        for name in bounds:
            t = [r["metrics"].get(f"traced.{name}", {}).get("value") for r in traced]
            u = [r["metrics"][name]["value"] for r in plain]
            if None not in t:
                tm, um = statistics.median(t), statistics.median(u)
                print(f"  {name:20} {tm - um:+.4f} ({(tm - um) / um:+.1%})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
