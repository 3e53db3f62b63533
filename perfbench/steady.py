"""Steadiness check: run the benchmark over several seeds and report,
per workload and metric, the median and the quartile spread
(Q3 - Q1) / median, as ``statistics.quantiles(values, n=4)`` gives the
quartiles.

    python3 perfbench/steady.py run --seeds 1-10 --seconds 18 --trace 0 --out set1.json
    python3 perfbench/steady.py compare set1.json set2.json
    python3 perfbench/steady.py overhead untraced.json traced.json

``compare`` prints the second set's median change against the first
and each spread against the metric's bound from BENCHMARK.json.
``overhead`` compares the mean traced operation wall
(``op.<type>.wall_s``) with the mean untraced wall of the same
operation (``# <type>_s`` lines), both as medians over seeds: the
tracing overhead. Runs are sequential, one at a time.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OP_LINE = re.compile(r"^# (\w+)_s median=([0-9.]+) mean=([0-9.]+) n=(\d+)")


def seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else 0.0


def run(args) -> None:
    results: dict = {"seconds": args.seconds, "trace": args.trace, "runs": []}
    for wl in args.workloads.split(","):
        for seed in seeds(args.seeds):
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl, "--seed", str(seed),
                 "--seconds", str(args.seconds), "--trace", str(args.trace)],
                cwd=ROOT, capture_output=True, text=True, timeout=300,
            )
            lines = p.stdout.strip().splitlines()
            rec = {"workload": wl, "seed": seed, "rc": p.returncode, "wall": time.time() - t0}
            if p.returncode == 0:
                out = json.loads(lines[-1])
                rec["metrics"] = {k: v["value"] for k, v in out["metrics"].items()}
                rec["ops"] = {m.group(1): float(m.group(3)) for m in map(OP_LINE.match, lines) if m}
            else:
                rec["stderr_tail"] = p.stderr[-2000:]
            results["runs"].append(rec)
            print(f"{wl} seed={seed} rc={p.returncode} wall={rec['wall']:.1f}s", flush=True)
    results["summary"] = summarize(results["runs"])
    with open(args.out, "w", encoding="utf-8") as fh:
        json.dump(results, fh, indent=1, sort_keys=True)
    print_summary(results["summary"])


def summarize(runs: list[dict]) -> dict:
    out: dict = {}
    for wl in sorted({r["workload"] for r in runs}):
        ok = [r for r in runs if r["workload"] == wl and r["rc"] == 0]
        if len(ok) < 2:
            continue
        out[wl] = {
            name: {"median": statistics.median(v), "spread": spread(v), "n": len(v)}
            for name in ok[0]["metrics"]
            for v in [[r["metrics"][name] for r in ok]]
        }
        out[wl]["_run_wall_s"] = {"median": statistics.median(r["wall"] for r in ok),
                                  "max": max(r["wall"] for r in ok)}
    return out


def print_summary(summary: dict) -> None:
    bounds = bench_bounds()
    for wl, metrics in summary.items():
        for name, s in metrics.items():
            if name.startswith("_") or name not in bounds:
                continue
            b = bounds[name]
            flag = "ok" if name == "setup_s" or s["spread"] < b / 3 else "WIDE"
            print(f"{wl:9s} {name:10s} median={s['median']:.5g} spread={s['spread']:.4f} "
                  f"bound={b} {flag}")
        print(f"{wl:9s} run wall median={metrics['_run_wall_s']['median']:.1f}s "
              f"max={metrics['_run_wall_s']['max']:.1f}s")


def bench_bounds() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return {m["name"]: m["bound"] for m in json.load(fh)["end_to_end"]}


def compare(args) -> None:
    bounds = bench_bounds()
    with open(args.first, encoding="utf-8") as fh:
        a = json.load(fh)["summary"]
    with open(args.second, encoding="utf-8") as fh:
        b = json.load(fh)["summary"]
    for wl in a:
        for name, bound in bounds.items():
            m1, m2 = a[wl][name]["median"], b[wl][name]["median"]
            worse = (m2 - m1) / m1 if name != "mb_s" else (m1 - m2) / m1
            print(f"{wl:9s} {name:10s} first={m1:.5g} second={m2:.5g} worse_by={worse:+.4f} "
                  f"bound={bound} {'ok' if worse <= bound else 'FAIL'}")


def overhead(args) -> None:
    with open(args.untraced, encoding="utf-8") as fh:
        u = json.load(fh)["runs"]
    with open(args.traced, encoding="utf-8") as fh:
        t = json.load(fh)["runs"]
    for wl in sorted({r["workload"] for r in t}):
        for op in sorted({k for r in u if r["workload"] == wl and r["rc"] == 0 for k in r["ops"]}):
            base = statistics.median(r["ops"][op] for r in u if r["workload"] == wl and r["rc"] == 0)
            traced = statistics.median(r["metrics"][f"op.{op}.wall_s"] for r in t
                                       if r["workload"] == wl and r["rc"] == 0)
            print(f"{wl:9s} {op:9s} untraced={base:.4f}s traced={traced:.4f}s "
                  f"overhead={(traced - base) / base:+.3f}")


def main() -> None:
    ap = argparse.ArgumentParser(description="benchmark steadiness over seeds")
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--workloads", default="churn,erase")
    r.add_argument("--seconds", type=int, default=18)
    r.add_argument("--trace", type=int, default=0)
    r.add_argument("--out", required=True)
    c = sub.add_parser("compare")
    c.add_argument("first")
    c.add_argument("second")
    o = sub.add_parser("overhead")
    o.add_argument("untraced")
    o.add_argument("traced")
    args = ap.parse_args()
    {"run": run, "compare": compare, "overhead": overhead}[args.cmd](args)


if __name__ == "__main__":
    main()
