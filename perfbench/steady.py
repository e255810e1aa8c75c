#!/usr/bin/env python3
"""Run workloads N times with distinct seeds and report how steady each
end-to-end metric is.

Usage (from the root of a checkout):
  python3 perfbench/steady.py [--workload W ...] [--runs N] [--seed0 S]

For every metric it prints the median, the first and third quartiles
(statistics.quantiles(values, n=4)), the spread (Q3 - Q1) / median, and
the metric's bound from BENCHMARK.json; a spread above a third of the
bound is flagged. Each run's result line is appended to
.bench_build/steady.jsonl.
"""
import argparse
import json
import pathlib
import statistics
import subprocess
import sys

SPEC = json.loads(pathlib.Path("BENCHMARK.json").read_text())


def run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [*SPEC["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed}: exit {p.returncode}")
    return json.loads(lines[-1])


def main() -> int:
    names = [w["name"] for w in SPEC["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", action="append", choices=names)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in SPEC["end_to_end"]}
    log = pathlib.Path(".bench_build") / "steady.jsonl"
    log.parent.mkdir(exist_ok=True)
    ok = True
    for w in a.workload or names:
        values: dict = {}
        for i in range(a.runs):
            seed = a.seed0 + i
            r = run(w, seed, SPEC["run_seconds"], a.trace)
            with log.open("a") as f:
                f.write(json.dumps({"workload": w, "seed": seed, **r}) + "\n")
            ok &= r["correct"] and r["failed"] == 0
            print(f"{w} seed={seed} correct={r['correct']} attempted={r['attempted']} "
                  f"failed={r['failed']} " + " ".join(
                      f"{k}={v['value']:.4g}" for k, v in sorted(r["metrics"].items())),
                  flush=True)
            for k, v in r["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        print(f"== {w}: {a.runs} runs")
        for k, vs in sorted(values.items()):
            med = statistics.median(vs)
            q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0],) * 3
            spread = (q3 - q1) / med if med else float("nan")
            b = bounds.get(k)
            flag = "" if b is None or k == "setup_s" or spread < b / 3 else "  <-- above bound/3"
            print(f"  {k:20s} median={med:.4f} q1={q1:.4f} q3={q3:.4f} "
                  f"spread={spread:.3f} bound={b}{flag}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
