#!/usr/bin/env python3
"""Run one workload under several seeds and report, for every metric, the
median and the spread: the distance between the first and third quartiles
(Python's statistics.quantiles, n=4) as a share of the median.

    python3 perfbench/spread.py --workload llm_curate --seeds 1-10 [--trace 1]
    python3 perfbench/spread.py --report perfbench/results/llm_curate-set1.jsonl

Each run's JSON result, with its seed and host stamp, is appended to --out
(default .bench_run/spread-<workload>-t<trace>.jsonl); --report prints the
same summary from such a file without running anything.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def by_metric(results):
    out = {}
    for r in results:
        for k, m in r["metrics"].items():
            out.setdefault(k, []).append(m["value"])
    return out


def spread(values):
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, ((q3 - q1) / med if med else float("nan"))


def seeds(spec):
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(s) for s in spec.split(",")]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    ap.add_argument("--report")
    a = ap.parse_args()
    if a.report:
        with open(a.report) as f:
            summarize([json.loads(line) for line in f if line.strip()])
        return
    if not a.workload:
        ap.error("--workload or --report is required")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = a.seconds or json.load(f)["run_seconds"]
    out = a.out or os.path.join(ROOT, ".bench_run", f"spread-{a.workload}-t{a.trace}.jsonl")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    results = []
    for s in seeds(a.seeds):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(s), "--seconds", str(seconds), "--trace", str(a.trace)],
                           cwd=ROOT, capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            sys.exit(f"seed {s} failed (exit {p.returncode}):\n{p.stderr[-2000:]}")
        r = json.loads(lines[-1])
        r["seed"] = s
        r["host"] = next((json.loads(x.split(" host ", 1)[1]) for x in lines
                          if x.startswith("[perfbench] host ")), None)
        results.append(r)
        with open(out, "a") as f:
            f.write(json.dumps(r) + "\n")
        print(f"seed {s}: correct={r['correct']} attempted={r['attempted']} failed={r['failed']}",
              flush=True)
    summarize(results)


def summarize(results):
    print(f"{len(results)} runs, seeds {','.join(str(r.get('seed')) for r in results)}, "
          f"all correct: {all(r['correct'] for r in results)}")
    for k, vs in by_metric(results).items():
        med, sp = spread(vs) if len(vs) >= 2 else (vs[0], float("nan"))
        print(f"{k:40s} median {med:12.6g}  spread {sp:7.2%}  n={len(vs)}")


if __name__ == "__main__":
    main()
