#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics, and the shift between two sets.

    python3 perfbench/spread.py [--runs 10] [--first-seed 1] [--log FILE]
                                [--against FILE] [workload ...]

Runs the benchmark command once per seed (seeds first-seed, first-seed+1,
...) on each workload, untraced, and prints per metric the median and the
interquartile distance as a share of the median, as statistics.quantiles
gives them, next to the metric's bound in BENCHMARK.json. A spread at or
above a third of the bound is marked. Every result line is appended to
--log (default .bench_work/spread.jsonl). With --against, the medians are
also compared with those of an earlier log: a median worse than the
earlier one by more than the bound is marked.
"""
import argparse
import json
import pathlib
import statistics
import subprocess
import sys

ROOT = pathlib.Path.cwd()
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def medians(log, workload):
    values = {}
    for line in pathlib.Path(log).read_text().splitlines():
        r = json.loads(line)
        if r["workload"] == workload:
            for k, v in r["metrics"].items():
                values.setdefault(k, []).append(v["value"])
    return {k: statistics.median(vs) for k, vs in values.items()}


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--log", default=str(ROOT / ".bench_work" / "spread.jsonl"))
    p.add_argument("--against")
    p.add_argument("workloads", nargs="*", default=[w["name"] for w in SPEC["workloads"]])
    a = p.parse_args()
    metrics = {m["name"]: m for m in SPEC["end_to_end"]}
    log = pathlib.Path(a.log)
    log.parent.mkdir(parents=True, exist_ok=True)
    worst = 0.0
    for w in a.workloads:
        values = {}
        for seed in range(a.first_seed, a.first_seed + a.runs):
            cmd = SPEC["command"] + ["--workload", w, "--seed", str(seed),
                                     "--seconds", str(SPEC["run_seconds"]), "--trace", "0"]
            r = subprocess.run(cmd, capture_output=True, text=True)
            if r.returncode != 0:
                sys.exit(f"{w} seed {seed}: exit {r.returncode}\n{r.stderr[-2000:]}")
            res = json.loads(r.stdout.strip().splitlines()[-1])
            with log.open("a") as f:
                f.write(json.dumps({"workload": w, "seed": seed, **res}) + "\n")
            if not res["correct"]:
                sys.exit(f"{w} seed {seed}: incorrect result {res}")
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        before = medians(a.against, w) if a.against else {}
        for k, vs in values.items():
            q1, med, q3 = statistics.quantiles(vs, n=4)
            bound = metrics[k]["bound"]
            share = (q3 - q1) / med
            worst = max(worst, share / bound)
            line = f"{w:18} {k:18} median {med:12.4f} spread {share:7.4f} bound {bound:.2f}"
            if share >= bound / 3:
                line += "  <-- spread at or above bound/3"
            if k in before:
                sign = 1 if metrics[k]["better"] == "lower" else -1
                shift = sign * (statistics.median(vs) - before[k]) / before[k]
                line += f"  shift {shift:+.4f}" + ("  <-- worse by more than the bound" if shift > bound else "")
            print(line, flush=True)
    print(f"largest spread / bound: {worst:.3f}")


if __name__ == "__main__":
    main()
