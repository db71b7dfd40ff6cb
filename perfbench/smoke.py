#!/usr/bin/env python3
"""Smoke test of the benchmark, on tiny corpora.

    python3 perfbench/smoke.py        # from the checkout root

For every workload it runs one untraced and two traced runs on the same
seed, and checks that:
  - each run exits 0 with a correct result line;
  - the untraced run prints exactly the end_to_end metrics of
    BENCHMARK.json, and the traced runs exactly its per_layer metrics, with
    the same units;
  - the exact counters repeat between the two traced runs.
Then it checks that a directory holding only BENCHMARK.json and the
benchmark's own files makes the benchmark fail without a result.
"""
import json
import pathlib
import shutil
import subprocess
import sys

ROOT = pathlib.Path.cwd()
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
EXACT = ["spark.jobs", "sources.scan_passes", "operators.tag_docs", "dedup.dup_docs",
         "dedup.lsh_pairs", "runtime.cached_mb_after"]


def run(workload, trace, seed=7, cwd=ROOT):
    cmd = SPEC["command"] + ["--workload", workload, "--seed", str(seed), "--seconds", "1",
                             "--trace", str(trace), "--tiny"]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=400)
    return p.returncode, p.stdout, p.stderr


def metrics_of(workload, trace, want):
    code, out, err = run(workload, trace)
    assert code == 0, f"{workload} trace={trace} exited {code}:\n{err[-3000:]}"
    res = json.loads(out.strip().splitlines()[-1])
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, \
        f"{workload} trace={trace}: {res}\n{err[-3000:]}"
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == want, f"{workload} trace={trace}: metrics {sorted(got)} != {sorted(want)}"
    return {k: v["value"] for k, v in res["metrics"].items()}


def main():
    e2e = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    for w in WORKLOADS:
        metrics_of(w, 0, e2e)
        a, b = metrics_of(w, 1, layer), metrics_of(w, 1, layer)
        diff = {k: (a[k], b[k]) for k in EXACT if a[k] != b[k]}
        assert not diff, f"{w}: exact counters differ between two traced runs: {diff}"
        print(f"ok {w}: " + ", ".join(f"{k}={a[k]:g}" for k in EXACT), flush=True)

    bare = ROOT / ".bench_work" / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    for p in SPEC["paths"]:
        shutil.copytree(ROOT / p, bare / p, ignore=shutil.ignore_patterns("__pycache__"))
    code, out, _ = run(WORKLOADS[0], 0, cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    assert code != 0 and not out.strip(), f"bare directory: exit {code}, stdout {out!r}"
    print("ok bare directory fails without a result")


if __name__ == "__main__":
    try:
        main()
    except AssertionError as e:
        sys.exit(f"smoke FAILED: {e}")
