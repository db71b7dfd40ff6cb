#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last stdout line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1> [--tiny]

Run from the checkout root. Builds the program and the benchmark from source
on first use (see build.py), then starts one JVM with a fixed, pre-touched
heap that runs perfbench.PerfBench on local[nproc]. Inputs, outputs and
Spark's local dir live under .bench_work/ in the checkout and are removed
afterwards; a traced run keeps its spans in .bench_work/traces/.
"""
import argparse
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys

import build

HERE = pathlib.Path(__file__).resolve().parent
WORKLOADS = ["curate_code", "near_dup_clusters"]
HEAP = "2g"
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, choices=["0", "1"])
    p.add_argument("--tiny", action="store_true", help="small corpus, for the smoke test")
    a = p.parse_args()

    classpath = build.build()
    root = build.ROOT
    work = root / ".bench_work" / f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = [build.java(), f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.PerfBench",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", str(work),
            "--expected", str(HERE / "expected.json")] + (["--tiny"] if a.tiny else [])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)

    def stop(signum, _frame):
        # the JVM runs in its own session: end it with this script
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"perfbench: {a.workload} exceeded {JVM_TIMEOUT_S}s", file=sys.stderr)
        return 1
    finally:
        if (work / "trace.json").exists():
            traces = root / ".bench_work" / "traces"
            traces.mkdir(parents=True, exist_ok=True)
            shutil.move(str(work / "trace.json"), str(traces / f"{a.workload}-seed{a.seed}.json"))
        shutil.rmtree(work, ignore_errors=True)
    lines = stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(stdout)
        print(f"perfbench: the benchmark process exited with {proc.returncode}", file=sys.stderr)
        return proc.returncode or 1
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        print(f"perfbench: malformed result line: {lines[-1]}", file=sys.stderr)
        return 1
    sys.stderr.write("".join(l + "\n" for l in lines[:-1]))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
