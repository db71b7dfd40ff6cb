#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program's sources (src/main/scala) together with the
benchmark's own (perfbench/src) with the Scala compiler that ships in
Spark's jars directory, into <build dir>/perfbench-<hash>/classes. The
hash covers every source file and this script, so a checkout builds once
and a changed source builds again. The build dir is $CARGO_TARGET_DIR if
set, else .bench_build, relative to the checkout root.

    python3 perfbench/build.py        # from the checkout root; prints the classpath
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

ROOT = pathlib.Path.cwd()
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
RESOURCES = ROOT / "src" / "main" / "resources"
BENCH_SRC = pathlib.Path(__file__).resolve().parent / "src"


def spark_jars() -> pathlib.Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            sys.exit("perfbench: neither SPARK_HOME nor spark-submit is available")
        home = str(pathlib.Path(submit).resolve().parent.parent)
    jars = pathlib.Path(home) / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        sys.exit(f"perfbench: no scala-compiler jar in {jars}")
    return jars


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    exe = pathlib.Path(home) / "bin" / "java" if home else None
    return str(exe) if exe and exe.exists() else "java"


def sources() -> list:
    if not (PROGRAM_SRC / "graft" / "Main.scala").is_file():
        sys.exit(f"perfbench: the program's sources are missing ({PROGRAM_SRC})")
    return sorted(PROGRAM_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))


def build() -> str:
    """Builds if needed; returns the runtime classpath."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for f in srcs + [pathlib.Path(__file__).resolve()]:
        h.update(str(f.relative_to(ROOT) if f.is_relative_to(ROOT) else f.name).encode())
        h.update(f.read_bytes())
    out_root = pathlib.Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    if not out_root.is_absolute():
        out_root = ROOT / out_root
    target = out_root / f"perfbench-{h.hexdigest()[:16]}"
    classes = target / "classes"
    if not (target / "complete").exists():
        shutil.rmtree(target, ignore_errors=True)
        classes.mkdir(parents=True)
        args = target / "sources.txt"
        args.write_text("\n".join(str(s) for s in srcs) + "\n")
        cmd = [java(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*",
               "scala.tools.nsc.Main", "-nowarn", "-classpath", f"{jars}/*",
               "-d", str(classes), f"@{args}"]
        print(f"perfbench: compiling {len(srcs)} sources into {classes}", file=sys.stderr)
        if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
            shutil.rmtree(target, ignore_errors=True)
            sys.exit("perfbench: compilation failed")
        (target / "complete").write_text("")
    return os.pathsep.join([str(classes), str(RESOURCES), f"{jars}/*"])


if __name__ == "__main__":
    print(build())
