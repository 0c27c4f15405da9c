#!/usr/bin/env python3
"""Run the extraction benchmark on one workload (or all of them).

    python3 perfbench/run.py --workload mixed_zipf --seed 1 --seconds 4 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 4 --trace 0
    python3 perfbench/run.py --workload media_unique --seed 2136785236 --seconds 1 --quality medium

Builds first when the sources changed (perfbench/build.py), then runs
one JVM (graft.perfbench.PerfBench) whose last stdout line is the JSON
result. All files go under .bench_build/perfbench; the run's work
directory is removed when it ends.
"""
import argparse
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["mixed_zipf", "media_unique", "text_only", "resume_half"]
TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def run_one(cp, workload, seed, seconds, trace, quality):
    """Run one workload; returns (exit code, last stdout line)."""
    work = os.path.join(build.OUT, "work-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # the repository's JVM settings (ParallelGC, -Xms = -Xmx) at a heap
    # that leaves the rest of a small box free; JIT compiler threads are
    # kept alive so their CPU, which cpu_s_per_kdoc leaves out, adds up
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           "-XX:-UseDynamicNumberOfCompilerThreads",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dlog4j2.configurationFile=" + os.path.join(build.HERE, "log4j2.properties"),
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.PerfBench", "--workload", workload,
            "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
            "--work", work]
    if quality:
        cmd += ["--quality", quality]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=work)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        return 124, ""
    shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").split("\n")
    for line in lines[:-1]:
        print(line)
    return proc.returncode, lines[-1] if lines else ""


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # OCR quality of the jobs; the benchmark's default is "high" (README)
    ap.add_argument("--quality", choices=["low", "medium", "high"])
    a = ap.parse_args()
    cp = build.build()
    names = WORKLOADS if a.workload == "all" else [a.workload]
    status = 0
    for name in names:
        code, last = run_one(cp, name, a.seed, a.seconds, a.trace, a.quality)
        if code != 0 or not last.startswith("{"):
            print("perfbench: %s failed (exit %d)" % (name, code), file=sys.stderr)
            sys.exit(code or 1)
        if a.workload == "all" and '"correct": true' not in last:
            status = 1
        print(last if a.workload != "all" else "%s %s" % (name, last))
    sys.exit(status)


if __name__ == "__main__":
    main()
