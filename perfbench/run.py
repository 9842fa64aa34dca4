"""Benchmark entry point. From the repository root:

    python3 perfbench/run.py --workload etl --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark (perfbench/build.py), runs one
workload in a fresh JVM at local[<cores>], and prints one JSON line:
{"correct", "attempted", "failed", "metrics"}. --trace 0 prints the
end-to-end metrics, --trace 1 the per-layer ledger (and writes the spans to
.bench_build/spans-<workload>-<seed>.jsonl). Everything the run writes
stays under .bench_build.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import metrics  # noqa: E402

# Input sizes per workload (rows: events for etl, documents for corpus),
# how many times one run sets up (setup_s is their median), and how many
# untimed passes warm the JIT before the timed ones.
WORKLOADS = {
    "etl": {"rows": 300_000},
    "corpus": {"rows": 1000},
}
SETUP_REPS = 3
WARM_PASSES = 2
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jvm_flags(tmp):
    flags = ["-Xmx3g", "-Xss16m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
             f"-Dderby.system.home={tmp}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        flags += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return flags


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # SIGTERM unwinds like an exception, so the compiler and the JVM are
    # stopped by subprocess.run and by the finally below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classpath = build.build()
    work = os.path.join(build.BUILD, f"run-{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    cmd = (["java"] + jvm_flags(os.path.join(work, "tmp")) + ["-cp", classpath,
           "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--rows", str(WORKLOADS[a.workload]["rows"]),
           "--setup-reps", str(SETUP_REPS), "--warm-passes", str(WARM_PASSES),
           "--work", work, "--out", out])
    proc = None
    try:
        with open(os.path.join(work, "jvm.log"), "w") as log:
            proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
            proc.wait(timeout=JVM_TIMEOUT_S)
        if proc.returncode != 0 or not os.path.exists(out):
            with open(os.path.join(work, "jvm.log")) as fh:
                sys.stderr.write(fh.read()[-4000:])
            raise SystemExit(f"benchmark JVM failed (exit {proc.returncode})")
        with open(out) as fh:
            raw = json.load(fh)
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(build.BUILD, f"spans-{a.workload}-{a.seed}.jsonl"))
        result = metrics.summarize(raw, a.trace == 1)
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
