"""The repository's benchmark.

Usage, from the repository root:

    python3 perfbench/run.py --workload extract_dense --seed 1 --seconds 3 --trace 0
    python3 perfbench/run.py --selftest

A run builds the program and the benchmark from source (perfbench/build.py),
then in one JVM generates the workload's inputs from the seed, repeats the
set-up, and runs a closed loop of one job at a time for --seconds, each
job's output checked against the generator's ground truth.
The last stdout line is the result object; the full artifact (environment
stamp, samples, per-layer table, spans) goes to .bench_build/perfbench/results/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("extract_dense", "extract_sparse", "neardup")
RUN_LIMIT_S = 170


def commit():
    """The checked-out commit when .git is present, else "unknown"."""
    head = Path(".git/HEAD")
    if not head.is_file():
        return "unknown"
    ref = head.read_text().strip()
    if ref.startswith("ref: "):
        target = Path(".git") / ref[5:]
        return target.read_text().strip() if target.is_file() else "unknown"
    return ref


def java(classes, heap, args, deadline):
    tmp = build.BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}", *build.JVM_OPTS,
           "-cp", build.classpath(classes), "graft.perfbench.Main", *args]
    proc = subprocess.Popen(cmd)
    try:
        return proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        print(f"perfbench: {args[0]} exceeded the run limit", file=sys.stderr)
        return 1
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=3)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        ap.error("--workload is required")
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classes, digest = build.build()
    deadline = time.monotonic() + RUN_LIMIT_S
    if a.selftest:
        return java(classes, "1g", ["selftest"], deadline) or check_metric_names(classes, deadline)

    work = build.BUILD / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    common = ["--workload", a.workload, "--seed", str(a.seed), "--cores", str(build.cores()),
              "--work", str(work.resolve())]
    try:
        return java(classes, "3g", [
            "measure", *common, "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--results", str((build.BUILD / "results").resolve()),
            "--commit", commit(), "--source-sha", digest], deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def check_metric_names(classes, deadline):
    """BENCHMARK.json must name exactly the metrics the benchmark reports."""
    spec = Path("BENCHMARK.json")
    if not spec.is_file():
        return 0
    out = subprocess.run(
        ["java", "-cp", build.classpath(classes), "graft.perfbench.MetricNames"],
        capture_output=True, text=True, check=True,
        timeout=max(1.0, deadline - time.monotonic())).stdout
    reported = json.loads(out)
    declared = json.loads(spec.read_text())
    ok = True
    for key in ("end_to_end", "per_layer"):
        want = [(m["name"], m["unit"]) for m in declared[key]]
        got = [tuple(m) for m in reported[key]]
        if want != got:
            print(f"selftest: BENCHMARK.json {key} differs from the reported metrics:\n"
                  f"  declared {want}\n  reported {got}", file=sys.stderr)
            ok = False
    print(f"selftest: BENCHMARK.json metric names {'match' if ok else 'DIFFER'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
