"""Benchmark entry point: builds the library and the benchmark, runs one workload
in one JVM, and prints the result as the last line of standard output.

  python3 perfbench/run.py --workload extract|ingest --seed N \
      --seconds S --trace 0|1 [--size full|small]

Run it from the root of a checkout. Everything it writes stays inside the
checkout: the build under .bench_build/ (or $CARGO_TARGET_DIR) and each run's
scratch under .bench_work/, which is removed when the run ends. A traced run
keeps its spans in .bench_work/traces/. See perfbench/README.md.
"""

import argparse
import json
import os
import pathlib
import shutil
import subprocess
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("extract", "ingest")
# Seconds the JVM may take, set-up and measurement included.
JVM_TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "small"), default="full")
    args = ap.parse_args()

    try:
        classpath, shared = build.build()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2

    root = pathlib.Path.cwd() / ".bench_work"
    work = root / f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        cmd = build.java_command(classpath, work, shared) + [
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--size", args.size, "--work", str(work)]
        proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            print(f"[perfbench] run exceeded {JVM_TIMEOUT_S} s; killed", file=sys.stderr)
            return 3
        if code != 0:
            print(f"[perfbench] JVM exited with {code}", file=sys.stderr)
            return 4
        result = json.loads((work / "result.json").read_text())
        diagnostics = json.loads((work / "diagnostics.json").read_text())
        if args.trace:
            traces = root / "traces"
            traces.mkdir(exist_ok=True)
            dest = traces / f"{args.workload}-seed{args.seed}.json"
            shutil.copyfile(work / "spans.json", dest)
            diagnostics["spans_file"] = str(dest.relative_to(pathlib.Path.cwd()))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"diagnostics": diagnostics}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
