"""Smallest-size self-test of the benchmark.

Runs every workload once untraced and once traced at the self-test size and
asserts that the run exits 0, that every output check passed, and that every
metric BENCHMARK.json names prints with its unit (end-to-end metrics untraced,
per-layer metrics traced).

  python3 perfbench/selftest.py        (from the root of a checkout)
"""

import json
import pathlib
import subprocess
import sys

BENCH = pathlib.Path(__file__).resolve().parent


def run(workload, trace):
    cmd = [sys.executable, str(BENCH / "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "0", "--trace", str(trace), "--size", "small"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=900)
    assert r.returncode == 0, f"{workload} trace={trace}: exit {r.returncode}"
    return json.loads(r.stdout.strip().splitlines()[-1])


def main():
    spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
    for w in spec["workloads"]:
        for trace, metrics in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            res = run(w["name"], trace)
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
            assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1, res
            assert set(res["metrics"]) == {m["name"] for m in metrics}, sorted(res["metrics"])
            for m in metrics:
                got = res["metrics"][m["name"]]
                assert got["unit"] == m["unit"], (m["name"], got)
                assert isinstance(got["value"], (int, float)), (m["name"], got)
            print(f"ok {w['name']} trace={trace}: {len(metrics)} metrics, "
                  f"{res['attempted']} checked operations")
    print("self-test passed")


if __name__ == "__main__":
    main()
