#!/usr/bin/env python3
"""Self-test of the graft benchmark at toy size.

Run from the root of a graft checkout:

    python3 perfbench/selftest.py

Runs every workload of BENCHMARK.json untraced and traced on tiny corpora and
asserts that each prints every metric BENCHMARK.json names, with its unit,
and passes its output check; that every per-layer metric has an entry in
perfbench/layers.json; and that the output check fails on a deliberately
corrupted top-k answer.
"""
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
SCALE = "0.02"


def run(workload, trace, *extra):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--scale", SCALE, *extra]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=600)
    assert p.returncode == 0, f"{' '.join(cmd)} exited with {p.returncode}"
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    with open(os.path.join(BENCH, "layers.json")) as f:
        mapped = {m for layer in json.load(f)["layers"].values() for m in layer["metrics"]}
    missing = [m["name"] for m in spec["per_layer"] if m["name"] not in mapped]
    assert not missing, f"per-layer metrics without a layer map entry: {missing}"

    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = run(w["name"], trace)
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want, f"{w['name']} trace {trace}: metrics/units differ: {set(got) ^ set(want)}"
            assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
            print(f"ok   {w['name']} --trace {trace}: {len(got)} metrics, {res['attempted']} ops checked")

    res = run("ivf_gmm", 0, "--corrupt")
    assert not res["correct"] and res["failed"] >= 1, f"corrupted top-k passed the check: {res}"
    print("ok   ivf_gmm --corrupt: the output check caught the corrupted top-k")


if __name__ == "__main__":
    main()
