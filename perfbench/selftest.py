#!/usr/bin/env python3
"""The benchmark's own tests.

    python3 perfbench/selftest.py [--quick]

1. Determinism: the same seed generates byte-identical inputs, another
   seed different ones.
2. Smoke: every workload at sf0.001-shaped scale for a few ops, in both
   trace modes; each printed metric name and unit must match
   BENCHMARK.json and the run must be correct.
3. Fault injection: a flipped fingerprint bit, a corrupted oracle-compared
   value and a corrupted final-state value must each fail the run.

`--quick` skips the smoke runs of the workloads BENCHMARK.json does not list.
"""
import filecmp
import json
import os
import subprocess
import sys
import tempfile

import gen

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
RUN = os.path.join(BENCH, "run.py")
SMOKE = ["--scale", "smoke", "--seconds", "2", "--max-ops", "4"]


def same_tree(a, b):
    c = filecmp.dircmp(a, b)
    if c.left_only or c.right_only or c.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, c.common_files, shallow=False)
    return not mismatch and not errors and all(
        same_tree(os.path.join(a, d), os.path.join(b, d)) for d in c.common_dirs)


def determinism():
    with tempfile.TemporaryDirectory(dir=BENCH) as tmp:
        for w in ("fixture_batch", "lake_write", "cdc_stream"):
            paths = [os.path.join(tmp, f"{w}-{i}") for i in range(3)]
            for p, seed in zip(paths, (7, 7, 8)):
                gen.generate(w, seed, p, "smoke", cdc_files=gen.cdc_files_for(10))
            assert same_tree(paths[0], paths[1]), f"{w}: same seed, different inputs"
            assert not same_tree(paths[0], paths[2]), f"{w}: another seed, same inputs"
            print(f"ok determinism {w}")


def run(workload, *extra):
    p = subprocess.run([sys.executable, RUN, "--workload", workload, "--seed", "3", *extra],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None), p.stderr


def smoke(spec, workloads):
    for w in workloads:
        for trace, key in (("0", "end_to_end"), ("1", "per_layer")):
            code, res, err = run(w, "--trace", trace, *SMOKE)
            assert code == 0 and res and res["correct"], f"{w} trace {trace}: {err[-3000:]}"
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want, f"{w} trace {trace}: metrics {got} != {want}"
            assert res["attempted"] >= 1 and res["failed"] == 0
            print(f"ok smoke {w} trace {trace}")


def faults():
    for w, fault in (("fixture_batch", "fingerprint"), ("fixture_batch", "oracle"),
                     ("cdc_stream", "state"), ("lake_write", "state")):
        code, res, err = run(w, "--trace", "0", "--fault", fault, *SMOKE)
        assert code != 0 and res and not res["correct"] and res["failed"] > 0, \
            f"{w} --fault {fault} was not caught: {res} {err[-2000:]}"
        print(f"ok fault {w} {fault} caught")


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    listed = [w["name"] for w in spec["workloads"]]
    determinism()
    smoke(spec, listed if "--quick" in sys.argv else
          listed + [w for w in ("lake_read", "lake_write") if w not in listed])
    faults()
    print("selftest passed")


if __name__ == "__main__":
    main()
