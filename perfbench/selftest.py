"""Smoke test of the benchmark itself, at the tiny input scale.

    python3 perfbench/selftest.py

For every workload in BENCHMARK.json it runs seed 1 untraced and
traced, and seed 2 untraced, then asserts that

- each run exits 0, checks its outputs correct, and prints as its last
  line exactly the declared metrics (end-to-end untraced, per-layer
  traced), each with its declared unit;
- seed 2 changes every input digest but not the set of metrics;

and that in a directory holding only BENCHMARK.json and the benchmark's
own files, the command exits non-zero without printing a result.
Takes a few minutes: every run boots its own Spark session.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(cwd: str, spec: dict, workload: str, seed: int, trace: int):
    cmd = spec["command"] + [
        "--workload", workload, "--seed", str(seed), "--seconds", "1",
        "--trace", str(trace), "--scale", "tiny",
    ]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=600)


def _result(proc) -> dict:
    if proc.returncode != 0:
        raise AssertionError(f"exit {proc.returncode}: {proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _digests(workload: str, seed: int) -> dict:
    path = os.path.join(ROOT, ".perfbench", "results",
                        f"{workload}-tiny-seed{seed}-trace0.json")
    with open(path) as f:
        return {k: v["digest"] for k, v in json.load(f)["inputs"].items()}


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    for w in (x["name"] for x in spec["workloads"]):
        seen = {}
        for seed, trace in ((1, 0), (1, 1), (2, 0)):
            res = _result(_run(ROOT, spec, w, seed, trace))
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, res
            assert res["correct"] and res["failed"] == 0, (w, seed, res)
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want[trace], (w, trace, set(got) ^ set(want[trace]))
            seen[(seed, trace)] = set(got)
        assert seen[(1, 0)] == seen[(2, 0)], w
        d1, d2 = _digests(w, 1), _digests(w, 2)
        assert d1.keys() == d2.keys() and all(d1[k] != d2[k] for k in d1), w
        print(f"selftest: {w} ok", flush=True)

    bare = os.path.join(ROOT, ".perfbench", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for p in spec["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                        ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(bare, spec, spec["workloads"][0]["name"], 1, 0)
    shutil.rmtree(bare)
    assert proc.returncode != 0 and '"metrics"' not in proc.stdout, proc
    print("selftest: bare directory exits", proc.returncode, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
