#!/usr/bin/env python3
"""Smoke test of the benchmark: every workload at the tiny input size,
untraced and traced, with its output check.

    python3 perfbench/smoke_test.py      # from the root of a checkout

Passes when each run exits 0, prints a result line whose metrics are
exactly BENCHMARK.json's end_to_end (untraced) or per_layer (traced)
names with their units, and reports correct with no failed operation.
Takes a few minutes: every session starts a JVM.
"""
import json
import os
import subprocess
import sys

WORKLOADS = ("batch_sampled", "stream_ckpt", "maint_mixed")


def main():
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS), spec["workloads"]
    failures = []
    for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
        want = {m["name"]: m["unit"] for m in spec[kind]}
        for w in WORKLOADS:
            cmd = spec["command"] + ["--workload", w, "--seed", "1", "--seconds", "1",
                                     "--trace", str(trace), "--size", "tiny"]
            p = subprocess.run(cmd, capture_output=True, text=True, timeout=400)
            lines = p.stdout.strip().splitlines()
            try:
                res = json.loads(lines[-1])
                got = {k: v["unit"] for k, v in res["metrics"].items()}
                ok = (p.returncode == 0 and res["correct"] and res["failed"] == 0
                      and res["attempted"] >= 1 and got == want
                      and all(isinstance(v["value"], (int, float))
                              for v in res["metrics"].values()))
            except (IndexError, ValueError, KeyError):
                ok = False
            print(f"{'ok  ' if ok else 'FAIL'} {w} trace={trace}", flush=True)
            if not ok:
                failures.append(w)
                sys.stdout.write(p.stdout[-3000:] + p.stderr[-3000:])
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    os.chdir(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    main()
