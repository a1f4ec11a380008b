#!/usr/bin/env python3
"""Self-test of the benchmark at tiny size (sf0.001, a few hundred wire
records, 2-second runs).

    python3 perfbench/selftest.py

Checks that BENCHMARK.json and run.py name the same workloads and metrics,
that every workload prints every end-to-end metric (`--trace 0`) and every
per-layer metric (`--trace 1`) with its unit and passes its correctness
checks, and that a wrong expected `cms_sync` digest makes the run fail.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import run  # noqa: E402  (needs ROOT on sys.path)


def expect(cond: bool, msg: str) -> None:
    if not cond:
        raise SystemExit(f"FAIL: {msg}")


def invoke(*args: str):
    res = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--seed", "7", "--seconds", "2",
         "--tiny", *args],
        capture_output=True, text=True, cwd=ROOT, timeout=600,
    )
    lines = res.stdout.strip().splitlines()
    return res.returncode, json.loads(lines[-1]) if lines else None, res.stderr


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    expect([w["name"] for w in bench["workloads"]] == list(run.WORKLOADS), "workload list")
    expect(e2e == run.END_TO_END, "end-to-end metrics differ from run.py")
    expect(layers == run.per_layer_units(), "per-layer metrics differ from run.py")

    for wl in run.WORKLOADS:
        for trace, want in (("0", e2e), ("1", layers)):
            rc, result, err = invoke("--workload", wl, "--trace", trace)
            where = f"{wl} --trace {trace}"
            expect(rc == 0 and result is not None, f"{where} exited {rc}:\n{err[-3000:]}")
            expect(result["correct"] and result["failed"] == 0, f"{where}: {result}")
            expect(result["attempted"] >= 1, f"{where}: nothing attempted")
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            expect(got == want, f"{where}: metrics/units {got} != {want}")
            expect(
                all(isinstance(v["value"], (int, float)) for v in result["metrics"].values()),
                f"{where}: non-numeric value",
            )
            print(f"ok {where}", flush=True)

    rc, result, err = invoke("--workload", "cms_sync", "--expect-digest", "0" * 16)
    expect(rc == 1 and result is not None, f"wrong digest exited {rc}:\n{err[-3000:]}")
    expect(not result["correct"] and result["failed"] > 0, f"wrong digest passed: {result}")
    print("ok cms_sync with a wrong expected digest fails", flush=True)


if __name__ == "__main__":
    main()
