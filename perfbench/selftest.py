#!/usr/bin/env python3
"""Tiny-scale self-test of the benchmark: runs every workload untraced
and traced with small inputs, and asserts that each run is correct and
reports exactly the metrics BENCHMARK.json names.

Usage (from the repository root): python3 perfbench/selftest.py
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    failures = []
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [sys.executable, os.path.join(HERE, "run.py"),
                   "--workload", w["name"], "--seed", "7", "--seconds", "1",
                   "--trace", str(trace), "--scale", "0.05"]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            tag = f"{w['name']} trace={trace}"
            lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
            if proc.returncode != 0 or not lines:
                failures.append(f"{tag}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
                continue
            res = json.loads(lines[-1])
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                failures.append(f"{tag}: metrics differ: missing "
                                f"{sorted(set(want) - set(got))}, extra "
                                f"{sorted(set(got) - set(want))}, units "
                                f"{sorted(k for k in want if k in got and got[k] != want[k])}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                failures.append(f"{tag}: correct={res['correct']} "
                                f"failed={res['failed']} attempted={res['attempted']}")
            if any(not isinstance(v["value"], (int, float)) for v in res["metrics"].values()):
                failures.append(f"{tag}: non-numeric metric value")
            print(f"ok {tag}" if not failures or not failures[-1].startswith(tag)
                  else f"FAIL {tag}", flush=True)
    for f in failures:
        print(f, file=sys.stderr)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
