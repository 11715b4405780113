"""Smoke test of the benchmark itself, on the 8-granule test geometry and a
two-query mix: every workload, untraced and traced, must exit 0, pass its
output checks and print every metric BENCHMARK.json names, with its unit.

    python3 perfbench/smoke.py        # from the repository root, ~5 min
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bad = []
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            cmd = spec["command"] + [
                "--workload", w["name"], "--seed", "1", "--seconds", "1",
                "--trace", str(trace), "--smoke",
            ]
            r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
            tag = f"{w['name']} trace={trace}"
            if r.returncode != 0:
                bad.append(f"{tag}: exit {r.returncode}: {r.stderr[-2000:]}")
                continue
            res = json.loads(r.stdout.strip().splitlines()[-1])
            if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
                bad.append(f"{tag}: result keys {sorted(res)}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                bad.append(f"{tag}: output checks failed: {r.stdout.splitlines()[-2][:2000]}")
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                bad.append(f"{tag}: metric names/units differ: {sorted(set(want.items()) ^ set(got.items()))}")
            if any(not isinstance(v["value"], (int, float)) for v in res["metrics"].values()):
                bad.append(f"{tag}: non-numeric metric value")
            print(f"{tag}: {len(got)} metrics, attempted={res['attempted']}", flush=True)
    for b in bad:
        print("FAIL", b)
    print("smoke:", "FAIL" if bad else "OK")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
