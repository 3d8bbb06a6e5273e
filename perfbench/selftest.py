"""Self-test of the benchmark harness at tiny sizes.

    python3 perfbench/selftest.py        # from the repository root

Runs every workload of BENCHMARK.json once untraced and once traced
(``--scale 0.05 --seconds 1``) and checks that the last stdout line is the
result object, that every output check passed, and that the run emitted
exactly the metric names BENCHMARK.json lists (end-to-end untraced,
per-layer traced), each with its unit and a finite value; end-to-end values
must be non-zero. A run from a directory without the engine must fail.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "0.05"]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    problems = []
    for wl in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = run(wl["name"], trace)
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = res["metrics"]
            tag = f"{wl['name']} trace={trace}"
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{tag}: result keys {sorted(res)}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{tag}: checks failed {res['failed']}/{res['attempted']}")
            if set(got) != set(want):
                problems.append(f"{tag}: missing {sorted(set(want) - set(got))}, "
                                f"extra {sorted(set(got) - set(want))}")
            for name, m in got.items():
                v = m["value"]
                if name in want and m["unit"] != want[name]:
                    problems.append(f"{tag}: {name} unit {m['unit']} != {want[name]}")
                if not math.isfinite(v) or (trace == 0 and v == 0):
                    problems.append(f"{tag}: {name} = {v}")
            print(f"{tag}: {len(got)} metrics, {res['attempted']} checks", flush=True)
    with tempfile.TemporaryDirectory() as d:
        bad = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", "cdc",
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=d, capture_output=True, text=True, timeout=180)
        if bad.returncode == 0 or bad.stdout.strip():
            problems.append("run without the engine did not fail cleanly")
    for p in problems:
        print("FAIL", p)
    print("selftest", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
