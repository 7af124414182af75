"""Smoke test of the benchmark: every workload, briefly, at a tiny input
scale, untraced and traced; checks the run passes its own output
checks and emits every metric ``BENCHMARK.json`` names, with its unit.

    python3 perfbench/smoke.py [workload ...]

Exits non-zero on the first workload that fails. Takes a few minutes
(each run boots its own Spark session).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALE = "0.02"
SECONDS = "2"


def run(workload: str, trace: int) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", "7", "--seconds", SECONDS, "--trace", str(trace), "--scale", SCALE,
    ]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:])
        raise SystemExit(f"{workload} trace={trace}: exit {out.returncode}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = argv or [w["name"] for w in bench["workloads"]]
    for workload in names:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = run(workload, trace)
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
            assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
            for m in bench[key]:
                got = res["metrics"].get(m["name"])
                assert got is not None, f"{workload}: {m['name']} missing"
                assert got["unit"] == m["unit"], f"{workload}: {m['name']} unit"
                assert isinstance(got["value"], (int, float)), f"{workload}: {m['name']}"
            extra = set(res["metrics"]) - {m["name"] for m in bench[key]}
            assert not extra, f"{workload}: unlisted metrics {sorted(extra)}"
            print(f"ok  {workload} trace={trace}: {res['attempted']} ops", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
