"""Run one workload on several seeds and print each end-to-end metric's
spread: the distance between the first and third quartile of the runs'
values, as a share of their median — the figure each metric's
``bound`` in BENCHMARK.json must stay above.

    python3 perfbench/spread.py ingest_sql 1,2,3,4,5,6,7,8,9,10

Runs are sequential, one Spark session each, ``run_seconds`` long.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(argv: list[str]) -> int:
    workload, seeds = argv[0], [int(s) for s in argv[1].split(",")]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    values: dict[str, list] = {}
    for seed in seeds:
        out = subprocess.run(
            [
                sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0",
            ],
            cwd=ROOT, capture_output=True, text=True, timeout=600,
        )
        res = json.loads(out.stdout.strip().splitlines()[-1])
        print(seed, out.returncode, {k: round(v["value"], 3) for k, v in res["metrics"].items()}, flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for m in bench["end_to_end"]:
        xs = values[m["name"]]
        q = statistics.quantiles(xs, n=4)
        med = statistics.median(xs)
        print(f"{m['name']}: median {med:.4g}  spread {(q[2] - q[0]) / med:.3f}  bound {m['bound']}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
