"""Same-day cross-tree bench A/B — the round-over-round perf verdict
instrument (r13 verdict task 1).

Why this exists: normalized round-over-round comparison broke in
round 13. The same r12-close tree ran a measured 1.21x slower than at
its own gate while the single-threaded calibration probe read
IDENTICAL (0.142 vs 0.143) — the probe is blind to multi-core /
memory-bandwidth / co-tenant drift, so probe-normalised deltas
manufactured a 16-query false regression that four alternating
worktree runs disproved in an hour (`tools/gatelogs/
JUDGE_AB_r13_{old,new}_{1,2}.json`); bench.py has since dropped its
probe-normalised fields. The only drift-proof
round-over-round comparison is the controlled experiment itself:
BOTH trees, SAME machine, SAME hour, runs ALTERNATED so anything
slower than one run hits both trees symmetrically.

This tool mechanizes exactly that:

1. check the comparison ref (default: the latest driver round-close
   commit, `round N: ...`) into a git worktree;
2. run the FULL bench alternately — old, new, old, new (N runs per
   tree, each a fresh `python bench.py` subprocess in its tree);
3. compare best-of-N RAW seconds per query (`queries`, with the
   per-query `queries_spread`) over the intersection of the two
   trees' emitted `common_set`;
4. write the verdict JSON (per-run files + summary) into
   `tools/gatelogs/`.

Reading the verdict: `median_ratio` near 1.0 = performance-neutral;
an entry is flagged only when its ratio clears BOTH trees' recorded
per-query spreads AND 1.10. Raw seconds are valid here BECAUSE the
runs are interleaved on one machine — no normalization probe is
involved anywhere.

Usage (from the repo root, ~10-15 min at sf0.1):

    python tools/bench_ab.py [--old <ref>] [--runs 2] [--tag r14]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _git(*args: str, cwd: str = REPO) -> str:
    return subprocess.run(
        ["git", *args], cwd=cwd, check=True, capture_output=True, text=True
    ).stdout.strip()


def _default_old_ref() -> str:
    """The latest driver round-close commit (`round N: ...`) — the
    tree the judge's verdict graded last round."""
    out = _git(
        "log", "--grep", "^round [0-9]*:", "-n", "1", "--format=%H"
    )
    if not out:
        raise SystemExit(
            "bench_ab: no 'round N:' close commit found — pass --old <ref>"
        )
    return out


def _run_bench(tree: str, env_extra: dict, log_path: str) -> dict:
    """One full bench run in ``tree``; parses the one-line JSON the
    bench prints last and saves it verbatim to ``log_path``."""
    env = dict(os.environ)
    env.update(env_extra)
    env.pop("SPARK_GRAFT_BENCH_PAIR", None)  # single-series runs
    proc = subprocess.run(
        [sys.executable, "bench.py"],
        cwd=tree,
        env=env,
        capture_output=True,
        text=True,
    )
    last_json = None
    for line in proc.stdout.splitlines():
        line = line.strip()
        if line.startswith("{") and line.endswith("}"):
            try:
                parsed = json.loads(line)
            except json.JSONDecodeError:
                continue
            # r17: bench.py now prints a compact tail line AFTER the
            # full payload (driver-artifact truncation fix); the A/B
            # needs the full line's common_set/spreads, so prefer a
            # payload carrying common_set over whatever came last
            if last_json is None or "common_set" in parsed:
                last_json = parsed
    if proc.returncode != 0 or last_json is None:
        sys.stderr.write(proc.stdout[-2000:] + "\n" + proc.stderr[-4000:])
        raise SystemExit(f"bench_ab: bench run failed in {tree}")
    with open(log_path, "w") as f:
        json.dump(last_json, f, indent=2)
    return last_json


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--old", default=None, help="ref of the OLD tree")
    ap.add_argument("--runs", type=int, default=2, help="runs per tree")
    ap.add_argument("--tag", default="ab", help="gatelog filename tag")
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    args = ap.parse_args()

    old_ref = args.old or _default_old_ref()
    old_short = _git("rev-parse", "--short", old_ref)
    new_short = _git("rev-parse", "--short", "HEAD")
    gatelogs = os.path.join(REPO, "tools", "gatelogs")
    os.makedirs(gatelogs, exist_ok=True)

    wt_root = tempfile.mkdtemp(prefix="bench_ab_")
    old_tree = os.path.join(wt_root, f"old_{old_short}")
    _git("worktree", "add", "--detach", old_tree, old_ref)
    env_extra = {"SPARK_GRAFT_SF_DIR": args.sf_dir}

    runs: dict = {"old": [], "new": []}
    try:
        for i in range(args.runs):
            for label, tree in (("old", old_tree), ("new", REPO)):
                print(
                    f"bench_ab: run {i + 1}/{args.runs} [{label}] ...",
                    file=sys.stderr,
                )
                log = os.path.join(
                    gatelogs, f"BENCH_AB_{args.tag}_{label}_{i + 1}.json"
                )
                runs[label].append(_run_bench(tree, env_extra, log))
    finally:
        _git("worktree", "remove", "--force", old_tree)

    def best_of(series: list, key: str) -> dict:
        out: dict = {}
        for r in series:
            for q, v in r.get(key, {}).items():
                if q not in out or v < out[q]:
                    out[q] = v
        return out

    def max_spread(series: list) -> dict:
        out: dict = {}
        for r in series:
            for q, v in r.get("queries_spread", {}).items():
                out[q] = max(out.get(q, 0.0), v)
        return out

    basis = sorted(
        set(runs["old"][0].get("common_set", []))
        & set(runs["new"][0].get("common_set", []))
    )
    old_best = best_of(runs["old"], "queries")
    new_best = best_of(runs["new"], "queries")
    old_spread = max_spread(runs["old"])
    new_spread = max_spread(runs["new"])
    ratios: dict = {}
    flagged: dict = {}
    for q in basis:
        if q not in old_best or q not in new_best or not old_best[q]:
            continue
        r = round(new_best[q] / old_best[q], 3)
        ratios[q] = r
        bar = max(old_spread.get(q, 0), new_spread.get(q, 0), 0.10)
        if r > 1 + bar:
            flagged[q] = {
                "ratio": r,
                "old_s": old_best[q],
                "new_s": new_best[q],
                "noise_bar": round(bar, 3),
            }
    med = statistics.median(ratios.values()) if ratios else None
    summary = {
        "instrument": "bench_ab_alternating_worktrees",
        "old_ref": old_short,
        "new_ref": new_short,
        "runs_per_tree": args.runs,
        "sf_dir": args.sf_dir,
        "basis_n": len(ratios),
        "median_ratio_new_over_old": med,
        "total_sec_old_best": round(
            min(r["total_sec"] for r in runs["old"]), 1
        ),
        "total_sec_new_best": round(
            min(r["total_sec"] for r in runs["new"]), 1
        ),
        "flagged": flagged,
        "ratios": ratios,
    }
    out_path = os.path.join(gatelogs, f"BENCH_AB_{args.tag}_summary.json")
    with open(out_path, "w") as f:
        json.dump(summary, f, indent=2)
    print(json.dumps({k: v for k, v in summary.items() if k != "ratios"}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
