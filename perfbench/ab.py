"""Paired parent-vs-change mode.

    python3 perfbench/run.py --ab PARENT_REV CHANGE_REV [--workload W] --seed S [--pairs 10]
                             [--seconds 10] [--held-out-seed S2]

Exports both revisions with ``git archive`` under ``perfbench/.work/ab``,
puts this checkout's benchmark code into each (identical benchmark code
and settings on both sides), then runs ``--pairs`` pairs per workload,
alternating which side runs first.  Every pair uses the same seed; a
held-out seed is run as its own set of pairs.  Reports each side's
median and quartiles per metric and workload, the change's win count and
whether the medians differ by more than the parent's own quartile spread.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import tarfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
AB_DIR = os.path.join(HERE, ".work", "ab")


def export(rev: str) -> str:
    """Tree of ``rev`` with this checkout's perfbench/ dropped in."""
    sha = subprocess.run(["git", "-C", ROOT, "rev-parse", rev], capture_output=True, text=True,
                         check=True).stdout.strip()
    dest = os.path.join(AB_DIR, sha[:12])
    if not os.path.exists(os.path.join(dest, ".perfbench_rev")):
        shutil.rmtree(dest, ignore_errors=True)
        os.makedirs(dest)
        proc = subprocess.Popen(["git", "-C", ROOT, "archive", "--format=tar", sha], stdout=subprocess.PIPE)
        with tarfile.open(fileobj=proc.stdout, mode="r|") as tar:
            tar.extractall(dest, filter="data")
        if proc.wait() != 0:
            raise RuntimeError(f"git archive {sha} failed")
        with open(os.path.join(dest, ".perfbench_rev"), "w") as fh:
            fh.write(sha + "\n")
    shutil.rmtree(os.path.join(dest, "perfbench"), ignore_errors=True)
    shutil.copytree(HERE, os.path.join(dest, "perfbench"), ignore=shutil.ignore_patterns(".work", ".cache"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), dest)
    return dest


def run_side(tree: str, workload: str, seed: int, seconds: float) -> dict:
    cmd = [sys.executable, os.path.join(tree, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=tree, capture_output=True, text=True, timeout=900)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{' '.join(cmd)} exited {p.returncode}:\n{p.stderr[-2000:]}")
    return json.loads(lines[-1])


def _quartiles(v: list[float]) -> list[float]:
    return statistics.quantiles(v, n=4) if len(v) > 1 else [v[0]] * 3


def summarize(runs: dict, better: dict) -> dict:
    out = {}
    for metric, lower_is_better in better.items():
        a = [r["metrics"][metric]["value"] for r in runs["parent"]]
        b = [r["metrics"][metric]["value"] for r in runs["change"]]
        qa, qb = _quartiles(a), _quartiles(b)
        wins = sum((y < x) if lower_is_better else (y > x) for x, y in zip(a, b))
        ma, mb = statistics.median(a), statistics.median(b)
        out[metric] = {
            "parent": {"median": ma, "q1": qa[0], "q3": qa[2]},
            "change": {"median": mb, "q1": qb[0], "q3": qb[2]},
            "change_over_parent": mb / ma if ma else None,
            "change_wins": wins, "pairs": len(a),
            "beyond_parent_spread": abs(mb - ma) > qa[2] - qa[0],
        }
    out["failed"] = {side: sum(r["failed"] for r in rs) for side, rs in runs.items()}
    return out


def main(args) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    better = {m["name"]: m["better"] == "lower" for m in bench["end_to_end"]}
    workloads = [args.workload] if args.workload else [w["name"] for w in bench["workloads"]]
    seconds = args.seconds
    trees = {"parent": export(args.ab[0]), "change": export(args.ab[1])}
    seeds = [args.seed] + ([args.held_out_seed] if args.held_out_seed is not None else [])
    report = {"parent": args.ab[0], "change": args.ab[1], "seconds": seconds, "results": {}}
    for seed in seeds:
        for wl in workloads:
            runs = {"parent": [], "change": []}
            for i in range(args.pairs):
                order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
                for side in order:
                    runs[side].append(run_side(trees[side], wl, seed, seconds))
                print(f"pair {i + 1}/{args.pairs} {wl} seed {seed} done", file=sys.stderr, flush=True)
            report["results"][f"{wl}/seed{seed}"] = summarize(runs, better)
    os.makedirs(AB_DIR, exist_ok=True)
    path = os.path.join(AB_DIR, f"report-{time.strftime('%Y%m%dT%H%M%S')}.json")
    with open(path, "w") as fh:
        json.dump(report, fh, indent=1)
    print(json.dumps(report))
    return 0
