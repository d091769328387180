"""Compare two git revisions on one benchmark workload.

    python tools/ab.py PARENT CHANGE --workload W [--pairs 10] [--seed 1]

Checks PARENT and CHANGE out into git worktrees under a temp dir and
runs ``perfbench/run.py --workload W --seed S --seconds T --trace 0`` in
each, PAIRS times, where T is BENCHMARK.json's ``run_seconds``. Pair i
runs both revisions at seed S + i; the parent runs first in even pairs
and second in odd ones. For every end-to-end
metric in BENCHMARK.json it prints each side's median and quartiles, the
change's wins out of the pairs (ties count for neither side), the
verdict and whether the change's median is within the metric's bound.

Verdict (the rule for claiming a gain): "better" or "worse" when there
are at least 10 pairs, one side wins at least 9 of every 10 of them and
the medians differ by more than the parent's interquartile range;
otherwise "unresolved".
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MIN_PAIRS = 10  # fewer pairs cannot show 9 wins in every 10


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def verdict(parent: list[float], change: list[float], better: str) -> dict:
    """Compare paired samples of one metric; ``better`` is "lower" or
    "higher". Pair i is (parent[i], change[i])."""
    sign = 1 if better == "lower" else -1
    wins = sum(sign * (p - c) > 0 for p, c in zip(parent, change))
    losses = sum(sign * (c - p) > 0 for p, c in zip(parent, change))
    pq, cq = quartiles(parent), quartiles(change)
    gap = sign * (pq[1] - cq[1])  # > 0 when the change's median is better
    n = len(parent)
    if n < MIN_PAIRS:
        word = "unresolved"
    elif wins * 10 >= 9 * n and gap > pq[2] - pq[0]:
        word = "better"
    elif losses * 10 >= 9 * n and -gap > pq[2] - pq[0]:
        word = "worse"
    else:
        word = "unresolved"
    return {"parent": pq, "change": cq, "wins": wins, "pairs": n, "verdict": word}


def run_once(tree: str, workload: str, seed: int, seconds: float) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    out = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    if out.returncode:
        sys.stderr.write(out.stderr[-4000:])
        raise SystemExit(f"{tree}: perfbench/run.py exited {out.returncode}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e, seconds = bench["end_to_end"], bench["run_seconds"]

    revs = {"parent": args.parent, "change": args.change}
    samples = {side: [] for side in revs}
    with tempfile.TemporaryDirectory(prefix="ab-") as tmp:
        trees = {side: os.path.join(tmp, side) for side in revs}
        try:
            for side, rev in revs.items():
                subprocess.run(["git", "-C", ROOT, "worktree", "add", "--detach",
                                trees[side], rev], check=True, capture_output=True)
            for i in range(args.pairs):
                order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
                for side in order:
                    res = run_once(trees[side], args.workload, args.seed + i, seconds)
                    samples[side].append(res)
                    vals = {m["name"]: res["metrics"][m["name"]]["value"] for m in e2e}
                    print(json.dumps({"pair": i, "side": side, "rev": revs[side],
                                      "seed": args.seed + i, "correct": res["correct"],
                                      "attempted": res["attempted"],
                                      "failed": res["failed"], **vals}), flush=True)
        finally:
            for tree in trees.values():
                subprocess.run(["git", "-C", ROOT, "worktree", "remove", "--force", tree],
                               capture_output=True)
            subprocess.run(["git", "-C", ROOT, "worktree", "prune"], capture_output=True)

    for m in e2e:
        name = m["name"]
        par = [r["metrics"][name]["value"] for r in samples["parent"]]
        chg = [r["metrics"][name]["value"] for r in samples["change"]]
        v = verdict(par, chg, m["better"])
        limit = v["parent"][1] * (1 + m["bound"] if m["better"] == "lower" else 1 - m["bound"])
        within = v["change"][1] <= limit if m["better"] == "lower" else v["change"][1] >= limit
        print(json.dumps({"metric": name, "unit": m["unit"], **v, "within_bound": within}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
