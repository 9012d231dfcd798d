#!/usr/bin/env python3
"""Paired A/B comparison of two commits on one benchmark workload.

    python3 etlbench/ab.py BASE CHANGE --workload queries [--pairs 10]

Both commits are exported with `git archive` into a work directory and
given this checkout's etlbench/ and BENCHMARK.json, so the two sides run
identical benchmark code and differ only in the engine. Each pair runs
both sides on the same seed; which side goes first alternates. For every
end-to-end metric it prints each side's median and quartiles, how many
pairs the change won, and a verdict:

  gain        the change won at least 9 of 10 pairs (ties count for
              neither) and the medians differ by more than the base's
              interquartile range, and the change failed no more
              operations and had no more crashed or incorrect runs than
              the base;
  regression  the change's median is worse than the base's by more than
              the metric's bound;
  unresolved  either side's spread (IQR / median) is wider than the
              bound, and not every change run beats every base run;
  no change   otherwise.

Wins are counted over all pairs run. A pair in which the change crashed
or gave a wrong result is a loss, and one in which only the base did is
not a win; quartiles are taken over each side's correct runs.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tarfile
import io

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def export(rev, dest):
    """Materialise `rev` at `dest` with this checkout's benchmark files."""
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    tar = subprocess.run(["git", "-C", ROOT, "archive", rev], check=True,
                         stdout=subprocess.PIPE).stdout
    with tarfile.open(fileobj=io.BytesIO(tar)) as t:
        t.extractall(dest)
    shutil.rmtree(os.path.join(dest, "etlbench"), ignore_errors=True)
    shutil.copytree(HERE, os.path.join(dest, "etlbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), dest)


def run(side_dir, workload, seed, seconds):
    env = dict(os.environ, CARGO_TARGET_DIR=os.path.join(side_dir, ".bench_build"))
    p = subprocess.run(
        [sys.executable, "etlbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=side_dir, env=env, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    try:
        return json.loads(p.stdout.strip().splitlines()[-1]) if p.returncode == 0 else None
    except (IndexError, ValueError):
        return None


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(base, change, better, bound):
    """Apply the paired rule to one metric's per-pair values; a value is
    None where that side crashed or gave a wrong result."""
    sign = 1 if better == "higher" else -1
    wins = sum(1 for b, c in zip(base, change)
               if b is not None and c is not None and sign * (c - b) > 0)
    bv = [b for b in base if b is not None]
    cv = [c for c in change if c is not None]
    if not bv or not cv:
        return wins, None, None, "unresolved"
    b1, bm, b3 = quartiles(bv)
    c1, cm, c3 = quartiles(cv)
    spread = max((b3 - b1) / abs(bm) if bm else 0.0, (c3 - c1) / abs(cm) if cm else 0.0)
    all_better = len(cv) == len(change) and min(sign * c for c in cv) > max(sign * b for b in bv)
    if wins >= 0.9 * len(base) and abs(cm - bm) > (b3 - b1) and sign * (cm - bm) > 0:
        v = "gain"
    elif spread > bound and not all_better:
        v = "unresolved"
    elif sign * (bm - cm) > bound * abs(bm):
        v = "regression"
    else:
        v = "no change"
    return wins, (b1, bm, b3), (c1, cm, c3), v


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1000)
    ap.add_argument("--workdir", default=os.path.join(ROOT, ".bench_build", "ab"))
    a = ap.parse_args()
    if a.pairs < 10:
        ap.error("the paired rule needs at least 10 pairs")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sides = {"base": os.path.join(a.workdir, "base"), "change": os.path.join(a.workdir, "change")}
    export(a.base, sides["base"])
    export(a.change, sides["change"])
    results = {"base": [], "change": []}
    for i in range(a.pairs):
        seed = a.seed0 + i
        order = ["base", "change"] if i % 2 == 0 else ["change", "base"]
        pair = {s: run(sides[s], a.workload, seed, spec["run_seconds"]) for s in order}
        for s in order:
            results[s].append(pair[s])
        print(f"pair {i + 1}/{a.pairs} seed {seed}: " + ", ".join(
            f"{s} " + ("crashed" if pair[s] is None else "ok" if pair[s]["correct"] else "incorrect")
            for s in order), file=sys.stderr)

    bad = {s: sum(1 for r in results[s] if r is None or not r["correct"]) for s in results}
    failed_ops = {s: sum(r["failed"] for r in results[s] if r is not None) for s in results}
    worse = bad["change"] > bad["base"] or failed_ops["change"] > failed_ops["base"]
    report = {"workload": a.workload, "pairs": a.pairs, "crashed_or_incorrect_runs": bad,
              "failed_operations": failed_ops, "metrics": {}}
    print(f"{a.workload}: {a.pairs} pairs; crashed or incorrect runs {bad}; "
          f"failed operations {failed_ops}")
    print(f"{'metric':<14}{'base q1/median/q3':>30}{'change q1/median/q3':>30}  wins  verdict")
    fmt = lambda q: "-" if q is None else "/".join(f"{x:.4g}" for x in q)  # noqa: E731
    for m in spec["end_to_end"]:
        name = m["name"]
        vals = {s: [r["metrics"][name]["value"] if r is not None and r["correct"] else None
                    for r in results[s]] for s in results}
        wins, bq, cq, v = verdict(vals["base"], vals["change"], m["better"], m["bound"])
        if v == "gain" and worse:
            v = "no gain: the change failed more"
        report["metrics"][name] = {"unit": m["unit"], "base": bq, "change": cq,
                                   "wins": wins, "verdict": v}
        print(f"{name:<14}{fmt(bq):>30}{fmt(cq):>30}  {wins:>2}/{a.pairs}  {v}")
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
