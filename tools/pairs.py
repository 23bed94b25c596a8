#!/usr/bin/env python3
"""Alternating parent/change pairs of untraced perfbench runs.

    python3 tools/pairs.py <parent-ref> <workload> <seed> <pairs> [--scratch DIR]

Run from the repository root. The parent ref is cloned (once per commit)
under the scratch directory, default $TMPDIR/graft-pairs. Each pair runs
`perfbench/run.py --workload <workload> --seed <seed> --trace 0` once in
that clone and once in this working tree; the side that runs first
alternates from pair to pair. Both sides must carry the same perfbench/
and BENCHMARK.json, so the two commits are measured by identical code.

For every end-to-end metric that BENCHMARK.json lists, the report gives
each side's median and quartiles and how many pairs the change won (ties
count for neither side), then one verdict:

  gain        at least ten pairs ran, the change won at least 9/10 of
              them and the medians differ, in the better direction, by
              more than the parent's quartile range;
  worse       the change's median is worse than the parent's by more than
              the metric's bound (relative to the parent's median);
  unresolved  either side's quartile range exceeds the bound (relative
              to its median), unless every change run beats every parent
              run;
  held        none of these.

Each run's stderr is kept under the scratch directory, and the report is
also written there as JSON. The exit code is 1 when any run is incorrect,
has failed operations or exits non-zero; 0 otherwise, whatever the
verdicts.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def git(*args, cwd=ROOT):
    return subprocess.run(["git", *args], cwd=cwd, check=True, capture_output=True,
                          text=True).stdout.strip()


def parent_checkout(ref, scratch):
    sha = git("rev-parse", "--verify", ref + "^{commit}")
    if subprocess.run(["git", "diff", "--quiet", sha, "--", "perfbench", "BENCHMARK.json"],
                      cwd=ROOT).returncode != 0:
        sys.exit(f"pairs: perfbench/ or BENCHMARK.json differ from {ref}; "
                 "the two sides would not run the same benchmark")
    d = os.path.join(scratch, "parent-" + sha[:12])
    if not os.path.isdir(os.path.join(d, ".git")):
        os.makedirs(scratch, exist_ok=True)
        subprocess.run(["git", "clone", "--quiet", "--no-checkout", ROOT, d], check=True)
        git("checkout", "--quiet", "--detach", sha, cwd=d)
    return d, sha


def run_once(side, cwd, args, log_path):
    cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload,
           "--seed", str(args.seed), "--trace", "0"]
    with open(log_path, "w") as err:
        p = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=err, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        res = {"correct": False, "attempted": 0, "failed": -1, "metrics": {}}
    ok = p.returncode == 0 and res.get("correct") is True and res.get("failed") == 0
    # run.py reports each metric as {"value": v, "unit": u}
    metrics = {k: m["value"] for k, m in res.get("metrics", {}).items()}
    print(f"pairs: {side:6s} exit {p.returncode} correct {res.get('correct')} "
          f"failed {res.get('failed')}/{res.get('attempted')} "
          + " ".join(f"{k}={v:.4g}" for k, v in sorted(metrics.items())), flush=True)
    return metrics, ok


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def judge(defn, par, chg):
    name, bound = defn["name"], defn["bound"]
    sign = 1.0 if defn["better"] == "higher" else -1.0
    pq1, pmed, pq3 = quartiles(par)
    cq1, cmed, cq3 = quartiles(chg)
    wins = sum(1 for p, c in zip(par, chg) if sign * (c - p) > 0)
    rel = sign * (cmed - pmed) / pmed if pmed else 0.0
    spread = max((pq3 - pq1) / pmed if pmed else 0.0, (cq3 - cq1) / cmed if cmed else 0.0)
    dominates = min(sign * c for c in chg) > max(sign * p for p in par)
    if len(par) >= 10 and wins >= 0.9 * len(par) and sign * (cmed - pmed) > pq3 - pq1:
        verdict = "gain"
    elif rel < -bound:
        verdict = "worse"
    elif spread > bound and not dominates:
        verdict = "unresolved"
    else:
        verdict = "held"
    return {"metric": name, "better": defn["better"], "bound": bound,
            "parent": {"q1": pq1, "median": pmed, "q3": pq3, "runs": par},
            "change": {"q1": cq1, "median": cmed, "q3": cq3, "runs": chg},
            "wins": wins, "pairs": len(par), "rel_change": rel, "spread": spread,
            "verdict": verdict}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent_ref")
    ap.add_argument("workload")
    ap.add_argument("seed", type=int)
    ap.add_argument("pairs", type=int)
    ap.add_argument("--scratch", default=os.path.join(tempfile.gettempdir(), "graft-pairs"))
    args = ap.parse_args()
    scratch = os.path.abspath(args.scratch)
    parent_dir, sha = parent_checkout(args.parent_ref, scratch)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        end_to_end = json.load(fh)["end_to_end"]
    logs = os.path.join(scratch, "logs")
    os.makedirs(logs, exist_ok=True)
    tag = f"{args.workload}-s{args.seed}"
    runs = {"parent": [], "change": []}
    all_ok = True
    for i in range(args.pairs):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            cwd = parent_dir if side == "parent" else ROOT
            m, ok = run_once(side, cwd, args, os.path.join(logs, f"{tag}-p{i}-{side}.log"))
            runs[side].append(m)
            all_ok &= ok
    report = [judge(d, [r.get(d["name"], 0.0) for r in runs["parent"]],
                    [r.get(d["name"], 0.0) for r in runs["change"]]) for d in end_to_end]
    print(f"\npairs: {args.workload} seed {args.seed}, {args.pairs} pairs, "
          f"parent {sha[:12]} vs working tree")
    print(f"{'metric':18s} {'parent q1/med/q3':>30s} {'change q1/med/q3':>30s} "
          f"{'wins':>6s} {'change':>8s}  verdict")
    for r in report:
        p, c = r["parent"], r["change"]
        print(f"{r['metric']:18s} {p['q1']:9.4g} {p['median']:9.4g} {p['q3']:9.4g}  "
              f" {c['q1']:9.4g} {c['median']:9.4g} {c['q3']:9.4g}  "
              f"{r['wins']:2d}/{r['pairs']:<3d} {r['rel_change']:+7.1%}  {r['verdict']}")
    out = os.path.join(scratch, f"pairs-{tag}.json")
    with open(out, "w") as fh:
        json.dump({"parent": sha, "workload": args.workload, "seed": args.seed,
                   "all_runs_correct": all_ok, "metrics": report}, fh, indent=1)
    print(f"pairs: report in {out}; run logs in {logs}")
    if not all_ok:
        print("pairs: a run was incorrect, had failed operations or exited non-zero",
              file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
