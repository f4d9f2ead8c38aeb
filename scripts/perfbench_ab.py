#!/usr/bin/env python3
"""Alternating A/B of this working tree against a parent revision on perfbench.

Usage:
    python3 scripts/perfbench_ab.py --parent <rev> --workload <w> \\
        --seeds 11 12 13 [--trace 0] [--workdir DIR]

The parent is exported with `git archive <rev>` into a fresh directory
(under --workdir, default a new temporary directory) and builds there
from scratch: copying `target/` between trees would let sbt's
incremental compiler delete the other tree's classes. Each seed is one
pair: both sides run the unchanged `perfbench/run.py` of their own tree
with that seed, and the side that runs first alternates from pair to
pair so neither side always gets the warmer host. Each run has the
benchmark's own length (run.py's default, BENCHMARK.json's
`run_seconds`).

Prints, for every metric both sides report: the parent's and the
change's median and quartiles, the median change in percent, the
parent's quartile spread (q3 - q1) as a share of its median, and the
pairs the change won out of every seed run (direction from
BENCHMARK.json's `better`). Besides the benchmark's own metrics, each
run contributes its per-op-kind latency medians, `op.<kind>_p50_ms`
(ingest / rq / vq / maintain, and the f1 kinds), read from the
`result.json` run.py keeps, so an untraced A/B shows which layer
moved. A run that fails or reports
`correct: false` is listed; its pair is left out of the quartiles and
counts as not won. Exits 1 when any run failed.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export_parent(rev, workdir):
    sha = subprocess.run(["git", "rev-parse", "--verify", rev + "^{commit}"],
                         cwd=ROOT, check=True, capture_output=True,
                         text=True).stdout.strip()
    tree = os.path.join(workdir, "parent-" + sha[:12])
    if not os.path.isdir(tree):
        os.makedirs(tree)
        archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT,
                                   stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", tree], stdin=archive.stdout,
                       check=True)
        if archive.wait() != 0:
            sys.exit("perfbench_ab: git archive %s failed" % rev)
    return tree, sha


def run_side(tree, workload, seed, trace):
    cmd = [sys.executable, os.path.join(tree, "perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if not lines:
        return None, "exit %d: %s" % (p.returncode, p.stderr.strip()[-400:])
    res = json.loads(lines[-1])
    if not res.get("correct"):
        return None, "correct=false, failed=%s" % res.get("failed")
    figures = {k: v["value"] for k, v in res["metrics"].items()}
    figures.update(kind_medians(tree, workload, seed, trace))
    return figures, None


def kind_medians(tree, workload, seed, trace):
    """Median latency per operation kind of the run's measured operations,
    from the result.json run.py keeps in the tree's work directory."""
    path = os.path.join(tree, ".perfbench_work",
                        "%s-%d-t%d" % (workload, seed, trace), "result.json")
    with open(path) as f:
        ops = json.load(f)["ops"]
    by_kind = {}
    for o in ops:
        by_kind.setdefault(o["kind"], []).append(o["ms"])
    return {"op.%s_p50_ms" % k: statistics.median(v)
            for k, v in by_kind.items()}


def quartiles(xs):
    xs = sorted(xs)
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def directions():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["better"]
            for m in bench["end_to_end"] + bench["per_layer"]}


def summarize(pairs, seeds_run, better):
    """pairs: [(parent_metrics, change_metrics)] of the seeds where both
    sides ran -> {metric: figures}; wins are out of all `seeds_run`."""
    out = {}
    names = sorted(set.intersection(*(set(p) & set(c) for p, c in pairs)))
    for name in names:
        ps = [p[name] for p, _ in pairs]
        cs = [c[name] for _, c in pairs]
        pq, cq = quartiles(ps), quartiles(cs)
        higher = better.get(name, "lower") == "higher"
        wins = sum(1 for p, c in zip(ps, cs) if (c > p if higher else c < p))
        out[name] = {
            "better": "higher" if higher else "lower",
            "parent": {"q1": pq[0], "median": pq[1], "q3": pq[2]},
            "change": {"q1": cq[0], "median": cq[1], "q3": cq[2]},
            "median_delta_pct": (100.0 * (cq[1] - pq[1]) / pq[1]
                                 if pq[1] else None),
            "parent_spread": ((pq[2] - pq[0]) / pq[1] if pq[1] else None),
            "wins": wins, "pairs": seeds_run}
    return out


def fmt(v):
    return "%.4g" % v if isinstance(v, (int, float)) else "-"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="git revision to compare")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=int, nargs="+")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--workdir", help="where the parent tree is exported")
    args = ap.parse_args()

    workdir = args.workdir or tempfile.mkdtemp(prefix="perfbench_ab-")
    os.makedirs(workdir, exist_ok=True)
    parent, sha = export_parent(args.parent, workdir)
    print("perfbench_ab: parent %s at %s; change = %s" % (sha[:12], parent, ROOT),
          file=sys.stderr)

    pairs, failures = [], []
    for i, seed in enumerate(args.seeds):
        order = [("parent", parent), ("change", ROOT)]
        if i % 2:
            order.reverse()
        got = {}
        for side, tree in order:
            m, err = run_side(tree, args.workload, seed, args.trace)
            if err:
                failures.append("%s seed %d: %s" % (side, seed, err))
            got[side] = m
            print("perfbench_ab: pair %d seed %d %s %s" % (
                i + 1, seed, side, err or "ok"), file=sys.stderr)
        if got["parent"] and got["change"]:
            pairs.append((got["parent"], got["change"]))

    summary = summarize(pairs, len(args.seeds), directions()) if pairs else {}
    print("%-32s %6s  %-26s %-26s %8s %7s %5s" % (
        "metric", "better", "parent q1/med/q3", "change q1/med/q3",
        "delta%", "spread", "wins"))
    for name, s in summary.items():
        p, c = s["parent"], s["change"]
        print("%-32s %6s  %-26s %-26s %8s %7s %2d/%-2d" % (
            name, s["better"],
            "/".join(fmt(p[k]) for k in ("q1", "median", "q3")),
            "/".join(fmt(c[k]) for k in ("q1", "median", "q3")),
            fmt(s["median_delta_pct"]), fmt(s["parent_spread"]),
            s["wins"], s["pairs"]))
    for f in failures:
        print("FAILED " + f)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
