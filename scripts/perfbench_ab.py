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

Per-query mode, for plan changes that a few named queries exercise:

    python3 scripts/perfbench_ab.py --parent <rev> \\
        --benchone q_a,q_b --sf /path/to/sf0.1 [--pairs 5] [--reps 3]

compiles both trees with sbt once, then runs `graft.BenchOne <sf> <queries>
<reps>` (through scripts/run_main.sh, SPARK_GRAFT_CPUS passed through)
once per side per pair, alternating which side runs first exactly as above.
One BenchOne run is one pair: each query's figure is the `med=` of its
`[benchone] name: min= med= max=` line, lower is better, and the table
reports each query's parent and change medians, quartiles and pairs won.
"""

import argparse
import json
import os
import re
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


BENCHONE_LINE = re.compile(
    r"^\[benchone\] (\S+): min=([0-9.]+) med=([0-9.]+) max=([0-9.]+)$")


def parse_benchone(text):
    """{query: med seconds} from BenchOne's stdout."""
    out = {}
    for line in text.splitlines():
        m = BENCHONE_LINE.match(line.strip())
        if m:
            out[m.group(1)] = float(m.group(3))
    return out


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=%s "
                   "-Dsbt.offline=true -Xmx2g" %
                   os.path.expanduser("~/.sbt/repositories"))
    return env


def compile_tree(tree):
    # run_main.sh reads the classes directory, so resources (the openf1
    # data source registration) must be copied there too
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "compile", "Compile/copyResources"], cwd=tree,
                       env=sbt_env(), capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit("perfbench_ab: sbt compile failed in %s: %s" % (
            tree, p.stdout.strip()[-400:]))


def run_benchone(tree, sf, queries, reps):
    cmd = ["bash", os.path.join(tree, "scripts", "run_main.sh"),
           "graft.BenchOne", sf, ",".join(queries), str(reps)]
    p = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    meds = parse_benchone(p.stdout)
    missing = [q for q in queries if q not in meds]
    if p.returncode != 0 or missing:
        return None, "exit %d, missing %s: %s" % (
            p.returncode, ",".join(missing) or "-", p.stderr.strip()[-400:])
    return meds, None


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
    ap.add_argument("--workload")
    ap.add_argument("--seeds", type=int, nargs="+")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--benchone", help="comma-separated query names")
    ap.add_argument("--sf", help="scale-factor directory for --benchone")
    ap.add_argument("--pairs", type=int, default=5,
                    help="BenchOne runs per side (--benchone)")
    ap.add_argument("--reps", type=int, default=3,
                    help="BenchOne's timed repetitions per run (--benchone)")
    ap.add_argument("--workdir", help="where the parent tree is exported")
    args = ap.parse_args()
    if args.benchone:
        if not args.sf:
            ap.error("--benchone needs --sf")
    elif not (args.workload and args.seeds):
        ap.error("--workload and --seeds are required without --benchone")

    workdir = args.workdir or tempfile.mkdtemp(prefix="perfbench_ab-")
    os.makedirs(workdir, exist_ok=True)
    parent, sha = export_parent(args.parent, workdir)
    print("perfbench_ab: parent %s at %s; change = %s" % (sha[:12], parent, ROOT),
          file=sys.stderr)

    if args.benchone:
        queries = args.benchone.split(",")
        for tree in (parent, ROOT):
            compile_tree(tree)
        labels = ["run %d" % (i + 1) for i in range(args.pairs)]
        run = lambda tree, _: run_benchone(tree, args.sf, queries, args.reps)
        better = {}
    else:
        labels = ["seed %d" % s for s in args.seeds]
        run = lambda tree, i: run_side(tree, args.workload, args.seeds[i],
                                       args.trace)
        better = directions()

    pairs, failures = [], []
    for i, label in enumerate(labels):
        order = [("parent", parent), ("change", ROOT)]
        if i % 2:
            order.reverse()
        got = {}
        for side, tree in order:
            m, err = run(tree, i)
            if err:
                failures.append("%s %s: %s" % (side, label, err))
            got[side] = m
            print("perfbench_ab: pair %d %s %s %s" % (
                i + 1, label, side, err or "ok"), file=sys.stderr)
        if got["parent"] and got["change"]:
            pairs.append((got["parent"], got["change"]))

    summary = summarize(pairs, len(labels), better) if pairs else {}
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
