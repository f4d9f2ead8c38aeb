#!/usr/bin/env python3
"""Runs one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload f1_dashboard --seed 1 --seconds 8 --trace 0

Steps: build the engine and the harness from source with sbt (once per
source tree; the classpath is cached under .perfbench_work/), generate the
workload's inputs from the seed, run the harness in one JVM (local[nproc],
one closed-loop client), check every operation's output, and print one
JSON line: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones; with --trace 1 the per-layer ones.
Exits non-zero when any output is wrong or the engine cannot be built.

`--record` runs every distinct operation of the given seed once and writes
the expected digests to perfbench/expected/<workload>.json.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench_work")
HARNESS = os.path.join(HERE, "harness")
EXPECTED = os.path.join(HERE, "expected")
DEFAULT_SEED = 1
HARNESS_TIMEOUT_S = 170

# per workload: set-up repetitions (setup_s uses their median) and untimed
# warm-up operations before the measured window, untraced and traced (the
# warm pass runs on to the next group boundary: one 5-op run or one more
# 10-op group for f1, one whole round for the store). store_ingest sets up
# once (a second build of every store costs ~25 s). Traced runs warm one
# group longer, so that their untraced and traced halves are groups of
# the same warmth; a warm round in every untraced store run would cost
# ~35 s more per run than the time budget allows, so the untraced
# window's round is the process's first.
WORKLOADS = {
    "f1_dashboard": {"setup_reps": 2, "warm_ops": (5, 15)},
    "store_ingest": {"setup_reps": 1, "warm_ops": (0, 1)},
}

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Content hash of everything the build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(ROOT, "src", "main"), HARNESS]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(r)
            for f in fs if "target" not in os.path.relpath(d, r).split(os.sep)
            and "project" + os.sep + "project" not in d)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles engine + harness with sbt; returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no engine sources (build.sbt, src/main/scala) next to %s" % HERE)
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required to build the engine")
    os.makedirs(WORK, exist_ok=True)
    stamp = source_stamp()
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "classpath.stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=%s "
                   "-Dsbt.offline=true -Xmx2g" %
                   os.path.expanduser("~/.sbt/repositories"))
    log = os.path.join(WORK, "build.log")
    t0 = time.time()
    with open(log, "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export harness/Runtime/fullClasspath"],
            cwd=HARNESS, env=env, stdout=subprocess.PIPE, stderr=out,
            text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    with open(log, "a") as out:
        out.write(p.stdout)
    if p.returncode != 0 or not lines or os.pathsep not in lines[-1]:
        fail("build failed (see %s)" % log)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print("perfbench: built in %.0f s" % (time.time() - t0), file=sys.stderr)
    return cp


def run_harness(cp, workload, inputs, work, seconds, trace, reps, warm,
                record):
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Djava.io.tmpdir=" + tmp, "-Dderby.system.home=" + tmp]
    for m in JDK_OPENS:
        cmd += ["--add-opens", m + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Harness", workload, inputs, work,
            str(seconds), str(trace), str(reps), str(warm), out]
    if record:
        cmd.append("record")
    log = os.path.join(work, "harness.log")
    with open(log, "w") as f:
        try:
            p = subprocess.run(cmd, cwd=work, stdout=f, stderr=subprocess.STDOUT,
                               timeout=None if record else HARNESS_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail("harness timed out (see %s)" % log, 1)
    if p.returncode != 0 or not os.path.isfile(out):
        with open(log) as f:
            tail = f.read()[-3000:]
        fail("harness failed (exit %d):\n%s" % (p.returncode, tail), 1)
    with open(out) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="write expected digests for this seed")
    args = ap.parse_args()

    cp = build()
    cfg = WORKLOADS[args.workload]
    work = os.path.join(WORK, "%s-%d-t%d" % (args.workload, args.seed, args.trace))
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "gen")
    t0 = time.time()
    shape = gen.generate(args.workload, args.seed, inputs)
    gen_s = time.time() - t0
    try:
        res = run_harness(cp, args.workload, inputs, work, args.seconds,
                          args.trace, 1 if args.record else cfg["setup_reps"],
                          0 if args.record else cfg["warm_ops"][args.trace],
                          args.record)
    finally:
        # keep the raw result and logs; drop inputs and store copies
        for name in os.listdir(work) if os.path.isdir(work) else []:
            if name not in ("result.json", "harness.log"):
                p = os.path.join(work, name)
                shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)
    res.setdefault("summary", {}).update(
        {k: v for k, v in shape.items() if k == "batch_docs"})

    ops = res["ops"]
    if args.record:
        bad = [o for o in ops if not o["ok"]]
        if bad:
            fail("record run has failing operations: %s" % bad[:3], 1)
        os.makedirs(EXPECTED, exist_ok=True)
        with open(os.path.join(EXPECTED, args.workload + ".json"), "w") as f:
            json.dump({"seed": args.seed, "digests":
                       {o["key"]: o["digest"] for o in ops if o["digest"]}},
                      f, sort_keys=True, indent=0)
            f.write("\n")
        print("perfbench: recorded %d digests" % len(ops), file=sys.stderr)
        return

    checked, mismatched = 0, []
    exp_file = os.path.join(EXPECTED, args.workload + ".json")
    if os.path.isfile(exp_file):
        with open(exp_file) as f:
            exp = json.load(f)
        if exp["seed"] == args.seed:
            checked, mismatched = metrics.check_digests(ops, exp["digests"])
    failed = sum(1 for o in ops if not o["ok"])
    correct = failed == 0 and res["warm_failures"] == 0 and len(ops) > 0
    for o in [o for o in ops if not o["ok"]][:5]:
        print("perfbench: FAILED %s %s: %s" % (o["kind"], o["key"], o["error"]),
              file=sys.stderr)
    print("perfbench: %s seed=%d ops=%d digest-checked=%d setups=%s" % (
        args.workload, args.seed, len(ops), checked,
        ["%.2f" % s for s in res["setup_s"]]), file=sys.stderr)

    figures = metrics.per_layer(res) if args.trace else \
        metrics.end_to_end(res, gen_s)
    print(json.dumps({
        "correct": correct, "attempted": len(ops), "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in figures.items()},
    }))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
