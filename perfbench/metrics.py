"""Turns the harness's raw measurements into the benchmark's metrics.

Pure functions over plain data (the harness's result JSON), so the
self-time arithmetic and the digest check are unit tested without Spark
(see tests/test_perfbench.py).
"""

import statistics

# Spans the harness opens around calls into the engine, by the module that
# owns the work done inside them. A job whose call site names no engine
# module (the harness itself forced a frame the module returned) is
# attributed to the innermost enclosing span's module.
SPAN_MODULE = {
    "f1.catalog": "f1", "f1.drilldown": "f1", "f1.telemetry": "f1",
    "f1.chart": "f1", "f1.matrix": "f1",
    "streaming.batch": "streaming",
    "stores.retrieval_append": "stores", "stores.vector_append": "stores",
    "stores.retrieval_query": "stores", "stores.vector_query": "stores",
    "stores.compact": "stores", "stores.vacuum": "stores",
}
EXT_MODULES = ["dedup", "textops", "similarity", "graphops", "corpus_release",
               "release_store"]
QUERY_KINDS = ("rq", "vq")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of the intervals."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans, jobs=()):
    """Self time of every span: its duration minus the part of its interval
    covered by its children — child spans, and the Spark jobs whose
    innermost enclosing span it is."""
    children = {s["id"]: [] for s in spans}
    for s in spans:
        if s["parent"] in children:
            children[s["parent"]].append((s["start_ms"], s["end_ms"]))
    for j in jobs:
        p = enclosing_span(spans, j)
        if p is not None:
            children[p["id"]].append((j["start_ms"], j["end_ms"]))
    return {s["id"]: (s["end_ms"] - s["start_ms"]) -
            covered(children[s["id"]], s["start_ms"], s["end_ms"])
            for s in spans}


def enclosing_span(spans, job):
    """Innermost span of the job's operation whose interval holds the job's
    start (the client is one thread, so its spans nest)."""
    best = None
    for s in spans:
        if s["op"] == job["op"] and s["start_ms"] <= job["start_ms"] <= s["end_ms"]:
            if best is None or s["start_ms"] >= best["start_ms"]:
                best = s
    return best


def check_digests(ops, expected):
    """Marks every operation whose key has an expected digest and whose
    output digest differs. Returns (checked, mismatched keys)."""
    checked, bad = 0, []
    for op in ops:
        want = expected.get(op["key"])
        if want is None:
            continue
        checked += 1
        if op["digest"] != want:
            op["ok"] = False
            op["error"] = op.get("error") or "digest mismatch"
            bad.append(op["key"])
    return checked, bad


def end_to_end(res, gen_s):
    """The untraced metrics every workload reports."""
    ops = [o for o in res["ops"] if not o["traced"]]
    ms = [o["ms"] for o in ops]
    setup = gen_s + res["session_start_s"] + median(res["setup_s"]) + \
        res["warm_s"]
    return {
        "setup_s": (setup, "s"),
        "ops_per_s": (len(ms) / (sum(ms) / 1000.0) if ms else 0.0, "1/s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }


def workload_figures(res):
    """Workload-specific end-to-end figures (from untraced operations only);
    0 where a figure does not apply to the workload."""
    ops = [o for o in res["ops"] if not o["traced"]]
    summ = res.get("summary") or {}

    def of(kinds):
        return [o["ms"] for o in ops if o["kind"] in kinds]

    ingest = of(("ingest",))
    user = summ.get("user_bytes", 0)
    return {
        "op_p50_ms": (median([o["ms"] for o in ops]), "ms"),
        "docs_per_s": (summ.get("batch_docs", 0) * len(ingest) /
                       (sum(ingest) / 1000) if ingest else 0.0, "1/s"),
        "ingest_p50_ms": (median(ingest), "ms"),
        "query_p50_ms": (median(of(QUERY_KINDS)), "ms"),
        "compact_s": (median(of(("maintain",))) / 1000.0, "s"),
        "bytes_per_user_byte": (summ.get("store_bytes", 0) / user
                                if user else 0.0, "ratio"),
        "failed_ratio": (sum(1 for o in ops if not o["ok"]) / len(ops)
                         if ops else 0.0, "ratio"),
    }


def per_layer(res):
    """The traced metrics: Spark runtime counters, job time by module,
    layer spans and self times, stores, streaming, JVM, and overhead."""
    tr = res.get("trace") or {}
    counters = dict(tr.get("counters", {}))
    jobs = [j for j in tr.get("jobs", []) if j["op"] >= 0]
    spans = [s for s in res.get("spans", []) if s["end_ms"] >= s["start_ms"]]
    traced_ops = [o for o in res["ops"] if o["traced"]]
    summ = res.get("summary") or {}
    out = {}

    def put(name, value, unit):
        out[name] = (float(value), unit)

    for name, unit in (
            ("spark.jobs", "count"), ("spark.stages", "count"),
            ("spark.tasks", "count"), ("spark.tasks_under_50ms", "count"),
            ("spark.scheduler_delay_ms", "ms"),
            ("planning.sql_executions", "count"),
            ("planning.analysis_ms", "ms"), ("planning.optimization_ms", "ms"),
            ("planning.physical_ms", "ms"),
            ("planning.local_checkpoints", "count"),
            ("spark.executor_cpu_ms", "ms"), ("spark.executor_run_ms", "ms"),
            ("spark.shuffle_write_mb", "MB"), ("spark.shuffle_read_mb", "MB"),
            ("spark.spill_mb", "MB"), ("spark.peak_exec_mem_mb", "MB"),
            ("physical.sort_ms", "ms"), ("physical.agg_build_ms", "ms"),
            ("physical.broadcast_build_ms", "ms"),
            ("sources.files_read", "count"), ("sources.input_mb", "MB"),
            ("streaming.batches", "count"), ("streaming.trigger_ms", "ms"),
            ("streaming.add_batch_ms", "ms"),
            ("streaming.query_planning_ms", "ms"),
            ("streaming.wal_commit_ms", "ms"),
            ("jvm.gc_ms", "ms"), ("jvm.heap_peak_mb", "MB")):
        put(name, counters.get(name, 0.0), unit)
    wall_ms = res.get("traced_s", 0.0) * 1000.0 * res.get("cpus", 1)
    put("spark.idle_core_ratio",
        1.0 - counters.get("spark.executor_run_ms", 0.0) / wall_ms
        if wall_ms else 0.0, "ratio")

    # job time by module: call site first, else the enclosing span
    by_module, total, by_site = {}, 0.0, 0.0
    for j in jobs:
        d = j["end_ms"] - j["start_ms"]
        total += d
        mod = j["module"]
        if mod:
            by_site += d
        else:
            s = enclosing_span(spans, j)
            while s is not None and s["name"] not in SPAN_MODULE:
                s = next((p for p in spans if p["id"] == s["parent"]), None)
            mod = SPAN_MODULE.get(s["name"], "") if s else ""
        by_module[mod] = by_module.get(mod, 0.0) + d
    # the other ext modules' jobs are attributed to the module that forces
    # their plans (ReleaseStore, the stores), so only release_store reads
    # non-zero on these workloads
    put("ext.release_store_job_ms", by_module.get("ext.release_store", 0.0),
        "ms")
    ext_sum = sum(by_module.get("ext." + m, 0.0) for m in EXT_MODULES)
    put("ext.attributed_ratio", ext_sum / total if total else 0.0, "ratio")
    named = total - by_module.get("", 0.0)
    put("trace.job_attributed_ratio", named / total if total else 0.0, "ratio")
    put("trace.callsite_attributed_ratio", by_site / total if total else 0.0,
        "ratio")

    # layer spans: median duration per call, self time of the chart render
    def span_ms(name):
        return median([s["end_ms"] - s["start_ms"] for s in spans
                       if s["name"] == name])
    selfs = self_times(spans, jobs)
    put("f1.drilldown_ms", span_ms("f1.drilldown"), "ms")
    put("f1.telemetry_ms", span_ms("f1.telemetry"), "ms")
    put("f1.matrix_ms", span_ms("f1.matrix"), "ms")
    put("f1.chart_self_ms", median([selfs[s["id"]] for s in spans
                                    if s["name"] == "f1.chart"]), "ms")
    held = [o for o in traced_ops if o["kind"] in ("telemetry", "matrix")]
    hits = set(tr.get("cache_hit_ops", [])) - set(summ.get("switch_ops", []))
    put("f1.cache_hit_ratio",
        sum(1 for o in held if o["id"] in hits) / len(held) if held else 0.0,
        "ratio")
    for name in ("retrieval_append", "vector_append", "retrieval_query",
                 "vector_query", "compact", "vacuum"):
        put("stores.%s_ms" % name, span_ms("stores." + name), "ms")
    put("stores.live_files", summ.get("live_files", 0), "count")
    put("stores.bytes_on_disk_mb", summ.get("store_bytes", 0) / 1048576.0, "MB")
    q_ops = [o for o in traced_ops if o["kind"] in QUERY_KINDS]
    files_by_op = tr.get("store_files_by_op", {})
    put("stores.files_per_query",
        sum(files_by_op.get(str(o["id"]), 0.0) for o in q_ops) / len(q_ops)
        if q_ops else 0.0, "count")

    # tracing overhead: per operation kind, traced over untraced median,
    # weighted by how often each kind ran traced
    untraced = [o for o in res["ops"] if not o["traced"]]
    num = den = 0.0
    for kind in {o["kind"] for o in traced_ops}:
        t = [o["ms"] for o in traced_ops if o["kind"] == kind]
        u = [o["ms"] for o in untraced if o["kind"] == kind]
        if t and u:
            num += len(t) * median(t)
            den += len(t) * median(u)
    put("trace.overhead_ratio", num / den if den else 0.0, "ratio")
    for name, (v, unit) in workload_figures(res).items():
        put(name, v, unit)
    return out
