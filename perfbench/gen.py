"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of (seed, sizes): the same seed writes
byte-identical files. Files are JSON lines with sorted keys and fixed
number formatting, written only under the directory the caller passes.
Each generator returns a `shape` dict (sizes and planted shares) that is
written next to the inputs as shape.json.
"""

import datetime as _dt
import hashlib
import json
import os
import random

YEAR = 2024
COMPOUNDS = ["SOFT", "MEDIUM", "HARD", "INTERMEDIATE", "WET"]

F1_SIZES = {"weekends": 22, "drivers": 20, "race_laps": 24,
            "telemetry_laps_per_session": 2, "script_ops": 2000}
STORE_SIZES = {"base_docs": 600, "batch_docs": 60, "rounds": 3,
               "maintain_every": 1, "queries": 1, "dim": 16}
# The incoming batch's families and their weights are those of the
# engine's own daily-release gate batch (q_incr_release, built by
# ExtQueries.incrBatchWaves): per base document, a re-crawl of its url
# every 21st, a near clone every 17th, an exact clone every 23rd, a
# 12-token benchmark excerpt every 37th and a token-reversed (fresh)
# text every 29th. A batch holds the families in these proportions,
# apportioned to the batch size, so every seed ingests the same mix.
BATCH_FAMILIES = [("recrawl", 1 / 21), ("near", 1 / 17), ("exact", 1 / 23),
                  ("excerpt", 1 / 37), ("reversed", 1 / 29)]

_EPOCH = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)


def _rng(workload, seed):
    return random.Random("%s:%d" % (workload, seed))


def _ts(micros):
    """Epoch microseconds -> fixed-width ISO-8601 UTC text."""
    t = _EPOCH + _dt.timedelta(microseconds=micros)
    return t.strftime("%Y-%m-%dT%H:%M:%S.%fZ")


def _write(path, rows):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        for r in rows:
            f.write(json.dumps(r, sort_keys=True, separators=(",", ":")))
            f.write("\n")


def digest_dir(path):
    """sha256 over every file under `path` (relative name + bytes)."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for name in sorted(files):
            p = os.path.join(root, name)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


# --------------------------------------------------------------------------
# f1_dashboard: one generated season plus the analyst's operation script.
# --------------------------------------------------------------------------

def _sec(x):
    return round(x, 3)


def gen_f1(seed, out):
    r = _rng("f1", seed)
    n_wk, n_drv = F1_SIZES["weekends"], F1_SIZES["drivers"]
    circuits = ["Alpha", "Bravo", "Coast", "Delta", "Eagle", "Fjord",
                "Granite", "Harbor", "Isle", "Jade", "Keel", "Lagoon",
                "Mesa", "North", "Oasis", "Pines", "Quarry", "Ridge",
                "Summit", "Tundra", "Upland", "Valley", "Willow", "Yard"]
    r.shuffle(circuits)
    numbers = sorted(r.sample(range(1, 100), n_drv))
    acronyms = []
    while len(acronyms) < n_drv:
        a = "".join(r.choice("ABCDEFGHIJKLMNOPQRSTUVWXYZ") for _ in range(3))
        if a not in acronyms:
            acronyms.append(a)
    colors = ["#%02X%02X%02X" % (r.randrange(256), r.randrange(256),
                                 r.randrange(256)) for _ in range(n_drv)]
    pace = {d: r.uniform(0.0, 2.5) for d in numbers}
    unknown_color = r.choice(numbers)

    meetings, sessions, drivers, laps, stints = [], [], [], [], []
    car, loc, ops_menu, expect = [], [], [], {}
    season0 = int(_dt.datetime(YEAR, 3, 1, 13, tzinfo=_dt.timezone.utc)
                  .timestamp()) * 1000000
    for w in range(n_wk):
        mk = 1200 + w
        name = "%s Grand Prix" % circuits[w]
        meetings.append({"meeting_key": mk, "year": YEAR,
                         "meeting_official_name": name})
        if w % 7 == 0:  # duplicate catalog rows the catalog must distinct
            meetings.append({"meeting_key": mk, "year": YEAR,
                             "meeting_official_name": name})
        base_lap = 78.0 + r.uniform(0, 14)
        q_start = season0 + w * 7 * 86400 * 1000000
        r_start = q_start + 86400 * 1000000
        for (skey, sname, start, dur) in (
                (mk * 10 + 1, "Qualifying", q_start, 3600),
                (mk * 10 + 2, "Race", r_start, 7200)):
            sessions.append({
                "session_key": skey, "meeting_key": mk, "session_name": sname,
                "session_type": sname, "circuit_short_name": circuits[w],
                "date_start": _ts(start),
                "date_end": _ts(start + dur * 1000000)})
            for i, d in enumerate(numbers):
                drivers.append({
                    "session_key": skey, "driver_number": d,
                    "name_acronym": acronyms[i], "team_colour": colors[i][1:],
                    "driver_color": "Unknown" if d == unknown_color
                    else colors[i]})
            if sname == "Qualifying":
                s_laps, s_stints, bars = _qualifying(r, skey, start, numbers,
                                                     pace, base_lap)
            else:
                s_laps, s_stints, bars = _race(r, skey, start, numbers,
                                               pace, base_lap)
            laps.extend(s_laps)
            stints.extend(s_stints)
            expect[str(skey)] = {"bars": bars,
                                 "matrix_rows": _matrix_rows(s_laps, s_stints)}
            # telemetry menu: laps with a known duration, car/location
            # samples around each (rows straddle both lap boundaries)
            timed = [l for l in s_laps if l["lap_duration"] is not None]
            for lap in r.sample(timed, F1_SIZES["telemetry_laps_per_session"]):
                n_in = _telemetry(r, lap, car, loc)
                ops_menu.append((skey, lap["driver_number"], lap["lap_number"],
                                 n_in))

    for name, rows in (("meetings", meetings), ("sessions", sessions),
                       ("drivers", drivers), ("laps", laps),
                       ("stints", stints), ("car_data", car),
                       ("location", loc)):
        _write(os.path.join(out, name + ".jsonl"), rows)

    script = _f1_script(r, sessions, meetings, ops_menu, expect)
    _write(os.path.join(out, "ops.jsonl"), script)
    return {"weekends": n_wk, "sessions": len(sessions), "drivers": n_drv,
            "laps": len(laps), "car_data_rows": len(car),
            "location_rows": len(loc), "script_ops": len(script),
            "session_skew": "zipf s=1.1 over weekends; cycles of a qualifying "
            "and a race run of %d ops each" % len(F1_RUN)}


def _lap_row(skey, d, n, start_us, secs, pit_out, null_s2=False):
    s1, s2, s3 = secs
    s2v = None if null_s2 else s2
    dur = None if null_s2 else _sec(s1 + s2 + s3)
    return {"session_key": skey, "driver_number": d, "lap_number": n,
            "date_start": _ts(start_us), "duration_sector_1": s1,
            "duration_sector_2": s2v, "duration_sector_3": s3,
            "lap_duration": dur, "is_pit_out_lap": pit_out}


def _split(total, r):
    a = _sec(total * r.uniform(0.30, 0.34))
    b = _sec(total * r.uniform(0.33, 0.37))
    return (a, b, _sec(total - a - b))


def _lap_time(row):
    if row["duration_sector_2"] is None:
        return None
    return round(row["duration_sector_1"] + row["duration_sector_2"]
                 + row["duration_sector_3"], 3)


def _qualifying(r, skey, start, numbers, pace, base):
    """Q1 (all), Q2 (15 fastest), Q3 (10 fastest) — eliminations follow
    the same (best time, date_start) order the grid query ranks by, so
    the grid is 20 distinct drivers."""
    laps, stints = [], []
    lap_no = {d: 0 for d in numbers}
    field = list(numbers)
    phase_off = [120, 26 * 60, 49 * 60]
    for ph, keep in enumerate((15, 10, 0)):
        best = {}
        tie_pair = r.sample(field, 2) if ph == 0 else None
        tie_secs = _split(base + 1.9, r)
        for j, d in enumerate(field):
            first_lap = lap_no[d] + 1
            for k in range(4):
                lap_no[d] += 1
                st = start + (phase_off[ph] + j * 7 + k * 100) * 1000000 + 500
                t = base + pace[d] + r.uniform(0.0, 0.8) - 0.3 * ph
                secs = _split(t + (6.0 if k == 0 else 0.0), r)
                if tie_pair and d in tie_pair and k == 2:
                    secs = tie_secs  # identical lap times, distinct starts
                null_s2 = k == 1 and r.random() < 0.15
                row = _lap_row(skey, d, lap_no[d], st, secs, k == 0, null_s2)
                laps.append(row)
                lt = _lap_time(row)
                if k > 0 and lt is not None:
                    cur = best.get(d)
                    if cur is None or (lt, st) < cur:
                        best[d] = (lt, st)
            stints.append({"session_key": skey, "driver_number": d,
                           "stint_number": ph + 1, "lap_start": first_lap,
                           "lap_end": lap_no[d], "compound":
                           "SOFT" if ph else r.choice(["SOFT", "MEDIUM"]),
                           "tyre_age_at_start": r.randrange(0, 3)})
        field = sorted(field, key=lambda d: best[d])[:keep]
    return laps, stints, len(numbers)


def _race(r, skey, start, numbers, pace, base):
    """Race laps with pit stops, NULL sectors, one non-starter whose laps
    all lack a time, a stint gap past the last stint's lap_end, and one
    stint with a NULL compound."""
    laps, stints = [], []
    n_laps = F1_SIZES["race_laps"]
    dns = r.choice(numbers)
    gap_driver = r.choice([d for d in numbers if d != dns])
    null_comp = r.choice([d for d in numbers if d not in (dns, gap_driver)])
    bars = 0
    for j, d in enumerate(numbers):
        pit = r.randrange(8, n_laps - 6)
        clock = start + (300 + j * 2) * 1000000 + 500
        any_time = False
        for n in range(1, n_laps + 1):
            t = base + 4.0 + pace[d] + r.uniform(0, 1.2) + \
                (20.0 if n == pit + 1 else 0.0)
            secs = _split(t, r)
            null_s2 = d == dns or (r.random() < 0.04)
            row = _lap_row(skey, d, n, clock, secs, n == pit + 1, null_s2)
            laps.append(row)
            any_time = any_time or _lap_time(row) is not None
            clock += int(t * 1000000)
        bars += 1 if any_time else 0
        c1, c2 = r.sample(COMPOUNDS[:3], 2)
        last_end = n_laps - 3 if d == gap_driver else n_laps
        stints.append({"session_key": skey, "driver_number": d,
                       "stint_number": 1, "lap_start": 1, "lap_end": pit,
                       "compound": c1, "tyre_age_at_start": r.randrange(0, 4)})
        stints.append({"session_key": skey, "driver_number": d,
                       "stint_number": 2, "lap_start": pit + 1,
                       "lap_end": last_end,
                       "compound": None if d == null_comp else c2,
                       "tyre_age_at_start": None if d == null_comp else 0})
    return laps, stints, bars


def _matrix_rows(laps, stints):
    """Drivers with at least one timed lap inside a stint with a known
    compound: the rows of the (driver x compound) average matrix."""
    by_driver = {}
    for s in stints:
        by_driver.setdefault(s["driver_number"], []).append(s)
    drivers = set()
    for l in laps:
        if _lap_time(l) is None:
            continue
        # as-of backward on lap_start, then null-out past lap_end
        cands = [s for s in by_driver.get(l["driver_number"], [])
                 if s["lap_start"] <= l["lap_number"]]
        if not cands:
            continue
        s = max(cands, key=lambda s: s["lap_start"])
        if l["lap_number"] <= s["lap_end"] and s["compound"] is not None:
            drivers.add(l["driver_number"])
    return len(drivers)


def _telemetry(r, lap, car, loc):
    """~4 Hz car samples from 2 s before to 2 s after the lap, location
    samples offset so no timestamp aligns (a few land exactly midway,
    pinning the nearest-join tie rule). Returns the in-lap sample count."""
    start = (_dt.datetime.strptime(lap["date_start"], "%Y-%m-%dT%H:%M:%S.%fZ")
             .replace(tzinfo=_dt.timezone.utc) - _EPOCH) \
        // _dt.timedelta(microseconds=1)
    end = start + int(round(lap["lap_duration"] * 1000000))
    skey, d = lap["session_key"], lap["driver_number"]
    t = start - 2000000 + 137
    n_in = 0
    i = 0
    while t < end + 2000000:
        car.append({"session_key": skey, "driver_number": d, "date": _ts(t),
                    "speed": round(180 + 120 * r.random(), 2),
                    "throttle": round(100 * r.random(), 1),
                    "brake": 100.0 if r.random() < 0.12 else 0.0,
                    "n_gear": r.randrange(1, 9), "rpm": r.randrange(8000, 12500)})
        n_in += 1 if start <= t <= end else 0
        off = 125000 if i % 17 == 0 else 61000
        loc.append({"session_key": skey, "driver_number": d,
                    "date": _ts(t + off), "x": round(r.uniform(-900, 900), 1),
                    "y": round(r.uniform(-900, 900), 1),
                    "z": round(r.uniform(0, 30), 1)})
        t += 250000
        i += 1
    return n_in


# One cycle of the analyst loop is two runs of operations, one on a
# qualifying session and one on a race session: switch to the session (its
# first telemetry fills the session's cache), chart from the cache, drill
# down, and look up a catalog. Kinds and session types are fixed per cycle
# so every seed (and every whole cycle of a run) measures the same
# operation mix; which sessions, drivers and laps is seeded. The run
# length, the kinds in a run and the Zipf skew over weekends are
# assumptions: no record of analysts' use of the dashboard exists to
# take them from.
F1_RUN = ["telemetry", "matrix", "drilldown", "telemetry", "catalog"]
F1_CYCLE = len(F1_RUN) * 2


def _f1_script(r, sessions, meetings, menu, expect):
    """The analyst's closed-loop script: cycles of a qualifying run and a
    race run, sessions drawn Zipf-skewed (s=1.1) over the weekends."""
    names = {m["meeting_key"]: m["meeting_official_name"] for m in meetings}
    n_meetings = len({m["meeting_key"] for m in meetings})
    by_session = {}
    for (skey, d, n, n_in) in menu:
        by_session.setdefault(skey, []).append((d, n, n_in))
    by_type = {}
    for s in sessions:
        by_type.setdefault(s["session_name"], []).append(s)
    for v in by_type.values():
        r.shuffle(v)
    weights = [1.0 / (i + 1) ** 1.1 for i in range(len(by_type["Race"]))]
    ops = []
    s = None
    while len(ops) < F1_SIZES["script_ops"]:
        i = len(ops) % F1_CYCLE
        if i % len(F1_RUN) == 0:
            kind_of_session = "Qualifying" if i == 0 else "Race"
            s = r.choices(by_type[kind_of_session], weights)[0]
        skey, mk = s["session_key"], s["meeting_key"]
        e = expect[str(skey)]
        kind = F1_RUN[i % len(F1_RUN)]
        if kind == "catalog":
            kind = "weekends" if i < len(F1_RUN) else "sessions"
        if kind == "weekends":
            op = {"year": YEAR, "expect_rows": n_meetings}
        elif kind == "sessions":
            op = {"meeting_key": mk, "expect_rows": 2}
        elif kind == "drilldown":
            op = {"year": YEAR, "weekend": names[mk],
                  "session_name": s["session_name"], "expect_bars": e["bars"]}
        elif kind == "telemetry":
            d, n, n_in = r.choice(by_session[skey])
            op = {"driver": d, "lap": n, "expect_points": n_in}
        else:
            op = {"expect_rows": e["matrix_rows"]}
        op["kind"] = kind
        op["session_key"] = skey
        op["key"] = _op_key(op)
        ops.append(op)
    return ops


def _op_key(op):
    k = op["kind"]
    if k == "weekends":
        return "weekends:%d" % op["year"]
    if k == "sessions":
        return "sessions:%d" % op["meeting_key"]
    if k == "drilldown":
        return "drilldown:%d" % op["session_key"]
    if k == "telemetry":
        return "telemetry:%d:%d:%d" % (op["session_key"], op["driver"],
                                       op["lap"])
    return "matrix:%d" % op["session_key"]


# --------------------------------------------------------------------------
# store_ingest: a seeded corpus in the style of the repository's test
# documents, incoming batches planted with the daily-release gate's
# families, and the fixed read set.
# --------------------------------------------------------------------------

# The test documents' vocabulary (testdata `documents.parquet`): 31 words
# drawn uniformly, stop words included. The release's frozen quality
# models are tuned to it, so fresh documents in it are kept; one language
# label, so the language check keeps them too.
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window"]


def _text(r, n):
    return " ".join(r.choice(WORDS) for _ in range(n))


def family_counts(n):
    """Apportions n batch documents to BATCH_FAMILIES by their weights
    (largest remainder, ties to the earlier family)."""
    total = sum(w for _, w in BATCH_FAMILIES)
    quotas = [n * w / total for _, w in BATCH_FAMILIES]
    counts = [int(q) for q in quotas]
    order = sorted(range(len(quotas)), key=lambda i: (counts[i] - quotas[i], i))
    for i in order[:n - sum(counts)]:
        counts[i] += 1
    return {name: c for (name, _), c in zip(BATCH_FAMILIES, counts)}


def _vector(r, centers, dim):
    c = r.choice(centers)
    return [round(c[k] + r.gauss(0, 0.35), 4) for k in range(dim)]


def gen_store(seed, out):
    r = _rng("store", seed)
    s = STORE_SIZES
    dim = s["dim"]
    centers = [[r.uniform(-3, 3) for _ in range(dim)] for _ in range(12)]
    bench = [_text(r, 60) for _ in range(20)]
    # the base corpus is an already-released corpus: distinct documents
    # the set-up ships as the release store's kept set
    base = []
    for i in range(s["base_docs"]):
        base.append({"doc_id": i + 1, "text": _text(r, r.randrange(40, 100)),
                     "url": "https://site%d.example/p/%d" % (r.randrange(40), i + 1),
                     "lang": "en", "source": "src%d" % r.randrange(5),
                     "embedding": _vector(r, centers, dim)})
    _write(os.path.join(out, "base.jsonl"), base)
    _write(os.path.join(out, "benchmark.jsonl"),
           [{"doc_id": 900000 + i, "text": t} for i, t in enumerate(bench)])
    counts = family_counts(s["batch_docs"])
    next_id = 100000
    for rnd in range(s["rounds"]):
        kinds = [k for k, c in counts.items() for _ in range(c)]
        r.shuffle(kinds)
        batch = []
        for kind in kinds:
            prior = r.choice(base)
            text, lang = prior["text"], prior["lang"]
            url = "https://batch.example/%s/%d" % (kind, next_id)
            if kind == "recrawl":
                text, url = text + " recrawl", prior["url"]
            elif kind == "near":
                text = text + " batch end"
            elif kind == "excerpt":
                text = " ".join(r.choice(bench).split(" ")[:12])
            elif kind == "reversed":
                text = " ".join(reversed(text.split(" ")))
            batch.append({"doc_id": next_id, "text": text, "url": url,
                          "lang": lang, "source": prior["source"],
                          "embedding": _vector(r, centers, dim)})
            next_id += 1
        _write(os.path.join(out, "batches", "b%03d.jsonl" % rnd), batch)
    # the fixed read set: two vocabulary terms (every BM25 query matches
    # at least k documents) and a vector near the planted clusters
    queries = []
    for q in range(s["queries"]):
        queries.append({"query_id": q, "terms": r.sample(WORDS, 2),
                        "embedding": _vector(r, centers, dim)})
    _write(os.path.join(out, "queries.jsonl"), queries)
    return {"base_docs": len(base), "batch_docs": s["batch_docs"],
            "rounds_staged": s["rounds"], "maintain_every": s["maintain_every"],
            "queries": len(queries), "dim": dim, "batch_families": counts}


GENERATORS = {"f1_dashboard": gen_f1, "store_ingest": gen_store}


def generate(workload, seed, out):
    shape = GENERATORS[workload](seed, out)
    with open(os.path.join(out, "shape.json"), "w") as f:
        json.dump(shape, f, sort_keys=True, indent=1)
    return shape
