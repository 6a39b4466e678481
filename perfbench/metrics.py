"""Reduces one harness run (the records in raw.jsonl) to the benchmark's
metrics. Pure functions over plain data, so the arithmetic is unit-tested
in test_metrics.py."""

import bisect
import math
import statistics

# Layers the per-module metrics report on (graft.<module> packages).
MODULES = ["fs", "hpo", "cv", "ml", "ensemble", "dedup", "sim", "functions",
           "ops", "text", "queries", "io"]


def union_length(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(i for i in intervals if i[1] > i[0]):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def clip(intervals, lo, hi):
    """The parts of `intervals` inside [lo, hi]."""
    return [(max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)]


def driver_gap(span, intervals):
    """Time in `span` during which no interval (Spark job) was running."""
    lo, hi = span
    return (hi - lo) - union_length(clip(intervals, lo, hi))


def overlap(intervals):
    """Summed interval length over the length of their union: 1.0 when
    jobs run one at a time, higher when driver threads overlap them."""
    u = union_length(intervals)
    return sum(b - a for a, b in intervals) / u if u > 0 else 1.0


def tail_percentile(values, min_above=10):
    """The highest whole percentile with at least `min_above` samples above
    it, by the nearest-rank rule. Returns (percentile, value, n). Below
    10 x `min_above` samples that percentile falls under p90 (p28 for 14
    samples) and is no tail: the maximum is returned as p100 instead."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return None, None, 0
    p = math.floor(100 * (n - min_above) / n)
    if p < 90:
        return 100, xs[-1], n
    rank = math.ceil(p * n / 100)
    return p, xs[rank - 1], n


def module_of(frame):
    """Maps a `graft.*` class name from a call site to the layer it
    belongs to: the package under `graft` (`graft.cv.Folds$` -> `cv`),
    `core.<Object>` inside graft.core (`core.Par`, `core.Memo`), and
    `queries` for the registry binding objects at the top level."""
    parts = frame.split(".")
    if len(parts) < 2 or parts[0] != "graft":
        return None
    if len(parts) == 2:
        top = parts[1].split("$")[0]
        return "queries" if top in ("Queries", "SparkEntry") else top
    if parts[1] == "core":
        return "core." + parts[2].split("$")[0]
    return parts[1]


def job_modules(frames, default):
    """(innermost module, set of all modules) of a job's call-site frames;
    a job whose call site holds no graft frame is credited to `default`."""
    mods = [m for m in (module_of(f) for f in frames) if m]
    if not mods:
        return default, {default}
    return mods[0], set(mods)


def dispatched_frames(dispatch, t0, t1):
    """The frames of the threads that waited in `core.Par.mapPar` at any
    time in [t0, t1]. `dispatch` is the sampler's change records as sorted
    (t, frames) pairs: the state at t0 is the last change at or before it,
    plus every change inside the interval."""
    times = [t for t, _ in dispatch]
    lo = bisect.bisect_right(times, t0) - 1
    hi = bisect.bisect_right(times, t1)
    return {f for _, frames in dispatch[max(lo, 0):hi] for f in frames}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def traced_jobs(records):
    """Joins job start/end and stage records into one dict per job.

    Adaptive query execution materializes shuffle and broadcast stages as
    jobs of their own, submitted from Spark's thread pools: their call
    sites hold no graft frame. Such a job takes the frames of the call
    site that started its SQL execution (or, failing that, its root
    execution). A job submitted from a `core.Par` pool thread carries only
    that thread's stack; `outer` adds the frames of the threads that
    dispatched it (the sampler's `dispatch` records), which count for the
    inclusive attribution only. `functions` is whether the job's SQL plan
    evaluates one of graft.functions' expressions."""
    jobs = {}
    for r in records:
        if r["type"] == "job_start":
            jobs[r["job"]] = {"t0": r["t"], "t1": None, "frames": r["frames"],
                              "execution": r.get("execution"),
                              "root": r.get("root_execution"),
                              "ok": True, "stages": []}
    for r in records:
        if r["type"] == "job_end" and r["job"] in jobs:
            jobs[r["job"]]["t1"] = r["t"]
            jobs[r["job"]]["ok"] = r["ok"]
        elif r["type"] == "stage" and r["job"] in jobs:
            jobs[r["job"]]["stages"].append(r)
    sql = {r["execution"]: r for r in records if r["type"] == "sql_start"}
    dispatch = sorted((r["t"], r["frames"]) for r in records if r["type"] == "dispatch")
    done = [j for j in jobs.values() if j["t1"] is not None]
    for j in done:
        execs = [sql[e] for e in (j["execution"], j["root"]) if e in sql]
        if not j["frames"]:
            j["frames"] = next((e["frames"] for e in execs if e["frames"]), [])
        j["functions"] = any(e.get("functions") for e in execs)
        j["outer"] = []
        if any(module_of(f) == "core.Par" for f in j["frames"]):
            j["outer"] = sorted(dispatched_frames(dispatch, j["t0"], j["t1"]))
    return done


def layer_metrics(op, calls, jobs, default_module, groups):
    """Per-layer metrics of one traced operation.

    `calls` are the operation's public-call spans (epoch ms), `jobs` the
    traced jobs; a job belongs to the call during which it started, and
    jobs outside every call (the benchmark's own checks) are ignored."""
    def inside(j):
        return any(c["t0"] <= j["t0"] <= c["t1"] for c in calls)
    mine = [j for j in jobs if inside(j)]
    intervals = [(j["t0"] / 1e3, j["t1"] / 1e3) for j in mine]
    stages = [s for j in mine for s in j["stages"]]
    m = {
        "spark.jobs": len(mine),
        "spark.stages": len(stages),
        "spark.tasks": op.get("tasks", 0),
        "driver.gap_s": sum(driver_gap((c["t0"] / 1e3, c["t1"] / 1e3), intervals)
                            for c in calls),
        "spark.task_s": sum(s["run_ms"] for s in stages) / 1e3,
        "spark.task_cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
        "spark.stage_busy_s": union_length(
            [(s["t0"] / 1e3, s["t1"] / 1e3) for s in stages if s["t0"] >= 0]),
        "spark.shuffle_read_mb": sum(s["shuffle_read"] for s in stages) / 1048576,
        "spark.shuffle_write_mb": sum(s["shuffle_write"] for s in stages) / 1048576,
        "spark.spill_mb": sum(s["spill"] for s in stages) / 1048576,
        "spark.failed_tasks": op.get("failed_tasks", 0),
        "spark.job_overlap": overlap(intervals),
    }
    inner, every = {}, {}
    for j in mine:
        first, alls = job_modules(j["frames"], default_module)
        inner.setdefault(first, []).append(j)
        alls |= {m for m in map(module_of, j.get("outer", [])) if m}
        for mod in alls:
            every.setdefault(mod, []).append(j)
        # graft.functions holds expressions only, never a job's call site:
        # it is credited every job whose plan evaluates one of them
        if j.get("functions"):
            inner.setdefault("functions", []).append(j)
            every.setdefault("functions", []).append(j)
    for mod in MODULES:
        m[f"{mod}.busy_s"] = union_length(
            [(j["t0"] / 1e3, j["t1"] / 1e3) for j in every.get(mod, [])])
        m[f"{mod}.jobs"] = len(inner.get(mod, []))
        m[f"{mod}.stages"] = sum(len(j["stages"]) for j in inner.get(mod, []))
    memo = op.get("memo_build") or {}
    m["memo.build_s"] = sum(memo.values())
    m["memo.slots"] = op.get("memo_slots", 0)
    walls = {}
    for c in calls:
        walls[c["name"]] = walls.get(c["name"], 0.0) + c["wall_s"]
    for g, names in groups.items():
        m[f"group.{g}_s"] = sum(walls.get(n, 0.0) for n in names)
    m["pipeline.single_models_s"] = walls.get("Solution.build", 0.0)
    m["pipeline.ensemble_s"] = walls.get("buildSolution.ensemble", 0.0)
    m["pipeline.resume_s"] = walls.get("buildSolution.resume", 0.0)
    m["pipeline.tasks_ran"] = op.get("tasks_ran", 0)
    m["io.files_written"] = op.get("files_written", 0)
    m["io.bytes_written"] = op.get("bytes_written", 0)
    return m
