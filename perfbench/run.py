#!/usr/bin/env python3
"""Benchmark for the graft library: the `Solution.buildSolution` pipeline
and the heavy half of the `SparkEntry.queries` registry.

    python3 perfbench/run.py --workload solution --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the library and the
harness (perfbench/harness) with sbt into the checkout; later runs reuse
the build while the sources are unchanged. Each run starts one JVM,
which prepares the inputs, runs the workload's untimed warm-up and then
operations in a closed loop (one client) for `--seconds`; README.md has
the workloads and metrics. The last line of standard output is the result:
`{"correct", "attempted", "failed", "metrics"}` with the end-to-end
metrics (`--trace 0`) or the per-layer metrics of a traced run
(`--trace 1`). The line before it holds the run's detail: posture,
sample counts, the tail percentile used, and every failed check.
"""

import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no files next to the sources
import metrics  # noqa: E402

BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
HARNESS = os.path.join(HERE, "harness")
DEADLINE_S = 170  # a run that does not build must end within 180 s
BUILD_DEADLINE_S = 700  # a run that builds, within 900 s

# Data scale of the registry tables (lineitem = 6e6 x sf rows) and size of
# the supervised table behind the solution project (orders before the
# lineitem join and the 80/20 split).
REGISTRY_SF = 0.01
SOLUTION_ORDERS = 1500
# Blended CV AUC of the solution project never fell below 0.80 over the
# seeds tried when the benchmark was defined (README.md); a lower score
# means the pipeline's output changed.
SOLUTION_MIN_AUC = 0.75

# Per-query latency (median and tail) goes to the detail line only: over
# the ten queries of one registry pass, or the one call of a build, it
# spread past the 0.25 bound between runs on a shared 4-core box.
END_TO_END = {"setup_s": "s", "run_s": "s", "cpu_s": "s", "live_heap_mb": "MB"}


def per_layer_units(groups):
    units = {
        "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
        "driver.gap_s": "s", "spark.task_s": "s", "spark.task_cpu_s": "s",
        "spark.stage_busy_s": "s", "spark.shuffle_read_mb": "MB",
        "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB",
        "spark.failed_tasks": "count", "spark.job_overlap": "ratio",
        "memo.build_s": "s", "memo.slots": "count",
        "pipeline.single_models_s": "s", "pipeline.ensemble_s": "s",
        "pipeline.resume_s": "s", "pipeline.tasks_ran": "count",
        "io.files_written": "count", "io.bytes_written": "bytes",
        "trace.run_s": "s",
    }
    for g in groups:
        units[f"group.{g}_s"] = "s"
    for m in metrics.MODULES:
        units[f"{m}.busy_s"] = "s"
        units[f"{m}.jobs"] = "count"
        units[f"{m}.stages"] = "count"
    return units


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def load_registry():
    with open(os.path.join(HERE, "registry.json")) as f:
        return json.load(f)


# ---------------------------------------------------------------- build

def source_fingerprint():
    """Hash of everything the build reads: the library's sources and
    build definition, and the harness."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"), HARNESS]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, dirs, files in os.walk(r)
            for f in files if "target" not in os.path.relpath(d, r).split(os.sep))
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles the library and the harness with sbt (offline) unless the
    sources are unchanged since the last build; returns the classpath."""
    for needed in ("build.sbt", os.path.join("src", "main", "scala", "graft", "SparkEntry.scala")):
        if not os.path.exists(os.path.join(ROOT, needed)):
            fail(f"{needed} not found: run from the root of a graft checkout")
    os.makedirs(BUILD_DIR, exist_ok=True)
    stamp, cp_file = os.path.join(BUILD_DIR, "fingerprint"), os.path.join(BUILD_DIR, "classpath")
    fp = source_fingerprint()
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == fp:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD_DIR, "build.log")
    with open(log, "w") as out:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export harness/Runtime/fullClasspath"],
                       cwd=HARNESS, env=env, stdout=out, timeout=BUILD_DEADLINE_S)
    lines = open(log).read().splitlines()
    cps = [ln.strip() for ln in lines if ".jar" in ln and ":" in ln and " " not in ln.strip()]
    if rc != 0 or not cps:
        sys.stderr.write("".join(l + "\n" for l in lines[-30:]))
        fail(f"build failed (exit {rc}); log in {log}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp, "w") as f:
        f.write(fp)
    return cps[-1]


def run_child(cmd, timeout, **kw):
    """Runs a child in its own process group and waits for it to end;
    on timeout the whole group is killed."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


# ------------------------------------------------------------------ run

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def harness_args(workload, seed, work, registry):
    if workload == "solution":
        return ["mode=solution", f"orders={SOLUTION_ORDERS}",
                f"conf={os.path.join(HERE, 'solution.conf')}"]
    # the seed permutes the run order; a memo group moves as one unit in
    # its frozen order, so the same query always pays the group's build
    grouped = {q: g for g, qs in registry["groups"].items() for q in qs}
    units = []
    for q in registry["measured"]:
        if q not in grouped:
            units.append([q])
        elif not any(grouped.get(u[0]) == grouped[q] for u in units):
            units.append(registry["groups"][grouped[q]])
    random.Random(seed).shuffle(units)
    names = [q for u in units for q in u]
    plan, split = os.path.join(work, "plan.txt"), os.path.join(work, "split.txt")
    with open(plan, "w") as f:
        f.write("\n".join(names) + "\n")
    with open(split, "w") as f:
        f.write("".join(f"{half} {q}\n" for half in ("light", "heavy") for q in registry[half]))
    with open(os.path.join(HARNESS, "src", "main", "scala", "perfbench", "Gen.scala"), "rb") as f:
        gen = hashlib.sha256(f.read()).hexdigest()[:16]
    data = os.path.join(BUILD_DIR, "data", f"registry-sf{REGISTRY_SF}-{gen}")
    os.makedirs(os.path.dirname(data), exist_ok=True)
    return ["mode=registry", f"sf={REGISTRY_SF}", f"plan={plan}",
            f"split={split}", f"data={data}"]


def run_harness(classpath, workload, seed, seconds, trace, work, registry, budget):
    cpus = os.cpu_count() or 4
    cmd = ["java"] + [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += ["-Xmx3g", "-Dspark.callstack.depth=200", f"-Djava.io.tmpdir={work}/tmp",
            "-cp", classpath, "perfbench.Harness",
            f"work={work}", f"seconds={seconds}", f"trace={trace}", f"seed={seed}",
            f"cpus={cpus}"] + harness_args(workload, seed, work, registry)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log = os.path.join(work, "harness.log")
    with open(log, "w") as err:
        rc = run_child(cmd, cwd=work, stdout=err, stderr=subprocess.STDOUT, timeout=budget)
    raw = os.path.join(work, "raw.jsonl")
    if rc != 0 or not os.path.exists(raw):
        tail = open(log, errors="replace").read().splitlines()[-40:]
        sys.stderr.write("\n".join(tail) + "\n")
        fail(f"harness exited with {rc}")
    with open(raw) as f:
        return [json.loads(line) for line in f if line.strip()]


# --------------------------------------------------------------- checks

def check_registry(records, registry, cpus):
    """Every query ran and its checksum equals the digest recorded for
    this data (row count only, for the queries listed as unstable, and for
    every query at another core count than the digests were recorded at:
    the shuffle width follows the cores)."""
    digests, rows_only = registry["digests"], set(registry["rows_only"])
    if cpus != registry["digest_cpus"]:
        rows_only = set(digests)
    split = next(r for r in records if r["type"] == "split")
    attempted, problems = 1, []
    if split["both"] or split["unlisted"] or split["unknown"]:
        problems.append(f"light/heavy split does not partition SparkEntry.queries: {split}")
    for q in (r for r in records if r["type"] == "query"):
        attempted += 1
        want = digests.get(q["name"])
        if not q["ok"]:
            problems.append(f"{q['name']}: {q['error']}")
        elif want is None:
            problems.append(f"{q['name']}: no recorded digest")
        elif q["rows"] != want["rows"]:
            problems.append(f"{q['name']}: {q['rows']} rows, expected {want['rows']}")
        elif q["name"] not in rows_only and q["digest"] != want["digest"]:
            problems.append(f"{q['name']}: digest {q['digest']}, expected {want['digest']}")
    return attempted, len(problems), problems


def check_solution(records, seed, cpus):
    """Per build: every declared artifact exists, each OOF table has one
    row per training row, the blended CV score clears the floor, and the
    OOF digest equals the one recorded for this seed and core count
    (seeded fits repeat exactly; seeds without a record skip this)."""
    with open(os.path.join(HERE, "solution_digests.json")) as f:
        want = json.load(f).get(str(cpus), {}).get(str(seed))
    failed, problems = 0, []
    ops = [r for r in records if r["type"] == "op"]
    for op in ops:
        bad = []
        if op["missing"]:
            bad.append(f"missing {op['missing']}")
        if any(n != op["train_rows"] for n in op["oof_rows"].values()):
            bad.append(f"OOF rows {op['oof_rows']} != {op['train_rows']} training rows")
        if want is not None and op["oof_digest"] != want:
            bad.append(f"OOF digest {op['oof_digest']} != recorded {want}")
        if not op["blend_score"] or op["blend_score"] < SOLUTION_MIN_AUC:
            bad.append(f"blended AUC {op['blend_score']} < {SOLUTION_MIN_AUC}")
        failed += bool(bad)
        problems += [f"build {op['op']}: {b}" for b in bad]
    return len(ops), failed, problems


# -------------------------------------------------------------- metrics

def calls_of(records, op):
    """The public-call spans of an operation: each query, or each
    Solution call."""
    return [r for r in records if r["type"] in ("query", "span") and r["op"] == op]


def end_to_end(records, detail):
    setup = next(r for r in records if r["type"] == "setup")
    ops = [r for r in records if r["type"] == "op" and r["op"] >= 0]
    p50s, tails = [], []
    for op in ops:
        walls = [c["wall_s"] for c in calls_of(records, op["op"])]
        p50s.append(metrics.median(walls))
        p, v, n = metrics.tail_percentile(walls)
        tails.append(v)
        detail["query_tail"] = {"percentile": p, "n": n}
    detail["ops"] = len(ops)
    detail["query_p50_s"] = metrics.median(p50s)
    detail["query_tail_s"] = metrics.median(tails)
    return {
        "setup_s": setup["session_s"] + metrics.median(setup["inputs_s"]) + setup["warmup_s"],
        "run_s": metrics.median([o["wall_s"] for o in ops]),
        "cpu_s": metrics.median([o["cpu_s"] for o in ops]),
        "live_heap_mb": metrics.median([o["heap_mb"] for o in ops]),
    }


def per_layer(records, workload, registry):
    jobs = metrics.traced_jobs(records)
    default = "pipeline" if workload == "solution" else "queries"
    traced = [r for r in records if r["type"] == "op"]
    rows = []
    for op in traced:
        m = metrics.layer_metrics(op, calls_of(records, op["op"]), jobs, default,
                                  registry["groups"])
        # the resume call is extra work of the traced form of `solution`
        m["trace.run_s"] = op["wall_s"] - m["pipeline.resume_s"]
        rows.append(m)
    return {k: metrics.median([r[k] for r in rows]) for k in rows[0]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["solution", "registry_heavy"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    registry = load_registry()
    classpath = build()
    work = os.path.join(BUILD_DIR, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        records = run_harness(classpath, args.workload, args.seed, args.seconds,
                              args.trace, work, registry, DEADLINE_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    posture = next(r for r in records if r["type"] == "posture")
    if args.workload == "solution":
        attempted, failed, problems = check_solution(records, args.seed, posture["cpus"])
    else:
        attempted, failed, problems = check_registry(records, registry, posture["cpus"])
    ops = [r for r in records if r["type"] == "op" and r["op"] >= 0]
    detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "nproc": posture["nproc"], "cpus": posture["cpus"],
              "loadavg_at_launch": posture["loadavg"],
              "cpu_wall_ratio": [round(o["cpu_s"] / o["wall_s"], 3) for o in ops],
              "failed_frac": failed / max(1, attempted), "problems": problems[:20]}
    if args.workload == "solution":
        detail["oof_digest"] = [o["oof_digest"] for o in ops]
        detail["blend_auc"] = [o["blend_score"] for o in ops]
    setup = next(r for r in records if r["type"] == "setup")
    detail["setup"] = {k: setup[k] for k in ("session_s", "inputs_s", "warmup_s")}
    if args.trace:
        values = per_layer(records, args.workload, registry)
        units = per_layer_units(registry["groups"])
    else:
        values = end_to_end(records, detail)
        units = END_TO_END
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps({
        "correct": not problems, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units}}))


if __name__ == "__main__":
    main()
