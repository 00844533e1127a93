#!/usr/bin/env python3
"""Repository benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload sql_sf001 --seed 1 --seconds 5 --trace 0

Run from the root of a checkout.  The first run builds the harness
(``perfbench/harness``, an sbt build over the checkout's sources) into
``$CARGO_TARGET_DIR`` (default ``.bench_build``); later runs reuse the
build while the sources are unchanged.  Inputs are generated from
``--seed`` (see ``gen.py``) and cached by (seed, size).

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run.  Outputs are checked after the timed passes; a
wrong answer prints ``"correct": false`` and exits 1.  See README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import checks  # noqa: E402

# Each workload's inputs: (kind, size), the size being TPC-H scale in
# thousandths of a scale factor or corpus documents. What runs on them
# is defined in the harness (perfbench.Main.workloads).
WORKLOADS = {"sql_sf001": ("tpch", 10), "corpus_ingest": ("corpus", 4000)}
CORPUS_PARTS = 3  # part files, which the ingest replays one per trigger
DEADLINE_S = 170.0  # the whole run, build excluded
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of everything the build reads from the checkout."""
    h = hashlib.sha256()
    harness = os.path.join(HERE, "harness")
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), os.path.join(harness, "build.sbt"),
             os.path.join(harness, "project"), os.path.join(harness, "src", "main")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, ds, fs in os.walk(r)
            for f in fs if "target" not in os.path.relpath(d, r).split(os.sep))
        for p in paths:
            if p.endswith((".scala", ".sbt", ".properties")):
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def build(build_dir, digest):
    """Compiles the harness and the checkout's sources; returns the
    runtime classpath."""
    cp_file = os.path.join(build_dir, f"classpath-{digest}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        env["SBT_OPTS"] = "-Dsbt.offline=true -Xmx3g" + (
            f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
            if os.path.exists(repos) else "")
    log = os.path.join(build_dir, "build.log")
    with open(log, "w") as out:
        try:
            code = subprocess.run(
                ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=os.path.join(HERE, "harness"), env=env, stdout=out,
                stderr=subprocess.STDOUT, timeout=840).returncode
        except subprocess.TimeoutExpired:
            code = -1
    with open(log) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    cp = lines[-1] if lines else ""
    if code != 0 or not cp or cp.startswith("["):
        fail(f"build failed (see {log})")
    with open(cp_file, "w") as f:
        f.write(cp)
    return cp


def meminfo_kb():
    try:
        with open("/proc/meminfo") as f:
            for ln in f:
                if ln.startswith("MemTotal:"):
                    return int(ln.split()[1])
    except OSError:
        pass
    return 0


def cpu_ticks():
    """The host's aggregate CPU tick counters (user ... steal) from
    /proc/stat, or None where there is none."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def steal_share(before, after):
    """Share of CPU time the hypervisor gave to other guests between two
    readings: a run with a large share ran on a contended host."""
    if not before or not after:
        return None
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) > 0 else None


def commit():
    """HEAD of the checkout when it is a git repository itself."""
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(cp, conf, work, timeout):
    heap_gb = max(2, min(4, meminfo_kb() // (4 * 1024 * 1024)))
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cmd = ["java", f"-Xmx{heap_gb}g",
           *[a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={work}/spark-local", f"-Djava.io.tmpdir={work}/tmp",
           "-cp", cp, "perfbench.Main"]
    for k, v in conf.items():
        cmd += [f"--{k}", str(v)]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        env = dict(os.environ, SPARK_LOCAL_DIRS=f"{work}/spark-local")
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"timed out after {timeout:.0f} s (see {work}/jvm.log)")
    if code != 0:
        fail(f"harness exited {code} (see {work}/jvm.log)")
    with open(conf["out"]) as f:
        return json.load(f)


def metrics(rec, trace):
    """(metrics, sample info) of one record: end-to-end from its
    untraced passes, or per-layer from its traced ones."""
    passes = rec["passes"]
    measured = [p for p in passes if p["kind"] == "measured"]
    setup = rec["setup"]
    # the unit of warm latency: an ingest micro-batch where the
    # workload ingests, else one query run
    samples = [b["triggerMs"] / 1e3 for p in measured for b in p["batches"]] or \
        [o["wall_s"] for p in measured for o in p["ops"]]
    # the median over a mix of queries jumps between neighbouring
    # queries' latencies, so it is reported here and the geometric mean
    # is the bounded metric; too few samples for a tail percentile
    # (README)
    info = {"passes": len(measured), "warm_samples": len(samples),
            "warm_p50_s": statistics.median(samples)}
    if not trace:
        return {
            "setup_s": (statistics.median(s["session_s"] + s["preload_s"] for s in setup), "s"),
            "cold_s": (passes[0]["wall_s"], "s"),
            "warm_geomean_s": (statistics.geometric_mean(samples), "s"),
            "pass_s": (statistics.median(p["wall_s"] for p in measured), "s"),
            "cached_mb": (rec["cached_mb_peak"], "MB"),
        }, info
    traced = [p for p in passes if p["kind"] == "traced"]

    def med(f):
        return statistics.median(f(p) for p in traced)

    out = {
        "session.build_s": (statistics.median(s["session_s"] for s in setup), "s"),
        "tables.preload_s": (statistics.median(s["preload_s"] for s in setup), "s"),
        "tables.cached_mb": (statistics.median(s["cached_mb"] for s in setup), "MB"),
        "operators.build_s": (med(lambda p: sum(o["build_s"] for o in p["ops"])), "s"),
        "caches.registered": (med(lambda p: sum(o["registered"] for o in p["ops"])), "count"),
        "caches.release_s": (med(lambda p: sum(o["release_s"] for o in p["ops"])), "s"),
        "caches.leaked_rdds": (med(lambda p: max(o["leaked_rdds"] for o in p["ops"])), "count"),
        "ingest.admitted_ratio": (med(lambda p: p["counts"].get("ledger_rows", 0) /
                                      max(1, p["counts"].get("input_rows", 0))), "ratio"),
        "trace.overhead": (med(lambda p: p["wall_s"]) /
                           statistics.median(p["wall_s"] for p in measured), "ratio"),
    }
    for key in traced[0]["layers"]:
        unit = ("s" if key.endswith("_s") else "MB" if key.endswith("_mb") else
                "count" if key.split(".")[1] in ("jobs", "stages", "tasks", "build_jobs")
                else "ratio")
        out[key] = (med(lambda p: p["layers"][key]), unit)
    return out, info


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"{ROOT} is not a checkout of the repository (no build.sbt / src/main/scala/graft)")
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build",
                             "perfbench")
    os.makedirs(build_dir, exist_ok=True)
    digest = source_digest()
    cp = build(build_dir, digest)
    started = time.time()  # the first run's build has its own budget

    kind, size = WORKLOADS[a.workload]
    data, facts = gen.ensure(os.path.join(build_dir, "inputs"), kind, a.seed, size,
                             CORPUS_PARTS if kind == "corpus" else None)
    work = os.path.join(build_dir, "runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cores = len(os.sched_getaffinity(0))
    conf = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "data": data, "work": work, "out": os.path.join(work, "record.json"),
            "cores": cores}
    ticks = cpu_ticks()
    rec = run_jvm(cp, conf, work, DEADLINE_S - (time.time() - started))
    steal = steal_share(ticks, cpu_ticks())

    problems = checks.run(rec, data, facts)
    ops = [o for p in rec["passes"] for o in p["ops"]]
    failed = sum(1 for o in ops if o["error"])
    problems += [f"{o['op']}: {o['error']}" for o in ops if o["error"]][:5]
    values, info = metrics(rec, a.trace == 1)
    provenance = dict(rec["provenance"], nproc=cores, mem_total_kb=meminfo_kb(),
                      commit=commit(), source_digest=digest, workload=a.workload,
                      seed=a.seed, seconds=a.seconds, trace=a.trace, cpu_steal=steal,
                      inputs={k: v for k, v in facts.items() if k != "contaminated"}, **info)
    result = {"correct": not problems, "attempted": len(ops), "failed": failed,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()}}
    with open(os.path.join(build_dir, f"result-{a.workload}-s{a.seed}-t{a.trace}.json"), "w") as f:
        json.dump({"provenance": provenance, "problems": problems, "result": result,
                   "record": rec}, f)
    shutil.rmtree(work, ignore_errors=True)
    for p in problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    print(json.dumps({"provenance": provenance}))
    print(json.dumps(result))
    sys.exit(0 if not problems else 1)


if __name__ == "__main__":
    main()
