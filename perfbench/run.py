#!/usr/bin/env python3
"""Benchmark of the nursing-home ETL engine: one workload per run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
                             --release-scale X

Run from the root of a checkout. The first run builds the program from
the checkout's sources with sbt (perfbench/build.sbt compiles the
repository build plus the benchmark's code under perfbench/src); later runs reuse
the build while the sources are unchanged.

One run: generate the inputs from --seed, start one JVM that runs the
workload as a closed loop on a local[cores] Spark session (the cold first
iteration, one warm-up iteration, then at least four measured ones and
for --seconds), check the outputs outside the timed region, and print one
JSON object as the last line of stdout. With --trace 0 it holds the end-to-end metrics; with
--trace 1 the per-layer metrics of a traced run. The exit code is 0 only
when every operation and every output check succeeded.

Workloads, metrics and the layer map: BENCHMARK.json and LAYERS.md.
Per-run artifacts (environment stamp, every iteration, the trace) are
written to perfbench/out/.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen_inbox  # noqa: E402

PIPELINE = {"nh_daily_merge"}
QUERIES = {"queries_iterative"}
FIXTURE = os.path.join(HERE, "fixture", "sf0.01")
BUILD_DIR = os.path.join(HERE, "target")
# a run ends within this many seconds after the build
RUN_BUDGET_S = 170
# Spark 4 on JDK 17 outside spark-submit needs these (see build.sbt)
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every build input, so a changed source triggers a build."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n"
                 .encode())
    return h.hexdigest()


def build():
    """Compile with sbt once per source state; returns the classpath."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or not os.path.isdir(
            os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("run from the root of a checkout of the repository: the "
             "program's sources (build.sbt, src/) are missing")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            saved_stamp, cp = f.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, capture_output=True, text=True, timeout=840)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    cp = lines[-1].strip() if lines else ""
    if p.returncode != 0 or not cp or cp.startswith("["):
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp + "\n")
    return cp


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_ticks():
    """(steal, total) CPU ticks so far: steal is time the hypervisor gave
    this machine's CPUs to someone else."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def other_jvms():
    """Java processes on the box that this run did not start."""
    me = os.getpid()
    n = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == me:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                argv0 = f.read().split(b"\0")[0]
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        if os.path.basename(argv0) == b"java" and ppid != me:
            n += 1
    return n


def jvm(cp, work, args, log_name, deadline):
    """Run perfbench.Main, killed at `deadline` (a perf_counter time);
    returns (wall seconds, launch epoch ms)."""
    cmd = (["java"] + [x for p in ADD_OPENS for x in
                       ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-Xmx2g", "-XX:+UseParallelGC",
              f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              "-cp", cp, "perfbench.Main"] + args)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    launched_ms = time.time() * 1000
    t = time.perf_counter()
    with open(os.path.join(work, log_name), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=log)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.perf_counter()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"JVM still running after {RUN_BUDGET_S} s (log: {log.name})")
    if rc != 0:
        with open(os.path.join(work, log_name)) as f:
            sys.stderr.write(f.read()[-3000:])
        fail(f"JVM exited with {rc}")
    return time.perf_counter() - t, launched_ms


def du(path):
    total = 0
    for d, _, fs in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in fs)
    return total


def generate(work, seed, scale, reps=3):
    """Generate the inbox `reps` times; the copies must be byte-identical.
    Returns (model, median seconds of one generation)."""
    times, digests = [], []
    for k in range(reps):
        t = time.perf_counter()
        m = gen_inbox.model(seed, scale)
        out = os.path.join(work, f"gen{k}")
        gen_inbox.write(m, out)
        times.append(time.perf_counter() - t)
        digests.append(gen_inbox.digest(out))
    if len(set(digests)) != 1:
        fail("generator is not deterministic for this seed")
    for inbox in ("inbox-day1", "inbox-day2"):
        os.replace(os.path.join(out, inbox), os.path.join(work, inbox))
    for k in range(reps):
        shutil.rmtree(os.path.join(work, f"gen{k}"))
    return m, statistics.median(times)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=sorted(PIPELINE | QUERIES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--release-scale", type=float, required=True,
                    help="inbox size in CMS releases (1.0 = 15k providers)")
    a = ap.parse_args()

    cp = build()
    deadline = time.perf_counter() + RUN_BUDGET_S
    env_start = {"cores": os.cpu_count(), "loadavg_start": loadavg(),
                 "other_jvms_start": other_jvms()}
    ticks_start = cpu_ticks()
    work = os.path.join(HERE, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result = os.path.join(work, "result.json")
    common = ["--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", work, "--fixture", FIXTURE, "--result", result]

    setup = {}
    if a.workload in PIPELINE:
        m, setup["generate_s"] = generate(work, a.seed, a.release_scale)
        # the day-1 load, in its own JVM: the state each iteration restores
        setup["prep_s"], _ = jvm(cp, work, ["--mode", "prep"] + common,
                                 "prep.log", deadline)
        inbox_bytes = du(os.path.join(work, "inbox-day2"))
    else:
        if not os.path.isdir(FIXTURE):
            fail(f"query fixture missing: {FIXTURE}")
        inbox_bytes = du(FIXTURE)
    run_s, launched_ms = jvm(cp, work, common, "run.log", deadline)
    t_checks = time.perf_counter()
    with open(result) as f:
        r = json.load(f)
    setup["jvm_ready_s"] = (r["ready_ms"] - launched_ms) / 1000

    # ---- checks, outside the timed region
    iters = r["iterations"]
    op_failures = [f for it in iters for f in it["failed"]]
    # operations: queries, or the DAG's stages and the merges
    attempted = sum(len(it["ops"]) + len(it["stages"]) for it in iters)
    if a.workload in PIPELINE:
        # the day-1 state the merges start from, then the day-2 result
        checks_run = {}
        for name, d, daily, date in (("day1", "state", False, gen_inbox.DAY1),
                                     ("day2", "iter", True, gen_inbox.DAY2)):
            try:
                res = checks.check_pipeline(os.path.join(work, d), m, daily,
                                            date)
            except Exception as e:  # a missing output fails the checks
                res = {"outputs": [f"error {e!r}"]}
            checks_run.update({f"{name}.{k}": v for k, v in res.items()})
        skipped = [it["files_skipped"] for it in iters if it["traced"]]
        want = len(gen_inbox.REDELIVERED["inbox-day2"])
        checks_run["manifest_skip"] = [
            f"ingest skipped {s} files, expected {want}"
            for s in skipped if s != want]
    else:
        names = sorted({n for it in iters for n, _ in it["ops"]})
        checks_run = checks.check_queries(
            os.path.join(work, "qresults"),
            os.path.join(work, "oracle_sql.json"), FIXTURE, names)
    if a.trace:
        # the traced composition must run the same stages, in the same
        # order, as the program's own DAG (the two stages of the parallel
        # fan-out log in completion order, so they compare as a set)
        shapes = {json.dumps([s for s, _ in it["stages"]][:4]
                             + sorted(s for s, _ in it["stages"][4:]))
                  for it in iters}
        checks_run["trace_stages"] = (
            [f"traced stages drifted from the DAG: {sorted(shapes)}"]
            if len(shapes) > 1 else [])
        cover = r["layers"]["trace.coverage"]
        checks_run["trace_coverage"] = (
            [f"top-level spans cover {cover:.3f} of an iteration"]
            if cover < 0.95 else [])
    check_errors = [e for v in checks_run.values() for e in v]
    attempted += len(checks_run)
    failed = len(op_failures) + sum(1 for v in checks_run.values() if v)
    checks_s = time.perf_counter() - t_checks

    # ---- metrics
    # iteration 0 is cold, iteration 1 warms up; the rest are measured
    warm = [it for it in iters if it["index"] >= 2 and not it["traced"]]
    if a.workload in PIPELINE:
        stored = sum(du(os.path.join(work, "iter", *z)) for z in
                     (("lake", "staging"), ("lake", "transform"),
                      ("warehouse",)))
    else:
        stored = du(os.path.join(work, "qresults"))
    if a.trace:
        metrics = dict(r["layers"])
        target, changed = (checks.merge_rows(m)
                           if a.workload in PIPELINE else (0, 0))
        metrics["merge.rows_target"] = target
        metrics["merge.rows_changed"] = changed
        metrics["merge.rewrite_per_change"] = (
            metrics.pop("merge.rows_rewritten") / changed if changed else 0.0)
    else:
        ops = {}
        for it in warm:
            for n, s in it["ops"]:
                ops.setdefault(n, []).append(s)
        metrics = {
            "setup_s": sum(setup.values()),
            "wall_s": statistics.median(it["wall"] for it in warm),
            "cold_s": iters[0]["wall"],
            "op_geomean_s": math.exp(statistics.fmean(
                math.log(statistics.median(v)) for v in ops.values())),
            "stored_bytes_per_input_byte": stored / inbox_bytes,
            "peak_rss_mb": r["peak_rss_kb"] / 1024,
        }
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {x["name"]: x["unit"] for x in spec["end_to_end"] + spec["per_layer"]}
    wanted = [x["name"] for x in spec["per_layer" if a.trace else "end_to_end"]]
    missing = [n for n in wanted if n not in metrics]
    if missing:
        fail(f"metrics not measured: {missing}")

    steal, total = (e - s for e, s in zip(cpu_ticks(), ticks_start))
    env = dict(env_start, loadavg_end=loadavg(), other_jvms_end=other_jvms(),
               steal_frac=steal / max(1, total),
               spark=r["spark_version"], jdk=r["java_version"])
    # the tripwire of graft.Bench: a run that shared the box is flagged.
    # The loadavg is only recorded: back-to-back runs leave a 1-minute
    # load of 3 to 5 on 4 cores by themselves.
    env["contaminated"] = (env["other_jvms_start"] > 0
                           or env["other_jvms_end"] > 0
                           or env["steal_frac"] > 0.05)
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    artifact = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
                "seconds": a.seconds, "release_scale": a.release_scale,
                "env": env, "setup": setup, "run_jvm_s": run_s,
                "checks_s": checks_s, "iterations": iters,
                "check_errors": check_errors, "op_failures": op_failures,
                "metrics": metrics}
    with open(os.path.join(out_dir, f"{a.workload}-s{a.seed}-t{a.trace}.json"),
              "w") as f:
        json.dump(artifact, f, indent=1)
    if a.trace:
        shutil.copy(r["trace_file"], os.path.join(
            out_dir, os.path.basename(r["trace_file"])))
    for e in (op_failures + check_errors)[:20]:
        print(f"[perfbench] FAILED {e}", file=sys.stderr)
    line = {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {n: {"value": metrics[n], "unit": units[n]}
                        for n in wanted}}
    print(json.dumps(line))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
