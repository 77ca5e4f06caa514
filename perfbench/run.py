#!/usr/bin/env python3
"""The repository's benchmark: one command that builds the engine from
source, runs one workload in one JVM, checks every output and prints the
metrics of BENCHMARK.json.

    python3 perfbench/run.py --workload board-sf0.01 --seed 1 --seconds 15 --trace 0

Run it from the repository root. Workloads are described in workloads.py.
With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics of a separate traced
pass, and the self-time table is printed above it. Everything the
benchmark builds or writes goes under ``.bench_build/`` in the root.

The last stdout line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. The exit code is 0 only when
every output checked out.
"""
import argparse
import hashlib
import json
import os
import random
import resource
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import cdcgen  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

WORKLOADS = ["board-sf0.01", "cdc-stream"]
BOARD_DATA = os.path.join("perfbench", "data", "sf0.01")
BUILD_DIR = ".bench_build"
HEAP = "4g"
RUN_TIMEOUT_S = 170
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
SOURCES = ["build.sbt", "project/build.properties", "src/main",
           "perfbench/build.sbt", "perfbench/project/build.properties",
           "perfbench/src/main"]


def die(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def log(msg):
    print("perfbench: " + msg, file=sys.stderr, flush=True)


def cpus():
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    for top in SOURCES:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(("%s %d %d\n" % (p, st.st_size, st.st_mtime_ns)).encode())
    return h.hexdigest()


def build():
    """Compile the engine and the harness with sbt, once per source state;
    return the runtime classpath."""
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved_stamp, cp = f.read().split("\n", 1)
        cp = cp.strip()
        if saved_stamp == stamp and all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    log("building with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    with open(os.path.join(BUILD_DIR, "sbt.log"), "w") as logf:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd="perfbench", env=env, stdout=subprocess.PIPE, stderr=logf,
            stdin=subprocess.DEVNULL, text=True, timeout=800)
        logf.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines()
             if "scala-2.13" in l and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        die("build failed, see %s/sbt.log" % BUILD_DIR)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp)
    return cp


def run_jvm(cp, work, jargs):
    """Run perfbench.Main once with ``jargs`` and return what it wrote. A
    JVM still running after RUN_TIMEOUT_S is killed and waited for."""
    args_path = os.path.join(work, "args.json")
    with open(args_path, "w") as f:
        json.dump(jargs, f)
    result_path = os.path.join(work, "result.json")
    logpath = os.path.join(work, "jvm.log")
    opens = [a for p in JDK_OPENS for a in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]
    cmd = (["java"] + opens +
           ["-Xmx" + HEAP, "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main", args_path, result_path])
    with open(logpath, "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die("the JVM timed out, see %s" % logpath, 3)
    if code != 0 or not os.path.exists(result_path):
        die("the JVM exited with %d, see %s" % (code, logpath), 3)
    with open(result_path) as f:
        raw = json.load(f)
    if not raw.get("checks_done"):
        die("the run did not finish, see %s" % logpath, 3)
    return raw


# ----------------------------------------------------------------- main

def parse():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args()


def main():
    a = parse()
    if not (os.path.isfile("build.sbt") and
            os.path.isfile(os.path.join("src", "main", "scala", "graft", "SparkEntry.scala"))):
        die("run this from the repository root: the engine's sources are missing")
    os.makedirs(BUILD_DIR, exist_ok=True)
    cp = build()

    tag = "%s-s%d-t%d" % (a.workload, a.seed, a.trace)
    work = os.path.join(BUILD_DIR, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    work = os.path.abspath(work)
    rng = random.Random(a.seed)
    jargs = {"trace": a.trace, "cpus": cpus(), "work_dir": work,
             "data_dir": os.path.abspath(BOARD_DATA)}
    if a.workload == "board-sf0.01":
        family_of = workloads.BOARD
        names = sorted(family_of)
        rng.shuffle(names)
        # a traced run brackets its traced pass with one untraced pass each side
        passes = 1 if a.trace else workloads.board_passes(a.seconds)
        jargs.update(mode="queries", passes=passes, queries=",".join(names),
                     verify_dump=os.path.join(work, "verify"))
    else:
        family_of = {}
        timed = workloads.cdc_timed_batches(a.seconds)
        batches = cdc_batch_count(timed, a.trace)
        cdc_file = os.path.join(work, "cdc.jsonl")
        cdcgen.write(cdc_file, a.seed, batches)
        jargs.update(mode="stream", cdc_file=cdc_file, batches=batches,
                     warmup_batches=workloads.CDC_WARMUP_BATCHES, timed_batches=timed)
    before = host_cpu()
    raw = run_jvm(cp, work, jargs)
    contention = host_contention(before, host_cpu())

    units = units_of(raw)
    failures = [u for u in units if u.get("error")]
    for u in failures:
        log("FAIL %s: %s" % (u.get("name", "batch"), u["error"]))
    n_checks, mismatches = check(a, raw, names if family_of else None, work)
    for m in mismatches:
        log("MISMATCH " + m)
    failed = len(failures) + len(mismatches)

    host = {"nproc": cpus(), "mem_total_kb": mem_total_kb(),
            "heap_max_mb": raw["heap_max_mb"], "calib": raw["calib"],
            "commit": git_commit(), "workload": a.workload, "seed": a.seed}
    host.update(contention)
    print("host " + json.dumps(host, sort_keys=True))
    if "warmup_s" in raw:
        warm, timed = raw["warmup_s"], pass_wall(raw["passes"][0])
        print("stream start-up: the untimed warm-up (%d batches) takes %.3f s, %.0f%% of "
              "the stream's wall" % (workloads.CDC_WARMUP_BATCHES, warm,
                                     100 * warm / (warm + timed)))
    latencies = [(u["end"] - u["start"]) * 1e3 for u in units]
    tail = stats.tail(latencies)
    print("latency_ms n=%d p50=%.1f %s" % (
        len(latencies), statistics.median(latencies),
        "p%d=%.1f" % tail if tail else "(no tail percentile has 10 samples beyond it)"))
    if a.trace:
        traced = units_of(raw, traced=True)
        untraced_wall = statistics.median([pass_wall(p) for p in raw["passes"]])
        per_layer, rows = layers.metrics(raw, traced, family_of, cpus(), untraced_wall)
        print_trace(traced, raw, rows)
        metrics = per_layer
    else:
        best = best_times(raw)
        metrics = {
            "setup_s": (raw["setup_s"], "s"),
            "wall_s": (sum(best), "s"),
            "latency_p50_ms": (statistics.median(best) * 1e3, "ms"),
        }
    result = {"correct": failed == 0, "attempted": len(units) + n_checks,
              "failed": failed,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    with open(os.path.join(work, "metrics.json"), "w") as f:
        json.dump({"host": host, "result": result}, f)
    print(json.dumps(result))
    sys.exit(0 if failed == 0 else 1)


def units_of(raw, traced=False):
    """The timed units (queries or stream batches) of the untraced passes,
    or of the traced pass."""
    if not traced:
        return [u for p in raw["passes"] for u in p]
    if "progress" in raw:
        return [dict(u, kind="batch")
                for u in layers.attach_progress(raw["traced_pass"], raw["progress"])]
    return [dict(u, kind="query") for u in raw["traced_pass"]]


def pass_wall(units):
    return sum(u["end"] - u["start"] for u in units)


def best_times(raw):
    """Each unit's shortest time over the run's passes, as Bench takes the
    minimum of its passes: on a shared host a burst of load from elsewhere
    can slow a whole pass by half or more, and the minimum drops that pass.
    The stream runs a single pass of distinct batches; their times are
    returned as they are."""
    times = {}
    for p in raw["passes"]:
        for i, u in enumerate(p):
            times.setdefault(u.get("name", i), []).append(u["end"] - u["start"])
    return [min(t) for t in times.values()]


def check(a, raw, names, work):
    """Every output check of the workload. Returns the number of checks and
    one line per mismatch."""
    if a.workload == "board-sf0.01":
        proc = subprocess.run(
            [sys.executable, os.path.join("tools", "local_verify.py"),
             os.path.abspath(BOARD_DATA), os.path.join(work, "verify")] + names,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=120)
        passed = {l.split()[1] for l in proc.stdout.splitlines() if l.startswith("PASS ")}
        return len(names), ["oracle %s" % n for n in names if n not in passed]
    checks = raw["checks"]
    pairs = ["changelog", "ema", "dedup", "scd2", "latest_state"]
    bad = ["stream %s differs from its batch form: %s" % (n, checks[n])
           for n in pairs if not checks[n]["ok"]]
    live, survivors = cdc_truth(a.seed, cdc_batch_count(
        workloads.cdc_timed_batches(a.seconds), a.trace))
    if {int(k): v for k, v in checks["latest_values"].items()} != live:
        bad.append("latest state differs from the generator's bookkeeping")
    if checks["survivors"] != survivors:
        bad.append("exact-dedup survivors differ from the generator's originals")
    return len(pairs) + 2, bad


def cdc_batch_count(timed, trace):
    """Batches a cdc-stream run feeds: warm-up and timed; traced, also as
    many traced and as many untraced after them."""
    return workloads.CDC_WARMUP_BATCHES + timed * (3 if trace else 1)


def cdc_truth(seed, n_batches):
    """The latest value of every live key, and the ids of the documents
    that are not planted copies, replayed from the generated log."""
    live = {}
    survivors = []
    for b in cdcgen.generate(seed, n_batches):
        for e in b["events"]:
            if e["event_type"] == "delete":
                live.pop(e["user_id"], None)
            else:
                live[e["user_id"]] = e["value"]
        survivors += [d["doc_id"] for d in b["docs"] if not d["dup"]]
    return live, sorted(survivors)


def print_trace(units, raw, rows):
    """The self-time table of the traced pass, and the wall split."""
    table = stats.self_time_table(layers.spans(units, raw["trace"]))
    print("%-28s %7s %10s %10s" % ("span", "count", "total_s", "self_s"))
    for name, r in sorted(table.items(), key=lambda kv: -kv[1]["self"]):
        print("%-28s %7d %10.3f %10.3f" % (name, r["count"], r["total"], r["self"]))
    wall = sum(r["wall"] for r in rows)
    build, jobs, gap = (sum(r[k] for r in rows) for k in ("build", "job_union", "gap"))
    print("wall %.3f s = build %.3f + job union %.3f + driver gap %.3f "
          "- job time inside build %.3f" % (wall, build, jobs, gap, build + jobs + gap - wall))


def mem_total_kb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def host_cpu():
    """Wall time, the CPU seconds of finished child processes, and the
    machine-wide /proc/stat counters (user, nice, system, idle, iowait,
    irq, softirq, steal) in clock ticks."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    ru = resource.getrusage(resource.RUSAGE_CHILDREN)
    return time.monotonic(), ru.ru_utime + ru.ru_stime, ticks


def host_contention(before, after):
    """How many cores, on average over the run's JVM, other processes kept
    busy and the hypervisor withheld (steal). Both slow every time the run
    measures; they are context for its numbers, not part of them."""
    wall = after[0] - before[0]
    hz = os.sysconf("SC_CLK_TCK")
    d = [(b - a) / hz for a, b in zip(before[2], after[2])]
    busy = d[0] + d[1] + d[2] + d[5] + d[6]
    return {"other_cores": max(0.0, busy - (after[1] - before[1])) / wall,
            "steal_cores": d[7] / wall}


def git_commit():
    """The checkout's commit, or "unknown" outside a git work tree; git must
    not walk up into an enclosing repository."""
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(os.getcwd()))
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], stdout=subprocess.PIPE,
                              stderr=subprocess.DEVNULL, text=True, env=env,
                              timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


if __name__ == "__main__":
    main()
