"""Per-layer numbers from a traced run: the span tree, its self-time table
and the per_layer metrics of BENCHMARK.json.

Span tree, built from what the JVM recorded:
    unit (a query, or a stream batch)
      registry.build       time in the query's DataFrame construction
        job                jobs started while building (eager gates)
      catalyst.<phase>     QueryPlanningTracker phases of each action
      job                  jobs of the action
        stage
      stream.<part>        a batch's StreamingQueryProgress durations
        job, catalyst.<phase>
"""
import statistics

import stats
import workloads

MB_KEYS = ["input_mb", "shuffle_read_mb", "shuffle_write_mb", "spill_mb"]
PHASES = ["analysis", "optimization", "planning"]
STREAM_PARTS = {"addBatch": "add_batch_ms", "queryPlanning": "query_planning_ms",
                "getBatch": "get_batch_ms", "walCommit": "wal_commit_ms",
                "commitOffsets": "commit_offsets_ms"}
TRIGGER_ORDER = ["latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
                 "commitOffsets"]


def _inside(t, unit):
    return unit["start"] <= t <= unit["end"]


def spans(units, trace):
    """Flatten one traced pass into spans with parent links. A stream
    batch unit carries the progress of its queries under ``progress``; each
    trigger's parts are laid out from its start in the order
    MicroBatchExecution runs them. A job or Catalyst phase hangs under the
    innermost span that contains its start."""
    out = []

    def add(name, start, end, parent):
        out.append({"id": len(out), "name": name, "start": start,
                    "end": max(start, end), "parent": parent})
        return len(out) - 1

    holders = []  # spans that can own jobs and phases
    for u in units:
        uid = add(u["kind"], u["start"], u["end"], None)
        holders.append(uid)
        if "built" in u:
            holders.append(add("registry.build", u["start"], u["built"], uid))
        for p in u.get("progress", []):
            t = p["start"]
            for part in TRIGGER_ORDER:
                ms = p["duration_ms"].get(part, 0)
                if ms:
                    holders.append(add("stream." + part, t, t + ms / 1e3, uid))
                    t += ms / 1e3

    def owner(t):
        inside = [out[h] for h in holders if out[h]["start"] <= t <= out[h]["end"]]
        return min(inside, key=lambda s: s["end"] - s["start"])["id"] if inside else None

    for p in trace["phases"]:
        parent = owner(p["start"])
        if parent is not None:
            add("catalyst." + p["name"], p["start"], p["end"], parent)
    job_ids = {}
    for j in trace["jobs"]:
        parent = owner(j["start"])
        if parent is not None:
            job_ids[j["id"]] = add("job", j["start"], j["end"], parent)
    for s in trace["stages"]:
        if s["job"] in job_ids and s["end"] > 0:
            add("stage", s["start"], s["end"], job_ids[s["job"]])
    return out


def _unit_breakdown(units, trace):
    """Per unit: wall, build, union of its jobs and the driver gap, the
    wall not covered by building or by any job."""
    rows = []
    for u in units:
        built = u.get("built", u["start"])
        jobs = stats.clip([(j["start"], j["end"]) for j in trace["jobs"]],
                          u["start"], u["end"])
        covered = stats.union_length(jobs + [(u["start"], built)])
        rows.append({"wall": u["end"] - u["start"], "build": built - u["start"],
                     "job_union": stats.union_length(jobs),
                     "gap": (u["end"] - u["start"]) - covered,
                     "jobs": len(jobs),
                     "build_jobs": sum(1 for j in trace["jobs"]
                                       if u["start"] <= j["start"] <= built)})
    return rows


def metrics(raw, units, family_of, cores, untraced_wall):
    """The per_layer metrics of one traced run, as ``{name: (value, unit)}``."""
    trace = raw["trace"]
    m = {}
    in_units = [s for s in trace["stages"]
                if any(_inside(s["start"], u) for u in units)]
    phases = [p for p in trace["phases"] if any(_inside(p["start"], u) for u in units)]
    for ph in PHASES:
        m["catalyst.%s_s" % ph] = (sum(p["end"] - p["start"] for p in phases
                                       if p["name"] == ph), "s")
    rows = _unit_breakdown(units, trace)
    wall = sum(r["wall"] for r in rows)
    job_wall = sum(r["job_union"] for r in rows)
    m["registry.build_s"] = (sum(r["build"] for r in rows), "s")
    m["registry.build_jobs"] = (sum(r["build_jobs"] for r in rows), "count")
    m["exec.jobs"] = (sum(r["jobs"] for r in rows), "count")
    m["exec.stages"] = (len(in_units), "count")
    m["exec.tasks"] = (sum(s["tasks"] for s in in_units), "count")
    m["exec.job_wall_s"] = (job_wall, "s")
    m["exec.driver_gap_s"] = (sum(r["gap"] for r in rows), "s")
    task_s = sum(s["task_s"] for s in in_units)
    m["exec.task_s"] = (task_s, "s")
    m["exec.core_util"] = (task_s / (job_wall * cores) if job_wall else 0.0, "ratio")
    for k in MB_KEYS:
        m["exec." + k] = (sum(s[k] for s in in_units), "MB")
    m["exec.gc_s"] = (sum(s["gc_s"] for s in in_units), "s")
    m["exec.tasks_failed"] = (trace["tasks_failed"], "count")
    m["storage.peak_cached_mb"] = (trace["peak_cached_mb"], "MB")
    m["storage.blocks_put"] = (trace["blocks_put"], "count")
    m["storage.leftover_mb"] = (max([u.get("leftover_mb", 0.0) for u in units] or [0.0]),
                                "MB")
    fam = {f: [0.0, 0] for f in workloads.FAMILIES + ["asof"]}
    for u, r in zip(units, rows):
        f = family_of.get(u.get("name"))
        if f:
            fam[f][0] += r["wall"]
            fam[f][1] += r["jobs"]
    for f in workloads.FAMILIES:
        m["ops.%s.wall_s" % f] = (fam[f][0], "s")
        m["ops.%s.jobs" % f] = (fam[f][1], "count")
    m["plans.asof_s"] = (fam["asof"][0], "s")
    for name, k in sorted(raw["kernels"].items()):
        m["kernel.%s.rows_per_s" % name] = (k["rows"] / k["seconds"], "1/s")
    m["sources.scan_s"] = (sum(raw["sources"].values()), "s")
    m.update(_stream_metrics(units))
    m["jvm.peak_rss_mb"] = (raw["peak_rss_mb"], "MB")
    m["calib.job_overhead_ms"] = (raw["calib"]["job_overhead_ms"], "ms")
    m["calib.cpu_ms"] = (raw["calib"]["cpu_ms"], "ms")
    m["trace.overhead_s"] = (wall - untraced_wall, "s")
    return m, rows


def attach_progress(batches, progress):
    """Give each stream batch the progress its queries reported for it: the
    i-th progress with input rows of a query belongs to the i-th batch."""
    per_query = {}
    for p in sorted(progress, key=lambda p: p["batch"]):
        per_query.setdefault(p["query"], []).append(p)
    return [dict(b, progress=[ps[i] for ps in per_query.values() if i < len(ps)])
            for i, b in enumerate(batches)]


def _stream_metrics(units):
    """Medians over batches of the summed progress parts of the five
    streaming queries; state totals from each query's last batch. A batch
    workload has no progress and reports zeros."""
    m = {}
    with_progress = [u for u in units if u.get("progress")]
    for part, key in list(STREAM_PARTS.items()) + [(None, "state_commit_ms")]:
        vals = [sum(p["state_commit_ms"] if part is None else p["duration_ms"].get(part, 0)
                    for p in u["progress"]) for u in with_progress]
        m["stream." + key] = (statistics.median(vals) if vals else 0.0, "ms")
    last = with_progress[-1]["progress"] if with_progress else []
    m["stream.state_rows"] = (sum(p["state_rows"] for p in last), "count")
    m["stream.state_mb"] = (sum(p["state_mb"] for p in last), "MB")
    m["stream.rows_dropped_late"] = (sum(p["dropped_late"] for u in with_progress
                                         for p in u["progress"]), "count")
    return m
