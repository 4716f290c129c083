"""Traced-run analysis: Spark's event log, the CRANKER stand-ins' stage log
and the benchmark's own operation spans, turned into per-layer metrics and
a span report (operation -> job -> stage -> external stage)."""

from __future__ import annotations

import json
import os
import statistics

MB = 2**20
LEVELS = ("operation", "job", "stage", "external")
# Count metrics that must repeat exactly between two traced runs.
COUNTS = ("queries.jobs", "operators.tasks", "operators.pipe.forks", "streaming.jobs_per_batch")
QUERY_MODULES = ("relational", "llm", "graph_q")


# ------------------------------------------------------------------- parsing


def eventlog_files(logdir: str, app_id: str) -> list[str]:
    """The application's uncompressed event log: one file, or the parts of
    a rolling log in order."""
    single = os.path.join(logdir, app_id)
    if os.path.exists(single):
        return [single]
    rolling = os.path.join(logdir, f"eventlog_v2_{app_id}")
    parts = [f for f in os.listdir(rolling) if f.startswith("events_")]
    return [os.path.join(rolling, f) for f in sorted(parts, key=lambda f: int(f.split("_")[1]))]


def _lines(paths: list[str]):
    for path in paths:
        with open(path, encoding="utf-8") as f:
            yield from f


def read_eventlog(paths: list[str]) -> tuple[dict, dict, list]:
    """Jobs, stages and tasks from an uncompressed Spark event log."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    tasks: list[dict] = []
    for line in _lines(paths):
        e = json.loads(line)
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jobs[e["Job ID"]] = {
                "id": e["Job ID"], "start": e["Submission Time"] / 1000,
                "end": e["Submission Time"] / 1000,
                "group": props.get("spark.jobGroup.id"),
                "batch": props.get("streaming.sql.batchId"),
                "stage_ids": e.get("Stage IDs", []),
            }
        elif kind == "SparkListenerJobEnd":
            jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            stages[si["Stage ID"]] = {
                "id": si["Stage ID"], "name": si.get("Stage Name", ""),
                "start": si.get("Submission Time", 0) / 1000,
                "end": si.get("Completion Time", 0) / 1000,
            }
        elif kind == "SparkListenerTaskEnd":
            ti, tm = e["Task Info"], e.get("Task Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            wall = (ti["Finish Time"] - ti["Launch Time"]) / 1000
            run = tm.get("Executor Run Time", 0) / 1000
            busy = run + (tm.get("Executor Deserialize Time", 0)
                          + tm.get("Result Serialization Time", 0)) / 1000
            getting = ti.get("Getting Result Time", 0)
            if getting:
                busy += (ti["Finish Time"] - getting) / 1000
            tasks.append({
                "stage": e["Stage ID"], "start": ti["Launch Time"] / 1000,
                "end": ti["Finish Time"] / 1000, "run": run,
                "cpu": tm.get("Executor CPU Time", 0) / 1e9,
                "gc": tm.get("JVM GC Time", 0) / 1000,
                "delay": max(0.0, wall - busy),
                "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                "shuffle_wait": sr.get("Fetch Wait Time", 0) / 1000,
                "spill": tm.get("Disk Bytes Spilled", 0),
                "result": tm.get("Result Size", 0),
                "scan": (tm.get("Input Metrics") or {}).get("Bytes Read", 0),
                "out_bytes": (tm.get("Output Metrics") or {}).get("Bytes Written", 0),
                "out_rows": (tm.get("Output Metrics") or {}).get("Records Written", 0),
            })
    return jobs, stages, tasks


def read_stage_log(path: str | None) -> list[dict]:
    """One record per external stage call of the CRANKER stand-ins."""
    if not path or not os.path.exists(path):
        return []
    out = []
    with open(path, encoding="utf-8") as f:
        for line in f:
            name, t0, t1, nbytes, staged = line.split(" ", 4)
            out.append({"name": name, "start": float(t0), "end": float(t1),
                        "bytes": int(nbytes), "dir": os.path.dirname(staged.strip())})
    return out


# ------------------------------------------------------------------ intervals


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _median(values, default=0.0):
    values = list(values)
    return statistics.median(values) if values else default


# ------------------------------------------------------------------ analysis


def _attach(ops, jobs, stages, tasks, ext):
    """Link every timed operation to its jobs, stages, tasks and external
    stage calls."""
    stage_job: dict[int, int] = {}
    for j in sorted(jobs.values(), key=lambda j: j["id"]):
        for s in j["stage_ids"]:
            stage_job.setdefault(s, j["id"])
    by_stage: dict[int, list[dict]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t)
    op_of_job: dict[int, object] = {}
    for o in ops:
        batch = o.extra.get("batch")
        for j in jobs.values():
            if j["group"] == o.group and (batch is None or j["batch"] == str(batch)):
                op_of_job[j["id"]] = o
    links = {id(o): {"jobs": [], "stages": [], "tasks": [], "ext": []} for o in ops}
    for jid, o in op_of_job.items():
        links[id(o)]["jobs"].append(jobs[jid])
    for sid, st in stages.items():
        o = op_of_job.get(stage_job.get(sid))
        if o is not None:
            st["job"] = stage_job[sid]
            links[id(o)]["stages"].append(st)
            links[id(o)]["tasks"] += by_stage.get(sid, [])
    for x in ext:
        for o in ops:
            if o.start <= x["start"] <= o.end:
                links[id(o)]["ext"].append(x)
                break
    return links


def per_layer(workload, ops, pass_walls, cpus, setup, links) -> dict[str, tuple[float, str]]:
    n = len(pass_walls)
    all_jobs = [j for o in ops for j in links[id(o)]["jobs"]]
    all_stages = [s for o in ops for s in links[id(o)]["stages"]]
    all_tasks = [t for o in ops for t in links[id(o)]["tasks"]]
    ext = [x for o in ops for x in links[id(o)]["ext"]]

    def tsum(key):
        return sum(t[key] for t in all_tasks)

    m: dict[str, tuple[float, str]] = {
        "session.import_s": (setup["session.import_s"], "s"),
        "session.get_spark_s": (setup["session.get_spark_s"], "s"),
        "session.first_job_s": (setup["session.first_job_s"], "s"),
        "session.peak_rss_mb": (setup["session.peak_rss_mb"], "MB"),
    }

    # queries: the registry builders and their collect()
    is_q = workload == "batch_queries"
    gap = sum(o.seconds - covered([(j["start"], j["end"]) for j in links[id(o)]["jobs"]], o.start, o.end)
              for o in ops)
    m["queries.build_s"] = (sum(o.extra.get("build_s", 0.0) for o in ops) / n, "s")
    m["queries.collect_s"] = (sum(o.extra.get("collect_s", 0.0) for o in ops) / n, "s")
    m["queries.jobs"] = (len(all_jobs) / n if is_q else 0.0, "count")
    m["queries.driver_gap_s"] = (gap / n if is_q else 0.0, "s")
    for mod in QUERY_MODULES:
        mine = [o for o in ops if o.extra.get("module") == mod]
        m[f"queries.{mod}_s"] = (sum(o.seconds for o in mine) / n, "s")
        m[f"queries.{mod}_jobs"] = (sum(len(links[id(o)]["jobs"]) for o in mine) / n, "count")

    # operators: Spark's execution of the plans, from the event log
    task_s = tsum("run")
    m["operators.stages"] = (len(all_stages) / n, "count")
    m["operators.tasks"] = (len(all_tasks) / n, "count")
    m["operators.task_s"] = (task_s / n, "s")
    m["operators.task_cpu_s"] = (tsum("cpu") / n, "s")
    m["operators.gc_s"] = (tsum("gc") / n, "s")
    m["operators.core_busy"] = (task_s / (sum(pass_walls) * cpus), "ratio")
    m["operators.scheduler_delay_s"] = (tsum("delay") / n, "s")
    m["operators.shuffle_write_mb"] = (tsum("shuffle_write") / MB / n, "MB")
    m["operators.shuffle_read_mb"] = (tsum("shuffle_read") / MB / n, "MB")
    m["operators.shuffle_wait_s"] = (tsum("shuffle_wait") / n, "s")
    m["operators.spill_mb"] = (tsum("spill") / MB / n, "MB")
    m["operators.result_mb"] = (tsum("result") / MB / n, "MB")
    m["catalog.scan_mb"] = (tsum("scan") / MB / n, "MB")

    # operators.pipe: the external CRANKER stages, from the stand-ins' log.
    # The chain runs inside the sink's tasks: the ones that write rows.
    is_p = workload == "epipe_cranker"
    chains = [[t for t in links[id(o)]["tasks"] if t["out_rows"] > 0] for o in ops] if is_p else []
    chain = [t for c in chains for t in c]
    chain_s = sum(t["run"] for t in chain)
    ext_s = sum(x["end"] - x["start"] for x in ext)
    skews = []
    for c in chains:
        runs = [t["run"] for t in c]
        if len(runs) >= 2 and statistics.median(runs) > 0:
            skews.append(max(runs) / statistics.median(runs))
    rows_in = sum(o.rows for o in ops)
    m["operators.pipe.forks"] = (len(ext) / n, "count")
    m["operators.pipe.partitions"] = (len({x["dir"] for x in ext if x["name"] == "read"}) / n, "count")
    for stage in ("read", "solve", "write"):
        m[f"operators.pipe.stage_{stage}_s"] = (
            sum(x["end"] - x["start"] for x in ext if x["name"] == stage) / n, "s")
    m["operators.pipe.external_share"] = (ext_s / chain_s if chain_s else 0.0, "ratio")
    m["operators.pipe.engine_s"] = ((chain_s - ext_s) / n if is_p else 0.0, "s")
    m["operators.pipe.staged_mb"] = (sum(x["bytes"] for x in ext if x["name"] == "read") / MB / n, "MB")
    m["operators.pipe.rows_out_ratio"] = (
        sum(o.extra.get("rows_out", 0) for o in ops) / rows_in if is_p and rows_in else 0.0, "ratio")
    m["operators.pipe.task_skew"] = (_median(skews, 1.0) if is_p else 0.0, "ratio")

    # plans: the E-PIPE job around its tasks (planning, listing, commit)
    if is_p:
        drv = sum(o.seconds - covered([(t["start"], t["end"]) for t in links[id(o)]["tasks"]], o.start, o.end)
                  for o in ops)
    else:
        drv = 0.0
    m["plans.driver_s"] = (drv / n, "s")
    m["plans.sink_mb"] = (tsum("out_bytes") / MB / n, "MB")

    # streaming: micro-batch progress and the store it grows
    is_s = workload == "stream_ladder"
    prog = [o.extra["progress"]["durationMs"] for o in ops if "progress" in o.extra]

    def phase(*keys):
        return _median((sum(d.get(k, 0) for k in keys) / 1000 for d in prog)) if is_s else 0.0

    m["streaming.add_batch_s"] = (phase("addBatch"), "s")
    m["streaming.planning_s"] = (phase("queryPlanning", "getBatch"), "s")
    m["streaming.offsets_s"] = (phase("latestOffset", "walCommit"), "s")
    m["streaming.commit_s"] = (phase("commitOffsets"), "s")
    m["streaming.jobs_per_batch"] = (_median(len(links[id(o)]["jobs"]) for o in ops) if is_s else 0.0, "count")
    store = _median(o.extra["store_bytes"] for o in ops) if is_s else 0.0
    m["streaming.store_mb"] = (store / MB, "MB")
    m["streaming.store_files"] = (_median(o.extra["store_files"] for o in ops) if is_s else 0.0, "count")
    m["streaming.write_amp"] = (store / ops[0].extra["in_bytes"] if is_s else 0.0, "ratio")
    return m


# -------------------------------------------------------------------- report


def span_levels(ops, links) -> dict[str, dict]:
    """Count, wall and self time per span level. A span's self time is its
    duration minus the part its child spans cover."""
    acc = {lv: {"count": 0, "wall_s": 0.0, "self_s": 0.0} for lv in LEVELS}

    def add(level, lo, hi, children):
        acc[level]["count"] += 1
        acc[level]["wall_s"] += hi - lo
        acc[level]["self_s"] += (hi - lo) - covered(children, lo, hi)

    for o in ops:
        lk = links[id(o)]
        add("operation", o.start, o.end, [(j["start"], j["end"]) for j in lk["jobs"]])
        for j in lk["jobs"]:
            mine = [s for s in lk["stages"] if s.get("job") == j["id"]]
            add("job", j["start"], j["end"], [(s["start"], s["end"]) for s in mine])
        for s in lk["stages"]:
            inside = [(x["start"], x["end"]) for x in lk["ext"] if s["start"] <= x["start"] <= s["end"]]
            add("stage", s["start"], s["end"], inside)
        for x in lk["ext"]:
            add("external", x["start"], x["end"], [])
    return acc


def analyze(*, workload, ops, pass_walls, cpus, setup, run_s, eventlog, stage_log, results, key, reports):
    jobs, stages, tasks = read_eventlog(eventlog_files(*eventlog))
    ext = read_stage_log(stage_log)
    if stage_log and os.path.exists(stage_log):
        os.remove(stage_log)
    links = _attach(ops, jobs, stages, tasks, ext)
    metrics = per_layer(workload, ops, pass_walls, cpus, setup, links)
    levels = span_levels(ops, links)

    untraced = os.path.join(results, key + ".json")
    if os.path.exists(untraced):
        base = json.load(open(untraced))["run_s"]
        overhead = {"traced_run_s": run_s, "untraced_run_s": base, "overhead_s": run_s - base}
    else:
        overhead = {"traced_run_s": run_s, "note": "no untraced run of this workload and seed yet"}

    counts = {c: metrics[c][0] for c in COUNTS}
    prev_path = os.path.join(results, key + "-trace-counts.json")
    if os.path.exists(prev_path):
        prev = json.load(open(prev_path))
        repeat = {"previous": prev, "differ": [c for c in COUNTS if prev.get(c) != counts[c]]}
    else:
        repeat = {"previous": None, "differ": []}
    with open(prev_path, "w") as f:
        json.dump(counts, f)

    per_op = []
    for o in ops:
        lk = links[id(o)]
        per_op.append({
            "name": o.name, "pass": o.extra.get("pass"), "wall_s": o.seconds,
            "self_s": o.seconds - covered([(j["start"], j["end"]) for j in lk["jobs"]], o.start, o.end),
            "jobs": len(lk["jobs"]), "stages": len(lk["stages"]), "tasks": len(lk["tasks"]),
            "external": len(lk["ext"]), "ok": o.ok,
        })
    report = {"workload": workload, "key": key, "cpus": cpus, "levels": levels,
              "operations": per_op, "overhead": overhead, "count_repeat": repeat,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    os.makedirs(reports, exist_ok=True)
    base = os.path.join(reports, key)
    with open(base + ".json", "w") as f:
        json.dump(report, f, indent=1)
    with open(base + ".md", "w") as f:
        f.write(markdown(report))
    print(f"span report: {base}.md")
    return metrics


def markdown(r: dict) -> str:
    out = [f"# Traced run: {r['key']} ({r['cpus']} cores)", "",
           "| span level | count | wall s | self s |", "|---|---:|---:|---:|"]
    for lv, a in r["levels"].items():
        out.append(f"| {lv} | {a['count']} | {a['wall_s']:.3f} | {a['self_s']:.3f} |")
    ov = r["overhead"]
    out += ["", "Tracing overhead: " + (
        f"traced run_s {ov['traced_run_s']:.3f} - untraced run_s {ov['untraced_run_s']:.3f} "
        f"= {ov['overhead_s']:+.3f} s" if "overhead_s" in ov else ov["note"])]
    rep = r["count_repeat"]
    out.append("Count metrics vs the previous traced run: " + (
        "no previous traced run" if rep["previous"] is None
        else "all repeat exactly" if not rep["differ"] else "DIFFER: " + ", ".join(rep["differ"])))
    out += ["", "| operation | pass | wall s | self s | jobs | stages | tasks | external | ok |",
            "|---|---:|---:|---:|---:|---:|---:|---:|---|"]
    for o in r["operations"]:
        out.append(f"| {o['name']} | {o['pass']} | {o['wall_s']:.3f} | {o['self_s']:.3f} | {o['jobs']} | "
                   f"{o['stages']} | {o['tasks']} | {o['external']} | {o['ok']} |")
    out += ["", "| per-layer metric | value | unit |", "|---|---:|---|"]
    for k, v in r["metrics"].items():
        out.append(f"| {k} | {v['value']:.6g} | {v['unit']} |")
    return "\n".join(out) + "\n"
