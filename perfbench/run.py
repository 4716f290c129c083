#!/usr/bin/env python3
"""Benchmark for the peptide pipeline engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (see perfbench/README.md): ``batch_queries``, ``epipe_cranker``,
``stream_ladder``. The run starts one Spark session on ``local[nproc]``
through ``session.get_spark``, builds the seeded inputs, warms up, then runs
``round(--seconds / nominal pass time)`` timed passes of operations, so a run
measures about ``--seconds`` on a 4-core box and always does the same work.
Every operation's output goes through a correctness gate.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` turns on Spark's
event log (from outside, through PYSPARK_SUBMIT_ARGS) and the CRANKER
stand-ins' stage timing, reports the per-layer metrics, and writes a span
report to ``.perfbench/reports/``. The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``.

Everything the run writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
PKG = "apache_hadoop_framework_for_peptide_identification_spark"
ENTRY_MODULES = ("session", "queries", "plans.spec", "streaming.windows")


# ----------------------------------------------------------------- processes


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, rss pages) for every visible process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                fields = f.read().rsplit(b")", 1)[1].split()
        except OSError:
            continue
        out[int(d)] = (int(fields[1]), int(fields[21]))
    return out


def descendants(root: int, table: dict[int, tuple[int, int]] | None = None) -> set[int]:
    table = table if table is not None else _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    found, todo = set(), [root]
    while todo:
        for k in kids.get(todo.pop(), ()):
            if k not in found:
                found.add(k)
                todo.append(k)
    return found


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants (the
    JVM, Python workers and external stages), sampled from /proc."""

    def __init__(self, interval: float = 0.25) -> None:
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self.stop_event = threading.Event()
        self.page = os.sysconf("SC_PAGE_SIZE")

    def sample(self) -> None:
        table = _proc_table()
        me = os.getpid()
        pids = descendants(me, table) | {me}
        rss = sum(table[p][1] for p in pids if p in table) * self.page
        self.peak = max(self.peak, rss)

    def run(self) -> None:
        while not self.stop_event.wait(self.interval):
            self.sample()

    def stop(self) -> float:
        self.stop_event.set()
        self.join(10)
        self.sample()
        return self.peak / 2**20


# ---------------------------------------------------------------------- setup


def _import_entry_points():
    import importlib

    t0 = time.perf_counter()
    for m in ENTRY_MODULES:
        importlib.import_module(f"{PKG}.{m}")
    return time.perf_counter() - t0


def _first_job(spark) -> float:
    t0 = time.perf_counter()
    spark.range(1000).selectExpr("sum(id)").collect()
    return time.perf_counter() - t0


def setup(cpus: int):
    """Cold start: import the entry points, launch the JVM through
    ``get_spark`` and run a first trivial job. ``setup_s`` is their sum."""
    import_s = _import_entry_points()
    session = sys.modules[f"{PKG}.session"]
    t0 = time.perf_counter()
    spark = session.get_spark(app_name="perfbench", cpus=cpus)
    get_spark_s = time.perf_counter() - t0
    first_job_s = _first_job(spark)
    info = {
        "session.import_s": import_s,
        "session.get_spark_s": get_spark_s,
        "session.first_job_s": first_job_s,
    }
    return spark, import_s + get_spark_s + first_job_s, info


def shutdown(spark) -> None:
    """Stop Spark and the JVM, then wait for every process this run
    started to end (killing any left after a grace period)."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(10)
    deadline = time.time() + 20
    while True:
        alive = {p for p in procs if os.path.exists(f"/proc/{p}")}
        if not alive:
            return
        if time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 5
        time.sleep(0.1)


# -------------------------------------------------------------------- metrics


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def tail(values: list[float]) -> tuple[float, float] | None:
    """The highest percentile with at least ten samples beyond it."""
    n = len(values)
    if n < 20:
        return None
    pct = math.floor(100 * (n - 10) / n)
    return pct, sorted(values)[math.ceil(pct / 100 * n) - 1]


def pass_times(ops, passes) -> list[float]:
    """Timed wall of each pass: its operations back to back, or for a
    streaming pass the drain's wall time."""
    out = []
    for p in range(len(passes)):
        mine = [o for o in ops if o.extra.get("pass") == p]
        walls = {o.extra["pass_wall"] for o in mine if "pass_wall" in o.extra}
        out.append(walls.pop() if walls else sum(o.seconds for o in mine))
    return out


def end_to_end(workload: str, ops, passes, setup_s: float) -> dict:
    times = [o.seconds for o in ops]
    if workload == "batch_queries":
        per_query: dict[str, list[float]] = {}
        for o in ops:
            per_query.setdefault(o.name, []).append(o.seconds)
        geo = geomean([statistics.median(v) for v in per_query.values()])
    else:
        geo = geomean(times)
    walls = pass_times(ops, passes)
    return {
        "setup_s": (setup_s, "s"),
        "run_s": (statistics.median(walls), "s"),
        "op_geomean_s": (geo, "s"),
        "rows_per_s": (sum(o.rows for o in ops) / sum(walls), "1/s"),
    }


# ----------------------------------------------------------------------- main


def _spark_env(trace: bool, run_id: str) -> dict[str, str]:
    """Environment for the JVM and its workers: temporary and Spark local
    directories inside the checkout, and the event log when tracing."""
    tmp = os.path.join(WORK, "tmp", run_id)
    os.makedirs(tmp, exist_ok=True)
    confs = [f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}"]
    if trace:
        logdir = os.path.join(WORK, "eventlog", run_id)
        os.makedirs(logdir, exist_ok=True)
        confs += [
            "spark.eventLog.enabled=true",
            "spark.eventLog.compress=false",
            f"spark.eventLog.dir=file://{logdir}",
        ]
    args = " ".join(f"--conf {shlex.quote(c)}" for c in confs)
    return {
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        "PYSPARK_SUBMIT_ARGS": f"{args} pyspark-shell",
    }


def run(args) -> dict:
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        raise SystemExit(f"program package {PKG!r} not found next to perfbench/")
    sys.path.insert(0, ROOT)
    sys.path.insert(1, HERE)
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    os.environ.update(_spark_env(bool(args.trace), run_id))
    cpus = os.cpu_count() or 1
    if hasattr(os, "sched_getaffinity"):
        cpus = len(os.sched_getaffinity(0))

    t_begin = time.time()
    rss = RssSampler()
    rss.start()
    spark, setup_s, setup_info = setup(cpus)
    import workloads

    wl_class = workloads.WORKLOADS[args.workload]
    n_passes = max(1, round(args.seconds / wl_class.PASS_S))
    wl = wl_class(spark, WORK, args.seed, args.tiny, bool(args.trace), n_passes)
    phases = {"setup": time.time() - t_begin}
    try:
        t0 = time.time()
        wl.prepare()
        phases["prepare"] = time.time() - t0
        t0 = time.time()
        warm = wl.warm_up()
        phases["warm_up"] = time.time() - t0
        for o in warm:
            o.extra["pass"] = -1
        ops, passes = [], []
        began = time.time()
        for _ in range(n_passes):
            p0 = time.time()
            mine = wl.run_pass(len(passes))
            for o in mine:
                o.extra["pass"] = len(passes)
            passes.append((p0, time.time()))
            ops += mine
        phases["timed"] = time.time() - began
        app_id = spark.sparkContext.applicationId
    finally:
        t0 = time.time()
        shutdown(spark)
        phases["shutdown"] = time.time() - t0
    setup_info["session.peak_rss_mb"] = rss.stop()

    print("phases: " + ", ".join(f"{k} {v:.1f}s" for k, v in phases.items()), file=sys.stderr)
    attempted = len(warm) + len(ops)
    failures = [o for o in warm + ops if not o.ok]
    for o in failures:
        print(f"GATE FAILED {o.name}: {o.extra.get('why')}", file=sys.stderr)
    e2e = end_to_end(args.workload, ops, passes, setup_s)
    for name, (value, unit) in e2e.items():
        print(f"{args.workload} {name} {value:.6g} {unit}")
    print(f"{args.workload} peak_rss_mb {setup_info['session.peak_rss_mb']:.6g} MB (process tree)")
    t = tail([o.seconds for o in ops])
    print(f"{args.workload} op_p50_s {statistics.median(o.seconds for o in ops):.6g} s")
    print(f"{args.workload} op_tail_s {'p%d %.6g s' % t if t else 'n/a (fewer than 20 operations)'}")
    print(f"{args.workload} pass walls " + ", ".join(f"{w:.3f}" for w in pass_times(ops, passes)) + " s")
    print(f"{args.workload} error_rate {len(failures) / attempted:.6g} ({len(failures)}/{attempted}); "
          f"{len(ops)} timed operations in {len(passes)} passes")

    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    key = f"{args.workload}-seed{args.seed}{'-tiny' if args.tiny else ''}"
    with open(os.path.join(results, f"{key}-trace{args.trace}-ops.json"), "w") as f:
        json.dump([{"name": o.name, "pass": o.extra["pass"], "s": o.seconds, "ok": o.ok}
                   for o in warm + ops], f)
    if args.trace:
        import spans

        metrics = spans.analyze(
            workload=args.workload, ops=ops, pass_walls=pass_times(ops, passes), cpus=cpus, setup=setup_info,
            run_s=e2e["run_s"][0], eventlog=(os.path.join(WORK, "eventlog", run_id), app_id),
            stage_log=getattr(wl, "stage_log", None), results=results, key=key,
            reports=os.path.join(WORK, "reports"),
        )
    else:
        metrics = e2e
        with open(os.path.join(results, key + ".json"), "w") as f:
            json.dump({k: v[0] for k, v in e2e.items()}, f)
    for scratch in (("tmp", run_id), ("eventlog", run_id), ("out",)):
        shutil.rmtree(os.path.join(WORK, *scratch), ignore_errors=True)
    return {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["batch_queries", "epipe_cranker", "stream_ladder"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-test sizes (sf0.001, small corpora)")
    args = ap.parse_args(argv)
    try:
        result = run(args)
    except Exception:
        traceback.print_exc()
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
