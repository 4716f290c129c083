"""The benchmark's three workloads.

Each workload builds its seeded inputs outside timing (``prepare``), runs
an untimed warm-up (``warm_up``), then runs timed passes of operations
(``run_pass``). One closed-loop client issues the timed operations one
after another, and every operation's output, warm-up included, goes
through a correctness gate.
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
import threading
import time
from dataclasses import dataclass, field
from datetime import datetime, timezone

import numpy as np

import gates
import gen

PKG = "apache_hadoop_framework_for_peptide_identification_spark"


@dataclass
class Op:
    """One timed operation. Times are epoch seconds, comparable with the
    Spark event log's millisecond timestamps."""

    name: str
    group: str  # Spark job group (or streaming run id) of the jobs it ran
    start: float
    end: float
    ok: bool
    rows: int
    extra: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Workload:
    name = ""
    # Nominal wall time of one timed pass on a 4-core box: a run makes
    # round(--seconds / PASS_S) passes, so its work does not depend on speed.
    PASS_S = 1.0

    def __init__(self, spark, work: str, seed: int, tiny: bool, trace: bool, passes: int) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tiny = tiny
        self.trace = trace
        self.passes = passes
        self.rng = np.random.default_rng(seed)
        self.op_ids = itertools.count(1)

    def _group(self, label: str) -> str:
        """Set a job group for the calling thread's next operation."""
        gid = f"perfbench-{next(self.op_ids):04d}-{label}"
        self.spark.sparkContext.setJobGroup(gid, label)
        return gid

    def prepare(self) -> None:
        raise NotImplementedError

    def warm_up(self) -> list[Op]:
        raise NotImplementedError

    def run_pass(self, index: int) -> list[Op]:
        raise NotImplementedError


def _prune(root: str, prefix: str, keep: tuple[str, ...]) -> None:
    """Drop cached inputs of other seeds, so the cache holds one seed."""
    if os.path.isdir(root):
        for d in os.listdir(root):
            if d.startswith(prefix) and d not in keep:
                shutil.rmtree(os.path.join(root, d), ignore_errors=True)


def _dir_size(path: str) -> tuple[int, int]:
    """Total bytes and file count under ``path``."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


# ------------------------------------------------------------ batch_queries


class BatchQueries(Workload):
    """Warm ``collect()`` of headline queries on a fixed fixture, in a fixed
    order: a seed-permuted order doubled the run-to-run spread, so the seed
    changes nothing here."""

    name = "batch_queries"
    PASS_S = 9.0
    # The ROADMAP targets of the three registry modules that take 76% of a
    # warm pass of all 33 at sf0.01 (see README.md).
    QUERIES = (
        "q106_textrank_keywords",
        "q182_sliding_substring_dedup",
        "q173_hot_key_two_path_join",
    )

    def prepare(self) -> None:
        from importlib import import_module

        reg = import_module(f"{PKG}.queries")
        sf = "sf0.001" if self.tiny else "sf0.01"
        self.sf_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture", sf)
        self.defs = {n: reg.REGISTRY.get(n) or reg.BENCH_REGISTRY[n] for n in self.QUERIES}
        self.expected = gates.oracle_hashes(self.defs, self.sf_dir, os.path.join(self.work, "oracle"))

    def _run(self, name: str) -> Op:
        qd = self.defs[name]
        gid = self._group(name)
        t0 = time.time()
        df = qd.fn(self.spark, self.sf_dir)
        t1 = time.time()
        rows = df.collect()
        t2 = time.time()
        ok, why = gates.check_query(name, df.columns, rows, self.expected[name])
        return Op(name, gid, t0, t2, ok, len(rows), {
            "build_s": t1 - t0, "collect_s": t2 - t1,
            "module": qd.fn.__module__.rsplit(".", 1)[-1], "why": why,
        })

    def warm_up(self) -> list[Op]:
        """Every query runs once, cold, before timing. The cold runs go side
        by side: they are mostly driver-side planning and JIT work, so this
        shortens the untimed part of a run."""
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(len(self.defs)) as pool:
            return list(pool.map(self._run, self.defs))

    def run_pass(self, index: int) -> list[Op]:
        return [self._run(n) for n in self.defs]


# ------------------------------------------------------------ epipe_cranker


class EpipeCranker(Workload):
    """CRANKER jobs through ``plans.spec.run_algorithm``: TSV ``in_dir`` ->
    3-stage stand-in chain per partition -> parquet sink."""

    name = "epipe_cranker"
    PASS_S = 9.0
    N_JOBS, LO, HI = 6, 10_000, 500_000
    TINY = (2, 2_000, 8_000)

    def prepare(self) -> None:
        from importlib import import_module

        self.run_algorithm = import_module(f"{PKG}.plans.spec").run_algorithm
        here = os.path.dirname(os.path.abspath(__file__))
        self.bin_dir = os.path.join(here, "cranker")
        for f in os.listdir(self.bin_dir):
            p = os.path.join(self.bin_dir, f)
            os.chmod(p, os.stat(p).st_mode | 0o111)
        n_jobs, lo, hi = self.TINY if self.tiny else (self.N_JOBS, self.LO, self.HI)
        name = f"epipe-{n_jobs}-{lo}-{hi}-seed{self.seed}"
        self.data = os.path.join(self.work, "data", name)
        _prune(os.path.join(self.work, "data"), "epipe-", keep=(name, name + "-warm"))
        self.out = os.path.join(self.work, "out")
        self.stage_log = os.path.join(self.work, "stages.log")
        self.env = {"MCR_CACHE_ROOT": os.path.join(self.work, "mcr")}
        if self.trace:
            self.env["PERFBENCH_STAGE_LOG"] = self.stage_log
        self.jobs = self._jobs(self.data, self.rng, n_jobs, lo, hi)
        warm_rng = np.random.default_rng(10_000 + self.seed)
        self.warm_jobs = self._jobs(self.data + "-warm", warm_rng, 2, lo, hi)

    # Files per job, paired with the ascending sizes: small and large jobs
    # each come as one file and as many, so the partition count varies.
    FILES = (1, 16, 2, 8, 4, 1)

    @classmethod
    def _jobs(cls, root: str, rng: np.random.Generator, n_jobs: int, lo: int, hi: int) -> list[dict]:
        """Seeded jobs, cached on disk per seed with their expected output."""
        jobs, first_id = [], 1
        for i, n in enumerate(gen.job_sizes(n_jobs, lo, hi)):
            nf = cls.FILES[i % len(cls.FILES)]
            in_dir = os.path.join(root, f"job{i:02d}-{n}rows-{nf}files")
            meta = in_dir + ".npz"
            if not os.path.exists(meta):
                shutil.rmtree(in_dir, ignore_errors=True)
                made = gen.write_peptide_job(rng, in_dir, int(n), nf, first_id)
                np.savez(meta + ".tmp.npz", ids=made["ids"], lens=made["lens"], nbytes=made["bytes"])
                os.replace(meta + ".tmp.npz", meta)
            z = np.load(meta)
            jobs.append({"in_dir": in_dir, "ids": z["ids"], "lens": z["lens"],
                         "bytes": int(z["nbytes"]), "files": nf})
            first_id += int(n)
        return jobs

    def _spec(self, job: dict, out_dir: str) -> dict:
        return {
            "env": self.env,
            "algorithms": [{
                "name": "CRANKER",
                "binary_dir": self.bin_dir,
                "executables": [
                    {"command": "run_cranker_read.sh %INPUT_FILE% %TMP_FILE_1%"},
                    {"command": "run_cranker_solve.sh %TMP_FILE_1% %TMP_FILE_2%"},
                    {"command": "run_cranker_write.sh %TMP_FILE_1% %TMP_FILE_2% %OUTPUT_FILE%"},
                ],
                "in_dir": job["in_dir"],
                "out_dir": out_dir,
                "output_schema": "peptide_id string, seq_len bigint, verdict string",
                "input_format": "csv",
                "sep": "\t",
            }],
        }

    def _run(self, label: str, job: dict) -> Op:
        out_dir = os.path.join(self.out, label)
        shutil.rmtree(out_dir, ignore_errors=True)
        spec = self._spec(job, out_dir)
        gid = self._group(label)
        t0 = time.time()
        self.run_algorithm(self.spark, spec, "CRANKER")
        t1 = time.time()
        ok, why, rows_out = gates.check_cranker(out_dir, job["ids"], job["lens"])
        shutil.rmtree(out_dir, ignore_errors=True)
        return Op(label, gid, t0, t1, ok, len(job["ids"]), {
            "rows_out": rows_out, "in_bytes": job["bytes"], "why": why,
        })

    def warm_up(self) -> list[Op]:
        """Two jobs on other rows: a small single-file one and a large
        multi-partition one."""
        return [self._run(f"warm{i}", j) for i, j in enumerate(self.warm_jobs)]

    def run_pass(self, index: int) -> list[Op]:
        order = self.rng.permutation(len(self.jobs))
        return [self._run(f"p{index}-job{int(i):02d}", self.jobs[int(i)]) for i in order]


# ------------------------------------------------------------- stream_ladder


def progress_listener():
    """A StreamingQueryListener keeping each micro-batch's progress
    (``durationMs`` per phase, start time, input rows)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self) -> None:
            self.lock = threading.Lock()
            self.records: list[dict] = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            if not p.numInputRows:
                return
            start = datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ")
            rec = {
                "runId": str(p.runId), "batchId": p.batchId,
                "start": start.replace(tzinfo=timezone.utc).timestamp(),
                "durationMs": dict(p.durationMs), "rows": p.numInputRows,
            }
            with self.lock:
                self.records.append(rec)

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

        def reset(self) -> None:
            with self.lock:
                self.records = []

        def wait_for(self, n: int, timeout: float = 30.0) -> list[dict]:
            """Progress events arrive asynchronously; wait for ``n``."""
            deadline = time.time() + timeout
            while time.time() < deadline:
                with self.lock:
                    if len(self.records) >= n:
                        break
                time.sleep(0.05)
            with self.lock:
                return sorted(self.records, key=lambda r: r["batchId"])

    return ProgressListener()


class StreamLadder(Workload):
    """``stream_dedup_ladder`` ingesting a seeded backlog one parquet file
    at a time, as a scheduled ``availableNow`` job would: every drain stages
    the next file and drains it through the same checkpoint, so a
    micro-batch reads and writes a store that holds the batches before it.
    The warm-up is the first ``WARM_FILES`` drains: the micro-batch after
    the cold one is still 10-30% slower than later ones. One operation is
    one micro-batch."""

    name = "stream_ladder"
    PASS_S = 9.0
    WARM_FILES = 2
    PER_BATCH = 300
    TINY_PER_BATCH = 40

    def prepare(self) -> None:
        from importlib import import_module

        self.ladder = import_module(f"{PKG}.streaming.windows").stream_dedup_ladder
        per_batch = self.TINY_PER_BATCH if self.tiny else self.PER_BATCH
        n_files = self.WARM_FILES + self.passes
        name = f"stream-{n_files}-{per_batch}-seed{self.seed}"
        self.backlog = os.path.join(self.work, "data", name)
        _prune(os.path.join(self.work, "data"), "stream-", keep=(name,))
        meta = os.path.join(self.backlog, "expected.json")
        if not os.path.exists(meta):
            shutil.rmtree(self.backlog, ignore_errors=True)
            batches = gen.stream_corpus(self.seed, n_files, per_batch)
            gen.write_stream_backlog(batches, self.backlog)
            with open(meta + ".tmp", "w") as f:
                json.dump(batches, f)
            os.replace(meta + ".tmp", meta)
        with open(meta) as f:
            self.batches = json.load(f)
        live = os.path.join(self.work, "out", "stream")
        shutil.rmtree(live, ignore_errors=True)
        self.src, self.store, self.ckpt = (os.path.join(live, d) for d in ("src", "store", "ckpt"))
        os.makedirs(self.src)
        self.in_bytes = 0
        self.listener = progress_listener()
        self.spark.streams.addListener(self.listener)

    def _drain(self, b: int) -> tuple[Op, float]:
        """Stage backlog file ``b`` and drain it: one micro-batch."""
        staged = shutil.copy2(os.path.join(self.backlog, f"batch-{b:04d}.parquet"), self.src)
        self.in_bytes += os.path.getsize(staged)
        stream = (
            self.spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(self.src)
        )
        self.listener.reset()
        self._group(f"batch{b}")
        t0 = time.time()
        self.ladder(stream, self.store, self.ckpt, "doc_id", "text")
        wall = time.time() - t0
        progress = self.listener.wait_for(1)
        if len(progress) != 1 or progress[0]["batchId"] != b:
            got = [p["batchId"] for p in progress]
            return Op(f"batch{b}", "", t0, t0 + wall, False, 0, {"why": f"micro-batches {got} for file {b}"}), wall
        p = progress[0]
        ok, why = gates.check_tiers(self.store, b, self.batches[b])
        end = p["start"] + p["durationMs"]["triggerExecution"] / 1000
        return Op(f"batch{b}", p["runId"], p["start"], end, ok, len(self.batches[b]["doc_id"]),
                  {"batch": b, "progress": p, "why": why}), wall

    def warm_up(self) -> list[Op]:
        return [self._drain(b)[0] for b in range(self.WARM_FILES)]

    def run_pass(self, index: int) -> list[Op]:
        op, wall = self._drain(self.WARM_FILES + index)
        store_bytes, store_files = _dir_size(self.store)
        op.extra.update(pass_wall=wall, store_bytes=store_bytes, store_files=store_files,
                        in_bytes=self.in_bytes)
        return [op]


WORKLOADS = {w.name: w for w in (BatchQueries, EpipeCranker, StreamLadder)}
