"""SparkSession factory and runtime configuration.

Design notes (100 TB scale):
- AQE on: runtime re-planning from shuffle statistics (coalesce tiny
  post-shuffle partitions, convert to broadcast joins, split skewed
  partitions). On a 1000-executor cluster this is the difference
  between a plan sized for estimates and one sized for reality.
- Arrow on: every Python boundary (pandas UDF, mapInPandas, toPandas)
  moves columnar batches, not pickled rows.
- ``spark.sql.legacy.parquet.nanosAsLong``: kept for the nanos
  generation of the ``events`` fixture (INT64 TIMESTAMP(NANOS), which
  Spark 4 otherwise rejects with PARQUET_TYPE_ILLEGAL). The current
  fixture generation is TIMESTAMP(MICROS), on which this conf is a
  no-op; catalog.normalize_events_ts canonicalizes both generations.
- Session timezone pinned UTC so timestamp semantics match the DuckDB
  oracle (UTC-naive).
"""

from __future__ import annotations

import hashlib
import os
import pathlib
import tempfile
import zipfile

from pyspark.sql import SparkSession

# Confs that are safe (and necessary) to set on an externally-provided
# session at runtime — all of these are runtime-settable SQL confs.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    # Pinned, not defaulted (SURVEY.md §7 risk 2): ANSI errors on
    # overflow/bad casts keep engine semantics aligned with the DuckDB
    # oracle; try_* variants are the explicit opt-out (q39).
    "spark.sql.ansi.enabled": "true",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


_SHIPPED_APPS: set[str] = set()


def _package_zip(pkg_dir: pathlib.Path, out_dir: str) -> str:
    """Zip ``pkg_dir``'s ``.py`` sources into ``out_dir``, named by their hash.

    Identical sources reuse one file across driver processes; changed
    sources get a new name, so a stale archive is never shipped.
    """
    sources = {
        f"{pkg_dir.name}/{p.relative_to(pkg_dir).as_posix()}": p
        for p in sorted(pkg_dir.rglob("*.py"))
    }
    digest = hashlib.sha256()
    for arcname, p in sources.items():
        digest.update(arcname.encode() + b"\0" + p.read_bytes() + b"\0")
    zpath = os.path.join(out_dir, f"{pkg_dir.name}_{digest.hexdigest()[:16]}.zip")
    if not os.path.exists(zpath):
        fd, tmp = tempfile.mkstemp(dir=out_dir, suffix=".zip.tmp")
        with os.fdopen(fd, "wb") as f, zipfile.ZipFile(f, "w") as z:
            for arcname, p in sources.items():
                z.write(p, arcname=arcname)
        os.replace(tmp, zpath)  # concurrent drivers never see a partial zip
    return zpath


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers.

    An external driver (which owns the session and may run from any
    CWD) won't have the repo on the workers' sys.path; UDF closures
    that reference this package would fail to unpickle. addPyFile is
    the standard deployment path and works identically on a real
    cluster.
    """
    sc = spark.sparkContext
    app = sc.applicationId
    if app in _SHIPPED_APPS:
        return
    pkg_dir = pathlib.Path(__file__).resolve().parent
    sc.addPyFile(_package_zip(pkg_dir, tempfile.gettempdir()))
    _SHIPPED_APPS.add(app)


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to a session we did not create.

    The verification driver owns the SparkSession when it calls the
    ``__spark_entry__`` hooks, so every query path routes through this
    normalizer before touching data.
    """
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-settable on this build: keep going, reads may still work
    try:
        _ship_package(spark)
    except Exception:
        pass  # e.g. Spark Connect without addPyFile; local imports may still work
    return spark


def default_cpus() -> int:
    """``SPARK_GRAFT_CPUS`` when set, else the CPUs this process may run
    on — never more task slots than the host can serve."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def get_spark(
    app_name: str = "ahfpi-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Create a local session sized to the machine.

    ``local[N]`` is a single JVM; on a real cluster the same code runs
    unchanged — everything below is per-session SQL conf, not topology.
    """
    if cpus is None:
        cpus = default_cpus()
    if shuffle_partitions is None:
        # ~cores for local mode; on a cluster this would be
        # ~2-3x total executor cores (AQE coalesces the excess).
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Core conf (context-start only, so NOT in RUNTIME_CONFS): lz4
        # the reliable-checkpoint writes. A/B at sf0.1: 0.52x
        # checkpoint bytes on epoch_shuffle's ranked frame, wall flat
        # — on a real DFS this halves the corpus-sized round-trip the
        # checkpoint-tax table prices (BASELINE.md r19). No effect on
        # default paths: localCheckpoint blocks don't read this conf.
        .config("spark.checkpoint.compress", "true")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return configure(spark)
