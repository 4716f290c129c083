"""Materialization and checkpoint durability: one policy, one conf.

Every batch truncation point in the engine goes through
:func:`materialize`: iterative loops (PageRank, connected components,
the sitemap frontier), multi-consumer posting indexes and fan-outs
(the dedup, similarity and corpus operators, the batch queries), the
dedup-ladder finalization, and the final sort guard
(``queries.materialized_sort``). No operator takes a durability
argument. The regime is a deployment setting — it depends on the
cluster's failure model, not on the query — read from one session
conf, :data:`CONF` (``spark.ahfpi.checkpointMode``, default
``"local"``):

- in the session builder: ``.config("spark.ahfpi.checkpointMode",
  "reliable")``;
- on the command line: ``spark-submit --conf
  spark.ahfpi.checkpointMode=reliable``;
- at runtime: ``spark.conf.set(CONF, "replicated")`` — read at each
  call, so it applies to frames built after the set.

The streaming foreachBatch bodies keep their own ``localCheckpoint``:
a micro-batch is recovered by replay from its ``checkpointLocation``,
not from a materialized frame.

Three regimes, cost vs. what survives:

- ``"local"`` (default): ``localCheckpoint`` — executor-cache blocks
  at the session's default storage level, zero extra I/O. Survives
  nothing: an executor lost after materialization fails the job,
  because Spark cannot recompute a truncated lineage. Right for short
  jobs, where a rare retry from scratch is cheaper than a durability
  tax on every run, and for local mode, where executor loss means
  the whole JVM died anyway.
- ``"replicated"``: ``localCheckpoint`` at ``MEMORY_AND_DISK_2`` —
  every block lives on two executors. Survives any single executor
  loss; concurrent losses can still kill both copies. Costs one extra
  network copy of the materialized bytes, no DFS round-trip.
- ``"reliable"``: ``DataFrame.checkpoint()`` into the
  ``spark.checkpoint.dir`` / ``SparkContext.setCheckpointDir`` path.
  Survives any number of executor losses (tasks re-read from the
  DFS). Costs one write and re-read of the materialized bytes. The
  regime for a corpus-sized build: the checkpointed frames are the
  small mid-pipeline survivors (keeper ids, rank tables, posting
  indexes), so the tax is bounded while the job gains restartability
  at every truncation point.

The regimes change where blocks live, never what a query returns:
tests/test_reliability.py runs every materialization site under all
three regimes and injects block loss to show what each survives. The
wall-clock tax is measured by ``make checkpoint-tax`` (BASELINE.md).

The engine session sets ``spark.checkpoint.compress=true`` (0.52x
checkpoint bytes at flat wall on the corpus-sized ranked frame). It
is a core conf read at context start, so an externally built session
must set it in its own builder.

Under ``"reliable"`` checkpoint files stay on the DFS until the
application exits. A long-lived session running many builds should
set ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` or point
the checkpoint dir at a per-job path it removes afterwards.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: The session conf that selects the durability regime.
CONF = "spark.ahfpi.checkpointMode"

#: The three durability regimes, cheapest first. Tests and measurement
#: scripts iterate this tuple, so a regime added here is parity-tested
#: and priced.
MODES = ("local", "replicated", "reliable")


def materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize ``df`` once and truncate its lineage under the
    session's durability regime (:data:`CONF`, module doc).

    ``"reliable"`` needs a checkpoint directory; failing here beats
    Spark's late executor-side error after the upstream work ran.

    ``"reliable"`` ignores ``eager=False`` and always checkpoints
    eagerly, because both lazy variants were measured to be worse:

    - a bare ``checkpoint(eager=False)`` leaves the blocks unpersisted,
      so the subtree executes twice (the first consumer's job, then
      the checkpoint-write job);
    - ``persist()`` before the lazy checkpoint restores 1x compute but
      registers a plan-keyed CacheManager entry that nothing
      unpersists: a session-lifetime leak, and the cached plan is
      substituted into later identical plans, serving stale rows if
      the backing files were rewritten.

    Eager reliable is 1x compute for any number of consumers with no
    cache residue. It materializes at call time instead of at the
    first action, and each consumer re-reads the checkpoint files
    from the DFS — the re-read is what survives executor loss."""
    mode = df.sparkSession.conf.get(CONF, "local")
    if mode == "local":
        return df.localCheckpoint(eager=eager)
    if mode == "replicated":
        from pyspark import StorageLevel

        return df.localCheckpoint(eager=eager, storageLevel=StorageLevel.MEMORY_AND_DISK_2)
    if mode == "reliable":
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            raise ValueError(
                f"{CONF}=reliable needs a reliable checkpoint directory: set "
                "spark.checkpoint.dir or call spark.sparkContext."
                "setCheckpointDir(<DFS path>) first (an executor-local path "
                "gives no durability on a real cluster — use HDFS/S3/shared "
                "storage)"
            )
        return df.checkpoint(eager=True)  # docstring: why never lazy
    raise ValueError(f"{CONF} must be one of {MODES}; got {mode!r}")
