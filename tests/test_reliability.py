"""Checkpoint-durability regime (operators/reliability.py).

One session conf, ``spark.ahfpi.checkpointMode``, picks where every
batch truncation point keeps its blocks: "local" (executor cache,
job-fatal on executor loss), "replicated" (two replicas, survives a
single loss) or "reliable" (DFS checkpoint, survives any loss). The
contract these tests pin: the regime changes WHERE blocks live and
what survives executor loss — never what any operator returns. Every
materialization site runs under all three regimes and must produce
identical rows; the reliable regime's loud no-checkpoint-dir guard
and the rejection of an unknown value are pinned too.

The tier-1 session is shared across modules, so the conf is only ever
set through :func:`regime`, which always unsets it.
"""

from __future__ import annotations

import atexit
import contextlib
import os
import random
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from apache_hadoop_framework_for_peptide_identification_spark.operators import (
    corpus as C,
    dedup as D,
    graph as G,
    pipeline as P,
    similarity as S,
    urls as U,
)
from apache_hadoop_framework_for_peptide_identification_spark.operators.reliability import (
    CONF,
    MODES,
    materialize,
)
from apache_hadoop_framework_for_peptide_identification_spark.queries import (
    materialized_sort,
)


@contextlib.contextmanager
def regime(spark, mode):
    """Run the body under durability regime ``mode``; the conf is
    unset afterwards whatever happens, so no later test inherits it."""
    spark.conf.set(CONF, mode)
    try:
        yield
    finally:
        spark.conf.unset(CONF)


@pytest.fixture(scope="module")
def ckpt_dir(spark):
    """Reliable checkpoint dir for the module. SparkContext has no
    clearCheckpointDir, so the guard test below runs FIRST, before
    this fixture ever sets it."""
    d = tempfile.mkdtemp(prefix="reliable_ckpt_")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    spark.sparkContext.setCheckpointDir(d)
    return d


def _n_files(d):
    return sum(len(fs) for _, _, fs in os.walk(d))


def test_reliable_mode_requires_checkpoint_dir_guard(spark):
    """Must run before ckpt_dir is ever requested in this module: the
    reliable regime without a checkpoint dir raises a ValueError at the
    call site, naming both ways to set one, not a late executor-side
    Spark error."""
    if spark.sparkContext.getCheckpointDir() is not None:
        pytest.skip("a checkpoint dir is already set in this session")
    with regime(spark, "reliable"):
        with pytest.raises(ValueError, match="setCheckpointDir") as err:
            materialize(spark.range(3))
    assert "spark.checkpoint.dir" in str(err.value)
    assert CONF in str(err.value)


def test_unknown_mode_rejected(spark):
    """An unknown value fails loudly — both at the helper and through
    an operator — and the message names the conf and the valid
    regimes."""
    df = spark.createDataFrame([(1, "a b c d"), (2, "a b c e")], "doc_id long, text string")
    with regime(spark, "durable"):
        with pytest.raises(ValueError, match=CONF) as err:
            materialize(spark.range(1))
        for m in MODES:
            assert m in str(err.value)
        with pytest.raises(ValueError, match=CONF):
            D.prefix_jaccard_pairs(df, "doc_id", "text")


# ------------------------------------------------------------ inputs
# Every input stays at fixture size (<= 100 rows).

def _docs(spark):
    """24 random 40-token docs plus three planted relatives: doc 100
    is doc 0 with its last token changed (a near-dup whose aligned
    chunks repeat), doc 101 is a 30-token crop of doc 1 starting at
    token 5 (contained, and repeated at an unaligned offset), doc 102
    repeats doc 2 verbatim."""
    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(60)]
    toks = [[rng.choice(vocab) for _ in range(40)] for _ in range(24)]
    rows = [(i, " ".join(t)) for i, t in enumerate(toks)]
    rows.append((100, " ".join(toks[0][:-1] + ["zz"])))
    rows.append((101, " ".join(toks[1][5:35])))
    rows.append((102, " ".join(toks[2])))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _ladder_docs(spark):
    """Exact dups (1≡2), a near-dup pair (3~4), and distinct rows
    across two topics — exercises every dedup_mix_pack tier."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, "news", base),
        (2, "news", base.upper()),
        (3, "blog", base + " extra tail words here"),
        (4, "blog", base + " extra tail words there"),
        (5, "news", "completely different text about spark checkpoints"),
        (6, "blog", "another unrelated document concerning parquet files"),
    ]
    return spark.createDataFrame(rows, "rec_id long, topic string, clean_text string")


def _embeddings(spark):
    """30 random unit vectors (dim 8) plus near-copies of the first 5
    (ids + 1000, cos > 0.99)."""
    import numpy as np

    rng = np.random.RandomState(3)
    base = rng.standard_normal((30, 8))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    dups = base[:5] + 0.01 * rng.standard_normal((5, 8))
    rows = [(i, base[i].tolist()) for i in range(30)]
    rows += [(1000 + i, dups[i].tolist()) for i in range(5)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _cc_edges(spark):
    # two components + a self-loop singleton; the chain is long enough
    # to force several propagation rounds
    return spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 20)], "id_a long, id_b long"
    )


def _pr_edges(spark):
    return spark.createDataFrame(
        [(1, 2, 1), (2, 3, 2), (3, 1, 1), (1, 3, 3), (4, 1, 1)],
        "src long, dst long, w long",
    )


def _sitemap_walk(spark):
    fetched = spark.createDataFrame(
        [
            ("https://a.com/index.xml",
             "<sitemapindex>"
             "<sitemap><loc>https://a.com/c1.xml</loc></sitemap>"
             "<sitemap><loc>https://a.com/c2.xml</loc></sitemap>"
             "</sitemapindex>"),
            ("https://a.com/c1.xml",
             "<urlset><url><loc>https://a.com/p1</loc></url></urlset>"),
            ("https://a.com/c2.xml",
             "<sitemapindex>"
             "<sitemap><loc>https://a.com/c3.xml</loc></sitemap>"
             "</sitemapindex>"),
            ("https://a.com/c3.xml",
             "<urlset><url><loc>https://a.com/p2</loc></url>"
             "<url><loc>https://a.com/p3</loc></url></urlset>"),
        ],
        "url string, xml string",
    )
    seeds = spark.createDataFrame(
        [("a.com", "https://a.com/index.xml")], "host string, sitemap_url string"
    )
    return U.sitemap_frontier(fetched, seeds).select("loc", "depth", "source_sitemap")


def _sort_keys(spark):
    # keys arrive unsorted and skewed across input partitions so the
    # range exchange and the prefix-offset join do real work
    return spark.range(0, 97, 1, 5).withColumn("key", F.md5(F.col("id").cast("string")))


# ------------------------------------------------------------- sites
# One entry per materialization site: (builder, check). The builder
# returns the site's output frame; ``check`` is a semantic fact of the
# "local" rows, so a sweep that compared empty or wrong outputs fails.

def _nonempty(rows):
    return len(rows) > 0


def _cc_labels(rows):
    labels = dict(rows)
    return labels[4] == 1 and labels[11] == 10 and labels[20] == 20


def _has_pairs(*want):
    return lambda rows: set(want) <= {(r[0], r[1]) for r in rows}


_PLANTED = _has_pairs((0, 100), (1, 101), (2, 102))


def _removed_from(*ids):  # rows are (id, clean_text, n_removed)
    return lambda rows: {r[0] for r in rows if r[2] > 0} == set(ids)


def _dense_positions(rows):
    ranked = sorted((r[1], r[2]) for r in rows)  # (key, pos)
    return [p for _, p in ranked] == list(range(1, 98))


SITES = {
    "prefix_jaccard_pairs": (
        lambda s: D.prefix_jaccard_pairs(_docs(s), "doc_id", "text", threshold=0.6),
        _PLANTED,
    ),
    "containment_prefix_pairs": (
        lambda s: D.containment_prefix_pairs(_docs(s), "doc_id", "text", n=3, threshold=0.9),
        _has_pairs((101, 1), (100, 0), (0, 100), (2, 102), (102, 2)),
    ),
    "minhash_lsh_candidates": (
        lambda s: D.minhash_lsh_candidates(_docs(s), "doc_id", "text"),
        _PLANTED,
    ),
    "minhash_jaccard_pairs": (
        lambda s: D.minhash_jaccard_pairs(_docs(s), "doc_id", "text", threshold=0.5),
        _PLANTED,
    ),
    "exact_substring_dedup": (
        lambda s: D.exact_substring_dedup(_docs(s), "doc_id", "text"),
        # doc 101's repeat is unaligned: only the sliding form removes it
        _removed_from(100, 102),
    ),
    "sliding_substring_dedup": (
        lambda s: D.sliding_substring_dedup(_docs(s), "doc_id", "text"),
        _removed_from(100, 101, 102),
    ),
    "bm25_topk": (
        lambda s: C.bm25_topk(_docs(s), "doc_id", "text", ("w1", "w2"), k=5),
        lambda rows: len(rows) == 5,
    ),
    "embedding_neardup_lsh": (
        lambda s: S.embedding_neardup_lsh(
            _embeddings(s), "vec_id", "embedding", threshold=0.9, bits=16, bands=4, dim=8
        ).select("id_a", "id_b"),
        _has_pairs(*[(i, 1000 + i) for i in range(5)]),
    ),
    "connected_components": (
        lambda s: D.connected_components(_cc_edges(s)),
        _cc_labels,
    ),
    "connected_components_star": (
        lambda s: D.connected_components_star(_cc_edges(s)),
        _cc_labels,
    ),
    "pagerank_int": (
        lambda s: G.pagerank_int(
            _pr_edges(s), "src", "dst", "w", iters=7, checkpoint_every=2
        ).select("node", "rank_int"),
        lambda rows: [r[0] for r in rows] == [1, 2, 3, 4],
    ),
    "pagerank_int_broadcast": (
        lambda s: G.pagerank_int(
            _pr_edges(s), "src", "dst", "w", iters=7, checkpoint_every=2,
            broadcast_ranks=True,
        ).select("node", "rank_int"),
        lambda rows: [r[0] for r in rows] == [1, 2, 3, 4],
    ),
    "triangle_count": (
        lambda s: G.triangle_count(
            s.createDataFrame(
                [(1, 2), (2, 3), (3, 1), (3, 4), (4, 1), (5, 5)], "src long, dst long"
            )
        ),
        lambda rows: rows == [(4, 5, 2)],
    ),
    "sitemap_frontier": (
        _sitemap_walk,
        # pages surface at BOTH depths (1 via c1, 2 via the nested
        # c2 -> c3 index), so every per-level truncation executed
        lambda rows: sorted(r[1] for r in rows) == [1, 2, 2],
    ),
    "global_sort_rank": (
        lambda s: P.global_sort_rank(_sort_keys(s), "key", n_partitions=4),
        _dense_positions,
    ),
    "epoch_shuffle": (
        lambda s: P.epoch_shuffle(s.range(20), "id", epoch=3),
        lambda rows: sorted(r[1] for r in rows) == list(range(1, 21)),
    ),
    "dedup_mix_pack": (
        lambda s: P.dedup_mix_pack(_ladder_docs(s), target_total=4, budget=32),
        _nonempty,
    ),
    "materialized_sort": (
        lambda s: materialized_sort(_sort_keys(s).select("key"), "key"),
        lambda rows: len(rows) == 97,
    ),
}


def _collect_sorted(df):
    return [tuple(r) for r in df.orderBy(*df.columns).collect()]


@pytest.mark.parametrize("site", sorted(SITES))
def test_site_parity_across_modes(spark, ckpt_dir, site):
    """Every materialization site returns identical rows under every
    regime, and under "reliable" it really checkpoints to the DFS
    (files appear under the checkpoint dir) — proof that the site
    reads the session conf instead of a hardcoded regime."""
    build, check = SITES[site]
    out = {}
    for m in MODES:
        with regime(spark, m):
            before = _n_files(ckpt_dir)
            out[m] = _collect_sorted(build(spark))
            wrote = _n_files(ckpt_dir) - before
        if m == "reliable":
            assert wrote > 0, f"{site}: reliable regime wrote no checkpoint files"
        else:
            assert wrote == 0, f"{site}: {m} regime wrote {wrote} checkpoint files"
    assert out["replicated"] == out["local"], site
    assert out["reliable"] == out["local"], site
    assert check(out["local"]), (site, out["local"])


def test_reliable_mode_actually_writes_to_checkpoint_dir(spark, ckpt_dir):
    """The reliable regime must be a REAL DFS checkpoint (files under
    the checkpoint dir), not a silent localCheckpoint fallback — the
    durability claim rests on the blocks living off-executor."""
    before = _n_files(ckpt_dir)
    with regime(spark, "reliable"):
        df = materialize(spark.range(100).withColumn("x", F.col("id") * 2))
    assert df.count() == 100
    assert _n_files(ckpt_dir) > before, "reliable mode wrote nothing under the checkpoint dir"
    # and those writes are lz4'd: the engine session sets the core conf
    # (0.52x bytes, BASELINE.md) — pin it so a builder refactor can't
    # silently drop it
    assert (
        spark.sparkContext.getConf().get("spark.checkpoint.compress") == "true"
    ), "engine session lost spark.checkpoint.compress"


def test_materialize_once_across_modes_and_eagerness(spark, ckpt_dir):
    """The guarantee every call site exists for: the subtree executes
    EXACTLY ONCE whatever the regime or eagerness, and NOTHING is left
    in the Dataset CacheManager. Both pins guard measured regressions:
    a bare checkpoint(eager=False) executes the subtree twice (consumer
    job + checkpoint-write job), and persist-before-lazy-checkpoint
    restores 1x but leaks a plan-keyed cache entry that substitutes
    stale data into later identical plans — which is why the reliable
    regime always checkpoints eagerly."""
    from pyspark.sql.types import LongType

    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    # start from a known-empty cache so the per-mode isEmpty asserts
    # blame materialize() and not some earlier test's leftover cache
    spark.catalog.clearCache()
    for mode in MODES:
        for eager in (True, False):
            acc = spark.sparkContext.accumulator(0)

            @F.udf(LongType())
            def tick(x, _acc=acc):
                _acc.add(1)
                return x

            with regime(spark, mode):
                df = materialize(
                    spark.range(0, 100, 1, 4).select(tick("id").alias("v")),
                    eager=eager,
                )
            df.count()
            df.agg(F.sum("v")).collect()  # second consumer
            assert acc.value == 100, (
                f"mode={mode} eager={eager}: subtree executed "
                f"{acc.value / 100:.1f}x, want exactly 1x"
            )
            assert cache_mgr.isEmpty(), (
                f"mode={mode} eager={eager}: left a CacheManager entry — "
                "later identical plans would silently read it"
            )


def _purge_new_rdd_blocks(spark, fn):
    """Fault injection: run ``fn`` (which materializes a frame), then
    remove every executor-cache block of the RDDs it pinned — the
    closest local[*] analogue of losing the executors that held a
    truncated frame's blocks. Uses the JVM BlockManagerMaster through
    the private gateway (test-only; there is no public purge API)."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    out = fn()
    new = set(jsc.getPersistentRDDs().keySet().toArray()) - before
    bmm = spark.sparkContext._jvm.org.apache.spark.SparkEnv.get().blockManager().master()
    for rid in new:
        bmm.removeRdd(int(rid), True)
    return out, new


def test_executor_block_loss_is_fatal_local_but_survivable_reliable(spark, ckpt_dir):
    """The durability claim itself, not just row parity: after the
    materialized blocks vanish (simulated executor loss), a frame under
    the default regime — conf unset, i.e. ``local`` — is UNRECOVERABLE
    (Spark raises its checkpoint-block-not-found error because the
    lineage is gone), while a ``reliable`` frame re-reads from the
    checkpoint dir and still answers."""
    from py4j.protocol import Py4JJavaError

    def build():
        return materialize(spark.range(0, 100, 1, 4).withColumn("x", F.col("id") * 7))

    lost, new_local = _purge_new_rdd_blocks(spark, build)
    assert new_local, "the default regime pinned no executor blocks to lose"
    with pytest.raises(Py4JJavaError, match="[Cc]heckpoint block"):
        lost.count()

    with regime(spark, "reliable"):
        saved, new_rel = _purge_new_rdd_blocks(spark, build)
    # reliable mode holds NOTHING in executor caches — its blocks are
    # DFS files, so there is nothing to lose and the count survives
    assert new_rel == set()
    assert saved.count() == 100

    # replicated survives SINGLE-executor loss via the second replica;
    # local[*] has one block manager, so losing "all executors" kills
    # both copies — the documented limit of the middle regime
    with regime(spark, "replicated"):
        repl, new_repl = _purge_new_rdd_blocks(spark, build)
    assert new_repl, "replicated mode pinned no executor blocks"
    with pytest.raises(Py4JJavaError, match="[Cc]heckpoint block"):
        repl.count()
