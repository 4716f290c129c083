#!/usr/bin/env python
"""Measure the plain-PySpark baseline for BASELINE.md.

Stock-Spark implementations of the bench headliners — no engine imports
(session.default_cpus alone sizes the session the way the engine's
is), no engine-specific optimizations (no table cache, no broadcast hints, no
per-row norm hoisting, no explode+agg MinHash trick). This is the code a
competent PySpark user writes first, which is exactly what the engine's
2x budget is measured against.

Config matches the bench contract: local[$SPARK_GRAFT_CPUS] (default: the
CPUs this process may run on, as session.default_cpus)
with shuffle.partitions = cpus, at $SPARK_GRAFT_SF_DIR (default sf0.1).
Method: 1 warm-up, then best of BENCH_RUNS (default 3) collect() latency.

Usage: python scripts/measure_baseline.py
Prints one JSON line: {"config": ..., "queries": {name: sec, ...}}
"""

from __future__ import annotations

import json
import os
import sys
import time

import pandas as pd

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from apache_hadoop_framework_for_peptide_identification_spark.session import (  # noqa: E402
    default_cpus,
)


def stock_builder(app_name: str) -> SparkSession.Builder:
    """The stock-Spark session every script's stock side runs on: the
    engine's slot count (``default_cpus``) and driver heap
    (``SPARK_DRIVER_MEM``), none of its confs. ``nanosAsLong`` only
    lets the nanos generation of ``events`` load (see ``tables``)."""
    cpus = str(default_cpus())
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
    )


def tables(spark: SparkSession, sf: str):
    t = {}
    for name in ("lineitem", "orders", "customer", "nation", "part", "documents", "embeddings"):
        t[name] = spark.read.parquet(os.path.join(sf, f"{name}.parquet"))
    ev = spark.read.parquet(os.path.join(sf, "events.parquet"))
    if dict(ev.dtypes).get("ts") == "bigint":
        # nanosAsLong ingest necessity (see BASELINE.md), not an optimization.
        ev = ev.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    t["events"] = ev
    return t


def b1_scan_filter_agg(t):
    l = t["lineitem"]
    return (
        l.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_base_price"),
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_disc_price"),
            F.avg("l_quantity").alias("avg_qty"),
            F.avg("l_extendedprice").alias("avg_price"),
            F.avg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def b2_join_revenue_topk(t):
    rev = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(t["nation"], F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.col("revenue").desc())
        .limit(10)
    )
    return rev


def b3_window_topk(t):
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc())
    return (
        t["orders"]
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


def b4_tumbling_hourly(t):
    return (
        t["events"]
        .groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
    )


def q40_dedup_exact(t):
    return (
        t["documents"]
        .groupBy(F.md5("text").alias("content_hash"))
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .orderBy("keeper_doc_id")
    )


def q42_minhash_lsh(t):
    """Naive stock-Spark MinHash-LSH: 64 signature mins each re-hashing
    the shingle array through an interpreted HOF lambda, banded 16x,
    self-join on (band, bucket). Same output contract as the engine's
    q42 (candidate pairs id_a < id_b)."""
    d = t["documents"]
    toks = F.split(F.col("text"), " ")
    sh = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - 3, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 3)),
        )
    )
    sig = d.select(
        F.col("doc_id").alias("id"),
        *[
            F.array_min(F.transform(sh, lambda s: F.xxhash64(s, F.lit(i)))).alias(f"mh_{i}")
            for i in range(64)
        ],
    )
    banded = sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(*[F.col(f"mh_{b * 4 + j}") for j in range(4)]).alias("bucket"),
                    )
                    for b in range(16)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")
    x, y = banded.alias("x"), banded.alias("y")
    return (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
        .orderBy("id_a", "id_b")
    )


def q44_cosine_topk(t):
    """Brute-force cosine top-5: the direct join form (no broadcast
    hint, norms computed inline per PAIR — the first version that
    passes)."""
    emb = t["embeddings"]

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x * y).cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").cast("array<double>").alias("q_vec")
    )
    c = emb.select(
        F.col("vec_id").alias("n_id"), F.col("embedding").cast("array<double>").alias("n_vec")
    )
    scored = q.join(c, F.col("q_id") != F.col("n_id")).select(
        "q_id",
        "n_id",
        (
            dot(F.col("q_vec"), F.col("n_vec"))
            / (F.sqrt(dot(F.col("q_vec"), F.col("q_vec"))) * F.sqrt(dot(F.col("n_vec"), F.col("n_vec"))))
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("n_id"))
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 5).orderBy("q_id", "rn")


def q50_pipe_tokens(t):
    """Hadoop-streaming-style external tool: lines piped through awk via
    RDD.pipe (the stock-Spark analog of the reference's external-binary
    model)."""
    d = t["documents"].select(F.concat_ws("\t", "doc_id", "text"))
    piped = d.rdd.map(lambda r: r[0]).pipe(
        "awk -F '\\t' '{ n = split($2, a, \" \"); print $1 \"\\t\" n }'"
    )
    spark = t["documents"].sparkSession
    out = piped.map(lambda line: (int(line.split("\t")[0]), int(line.split("\t")[1])))
    return spark.createDataFrame(out, "doc_id long, n_tokens long").orderBy("doc_id")


def q67_embedding_neardup(t):
    """Stock near-dup: pyspark.ml BucketedRandomProjectionLSH
    approxSimilarityJoin on L2-normalized vectors; euclidean threshold
    sqrt(2-2*0.9) equals cosine >= 0.9 on the unit sphere. Same
    twin-planted corpus as the engine's q67 (the fixture has no true
    near-dups)."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH, Normalizer
    from pyspark.ml.functions import array_to_vector

    base = t["embeddings"].select("vec_id", "embedding")
    twins = base.select(
        (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x, i: (x + F.sin(i.cast("double") + F.col("vec_id")) * F.lit(0.02)).cast("float"),
        ).alias("embedding"),
    )
    corpus = base.unionByName(twins)
    emb = corpus.select(
        F.col("vec_id").alias("id"), array_to_vector(F.col("embedding").cast("array<double>")).alias("raw")
    )
    emb = Normalizer(inputCol="raw", outputCol="vec", p=2.0).transform(emb)
    lsh = BucketedRandomProjectionLSH(
        inputCol="vec", outputCol="hashes", bucketLength=0.5, numHashTables=8, seed=42
    ).fit(emb)
    thr = float((2.0 - 2.0 * 0.9) ** 0.5)
    pairs = lsh.approxSimilarityJoin(emb, emb, thr, distCol="dist")
    return (
        pairs.filter(F.col("datasetA.id") < F.col("datasetB.id"))
        .select(
            F.col("datasetA.id").alias("id_a"),
            F.col("datasetB.id").alias("id_b"),
            (1.0 - F.col("dist") * F.col("dist") / 2.0).alias("cos_sim"),
        )
        .orderBy("id_a", "id_b")
    )


def q83_repetition_filter(t):
    """Stock repetition filter: explode tokens -> groupBy counts for the
    top-token fraction, explode trigrams -> distinct counts for the
    duplicate-trigram fraction, join the two back (what a user writes
    first: three shuffles of every token/trigram plus a join, vs the
    engine's zero-shuffle per-row expression form)."""
    d = t["documents"]
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    topc = (
        tok.groupBy("doc_id", "tok")
        .count()
        .groupBy("doc_id")
        .agg(F.max("count").alias("top_c"), F.sum("count").alias("n_tok"))
    )
    toks = F.split(F.col("text"), " ")
    tri = d.filter(F.size(toks) >= 3).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - 2),
                lambda i: F.concat_ws(
                    " ", F.element_at(toks, i), F.element_at(toks, i + 1), F.element_at(toks, i + 2)
                ),
            )
        ).alias("sh"),
    )
    trid = tri.groupBy("doc_id").agg(
        (1.0 - F.countDistinct("sh") / F.count("sh")).alias("dup_tri_frac")
    )
    top_frac = F.col("top_c") / F.col("n_tok")
    dup_frac = F.coalesce(F.col("dup_tri_frac"), F.lit(0.0))
    return (
        topc.join(trid, "doc_id", "left")
        .select(
            "doc_id",
            top_frac.alias("top_tok_frac"),
            dup_frac.alias("dup_tri_frac"),
            ((top_frac <= 0.125) & (dup_frac <= 0.05)).alias("keep"),
        )
        .orderBy("doc_id")
    )


def q100_paragraph_dedup(t):
    """Stock C4-style paragraph dedup: explode 8-token chunks, find each
    chunk's keeper occurrence with a groupBy-min + join back, then
    reassemble (the dropDuplicates-shaped form a user writes first:
    TWO chunk-keyed shuffles plus a chunk join, vs the engine's single
    window pass over one chunk shuffle). Same planted boilerplate as
    the engine query so the workloads are identical."""
    d = t["documents"]
    boiler = "subscribe to our newsletter for updates and offers"
    planted = F.when(
        F.col("doc_id") % 4 == 0, F.concat(F.lit(boiler + " "), F.col("text"))
    ).otherwise(F.col("text"))
    toks = F.split(planted, " ")
    n_chunks = F.ceil(F.size(toks) / F.lit(8)).cast("int")
    chunk_arr = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i * 8 + 1, 8)),
    )
    chunks = d.select(
        "doc_id", F.posexplode(chunk_arr).alias("chunk_idx", "chunk")
    )
    keeper = chunks.groupBy("chunk").agg(
        F.min(F.struct("doc_id", "chunk_idx")).alias("k")
    )
    tagged = chunks.join(keeper, "chunk").withColumn(
        "kept",
        (F.col("k.doc_id") == F.col("doc_id"))
        & (F.col("k.chunk_idx") == F.col("chunk_idx")),
    )
    return (
        tagged.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_chunks"),
            F.sum((~F.col("kept")).cast("long")).alias("n_removed"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("kept"), F.struct("chunk_idx", "chunk"))
                        )
                    ),
                    lambda s: s["chunk"],
                ),
            ).alias("clean_text"),
        )
        .orderBy("doc_id")
    )


def q87_sequence_packing(t):
    """Stock greedy packing: collect each language shard to the driver
    and replay the greedy walk in a Python loop (the pandas-shaped
    first form — packing has a capacity reset, so a user who can't
    express it as a window reaches for toPandas), then re-parallelize.
    Same grouping/order/budget as the engine's distributed
    applyInPandas form."""
    d = t["documents"]
    spark = d.sparkSession
    pdf = (
        d.select("lang", "doc_id", F.size(F.split(F.col("text"), " ")).alias("n_tok"))
        .orderBy("lang", "doc_id")
        .toPandas()
    )
    rows = []
    for lang, grp in pdf.groupby("lang", sort=True):
        seq_id, used = 0, 0
        for r in grp.itertuples():
            if used + r.n_tok > 256 and used > 0:
                seq_id, used = seq_id + 1, 0
            rows.append((lang, int(r.doc_id), int(r.n_tok), seq_id, used))
            used += r.n_tok
        # oversized docs still consume a fresh sequence each
    return spark.createDataFrame(
        rows, "lang string, doc_id long, n_tok long, seq_id long, offset long"
    ).orderBy("lang", "doc_id")


def q101_lm_familiarity(t):
    """Stock CCNet-style scoring: explode bigrams, groupBy-count the
    train half, join every doc bigram against the counts, aggregate —
    float mean directly (no integer-exactness care), no map-side
    partial sharing between the two passes."""
    d = t["documents"]
    toks = F.split(F.col("text"), " ")
    bg = d.filter(F.size(toks) >= 2).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - 1),
                lambda i: F.concat_ws(" ", F.element_at(toks, i), F.element_at(toks, i + 1)),
            )
        ).alias("bg"),
    )
    train = bg.filter(F.col("doc_id") % 2 == 0).groupBy("bg").count()
    agg = (
        bg.join(train, "bg", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.avg(F.coalesce(F.col("count"), F.lit(0))).alias("lm_familiarity"),
        )
    )
    return (
        t["documents"].select("doc_id").join(agg, "doc_id", "left").orderBy("doc_id")
    )


def q102_bm25_topk(t):
    """Stock BM25: one separate aggregation JOB per corpus statistic
    (N, sum dl, df per term — collected to the driver one by one, the
    notebook-style form), then an interpreted filter-based tf and a
    global orderBy.limit."""
    d = t["documents"]
    toks = F.split(F.col("text"), " ")
    sized = d.select("doc_id", toks.alias("t"), F.size(toks).alias("dl"))
    n = sized.count()
    sumdl = sized.agg(F.sum("dl")).first()[0]
    terms = ("table", "stream", "vector")
    import math

    score = F.lit(0.0)
    for term in terms:
        df_t = sized.filter(F.array_contains("t", term)).count()  # one job per term
        idf = math.log(1.0 + (n - df_t + 0.5) / (df_t + 0.5))
        tf = F.size(F.filter("t", lambda x: x == F.lit(term))).cast("double")
        denom = tf + 1.2 * (0.25 + 0.75 * (F.col("dl") / F.lit(sumdl / n)))
        score = score + F.when(tf > 0, F.lit(idf) * tf * 2.2 / denom).otherwise(0.0)
    return sized.select("doc_id", score.alias("bm25")).orderBy(
        F.col("bm25").desc(), "doc_id"
    ).limit(10)


def q103_top_ngrams(t):
    """Stock heavy hitters: explode every bigram, global groupBy count,
    full orderBy then limit."""
    d = t["documents"]
    toks = F.split(F.col("text"), " ")
    bg = d.filter(F.size(toks) >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - 1),
                lambda i: F.concat_ws(" ", F.element_at(toks, i), F.element_at(toks, i + 1)),
            )
        ).alias("bigram")
    )
    return bg.groupBy("bigram").count().orderBy(F.col("count").desc(), "bigram").limit(20)


def q104_profile_table(t):
    """Stock profiling: a separate Spark JOB per column statistic
    (pandas-profiling style loop of .count()/.countDistinct() actions),
    vs the engine's single grouping-sets plan."""
    o = t["orders"]
    spark = o.sparkSession
    cols = ["o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]
    row = {"n_rows": o.count()}
    for c in cols:
        row[f"{c}_nulls"] = o.filter(F.col(c).isNull()).count()
        row[f"{c}_distinct"] = o.select(c).distinct().count()
    return spark.createDataFrame([row])


def q105_length_histogram(t):
    """Stock histogram: bucket expression + groupBy (the direct form —
    close to the engine's; kept for a like-for-like ratio row)."""
    d = t["documents"]
    n_tok = F.size(F.split(F.col("text"), " ")).cast("bigint")
    b = (F.floor(n_tok / 10) * 10).cast("bigint")
    return (
        d.select(b.alias("bucket"), n_tok.alias("v"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
            F.avg("v").alias("mean_v"),
        )
        .orderBy("bucket")
    )


def q106_textrank_keywords(t):
    """Stock TextRank: float PageRank loop over DataFrames with
    .cache() per iteration but NO lineage truncation — the Spark-docs
    example form. Plan size grows per iteration; float ranks (no
    integer-exact determinism)."""
    d = t["documents"]
    toks = F.split(F.col("text"), " ")
    edges = (
        d.filter(F.size(toks) >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - 1),
                    lambda i: F.struct(
                        F.element_at(toks, i).alias("src"),
                        F.element_at(toks, i + 1).alias("dst"),
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
        .cache()
    )
    out_w = edges.groupBy("src").agg(F.sum("w").alias("out_w"))
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select("dst"))
        .distinct()
        .cache()
    )
    ranks = nodes.withColumn("rank", F.lit(1.0))
    for _ in range(10):
        contrib = (
            edges.join(out_w, "src")
            .join(ranks, F.col("src") == F.col("node"))
            .select("dst", (F.col("rank") * F.col("w") / F.col("out_w")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("in_c"))
        )
        ranks = (
            nodes.join(contrib, F.col("node") == F.col("dst"), "left")
            .select(
                "node",
                (F.lit(0.15) + F.lit(0.85) * F.coalesce(F.col("in_c"), F.lit(0.0))).alias(
                    "rank"
                ),
            )
            .cache()
        )
    return ranks.orderBy(F.col("rank").desc(), "node").limit(20)


def _posting_join_jaccard(d, n=3):
    """Shared stock form: full posting-list self-join + Jaccard verify
    at threshold 0.6 (every n-gram shingle joins — no prefix
    filtering, no length filter) over the twin-planted corpus ``d``."""
    twins = d.select(
        (F.col("doc_id") + F.lit(10_000)).alias("doc_id"),
        F.regexp_replace(F.col("text"), " \\S+\\z", "").alias("text"),
    )
    corpus = d.unionByName(twins)
    toks = F.split(F.col("text"), " ")
    sh = corpus.filter(F.size(toks) >= n).select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                    lambda i: F.concat_ws(
                        " ", *[F.element_at(toks, i + k) for k in range(n)]
                    ),
                )
            )
        ).alias("sh"),
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("nb"))
    jac = F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.6)
        .orderBy("id_a", "id_b")
    )


def q107_prefix_jaccard(t):
    """Stock exact-Jaccard pairs, q41's form at q107's threshold —
    what a user reuses before learning the prefix theorem. Same
    twin-planted 200-doc corpus as the engine query."""
    return _posting_join_jaccard(
        t["documents"].filter(F.col("doc_id") < 100).select("doc_id", "text")
    )


def q121_prefix_jaccard_corpus(t):
    """The same stock posting join at FULL-corpus scope (10,000 docs at
    sf0.1, 4-gram shingles — see the engine q121 docstring for why
    3-grams are collision-bound on this fixture) — where its
    every-shingle-joins cost degrades and the engine's prefix filter
    shows its asymptotic win (the BASELINE.md crossover row)."""
    return _posting_join_jaccard(t["documents"].select("doc_id", "text"), n=4)


def q133_triangle_count(t):
    """Stock triangle count: UNORIENTED wedge join (the GraphX/docs
    example form) — wedges enumerated from EVERY node (cost Σ deg(v)²,
    the hot-node explosion the engine's degree orientation kills),
    each triangle found 3× and divided out. Same bigram edge set and
    same (n_nodes, n_edges, n_triangles) output as the engine's q133."""
    d = t["documents"]
    spark = d.sparkSession
    toks = F.split(F.col("text"), " ")
    bi = d.filter(F.size(toks) >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - 1),
                lambda i: F.struct(
                    F.element_at(toks, i).alias("x"), F.element_at(toks, i + 1).alias("y")
                ),
            )
        ).alias("e")
    ).select("e.x", "e.y")
    und = (
        bi.filter(F.col("x") != F.col("y"))
        .select(F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b"))
        .distinct()
        .cache()
    )
    sym = und.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
        und.select(F.col("b"), F.col("a"))
    )
    e1, e2 = sym.alias("e1"), sym.alias("e2")
    wedges = e1.join(
        e2, (F.col("e1.v") == F.col("e2.u")) & (F.col("e1.u") < F.col("e2.v"))
    ).select(F.col("e1.u").alias("wa"), F.col("e2.v").alias("wc"))
    closed = wedges.join(
        und, (F.col("wa") == F.col("a")) & (F.col("wc") == F.col("b"))
    ).count()
    n_nodes = sym.select("u").distinct().count()
    n_edges = und.count()
    und.unpersist()
    return spark.createDataFrame(
        [(n_nodes, n_edges, closed // 3)], "n_nodes long, n_edges long, n_triangles long"
    )


def q135_rolling_active_users(t):
    """Stock 7-day rolling distinct users: SEVEN self-unioned shifted
    scans of events (one per window offset, the form a user writes when
    count(DISTINCT) over a RANGE frame errors out), then a distinct
    count per window end — 7× the event scan+shuffle volume vs the
    engine's single distinct-activity-pair explode."""
    ev = t["events"]
    act = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("d")
    )
    shifted = None
    for off in range(7):
        s = act.select(
            "user_id", F.date_add(F.col("d"), off).cast("timestamp").alias("win_end")
        )
        shifted = s if shifted is None else shifted.union(s)
    days = act.select(F.col("d").alias("win_end")).distinct()
    return (
        shifted.join(days, "win_end")
        .groupBy(F.col("win_end").alias("day"))
        .agg(F.countDistinct("user_id").alias("wau"))
        .orderBy("day")
    )


def q137_frequent_pairs(t):
    """Stock basket pairs: UNPRUNED self-join — raw lineitem joined to
    raw lineitem on the order key (duplicate (order, part) lines fan
    out in the join), deduped AFTER the join, then counted. Identical
    output to the engine's q137, which dedups items BEFORE the join so
    the pair fan-out never sees duplicate lines."""
    li = t["lineitem"]
    a = li.select("l_orderkey", F.col("l_partkey").alias("pa")).alias("a")
    b = li.select("l_orderkey", F.col("l_partkey").alias("pb")).alias("b")
    pairs = (
        a.join(b, ["l_orderkey"])
        .filter(F.col("pa") < F.col("pb"))
        .select("l_orderkey", "pa", "pb")
        .distinct()
    )
    return (
        pairs.groupBy(F.col("pa").alias("part_a"), F.col("pb").alias("part_b"))
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 2)
        .orderBy(F.col("support").desc(), "part_a", "part_b")
    )


def q149_pipe_corpus_scale(t):
    """Stock external-tool run at corpus scale: the works-on-my-laptop
    form — collect the whole (3×-replicated) corpus to the driver,
    stage ONE file, run the 3-stage awk chain ONCE in a single
    process, read the output back and re-parallelize. No per-partition
    amortization, no parallel forks; serialization and the single
    process are the bottleneck (and at real scale the driver OOMs —
    which is the point of the engine's per-partition form)."""
    import subprocess
    import tempfile

    d = t["documents"]
    spark = d.sparkSession
    amp = d.select(
        F.explode(F.sequence(F.lit(0), F.lit(2))).alias("r"), "doc_id", "text"
    ).select((F.col("doc_id") + F.col("r") * F.lit(1000000)).alias("doc_id"), "text")
    rows = amp.collect()
    with tempfile.TemporaryDirectory(prefix="base149_") as wd:
        in_path = os.path.join(wd, "in.txt")
        t1, t2, out_path = (os.path.join(wd, n) for n in ("t1", "t2", "out.txt"))
        with open(in_path, "w", encoding="utf-8") as f:
            f.write("doc_id\ttext\n")
            for r in rows:
                f.write(f"{r['doc_id']}\t{r['text']}\n")
        stages = [
            ["awk", "-F", "\t", "-v", f"out={t1}",
             'NR > 1 { n = split($2, a, " "); print $1 "\t" n > out }', in_path],
            ["awk", "-F", "\t", "-v", f"out={t2}",
             'NR > 1 { print $1 "\t" length($2) > out }', in_path],
            ["awk", "-F", "\t", "-v", f"out={out_path}",
             'NR == FNR { t[$1] = $2; next } { print $1 "\t" t[$1] "\t" $2 > out }',
             t1, t2],
        ]
        for argv in stages:
            subprocess.run(argv, check=True, capture_output=True)
        out_rows = []
        with open(out_path, encoding="utf-8") as f:
            for line in f:
                i, nt, nc = line.rstrip("\n").split("\t")
                out_rows.append((int(i), int(nt), int(nc)))
    return spark.createDataFrame(
        out_rows, "doc_id long, n_tokens long, n_chars long"
    ).orderBy("doc_id")


def q140_fuzzy_name_join(t):
    """Stock fuzzy join: UNBANDED all-pairs levenshtein — every distinct
    name pair evaluated with the plain (un-thresholded) edit distance,
    the first form a user writes. Same output contract as the engine's
    length-banded + early-exit form."""
    names = t["part"].select(F.col("p_name").alias("name")).distinct()
    a = names.select(F.col("name").alias("name_a"))
    b = names.select(F.col("name").alias("name_b"))
    return (
        a.join(b, F.col("name_a") < F.col("name_b"))
        .withColumn("lev", F.levenshtein("name_a", "name_b"))
        .filter(F.col("lev") <= 3)
        .select("name_a", "name_b", F.col("lev").cast("bigint").alias("lev"))
        .orderBy("name_a", "name_b")
    )


def q166_fuzzy_title_corpus(t):
    """The same unbanded all-pairs levenshtein at SCALE scope (~2k
    distinct doc-title prefixes + drop-2-chars twins — ~2M pairs,
    every one through the plain un-thresholded edit-distance DP),
    where the engine's length banding + thresholded early-exit
    levenshtein shows its win (q140's crossover row, the q107→q121
    pattern)."""
    d = t["documents"].filter(F.col("doc_id") < 1000)
    title = F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 1, 6))
    titles = d.select(title.alias("name")).distinct()
    twins = titles.select(F.expr("substring(name, 1, length(name) - 2)").alias("name"))
    names = titles.unionByName(twins).distinct()
    a = names.select(F.col("name").alias("name_a"))
    b = names.select(F.col("name").alias("name_b"))
    return (
        a.join(b, F.col("name_a") < F.col("name_b"))
        .withColumn("lev", F.levenshtein("name_a", "name_b"))
        .filter(F.col("lev") <= 3)
        .select("name_a", "name_b", F.col("lev").cast("bigint").alias("lev"))
        .orderBy("name_a", "name_b")
    )


def _stock_containment(d, crop_offset, n, threshold=0.9):
    """Shared stock containment form: interpreted HOF-lambda shingle
    extraction, distinct applied AFTER the explode (an extra
    shingle-keyed shuffle), then the full every-shingle posting join —
    no asymmetric prefix prune, no |B| size prune. Output contract
    matches the engine's containment_prefix_pairs exactly (same
    short-doc whole-text rule)."""
    crops = d.select(
        (F.col("doc_id") + F.lit(crop_offset)).alias("doc_id"),
        F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 1, 20)).alias("text"),
    )
    corpus = d.select("doc_id", "text").unionByName(crops)
    toks = F.split(F.col("text"), " ")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + k) for k in range(n)]),
    )
    arr = F.when(F.size(toks) >= n, grams).otherwise(F.array(F.concat_ws(" ", toks)))
    sh = corpus.select("doc_id", F.explode(arr).alias("sh")).distinct()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") != F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_a"))
    return (
        inter.join(sa, "id_a")
        .select("id_a", "id_b", (F.col("inter") / F.col("n_a")).alias("containment"))
        .filter(F.col("containment") >= threshold)
        .orderBy("id_a", "id_b")
    )


def q147_containment_pairs(t):
    """Stock containment at q147's registered 200-doc scope (3-gram)."""
    return _stock_containment(
        t["documents"].filter(F.col("doc_id") < 100), 10_000, 3
    )


def q165_containment_prefix_corpus(t):
    """The same full posting join at FULL-corpus scope (10,000 docs at
    sf0.1, 4-gram shingles) — where every-shingle-joins degrades and
    the engine's asymmetric prefix filter (rarest ~10% of side A only,
    plus the |B| size prune) shows its win."""
    return _stock_containment(t["documents"], 100_000, 4)


def q164_shared_span_pairs(t):
    """Stock shared-span detection: ALL-PAIRS chunk LCS — every doc
    pair (12.5M at sf0.1) crosses a theta join and a vectorized UDF
    scans the two chunk sequences' diagonals for the longest common
    run. The textbook form; cost is quadratic in corpus size where the
    engine's positioned-chunk posting join only ever touches pairs
    that share a chunk (~4k). Same planted passages, same output."""
    from pyspark.sql.functions import pandas_udf

    p16 = " ".join(f"zz{i:02d}" for i in range(1, 17))
    p24 = " ".join(f"qq{i:02d}" for i in range(1, 25))
    d = t["documents"].select(
        "doc_id",
        F.when(
            (F.col("doc_id") < 100) & (F.col("doc_id") % 10 == 0),
            F.concat(F.lit(p16 + " " + p24 + " "), F.col("text")),
        )
        .when(
            (F.col("doc_id") < 200) & (F.col("doc_id") % 5 == 0),
            F.concat(F.lit(p24 + " "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    toks = F.split(F.col("text"), " ")
    n_chunks = F.floor(F.size(toks) / 8).cast("int")
    chunk_arr = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i * 8 + 1, 8)),
    )
    docs = d.filter(n_chunks >= 1).select("doc_id", chunk_arr.alias("chunks"))

    @pandas_udf("int")
    def longest_common_run(ca: pd.Series, cb: pd.Series) -> pd.Series:
        out = []
        for a, b in zip(ca, cb):
            best = 0
            la, lb = len(a), len(b)
            for diag in range(-(lb - 1), la):
                run = 0
                i = max(diag, 0)
                j = i - diag
                while i < la and j < lb:
                    if a[i] == b[j]:
                        run += 1
                        if run > best:
                            best = run
                    else:
                        run = 0
                    i += 1
                    j += 1
            out.append(best)
        return pd.Series(out, dtype="int32")

    a = docs.select(F.col("doc_id").alias("doc_a"), F.col("chunks").alias("ca"))
    b = docs.select(F.col("doc_id").alias("doc_b"), F.col("chunks").alias("cb"))
    return (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .withColumn("longest_run", longest_common_run("ca", "cb").cast("bigint"))
        .filter(F.col("longest_run") >= 2)
        .select("doc_a", "doc_b", "longest_run")
        .orderBy("doc_a", "doc_b")
    )


def q168_skew_adversarial_join(t):
    """Stock form of the adversarial-skew workload: plain unsalted
    join + group-by on the same 75%-hot derived key. At THIS scale the
    plain form does not suffer — Spark broadcasts the 1000-row dim
    (no join shuffle) and map-side partial aggregation defuses the
    algebraic agg skew — so the row measures the COST of the salting
    insurance (engine ≈ 1× stock), while tests/test_skew.py's
    partition histogram demonstrates the regime where plain keying
    collapses to one hot partition and salting is the answer
    (non-broadcastable dims, known hot keys)."""
    li = t["lineitem"].select("l_orderkey", "l_quantity")
    big = (
        li.select(
            F.explode(F.sequence(F.lit(0), F.lit(4))).alias("r"),
            "l_orderkey",
            "l_quantity",
        )
        .withColumn(
            "skew_key",
            F.when(F.col("l_orderkey") % 4 != 0, F.lit(0))
            .otherwise(F.pmod(F.col("l_orderkey"), F.lit(1000)))
            .cast("long"),
        )
    )
    dim = (
        t["orders"]
        .groupBy(F.pmod(F.col("o_orderkey"), F.lit(1000)).cast("long").alias("skew_key"))
        .agg(F.count(F.lit(1)).alias("n_orders_mod"))
    )
    return (
        big.join(dim, "skew_key")
        .groupBy("skew_key")
        .agg(
            F.count(F.lit(1)).alias("n_li"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
            F.max("n_orders_mod").alias("n_orders_mod"),
        )
        .orderBy("skew_key")
    )


def q173_hot_key_two_path_join(t):
    """Stock form of the two-path workload: plain unsalted LEFT join +
    group-by, dim truncated to keys < 900 — identical results to
    q173. At this scale Spark broadcasts the dim, so the row measures
    the COST of the two-path insurance (detection scan + split); the
    refinement's payoff — replicating only the hot subset in the
    non-broadcastable-dim regime — is asserted structurally in
    tests/test_skew.py, on rows, not wall clock."""
    li = t["lineitem"].select("l_orderkey", "l_quantity")
    big = (
        li.select(
            F.explode(F.sequence(F.lit(0), F.lit(4))).alias("r"),
            "l_orderkey",
            "l_quantity",
        )
        .withColumn(
            "skew_key",
            F.when(F.col("l_orderkey") % 4 != 0, F.lit(0))
            .otherwise(F.pmod(F.col("l_orderkey"), F.lit(1000)))
            .cast("long"),
        )
    )
    dim = (
        t["orders"]
        .withColumn("skew_key", F.pmod(F.col("o_orderkey"), F.lit(1000)).cast("long"))
        .filter(F.col("skew_key") < 900)
        .groupBy("skew_key")
        .agg(F.count(F.lit(1)).alias("n_orders_mod"))
    )
    return (
        big.join(dim, "skew_key", "left")
        .groupBy("skew_key")
        .agg(
            F.count(F.lit(1)).alias("n_li"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
            F.max("n_orders_mod").alias("n_orders_mod"),
        )
        .orderBy("skew_key")
    )


def q177_exact_substring_dedup(t):
    """Stock exact-substring (span) dedup: the window+collect_list form
    a straightforward port of the keeper rule produces — row_number()
    over RAW CHUNK STRINGS for first occurrence (a full sort-based
    window keyed on unbounded text, where the engine runs one map-side
    -combinable packed-key min aggregate over 16-byte keys pruned to keys
    seen >=2x), then groupBy(doc).collect_list of every surviving chunk
    string to reassemble (the whole corpus text crosses the shuffle,
    where the engine moves text once through an output-proportional
    removal-set join and reassembles map-side). Same planted passages,
    same output."""
    from pyspark.sql import Window as W

    p24 = " ".join(f"rr{i:02d}" for i in range(1, 25))
    p8 = " ".join(f"ss{i:02d}" for i in range(1, 9))
    q24 = " ".join(f"tt{i:02d}" for i in range(1, 25))
    d = t["documents"].select(
        "doc_id",
        F.when(
            F.col("doc_id") == 3, F.concat(F.lit(q24 + " " + q24 + " "), F.col("text"))
        )
        .when(
            (F.col("doc_id") % 10 == 0) & (F.col("doc_id") < 100),
            F.concat(F.lit(p24 + " "), F.col("text")),
        )
        .when(
            (F.col("doc_id") % 10 == 5) & (F.col("doc_id") < 100),
            F.concat(F.lit(p8 + " "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    toks = F.split(F.col("text"), " ")
    n_chunks = F.floor(F.size(toks) / 8).cast("int")
    idx = F.when(n_chunks > 0, F.sequence(F.lit(0), n_chunks - 1)).otherwise(
        F.array().cast("array<int>")
    )
    chunk_arr = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks, i * 8 + 1, 8))
    )
    ch = d.select("doc_id", F.posexplode(chunk_arr).alias("pos", "chunk")).select(
        "doc_id", F.col("pos").cast("long").alias("pos"), "chunk"
    )
    rn = ch.withColumn(
        "rn", F.row_number().over(W.partitionBy("chunk").orderBy("doc_id", "pos"))
    )
    dup = rn.filter(F.col("rn") > 1).select("doc_id", "pos")
    isl = dup.withColumn(
        "island",
        F.col("pos") - F.row_number().over(W.partitionBy("doc_id").orderBy("pos")),
    )
    removed = (
        isl.withColumn(
            "run_len", F.count(F.lit(1)).over(W.partitionBy("doc_id", "island"))
        )
        .filter(F.col("run_len") >= 2)
        .select("doc_id", "pos")
    )
    kept = ch.join(removed, ["doc_id", "pos"], "left_anti")
    kept_agg = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "chunk"))),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("kept_text")
    )
    nrem = removed.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_removed"))
    tail = F.slice(toks, n_chunks * 8 + 1, F.size(toks) - n_chunks * 8)
    tails = d.select("doc_id", F.array_join(tail, " ").alias("tail"))
    return (
        tails.join(kept_agg, "doc_id", "left")
        .join(nrem, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.coalesce(F.col("kept_text"), F.lit("")) == "", F.coalesce(F.col("tail"), F.lit("")))
            .when(F.coalesce(F.col("tail"), F.lit("")) == "", F.col("kept_text"))
            .otherwise(F.concat(F.col("kept_text"), F.lit(" "), F.col("tail")))
            .alias("clean_text"),
            F.coalesce(F.col("n_removed"), F.lit(0)).cast("long").alias("n_removed"),
        )
        .orderBy("doc_id")
    )



def q182_sliding_substring_dedup(t):
    """Stock sliding-window substring dedup: the straightforward port —
    raw WINDOW STRINGS through a row_number window for first occurrence
    (full sort-based shuffle keyed on unbounded text, where the engine
    aggregates 16-byte md5 keys with a map-side-combinable packed-key min
    pruned to keys seen >=2x), qualifying windows exploded into their 8
    covered token positions, token rows anti-joined against that set
    (every token of the corpus crosses the shuffle TWICE: once as a
    window member, once as a token row), and the doc reassembled with
    collect_list — where the engine joins one output-proportional
    starts-array per doc and does the surgery map-side. Same planted
    passages, same output."""
    from pyspark.sql import Window as W

    p24 = " ".join(f"uu{i:02d}" for i in range(1, 25))
    s12 = " ".join(f"vv{i:02d}" for i in range(1, 13))
    q24 = " ".join(f"xx{i:02d}" for i in range(1, 25))
    d = t["documents"].select(
        "doc_id",
        F.when(F.col("doc_id") == 0, F.concat(F.lit(p24 + " "), F.col("text")))
        .when(
            F.col("doc_id") == 3,
            F.concat(F.lit("pre1 pre2 pre3 " + q24 + " " + q24 + " "), F.col("text")),
        )
        .when(
            (F.col("doc_id") % 10 == 0) & (F.col("doc_id") < 100),
            F.concat(F.lit("off1 off2 off3 " + p24 + " "), F.col("text")),
        )
        .when(
            (F.col("doc_id") % 10 == 5) & (F.col("doc_id") < 100),
            F.concat(F.lit(s12 + " "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    idx = F.when(n >= 8, F.sequence(F.lit(0), n - 8)).otherwise(
        F.array().cast("array<int>")
    )
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 8)))
    g = d.select("doc_id", F.posexplode(grams).alias("pos", "gram")).select(
        "doc_id", F.col("pos").cast("long").alias("pos"), "gram"
    )
    rn = g.withColumn(
        "rn", F.row_number().over(W.partitionBy("gram").orderBy("doc_id", "pos"))
    )
    dup = rn.filter(F.col("rn") > 1).select("doc_id", "pos")
    isl = dup.withColumn(
        "island",
        F.col("pos") - F.row_number().over(W.partitionBy("doc_id").orderBy("pos")),
    )
    qual = (
        isl.withColumn(
            "run_len", F.count(F.lit(1)).over(W.partitionBy("doc_id", "island"))
        )
        .filter(F.col("run_len") >= 9)
        .select("doc_id", "pos")
    )
    covered = (
        qual.select("doc_id", F.explode(F.sequence(F.col("pos"), F.col("pos") + 7)).alias("j"))
        .distinct()
    )
    tokrows = d.select("doc_id", F.posexplode(toks).alias("j", "tok")).select(
        "doc_id", F.col("j").cast("long").alias("j"), "tok"
    )
    kept = tokrows.join(covered, ["doc_id", "j"], "left_anti")
    kept_agg = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "tok"))), lambda s: s["tok"]
            ),
            " ",
        ).alias("clean_text")
    )
    nrem = covered.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_removed"))
    return (
        d.select("doc_id")
        .join(kept_agg, "doc_id", "left")
        .join(nrem, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_removed", F.lit(0)).cast("long").alias("n_removed"),
        )
        .orderBy("doc_id")
    )


QUERIES = {
    "q01_scan_filter_agg": b1_scan_filter_agg,
    "q02_join_revenue_topk": b2_join_revenue_topk,
    "q03_window_topk_per_group": b3_window_topk,
    "q04_tumbling_hourly": b4_tumbling_hourly,
    "q40_dedup_exact": q40_dedup_exact,
    "q42_dedup_minhash_lsh": q42_minhash_lsh,
    "q44_ann_cosine_topk": q44_cosine_topk,
    "q50_pipe_tokens": q50_pipe_tokens,
    "q67_embedding_neardup_lsh": q67_embedding_neardup,
    "q83_repetition_filter": q83_repetition_filter,
    "q87_sequence_packing": q87_sequence_packing,
    "q100_paragraph_dedup": q100_paragraph_dedup,
    "q101_lm_familiarity": q101_lm_familiarity,
    "q102_bm25_topk": q102_bm25_topk,
    "q103_top_ngrams": q103_top_ngrams,
    "q104_profile_table": q104_profile_table,
    "q105_length_histogram": q105_length_histogram,
    "q106_textrank_keywords": q106_textrank_keywords,
    "q107_prefix_jaccard": q107_prefix_jaccard,
    "q121_prefix_jaccard_corpus": q121_prefix_jaccard_corpus,
    "q133_triangle_count": q133_triangle_count,
    "q135_rolling_active_users": q135_rolling_active_users,
    "q137_frequent_pairs": q137_frequent_pairs,
    "q149_pipe_corpus_scale": q149_pipe_corpus_scale,
    "q140_fuzzy_name_join": q140_fuzzy_name_join,
    "q147_containment_pairs": q147_containment_pairs,
    "q164_shared_span_pairs": q164_shared_span_pairs,
    "q177_exact_substring_dedup": q177_exact_substring_dedup,
    "q182_sliding_substring_dedup": q182_sliding_substring_dedup,
    "q165_containment_prefix_corpus": q165_containment_prefix_corpus,
    "q166_fuzzy_title_corpus": q166_fuzzy_title_corpus,
    "q168_skew_adversarial_join": q168_skew_adversarial_join,
    "q173_hot_key_two_path_join": q173_hot_key_two_path_join,
}



def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_runs = int(os.environ.get("BENCH_RUNS", "3"))
    spark = stock_builder("baseline").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    cpus = default_cpus()
    only = sys.argv[1:] or list(QUERIES)
    timings = {}
    for name in only:
        fn = QUERIES[name]
        fn(tables(spark, sf_dir)).collect()  # warm-up
        best = float("inf")
        for _ in range(n_runs):
            t0 = time.perf_counter()
            fn(tables(spark, sf_dir)).collect()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 4)
    print(json.dumps({"config": f"local[{cpus}]/shuffle={cpus}", "sf_dir": sf_dir, "queries": timings}))
    spark.stop()


if __name__ == "__main__":
    main()
