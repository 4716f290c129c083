"""Training-pipeline queries (q83–q90, q92, q97): the corpus-preparation
steps between dedup and tokenization — repetition quality filters, PII
scrubbing, eval-set decontamination, deterministic domain mixing,
sequence packing, epoch shuffle, source caps, int8 quantization,
quantized ANN, and MERGE-style upserts. Extends SURVEY.md §2B's
LLM-data-pipeline table.

The synthetic documents fixture has no PII and no real benchmark
contamination, so q84/q85 plant both deterministically (same
expression on the Spark and DuckDB sides), mirroring the twin-planting
pattern of q41/q67.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators import pipeline as P
from ..operators import urls as _U
from . import materialized_sort, query


# shared since r19 (VERDICT r18 item 5) — one implementation for every
# fixture-materializing query module
from ._scratch import _scratch_dir  # noqa: F401


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


@query(
    "q83_repetition_filter",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
topc AS (
  SELECT doc_id, max(c) AS top_c, sum(c) AS n_tok
  FROM (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2)
  GROUP BY doc_id),
tri AS (
  SELECT doc_id,
         count(*) AS n_tri,
         count(DISTINCT sh) AS n_tri_distinct
  FROM (
    SELECT d.doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS sh
    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) d,
         unnest(range(1, len(toks) - 1)) AS t(i)
    WHERE len(toks) >= 3)
  GROUP BY doc_id)
SELECT t.doc_id,
       CAST(t.top_c AS DOUBLE) / t.n_tok AS top_tok_frac,
       CAST(coalesce(1.0 - CAST(r.n_tri_distinct AS DOUBLE) / r.n_tri, 0.0)
            AS DOUBLE) AS dup_tri_frac,
       (CAST(t.top_c AS DOUBLE) / t.n_tok <= 0.125
        AND coalesce(1.0 - CAST(r.n_tri_distinct AS DOUBLE) / r.n_tri, 0.0) <= 0.05)
         AS keep
FROM topc t LEFT JOIN tri r ON r.doc_id = t.doc_id
ORDER BY t.doc_id
""",
)
def q83_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality filter: most-common-token
    fraction + duplicate-trigram fraction, with a keep/drop verdict.
    One Arrow-batched pass computes BOTH stats per row (no token
    explode, no shuffle), materialized once so the keep-predicate
    doesn't re-evaluate them — see operators/pipeline.py
    repetition_stats for why this beats the pure-expression forms."""
    d = _t(spark, sf_dir, "documents")
    stats = d.select("doc_id", P.repetition_stats(F.col("text")).alias("s"))
    top_frac = F.col("s")["top_tok_frac"]
    dup_frac = F.col("s")["dup_tri_frac"]
    return materialized_sort(
        stats.select(
            "doc_id",
            top_frac.alias("top_tok_frac"),
            dup_frac.alias("dup_tri_frac"),
            ((top_frac <= 0.125) & (dup_frac <= 0.05)).alias("keep"),
        ),
        "doc_id",
    )


_PLANT_PII_SQL = """
  SELECT doc_id,
         CASE doc_id % 5
           WHEN 0 THEN text || ' contact bob' || doc_id || '@example.com now'
           WHEN 1 THEN text || ' call 555-123-4567 today'
           WHEN 2 THEN text || ' from host 10.0.' || doc_id % 256 || '.7'
           ELSE text
         END AS text
  FROM documents
"""


def _plant_pii(d: DataFrame) -> DataFrame:
    planted = (
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.col("text"), F.lit(" contact bob"), F.col("doc_id"), F.lit("@example.com now")
            ),
        )
        .when(F.col("doc_id") % 5 == 1, F.concat(F.col("text"), F.lit(" call 555-123-4567 today")))
        .when(
            F.col("doc_id") % 5 == 2,
            F.concat(F.col("text"), F.lit(" from host 10.0."), F.col("doc_id") % 256, F.lit(".7")),
        )
        .otherwise(F.col("text"))
    )
    return d.select("doc_id", planted.alias("text"))


@query(
    "q84_pii_scrub",
    oracle=f"""
WITH planted AS ({_PLANT_PII_SQL})
SELECT doc_id,
       CAST(len(regexp_extract_all(text,
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}|\\d{{3}}-\\d{{3}}-\\d{{4}}|\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}'))
         AS BIGINT) AS n_pii,
       regexp_replace(text,
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}|\\d{{3}}-\\d{{3}}-\\d{{4}}|\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}',
         '<PII>', 'g') AS clean_text
FROM planted ORDER BY doc_id
""",
)
def q84_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: redact emails / phone numbers / IPv4s and count
    redactions. PII is planted deterministically (the fixture has
    none) so the positives are real. Pure regexp expressions — one
    codegen'd scan; the pattern set is lookaround-free so the same
    regex runs on Java regex and RE2 ('g' flag on the DuckDB side:
    its regexp_replace is first-match-only by default, Spark's is
    always global)."""
    d = _plant_pii(_t(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        P.pii_count(F.col("text")).alias("n_pii"),
        P.scrub_pii(F.col("text")).alias("clean_text"),
    ).orderBy("doc_id")


_CONTAM_N = 5  # shingle width; benchmark = docs 0-9, corpus = docs 10+


@query(
    "q85_contamination_check",
    oracle=f"""
WITH bench_raw AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 10),
corpus_raw AS (
  SELECT c.doc_id,
         CASE WHEN c.doc_id % 3 = 0
              THEN c.text || ' ' ||
                   array_to_string(string_split(b.text, ' ')[1:8], ' ')
              ELSE c.text END AS text
  FROM documents c JOIN bench_raw b ON b.doc_id = c.doc_id % 10
  WHERE c.doc_id >= 10),
bench_sh AS (
  SELECT DISTINCT toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' '
         || toks[i+3] || ' ' || toks[i+4] AS sh
  FROM (SELECT string_split(text, ' ') AS toks FROM bench_raw) d,
       unnest(range(1, len(toks) - {_CONTAM_N - 2})) AS t(i)
  WHERE len(toks) >= {_CONTAM_N}),
corpus_sh AS (
  SELECT DISTINCT doc_id,
         toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' '
         || toks[i+3] || ' ' || toks[i+4] AS sh
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus_raw) d,
       unnest(range(1, len(toks) - {_CONTAM_N - 2})) AS t(i)
  WHERE len(toks) >= {_CONTAM_N}),
hits AS (
  SELECT c.doc_id, count(*) AS n_overlap
  FROM corpus_sh c JOIN bench_sh b ON b.sh = c.sh
  GROUP BY 1)
SELECT r.doc_id,
       CAST(coalesce(h.n_overlap, 0) AS BIGINT) AS n_overlap,
       coalesce(h.n_overlap, 0) >= 1 AS contaminated
FROM corpus_raw r LEFT JOIN hits h ON h.doc_id = r.doc_id
ORDER BY r.doc_id
""",
)
def q85_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: per corpus doc, count word 5-grams
    shared with a benchmark set (docs 0-9 stand in for the eval set;
    every third corpus doc gets a benchmark snippet appended so the
    positives are real). The benchmark's distinct shingles BROADCAST —
    corpus text never shuffles; only (id, count) pairs move in the
    restore join."""
    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") < 10).select("doc_id", "text")
    snippet = F.concat_ws(" ", F.slice(F.split(F.col("b_text"), " "), 1, 8))
    corpus = (
        d.filter(F.col("doc_id") >= 10)
        .join(
            F.broadcast(bench.select(F.col("doc_id").alias("b_id"), F.col("text").alias("b_text"))),
            F.col("doc_id") % 10 == F.col("b_id"),
        )
        .select(
            "doc_id",
            F.when(F.col("doc_id") % 3 == 0, F.concat(F.col("text"), F.lit(" "), snippet))
            .otherwise(F.col("text"))
            .alias("text"),
        )
    )
    out = P.contamination_overlap(corpus, bench, id_col="doc_id", text_col="text", n=_CONTAM_N)
    return out.select(
        "doc_id",
        F.col("n_overlap").cast("bigint").alias("n_overlap"),
        (F.col("n_overlap") >= 1).alias("contaminated"),
    ).orderBy("doc_id")


_MIX_RATES = {"en": 2, "es": 3, "de": 4, "fr": 5, "zh": 7}


@query(
    "q86_stratified_sample",
    oracle="""
SELECT doc_id, lang
FROM documents
WHERE doc_id % (CASE lang WHEN 'en' THEN 2 WHEN 'es' THEN 3 WHEN 'de' THEN 4
                          WHEN 'fr' THEN 5 WHEN 'zh' THEN 7 ELSE 10 END) = 0
ORDER BY doc_id
""",
)
def q86_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain mixing via deterministic stratified sampling: keep every
    k-th doc per language (en 1/2, es 1/3, de 1/4, fr 1/5, zh 1/7).
    Membership is a pure per-row expression — zero shuffle, zero RNG
    state, identical row set on any partitioning (unlike sampleBy),
    and exactly reproducible by the oracle."""
    d = _t(spark, sf_dir, "documents")
    return (
        P.stratified_mod_sample(d, "lang", "doc_id", _MIX_RATES, default_k=10)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


@query(
    "q88_epoch_shuffle",
    oracle="""
SELECT doc_id,
       row_number() OVER (ORDER BY md5('epoch7:' || CAST(doc_id AS VARCHAR)))
         AS pos
FROM documents ORDER BY doc_id
""",
)
def q88_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-reproducible global shuffle: rank docs by md5(epoch:id).
    Same permutation on any cluster/partitioning for a given epoch
    (orderBy(rand) is not), fresh permutation per epoch. Distributed
    via range-repartition + per-partition rank + prefix offsets — no
    single-partition window collapse (operators/pipeline.py
    global_sort_rank)."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    return P.epoch_shuffle(d, "doc_id", epoch=7).select("doc_id", "pos").orderBy("doc_id")


@query(
    "q108_temperature_mixing",
    oracle="""
WITH counts AS (
  SELECT source, count(*) AS n FROM documents GROUP BY source),
weighted AS (
  SELECT source,
         CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1e9 + 0.5) AS BIGINT) AS w
  FROM counts),
quotas AS (
  SELECT source,
         CAST((200 * w) // (SELECT sum(w) FROM weighted) AS BIGINT) AS quota
  FROM weighted),
ranked AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents)
SELECT r.doc_id, r.source, q.quota
FROM ranked r JOIN quotas q USING (source)
WHERE r.rn <= q.quota ORDER BY r.doc_id
""",
)
def q108_temperature_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based domain mixing (XLM-R/mT5/LLaMA recipe shape):
    each source's share of a 200-doc mix is proportional to
    count^0.5, flattening the source distribution toward low-resource
    domains. Integer-exact end to end (9-dp-quantized sqrt weights,
    integer quota division, smallest-id keeps) — see
    operators/pipeline.py temperature_mixing for the determinism and
    100 TB contracts."""
    d = _t(spark, sf_dir, "documents")
    return (
        P.temperature_mixing(
            d, strata_col="source", id_col="doc_id", target_total=200, temperature=0.5
        )
        .select("doc_id", "source", "quota")
        .orderBy("doc_id")
    )


@query(
    "q117_hash_split",
    oracle="""
SELECT doc_id,
       CASE WHEN md5('split42:' || CAST(doc_id AS VARCHAR)) < '0ccccccccccccccc'
            THEN 'val' ELSE 'train' END AS split
FROM documents ORDER BY doc_id
""",
)
def q117_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~5% train/validation split on content-stable ids
    (operators/pipeline.py hash_split): disjoint, exhaustive,
    partitioning-invariant, and leak-proof across re-ingests — the
    oracle replays the same md5 threshold comparison."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    return P.hash_split(d, "doc_id").select("doc_id", "split").orderBy("doc_id")


@query(
    "q89_source_cap",
    oracle="""
SELECT doc_id, source, rn FROM (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents)
WHERE rn <= 3 ORDER BY doc_id
""",
)
def q89_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (keep first 3 per source by doc_id) —
    the anti-domination filter web corpora apply before mixing."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        P.cap_per_group(d, "source", "doc_id", 3)
        .select("doc_id", "source", F.col("rn").cast("bigint").alias("rn"))
        .orderBy("doc_id")
    )


@query(
    "q90_embedding_quantize",
    oracle="""
WITH base AS (
  SELECT vec_id, embedding,
         COALESCE(
           CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) / 127.0,
           0.0) AS scale
  FROM embeddings)
SELECT vec_id, scale,
       COALESCE(array_to_string(list_transform(embedding,
         x -> CAST(floor(CAST(x AS DOUBLE)
                         / (CASE WHEN scale = 0 THEN 1 ELSE scale END) + 0.5)
                   AS TINYINT)), ','), '') AS qvec_str,
       COALESCE(CAST(list_max(list_transform(embedding,
         x -> abs(CAST(x AS DOUBLE)
                  - floor(CAST(x AS DOUBLE)
                          / (CASE WHEN scale = 0 THEN 1 ELSE scale END) + 0.5)
                      * scale))) AS DOUBLE), 0.0) AS max_abs_err
FROM base ORDER BY vec_id
""",
)
def q90_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization + reconstruction error —
    the 4x memory/shuffle lever for ANN at scale. floor(x+0.5)
    rounding on both sides because banker's rounding differs across
    engines; the oracle match proves the quantized bytes are
    reproducible anywhere. The quantized vector is serialized to a
    comma-joined string for the driver compare (CORRECTNESS_r03 showed
    the harness canonicalizer cannot sort raw array columns); q92
    consumes the real array<tinyint> downstream."""
    emb = _t(spark, sf_dir, "embeddings")
    return (
        P.quantize_embeddings_int8(emb, "vec_id", "embedding")
        .select(
            "vec_id",
            "scale",
            F.array_join("qvec", ",").alias("qvec_str"),
            "max_abs_err",
        )
        .orderBy("vec_id")
    )


@query(
    "q92_ann_quantized",
    oracle="""
WITH q AS (
  SELECT vec_id, embedding,
         COALESCE(
           CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) / 127.0,
           0.0) AS scale
  FROM embeddings),
qt AS (
  SELECT vec_id, scale,
         list_transform(embedding,
           x -> floor(CAST(x AS DOUBLE)
                      / (CASE WHEN scale = 0 THEN 1 ELSE scale END) + 0.5)) AS qv
  FROM q),
pairs AS (
  SELECT a.vec_id AS q_id, b.vec_id AS n_id,
         list_dot_product(a.qv, b.qv) * a.scale * b.scale AS qscore
  FROM qt a JOIN qt b ON a.vec_id < 5 AND b.vec_id <> a.vec_id),
ranked AS (
  SELECT q_id, n_id, qscore,
         row_number() OVER (PARTITION BY q_id ORDER BY qscore DESC, n_id) AS rn
  FROM pairs)
SELECT q_id, n_id, qscore, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= 5 ORDER BY q_id, rn
""",
)
def q92_ann_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 neighbors scored on int8-QUANTIZED vectors (q90's op feeding
    search): dot products accumulate in exact integer arithmetic — 4×
    less shuffle/memory than float32 and, unlike float dots, the score
    is order-independent, which is why the oracle can match it
    bit-for-bit. Queries broadcast as in q44; corpus never shuffles."""
    from pyspark.sql import Window

    emb = _t(spark, sf_dir, "embeddings")
    qt = P.quantize_embeddings_int8(emb, "vec_id", "embedding")
    queries = qt.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"),
        F.col("scale").alias("q_scale"),
        F.col("qvec").alias("q_q"),
    )
    corpus = qt.select(
        F.col("vec_id").alias("n_id"),
        F.col("scale").alias("n_scale"),
        F.col("qvec").alias("n_q"),
    )
    dot = F.aggregate(
        F.zip_with("q_q", "n_q", lambda x, y: x.cast("long") * y.cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    scored = corpus.join(F.broadcast(queries), F.col("q_id") != F.col("n_id")).select(
        "q_id",
        "n_id",
        (dot.cast("double") * F.col("q_scale") * F.col("n_scale")).alias("qscore"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("qscore").desc(), F.col("n_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= 5)
        .orderBy("q_id", "rn")
    )


_PACK_BUDGET = 256


@query(
    "q87_sequence_packing",
    oracle=f"""
WITH RECURSIVE sized AS (
  SELECT lang, doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
  FROM documents),
rec AS (
  SELECT lang, doc_id, n_tok, rn,
         n_tok AS fill, CAST(0 AS BIGINT) AS seq_id
  FROM sized WHERE rn = 1
  UNION ALL
  SELECT s.lang, s.doc_id, s.n_tok, s.rn,
         CASE WHEN r.fill + s.n_tok > {_PACK_BUDGET} THEN s.n_tok
              ELSE r.fill + s.n_tok END,
         CASE WHEN r.fill + s.n_tok > {_PACK_BUDGET} THEN r.seq_id + 1
              ELSE r.seq_id END
  FROM rec r JOIN sized s ON s.lang = r.lang AND s.rn = r.rn + 1)
SELECT lang, doc_id, n_tok, seq_id FROM rec ORDER BY lang, doc_id
""",
)
def q87_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing: per language (the shard key), walk docs
    in doc_id order and bin them into back-to-back training sequences
    of at most 256 whitespace tokens. The capacity RESET makes this
    inexpressible as a window running sum — it is the honest grouped
    sequential op (O(1) state per shard; shards pack in parallel).
    Oracle: recursive CTE replaying the same greedy walk."""
    d = _t(spark, sf_dir, "documents")
    sized = d.select(
        "lang", "doc_id", F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tok")
    )
    return materialized_sort(
        P.pack_sequences(
            sized, group_col="lang", order_col="doc_id", size_col="n_tok", budget=_PACK_BUDGET
        ),
        "lang", "doc_id",
    )


@query(
    "q97_upsert_merge",
    oracle="""
WITH updates AS (
  SELECT c_custkey, c_name, c_nationkey, c_acctbal + 100 AS c_acctbal,
         c_mktsegment, FALSE AS is_delete
  FROM customer WHERE c_custkey % 10 = 0
  UNION ALL
  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment, TRUE
  FROM customer WHERE c_custkey % 10 = 1
  UNION ALL
  SELECT c_custkey + 1000000, c_name, c_nationkey, c_acctbal, c_mktsegment, FALSE
  FROM customer WHERE c_custkey % 10 = 2)
SELECT c_custkey, c_name, c_acctbal FROM updates WHERE NOT is_delete
UNION ALL
SELECT c_custkey, c_name, c_acctbal FROM customer b
WHERE b.c_custkey NOT IN (SELECT c_custkey FROM updates)
ORDER BY c_custkey
""",
)
def q97_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics on plain parquet (update + delete + insert
    in one batch): every tenth customer gets +100 balance, the next
    tenth a tombstone, the next tenth re-inserted under a new key. One
    full-outer join produces the next snapshot — exactly what table
    formats compile MERGE into (operators/pipeline.py
    upsert_snapshot); the oracle states the same merge as
    updates ∪ untouched-base."""
    cust = _t(spark, sf_dir, "customer")
    val = ["c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
    upd = (
        cust.filter(F.col("c_custkey") % 10 == 0)
        .select(
            "c_custkey",
            *[
                (F.col(c) + 100).alias(c) if c == "c_acctbal" else F.col(c)
                for c in val
            ],
            F.lit(False).alias("is_delete"),
        )
        .unionByName(
            cust.filter(F.col("c_custkey") % 10 == 1).select(
                "c_custkey", *val, F.lit(True).alias("is_delete")
            )
        )
        .unionByName(
            cust.filter(F.col("c_custkey") % 10 == 2).select(
                (F.col("c_custkey") + 1_000_000).alias("c_custkey"),
                *val,
                F.lit(False).alias("is_delete"),
            )
        )
    )
    snap = P.upsert_snapshot(cust, upd, ["c_custkey"], delete_col="is_delete")
    return snap.select("c_custkey", "c_name", "c_acctbal").orderBy("c_custkey")


@query(
    "q99_scd2_history",
    oracle="""
SELECT user_id, ts AS valid_from,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
       value
FROM events WHERE user_id < 20 AND event_type = 'purchase'
ORDER BY user_id, valid_from
""",
)
def q99_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (SCD type 2) history build: each
    observed value becomes a validity interval [valid_from, valid_to),
    the current row keeping valid_to = NULL — the temporal-table
    pattern every warehouse maintains. One window shuffle on the
    entity key; event_id tiebreak makes interval boundaries
    deterministic under same-timestamp updates."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.filter((F.col("user_id") < 20) & (F.col("event_type") == "purchase"))
        .select(
            "user_id",
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
            "value",
        )
        .orderBy("user_id", "valid_from")
    )


@query(
    "q171_snapshot_diff",
    oracle="""
WITH oldt AS (
  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders),
newt AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0
              ELSE o_totalprice END AS o_totalprice,
         o_orderstatus
  FROM orders WHERE o_orderkey % 97 <> 0
  UNION ALL
  SELECT o_orderkey + 1000000000, o_totalprice * 2, 'N'
  FROM orders WHERE o_orderkey % 101 = 0)
SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
       CASE WHEN o.o_orderkey IS NULL THEN 'added'
            WHEN n.o_orderkey IS NULL THEN 'removed'
            WHEN (o.o_totalprice IS DISTINCT FROM n.o_totalprice)
              OR (o.o_orderstatus IS DISTINCT FROM n.o_orderstatus)
              THEN 'changed' END AS change_type,
       o.o_totalprice  AS old_o_totalprice,
       n.o_totalprice  AS new_o_totalprice,
       o.o_orderstatus AS old_o_orderstatus,
       n.o_orderstatus AS new_o_orderstatus
FROM oldt o FULL OUTER JOIN newt n ON o.o_orderkey = n.o_orderkey
WHERE (o.o_orderkey IS NULL) OR (n.o_orderkey IS NULL)
   OR (o.o_totalprice IS DISTINCT FROM n.o_totalprice)
   OR (o.o_orderstatus IS DISTINCT FROM n.o_orderstatus)
ORDER BY o_orderkey
""",
)
def q171_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff / CDC extraction (operators/pipeline.py
    snapshot_diff — the INVERSE of q97's MERGE): when an upstream only
    ships full snapshots, the change feed every load audit and
    incremental consumer needs is DERIVED — one full-outer join on the
    key classifying each key as added / removed / changed with the old
    and new values side by side; unchanged keys drop inside the join
    projection so output is proportional to churn, not table size.
    The next-generation snapshot is constructed deterministically from
    orders (every 97th key removed, every 5th price bumped, every
    101st key re-inserted at an offset key as an add), so all three
    change classes are planted and the oracle reproduces the exact
    feed — a missed class, a NULL-comparison slip (eqNullSafe), or a
    duplicate-key fan-out all hash-mismatch. 100 TB shape: one
    key-shuffle per side (zero for bucketed snapshots — q151's
    layout); partition-prune both sides to touched partitions when the
    upstream marks them."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    survivors = o.filter(F.col("o_orderkey") % 97 != 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") + 1.0)
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        "o_orderstatus",
    )
    inserts = o.filter(F.col("o_orderkey") % 101 == 0).select(
        (F.col("o_orderkey") + F.lit(1_000_000_000)).alias("o_orderkey"),
        (F.col("o_totalprice") * 2).alias("o_totalprice"),
        F.lit("N").alias("o_orderstatus"),
    )
    new = survivors.unionByName(inserts)
    return P.snapshot_diff(
        o, new, ["o_orderkey"], ["o_totalprice", "o_orderstatus"]
    ).orderBy("o_orderkey")


@query(
    "q178_decontaminate_spans",
    oracle="""
WITH bench_raw AS (SELECT doc_id, text FROM documents WHERE doc_id < 10),
corpus_raw AS (
  SELECT c.doc_id,
         CASE WHEN c.doc_id % 3 = 0
              THEN array_to_string(
                     string_split(c.text, ' ')[1:5]
                     || string_split(b.text, ' ')[1:8]
                     || string_split(c.text, ' ')[6:len(string_split(c.text, ' '))],
                     ' ')
              ELSE c.text END AS text
  FROM documents c JOIN bench_raw b ON b.doc_id = c.doc_id % 10
  WHERE c.doc_id >= 10),
bt AS (SELECT string_split(text, ' ') AS t FROM bench_raw),
bench_g AS (
  SELECT DISTINCT t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' '
         || t[i+3] || ' ' || t[i+4] AS g
  FROM bt, unnest(range(1, len(t) - 3)) AS u(i)
  WHERE len(t) >= 5),
ct AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus_raw),
cg AS (
  SELECT doc_id, CAST(i AS BIGINT) AS i,
         t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' '
         || t[i+3] || ' ' || t[i+4] AS g
  FROM ct, unnest(range(1, len(t) - 3)) AS u(i)
  WHERE len(t) >= 5),
hits AS (SELECT DISTINCT c.doc_id, c.i FROM cg c JOIN bench_g b ON b.g = c.g),
tokpos AS (
  SELECT doc_id, CAST(j AS BIGINT) AS j, t[j] AS tok
  FROM ct, unnest(range(1, len(t) + 1)) AS u(j)),
covered AS (
  SELECT DISTINCT p.doc_id, p.j
  FROM tokpos p JOIN hits h ON h.doc_id = p.doc_id
   AND p.j BETWEEN h.i - 2 AND h.i + 4 + 2),
kept AS (
  SELECT p.doc_id, string_agg(p.tok, ' ' ORDER BY p.j) AS clean_text,
         count(*) AS n_kept
  FROM tokpos p LEFT JOIN covered c ON c.doc_id = p.doc_id AND c.j = p.j
  WHERE c.doc_id IS NULL
  GROUP BY p.doc_id),
tot AS (SELECT doc_id, count(*) AS n_tok FROM tokpos GROUP BY doc_id)
SELECT t.doc_id,
       coalesce(k.clean_text, '') AS clean_text,
       CAST(t.n_tok - coalesce(k.n_kept, 0) AS BIGINT) AS n_removed
FROM tot t LEFT JOIN kept k ON k.doc_id = t.doc_id
ORDER BY t.doc_id
""",
)
def q178_decontaminate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPAN-LEVEL decontamination (added r10): q85 counts and flags
    contaminated docs; this query REMOVES the leaked span and keeps the
    doc — the production decontamination rule (GPT-3-style removal
    windows; a 99%-clean long document should lose 12 tokens, not its
    place in the corpus). Benchmark = docs 0-9; every third corpus doc
    gets the benchmark's first 8 tokens INSERTED MID-DOC (after token
    5) — the mid-sentence placement proves detection is alignment-free
    (sliding 5-grams, where q177's tumbling chunks would need
    alignment). operators/pipeline.py remove_reference_spans with
    pad=2: every token covered by a reference-matching 5-gram, plus 2
    tokens each side, is excised — for the planted 8-token snippet
    that is 12 tokens per contaminated doc (8 + 2 pad each side),
    boundary-clamped. The oracle recomputes the full rule (sliding
    grams, hit positions, pad window, reassembly, per-doc token
    counts); a pad off by one, a 0/1-based position slip, or a
    non-sliding detector all hash-mismatch. Reference n-gram hashes
    broadcast; corpus text never shuffles for detection; covered
    positions return as one integer array per contaminated doc."""
    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") < 10).select("doc_id", "text")
    toks = F.split(F.col("text"), " ")
    snip = F.slice(F.split(F.col("b_text"), " "), 1, 8)
    planted = F.array_join(
        F.concat(
            F.slice(toks, 1, 5),
            snip,
            F.slice(toks, 6, F.greatest(F.lit(0), F.size(toks) - 5)),
        ),
        " ",
    )
    corpus = (
        d.filter(F.col("doc_id") >= 10)
        .join(
            F.broadcast(
                bench.select(F.col("doc_id").alias("b_id"), F.col("text").alias("b_text"))
            ),
            F.col("doc_id") % 10 == F.col("b_id"),
        )
        .select(
            "doc_id",
            F.when(F.col("doc_id") % 3 == 0, planted).otherwise(F.col("text")).alias("text"),
        )
    )
    return P.remove_reference_spans(
        corpus, bench, id_col="doc_id", text_col="text", n=5, pad=2
    ).orderBy("doc_id")


_Q179_ORACLE = """
WITH d AS (
  SELECT doc_id, doc_id % 40 AS g, doc_id // 40 AS v, (doc_id * 37) % 101 AS qual
  FROM documents WHERE doc_id < 120),
raw AS (
  SELECT doc_id, qual,
    CASE v
      WHEN 0 THEN (CASE WHEN g % 2 = 0 THEN 'http' ELSE 'https' END)
                  || '://example.com/page' || g || '?a=1&b=' || g
                  || '&w=%2fq&z=%7ex'
      WHEN 1 THEN (CASE WHEN g % 2 = 0 THEN 'HTTP' ELSE 'HTTPS' END)
                  || '://EXAMPLE.com' || (CASE WHEN g % 2 = 0 THEN ':80' ELSE ':443' END)
                  || '/%70age' || g || '/?b=' || g
                  || '&utm_source=feed&a=1&w=%2Fq&z=~x#sec'
      ELSE (CASE WHEN g % 2 = 0 THEN 'http' ELSE 'https' END)
           || '://example.com' || (CASE WHEN g % 2 = 0 THEN ':80' ELSE ':443' END)
           || '/page' || g || '?b=' || g || '&a=1&fbclid=XYZ' || g
           || '&w=%2Fq&z=%7Ex'
    END AS url
  FROM d),
c1 AS (SELECT doc_id, qual, regexp_replace(trim(url), '#.*', '') AS u FROM raw),
c2 AS (SELECT doc_id, qual,
   lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.\\-]*)://', 1)) AS scheme,
   lower(regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?#]*)', 1)) AS auth,
   {path_norm} AS path,
   {q_norm} AS q
 FROM c1),""".format(
    path_norm=_U.sql_pct_normalize(
        "regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*([^?#]*)', 1)"
    ),
    q_norm=_U.sql_pct_normalize("regexp_extract(u, '\\?([^#]*)', 1)"),
) + """

c3 AS (SELECT doc_id, qual, scheme,
   CASE WHEN scheme = 'http' THEN regexp_replace(auth, ':80$', '')
        WHEN scheme = 'https' THEN regexp_replace(auth, ':443$', '')
        ELSE auth END AS auth,
   CASE WHEN regexp_replace(path, '/+$', '') = '' THEN '/'
        ELSE regexp_replace(path, '/+$', '') END AS path,
   array_to_string(list_sort(list_filter(string_split(q, '&'),
     x -> x <> '' AND NOT regexp_matches(x,
       '^(utm_[^=]*|fbclid|gclid|msclkid|yclid|igshid|mc_eid|_ga)(=.*)?$'))), '&') AS qs
 FROM c2),
canon AS (SELECT doc_id, qual,
   scheme || '://' || auth || path
   || CASE WHEN qs <> '' THEN '?' || qs ELSE '' END AS canon_url
 FROM c3),
keep AS (SELECT doc_id,
   row_number() OVER (PARTITION BY canon_url ORDER BY qual DESC, doc_id) AS rn
 FROM canon)
SELECT c.doc_id, c.canon_url, c.qual, (k.rn = 1) AS kept
FROM canon c JOIN keep k USING (doc_id)
ORDER BY c.doc_id
"""


@query("q179_url_canonical_dedup", oracle=_Q179_ORACLE)
def q179_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + keep-best-per-URL dedup (added r11 —
    VERDICT r10 item 2: the production layer CommonCrawl-shape
    pipelines run BEFORE every content-dedup tier, and the one layer
    the repo lacked). The documents fixture has no URL column, so the
    query PLANTS one deterministically (same expression both engines,
    the q84/q85 pattern): 40 canonical groups x 3 crawled variants
    each — clean, and two adversarial forms layering case-varied
    scheme/host, explicit default port (:80/:443 matched to the
    group's scheme), trailing slash, fragment, utm_* and fbclid
    tracking params, and permuted query-parameter order. r12 (the
    VERDICT/ADVICE r11 percent-encoding item): every variant also
    carries the ``w=%2fq`` / ``w=%2Fq`` hex-case pair (reserved octet
    — must uppercase-fold, never decode) and the ``z=%7ex`` / ``z=~x``
    / ``z=%7Ex`` triple (unreserved — must decode to ``~``), and v1's
    path arrives as ``/%70age`` (decodes to ``/page``); the oracle's
    percent steps are GENERATED from the operator's own
    UNRESERVED_BY_HEX table (sql_pct_normalize — the q183 discipline),
    so the engines cannot drift.

    operators/urls.py canonicalize_url is pure JVM string/array
    expressions (regexp_extract + filter/array_sort/array_join HOFs
    — no UDF, no shuffle; the canonical column is a scan-time
    projection), and url_keeper_dedup reuses q176's keeper rule —
    (quality desc, id) row_number — keyed directly on the canonical
    string: URL identity is an equivalence relation for free, so no
    edge generation, no connected components, ONE shuffle total. The
    quality surrogate (doc_id*37) % 101 is decorrelated from id order
    (q176's argument), so keepers are spread across variants and the
    oracle's window proves the argmax + min-id tie-break, while the
    hashed canon_url column proves every canonicalization rule
    byte-for-byte. Output: all 120 docs with (canon_url, qual, kept).
    """
    from ..operators import urls as U

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    g = F.col("doc_id") % 40
    v = F.expr("doc_id div 40")
    qual = (F.col("doc_id") * 37) % 101
    scheme_l = F.when(g % 2 == 0, F.lit("http")).otherwise(F.lit("https"))
    scheme_u = F.when(g % 2 == 0, F.lit("HTTP")).otherwise(F.lit("HTTPS"))
    port = F.when(g % 2 == 0, F.lit(":80")).otherwise(F.lit(":443"))
    gs = g.cast("string")
    url = (
        F.when(v == 0, F.concat(scheme_l, F.lit("://example.com/page"), gs,
                                F.lit("?a=1&b="), gs, F.lit("&w=%2fq&z=%7ex")))
        .when(v == 1, F.concat(scheme_u, F.lit("://EXAMPLE.com"), port,
                               F.lit("/%70age"), gs, F.lit("/?b="), gs,
                               F.lit("&utm_source=feed&a=1&w=%2Fq&z=~x#sec")))
        .otherwise(F.concat(scheme_l, F.lit("://example.com"), port,
                            F.lit("/page"), gs, F.lit("?b="), gs,
                            F.lit("&a=1&fbclid=XYZ"), gs,
                            F.lit("&w=%2Fq&z=%7Ex")))
    )
    rows = d.select("doc_id", url.alias("url"), qual.alias("qual"))
    kept_ids = U.url_keeper_dedup(rows, "url", "doc_id", "qual").select(
        "doc_id", F.lit(True).alias("kept")
    )
    return (
        rows.withColumn("canon_url", U.canonicalize_url(F.col("url")))
        .join(kept_ids, "doc_id", "left")
        .select(
            "doc_id",
            "canon_url",
            "qual",
            F.coalesce("kept", F.lit(False)).alias("kept"),
        )
        .orderBy("doc_id")
    )


@query(
    "q181_domain_blocklist_cap",
    oracle="""
WITH d AS (
  SELECT doc_id, doc_id % 6 AS k, doc_id % 3 AS s, (doc_id * 37) % 101 AS qual
  FROM documents WHERE doc_id < 150),
raw AS (
  SELECT doc_id, qual,
    'https://'
    || (CASE s WHEN 0 THEN '' WHEN 1 THEN 'www.' ELSE 'cdn.static.' END)
    || 'd' || k
    || (CASE WHEN k % 3 = 0 THEN '.co.uk' ELSE '.com' END)
    || '/p/' || doc_id AS url
  FROM d),
hosts AS (
  SELECT doc_id, qual,
    regexp_replace(
      lower(regexp_extract(trim(url), '^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?#]*)', 1)),
      ':[0-9]+$', '') AS host
  FROM raw),
doms AS (
  SELECT doc_id, qual,
    CASE
      WHEN len(string_split(host, '.')) < 2 THEN host
      WHEN len(string_split(host, '.')) >= 3
           AND array_to_string(string_split(host, '.')[-2:], '.')
               IN ('co.uk','com.au','co.jp','com.br','co.in')
        THEN array_to_string(string_split(host, '.')[-3:], '.')
      ELSE array_to_string(string_split(host, '.')[-2:], '.')
    END AS domain
  FROM hosts),
flagged AS (
  SELECT doc_id, qual, domain,
         domain IN ('d0.co.uk', 'd1.com') AS blocked
  FROM doms),
ranked AS (
  SELECT doc_id,
         row_number() OVER (PARTITION BY domain
                            ORDER BY qual DESC, doc_id) AS rn
  FROM flagged WHERE NOT blocked)
SELECT f.doc_id, f.domain, f.qual, f.blocked,
       coalesce(r.rn <= 8, FALSE) AS kept
FROM flagged f LEFT JOIN ranked r USING (doc_id)
ORDER BY f.doc_id
""",
)
def q181_domain_blocklist_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOMAIN-level filtering (added r11 — the layer above q179's URL
    layer, completing the crawl-side ladder: canonical URL → registered
    domain → blocklist → per-domain cap; the corpus-prep steps
    CommonCrawl-shape pipelines run before any content tier). URLs are
    planted deterministically (the q179 pattern): 6 registered domains
    d0–d5, every third on the two-level ``.co.uk`` suffix, each
    crawled bare / ``www.`` / ``cdn.static.`` — so the registered-
    domain heuristic must fold three host spellings per domain and
    take THREE labels exactly on the co.uk rows. ``d0.co.uk`` and
    ``d1.com`` are blocklisted (subdomains die with the parent by
    construction); survivors keep at most 8 docs per domain, best
    quality first (q89's cap with the derived key; the surrogate
    (doc_id*37)%101 is id-decorrelated, q176's argument).

    operators/urls.py registered_domain is a pure-expression
    projection (the explicit size guards pin the Spark/DuckDB
    negative-slice divergence on short hosts); the blocklist is a
    broadcast anti-join (blocklists are small by nature — the corpus
    never shuffles for it) and the cap is ONE window shuffle on the
    domain. Output: all 150 docs with (domain, qual, blocked, kept) —
    the hashed domain column proves the heuristic, the kept column the
    blocklist ∘ cap composition.
    """
    from ..operators import urls as U

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    k = F.col("doc_id") % 6
    s = F.col("doc_id") % 3
    qual = (F.col("doc_id") * 37) % 101
    sub = (
        F.when(s == 0, F.lit(""))
        .when(s == 1, F.lit("www."))
        .otherwise(F.lit("cdn.static."))
    )
    tld = F.when(k % 3 == 0, F.lit(".co.uk")).otherwise(F.lit(".com"))
    url = F.concat(
        F.lit("https://"), sub, F.lit("d"), k.cast("string"), tld,
        F.lit("/p/"), F.col("doc_id").cast("string"),
    )
    rows = d.select("doc_id", url.alias("url"), qual.alias("qual"))
    blocklist = spark.createDataFrame(
        [("d0.co.uk",), ("d1.com",)], "domain string"
    )
    surviving = U.domain_blocklist_filter(rows, "url", blocklist)
    capped = U.domain_cap(surviving, "url", "doc_id", "qual", cap=8)
    kept_ids = capped.select("doc_id", F.lit(True).alias("kept"))
    blocked_doms = {r["domain"] for r in blocklist.collect()}
    return (
        rows.withColumn("domain", U.registered_domain(F.col("url")))
        .join(kept_ids, "doc_id", "left")
        .select(
            "doc_id",
            "domain",
            "qual",
            F.col("domain").isin(list(blocked_doms)).alias("blocked"),
            F.coalesce("kept", F.lit(False)).alias("kept"),
        )
        .orderBy("doc_id")
    )


# --- q183: HTML -> text extraction (WET-style), r11 ------------------------
from ..operators import html as _H

# The planted-HTML fragments (shared verbatim by the Spark builder and
# the generated DuckDB oracle below — the q179 twin-planting pattern).
# They exercise every rule in operators/html.py's table: head/title/
# style/script dropped with content, nav/footer containers dropped,
# <br> -> newline, block closers -> newline, a comment containing
# tag-lookalikes, an UPPERCASE tag with attributes, all six entities
# (&amp; decoded last), and a triple-space collapse inside a list item.
_H_A = '<!DOCTYPE html><html><head><title> Doc &amp; '
_H_B = (
    ' </title><style>p { margin: 0 }</style>'
    '<script type="text/javascript">if (a < b) { track("x&y"); }</script></head>'
    '<body><nav class="top"><a href="/home">Home</a> | <a href="/about">About</a></nav>'
    '<h1>Doc<br>'
)
_H_C = "</h1><p>"
_H_D = '</p><!-- drop <p>junk</p> --><P CLASS="x">'
# r12: <em>/<i> mid-word — inline tags strip to EMPTY ("emphasized"),
# where the generic strip would word-split ("em pha sized").
_H_E = (
    " &amp; more <em>em</em>pha<i>sized</i> &lt;tags&gt;"
    " &quot;quoted&quot;&nbsp;end</P>"
)
_H_LI = '<ul><li><a href="/one">item one</a></li><li>item   two</li></ul>'
_H_FOOT = '<footer>&copy; 2026 <a href="/terms">Terms</a></footer></body></html>'

_H_HTML_SQL = (
    "'" + _H_A + "' || doc_id || '" + _H_B + "' || doc_id || '" + _H_C
    + "' || p1 || '" + _H_D + "' || p2 || '" + _H_E
    + "' || CASE WHEN doc_id % 3 = 0 THEN '" + _H_LI + "' ELSE '' END || '"
    + _H_FOOT + "'"
)

_Q183_ORACLE = (
    "WITH p AS (SELECT doc_id,"
    " array_to_string(list_slice(string_split(text, ' '), 1, 5), ' ') AS p1,"
    " array_to_string(list_slice(string_split(text, ' '), 6,"
    " len(string_split(text, ' '))), ' ') AS p2 FROM documents),\n"
    "h AS (SELECT doc_id, " + _H_HTML_SQL + " AS html FROM p)\n"
    "SELECT doc_id, " + _H.sql_title("html") + " AS title, "
    + _H.sql_extract_text("html") + " AS clean_text, "
    + _H.sql_link_count("html") + " AS n_links FROM h ORDER BY doc_id"
)


@query("q183_html_extract_text", oracle=_Q183_ORACLE)
def q183_html_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML -> text extraction, WET-style (added r11 — the OTHER
    pre-content-dedup production layer besides q179's URL
    canonicalization: CommonCrawl-shape pipelines ingest raw HTML and
    derive the text every downstream tier consumes). The documents
    fixture has no HTML column, so the query PLANTS a full page per
    doc deterministically (same fragments on both engines — the
    q179/q84 pattern): head with entity-bearing title + style +
    script (whose content contains a bare '<' and quoted '&'), nav
    and footer boilerplate containers with anchors, an <h1> split by
    <br>, two <p> blocks carrying the doc's real tokens, a comment
    containing tag-lookalikes, an uppercase <P CLASS=..> tag, all six
    core entities, mid-word <em>/<i> inline tags (r12 — must strip to
    EMPTY yielding "emphasized", where the space-strip generic rule
    would word-split; VERDICT r11 obs. 3), and (docs ≡ 0 mod 3) a
    list with an extra anchor and a triple-space run.

    operators/html.py extract_html_text is a pure JVM regexp chain
    driven by one (pattern, replacement) rule table; the DuckDB
    oracle's extraction expression is GENERATED from that same table
    (sql_extract_text), so a verdict here proves the rule chain is
    engine-portable (RE2-compatible subset) and that title extraction
    (entity decode + trim), container/comment/tag stripping, block ->
    newline conversion, entity decode ordering (&amp; last), and
    whitespace normalization all hold byte-for-byte — any rule
    reorder, greedy quantifier, or dialect divergence hash-mismatches.
    n_links (4 for the mod-3 docs, else 3) is the link-density
    numerator computed on RAW html, proving signal extraction happens
    pre-strip. At 100 TB this is a scan-time projection (no shuffle,
    whole-stage codegen) — see the module docstring's scale notes.
    """
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    p1 = F.array_join(F.slice(toks, 1, 5), " ")
    p2 = F.array_join(F.slice(toks, 6, F.greatest(F.lit(0), F.size(toks) - 5)), " ")
    ids = F.col("doc_id").cast("string")
    li = F.when(F.col("doc_id") % 3 == 0, F.lit(_H_LI)).otherwise(F.lit(""))
    html = F.concat(
        F.lit(_H_A), ids, F.lit(_H_B), ids, F.lit(_H_C), p1,
        F.lit(_H_D), p2, F.lit(_H_E), li, F.lit(_H_FOOT),
    )
    return (
        d.select("doc_id", html.alias("html"))
        .select(
            "doc_id",
            _H.html_title(F.col("html")).alias("title"),
            _H.extract_html_text(F.col("html")).alias("clean_text"),
            _H.html_link_count(F.col("html")).alias("n_links"),
        )
        .orderBy("doc_id")
    )


# --- q184: WARC/WET container parsing ladder, r12 ---------------------------
# The declared r11 registration candidate (COVERAGE.md): the operator
# landed pytest-verified in r11; this query puts the full crawl-input
# ladder — scan-time record framing, header rules, Content-Length
# cross-check, HTTP envelope strip, q183's HTML extraction — under one
# DuckDB hash. The records are PLANTED from documents (the q179/q183
# twin-planting pattern) and written to a real file so the Spark side
# exercises the ACTUAL lineSep framing; the oracle reconstructs every
# output column from the same planted truth without framing (framing
# correctness is exactly what would diverge).

_CRLF_SQL = "chr(13) || chr(10)"

_Q184_BODY_SQL = (
    "CASE WHEN doc_id % 3 = 0 THEN "
    "'<html><head><title>Doc &amp; ' || doc_id || '</title></head>"
    "<body><h1>D' || doc_id || '</h1><p>' || text || '</p></body></html>' "
    "ELSE payload END"
)

_Q184_ORACLE = (
    """
WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 150),
p AS (SELECT doc_id, text,
   CASE WHEN doc_id % 3 = 0 THEN 'response'
        WHEN doc_id % 3 = 1 THEN 'conversion'
        ELSE 'metadata' END AS warc_type,
   CASE WHEN doc_id % 3 = 0 THEN
          'HTTP/1.1 200 OK' || {crlf} || 'Content-Type: text/html'
          || {crlf} || {crlf}
          || '<html><head><title>Doc &amp; ' || doc_id
          || '</title></head><body><h1>D' || doc_id || '</h1><p>' || text
          || '</p></body></html>'
        WHEN doc_id % 3 = 1 THEN text
        ELSE 'fetchTimeMs: 5' || doc_id || {crlf} || 'recordCount: 1'
   END AS payload
 FROM d),
b AS (SELECT doc_id, warc_type, payload, {body} AS body FROM p)
SELECT doc_id AS rec_id, warc_type,
  '2026-01-01T00:' || lpad((doc_id % 60)::varchar, 2, '0') || ':00Z' AS warc_date,
  strlen(payload) + CASE WHEN doc_id % 10 = 0 THEN 7 ELSE 0 END AS content_length,
  (doc_id % 10 = 0) AS frame_suspect,
  {title} AS title,
  {clean} AS clean_text
FROM b ORDER BY rec_id
""".format(
        crlf=_CRLF_SQL,
        body=_Q184_BODY_SQL,
        title=_H.sql_title("body"),
        clean=_H.sql_extract_text("body"),
    )
)


@query("q184_warc_parse_ladder", oracle=_Q184_ORACLE)
def q184_warc_parse_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC container parsing, full crawl-input ladder (added r12 —
    the r11-declared registration; VERDICT r11 item 2): 150 planted
    WARC records — response (HTTP envelope wrapping an HTML page built
    from the doc's text), conversion (WET-style direct text payload),
    and metadata (CRLF-separated key:value payload), cycling by
    doc_id % 3 — are written to a REAL file and read back through
    operators/warc.py: read_warc frames records at SCAN time via the
    text source's lineSep (no custom InputFormat — at 100 TB the scan
    parallelizes by file split like any text read), parse_warc
    projects the typed header columns plus the frame_suspect
    Content-Length cross-check (ADVICE r11 — docs ≡ 0 mod 10 plant a
    deliberately wrong length and MUST flag; everything else must
    not), http_body strips the HTTP envelope exactly when the payload
    opens with a status line, and q183's extract_html_text/html_title
    derive the text tier. Every stage after the scan is a pure
    regexp projection — zero Exchange until the final orderBy
    (plan-asserted in tests/test_warc.py).

    The oracle reconstructs all seven output columns from the SAME
    planted truth WITHOUT the file round-trip — so the hash verdict
    isolates exactly what the Spark side adds: marker framing, header
    extraction (first-occurrence, case-insensitive, escaped-literal
    names), the byte-count cross-check, and envelope stripping. The
    driver-side fixture write is a bounded collect (150 records — the
    q169/q148 fixture-file pattern); production reads existing WARC
    files, never writes them.
    """
    import os

    from ..operators import warc as W

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    ids = F.col("doc_id").cast("string")
    crlf = "\r\n"
    html = F.concat(
        F.lit("<html><head><title>Doc &amp; "), ids,
        F.lit("</title></head><body><h1>D"), ids,
        F.lit("</h1><p>"), F.col("text"), F.lit("</p></body></html>"),
    )
    http_payload = F.concat(
        F.lit("HTTP/1.1 200 OK" + crlf + "Content-Type: text/html" + crlf + crlf),
        html,
    )
    meta_payload = F.concat(
        F.lit("fetchTimeMs: 5"), ids, F.lit(crlf + "recordCount: 1")
    )
    m3 = F.col("doc_id") % 3
    wtype = (
        F.when(m3 == 0, F.lit("response"))
        .when(m3 == 1, F.lit("conversion"))
        .otherwise(F.lit("metadata"))
    )
    payload = (
        F.when(m3 == 0, http_payload)
        .when(m3 == 1, F.col("text"))
        .otherwise(meta_payload)
    )
    clen = F.octet_length(payload) + F.when(
        F.col("doc_id") % 10 == 0, F.lit(7)
    ).otherwise(F.lit(0))
    date = F.concat(
        F.lit("2026-01-01T00:"),
        F.lpad((F.col("doc_id") % 60).cast("string"), 2, "0"),
        F.lit(":00Z"),
    )
    record = F.concat(
        F.lit("WARC/1.0" + crlf),
        F.lit("WARC-Type: "), wtype, F.lit(crlf),
        F.lit("WARC-Target-URI: https://ex.com/d/"), ids, F.lit(crlf),
        F.lit("WARC-Date: "), date, F.lit(crlf),
        F.lit("Content-Length: "), clen.cast("string"), F.lit(crlf),
        F.lit(crlf), payload, F.lit(crlf + crlf),
    )
    rows = d.select("doc_id", record.alias("rec")).orderBy("doc_id").collect()
    wdir = _scratch_dir("q184_warc_")
    # newline="" so Python never translates the spec-mandated CRLFs.
    with open(os.path.join(wdir, "part.warc"), "w", encoding="utf-8", newline="") as fh:
        fh.write("".join(r["rec"] for r in rows))

    parsed = W.parse_warc(W.read_warc(spark, wdir))
    body = W.http_body(F.col("payload"))
    return (
        parsed.select(
            F.regexp_extract("target_uri", r"/d/(\d+)$", 1).cast("long").alias("rec_id"),
            "warc_type",
            "warc_date",
            "content_length",
            "frame_suspect",
            _H.html_title(body).alias("title"),
            _H.extract_html_text(body).alias("clean_text"),
        )
        .orderBy("rec_id")
    )


# --- q185: WARC container sink roundtrip, r12 --------------------------------

_Q185_ORACLE = """
WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
p AS (SELECT doc_id,
   CASE WHEN doc_id % 20 = 0 THEN 'warcinfo' ELSE 'conversion' END AS warc_type,
   CASE WHEN doc_id % 20 = 0 THEN '' ELSE 'https://ex.com/d/' || doc_id END AS target_uri,
   '2026-01-01T00:' || lpad((doc_id % 60)::varchar, 2, '0') || ':00Z' AS warc_date,
   CASE WHEN doc_id % 20 = 0 THEN 'crawl=r12 seg=' || doc_id
        ELSE 'l1' || chr(10) || 'l2 ' || text END AS payload
 FROM d)
SELECT doc_id AS rec_id, warc_type, target_uri, warc_date,
  '<urn:md5:' || md5(target_uri || chr(31) || warc_date || chr(31) || payload)
    || '>' AS record_id,
  strlen(payload) AS content_length,
  FALSE AS frame_suspect,
  payload
FROM p ORDER BY rec_id
"""


@query("q185_warc_sink_roundtrip", oracle=_Q185_ORACLE)
def q185_warc_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC container SINK + lossless roundtrip (added r12 — the write
    half of the q184 layer, the csv/json/xml roundtrip discipline
    applied to the crawl container): 200 planted records (conversion
    with multi-line payloads built from the doc's text; every
    twentieth a warcinfo with no target URI) go through
    operators/warc.py write_warc — a fully DISTRIBUTED text sink where
    each row becomes one record and the sink's lineSep supplies the
    spec's double-CRLF separator, so every part file is a valid
    standalone WARC file and no coalesce ever happens — then back
    through read_warc → parse_warc (with the WARC-Record-ID header
    projected alongside via the r12 passthrough).

    The oracle reconstructs every column from the planted truth
    WITHOUT the container hop, so a hash match proves the write→read
    loop is lossless: multi-line payloads survive framing, the
    writer's computed Content-Length makes frame_suspect false by
    construction on all 200 rows, the absent-URI header is omitted
    (not emitted empty) and parses back as '', and the deterministic
    md5-urn WARC-Record-ID is replayed byte-for-byte by the oracle
    (same md5 over the same (uri, date, payload) triple — pinning that
    the writer emits exactly the headers it promises). The write-side
    guards (payload embedding the record marker, CR/LF in header
    values) are pytest-pinned in tests/test_warc.py; production
    misuse fails at WRITE time instead of corrupting files.
    """

    from ..operators import warc as W

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    ids = F.col("doc_id").cast("string")
    is_info = F.col("doc_id") % 20 == 0
    out = (
        d.select(
            F.when(is_info, F.lit("warcinfo")).otherwise(F.lit("conversion")).alias("warc_type"),
            F.when(is_info, F.lit("")).otherwise(
                F.concat(F.lit("https://ex.com/d/"), ids)
            ).alias("target_uri"),
            F.concat(
                F.lit("2026-01-01T00:"),
                F.lpad((F.col("doc_id") % 60).cast("string"), 2, "0"),
                F.lit(":00Z"),
            ).alias("warc_date"),
            F.when(is_info, F.concat(F.lit("crawl=r12 seg="), ids)).otherwise(
                F.concat(F.lit("l1\nl2 "), F.col("text"))
            ).alias("payload"),
        )
    )
    wdir = _scratch_dir("q185_warc_") + "/out"
    W.write_warc(out, wdir)

    raw = W.read_warc(spark, wdir)
    with_id = raw.withColumn(
        "record_id", W.warc_header(F.col("record"), "WARC-Record-ID")
    )
    parsed = W.parse_warc(with_id)
    rec_id = F.coalesce(
        F.nullif(F.regexp_extract("target_uri", r"/d/(\d+)$", 1), F.lit("")).cast("long"),
        F.regexp_extract("payload", r"seg=(\d+)", 1).cast("long"),
    )
    return (
        parsed.select(
            rec_id.alias("rec_id"),
            "warc_type",
            "target_uri",
            "warc_date",
            "record_id",
            "content_length",
            "frame_suspect",
            "payload",
        )
        .orderBy("rec_id")
    )


# --- q186: robots.txt compliance filtering, r12 ------------------------------

# Planted robots.txt texts (shared by builder comment and truth table):
#   docs.example.com  — a trainbot-specific group (Disallow /private/,
#                       Allow /private/ok$) ABOVE a catch-all group
#                       that disallows everything: group selection must
#                       pick the UA group or every URL goes False;
#   wild.example.com  — star group with wildcard + $-anchored rules,
#                       an Allow that out-specifies a Disallow, and the
#                       historical empty "Disallow:" (allow-all idiom);
#   other.example.com — only an otherbot group: trainbot selects no
#                       group, so everything is allowed;
#   none.example.com  — no robots.txt row at all.
_ROBOTS_H0 = (
    "# crawl policy\n"
    "User-agent: examplebot\n"
    "Disallow: /private/\n"
    "Allow: /private/ok$\n"
    "\n"
    "User-agent: *\n"
    "Disallow: /\n"
)
_ROBOTS_H1 = (
    "User-agent: *\r\n"
    "Disallow: /tmp/*\r\n"
    "Disallow: *.jpg$\r\n"
    "Allow: /tmp/pub\r\n"
    "Disallow:\r\n"
    "Crawl-delay: 10\r\n"
)
_ROBOTS_H2 = (
    "User-agent: otherbot\n"
    "Disallow: /\n"
    "\n"
    "User-agent: example\n"
    "Disallow: /public/\n"
    "\n"
    "User-agent: examplebot\n"
    "Disallow: /private/\n"
)

_Q186_ORACLE = """
WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 160),
g AS (SELECT doc_id, doc_id % 4 AS h, (doc_id // 4) % 8 AS p FROM d),
u AS (SELECT doc_id, h, p,
  'https://' || CASE h WHEN 0 THEN 'docs.example.com'
                       WHEN 1 THEN 'wild.example.com'
                       WHEN 2 THEN 'other.example.com'
                       ELSE 'none.example.com' END
  || CASE p WHEN 0 THEN '/private/doc' || doc_id
            WHEN 1 THEN '/private/ok'
            WHEN 2 THEN '/public/doc' || doc_id
            WHEN 3 THEN '/tmp/cache/' || doc_id
            WHEN 4 THEN '/tmp/pub/file' || doc_id
            WHEN 5 THEN '/private/okx'
            WHEN 6 THEN '/media/x' || doc_id || '.jpg'
            ELSE '/' END AS url
 FROM g)
SELECT doc_id, url,
  NOT ((h = 0 AND p IN (0, 5)) OR (h = 1 AND p IN (3, 6))
       OR (h = 2 AND p IN (0, 1, 5))) AS crawl_allowed
FROM u ORDER BY doc_id
"""


@query("q186_robots_compliance", oracle=_Q186_ORACLE)
def q186_robots_compliance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt compliance filtering (added r12, re-pinned r13 with
    RFC 9309 product-token PREFIX group matching — VERDICT r12 item
    5): 160 planted URLs spread over a 4-host × 8-path grid resolve
    against three planted robots.txt texts through
    operators/robots.py parse_robots (group assembly via
    gaps-and-islands over exploded lines; ua_match="prefix": the
    crawler identifies as ``ExampleBot/1.2``, whose product token
    ``examplebot`` is prefix-matched case-insensitively by the
    planted ``User-agent: examplebot`` groups, with the LONGEST
    matching token winning and ``*`` only as fallback) and
    robots_filter (rule paths compiled to safe regexes ON the rule
    frame — ``*`` spans, trailing ``$`` anchors, everything else
    escaped; longest match wins, ties prefer Allow, no match allows).

    The oracle is a HAND-DERIVED truth table over the planted grid
    (the q183 hand-ground-truth pytest elevated to the driver hash):
    every failure mode maps to a specific cell — group selection gone
    wrong flips docs.example.com's public paths (the catch-all group
    below disallows ``/``), broken prefix matching flips the whole
    docs host to the catch-all, a missed longest-token-wins flips
    other.example.com's public paths (its shorter ``example`` group
    disallows ``/public/`` and must LOSE to ``examplebot``'s
    ``/private/`` group, while its unselected ``otherbot`` group
    disallows ``/``), a broken ``$`` anchor flips ``/private/ok`` vs
    ``/private/okx``, a broken wildcard flips ``/tmp/cache``, a
    missed longest-match-Allow flips ``/tmp/pub``, keeping the empty
    ``Disallow:`` as a rule flips the whole wild host, and a host
    with no robots at all must default to allowed.
    Scale shape: the rule frame is per-host-tiny (broadcastable, with
    the r13 ``broadcast=False`` host-keyed shuffle fallback for
    web-scale host universes), the URL corpus joins it by host and
    never all-pairs; the per-URL match is regexp_like against
    host-local rules. Parsing windows run over robots LINES, never
    corpus rows.
    """
    from ..operators import robots as R

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 160)
    ids = F.col("doc_id").cast("string")
    h = F.col("doc_id") % 4
    p = F.expr("doc_id div 4") % 8
    host = (
        F.when(h == 0, F.lit("docs.example.com"))
        .when(h == 1, F.lit("wild.example.com"))
        .when(h == 2, F.lit("other.example.com"))
        .otherwise(F.lit("none.example.com"))
    )
    path = (
        F.when(p == 0, F.concat(F.lit("/private/doc"), ids))
        .when(p == 1, F.lit("/private/ok"))
        .when(p == 2, F.concat(F.lit("/public/doc"), ids))
        .when(p == 3, F.concat(F.lit("/tmp/cache/"), ids))
        .when(p == 4, F.concat(F.lit("/tmp/pub/file"), ids))
        .when(p == 5, F.lit("/private/okx"))
        .when(p == 6, F.concat(F.lit("/media/x"), ids, F.lit(".jpg")))
        .otherwise(F.lit("/"))
    )
    urls = d.select(
        "doc_id", F.concat(F.lit("https://"), host, path).alias("url")
    )
    robots = spark.createDataFrame(
        [
            ("docs.example.com", _ROBOTS_H0),
            ("wild.example.com", _ROBOTS_H1),
            ("other.example.com", _ROBOTS_H2),
        ],
        "host string, robots_txt string",
    )
    rules = R.parse_robots(robots, user_agent="ExampleBot/1.2", ua_match="prefix")
    return (
        R.robots_filter(urls, rules)
        .select("doc_id", "url", "crawl_allowed")
        .orderBy("doc_id")
    )


# --- q187: HTTP status/MIME gate on WARC responses, r12 ----------------------

_Q187_ORACLE = """
WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 150),
g AS (SELECT doc_id, text, doc_id % 5 AS s, doc_id % 3 AS m FROM d),
p AS (SELECT doc_id, text,
   CASE s WHEN 0 THEN 200 WHEN 1 THEN 200 WHEN 2 THEN 301
          WHEN 3 THEN 404 ELSE 200 END AS status,
   CASE m WHEN 0 THEN 'text/html; charset=utf-8'
          WHEN 1 THEN 'image/jpeg' ELSE 'text/plain' END AS ctype
 FROM g)
SELECT doc_id, status,
  trim(string_split(ctype, ';')[1]) AS mime,
  (status = 200 AND trim(string_split(ctype, ';')[1]) LIKE 'text/%') AS kept,
  CASE WHEN status = 200 AND trim(string_split(ctype, ';')[1]) = 'text/html'
       THEN 'D' || doc_id || chr(10) || text
       WHEN status = 200 AND trim(string_split(ctype, ';')[1]) = 'text/plain'
       THEN text
       ELSE '' END AS clean_text
FROM p ORDER BY doc_id
"""


@query("q187_http_status_mime_gate", oracle=_Q187_ORACLE)
def q187_http_status_mime_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTTP status + MIME gate on WARC response records (added r12 —
    the fetch-tier filter between q184's parsing and q183's
    extraction: raw crawls are mostly redirects, 404s, and non-text
    content types, and production pipelines drop them BEFORE paying
    for extraction). 150 planted response records carry envelopes with
    status cycling 200/200/301/404/200 and Content-Type cycling
    text/html (with a charset parameter that must be split off) /
    image/jpeg / text/plain; html bodies wrap the doc's text in an
    <h1>+<p> page, non-html payloads carry bytes the gate must never
    extract.

    operators/warc.py http_status / http_header are pure regexp
    projections over the payload's envelope block (the warc_header
    discipline one protocol layer down — first occurrence,
    case-insensitive, parameter split downstream); the gate keeps
    status == 200 AND mime LIKE 'text/%' and extraction runs ONLY on
    kept rows (non-kept rows emit '' — the oracle pins that the jpeg
    payload's fake bytes never leak into clean_text). Like q184 the
    records go through a REAL file so the envelope survives framing;
    the oracle rebuilds status/mime/kept/clean_text closed-form from
    the planted grid. Zero Exchange until the final sort (the warc
    plan contract)."""

    from ..operators import warc as W

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    ids = F.col("doc_id").cast("string")
    crlf = "\r\n"
    s = F.col("doc_id") % 5
    m = F.col("doc_id") % 3
    status_line = (
        F.when(s == 2, F.lit("HTTP/1.1 301 Moved Permanently"))
        .when(s == 3, F.lit("HTTP/1.1 404 Not Found"))
        .otherwise(F.lit("HTTP/1.1 200 OK"))
    )
    ctype = (
        F.when(m == 0, F.lit("text/html; charset=utf-8"))
        .when(m == 1, F.lit("image/jpeg"))
        .otherwise(F.lit("text/plain"))
    )
    body = (
        F.when(m == 0, F.concat(F.lit("<html><body><h1>D"), ids,
                                F.lit("</h1><p>"), F.col("text"),
                                F.lit("</p></body></html>")))
        .when(m == 1, F.concat(F.lit("\xff\xd8fakejpegbytes"), ids))
        .otherwise(F.col("text"))
    )
    payload = F.concat(
        status_line, F.lit(crlf),
        F.lit("Content-Type: "), ctype, F.lit(crlf),
        F.lit("Server: test"), F.lit(crlf),
        F.lit(crlf), body,
    )
    records = d.select(
        F.lit("response").alias("warc_type"),
        F.concat(F.lit("https://ex.com/d/"), ids).alias("target_uri"),
        F.lit("2026-01-01T00:00:00Z").alias("warc_date"),
        payload.alias("payload"),
    )
    wdir = _scratch_dir("q187_warc_") + "/out"
    W.write_warc(records, wdir)

    parsed = W.parse_warc(W.read_warc(spark, wdir))
    pay = F.col("payload")
    status = W.http_status(pay)
    mime = F.trim(F.element_at(F.split(W.http_header(pay, "Content-Type"), ";"), 1))
    kept = (status == 200) & mime.startswith("text/")
    from ..operators import html as H

    clean = F.when(
        kept & (mime == "text/html"), H.extract_html_text(W.http_body(pay))
    ).when(kept, W.http_body(pay)).otherwise(F.lit(""))
    return (
        parsed.select(
            F.regexp_extract("target_uri", r"/d/(\d+)$", 1).cast("long").alias("doc_id"),
            status.alias("status"),
            mime.alias("mime"),
            kept.alias("kept"),
            clean.alias("clean_text"),
        )
        .orderBy("doc_id")
    )


# --- q188: sitemap discovery parsing, r12 ------------------------------------

_Q188_ORACLE = """
WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 120),
base AS (SELECT doc_id, doc_id % 5 = 0 AS is_index,
                'https://s' || (doc_id % 4) || '.com' AS site,
                lpad(((doc_id % 28) + 1)::varchar, 2, '0') AS dd,
                ((doc_id % 9) + 1)::varchar AS pr
 FROM d),
urlrows AS (
  SELECT doc_id, 'url' AS kind,
         site || '/p' || doc_id || '?a=1&b=2' AS loc,
         '2026-01-' || dd AS lastmod, 'daily' AS changefreq,
         ('0.' || pr)::double AS priority
  FROM base WHERE NOT is_index
  UNION ALL
  SELECT doc_id, 'url', site || '/q' || doc_id, '', '', NULL
  FROM base WHERE NOT is_index
  UNION ALL
  SELECT doc_id, 'url', site || '/r' || doc_id, '2026-01-' || dd, '', NULL
  FROM base WHERE NOT is_index),
idxrows AS (
  SELECT doc_id, 'sitemap' AS kind,
         site || '/sitemap-' || doc_id || '-1.xml' AS loc,
         '2026-01-' || dd AS lastmod, '' AS changefreq,
         NULL::double AS priority
  FROM base WHERE is_index
  UNION ALL
  SELECT doc_id, 'sitemap', site || '/sitemap-' || doc_id || '-2.xml',
         '', '', NULL
  FROM base WHERE is_index)
SELECT * FROM (SELECT * FROM urlrows UNION ALL SELECT * FROM idxrows)
ORDER BY doc_id, loc
"""


@query("q188_sitemap_discovery", oracle=_Q188_ORACLE)
def q188_sitemap_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap parsing (added r12 — the DISCOVERY side of the crawl
    ladder: robots.txt's ``Sitemap:`` lines point at these files, and
    the produced locs feed q179's canonicalization and the frontier).
    120 planted sitemap documents — every fifth a ``<sitemapindex>``
    with two child references (one carrying lastmod), the rest
    ``<urlset>`` files with three ``<url>`` entries each: a full entry
    (whitespace-padded loc with an entity-escaped ``&amp;``, lastmod,
    changefreq, priority), a loc-only entry, and a loc+lastmod entry —
    all under the real sitemaps.org namespace declaration, which the
    grammar must treat as an inert attribute.

    operators/urls.py parse_sitemap is a regexp_extract_all +
    transform projection (the html.py discipline — tags matched with
    attributes tolerated, ``<url>`` must not match ``<urlset>`` and
    ``<sitemap>`` must not match ``<sitemapindex>`` via the \\b
    anchor, values trimmed, the five XML character entities decoded
    ``&amp;`` last, priority cast to double); both document kinds
    parse in ONE pass and the doc_id passthrough keeps provenance.
    The oracle rebuilds every expected entry row closed-form from the
    planted grid — a missed entry, a leaked namespace attribute, an
    undecoded entity, or a priority parse drift all hash-mismatch.
    """
    from ..operators import urls as U

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    ids = F.col("doc_id").cast("string")
    is_index = F.col("doc_id") % 5 == 0
    site = F.concat(F.lit("https://s"), (F.col("doc_id") % 4).cast("string"), F.lit(".com"))
    dd = F.lpad(((F.col("doc_id") % 28) + 1).cast("string"), 2, "0")
    pr = ((F.col("doc_id") % 9) + 1).cast("string")
    urlset = F.concat(
        F.lit('<?xml version="1.0" encoding="UTF-8"?>\n'
              '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">\n'
              " <url><loc> "),
        site, F.lit("/p"), ids, F.lit("?a=1&amp;b=2 </loc><lastmod>2026-01-"), dd,
        F.lit("</lastmod><changefreq>daily</changefreq><priority>0."), pr,
        F.lit("</priority></url>\n <url><loc>"),
        site, F.lit("/q"), ids,
        F.lit("</loc></url>\n <url><loc>"),
        site, F.lit("/r"), ids, F.lit("</loc><lastmod>2026-01-"), dd,
        F.lit("</lastmod></url>\n</urlset>"),
    )
    index = F.concat(
        F.lit('<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">\n'
              " <sitemap><loc>"),
        site, F.lit("/sitemap-"), ids, F.lit("-1.xml</loc><lastmod>2026-01-"), dd,
        F.lit("</lastmod></sitemap>\n <sitemap><loc>"),
        site, F.lit("/sitemap-"), ids, F.lit("-2.xml</loc></sitemap>\n</sitemapindex>"),
    )
    docs = d.select(
        "doc_id", F.when(is_index, index).otherwise(urlset).alias("xml")
    )
    return (
        U.parse_sitemap(docs, "xml")
        .select("doc_id", "kind", "loc", "lastmod", "changefreq", "priority")
        .orderBy("doc_id", "loc")
    )


# --- q189: end-to-end crawl-ladder composition, r13 --------------------------
# VERDICT r12 item 1: every ladder layer holds its own hash verdict
# (q184 parse -> q187 gate -> q183 text -> q179 canonical -> q186
# robots -> dedup), but composition is where schema/encoding drift
# hides. This query runs planted raw WARC bytes through the FULL chain
# to a deduped, compliance-filtered corpus under a single DuckDB hash.

_Q189_BODY_SQL = (
    "'<html><head><title>U' || u || ' &amp; doc</title></head>"
    "<body><h1>D' || doc_id || '</h1><p>' || text || '</p></body></html>'"
)

_Q189_ORACLE = (
    """
WITH d AS (SELECT doc_id, text, doc_id // 2 AS u, (doc_id * 37) % 101 AS qual
           FROM documents WHERE doc_id < 360),
g AS (SELECT doc_id, text, u, qual,
             u % 3 AS h, u % 4 AS p, (u // 3) % 3 AS s FROM d),
f AS (SELECT doc_id, text, u, qual, h, p, s,
   CASE h WHEN 0 THEN 'docs.example.com'
          WHEN 1 THEN 'media.example.com'
          ELSE 'open.example.com' END AS host,
   CASE p WHEN 0 THEN '/private/u' WHEN 1 THEN '/pub/u'
          WHEN 2 THEN '/tmp/u' ELSE '/page/u' END AS pathpfx
 FROM g),
c AS (SELECT doc_id, u, qual, text,
   'https://' || host || pathpfx || u || '?a=1&b=' || u AS canon_url,
   {body} AS body
 FROM f
 WHERE s = 0 AND NOT ((h = 0 AND p = 0) OR (h = 1 AND p = 2))),
k AS (SELECT *, row_number() OVER (
        PARTITION BY canon_url ORDER BY qual DESC, doc_id) AS rn FROM c)
SELECT doc_id AS rec_id, canon_url, qual,
  {title} AS title, {clean} AS clean_text
FROM k WHERE rn = 1 ORDER BY rec_id
""".format(
        body=_Q189_BODY_SQL,
        title=_H.sql_title("body"),
        clean=_H.sql_extract_text("body"),
    )
)


@query("q189_crawl_ladder_e2e", oracle=_Q189_ORACLE)
def q189_crawl_ladder_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end crawl-ladder composition (added r13 — VERDICT r12
    item 1): 360 planted WARC response records go through the ENTIRE
    ingestion chain as one plan — file-framed WARC parse (q184's
    layer), HTTP status/MIME gate (q187), HTML -> text extraction
    (q183), URL canonicalization (q179), robots.txt compliance with
    the r13 prefix grammar (q186), and canonical-URL keeper dedup —
    and the deduped, compliance-filtered corpus lands under a single
    DuckDB hash. Each layer already holds its own verdict; THIS query
    pins the handoffs, where encoding/schema drift hides.

    The grid (u = doc_id div 2 is the URL group, two crawled variants
    per group): hosts cycle docs/media/open.example.com (u mod 3),
    paths cycle /private//pub//tmp//page (u mod 4), fetch outcomes
    cycle 200+text/html / 404 / 200+image/jpeg (u div 3 mod 3). The
    even variant carries the clean URL with unsorted query params
    (``?b=N&a=1``); the odd variant reaches the SAME canonical URL the
    hard way — uppercase scheme+host, explicit ``:443``, a
    percent-encoded path octet (``/%70rivate`` must decode to
    ``/private`` BEFORE robots matching — the q179->q186 handoff), a
    ``utm_source`` tracking param, and a fragment. Robots rules plant
    the r13 grammar corners IN the composed path: docs.example.com
    selects its ``User-agent: examplebot`` group only via
    product-token prefix matching against crawler ``ExampleBot/1.2``
    (its catch-all group disallows ``/`` — broken prefix matching
    blanks the whole host), and the media rules row is keyed
    ``Media.example.com:443`` — mixed case AND port — so the
    rules-side host folding (ADVICE r12) is load-bearing, not
    decorative. The 404 and image/jpeg records must die at the gate
    BEFORE extraction; blocked paths (/private/ on docs, /tmp/* on
    media via wildcard) must die at robots; the keeper window then
    picks the higher-quality variant per canonical URL ((doc_id*37)
    mod 101 — decorrelated from id order, never tied). 360 records in,
    exactly 50 corpus rows out.

    Spark shape: ONE pass — scan-time lineSep framing, every ladder
    stage a pure projection (regexp header/envelope/extract rules,
    canonicalization HOFs, the broadcast robots fold), and the keeper
    window's canonical-key hash partition is the composition's ONLY
    corpus shuffle (url_keeper_dedup re-canonicalizes the canonical
    column — idempotence is the pinned invariant that makes canonical
    URLs safe as stored keys, exercised here in anger). The oracle
    reconstructs the surviving corpus closed-form from the planted
    grid (extraction/title SQL generated from the SAME rule table —
    the q183/q184 discipline), so a drift in ANY layer or handoff
    hash-mismatches. Fixture write is a bounded 360-row collect (the
    q184/q185 pattern); production reads existing WARC files."""
    import os

    from ..operators import html as H
    from ..operators import robots as R
    from ..operators import urls as U
    from ..operators import warc as W

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 360)
    ids = F.col("doc_id").cast("string")
    u = F.expr("doc_id div 2")
    us = u.cast("string")
    h = u % 3
    p = u % 4
    s = F.expr("doc_id div 2 div 3") % 3
    crlf = "\r\n"
    host = (
        F.when(h == 0, F.lit("docs.example.com"))
        .when(h == 1, F.lit("media.example.com"))
        .otherwise(F.lit("open.example.com"))
    )
    host_uc = F.upper(host)
    pathpfx = (
        F.when(p == 0, F.lit("/private/u"))
        .when(p == 1, F.lit("/pub/u"))
        .when(p == 2, F.lit("/tmp/u"))
        .otherwise(F.lit("/page/u"))
    )
    # odd variant: first path letter percent-encoded (p->%70, t->%74)
    pathenc = (
        F.when(p == 0, F.lit("/%70rivate/u"))
        .when(p == 1, F.lit("/%70ub/u"))
        .when(p == 2, F.lit("/%74mp/u"))
        .otherwise(F.lit("/%70age/u"))
    )
    raw_url = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(F.lit("https://"), host, pathpfx, us,
                 F.lit("?b="), us, F.lit("&a=1")),
    ).otherwise(
        F.concat(F.lit("HTTPS://"), host_uc, F.lit(":443"), pathenc, us,
                 F.lit("?a=1&utm_source=x&b="), us, F.lit("#frag")),
    )
    html = F.concat(
        F.lit("<html><head><title>U"), us, F.lit(" &amp; doc</title></head>"),
        F.lit("<body><h1>D"), ids, F.lit("</h1><p>"), F.col("text"),
        F.lit("</p></body></html>"),
    )
    payload = (
        F.when(s == 0, F.concat(
            F.lit("HTTP/1.1 200 OK" + crlf
                  + "Content-Type: text/html; charset=utf-8" + crlf + crlf),
            html))
        .when(s == 1, F.lit(
            "HTTP/1.1 404 Not Found" + crlf + "Content-Type: text/html"
            + crlf + crlf + "<html><body>gone</body></html>"))
        .otherwise(F.concat(
            F.lit("HTTP/1.1 200 OK" + crlf + "Content-Type: image/jpeg"
                  + crlf + crlf + "JPEGBYTES"), ids))
    )
    date = F.concat(
        F.lit("2026-02-01T00:"),
        F.lpad((F.col("doc_id") % 60).cast("string"), 2, "0"),
        F.lit(":00Z"),
    )
    record = F.concat(
        F.lit("WARC/1.0" + crlf),
        F.lit("WARC-Type: response" + crlf),
        F.lit("WARC-Record-ID: <urn:doc:"), ids, F.lit(">" + crlf),
        F.lit("WARC-Target-URI: "), raw_url, F.lit(crlf),
        F.lit("WARC-Date: "), date, F.lit(crlf),
        F.lit("Content-Length: "), F.octet_length(payload).cast("string"),
        F.lit(crlf), F.lit(crlf), payload, F.lit(crlf + crlf),
    )
    rows = d.select("doc_id", record.alias("rec")).orderBy("doc_id").collect()
    wdir = _scratch_dir("q189_warc_")
    # newline="" so Python never translates the spec-mandated CRLFs.
    with open(os.path.join(wdir, "part.warc"), "w", encoding="utf-8", newline="") as fh:
        fh.write("".join(r["rec"] for r in rows))

    # ---- the composed ladder: everything below derives from the file
    raw = W.read_warc(spark, wdir)
    rid = W.warc_header(F.col("record"), "WARC-Record-ID")
    parsed = W.parse_warc(
        raw.select(
            F.regexp_extract(rid, r"urn:doc:(\d+)", 1).cast("long").alias("rec_id"),
            "record",
        )
    )
    pay = F.col("payload")
    status = W.http_status(pay)
    mime = F.trim(F.element_at(F.split(W.http_header(pay, "Content-Type"), ";"), 1))
    body = W.http_body(pay)
    gated = parsed.filter((status == 200) & mime.startswith("text/")).select(
        "rec_id",
        "target_uri",
        ((F.col("rec_id") * 37) % 101).alias("qual"),
        H.html_title(body).alias("title"),
        H.extract_html_text(body).alias("clean_text"),
    )
    canon = gated.withColumn("canon_url", U.canonicalize_url(F.col("target_uri")))
    robots = spark.createDataFrame(
        [
            ("docs.example.com",
             "User-agent: examplebot\nDisallow: /private/\n\n"
             "User-agent: *\nDisallow: /\n"),
            ("Media.example.com:443",
             "User-agent: *\nDisallow: /tmp/*\n"),
        ],
        "host string, robots_txt string",
    )
    rules = R.parse_robots(robots, user_agent="ExampleBot/1.2", ua_match="prefix")
    allowed = (
        R.robots_filter(canon, rules, url_col="canon_url")
        .filter(F.col("crawl_allowed"))
        .drop("crawl_allowed")
    )
    kept = U.url_keeper_dedup(allowed, "canon_url", "rec_id", "qual")
    return kept.select(
        "rec_id", "canon_url", "qual", "title", "clean_text"
    ).orderBy("rec_id")


# --- q190: gzipped sitemap frontier walk, r13 --------------------------------

_Q190_ORACLE = """
WITH d AS (SELECT doc_id AS i FROM documents WHERE doc_id < 30),
ks AS (SELECT i, kk FROM d CROSS JOIN (SELECT 0 AS kk UNION ALL SELECT 1)),
b AS (SELECT i, kk,
        'https://ex.com/site' || i || '-c' || kk || '.xml.gz' AS src,
        'https://s' || i || '.com/a' || kk AS pre,
        '2026-03-' || lpad(((i % 28) + 1)::varchar, 2, '0') AS lm,
        ('0.' || ((i % 9) + 1))::double AS pr
 FROM ks),
rows AS (
  SELECT src, pre || '/p' || i || '?b=2&a=%7Ev' AS loc, lm AS lastmod,
         'weekly' AS changefreq, pr AS priority, 1 AS depth,
         pre || '/p' || i || '?a=~v&b=2' AS canon_url
  FROM b
  UNION ALL
  SELECT src, pre || '/q' || i || '/', '', '', NULL, 1,
         pre || '/q' || i
  FROM b
  UNION ALL
  SELECT src, 'HTTPS://S' || i || '.COM/a' || kk || '/r' || i, lm, '', NULL, 1,
         pre || '/r' || i
  FROM b)
SELECT src AS source_sitemap, loc, lastmod, changefreq, priority, depth, canon_url
FROM rows ORDER BY loc
"""


@query("q190_sitemap_frontier_gz", oracle=_Q190_ORACLE)
def q190_sitemap_frontier_gz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gzipped sitemap frontier walk (added r13 — VERDICT r12 item 4,
    both halves): 30 planted sites each write a REAL 2-level sitemap
    tree to disk as ``.xml.gz`` files — one ``<sitemapindex>``
    referencing two ``<urlset>`` children, each child carrying three
    entries — and the engine walks it end to end: read_sitemap_files
    decompresses transparently through the text source's codec
    dispatch (one row per file, no UDF), the file paths map back to
    fetch URLs, and sitemap_frontier resolves the 30 index seeds
    level by level (the pagerank_int driver-loop-over-plans pattern:
    per level one semi-join + one parse projection + one visited
    anti-join, frontier localCheckpointed — the driver iterates
    PLANS, never data).

    The entry grid pins the q188 -> q179 handoff the composition
    question VERDICT r12 raised: the first entry's loc carries an
    XML-entity ``&amp;`` AND a percent-encoded unreserved octet
    (``%7Ev``) — entity decode happens at PARSE time (the loc must
    come out with a literal ``&`` and the ``%7E`` intact), then
    canonicalize_url's pct_normalize decodes ``%7E`` to ``~`` and
    sorts the params; the second is a loc-only entry with a trailing
    slash (canonical strip); the third an uppercase-scheme/host loc
    (canonical fold). lastmod/changefreq/priority survive where
    planted, NULL/'' where absent. The oracle rebuilds all 180
    (source_sitemap, loc, ..., depth, canon_url) rows closed-form —
    a missed child walk, a double-walked shared child, an entity or
    percent drift, or a depth slip all hash-mismatch. The fixture
    write is 90 small driver-side gzip files (bounded — the q184
    fixture-file discipline); production reads fetched sitemap
    corpora from object storage the same way."""
    import gzip
    import os

    from ..operators import urls as U

    wdir = _scratch_dir("q190_maps_")
    for i in range(30):
        lm = f"2026-03-{(i % 28) + 1:02d}"
        pr = f"0.{(i % 9) + 1}"
        idx = (
            "<sitemapindex>"
            + "".join(
                f"<sitemap><loc>https://ex.com/site{i}-c{k}.xml.gz</loc></sitemap>"
                for k in range(2)
            )
            + "</sitemapindex>"
        )
        with gzip.open(
            os.path.join(wdir, f"site{i}-index.xml.gz"), "wt", encoding="utf-8"
        ) as fh:
            fh.write(idx)
        for k in range(2):
            pre = f"https://s{i}.com/a{k}"
            xml = (
                '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
                f"<url><loc>{pre}/p{i}?b=2&amp;a=%7Ev</loc>"
                f"<lastmod>{lm}</lastmod><changefreq>weekly</changefreq>"
                f"<priority>{pr}</priority></url>"
                f"<url><loc>{pre}/q{i}/</loc></url>"
                f"<url><loc>HTTPS://S{i}.COM/a{k}/r{i}</loc>"
                f"<lastmod>{lm}</lastmod></url>"
                "</urlset>"
            )
            with gzip.open(
                os.path.join(wdir, f"site{i}-c{k}.xml.gz"), "wt", encoding="utf-8"
            ) as fh:
                fh.write(xml)

    fetched = U.read_sitemap_files(spark, wdir).select(
        F.concat(
            F.lit("https://ex.com/"), F.element_at(F.split("file", "/"), -1)
        ).alias("url"),
        "xml",
    )
    seeds = spark.createDataFrame(
        [(f"https://ex.com/site{i}-index.xml.gz",) for i in range(30)],
        "sitemap_url string",
    )
    pages = U.sitemap_frontier(fetched, seeds)
    return pages.withColumn(
        "canon_url", U.canonicalize_url(F.col("loc"))
    ).orderBy("loc")


# --- q192: crawl-delay politeness schedule, r13 ------------------------------

_Q192_ORACLE = """
WITH d AS (SELECT doc_id, doc_id % 4 AS h FROM documents WHERE doc_id < 160),
u AS (SELECT doc_id,
  CASE h WHEN 0 THEN 'docs.example.com' WHEN 1 THEN 'media.example.com'
         WHEN 2 THEN 'open.example.com' ELSE 'none.example.com' END AS host
 FROM d),
v AS (SELECT doc_id, host, 'https://' || host || '/p' || doc_id AS url,
  CASE WHEN host = 'docs.example.com' THEN 0.5
       WHEN host = 'media.example.com' THEN 2.0 ELSE 1.0 END AS delay
 FROM u),
s AS (SELECT doc_id, url, delay,
  row_number() OVER (PARTITION BY host ORDER BY url) - 1 AS slot FROM v)
SELECT doc_id, url, CAST(slot AS BIGINT) AS slot,
  slot * delay AS fetch_offset_s
FROM s ORDER BY url
"""


@query("q192_crawl_politeness_schedule", oracle=_Q192_ORACLE)
def q192_crawl_politeness_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-delay politeness scheduling (added r13 — the PLANNING
    step that completes the fetch side of the ladder: q186 says WHAT
    may be fetched, q190 says what EXISTS, this says WHEN): 160
    planted URLs over 4 hosts resolve per-host ``Crawl-delay`` from
    the robots corpus through operators/robots.py parse_crawl_delay
    (group-scoped exactly like the rules, via the r13 SHARED group
    assembly: the docs host's 0.5 s sits in its ``examplebot`` group
    and must beat the catch-all group's decoy 9 s through product-
    token prefix selection; the media host's star group carries a
    non-numeric ``Crawl-delay: fast`` line that must DROP via
    try_cast plus the valid 2 s; the open host declares no delay and
    the fourth host has no robots at all — both fall to the 1.0 s
    default), then crawl_schedule assigns per-host slots in url order
    and ``fetch_offset_s = slot x delay``. The media rules row is
    keyed ``Media.example.com`` — the delay-table host folding is
    load-bearing (the r13 robots_filter discipline).

    The oracle replays the grid closed-form: a wrong group selection
    surfaces as a 9 s ladder on the docs host, a kept malformed line
    as a NULL/NaN offset, a missed default as nulls on half the
    corpus, and any slot drift as a different per-host ladder. Scale
    shape: the delay table is host-sized and broadcasts; the corpus
    pays ONE shuffle — the per-host window (cap pathological single-
    host frontiers with domain_cap first, the documented note)."""
    from ..operators import robots as R

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 160)
    h = F.col("doc_id") % 4
    host = (
        F.when(h == 0, F.lit("docs.example.com"))
        .when(h == 1, F.lit("media.example.com"))
        .when(h == 2, F.lit("open.example.com"))
        .otherwise(F.lit("none.example.com"))
    )
    urls = d.select(
        "doc_id",
        F.concat(F.lit("https://"), host, F.lit("/p"),
                 F.col("doc_id").cast("string")).alias("url"),
    )
    robots = spark.createDataFrame(
        [
            ("docs.example.com",
             "User-agent: examplebot\nCrawl-delay: 0.5\nDisallow: /private/\n\n"
             "User-agent: *\nCrawl-delay: 9\n"),
            ("Media.example.com",
             "User-agent: *\nCrawl-delay: fast\nCrawl-delay: 2\n"),
            ("open.example.com", "User-agent: *\nDisallow: /tmp/\n"),
        ],
        "host string, robots_txt string",
    )
    delays = R.parse_crawl_delay(
        robots, user_agent="ExampleBot/1.2", ua_match="prefix"
    )
    return (
        R.crawl_schedule(urls, delays, default_delay=1.0)
        .select("doc_id", "url", "slot", "fetch_offset_s")
        .orderBy("url")
    )


# --- corpus-build capstone composition (written + oracle-verified r16) -------
# VERDICT r15 item 8: q189's crawl ladder feeding q195's dedup ladder
# feeding temperature mixing + sequence packing — the FULL corpus-build
# product pipeline under one closed-form oracle. REGISTERED r18 (the
# plan of record, docs/COVERAGE.md: r16 staged it, r17's single free
# slot went to q200, r18 seats it beside q202 and the 46-query r14
# cohort) — after the r18 keeper-stage fix in dedup_mix_pack (VERDICT
# r17 "What's wrong"): the staged r17 form shipped normalized text
# through a keyed exchange and re-ran the keeper window 3x; the
# registered form runs ONE map-side min-id reduction, pinned on a
# multi-partition checkpoint in tests/test_pipeline_ops.py.

_Q201_BODY_SQL = (
    "'<html><head><title>T' || v || ' page</title></head>"
    "<body><h1>P' || v || '</h1><p>' || btxt || '</p></body></html>'"
)

Q201_ORACLE = (
    """
WITH bases AS (SELECT doc_id AS b_id, text AS base FROM documents WHERE doc_id < 100),
recs AS (
  SELECT doc_id,
         CASE WHEN doc_id < 200 THEN doc_id // 2 ELSE doc_id - 200 END AS v,
         CASE WHEN doc_id < 200 THEN doc_id % 2 ELSE 2 END AS m,
         (doc_id * 37) % 101 AS qual
  FROM documents WHERE doc_id < 220),
g AS (
  SELECT recs.doc_id AS rec_id, v, m, qual, base,
         CASE v % 3 WHEN 0 THEN 'news' WHEN 1 THEN 'blog' ELSE 'wiki' END AS topic,
         v % 4 AS c
  FROM recs JOIN bases ON recs.v = bases.b_id
  WHERE NOT (m = 1 AND v % 10 = 7)),
b AS (
  SELECT rec_id, v, m, qual, topic,
         CASE WHEN m <> 1 OR c = 0 THEN base || ' caf' || chr(233) || ' Z.'
              WHEN c = 1 THEN base || ' cafe' || chr(769) || ' Z.'
              WHEN c = 2 THEN base || ' caf' || chr(233) || ' z'
              ELSE regexp_replace(base, ' \\S+$', '') || ' caf' || chr(233) || ' Z.'
         END AS btxt,
         'https://m' || CASE WHEN m = 2 THEN 0 ELSE m END ||
         '.example.com/' ||
         CASE v % 3 WHEN 0 THEN 'news' WHEN 1 THEN 'blog' ELSE 'wiki' END ||
         '/' || v || '?a=1&b=' || v AS canon_url
  FROM g),
x AS (SELECT rec_id, v, qual, topic, canon_url, {clean} AS clean_text
      FROM (SELECT rec_id, v, qual, topic, canon_url, {body} AS body FROM b)),
ku AS (SELECT rec_id, v, topic, clean_text, row_number() OVER (
         PARTITION BY canon_url ORDER BY qual DESC, rec_id) AS urn
       FROM x),
surv AS (SELECT rec_id, topic, clean_text FROM ku WHERE urn = 1),
n1 AS (SELECT rec_id, topic, clean_text AS raw,
              nfc_normalize(clean_text) AS nfc FROM surv),
n2 AS (SELECT rec_id, topic, md5(raw) AS k_r, md5(nfc) AS k_u,
              trim(regexp_replace(regexp_replace(lower(nfc),
                   '[^\\p{{L}}\\p{{N}} ]', '', 'g'), ' +', ' ', 'g')) AS norm
       FROM n1),
n3 AS (SELECT rec_id, topic, k_r, k_u, norm, md5(norm) AS k_n FROM n2),
kp AS (SELECT rec_id, topic, k_r, k_u, k_n, norm,
              first_value(rec_id) OVER w AS keeper_id,
              first_value(k_r) OVER w AS keeper_kr
       FROM n3 WINDOW w AS (PARTITION BY k_n ORDER BY rec_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
keep AS (SELECT rec_id AS kid, topic, norm FROM kp WHERE rec_id = keeper_id),
toks AS (SELECT kid, string_split(norm, ' ') AS t FROM keep),
sh AS (SELECT DISTINCT kid, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
       FROM toks, unnest(range(1, len(t) - 1)) AS u(i) WHERE len(t) >= 3
       UNION
       SELECT kid, array_to_string(t, ' ') FROM toks WHERE len(t) < 3),
sizes AS (SELECT kid, count(*) AS n_sh FROM sh GROUP BY kid),
inter AS (SELECT a.kid AS id_a, b.kid AS id_b, count(*) AS n_inter
          FROM sh a JOIN sh b ON a.sh = b.sh AND a.kid < b.kid GROUP BY 1, 2),
nd AS (SELECT DISTINCT id_b FROM inter
       JOIN sizes sa ON sa.kid = id_a JOIN sizes sb ON sb.kid = id_b
       WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.5),
corpus AS (
  SELECT k.kid AS rec_id, k.topic,
         CAST(len(string_split(s.clean_text, ' ')) AS BIGINT) AS n_tok
  FROM keep k
  JOIN surv s ON s.rec_id = k.kid
  LEFT JOIN nd ON k.kid = nd.id_b
  WHERE nd.id_b IS NULL),
counts AS (SELECT topic, count(*) AS n FROM corpus GROUP BY topic),
weighted AS (SELECT topic,
         CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1e9 + 0.5) AS BIGINT) AS w
  FROM counts),
quotas AS (SELECT topic,
         CAST((30 * w) // (SELECT sum(w) FROM weighted) AS BIGINT) AS quota
  FROM weighted),
ranked AS (SELECT rec_id, topic, n_tok,
         row_number() OVER (PARTITION BY topic ORDER BY rec_id) AS rn
  FROM corpus),
mixed AS (SELECT r.rec_id, r.topic, r.n_tok, q.quota,
                 row_number() OVER (PARTITION BY r.topic ORDER BY r.rec_id) AS prn
          FROM ranked r JOIN quotas q USING (topic) WHERE r.rn <= q.quota),
packed AS (
  WITH RECURSIVE rec AS (
    SELECT topic, rec_id, n_tok, quota, prn,
           n_tok AS fill, CAST(0 AS BIGINT) AS seq_id
    FROM mixed WHERE prn = 1
    UNION ALL
    SELECT s.topic, s.rec_id, s.n_tok, s.quota, s.prn,
           CASE WHEN r.fill + s.n_tok > 128 THEN s.n_tok
                ELSE r.fill + s.n_tok END,
           CASE WHEN r.fill + s.n_tok > 128 THEN r.seq_id + 1
                ELSE r.seq_id END
    FROM rec r JOIN mixed s ON s.topic = r.topic AND s.prn = r.prn + 1)
  SELECT topic, rec_id, n_tok, quota, seq_id FROM rec)
SELECT rec_id, topic, n_tok, quota, seq_id FROM packed ORDER BY rec_id
""".format(
        body=_Q201_BODY_SQL,
        clean=_H.sql_extract_text("body"),
    )
)

# q201's planted-WARC fixture dirs, one per sf_dir, cleaned at exit
# (ADVICE r16 item 4 — see the body comment).
_Q201_WARC_DIRS: dict[str, str] = {}


def _planted_warc_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, rec) rows of the capstone's 220-record planted web —
    shared by the one-shot form (q201 writes one WARC file) and its
    staged streaming twin (q203 writes arrival-phase files). The
    planted structure is documented on q201_corpus_build_e2e."""
    crlf = "\r\n"
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 220)
    bases = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select(F.col("doc_id").alias("b_id"), F.col("text").alias("base"))
    )
    v = F.when(F.col("doc_id") < 200, F.expr("doc_id div 2")).otherwise(
        F.col("doc_id") - 200
    )
    m = F.when(F.col("doc_id") < 200, F.col("doc_id") % 2).otherwise(F.lit(2))
    g = d.select("doc_id", v.alias("v"), m.alias("m")).join(
        F.broadcast(bases), F.col("v") == F.col("b_id")
    )
    vs = F.col("v").cast("string")
    topic = (
        F.when(F.col("v") % 3 == 0, F.lit("news"))
        .when(F.col("v") % 3 == 1, F.lit("blog"))
        .otherwise(F.lit("wiki"))
    )
    c = F.col("v") % 4
    # explicit escapes — an editor/VCS layer must never be able to
    # NFC-fold the planted byte-distinct variants into one (q191 rule)
    btxt = (
        F.when(
            (F.col("m") != 1) | (c == 0),
            F.concat(F.col("base"), F.lit(" caf\u00e9 Z.")),  # precomposed
        )
        .when(c == 1, F.concat(F.col("base"), F.lit(" cafe\u0301 Z.")))  # decomposed
        .when(c == 2, F.concat(F.col("base"), F.lit(" caf\u00e9 z")))  # case/punct
        .otherwise(
            F.concat(
                F.regexp_replace(F.col("base"), " \\S+\\z", ""),
                F.lit(" caf\u00e9 Z."),  # precomposed
            )
        )
    )
    raw_url = (
        F.when(
            F.col("m") == 0,
            F.concat(F.lit("https://m0.example.com/"), topic, F.lit("/"), vs,
                     F.lit("?b="), vs, F.lit("&a=1")),
        )
        .when(
            F.col("m") == 1,
            F.concat(F.lit("HTTPS://M1.EXAMPLE.COM/"), topic, F.lit("/"), vs,
                     F.lit("?a=1&utm_source=x&b="), vs, F.lit("#frag")),
        )
        .otherwise(
            F.concat(F.lit("https://M0.example.com:443/"), topic, F.lit("/"), vs,
                     F.lit("?b="), vs, F.lit("&a=1&utm_source=y")),
        )
    )
    html = F.concat(
        F.lit("<html><head><title>T"), vs, F.lit(" page</title></head>"),
        F.lit("<body><h1>P"), vs, F.lit("</h1><p>"), btxt,
        F.lit("</p></body></html>"),
    )
    is_404 = (F.col("m") == 1) & (F.col("v") % 10 == 7)
    payload = F.when(
        is_404,
        F.lit("HTTP/1.1 404 Not Found" + crlf + "Content-Type: text/html"
              + crlf + crlf + "<html><body>gone</body></html>"),
    ).otherwise(
        F.concat(
            F.lit("HTTP/1.1 200 OK" + crlf
                  + "Content-Type: text/html; charset=utf-8" + crlf + crlf),
            html,
        )
    )
    record = F.concat(
        F.lit("WARC/1.0" + crlf),
        F.lit("WARC-Type: response" + crlf),
        F.lit("WARC-Record-ID: <urn:doc:"), F.col("doc_id").cast("string"),
        F.lit(">" + crlf),
        F.lit("WARC-Target-URI: "), raw_url, F.lit(crlf),
        F.lit("WARC-Date: 2026-03-01T00:00:00Z" + crlf),
        F.lit("Content-Length: "), F.octet_length(payload).cast("string"),
        F.lit(crlf), F.lit(crlf), payload, F.lit(crlf + crlf),
    )
    return g.select("doc_id", record.alias("rec"))


def _planted_crawl_meta() -> tuple:
    """(topic_expr, qual_expr) over the parsed ``rec_id`` — the
    planted fixture's provenance derivations, shared by q201 and the
    streaming twin (both gate/keeper layers must see identical quality
    and topic values or the keeper argmax diverges)."""
    rv = F.when(F.col("rec_id") < 200, F.expr("rec_id div 2")).otherwise(
        F.col("rec_id") - 200
    )
    rtopic = (
        F.when(rv % 3 == 0, F.lit("news"))
        .when(rv % 3 == 1, F.lit("blog"))
        .otherwise(F.lit("wiki"))
    )
    return rtopic, (F.col("rec_id") * 37) % 101


@query("q201_corpus_build_e2e", oracle=Q201_ORACLE)
def q201_corpus_build_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORPUS-BUILD capstone composition (written r16 — VERDICT r15
    item 8): raw planted WARC bytes through the ENTIRE product
    pipeline in one run — WARC parse → HTTP status/MIME gate → HTML
    text extraction → URL canonicalization → canonical-URL keeper
    dedup → the FULL q195 dedup ladder (NFC → casefold/punct →
    exact-hash keepers → MinHash-LSH near-dup verify) → temperature
    mixing over topics → greedy sequence packing — landing the packed
    training mix under ONE closed-form DuckDB oracle.

    The planted web: 100 pages (v), each served by two MIRROR hosts
    (m0/m1 — SAME content, different canonical URLs: the duplication
    URL dedup cannot see and the text ladder must catch) plus 20
    re-crawls of m0 pages reaching the SAME canonical URL the hard
    way (uppercase host, :443, tracking param — folded by URL keeper
    dedup, quality-decorrelated winner). Mirror classes by v%4 pin
    each ladder tier IN the composed path: byte-exact ('exact'),
    decomposed-NFC ('unicode'), case/punct ('casefold'),
    drop-last-word ('neardup'); m1 404s on v%10==7 die at the gate
    before extraction. The ladder's keeper identity interacts with
    URL dedup (when a re-crawl outranks its m0 original, the ladder's
    min-id keeper for that page flips to the m1 mirror) — exactly the
    cross-layer drift surface composition proofs exist for. Survivors
    ('kept' tier) mix over topic strata (news/blog/wiki, integer-exact
    count^0.5 quotas, smallest-id keeps) and pack greedily into
    128-token bins per topic (capacity-reset grouped-Pandas op).

    Scale shape: one corpus pass to the ladder checkpoint (every
    crawl stage a projection; the URL keeper window is the first
    corpus exchange, on the canonical key), hash-only ladder
    exchanges (the q195 discipline), keeper-sized near-dup stage,
    strata-sized mixing aggregates, shard-parallel packing. Document
    text crosses NO exchange (plan-pinned by type in the pytest).
    Fixture write is a bounded 220-row collect (the q184/q189
    pattern); production reads existing WARC files."""
    import os

    from ..operators import html as H
    from ..operators import warc as W

    # One fixture dir per (process, sf_dir), torn down at interpreter
    # exit (ADVICE r16 item 4): the dir must OUTLIVE this function —
    # the returned DataFrame reads it lazily — so a with-scoped
    # TemporaryDirectory is wrong, but bare mkdtemp leaked a
    # q201_warc_* dir per invocation (three per pytest, one per
    # driver/bench sweep once registered). The fixture is
    # deterministic per sf_dir, so repeat invocations also reuse the
    # first write instead of re-materializing it.
    wdir = _Q201_WARC_DIRS.get(sf_dir)
    if wdir is None or not os.path.isdir(wdir):
        wdir = _scratch_dir("q201_warc_")
        rows = _planted_warc_records(spark, sf_dir).orderBy("doc_id").collect()
        # newline="" so Python never translates the spec-mandated CRLFs.
        with open(
            os.path.join(wdir, "part.warc"), "w", encoding="utf-8", newline=""
        ) as fh:
            fh.write("".join(r["rec"] for r in rows))
        # Cache only AFTER the write succeeded (r17 review finding): a
        # collect/interrupt failure above must not leave an empty dir
        # registered as the fixture — the next invocation would read
        # zero records and silently mismatch the oracle. The orphan
        # dir from a failed attempt is still cleaned at exit.
        _Q201_WARC_DIRS[sf_dir] = wdir

    # ---- crawl ladder: everything below derives from the file
    raw = W.read_warc(spark, wdir)
    rid = W.warc_header(F.col("record"), "WARC-Record-ID")
    parsed = W.parse_warc(
        raw.select(
            F.regexp_extract(rid, r"urn:doc:(\d+)", 1).cast("long").alias("rec_id"),
            "record",
        )
    )
    pay = F.col("payload")
    status = W.http_status(pay)
    mime = F.trim(F.element_at(F.split(W.http_header(pay, "Content-Type"), ";"), 1))
    body = W.http_body(pay)
    rtopic, rqual = _planted_crawl_meta()
    gated = parsed.filter((status == 200) & mime.startswith("text/")).select(
        "rec_id",
        "target_uri",
        rtopic.alias("topic"),
        rqual.alias("qual"),
        H.extract_html_text(body).alias("clean_text"),
    )
    # url_keeper_dedup canonicalizes url_col itself (projection + one
    # keeper shuffle) — feeding it target_uri directly avoids running
    # the full canonicalization twice and avoids silently leaning on
    # its idempotence (r16 review finding).
    surv = _U.url_keeper_dedup(gated, "target_uri", "rec_id", "qual").select(
        "rec_id", "topic", "clean_text"
    )

    # ---- dedup ladder → mixing → packing (r17: the downstream is the
    # shared operators/pipeline.dedup_mix_pack composition — factored
    # out verbatim so this one-shot form and the streaming crawl
    # store's finalization run literally the same code; this query's
    # sf0.001/sf0.01 oracle compare is the factoring's identity proof)
    return P.dedup_mix_pack(
        surv, id_col="rec_id", topic_col="topic", text_col="clean_text",
        neardup_threshold=0.5, num_hashes=64, bands=16, shingle_n=3,
        target_total=30, temperature=0.5, budget=128,
    ).orderBy("rec_id")


# --------------------------------------------------------------------------
# REGISTERED r19 per the plan of record (written r17 — VERDICT r16
# item 7: the streaming twin of the q201 capstone, the q195→q197
# treatment applied to the crawl→pack pipeline; registration deferred
# past r18 while q201+q202 took the round's two slots, docs/
# COVERAGE.md). The oracle IS q201's — every keeper rule in the
# composition is an arrival-order-independent argmax, so the staged
# streaming build provably equals the one-shot build of the same
# records (see streaming/crawl.py's module docstring for the
# contract). Pre-registration verification: tests/test_pipeline_ops.py
# ::test_stream_corpus_build_matches_oneshot_oracle at sf0.001 AND
# sf0.01 (the q200/q201/q202 discipline); the first driver verdict
# lands on the r18 batch-bounded keeper compare — correct sequencing
# (VERDICT r17 item 3 shipped before the registrant that grades it).
Q203_ORACLE = Q201_ORACLE


@query("q203_stream_corpus_build", oracle=Q203_ORACLE)
def q203_stream_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING corpus-build capstone (r17 — VERDICT r16 item 7):
    q201's 220 planted WARC records arrive in FOUR staged phases
    ([0,60) → [60,120) → [120,200) → [200,220) — every re-crawl
    arrives a phase AFTER its original, so the cross-layer keeper
    flip happens as a genuine streaming REPLACEMENT in the
    url_keepers store, not a within-batch window decision) through
    streaming/crawl.stream_crawl_ingest: per micro-batch WARC parse →
    status/MIME gate → HTML extraction → URL canonicalization → the
    incremental keep-best-per-canonical-URL store, exactly-once per
    batch partition through one checkpoint. Between phases 3 and 4
    the keeper store is stop-compact-resumed (compact_ingest_store
    over url_keepers — the q197 maintenance cadence), so phase 4's
    replacements land against keeper rows the compaction REWROTE.
    Finalization (build_corpus_from_crawl_store) then runs literally
    the same dedup_mix_pack composition as q201 over the store's
    current keepers. The oracle is Q201_ORACLE VERBATIM — the
    one-shot SQL replay — which is the point: URL keeper =
    (qual desc, id) argmax, ladder keeper = min-id, near-dup losers =
    id-ordered pairs are all arrival-order-independent, so ANY batch
    split must land the identical packed mix, and the hash match
    proves the streaming store machinery (changed-only writes,
    argmax read-back, replay pruning, compaction) preserved it.

    Scale shape: per-batch work = batch-sized projections + one
    keeper-window shuffle over (current keepers ∪ arrivals); the
    corpus-global mixing/packing runs once at finalization — the
    continuous-ingest / periodic-build split every production corpus
    pipeline runs. Fixture cost: one bounded 220-row collect, fresh
    per invocation (tempdir torn down at exit, the ADVICE r16
    discipline — a staged stream cannot reuse a half-drained store)."""
    return _staged_stream_corpus_build(
        spark, sf_dir, phases=[(0, 60), (60, 120), (120, 200), (200, 220)],
        compact_before_phase=3,
    )


def _staged_stream_corpus_build(
    spark: SparkSession,
    sf_dir: str,
    phases: list[tuple[int, int]],
    compact_before_phase: int | None = None,
) -> DataFrame:
    """q203's machinery with the arrival SCHEDULE as a parameter — the
    arrival-order-independence contract is a universal claim ("ANY
    batch split lands the identical packed mix"), so the pytest runs
    this under ADVERSARIAL schedules too (re-crawls FIRST, so the
    later-arriving lower-quality originals must LOSE keepership —
    replacement suppression, the flip's mirror image) against the same
    one-shot oracle. ``compact_before_phase`` stop-compact-resumes the
    keeper store before that phase index (None = never)."""
    import os

    from ..operators import warc as W
    from ..streaming import crawl as C
    from ..streaming.windows import compact_ingest_store

    root = _scratch_dir("q203_stream_")
    src = os.path.join(root, "src")
    store = os.path.join(root, "store")
    ckpt = os.path.join(root, "ck")
    os.makedirs(src)

    rows = _planted_warc_records(spark, sf_dir).orderBy("doc_id").collect()
    rtopic, rqual = _planted_crawl_meta()
    rid = W.warc_header(F.col("record"), "WARC-Record-ID")
    id_expr = F.regexp_extract(rid, r"urn:doc:(\d+)", 1).cast("long")
    for i, (lo, hi) in enumerate(phases):
        if compact_before_phase is not None and i == compact_before_phase:
            # earlier batches on disk: fold all but the latest through
            # the default horizon while the stream is stopped, resume
            # through the SAME checkpoint (the q197 cadence; the
            # url_keepers read is an argmax over rows, so the fold is
            # invisible by the store's monotone-improvement invariant)
            compact_ingest_store(spark, store, substores=("url_keepers",))
        with open(
            os.path.join(src, f"phase{i}.warc"), "w", encoding="utf-8", newline=""
        ) as fh:
            fh.write("".join(r["rec"] for r in rows if lo <= r["doc_id"] < hi))
        C.stream_crawl_ingest(
            W.read_warc_stream(spark, src), store, ckpt,
            id_expr=id_expr, quality_expr=rqual, extra_cols={"topic": rtopic},
        )
    return C.build_corpus_from_crawl_store(spark, store, topic_col="topic").orderBy(
        "rec_id"
    )
