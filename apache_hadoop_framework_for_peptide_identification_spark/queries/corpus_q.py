"""Corpus-analytics queries (q100–q105): paragraph-granularity dedup,
LM-familiarity scoring, BM25 retrieval, heavy-hitter n-grams, table
profiling, and length histograms — the corpus-level second tier of the
LLM-pipeline group (operators/corpus.py).

The synthetic documents fixture has no natural boilerplate, so q100
plants a fixed 8-token boilerplate chunk on every fourth document —
the same deterministic twin-planting pattern as q41/q67/q84/q85 —
making the dedup positives real on both the Spark and DuckDB sides.

Float determinism: q102 (BM25) is the only float-scoring query here;
its idf is quantized to 9 dp immediately after the log and the
per-term contributions are summed in declared term order on BOTH
sides, so the usual order-dependent-double-sum hazard (see q08/q74)
never arises. Everything else stays in integer/decimal arithmetic
until a final exact division.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators import corpus as C
from . import materialized_sort, query


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


_BOILER = "subscribe to our newsletter for updates and offers"  # exactly 8 tokens
_CHUNK = 8


def _plant_boiler(d: DataFrame) -> DataFrame:
    planted = F.when(
        F.col("doc_id") % 4 == 0, F.concat(F.lit(_BOILER + " "), F.col("text"))
    ).otherwise(F.col("text"))
    return d.select("doc_id", planted.alias("text"))


@query(
    "q100_paragraph_dedup",
    oracle=f"""
WITH planted AS (
  SELECT doc_id,
         CASE WHEN doc_id % 4 = 0 THEN '{_BOILER}' || ' ' || text ELSE text END AS text
  FROM documents),
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM planted),
chunks AS (
  SELECT doc_id, i AS chunk_idx,
         array_to_string(t[i*{_CHUNK}+1 : i*{_CHUNK}+{_CHUNK}], ' ') AS chunk
  FROM toks,
       unnest(range(0, CAST(ceil(len(t) / {_CHUNK}.0) AS BIGINT))) AS u(i)),
ranked AS (
  SELECT doc_id, chunk_idx, chunk,
         row_number() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_idx) AS rn
  FROM chunks)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(count(*) FILTER (WHERE rn > 1) AS BIGINT) AS n_removed,
       coalesce(string_agg(chunk, ' ' ORDER BY chunk_idx)
                  FILTER (WHERE rn = 1), '') AS clean_text
FROM ranked GROUP BY doc_id ORDER BY doc_id
""",
)
def q100_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style paragraph dedup over the whole corpus: repeated chunks
    keep only their first (doc_id, chunk_idx) occurrence and documents
    are reassembled from surviving chunks. Boilerplate is planted on
    every fourth doc so the removals are real; doc 0 (the first
    occurrence) must keep its copy. One chunk-keyed shuffle — see
    operators/corpus.py paragraph_dedup for the 100 TB accounting."""
    d = _plant_boiler(_t(spark, sf_dir, "documents"))
    return materialized_sort(C.paragraph_dedup(d, "doc_id", "text", chunk_tokens=_CHUNK), "doc_id")


@query(
    "q101_lm_familiarity",
    oracle="""
WITH bg_doc AS (
  SELECT doc_id, t[i] || ' ' || t[i+1] AS bg
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents) d,
       unnest(range(1, len(t))) AS u(i)
  WHERE len(t) >= 2),
train_counts AS (
  SELECT bg, count(*) AS c FROM bg_doc WHERE doc_id % 2 = 0 GROUP BY bg),
agg AS (
  SELECT d.doc_id, count(*) AS n_bigrams, sum(coalesce(t.c, 0)) AS fam
  FROM bg_doc d LEFT JOIN train_counts t USING (bg) GROUP BY 1)
SELECT d.doc_id,
       CAST(coalesce(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       CASE WHEN a.n_bigrams > 0
            THEN CAST(a.fam AS DOUBLE) / a.n_bigrams END AS lm_familiarity
FROM documents d LEFT JOIN agg a USING (doc_id) ORDER BY d.doc_id
""",
)
def q101_lm_familiarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-shape LM quality scoring: bigram statistics trained on the
    even-doc_id half of the corpus, every doc scored by its mean
    train-count familiarity. Integer counts end-to-end (bit-exact in
    any summation order) with one final exact division — the log-prob
    variant drops in per operators/corpus.py bigram_lm_score."""
    d = _t(spark, sf_dir, "documents")
    train = d.filter(F.col("doc_id") % 2 == 0)
    return materialized_sort(C.bigram_lm_score(d, train, "doc_id", "text"), "doc_id")


_BM25_TERMS = ("table", "stream", "vector")


@query(
    "q102_bm25_topk",
    oracle=f"""
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS t,
         len(string_split(text, ' ')) AS dl
  FROM documents),
stats AS (
  SELECT count(*) AS n, sum(dl) AS sumdl,
         {", ".join(
             f"sum(CASE WHEN list_contains(t, '{term}') THEN 1 ELSE 0 END) AS df{i}"
             for i, term in enumerate(_BM25_TERMS)
         )}
  FROM base),
scored AS (
  SELECT b.doc_id,
         CAST(0.0 AS DOUBLE)
         {"".join(
             f'''
         + (CASE WHEN len(list_filter(b.t, x -> x = '{term}')) > 0 THEN
             (floor(ln(CAST(1.0 AS DOUBLE)
                       + (CAST(s.n AS DOUBLE) - CAST(s.df{i} AS DOUBLE) + CAST(0.5 AS DOUBLE))
                         / (CAST(s.df{i} AS DOUBLE) + CAST(0.5 AS DOUBLE)))
                   * CAST(1e9 AS DOUBLE) + CAST(0.5 AS DOUBLE)) / CAST(1e9 AS DOUBLE))
             * (CAST(len(list_filter(b.t, x -> x = '{term}')) AS DOUBLE)
                * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
             / (CAST(len(list_filter(b.t, x -> x = '{term}')) AS DOUBLE)
                + CAST(1.2 AS DOUBLE)
                  * (CAST(0.25 AS DOUBLE)
                     + CAST(0.75 AS DOUBLE)
                       * (CAST(b.dl AS DOUBLE) / (CAST(s.sumdl AS DOUBLE) / CAST(s.n AS DOUBLE)))))
            ELSE CAST(0.0 AS DOUBLE) END)'''
             for i, term in enumerate(_BM25_TERMS)
         )}
           AS bm25
  FROM base b, stats s)
SELECT doc_id, bm25 FROM scored ORDER BY bm25 DESC, doc_id LIMIT 10
""",
)
def q102_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 retrieval for a fixed term bag. Corpus stats (N,
    avgdl, per-term df) come from one single-row aggregate broadcast
    back over the scan; scoring is a pure codegen'd expression and the
    top-k a TakeOrdered heap — no data shuffle anywhere. idf quantized
    to 9 dp and term contributions summed in declared order, so the
    float scores hash-match the oracle."""
    d = _t(spark, sf_dir, "documents")
    return C.bm25_topk(d, "doc_id", "text", _BM25_TERMS, k=10)


@query(
    "q103_top_ngrams",
    oracle="""
WITH bg AS (
  SELECT t[i] || ' ' || t[i+1] AS bigram
  FROM (SELECT string_split(text, ' ') AS t FROM documents) d,
       unnest(range(1, len(t))) AS u(i)
  WHERE len(t) >= 2)
SELECT bigram, CAST(count(*) AS BIGINT) AS n
FROM bg GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20
""",
)
def q103_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus-wide top-20 bigrams — vocabulary/contamination
    audit. Map-side partial counts bound the shuffle by per-executor
    distinct bigrams; TakeOrdered replaces the global sort."""
    return C.top_ngrams(_t(spark, sf_dir, "documents"), "text", k=20)


@query(
    "q111_cms_top_ngrams",
    oracle="""
WITH bg AS (
  SELECT t[i] || ' ' || t[i+1] AS bigram
  FROM (SELECT string_split(text, ' ') AS t FROM documents) d,
       unnest(range(1, len(t))) AS u(i)
  WHERE len(t) >= 2)
SELECT bigram, CAST(count(*) AS BIGINT) AS n_exact, TRUE AS within_bounds
FROM bg GROUP BY bigram ORDER BY n_exact DESC, bigram LIMIT 20
""",
)
def q111_cms_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters — the documented 100 TB swap for
    q103's exact count, driver-verified through its error CONTRACT:
    for every true top-20 bigram the sketch estimate must land in
    [exact, exact + ceil(2·(e/width)·N)]. The oracle pins the exact
    top-20 and asserts all-true bounds, so a broken hash, a lossy
    merge, or an under-estimate (impossible for a correct CMS) all
    hash-mismatch. The asserted bound is 2× the classic (e/width)·N
    because that bound is probabilistic (≥ 1−e^(−depth) per query) —
    the 2× margin makes a bound-flake on a regenerated fixture
    ~3·10⁻⁵ instead of ~10⁻³ while any real defect still overshoots
    it; the tight 1× contract stays pinned in tests/test_corpus_ops.py
    (round-5 ADVICE item 2). Sketch: 8 × 16384 int64 cells (1 MiB),
    merged by cell-wise sum."""
    d = _t(spark, sf_dir, "documents")
    return C.approx_top_ngrams_check(d, "text", k=20, bound_factor=2.0).orderBy(
        F.col("n_exact").desc(), "bigram"
    )


_PROFILE_COLS = ["o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]


@query(
    "q104_profile_table",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS o_custkey_nulls,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS o_custkey_distinct,
       CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS o_orderstatus_nulls,
       CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS o_orderstatus_distinct,
       CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS o_totalprice_nulls,
       CAST(count(DISTINCT o_totalprice) AS BIGINT) AS o_totalprice_distinct,
       CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS o_orderpriority_nulls,
       CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS o_orderpriority_distinct
FROM orders
""",
)
def q104_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row ingest profile of orders: row count + per-column null and
    exact distinct counts. Multi-count-distinct plans as ONE
    grouping-sets expansion (not a job per column); the
    approx_count_distinct swap for 100 TB is noted in the operator."""
    return C.profile_table(_t(spark, sf_dir, "orders"), _PROFILE_COLS)


_HIST_WIDTH = 10


@query(
    "q105_length_histogram",
    oracle=f"""
WITH sized AS (
  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents)
SELECT CAST(floor(n_tok / {_HIST_WIDTH}) AS BIGINT) * {_HIST_WIDTH} AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       min(n_tok) AS min_v, max(n_tok) AS max_v,
       CAST(sum(n_tok) AS DOUBLE) / count(*) AS mean_v
FROM sized GROUP BY 1 ORDER BY bucket
""",
)
def q105_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length equi-width histogram of the corpus (width 10) —
    the pre-tokenization length audit. Bounded bucket domain rides
    map-side partials; mean is an exact integer-sum division."""
    d = _t(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.col("text"), " "))
    return materialized_sort(C.equiwidth_histogram(d, n_tok, _HIST_WIDTH), "bucket")


@query(
    "q150_sketch_top_ngrams",
    oracle="""
WITH bg AS (
  SELECT t[i] || ' ' || t[i+1] AS bigram
  FROM (SELECT string_split(text, ' ') AS t FROM documents) d,
       unnest(range(1, len(t))) AS u(i)
  WHERE len(t) >= 2),
cnt AS (SELECT bigram, CAST(count(*) AS BIGINT) AS n FROM bg GROUP BY bigram),
top AS (SELECT bigram, n FROM cnt ORDER BY n DESC, bigram LIMIT 10)
SELECT bigram, n AS n_exact, n AS n_est FROM top ORDER BY n_exact DESC, bigram
""",
)
def q150_sketch_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable frequent-items sketches (Spark 4's native
    approx_top_k_accumulate / _combine / _estimate, datasketches
    ItemsSketch underneath) — the built-in counterpart to the
    hand-rolled count-min pipeline (q111) and the frequency twin of
    q123's HLL union fabric: per-source sketches accumulate
    independently, one combine merges them WITHOUT rescanning, and a
    single estimate serves the corpus-wide heavy hitters. At 100 TB
    the sketches roll up per partition/day and re-merge at query time.

    Exactness configuration as the oracle contract (the q120/q118
    pattern): maxItemsTracked=8192 is ~9x the fixture's full bigram
    vocabulary (931 distinct at sf0.1, measured), and a datasketches
    frequent-items sketch that never evicts is EXACT — so each of the
    exact top-10 bigrams (deterministic (count DESC, bigram) order)
    must carry an estimated count equal to its exact count. The
    left-join returns NULL n_est (hash mismatch) if the sketch lost or
    misestimated any of them; the merge path is on the hot path of the
    contract because the sketches are built per source group."""
    d = _t(spark, sf_dir, "documents")
    bg = C.with_bigrams(d, "text").select("source", F.explode("__bg").alias("bigram"))
    m = 8192
    per_src = bg.groupBy("source").agg(
        F.expr(f"approx_top_k_accumulate(bigram, {m})").alias("sk")
    )
    combined = per_src.agg(F.expr(f"approx_top_k_combine(sk, {m})").alias("sk"))
    est = combined.select(
        F.explode(F.expr("approx_top_k_estimate(sk, 1000)")).alias("e")
    ).select(F.col("e.item").alias("bigram"), F.col("e.count").alias("n_est"))
    exact_top = (
        bg.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .orderBy(F.col("n_exact").desc(), "bigram")
        .limit(10)
    )
    return (
        exact_top.join(est, "bigram", "left")
        .select("bigram", "n_exact", "n_est")
        .orderBy(F.col("n_exact").desc(), "bigram")
    )


_Q175_BM25_SCORED = f"""
base AS (
  SELECT doc_id, string_split(text, ' ') AS t,
         len(string_split(text, ' ')) AS dl
  FROM documents),
stats AS (
  SELECT count(*) AS n, sum(dl) AS sumdl,
         {", ".join(
             f"sum(CASE WHEN list_contains(t, '{term}') THEN 1 ELSE 0 END) AS df{i}"
             for i, term in enumerate(_BM25_TERMS)
         )}
  FROM base),
scored AS (
  SELECT b.doc_id,
         CAST(0.0 AS DOUBLE)
         {"".join(
             f'''
         + (CASE WHEN len(list_filter(b.t, x -> x = '{term}')) > 0 THEN
             (floor(ln(CAST(1.0 AS DOUBLE)
                       + (CAST(s.n AS DOUBLE) - CAST(s.df{i} AS DOUBLE) + CAST(0.5 AS DOUBLE))
                         / (CAST(s.df{i} AS DOUBLE) + CAST(0.5 AS DOUBLE)))
                   * CAST(1e9 AS DOUBLE) + CAST(0.5 AS DOUBLE)) / CAST(1e9 AS DOUBLE))
             * (CAST(len(list_filter(b.t, x -> x = '{term}')) AS DOUBLE)
                * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
             / (CAST(len(list_filter(b.t, x -> x = '{term}')) AS DOUBLE)
                + CAST(1.2 AS DOUBLE)
                  * (CAST(0.25 AS DOUBLE)
                     + CAST(0.75 AS DOUBLE)
                       * (CAST(b.dl AS DOUBLE) / (CAST(s.sumdl AS DOUBLE) / CAST(s.n AS DOUBLE)))))
            ELSE CAST(0.0 AS DOUBLE) END)'''
             for i, term in enumerate(_BM25_TERMS)
         )}
           AS bm25
  FROM base b, stats s)
"""


@query(
    "q175_hybrid_rrf",
    oracle=f"""
WITH {_Q175_BM25_SCORED},
lex AS (
  SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rnk
  FROM scored QUALIFY rnk <= 20),
q AS (SELECT CAST(embedding AS DOUBLE[]) AS q_vec FROM embeddings WHERE vec_id = 0),
sem_scored AS (
  SELECT c.vec_id AS doc_id,
         list_cosine_similarity(q.q_vec, CAST(c.embedding AS DOUBLE[])) AS cos_sim
  FROM embeddings c, q WHERE c.vec_id <> 0),
sem AS (
  SELECT doc_id, row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS rnk
  FROM sem_scored QUALIFY rnk <= 20),
contrib AS (
  SELECT doc_id, CAST(1.0 AS DOUBLE) / (60 + rnk) AS c FROM lex
  UNION ALL
  SELECT doc_id, CAST(1.0 AS DOUBLE) / (60 + rnk) AS c FROM sem)
SELECT doc_id, sum(c) AS rrf FROM contrib
GROUP BY doc_id ORDER BY rrf DESC, doc_id LIMIT 10
""",
)
def q175_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval with reciprocal-rank fusion (added r9): the
    lexical list (q102's BM25 machinery, top-20 for the fixed term
    bag) and the semantic list (q44's brute-force cosine machinery,
    top-20 for query vector vec_id=0, ids aligned doc_id↔vec_id)
    fused by operators/similarity.py rrf_fuse — score(d) =
    Σ 1/(60+rank_d), the calibration-free combiner hybrid search
    defaults to. Every post-retrieval stage operates on the two
    20-row lists (the single-task rank windows run on ≤20 rows by
    construction — the upstream top-k heaps did the data-scale
    work), so the fusion adds nothing to corpus-scale cost. The
    oracle recomputes both rankings (quantized-idf BM25 exactly as
    q102; cosine exactly as q44) and the fused sum — rank agreement
    plus the exact rational contributions make the double sum
    hash-stable (two commutative adds per id)."""
    from ..operators import similarity

    d = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    from pyspark.sql import Window

    lex = C.bm25_topk(d, "doc_id", "text", _BM25_TERMS, k=20).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("bm25").desc(), F.col("doc_id")))
        .alias("rnk"),
    )
    sem = (
        similarity.cosine_topk(
            emb, emb.filter(F.col("vec_id") == 0), "vec_id", "embedding", k=20
        )
        .select(F.col("n_id").alias("doc_id"), F.col("rn").cast("long").alias("rnk"))
    )
    return similarity.rrf_fuse([lex, sem], "doc_id", "rnk", k_const=60, topk=10)
