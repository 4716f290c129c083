"""LLM-data-pipeline queries: dedup (exact / Jaccard / MinHash-LSH /
SimHash), similarity search (brute-force + LSH ANN), text analysis
(lang-id, quality, token counts, fingerprints), multimodal binary
columns. SURVEY.md §2B last table."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators import dedup, similarity
from ..operators import text as T
from ..operators.reliability import materialize
from . import bench_query, materialized_sort, query


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


# ------------------------------------------------------------- dedup
def _plant_text_twins(d: DataFrame) -> DataFrame:
    """Union a deterministic drop-last-word twin per doc (id offset
    10^4). The synthetic fixture has no near-dup texts; twin planting
    gives the Jaccard/cluster queries real positives while staying
    oracle-expressible (same regexp_replace in DuckDB)."""
    # \z, not $: Java regex '$' also matches BEFORE a trailing line
    # terminator, while DuckDB's RE2 '$' matches only end-of-string —
    # a text ending in '\n' would twin differently on the two sides.
    twins = d.select(
        (F.col("doc_id") + F.lit(10_000)).alias("doc_id"),
        F.regexp_replace(F.col("text"), " \\S+\\z", "").alias("text"),
    )
    return d.select("doc_id", "text").unionByName(twins)


@query(
    "q40_dedup_exact",
    oracle="""
SELECT md5(text) AS content_hash, min(doc_id) AS keeper_doc_id, count(*) AS n_copies
FROM documents GROUP BY text ORDER BY keeper_doc_id
""",
)
def q40_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one representative per byte-identical text. Scale:
    group on the 128-bit hash → shuffle carries hashes, not documents."""
    d = _t(spark, sf_dir, "documents")
    return materialized_sort(
        d.groupBy(F.md5("text").alias("content_hash"))
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies")),
        "keeper_doc_id",
    )


@query(
    "q41_ngram_jaccard",
    oracle="""
WITH corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 100
  UNION ALL
  SELECT doc_id + 10000, regexp_replace(text, ' \\S+$', '')
  FROM documents WHERE doc_id < 100),
docs AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM corpus),
sh AS (
  SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS sh
  FROM docs, unnest(range(1, len(toks) - 1)) AS t(i)
  WHERE len(toks) >= 3
  UNION
  SELECT doc_id, array_to_string(toks, ' ') AS sh
  FROM docs WHERE len(toks) < 3),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b,
       CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.2
ORDER BY id_a, id_b
""",
)
def q41_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs on a bounded doc subset (the
    ground truth the LSH tiers are tuned against).

    The fixture has no true near-dup texts (round-1 drivers recorded a
    0-row hash match — correct but vacuous), so the corpus plants one
    deterministic drop-last-word twin per doc (id offset 10^4, same
    planting in the oracle SQL): each doc↔twin pair shares all but the
    trailing shingles, Jaccard ≈ (n-3)/(n-2) >> 0.2, giving ~100
    real pairs to verify."""
    d = _plant_text_twins(
        _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    )
    return (
        dedup.ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.2)
        .orderBy("id_a", "id_b")
    )


@query(
    "q107_prefix_jaccard",
    oracle="""
WITH corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 100
  UNION ALL
  SELECT doc_id + 10000, regexp_replace(text, ' \\S+$', '')
  FROM documents WHERE doc_id < 100),
docs AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM corpus),
sh AS (
  SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS sh
  FROM docs, unnest(range(1, len(toks) - 1)) AS t(i)
  WHERE len(toks) >= 3
  UNION
  SELECT doc_id, array_to_string(toks, ' ') AS sh
  FROM docs WHERE len(toks) < 3),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b,
       CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.6
ORDER BY id_a, id_b
""",
)
def q107_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard ≥ 0.6 pairs via PPJoin-style prefix filtering —
    same twin-planted corpus and the same all-pairs oracle as q41, but
    the engine joins only frequency-ordered PREFIXES (rarest ~40% of
    each doc's shingles at t=0.6), with a length filter ahead of the
    exact verify. The oracle hash-match IS the no-false-negatives
    proof of the prefix theorem as implemented
    (operators/dedup.py prefix_jaccard_pairs)."""
    d = _plant_text_twins(
        _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    )
    return materialized_sort(
        dedup.prefix_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.6),
        "id_a", "id_b",
    )


@query(
    "q121_prefix_jaccard_corpus",
    oracle="""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000, regexp_replace(text, ' \\S+$', '')
  FROM documents),
docs AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM corpus),
sh AS (
  SELECT DISTINCT doc_id,
         toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] AS sh
  FROM docs, unnest(range(1, len(toks) - 2)) AS t(i)
  WHERE len(toks) >= 4
  UNION
  SELECT doc_id, array_to_string(toks, ' ') AS sh
  FROM docs WHERE len(toks) < 4),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b,
       CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.6
ORDER BY id_a, id_b
""",
)
def q121_prefix_jaccard_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q107's PPJoin at FULL-corpus scope (every document + its twin —
    10,000 docs at sf0.1): the bench form where plan choice matters.
    The round-5 bench measured q107 at 1.11× the naive full posting
    join — an artifact of its 200-doc scope, where the prefix filter's
    fixed frequency-ordering pass costs more than it prunes. At this
    scope the prefix theorem's asymptotic win (join only the rarest
    |s|−⌈t·|s|⌉+1 shingles per doc) dominates; BASELINE.md records the
    crossover. 4-gram shingles (vs q107's 3-grams): the synthetic
    fixture's phrase vocabulary is small enough that 3-gram posting
    lists average df≈19 at this scope (Σdf² ≈ 11M join rows for BOTH
    plans — collision-bound, not plan-bound); 4-grams restore a
    realistic df distribution (max df 12) where plan choice is what's
    measured. Same oracle shape as q107, unbounded corpus."""
    d = _plant_text_twins(_t(spark, sf_dir, "documents"))
    return materialized_sort(
        dedup.prefix_jaccard_pairs(d, "doc_id", "text", n=4, threshold=0.6),
        "id_a", "id_b",
    )


@query(
    "q113_minhash_verified_dedup",
    oracle="""
WITH corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 100
  UNION ALL
  SELECT doc_id + 10000, regexp_replace(text, ' \\S+$', '')
  FROM documents WHERE doc_id < 100),
docs AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM corpus),
sh AS (
  SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS sh
  FROM docs, unnest(range(1, len(toks) - 1)) AS t(i)
  WHERE len(toks) >= 3
  UNION
  SELECT doc_id, array_to_string(toks, ' ') AS sh
  FROM docs WHERE len(toks) < 3),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b,
       CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
ORDER BY id_a, id_b
""",
)
def q113_minhash_verified_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full production MinHash-LSH dedup pipeline — banded
    candidates + exact Jaccard verify computed only for candidates
    (operators/dedup.py minhash_jaccard_pairs) — against the plain
    all-pairs Jaccard oracle. The hash match is a RECALL PROOF on this
    corpus: any true ≥0.5 pair the banding missed would be absent from
    the Spark side and mismatch (twin pairs sit at J≈0.99 where band
    collision probability is ≈1). Complements q42 (candidates only,
    rows-only by design) and q41 (exact all-pairs ground truth)."""
    d = _plant_text_twins(
        _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    )
    return dedup.minhash_jaccard_pairs(
        d, "doc_id", "text", threshold=0.5, num_hashes=64, bands=16, shingle_n=3
    ).orderBy("id_a", "id_b")


@bench_query("q42_dedup_minhash_lsh")
def q42_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs (xxhash64 signatures are
    Spark-specific → rows-only driver check; recall vs exact Jaccard is
    asserted in tests/test_dedup.py)."""
    d = _t(spark, sf_dir, "documents")
    return materialized_sort(
        dedup.minhash_lsh_candidates(
            d, "doc_id", "text", num_hashes=64, bands=16, shingle_n=3
        ),
        "id_a", "id_b",
    )


@bench_query("q43_dedup_simhash")
def q43_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signatures per doc (FNV-1a token hashes via Arrow-batched
    pandas UDF — deterministic, but not SQL-expressible; q120 is the
    oracle-verified sibling covering the same signature+block-join
    machinery over a portable token hash)."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", dedup.simhash64(F.col("text")).alias("simhash")).orderBy("doc_id")


@query(
    "q120_simhash_verified_pairs",
    oracle="""
WITH corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 100
  UNION ALL
  SELECT doc_id + 10000, regexp_replace(text, ' \\S+$', '')
  FROM documents WHERE doc_id < 100),
toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM corpus),
hashed AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::UBIGINT AS h FROM toks),
bitsums AS (
  SELECT doc_id, j, sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM hashed, unnest(range(0, 60)) t(j)
  GROUP BY doc_id, j),
sigs AS (
  SELECT doc_id, sum(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0::BIGINT END) AS sig
  FROM bitsums GROUP BY doc_id)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sig, b.sig)) <= 3
ORDER BY id_a, id_b
""",
)
def q120_simhash_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SimHash near-dup pipeline in its exactness configuration
    (operators/dedup.py simhash_blocked_pairs): portable md5-based
    signatures, 4-block banded candidates, exact hamming verify. With
    max_hamming=3 ≤ n_blocks−1 the pigeonhole guarantee makes the
    blocked join COMPLETE, and the oracle recomputes the ENTIRE
    signature in SQL (same token hash, same ±1 bit sums, same strict
    tie rule) plus all-pairs hamming — so the hash match verifies the
    signatures themselves AND the block-join recall, not just
    pass-through rows. Gives SimHash the q113/q114/q118 treatment;
    q43 keeps the FNV pandas-UDF production form (rows-only)."""
    d = _plant_text_twins(
        _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    )
    return dedup.simhash_blocked_pairs(
        d, "doc_id", "text", max_hamming=3, n_blocks=4, bits=60
    ).orderBy("id_a", "id_b")


# -------------------------------------------------------- similarity
@query(
    "q44_ann_cosine_topk",
    oracle="""
WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_vec
           FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.q_id, c.vec_id AS n_id,
         list_cosine_similarity(q.q_vec, CAST(c.embedding AS DOUBLE[])) AS cos_sim
  FROM embeddings c, q WHERE c.vec_id <> q.q_id)
SELECT q_id, n_id, cos_sim, rn FROM (
  SELECT q_id, n_id, cos_sim,
         row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) AS rn
  FROM scored)
WHERE rn <= 5 ORDER BY q_id, rn
""",
)
def q44_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for 5 query vectors: broadcast queries,
    JVM zip_with/aggregate dot products, per-query heap rank. One corpus
    scan, zero corpus shuffle."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = similarity.cosine_topk(emb, queries, "vec_id", "embedding", k=5)
    return materialized_sort(
        out.select(
            "q_id", "n_id", "cos_sim", F.col("rn").cast("bigint").alias("rn")
        ),
        "q_id", "rn",
    )


@query(
    "q193_retrieval_recall_eval",
    oracle="""
WITH t0 AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings WHERE vec_id < 20),
allv AS (SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS v
         FROM embeddings),
ts AS (SELECT t0.q_id, a.n_id,
         list_cosine_similarity(t0.v, a.v) AS cos_sim
       FROM allv a, t0 WHERE a.n_id <> t0.q_id),
truth AS (SELECT q_id, n_id, rn FROM (
    SELECT q_id, n_id,
           row_number() OVER (PARTITION BY q_id
                              ORDER BY cos_sim DESC, n_id) AS rn
    FROM ts) WHERE rn <= 5),
ss AS (SELECT t0.q_id, a.n_id,
         CAST(list_dot_product(list_transform(t0.v, x -> sign(x)),
                               list_transform(a.v, x -> sign(x)))
              AS BIGINT) AS score
       FROM allv a, t0 WHERE a.n_id <> t0.q_id),
cand AS (SELECT q_id, n_id, rn FROM (
    SELECT q_id, n_id,
           row_number() OVER (PARTITION BY q_id
                              ORDER BY score DESC, n_id) AS rn
    FROM ss) WHERE rn <= 5),
o AS (SELECT t.q_id, count(*) AS n_overlap
      FROM truth t JOIN cand c ON t.q_id = c.q_id AND t.n_id = c.n_id
      GROUP BY t.q_id),
r AS (SELECT t.q_id, COALESCE(1.0 / c.rn, 0.0) AS reciprocal_rank
      FROM truth t LEFT JOIN cand c ON t.q_id = c.q_id AND t.n_id = c.n_id
      WHERE t.rn = 1)
SELECT qs.q_id,
       CAST(COALESCE(o.n_overlap, 0) AS BIGINT) AS n_overlap,
       COALESCE(o.n_overlap, 0) / 5.0 AS recall_at_k,
       COALESCE(r.reciprocal_rank, 0.0) AS reciprocal_rank
FROM (SELECT DISTINCT q_id FROM truth) qs
LEFT JOIN o USING (q_id) LEFT JOIN r USING (q_id)
ORDER BY q_id
""",
)
def q193_retrieval_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation (added r13 — the step every
    retrieval/ANN/near-dup pipeline runs before trusting its fast
    tier): 20 query vectors score the corpus two ways — the exact
    float-cosine top-5 (q44's machinery) as TRUTH, and a 1-bit
    SIGN-quantized dot-product top-5 as the approximate candidate
    tier (binary embeddings: ±1 per component, the coarsest and most
    shuffle-friendly quantization — deterministic, integer-exact, and
    genuinely rank-divergent from the float truth, unlike the int8
    tier whose error vanishes at this scale) — and
    operators/similarity.py retrieval_eval reduces them to per-query
    (n_overlap, recall_at_k, reciprocal_rank of the truth top-1).

    The oracle recomputes BOTH rankings independently
    (list_cosine_similarity for the truth — the q44-proven
    formulation — and sign-transformed list_dot_product for the
    candidates) and replays the metric arithmetic closed-form, so a
    drift in either ranking, the overlap join, the recall
    denominator, or the MRR term hash-mismatches. Scale shape: both
    rankings broadcast the queries and never shuffle the corpus (the
    q44/q92 contract); the metric joins touch only (queries × k)
    rows."""
    from pyspark.sql import Window

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    truth = similarity.cosine_topk(emb, queries, "vec_id", "embedding", k=5)
    sgn = lambda v: F.transform(v, lambda x: F.signum(x.cast("double")))  # noqa: E731
    qs = queries.select(
        F.col("vec_id").alias("q_id"), sgn(F.col("embedding")).alias("q_s")
    )
    corpus = emb.select(
        F.col("vec_id").alias("n_id"), sgn(F.col("embedding")).alias("n_s")
    )
    sdot = F.aggregate(
        F.zip_with("q_s", "n_s", lambda x, y: (x * y).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    scored = corpus.join(F.broadcast(qs), F.col("q_id") != F.col("n_id")).select(
        "q_id", "n_id", sdot.alias("score")
    )
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("n_id"))
    cand = (
        scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 5)
    )
    return similarity.retrieval_eval(truth, cand, k=5).orderBy("q_id")


@query(
    "q194_ann_ivf_recall",
    oracle="""
WITH c0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings WHERE vec_id % 61 = 7
            ORDER BY vec_id LIMIT 8),
cents AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
                 list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS c
          FROM c0),
corpus AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
asg AS (SELECT vec_id, v, cell FROM (
    SELECT corpus.vec_id, corpus.v, cents.cell,
           row_number() OVER (PARTITION BY corpus.vec_id
             ORDER BY list_cosine_similarity(corpus.v, cents.c) DESC,
                      cents.cell) AS arn
    FROM corpus, cents) WHERE arn = 1),
q AS (SELECT vec_id AS q_id, v AS q_v, cell FROM asg WHERE vec_id < 20),
cand AS (SELECT q_id, n_id, rn FROM (
    SELECT q.q_id, a.vec_id AS n_id,
           row_number() OVER (PARTITION BY q.q_id
             ORDER BY list_cosine_similarity(q.q_v, a.v) DESC,
                      a.vec_id) AS rn
    FROM q JOIN asg a USING (cell) WHERE a.vec_id <> q.q_id)
  WHERE rn <= 10),
truth AS (SELECT q_id, n_id, rn FROM (
    SELECT q.q_id, c2.vec_id AS n_id,
           row_number() OVER (PARTITION BY q.q_id
             ORDER BY list_cosine_similarity(q.q_v, c2.v) DESC,
                      c2.vec_id) AS rn
    FROM corpus c2, q WHERE c2.vec_id <> q.q_id) WHERE rn <= 10),
m AS (SELECT t.q_id, count(c.n_id) AS n_overlap, count(*) AS n_truth,
             coalesce(max(CASE WHEN t.rn = 1 THEN 1.0 / c.rn END), 0.0) AS rr
      FROM truth t LEFT JOIN cand c ON t.q_id = c.q_id AND t.n_id = c.n_id
      GROUP BY t.q_id)
SELECT q_id, CAST(n_overlap AS BIGINT) AS n_overlap,
       n_overlap / CAST(n_truth AS DOUBLE) AS recall_at_k,
       rr AS reciprocal_rank
FROM m ORDER BY q_id
""",
)
def q194_ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF in its genuinely APPROXIMATE configuration, measured with
    the engine's own instrument (added r14 — VERDICT r13 item 1:
    q193 proved retrieval_eval against a synthetic sign-quantized
    ranking; this pins the eval arithmetic over a REAL tier): 20
    query vectors run operators/similarity.py ivf_query with
    ``n_probe=1`` — each query scans ONLY its own coarse cell, the
    deployment shape whose recall a 100 TB ANN user tunes — against
    the exact cosine_topk truth, reduced per query to (n_overlap,
    recall@10, reciprocal_rank). Unlike q68 (n_probe = n_cells, the
    exactness proof where IVF degenerates to brute force), the
    candidate tier here is rank-DIVERGENT and the hash verdict pins
    real recall numbers.

    The coarse quantizer is a CLOSED-FORM seeded-sample stand-in the
    oracle can replay (``vec_id % 61 == 7``, first 8 by id,
    L2-normalized — build_ivf_index's _hash_pick uses xxhash64, which
    DuckDB cannot recompute; the sample rule is the only substitution,
    and the assignment/probe/re-rank path under test is the REAL
    ivf_append + ivf_query machinery, Arrow-batched numpy kernel
    included). The oracle independently recomputes the nearest-cell
    assignment of every vector, both rankings, and the metric
    arithmetic — a drifted assignment kernel, a cell relabel, a probe
    of the wrong cell, or a metric slip all hash-mismatch. Recall
    curves vs n_probe/code budget/bands for the engine's tiers are
    recorded in docs/SCALE.md (r14); this query is the driver-graded
    anchor of that measurement loop. Scale shape: the centroid frame
    is 8 rows (collected by contract), the index join is cell-pruned,
    metrics joins are queries × k."""
    from pyspark.sql import Window as W

    emb = _t(spark, sf_dir, "embeddings")
    cand = (
        emb.filter(F.col("vec_id") % 61 == 7)
        .orderBy("vec_id")
        .limit(8)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )
    norm = similarity.l2_norm(F.col("v"))
    cent = cand.select(
        (F.row_number().over(W.orderBy("vec_id")) - 1).alias("cell"),
        F.transform("v", lambda x: x / norm).alias("centroid"),
    )
    index = similarity.ivf_append(emb, cent, "vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 20)
    approx = similarity.ivf_query(
        queries, index, cent, "vec_id", "embedding", k=10, n_probe=1
    )
    truth = similarity.cosine_topk(emb, queries, "vec_id", "embedding", k=10)
    return similarity.retrieval_eval(truth, approx, k=10).orderBy("q_id")


@query(
    "q196_ann_pq_recall",
    oracle="""
WITH src AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                    row_number() OVER (ORDER BY vec_id) - 1 AS code
             FROM embeddings WHERE vec_id % 31 = 2 ORDER BY vec_id LIMIT 16),
cw AS (SELECT j, code, src.v[(j*8+1):(j*8+8)] AS w
       FROM src, unnest(range(0, 8)) t(j)),
corpus AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
d AS (SELECT corpus.vec_id, cw.j, cw.code,
             list_dot_product(
               list_transform(range(1, 9), i -> corpus.v[cw.j*8+i] - cw.w[i]),
               list_transform(range(1, 9), i -> corpus.v[cw.j*8+i] - cw.w[i])) AS dist
      FROM corpus, cw),
asg AS (SELECT vec_id, j, code FROM (
    SELECT vec_id, j, code,
           row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, code) AS arn
    FROM d) WHERE arn = 1),
qv AS (SELECT vec_id AS q_id, v AS qv FROM corpus WHERE vec_id < 20),
sc AS (SELECT qv.q_id, asg.vec_id AS n_id,
              sum(list_dot_product(
                    list_transform(range(1, 9), i -> qv.qv[asg.j*8+i]), cw.w)) AS s
       FROM qv, asg JOIN cw ON asg.j = cw.j AND asg.code = cw.code
       GROUP BY qv.q_id, asg.vec_id),
cand AS (SELECT q_id, n_id FROM (
    SELECT q_id, n_id,
           row_number() OVER (PARTITION BY q_id ORDER BY s DESC, n_id) AS crn
    FROM sc) WHERE crn <= 25 AND q_id <> n_id),
rer AS (SELECT c.q_id, c.n_id, list_cosine_similarity(qv.qv, corpus.v) AS cos_sim
        FROM cand c JOIN qv ON c.q_id = qv.q_id
        JOIN corpus ON c.n_id = corpus.vec_id),
capp AS (SELECT q_id, n_id, rn FROM (
    SELECT q_id, n_id,
           row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) AS rn
    FROM rer) WHERE rn <= 10),
truth AS (SELECT q_id, n_id, rn FROM (
    SELECT qv.q_id, c2.vec_id AS n_id,
           row_number() OVER (PARTITION BY qv.q_id
             ORDER BY list_cosine_similarity(qv.qv, c2.v) DESC, c2.vec_id) AS rn
    FROM corpus c2, qv WHERE c2.vec_id <> qv.q_id) WHERE rn <= 10),
m AS (SELECT t.q_id, count(c.n_id) AS n_overlap, count(*) AS n_truth,
             coalesce(max(CASE WHEN t.rn = 1 THEN 1.0 / c.rn END), 0.0) AS rr
      FROM truth t LEFT JOIN capp c ON t.q_id = c.q_id AND t.n_id = c.n_id
      GROUP BY t.q_id)
SELECT q_id, CAST(n_overlap AS BIGINT) AS n_overlap,
       n_overlap / CAST(n_truth AS DOUBLE) AS recall_at_k,
       rr AS reciprocal_rank
FROM m ORDER BY q_id
""",
)
def q196_ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC in its genuinely APPROXIMATE configuration, measured with
    the engine's own instrument (added r14 — q194's treatment for the
    OTHER quantized tier): 20 query vectors run
    operators/similarity.py pq_append + pq_query with a tight
    candidate budget (n_candidates=25 over the whole corpus — the ADC
    pre-cut is the tier whose recall a PQ user tunes), against the
    exact cosine_topk truth, reduced through retrieval_eval to
    per-query (n_overlap, recall@10, MRR term).

    The codebook is CLOSED-FORM so the oracle can replay it —
    codeword[j][c] = subspace-j slice of the c-th source vector
    (``vec_id % 31 == 2``, first 16 by id; build_pq_index's Lloyd
    refinement is driver-side numpy on an xxhash64-picked sample,
    which DuckDB cannot recompute, so as in q194 the training rule is
    the one substitution) — while everything under test is the
    production path: _pq_encode's argmin kernel via pq_append, the
    per-partition ADC gather + pre-cut, the global (score, id)
    candidate window, the exact re-rank join, and the metric
    reduction. DETERMINISM of the pre-cut was verified before
    registration: with all ADC scores distinct per query (checked at
    sf0.001/0.01/0.1 — no two corpus vectors share all 8 codes), the
    per-partition top-N is an exact superset of the global top-N for
    ANY partition layout. (r17 removed the need for that fixture
    argument entirely: the cut now tie-breaks (score desc, n_id asc)
    — the global window's order — so layout invariance holds even
    UNDER ties, ADVICE r16.) The oracle independently recomputes every
    subspace assignment (argmin distance, tie -> min code), the ADC
    scores, both rankings, and the metrics — a drifted encode kernel,
    a wrong gather, a candidate-cut slip, or a metric slip all
    hash-mismatch. Scale shape: codebook is m x n_codes rows
    (collected by contract), the ADC scan emits <= queries x
    n_candidates rows per partition, candidates re-join true vectors
    once, metrics joins are queries x k."""
    from pyspark.sql import Window as W

    emb = _t(spark, sf_dir, "embeddings")
    src = (
        emb.filter(F.col("vec_id") % 31 == 2)
        .orderBy("vec_id")
        .limit(16)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )
    coded = src.select(
        (F.row_number().over(W.orderBy("vec_id")) - 1).alias("code"), "v"
    )
    cb = coded.select(
        "code",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("subspace"),
                        F.slice("v", j * 8 + 1, 8).alias("centroid"),
                    )
                    for j in range(8)
                ]
            )
        ).alias("s"),
    ).select(F.col("s.subspace").alias("subspace"), "code", F.col("s.centroid").alias("centroid"))
    encoded = similarity.pq_append(emb, cb, "vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 20)
    cand = similarity.pq_query(
        queries, encoded, cb, emb, "vec_id", "embedding", k=10, n_candidates=25
    )
    truth = similarity.cosine_topk(emb, queries, "vec_id", "embedding", k=10)
    return similarity.retrieval_eval(truth, cand, k=10).orderBy("q_id")


@bench_query("q45_ann_lsh")
def q45_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH approximate top-5 (bucketed candidates + exact
    re-rank). Recall vs brute force asserted in tests/test_similarity.py;
    q118 is the exactness-verification configuration of this same
    operator with a hash oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = similarity.lsh_ann_topk(emb, queries, "vec_id", "embedding", k=5)
    return out.select(
        "q_id", "n_id", "cos_sim", F.col("rn").cast("bigint").alias("rn")
    ).orderBy("q_id", "rn")


@query(
    "q118_ann_lsh_verified",
    oracle="""
WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_vec
           FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.q_id, c.vec_id AS n_id,
         list_cosine_similarity(q.q_vec, CAST(c.embedding AS DOUBLE[])) AS cos_sim
  FROM embeddings c, q WHERE c.vec_id <> q.q_id)
SELECT q_id, n_id, cos_sim, rn FROM (
  SELECT q_id, n_id, cos_sim,
         row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) AS rn
  FROM scored)
WHERE rn <= 5 ORDER BY q_id, rn
""",
)
def q118_ann_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH ANN in its exactness-verification configuration
    (1-bit bands: a candidate pair needs only ONE of 16 sign bits to
    agree, so a true top-5 neighbor — a small-angle pair whose sign
    bits almost all agree — is in the candidate set with near-total
    certainty, and the exact re-rank then provably orders it
    correctly). The q44-shape oracle hash-verifies the ENTIRE LSH
    machinery: seeded hyperplane signatures, band slicing, bucket
    equi-join, vector re-join, JVM cosine re-rank, windowed top-k.
    Completes the verified-sibling set for every LSH tier (q113
    MinHash, q114 embedding near-dup, this for ANN); q45 remains the
    production-recall form, pytest-asserted."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = similarity.lsh_ann_topk(
        emb, queries, "vec_id", "embedding", k=5, bits=16, bands=16
    )
    return out.select(
        "q_id", "n_id", "cos_sim", F.col("rn").cast("bigint").alias("rn")
    ).orderBy("q_id", "rn")


# ------------------------------------------------------ text analysis
def _marker_hits_sql(markers: tuple[str, ...]) -> str:
    arr = ", ".join(f"'{m}'" for m in markers)
    return (
        f"CAST(len(list_filter(string_split(text, ' '), "
        f"t -> list_contains([{arr}], t))) AS BIGINT)"
    )


def _lang_id_oracle() -> str:
    hits = {lang: _marker_hits_sql(m) for lang, m in T.LANG_MARKERS.items()}
    best = "greatest(" + ", ".join(f"h_{lang}" for lang in hits) + ")"
    cases = " ".join(
        f"WHEN h_{lang} = {best} AND {best} > 0 THEN '{lang}'" for lang in hits
    )
    hit_cols = ", ".join(f"{sql} AS h_{lang}" for lang, sql in hits.items())
    return f"""
WITH h AS (SELECT doc_id, lang, {hit_cols} FROM documents)
SELECT doc_id, lang, CASE {cases} ELSE 'und' END AS lang_guess
FROM h ORDER BY doc_id
"""


@query("q46_lang_id", oracle=_lang_id_oracle())
def q46_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID (marker-lexicon argmax) next to the ground-
    truth lang column."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", "lang", T.lang_id(F.col("text")).alias("lang_guess")).orderBy(
        "doc_id"
    )


_STOP_SQL = _marker_hits_sql(T.STOPWORDS)


@query(
    "q47_quality_score",
    oracle=f"""
WITH s AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         CAST(length(text) AS BIGINT) AS n_chars_m,
         {_STOP_SQL} AS n_stop
  FROM documents)
SELECT doc_id, n_tok,
       CAST(n_chars_m - (n_tok - 1) AS DOUBLE) / n_tok AS mean_tok_len,
       CAST(n_stop AS DOUBLE) / n_tok                  AS stop_ratio,
       CAST(
         (CASE WHEN n_tok BETWEEN 20 AND 1000 THEN 0.4 ELSE 0.0 END) +
         (CASE WHEN CAST(n_chars_m - (n_tok - 1) AS DOUBLE) / n_tok BETWEEN 3 AND 10
               THEN 0.3 ELSE 0.0 END) +
         (CASE WHEN CAST(n_stop AS DOUBLE) / n_tok > 0.01 THEN 0.3 ELSE 0.0 END)
       AS DOUBLE) AS quality
FROM s ORDER BY doc_id
""",
)
def q47_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality filtering features + composite score (C4-style bands)."""
    d = _t(spark, sf_dir, "documents")
    text = F.col("text")
    n_tok = T.token_count_ws(text)
    mean_len = (F.length(text).cast("bigint") - (n_tok - 1)) / n_tok
    return d.select(
        "doc_id",
        n_tok.alias("n_tok"),
        mean_len.alias("mean_tok_len"),
        T.stopword_ratio(text).alias("stop_ratio"),
        T.quality_score(text).alias("quality"),
    ).orderBy("doc_id")


@query(
    "q48_token_count",
    oracle=r"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS BIGINT)
         AS n_bpe_ish
FROM documents ORDER BY doc_id
""",
)
def q48_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens and a BPE-ish regex estimate."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        T.token_count_ws(F.col("text")).alias("n_ws_tokens"),
        T.token_count_bpe_ish(F.col("text")).alias("n_bpe_ish"),
    ).orderBy("doc_id")


@query(
    "q49_fingerprint",
    oracle="""
WITH fp AS (
  SELECT doc_id,
         md5(array_to_string(list_sort(string_split(text, ' ')), ' ')) AS fp
  FROM documents)
SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS n_same_fp
FROM fp ORDER BY doc_id
""",
)
def q49_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive content fingerprint (md5 of sorted token
    multiset) + per-fingerprint cluster size."""
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    fp = d.select("doc_id", T.fingerprint(F.col("text")).alias("fp"))
    return fp.withColumn(
        "n_same_fp", F.count(F.lit(1)).over(Window.partitionBy("fp"))
    ).orderBy("doc_id")


# --------------------------------------------------------- multimodal
@query(
    "q54_multimodal_bytes",
    oracle="""
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text)                                  AS payload_md5
FROM documents ORDER BY doc_id
""",
)
def q54_multimodal_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal column plumbing: text → binary payload + typed
    metadata. The decode/feature steps are Pandas-UDF stubs in
    operators/multimodal.py (image/audio libs absent in this container);
    the binary schema/partitioning path here is real."""
    d = _t(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    return d.select(
        "doc_id",
        F.length(payload).cast("bigint").alias("n_bytes"),
        F.md5("text").alias("payload_md5"),
    ).orderBy("doc_id")


@query(
    "q66_embedding_neardup",
    oracle="""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                              CAST(b.embedding AS DOUBLE[])) AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                             CAST(b.embedding AS DOUBLE[])) >= 0.4
ORDER BY id_a, id_b
""",
)
def q66_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, EXACT baseline (all-pairs
    self-join — validation corpora only; q67 is the LSH scale path).
    Threshold 0.4 because the synthetic fixture has no true dups
    (max pairwise cos ~0.51)."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.embedding_neardup_pairs(emb, "vec_id", "embedding", 0.4).orderBy(
        "id_a", "id_b"
    )


@bench_query("q67_embedding_neardup_lsh")
def q67_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup via hyperplane-LSH banding + exact cosine
    filter — candidate shuffle bounded by bucket sizes, never
    all-pairs. Precision exact by construction; recall vs exact
    all-pairs asserted in tests/test_similarity.py.

    The synthetic fixture has no true near-dups (max pairwise cos
    ~0.51), so the query plants one deterministic perturbed TWIN per
    corpus vector (JVM transform, id offset 10^6) and runs the
    operator at a real near-dup threshold (0.9) with real scale
    parameters (8-bit bands: a random pair collides in a band with
    p=2^-8, so candidates stay ~3% of all-pairs; a twin at cos~0.999
    collides with p~1). The earlier form (threshold 0.4, 2-bit bands)
    degenerated into all-pairs — LSH cannot bucket-separate weak
    similarity, and the fixture forced a weak threshold. Twin
    construction shared with q114 (_plant_embedding_twins — explicit
    about the lateral-alias pitfall documented there); q114 is the
    oracle-verified bounded form of this same pipeline."""
    emb = _t(spark, sf_dir, "embeddings")
    corpus = _plant_embedding_twins(emb)
    return materialized_sort(
        similarity.embedding_neardup_lsh(
            corpus, "vec_id", "embedding", threshold=0.9, bits=64, bands=8
        ),
        "id_a", "id_b",
    )


def _plant_embedding_twins(emb: DataFrame) -> DataFrame:
    """Union a perturbed twin per vector (id offset 10^6, perturbation
    seeded by the twin's own shifted id). The sin argument is built
    from an explicitly renamed source column: referencing the
    ``vec_id`` alias from inside the transform lambda silently
    resolves to the ALIASED (shifted) column via Spark's lateral
    alias resolution — this form pins the semantics so the SQL oracle
    can mirror them exactly."""
    base = emb.select(F.col("vec_id").alias("src_id"), "embedding")
    twins = base.select(
        (F.col("src_id") + F.lit(1_000_000)).alias("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x, i: (
                x + F.sin(i.cast("double") + F.col("src_id") + F.lit(1_000_000)) * F.lit(0.02)
            ).cast("float"),
        ).alias("embedding"),
    )
    return emb.select("vec_id", "embedding").unionByName(twins)


@query(
    "q114_embedding_neardup_verified",
    oracle="""
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id < 500
  UNION ALL
  SELECT vec_id + 1000000,
         list_transform(range(0, len(embedding)),
           i -> CAST(embedding[i+1]
                     + sin(CAST(i AS DOUBLE) + vec_id + 1000000) * 0.02 AS FLOAT))
  FROM embeddings WHERE vec_id < 500)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                              CAST(b.embedding AS DOUBLE[])) AS cos_sim
FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                             CAST(b.embedding AS DOUBLE[])) >= 0.9
ORDER BY id_a, id_b
""",
)
def q114_embedding_neardup_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hyperplane-LSH embedding near-dup pipeline (q67's operator —
    banded candidates + exact cosine verify) against the plain
    all-pairs oracle on a bounded twin-planted corpus (vec_id < 500 +
    perturbed twins; the sin-perturbation is reproduced in SQL —
    bit-identical across engines, asserted by the hash match). A true
    ≥0.9 pair the banding missed would be absent from the Spark side
    and mismatch, so the verdict is a recall proof for the production
    LSH parameters; q67 keeps the full-corpus rows-only form for the
    bench. Corpus bounded because the ORACLE is quadratic — the Spark
    side under test stays bucket-bounded."""
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500)
    corpus = _plant_embedding_twins(emb)
    return similarity.embedding_neardup_lsh(
        corpus, "vec_id", "embedding", threshold=0.9, bits=64, bands=8
    ).orderBy("id_a", "id_b")


@query(
    "q68_ann_ivf",
    oracle="""
WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_vec
           FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.q_id, c.vec_id AS n_id,
         list_cosine_similarity(q.q_vec, CAST(c.embedding AS DOUBLE[])) AS cos_sim
  FROM embeddings c, q WHERE c.vec_id <> q.q_id)
SELECT q_id, n_id, cos_sim, rn FROM (
  SELECT q_id, n_id, cos_sim,
         row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) AS rn
  FROM scored)
WHERE rn <= 5 ORDER BY q_id, rn
""",
)
def q68_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN top-5 in its exactness-verification configuration:
    n_probe = n_cells, i.e. every query probes every cell, which makes
    IVF provably equal to the exact brute-force top-k — so the DuckDB
    exact-cosine oracle hash-verifies the ENTIRE distributed IVF
    machinery (seeded centroid pick, Arrow-batched cell assignment,
    per-cell candidate equi-join, JVM cosine re-rank, windowed top-k).
    r1-r4 ran partial probe here and could only get a rows-only
    verdict; the production pruning quality (n_probe < n_cells, recall
    vs brute force) remains asserted in tests/test_similarity.py."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = similarity.ivf_topk(
        emb, queries, "vec_id", "embedding", k=5, n_cells=16, n_probe=16
    )
    return out.select(
        "q_id", "n_id", "cos_sim", F.col("rn").cast("bigint").alias("rn")
    ).orderBy("q_id", "rn")


@query(
    "q79_dedup_clusters",
    oracle="""
WITH RECURSIVE corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 100
  UNION ALL
  SELECT doc_id + 10000, regexp_replace(text, ' \\S+$', '')
  FROM documents WHERE doc_id < 100),
docs AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM corpus),
sh AS (
  SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS sh
  FROM docs, unnest(range(1, len(toks) - 1)) AS t(i)
  WHERE len(toks) >= 3
  UNION
  SELECT doc_id, array_to_string(toks, ' ') AS sh
  FROM docs WHERE len(toks) < 3),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
edges AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.2),
sym AS (SELECT id_a AS a, id_b AS b FROM edges UNION SELECT id_b, id_a FROM edges),
walk(node, label) AS (
  SELECT DISTINCT a, a FROM sym
  UNION
  SELECT s.b, w.label FROM walk w JOIN sym s ON s.a = w.node)
SELECT node AS doc_id, CAST(min(label) AS BIGINT) AS cluster_id
FROM walk GROUP BY node ORDER BY doc_id
""",
)
def q79_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs → clusters: exact n-gram Jaccard edges (same threshold as
    q41) fed through iterative hash-min connected components
    (operators/dedup.py). cluster_id = min doc in the component — the
    keeper under keep-min dedup. Oracle reconstructs components with a
    recursive CTE. The LSH scale path swaps only the edge generator
    (minhash_lsh_candidates), the clustering is identical.

    Twin-planted corpus (see _plant_text_twins): each doc-twin edge
    yields a 2-node cluster, so the driver verifies ~200 rows of real
    component structure instead of a vacuous 0-row match."""
    d = _plant_text_twins(
        _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    )
    edges = dedup.ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.2)
    return (
        dedup.connected_components(edges)
        .select(F.col("id").alias("doc_id"), "cluster_id")
        .orderBy("doc_id")
    )


@query(
    "q81_embed_text",
    oracle="""
WITH corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 100
  UNION ALL
  SELECT doc_id + 10000, regexp_replace(text, ' \\S+$', '')
  FROM documents WHERE doc_id < 100),
g AS (
  SELECT doc_id, i,
    ((xor(
        ((xor(
            ((xor(CAST(14695981039346656079 AS HUGEINT),
                  CAST(ord(substring(text, i, 1)) AS HUGEINT)))
              * 1099511628211) % 18446744073709551616,
            CAST(ord(substring(text, i+1, 1)) AS HUGEINT)))
          * 1099511628211) % 18446744073709551616,
        CAST(ord(substring(text, i+2, 1)) AS HUGEINT)))
      * 1099511628211) % 18446744073709551616 AS h
  FROM corpus, unnest(range(1, greatest(length(text) - 1, 1))) AS t(i)),
c AS (
  SELECT doc_id, CAST(h % 64 AS INT) AS idx,
         SUM(CASE WHEN h < 9223372036854775808 THEN 1 ELSE -1 END) AS c
  FROM g GROUP BY 1, 2),
dense AS (
  SELECT d.doc_id, dim.idx, COALESCE(c.c, 0) AS c
  FROM (SELECT doc_id FROM corpus) d
  CROSS JOIN (SELECT unnest(range(64)) AS idx) dim
  LEFT JOIN c ON c.doc_id = d.doc_id AND c.idx = dim.idx)
SELECT doc_id,
       string_agg(CAST(c AS VARCHAR), ',' ORDER BY idx) AS cvec_str,
       CAST(SUM(c*c) AS BIGINT) AS l2sq
FROM dense GROUP BY doc_id ORDER BY doc_id
""",
)
def q81_embed_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-embedding pipe (operators/embed.py): Arrow-batched hashed
    n-gram feature vectors per document through the mapInPandas embed
    pipe, emitted as the pre-normalization INTEGER count vector
    (serialized to a comma-joined string, the q90 pattern) plus its
    squared L2 norm. Integers are exactly representable, so the DuckDB
    oracle recomputes the full FNV-1a n-gram hash chain in SQL and
    hash-matches bit-for-bit — the first hard driver verdict for the
    embed pipe (r1–r4 were rows-only). The L2-normalized float form and
    near-dup-pair recovery stay covered by tests/test_embed.py (floats
    post-normalization are not cross-engine comparable).

    Twin-planted bounded corpus (doc_id < 100 + drop-last-word twins,
    as q41/q79) so the verified vectors include near-identical pairs —
    the structure downstream ANN/near-dup consumes."""
    from ..operators.embed import embed_text_counts

    d = _plant_text_twins(
        _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    )
    cnt = embed_text_counts(d, "doc_id", "text", dim=64, ngram=3, seed=42)
    return cnt.select(
        "doc_id",
        F.array_join("cvec", ",").alias("cvec_str"),
        F.aggregate("cvec", F.lit(0).cast("bigint"), lambda acc, x: acc + x * x).alias(
            "l2sq"
        ),
    ).orderBy("doc_id")


@query(
    "q95_incremental_dedup",
    oracle="""
WITH history AS (SELECT doc_id, text FROM documents WHERE doc_id < 250),
batch AS (
  SELECT doc_id, text FROM documents WHERE doc_id >= 250
  UNION ALL
  SELECT b.doc_id + 20000, h.text
  FROM documents b JOIN history h ON h.doc_id = b.doc_id % 250
  WHERE b.doc_id >= 250 AND b.doc_id % 5 = 0)
SELECT b.doc_id FROM batch b
WHERE md5(b.text) NOT IN (SELECT md5(text) FROM history)
ORDER BY b.doc_id
""",
)
def q95_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup: drop new-batch docs whose content
    already exists in the historical corpus (every crawl refresh runs
    this). Docs 0-249 play history; the batch is docs 250+ plus
    planted verbatim copies of history texts (id offset 2*10^4) so the
    positives are real.

    Scale: the anti-join carries 128-bit content hashes, never text —
    16 bytes/row against the history's hash set. q116 is the 100 TB
    escalation: broadcast a bloom filter of history hashes first and
    anti-join only the survivors; this hash-only join is the exact
    fallback."""
    batch, hist_hashes = _incremental_dedup_inputs(spark, sf_dir)
    return (
        batch.join(F.broadcast(hist_hashes), "content_hash", "left_anti")
        .select("doc_id")
        .orderBy("doc_id")
    )


def _incremental_dedup_inputs(spark: SparkSession, sf_dir: str):
    """Shared corpus for q95/q116: docs 0-249 play history; the batch
    is docs 250+ plus planted verbatim copies of history texts (id
    offset 2*10^4). Returns (batch with content_hash, distinct history
    hashes)."""
    d = _t(spark, sf_dir, "documents")
    history = d.filter(F.col("doc_id") < 250).select("doc_id", "text")
    fresh = d.filter(F.col("doc_id") >= 250).select("doc_id", "text")
    copies = (
        d.filter((F.col("doc_id") >= 250) & (F.col("doc_id") % 5 == 0))
        .select((F.col("doc_id") + 20_000).alias("doc_id"), (F.col("doc_id") % 250).alias("h_id"))
        .join(
            F.broadcast(history.select(F.col("doc_id").alias("h_id"), F.col("text"))),
            "h_id",
        )
        .select("doc_id", "text")
    )
    batch = fresh.unionByName(copies).withColumn("content_hash", F.md5("text"))
    hist_hashes = history.select(F.md5("text").alias("content_hash")).distinct()
    return batch, hist_hashes


@query(
    "q116_bloom_incremental_dedup",
    oracle="""
WITH history AS (SELECT doc_id, text FROM documents WHERE doc_id < 250),
batch AS (
  SELECT doc_id, text FROM documents WHERE doc_id >= 250
  UNION ALL
  SELECT b.doc_id + 20000, h.text
  FROM documents b JOIN history h ON h.doc_id = b.doc_id % 250
  WHERE b.doc_id >= 250 AND b.doc_id % 5 = 0)
SELECT b.doc_id FROM batch b
WHERE md5(b.text) NOT IN (SELECT md5(text) FROM history)
ORDER BY b.doc_id
""",
)
def q116_bloom_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q95's incremental dedup through the bloom-prefilter scale path
    (operators/dedup.py bloom_prefiltered_antijoin): history hashes
    compress to a broadcast 128 KiB bitmap, definitely-absent batch
    rows skip the anti-join entirely, maybe-present rows verify
    exactly. Shares q95's oracle VERBATIM — a bloom filter has no
    false negatives, so the pipeline is provably equal to the plain
    anti-join, and the hash match proves the bitmap/probe
    implementation honors that."""
    batch, hist_hashes = _incremental_dedup_inputs(spark, sf_dir)
    return (
        dedup.bloom_prefiltered_antijoin(batch, hist_hashes, "content_hash")
        .select("doc_id")
        .orderBy("doc_id")
    )


@query(
    "q96_dedup_corpus",
    oracle="""
WITH RECURSIVE corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 100
  UNION ALL
  SELECT doc_id + 10000, regexp_replace(text, ' \\S+$', '')
  FROM documents WHERE doc_id < 100),
docs AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM corpus),
sh AS (
  SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS sh
  FROM docs, unnest(range(1, len(toks) - 1)) AS t(i)
  WHERE len(toks) >= 3
  UNION
  SELECT doc_id, array_to_string(toks, ' ') AS sh
  FROM docs WHERE len(toks) < 3),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
edges AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.2),
sym AS (SELECT id_a AS a, id_b AS b FROM edges UNION SELECT id_b, id_a FROM edges),
walk(node, label) AS (
  SELECT DISTINCT a, a FROM sym
  UNION
  SELECT s.b, w.label FROM walk w JOIN sym s ON s.a = w.node),
cc AS (SELECT node, min(label) AS cluster_id FROM walk GROUP BY node)
SELECT c.doc_id FROM corpus c
WHERE c.doc_id NOT IN (SELECT node FROM cc WHERE node <> cluster_id)
ORDER BY c.doc_id
""",
)
def q96_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END fuzzy dedup: Jaccard edges → connected components →
    keep the minimum doc per cluster, emit the deduped corpus (q41
    finds pairs, q79 labels clusters; this produces the actual
    output a pipeline ships). On the twin-planted corpus every twin
    drops and every original survives. The LSH scale path swaps only
    the edge generator; keeper selection and the anti-join are
    unchanged."""
    d = _plant_text_twins(_t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100))
    edges = dedup.ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.2)
    cc = dedup.connected_components(edges)
    losers = cc.filter(F.col("id") != F.col("cluster_id")).select(F.col("id").alias("doc_id"))
    return d.join(losers, "doc_id", "left_anti").select("doc_id").orderBy("doc_id")


@query(
    "q112_semantic_dedup",
    oracle="""
WITH RECURSIVE corpus AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id < 500),
e AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
  WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                               CAST(b.embedding AS DOUBLE[])) >= 0.4),
sym AS (SELECT id_a AS a, id_b AS b FROM e UNION SELECT id_b, id_a FROM e),
walk(node, label) AS (
  SELECT DISTINCT a, a FROM sym
  UNION
  SELECT s.b, w.label FROM walk w JOIN sym s ON s.a = w.node),
losers AS (SELECT node FROM walk GROUP BY node HAVING min(label) <> node)
SELECT vec_id FROM corpus
WHERE vec_id NOT IN (SELECT node FROM losers)
ORDER BY vec_id
""",
)
def q112_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) in its exactness-verification
    configuration (n_clusters=1 — one cluster makes the within-cluster
    pass provably equal to exact keep-min connected components over
    the cosine-≥-0.4 graph, which the recursive-CTE oracle replays;
    threshold 0.4 because the synthetic fixture's max pairwise cos is
    ~0.51). Corpus bounded to vec_id < 500 — the exact form is
    quadratic by design and validation-scoped, like q41/q66. The
    production multi-cluster path — same code, equi-keyed per-cluster
    joins instead of all-pairs — is recall-tested against this exact
    form in tests/test_similarity.py."""
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500)
    return (
        similarity.semantic_dedup(
            emb, "vec_id", "embedding", threshold=0.4, n_clusters=1
        )
        .select("vec_id")
        .orderBy("vec_id")
    )


@query(
    "q98_ann_pq",
    oracle="""
WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_vec
           FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.q_id, c.vec_id AS n_id,
         list_cosine_similarity(q.q_vec, CAST(c.embedding AS DOUBLE[])) AS cos_sim
  FROM embeddings c, q WHERE c.vec_id <> q.q_id)
SELECT q_id, n_id, cos_sim, rn FROM (
  SELECT q_id, n_id, cos_sim,
         row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) AS rn
  FROM scored)
WHERE rn <= 5 ORDER BY q_id, rn
""",
)
def q98_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (PQ-ADC) in its exactness-verification
    configuration: vectors compress to m=8 uint8 codes (32x vs
    float32), ADC scoring is table lookups — and n_candidates is set
    above the verification-corpus size, so every row survives the ADC
    pruning stage and the exact re-rank provably returns the true
    top-k. The DuckDB exact-cosine oracle therefore hash-verifies the
    FULL PQ pipeline (seeded Lloyd codebooks, Arrow-batched encoding,
    ADC table scoring, candidate shuffle, JVM cosine re-rank) instead
    of the r1-r4 rows-only verdict. Production pruning quality
    (n_candidates << corpus, recall vs brute force) remains asserted
    in tests/test_similarity.py."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return similarity.pq_ann_topk(
        emb, queries, "vec_id", "embedding", k=5, n_candidates=1 << 20
    ).orderBy("q_id", "rn")


@query(
    "q140_fuzzy_name_join",
    oracle="""
WITH n AS (SELECT DISTINCT p_name AS name FROM part)
SELECT a.name AS name_a, b.name AS name_b,
       CAST(levenshtein(a.name, b.name) AS BIGINT) AS lev
FROM n a JOIN n b
  ON a.name < b.name
 AND abs(len(a.name) - len(b.name)) <= 3
 AND levenshtein(a.name, b.name) <= 3
ORDER BY name_a, name_b
""",
)
def q140_fuzzy_name_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy join over distinct part names
    (operators/dedup.py fuzzy_name_pairs): entity-resolution's string
    tier, complementing the token-set tiers (Jaccard/MinHash) and the
    embedding tiers. The engine turns the |len(a)−len(b)| ≤ k bound
    into an EQUI-join (side A explodes to its 2k+1 matchable lengths)
    and verifies with Spark's thresholded levenshtein (early exit at
    k); the oracle is the plain all-pairs predicate — the hash match
    proves the length banding loses no pair and the distances agree
    exactly."""
    d = _t(spark, sf_dir, "part")
    return materialized_sort(dedup.fuzzy_name_pairs(d, "p_name", max_dist=3), "name_a", "name_b")


@query(
    "q144_normalized_dedup",
    oracle="""
WITH norm AS (
  SELECT doc_id,
         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                             ' +', ' ', 'g')) AS norm_text
  FROM documents)
SELECT md5(norm_text) AS norm_hash,
       CAST(min(doc_id) AS BIGINT) AS keeper_doc_id,
       CAST(count(*) AS BIGINT) AS n_copies
FROM norm GROUP BY norm_text ORDER BY keeper_doc_id
""",
)
def q144_normalized_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-tier dedup — the step between byte-exact (q40)
    and fuzzy (MinHash): casefold, strip punctuation, collapse
    whitespace, THEN hash — catching near-copies that differ only in
    case/punctuation (the most common duplicate class in web scrapes).
    Same scale shape as q40: the shuffle carries 16-byte hashes of the
    normalized form, never text. The normalization is three codegen'd
    string expressions, reproduced exactly by the oracle (both
    regexes are RE2-compatible)."""
    d = _t(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
            " +",
            " ",
        )
    )
    return (
        d.select("doc_id", norm.alias("norm_text"))
        .groupBy(F.md5("norm_text").alias("norm_hash"))
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .orderBy("keeper_doc_id")
    )


@query(
    "q191_unicode_nfc_dedup",
    oracle="""
WITH d AS (SELECT doc_id, doc_id % 50 AS g, doc_id // 50 AS v,
                  (doc_id * 37) % 101 AS qual
           FROM documents WHERE doc_id < 150),
j AS (SELECT d.doc_id, d.v, d.qual, b.text AS base
      FROM d JOIN documents b ON d.g = b.doc_id),
r AS (SELECT doc_id, qual,
  base || CASE v
    WHEN 0 THEN ' caf' || chr(233) || ' ' || chr(7785)
    WHEN 1 THEN ' cafe' || chr(769) || ' s' || chr(803) || chr(775)
    ELSE ' cafe' || chr(769) || ' s' || chr(775) || chr(803) END AS raw
 FROM j),
n AS (SELECT doc_id, qual, nfc_normalize(raw) AS norm FROM r),
k AS (SELECT doc_id, row_number() OVER (
        PARTITION BY norm ORDER BY qual DESC, doc_id) AS rn FROM n)
SELECT n.doc_id, md5(n.norm) AS norm_hash, n.qual, (k.rn = 1) AS kept
FROM n JOIN k USING (doc_id) ORDER BY n.doc_id
""",
)
def q191_unicode_nfc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-normalization-tier dedup (added r13): the tier BELOW
    q144 in the dedup ladder — web scrapes encode the SAME visible
    text as precomposed codepoints, combining sequences, and
    non-canonically ORDERED combining stacks, which every byte-exact
    and hash tier treats as distinct documents. 150 planted docs form
    50 groups of 3 encoding variants sharing one base text: v0
    appends precomposed ``café ṩ`` (U+00E9, U+1E69), v1 the fully
    decomposed canonical-order form (``e``+U+0301, ``s``+U+0323+
    U+0307), v2 the NON-canonical diacritic order (U+0307 before
    U+0323 — NFC must reorder by combining class before composing).
    All three are byte-distinct raw; operators/text.py
    unicode_normalize (the engine's one documented pandas-UDF
    exception — Spark has NO SQL-layer Unicode normalizer) folds them
    to one NFC form, and the (quality desc, id) keeper window over
    the normalized key picks one doc per group.

    The oracle recomputes the normalization with DuckDB's
    ``nfc_normalize`` — an INDEPENDENT implementation of the same
    Unicode standard (stdlib vs utf8proc), so the md5(norm) hash
    column pins the normalized BYTES, not just the grouping: a wrong
    composition, a missed reorder, or a stray compatibility mapping
    (NFKC where NFC was asked) all hash-mismatch. Scale shape: the
    UDF is a scan-local Arrow-batched projection; the keeper shuffle
    carries the normalized-key hash partition — one exchange, same as
    q144/q179."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    g = F.col("doc_id") % 50
    v = F.expr("doc_id div 50")
    qual = (F.col("doc_id") * 37) % 101
    base = d.join(
        F.broadcast(
            _t(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 50)
            .select(F.col("doc_id").alias("b_id"), F.col("text").alias("base"))
        ),
        g == F.col("b_id"),
    )
    # explicit escapes — an editor/VCS layer must never be able to
    # NFC-fold the three byte-distinct plantings into one
    suffix = (
        F.when(v == 0, F.lit(" caf\u00e9 \u1e69"))
        .when(v == 1, F.lit(" cafe\u0301 s\u0323\u0307"))
        .otherwise(F.lit(" cafe\u0301 s\u0307\u0323"))
    )
    rows = base.select(
        "doc_id",
        qual.alias("qual"),
        T.unicode_normalize(F.concat(F.col("base"), suffix)).alias("norm"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("norm").orderBy(F.col("qual").desc(), F.col("doc_id"))
    return (
        rows.withColumn("rn", F.row_number().over(w))
        .select(
            "doc_id",
            F.md5("norm").alias("norm_hash"),
            "qual",
            (F.col("rn") == 1).alias("kept"),
        )
        .orderBy("doc_id")
    )


@query(
    "q195_dedup_ladder_e2e",
    oracle="""
WITH bases AS (SELECT doc_id AS b_id, text AS base FROM documents WHERE doc_id < 40),
grid AS (SELECT doc_id, doc_id % 40 AS g, doc_id // 40 AS v
         FROM documents WHERE doc_id < 200),
raws AS (SELECT grid.doc_id,
    (CASE WHEN v = 4 THEN regexp_replace(base, ' \\S+$', '') ELSE base END) ||
    (CASE WHEN v = 1 THEN ' cafe' || chr(769) || ' Z.'
          WHEN v = 2 THEN ' caf' || chr(233) || ' z'
          ELSE ' caf' || chr(233) || ' Z.' END) AS raw
  FROM grid JOIN bases ON grid.g = bases.b_id),
n1 AS (SELECT doc_id, raw, nfc_normalize(raw) AS nfc FROM raws),
n2 AS (SELECT doc_id, md5(raw) AS k_r, md5(nfc) AS k_u,
              trim(regexp_replace(regexp_replace(lower(nfc),
                   '[^\\p{L}\\p{N} ]', '', 'g'), ' +', ' ', 'g')) AS norm
       FROM n1),
n3 AS (SELECT doc_id, k_r, k_u, norm, md5(norm) AS k_n FROM n2),
kp AS (SELECT doc_id, k_r, k_u, k_n, norm,
              first_value(doc_id) OVER w AS keeper_id,
              first_value(k_r) OVER w AS keeper_kr,
              first_value(k_u) OVER w AS keeper_ku
       FROM n3 WINDOW w AS (PARTITION BY k_n ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
keep AS (SELECT doc_id AS kid, norm FROM kp WHERE doc_id = keeper_id),
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
       WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.5)
SELECT kp.doc_id,
  CASE WHEN kp.doc_id <> kp.keeper_id THEN
         CASE WHEN kp.k_r = kp.keeper_kr THEN 'exact'
              WHEN kp.k_u = kp.keeper_ku THEN 'unicode'
              ELSE 'casefold' END
       WHEN nd.id_b IS NOT NULL THEN 'neardup' ELSE 'kept' END AS tier,
  kp.k_n AS norm_hash
FROM kp LEFT JOIN nd ON kp.doc_id = nd.id_b
ORDER BY kp.doc_id
""",
)
def q195_dedup_ladder_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-LADDER end-to-end composition (added r14 — VERDICT r13
    item 7, the q189 treatment for the OTHER product pipeline a user
    runs whole): 200 planted docs (40 bases × 5 variants) through ONE
    plan — Unicode NFC (operators/text.py unicode_normalize, the
    documented pandas-UDF exception) → casefold + punctuation-strip +
    whitespace-collapse → exact-hash keeper window → MinHash-LSH +
    exact-Jaccard near-dup verify among the KEEPERS (q113's recall-
    proof machinery) — each doc labeled with the TIER that folded it.

    Every handoff is load-bearing: v1 (decomposed ``cafe`` +
    U+0301) must NFC-compose BEFORE the casefold tier, because the
    punct-strip regex keeps ``\\p{L}`` but drops combining marks
    (\\p{M}) — skipping NFC would strip the accent and split the
    group; v2 (lowercase, no period) folds only AT the casefold tier
    (its NFC form stays distinct — the tier attribution proves order);
    v3 is a byte-exact copy (caught before either normalization
    matters); v4 (drop-last-word twin) survives every hash tier and
    falls only to the near-dup verify. Tier labels are decided by
    hash comparison against the keeper (raw md5 → 'exact', NFC md5 →
    'unicode', else 'casefold'; keepers: 'neardup' when a
    smaller-id keeper holds a ≥0.5-Jaccard pair, else 'kept').

    The oracle replays the whole ladder independently: DuckDB's
    utf8proc nfc_normalize vs the stdlib (the q191 independence),
    the same RE2-compatible regexes, and plain all-pairs Jaccard vs
    the banded pipeline — so the hash verdict is simultaneously a
    normalization proof, a tier-ordering proof, and an LSH recall
    proof on the composed corpus. Scale shape: the keeper window's
    exchange carries (k_n, doc_id, k_r, k_u) — three 16-byte hashes
    + id, never text (the q177 packed-key discipline); keeper TEXT
    re-derives scan-side and reaches the near-dup stage through a
    broadcast semi-join of keeper ids, so document bytes never enter
    a corpus exchange; the near-dup stage is keeper-sized and
    band-bounded; and the normalized frame localCheckpoints once (the
    q190 discipline — at corpus scale, the persisted-tier handoff) so
    the pandas UDF executes ONCE across all consumer branches: the
    executed plan went from 29 ArrowEvalPython nodes to 1, the same
    re-execution class q193's r13 review caught."""
    from pyspark.sql import Window as W

    docs = _t(spark, sf_dir, "documents")
    grid = docs.filter(F.col("doc_id") < 200).select("doc_id")
    bases = docs.filter(F.col("doc_id") < 40).select(
        F.col("doc_id").alias("b_id"), F.col("text").alias("base")
    )
    g = F.col("doc_id") % 40
    v = F.expr("doc_id div 40")
    j = grid.join(F.broadcast(bases), g == F.col("b_id"))
    # \z not $ — the _plant_text_twins Java-vs-RE2 line-terminator rule
    body = F.when(v == 4, F.regexp_replace(F.col("base"), " \\S+\\z", "")).otherwise(
        F.col("base")
    )
    # explicit escapes — an editor/VCS layer must never be able to
    # NFC-fold the planted byte-distinct variants into one (q191 rule)
    suffix = (
        F.when(v == 1, F.lit(" cafe\u0301 Z."))  # decomposed e + U+0301
        .when(v == 2, F.lit(" caf\u00e9 z"))  # precomposed; case/punct variant
        .otherwise(F.lit(" caf\u00e9 Z."))  # precomposed (v0 / v3 / v4)
    )
    raws = j.select("doc_id", F.concat(body, suffix).alias("raw"))
    nfc = raws.withColumn("nfc", T.unicode_normalize(F.col("raw")))
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("nfc")), "[^\\p{L}\\p{N} ]", ""),
            " +",
            " ",
        )
    )
    # Materialize the normalized frame ONCE (the q190 checkpoint
    # discipline, and q193's single-execution-lineage rule): the exact
    # tier, the keeper join-back, and the near-dup stage's four posting
    # consumers all branch from here — without the checkpoint each
    # branch re-runs the planting grid AND the pandas UDF (measured:
    # 29 ArrowEvalPython nodes in the executed plan; 1 after). At
    # corpus scale this is the persisted-tier handoff — each ladder
    # tier's output is written before the next tier reads it.
    keyed = materialize(
        nfc.select(
            "doc_id",
            F.md5("raw").alias("k_r"),
            F.md5("nfc").alias("k_u"),
            norm.alias("norm"),
            F.md5(norm).alias("k_n"),
        )
    )
    # keeper window over HASHES only — text stays out of the exchange
    wfull = (
        W.partitionBy("k_n")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    ann = materialize(
        keyed.select(
            "doc_id",
            "k_r",
            "k_u",
            "k_n",
            F.first("doc_id").over(wfull).alias("keeper_id"),
            F.first("k_r").over(wfull).alias("keeper_kr"),
            F.first("k_u").over(wfull).alias("keeper_ku"),
        )
    )
    keeper_ids = ann.filter(F.col("doc_id") == F.col("keeper_id")).select("doc_id")
    # 4 posting consumers inside the verify
    ktext = materialize(
        keyed.select(F.col("doc_id").alias("kid"), F.col("norm").alias("ntext"))
        .join(F.broadcast(keeper_ids), F.col("kid") == F.col("doc_id"), "left_semi")
    )
    pairs = dedup.minhash_jaccard_pairs(
        ktext, "kid", "ntext", threshold=0.5, num_hashes=64, bands=16, shingle_n=3
    )
    removed = (
        pairs.select(F.col("id_b").alias("doc_id"))
        .distinct()
        .withColumn("__nd", F.lit(True))
    )
    return (
        ann.join(removed, "doc_id", "left")
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") != F.col("keeper_id"),
                F.when(F.col("k_r") == F.col("keeper_kr"), F.lit("exact"))
                .when(F.col("k_u") == F.col("keeper_ku"), F.lit("unicode"))
                .otherwise(F.lit("casefold")),
            )
            .otherwise(
                F.when(F.col("__nd"), F.lit("neardup")).otherwise(F.lit("kept"))
            )
            .alias("tier"),
            F.col("k_n").alias("norm_hash"),
        )
        .orderBy("doc_id")
    )


@query(
    "q145_passage_chunking",
    oracle="""
WITH docs AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
  WHERE text IS NOT NULL),
chunks AS (
  SELECT doc_id,
         CAST(i AS BIGINT) AS chunk_idx,
         array_to_string(toks[(i * 24 + 1):(i * 24 + 32)], ' ') AS chunk_text,
         CAST(least(len(toks) - i * 24, 32) AS BIGINT) AS n_tokens
  FROM docs,
       unnest(range(0, CAST(greatest(ceil((len(toks) - 32) / 24.0) + 1, 1)
                            AS BIGINT))) AS t(i))
SELECT doc_id, chunk_idx, chunk_text, n_tokens
FROM chunks ORDER BY doc_id, chunk_idx
""",
)
def q145_passage_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style passage chunking with overlap: each document's tokens
    split into windows of 32 with stride 24 (8-token overlap) —
    (doc_id, chunk_idx, chunk_text, n_tokens), the retrieval/training
    prep step between documents and embeddings. Chunk count =
    ⌈(n−size)/stride⌉+1 (min 1) so the tail is never dropped and no
    empty trailing chunk is emitted; the final chunk may be short
    (n_tokens < size). Pure JVM sequence+slice expressions — one
    narrow pass, no shuffle at all; the explode multiplies rows by
    ~n/stride, which is the output's inherent size."""
    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = F.split(F.col("text"), " ")
    size, stride = 32, 24
    n_chunks = F.greatest(
        F.ceil((F.size(toks) - F.lit(size)) / F.lit(float(stride))) + 1, F.lit(1)
    ).cast("int")
    return (
        d.select(
            "doc_id",
            toks.alias("__toks"),
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
            F.concat_ws(
                " ", F.slice(F.col("__toks"), F.col("chunk_idx") * stride + 1, size)
            ).alias("chunk_text"),
            F.least(
                F.size("__toks") - F.col("chunk_idx") * stride, F.lit(size)
            ).cast("bigint").alias("n_tokens"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


@query(
    "q147_containment_pairs",
    oracle="""
WITH corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 100
  UNION ALL
  SELECT doc_id + 10000,
         array_to_string(string_split(text, ' ')[1:20], ' ')
  FROM documents WHERE doc_id < 100),
docs AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM corpus),
sh AS (
  SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS sh
  FROM docs, unnest(range(1, len(toks) - 1)) AS t(i)
  WHERE len(toks) >= 3
  UNION
  SELECT doc_id, array_to_string(toks, ' ') AS sh
  FROM docs WHERE len(toks) < 3),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id <> b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b,
       CAST(n_inter AS DOUBLE) / sa.n_sh AS containment
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
WHERE CAST(n_inter AS DOUBLE) / sa.n_sh >= 0.9
ORDER BY id_a, id_b
""",
)
def q147_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTAINMENT similarity (asymmetric Jaccard, inter/|A|): finds
    documents EMBEDDED in others — quotes, excerpts, prefix crops —
    which symmetric Jaccard misses (a 20-token excerpt of a 56-token
    doc has J≈0.3 but containment 1.0). The planted positives are
    20-token prefix crops (id offset 10^4); each crop is fully
    contained in its source, and the ORDERED pair (crop → source)
    crosses the 0.9 threshold while the reverse does not — so the
    oracle verifies the asymmetry itself. Same posting-join shape and
    stop-shingle/prefix knobs as the Jaccard tier."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    crops = d.select(
        (F.col("doc_id") + F.lit(10_000)).alias("doc_id"),
        F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 1, 20)).alias("text"),
    )
    corpus = d.select("doc_id", "text").unionByName(crops)
    sh = dedup.exploded_shingles(corpus, "doc_id", "text", 3)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") != F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    return materialized_sort(
        inter.join(sa, "id_a")
        .select(
            "id_a", "id_b", (F.col("inter") / F.col("n_a")).alias("containment")
        )
        .filter(F.col("containment") >= 0.9),
        "id_a", "id_b",
    )


@query(
    "q163_importance_resampling",
    oracle="""
WITH bg AS (
  SELECT doc_id, source, t[i] || ' ' || t[i+1] AS bigram
  FROM (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents) d,
       unnest(range(1, len(t))) AS u(i)
  WHERE len(t) >= 2),
feat AS (
  SELECT doc_id, source,
         CAST(('0x' || substr(md5(bigram), 1, 15))::UBIGINT % 4096 AS BIGINT) AS bucket
  FROM bg),
tc AS (SELECT bucket, count(*) AS ct FROM feat WHERE source = 'src0' GROUP BY bucket),
sc AS (
  SELECT f.doc_id,
         CAST(sum(coalesce(tc.ct, 0)) AS BIGINT) AS affinity,
         CAST(count(*) AS BIGINT) AS n_bigrams
  FROM feat f LEFT JOIN tc USING (bucket)
  GROUP BY f.doc_id)
SELECT doc_id, affinity, n_bigrams,
       CAST(affinity AS DOUBLE) / n_bigrams AS score
FROM sc ORDER BY score DESC, doc_id LIMIT 100
""",
)
def q163_importance_resampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance resampling toward a target domain (the DSIR recipe
    shape — Xie et al. 2023: score every raw document by hashed-n-gram
    affinity to a small high-quality target corpus, keep the top
    quota): bigrams feature-hash into 4096 buckets via the engine's
    portable md5 hash (the q120/q140 technique, so the oracle
    recomputes every bucket bit-for-bit), the target corpus (source
    'src0') aggregates to AT MOST 4096 integer counts, and each doc's
    affinity is the integer sum of target counts over its bigram
    occurrences — normalized once by its bigram count in a single
    float division, so ranking is exact on both engines (DSIR's
    log-likelihood-ratio weights are deliberately replaced by
    integer-exact counts: IEEE ln is not bit-identical across
    engines, and cross-engine verifiability is this registry's
    contract; swap the broadcast map's values for log-ratios on a
    real run, the plan is unchanged). 100 TB shape: the target stats
    are a ≤4096-row broadcast, corpus text never shuffles — only
    (doc_id, bucket) pairs aggregate map-side; the same
    broadcast-the-model topology as q85's contamination check and
    q101's familiarity scorer."""
    from ..operators.corpus import with_bigrams

    d = _t(spark, sf_dir, "documents")
    bg = with_bigrams(d, "text").select(
        "doc_id", "source", F.explode("__bg").alias("bigram")
    )
    bucket = F.pmod(
        F.conv(F.substring(F.md5("bigram"), 1, 15), 16, 10).cast("long"), F.lit(4096)
    ).alias("bucket")
    feat = bg.select("doc_id", "source", bucket)
    tc = (
        feat.filter(F.col("source") == "src0")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    scored = (
        feat.join(F.broadcast(tc), "bucket", "left")
        .groupBy("doc_id")
        .agg(
            F.sum(F.coalesce(F.col("ct"), F.lit(0))).alias("affinity"),
            F.count(F.lit(1)).alias("n_bigrams"),
        )
    )
    return (
        scored.select(
            "doc_id",
            "affinity",
            "n_bigrams",
            (F.col("affinity").cast("double") / F.col("n_bigrams")).alias("score"),
        )
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(100)
    )


_Q164_P16 = " ".join(f"zz{i:02d}" for i in range(1, 17))
_Q164_P24 = " ".join(f"qq{i:02d}" for i in range(1, 25))


@query(
    "q164_shared_span_pairs",
    oracle=f"""
WITH base AS (
  SELECT doc_id,
         CASE WHEN doc_id < 100 AND doc_id % 10 = 0
                THEN '{_Q164_P16} {_Q164_P24} ' || text
              WHEN doc_id < 200 AND doc_id % 5 = 0
                THEN '{_Q164_P24} ' || text
              ELSE text END AS text
  FROM documents),
tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM base),
ch AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         array_to_string(t[i*8+1 : i*8+8], ' ') AS chunk
  FROM tok, unnest(range(0, len(t) // 8)) AS u(i)),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  a.pos AS pa, b.pos AS pb
  FROM ch a JOIN ch b ON a.chunk = b.chunk AND a.doc_id < b.doc_id),
runs AS (
  SELECT doc_a, doc_b,
         count(*) AS run_len
  FROM (
    SELECT doc_a, doc_b, pa, pa - pb AS diag,
           pa - row_number() OVER (PARTITION BY doc_a, doc_b, pa - pb
                                   ORDER BY pa) AS island
    FROM pairs)
  GROUP BY doc_a, doc_b, diag, island)
SELECT doc_a, doc_b, CAST(max(run_len) AS BIGINT) AS longest_run
FROM runs GROUP BY doc_a, doc_b
HAVING max(run_len) >= 2
ORDER BY doc_a, doc_b
""",
)
def q164_shared_span_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest shared passage between document pairs — the plagiarism/
    excerpt-forensics tier above q147's containment score (which says
    HOW MUCH overlaps; this says HOW LONG the longest contiguous run
    is): docs are cut into tumbling 8-token chunks with positions,
    identical chunks join pairwise (the q100/q147 posting-join shape —
    chunk keys, never all-pairs), and within each pair the matching
    positions group by their DIAGONAL (pos_a − pos_b); consecutive
    positions on one diagonal are a contiguous shared span, extracted
    with the q142 gaps-and-islands idiom. Two planted passage tiers
    (24 tokens = 3 chunks on every 5th doc below 200; plus 16 more on
    every 10th below 100) make runs of 3 and 5 that must surface
    exactly — a chunker off by one token, a diagonal mixup, or an
    island split all change longest_run. Planted tokens are outside
    the fixture vocabulary so the tiers are exact; natural chunk
    collisions surface identically on both engines. The chunk join
    carries 16-byte ``unhex(md5(chunk))`` keys (q100's discipline,
    implemented r8 — r7 VERDICT item 3): the raw 8-token chunk string
    (~50 B average here, unbounded in general) never enters the
    shuffle, only (doc_id, pos, 16-byte key) rows do — at 100 TB
    that is the difference between shuffling the corpus and shuffling
    a fixed-width index. 128-bit keys make collisions a non-event, so
    the exact-string oracle is unchanged. The per-pair diagonal
    window is bounded by matched positions, not document length."""
    toks = F.split(F.col("text"), " ")
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            (F.col("doc_id") < 100) & (F.col("doc_id") % 10 == 0),
            F.concat(F.lit(_Q164_P16 + " " + _Q164_P24 + " "), F.col("text")),
        )
        .when(
            (F.col("doc_id") < 200) & (F.col("doc_id") % 5 == 0),
            F.concat(F.lit(_Q164_P24 + " "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    n_chunks = F.floor(F.size(toks) / 8).cast("int")
    chunk_arr = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i * 8 + 1, 8)),
    )
    chunks = d.filter(n_chunks >= 1).select(
        "doc_id", F.posexplode(chunk_arr).alias("pos", "chunk")
    )
    # Shuffle 16-byte hashes, never chunk text: the key is computed
    # map-side and the string column is dropped before the join.
    # Materialized once: both self-join sides consume `hashed`, and a
    # broadcast side defeats exchange reuse — without this the chunk
    # explode + md5 pass runs once per side.
    hashed = materialize(
        chunks.select("doc_id", "pos", F.unhex(F.md5("chunk")).alias("chunk_h")),
        eager=False,
    )
    a, b = hashed.alias("a"), hashed.alias("b")
    pairs = (
        a.join(b, (F.col("a.chunk_h") == F.col("b.chunk_h")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.pos").cast("long").alias("pa"),
            F.col("b.pos").cast("long").alias("pb"),
        )
        .distinct()
    )
    from pyspark.sql import Window as W

    diag = (F.col("pa") - F.col("pb")).alias("diag")
    w = W.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    islands = pairs.select(
        "doc_a", "doc_b", "pa", diag
    ).withColumn("island", F.col("pa") - F.row_number().over(w))
    runs = islands.groupBy("doc_a", "doc_b", "diag", "island").agg(
        F.count(F.lit(1)).alias("run_len")
    )
    return materialized_sort(
        runs.groupBy("doc_a", "doc_b")
        .agg(F.max("run_len").alias("longest_run"))
        .filter(F.col("longest_run") >= 2),
        "doc_a", "doc_b",
    )


@query(
    "q165_containment_prefix_corpus",
    oracle="""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000,
         array_to_string(string_split(text, ' ')[1:20], ' ')
  FROM documents),
docs AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM corpus),
sh AS (
  SELECT DISTINCT doc_id,
         toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] AS sh
  FROM docs, unnest(range(1, len(toks) - 2)) AS t(i)
  WHERE len(toks) >= 4
  UNION
  SELECT doc_id, array_to_string(toks, ' ') AS sh
  FROM docs WHERE len(toks) < 4),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id <> b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b,
       CAST(n_inter AS DOUBLE) / sa.n_sh AS containment
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
WHERE CAST(n_inter AS DOUBLE) / sa.n_sh >= 0.9
ORDER BY id_a, id_b
""",
)
def q165_containment_prefix_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment pairs at FULL-corpus scope through the ASYMMETRIC
    prefix filter (operators/dedup.py containment_prefix_pairs) — the
    scale path above q147's plain posting join, exactly as q121 is the
    scale row above q107: every document plus a 20-token prefix crop
    of every document (id offset 10^5), each crop fully contained in
    its source (containment 1.0 ordered crop→source; the reverse
    direction stays far below threshold — the asymmetry the oracle
    verifies). Only each A-side doc's ~10% RAREST shingles enter the
    candidate join (prefix theorem, no false negatives) plus the
    |B| ≥ ⌈t·|A|⌉ size prune; the oracle is the plain every-shingle
    posting join, so the hash match proves the pruning loses nothing.
    4-gram shingles, not 3 — this fixture's small phrase vocabulary
    makes 3-gram posting lists collision-bound (the q121 finding:
    avg df≈19 at 3-grams), and at 4-grams plan choice is what's
    measured. The BASELINE.md row benches this against the unpruned
    stock posting join at the same scope."""
    d = _t(spark, sf_dir, "documents")
    crops = d.select(
        (F.col("doc_id") + F.lit(100_000)).alias("doc_id"),
        F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 1, 20)).alias("text"),
    )
    corpus = d.select("doc_id", "text").unionByName(crops)
    return materialized_sort(
        dedup.containment_prefix_pairs(corpus, "doc_id", "text", n=4, threshold=0.9),
        "id_a", "id_b",
    )


@query(
    "q166_fuzzy_title_corpus",
    oracle="""
WITH t AS (
  SELECT DISTINCT array_to_string(string_split(text, ' ')[1:6], ' ') AS name
  FROM documents WHERE doc_id < 1000),
c AS (SELECT name FROM t
      UNION
      SELECT substring(name, 1, length(name) - 2) FROM t)
SELECT a.name AS name_a, b.name AS name_b,
       CAST(levenshtein(a.name, b.name) AS BIGINT) AS lev
FROM c a JOIN c b
  ON a.name < b.name
 AND levenshtein(a.name, b.name) <= 3
ORDER BY name_a, name_b
""",
)
def q166_fuzzy_title_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy join at SCALE scope — q140's operator
    (length-banded equi-join + thresholded levenshtein) on ~2,000
    distinct names instead of q140's 64: the 6-token title prefixes of
    the first 1,000 documents plus a drop-last-2-chars twin per title
    (planted positives at exact distance 2 — the natural title set
    has ZERO pairs at ≤3, measured, so without planting the row would
    verify an empty result). Scope is a doc_id predicate, not the
    full corpus: the fixture's titles cluster in ~24 length buckets
    (21–44 chars), so the quadratic stock form at 9.5k names runs a
    10-minute single-task nested loop while banding only prunes ~2× —
    ~2M pairs is where the comparison is honest AND measurable. The
    engine explodes side A to its 7 matchable lengths and equi-joins
    on length; candidates verify with the early-exit thresholded
    levenshtein (O(k·n) vs the plain O(n²) DP — the bigger win when
    lengths cluster). The oracle is the unbanded all-pairs predicate —
    the hash match proves the banding loses no pair. The BASELINE.md
    row benches this against that stock all-pairs form at the same
    scope."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    title = F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 1, 6))
    titles = d.select(title.alias("name")).distinct()
    # Loud fixture-contract guard (the q148/q169 pattern, ADVICE r8
    # item 3): the twin construction takes substring(1, len-2), and a
    # title shorter than 3 chars yields an empty/negative-length slice
    # where Spark and DuckDB substring semantics diverge — a
    # regenerated fixture must fail HERE, not as an opaque hash
    # mismatch downstream.
    bad = titles.filter(F.length("name") < 3).limit(1).count()
    if bad:
        raise AssertionError(
            "q166 fixture contract broken: every distinct 6-token title "
            "prefix must be >= 3 chars so the drop-last-2 twin is "
            "non-empty (Spark/DuckDB substring semantics diverge on "
            "empty slices); regenerate the fixture or change the twin rule"
        )
    twins = titles.select(
        F.expr("substring(name, 1, length(name) - 2)").alias("name")
    )
    corpus = titles.unionByName(twins)
    return materialized_sort(
        dedup.fuzzy_name_pairs(corpus, "name", max_dist=3),
        "name_a", "name_b",
    )


@query(
    "q174_incremental_neardup",
    oracle="""
WITH corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 100
  UNION ALL
  SELECT doc_id + 10000, regexp_replace(text, ' \\S+$', '')
  FROM documents WHERE doc_id < 50
  UNION ALL
  SELECT doc_id, text FROM documents WHERE doc_id >= 100 AND doc_id < 150),
docs AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM corpus),
sh AS (
  SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS sh
  FROM docs, unnest(range(1, len(toks) - 1)) AS t(i)
  WHERE len(toks) >= 3
  UNION
  SELECT doc_id, array_to_string(toks, ' ') AS sh
  FROM docs WHERE len(toks) < 3),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b,
       CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
  AND (id_a >= 10000 OR id_b >= 10000
       OR (id_a >= 100 AND id_a < 150) OR (id_b >= 100 AND id_b < 150))
ORDER BY id_a, id_b
""",
)
def q174_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL near-dup ingest (added r9 — the near-dup twin of
    q95/q116's exact incremental dedup): history = docs < 100; the
    arriving batch = drop-last-word twins of docs < 50 (planted
    near-dups that MUST be caught against history) plus docs 100–149
    (novel content that must pass). operators/dedup.py
    incremental_minhash_pairs band-joins only the batch's bands
    against the full posting set — history×history pairs are
    structurally excluded, per-ingest cost is O(batch + collisions),
    and the exact-Jaccard verify fetches text only for candidate docs
    (candidate-id semi-join before shingling). The oracle is the
    all-pairs Jaccard ≥ 0.5 truth RESTRICTED to pairs touching the
    batch — the hash match proves both recall (every planted twin
    found: J≈0.99 where band collision probability ≈ 1, the q113
    argument) and the exclusion (a history×history pair appearing on
    the Spark side would mismatch)."""
    d = _t(spark, sf_dir, "documents")
    history = d.filter(F.col("doc_id") < 100).select("doc_id", "text")
    twins = (
        d.filter(F.col("doc_id") < 50)
        .select(
            (F.col("doc_id") + F.lit(10_000)).alias("doc_id"),
            F.regexp_replace(F.col("text"), " \\S+\\z", "").alias("text"),
        )
    )
    novel = d.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 150)).select(
        "doc_id", "text"
    )
    batch = twins.unionByName(novel)
    return dedup.incremental_minhash_pairs(
        history, batch, "doc_id", "text", threshold=0.5,
        num_hashes=64, bands=16, shingle_n=3,
    ).orderBy("id_a", "id_b")


@query(
    "q176_quality_keeper_dedup",
    oracle="""
WITH RECURSIVE corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 100
  UNION ALL
  SELECT doc_id + 10000, regexp_replace(text, ' \\S+$', '')
  FROM documents WHERE doc_id < 100),
q AS (SELECT doc_id, (doc_id * 37) % 101 AS qual FROM corpus),
docs AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM corpus),
sh AS (
  SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS sh
  FROM docs, unnest(range(1, len(toks) - 1)) AS t(i)
  WHERE len(toks) >= 3
  UNION
  SELECT doc_id, array_to_string(toks, ' ') AS sh
  FROM docs WHERE len(toks) < 3),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
edges AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.2),
sym AS (SELECT id_a AS a, id_b AS b FROM edges UNION SELECT id_b, id_a FROM edges),
walk(node, label) AS (
  SELECT DISTINCT a, a FROM sym
  UNION
  SELECT s.b, w.label FROM walk w JOIN sym s ON s.a = w.node),
cc AS (SELECT node, min(label) AS cluster_id FROM walk GROUP BY node),
ranked AS (
  SELECT cc.node,
         row_number() OVER (PARTITION BY cc.cluster_id
                            ORDER BY q.qual DESC, cc.node) AS rn
  FROM cc JOIN q ON q.doc_id = cc.node)
SELECT c.doc_id FROM corpus c
WHERE c.doc_id NOT IN (SELECT node FROM ranked WHERE rn > 1)
ORDER BY c.doc_id
""",
)
def q176_quality_keeper_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALITY-WEIGHTED keeper selection (added r9): q96's end-to-end
    dedup with the keeper rule production corpora actually use — keep
    the HIGHEST-QUALITY doc per cluster (C4/RefinedWeb-style), not
    the minimum id. The quality column here is the deterministic
    surrogate (doc_id·37) mod 101, deliberately DECORRELATED from id
    order so in roughly half the twin clusters the TWIN outranks its
    original and the keeper differs from q96's — the oracle's
    (quality desc, id) window proves the argmax and its min-id
    tie-break, not just cluster membership. In a real pipeline the
    quality column is whatever scoring already ran (token count, LM
    familiarity q101, composite q47); only the keeper window changes,
    the edge generator and anti-join are q96's unchanged — which is
    also the scale story (one extra shuffle of (id, cluster, quality)
    triples, O(cluster members))."""
    d = _plant_text_twins(
        _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    ).withColumn("qual", (F.col("doc_id") * 37) % 101)
    edges = dedup.ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.2)
    return (
        dedup.quality_keeper_dedup(d, edges, "doc_id", "qual")
        .select("doc_id")
        .orderBy("doc_id")
    )


_Q177_P24 = " ".join(f"rr{i:02d}" for i in range(1, 25))  # 3 chunks of 8
_Q177_P8 = " ".join(f"ss{i:02d}" for i in range(1, 9))    # exactly 1 chunk
_Q177_Q24 = " ".join(f"tt{i:02d}" for i in range(1, 25))  # doc 3's self-repeat


@query(
    "q177_exact_substring_dedup",
    oracle=f"""
WITH corpus AS (
  SELECT doc_id,
         CASE WHEN doc_id = 3 THEN '{_Q177_Q24} {_Q177_Q24} ' || text
              WHEN doc_id % 10 = 0 AND doc_id < 100 THEN '{_Q177_P24} ' || text
              WHEN doc_id % 10 = 5 AND doc_id < 100 THEN '{_Q177_P8} ' || text
              ELSE text END AS text
  FROM documents),
tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
ch AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         array_to_string(t[i*8+1 : i*8+8], ' ') AS chunk
  FROM tok, unnest(range(0, len(t) // 8)) AS u(i)),
tails AS (
  SELECT doc_id, array_to_string(t[(len(t)//8)*8+1 : len(t)], ' ') AS tail
  FROM tok),
rn AS (
  SELECT doc_id, pos,
         row_number() OVER (PARTITION BY chunk ORDER BY doc_id, pos) AS rn
  FROM ch),
dup AS (SELECT doc_id, pos FROM rn WHERE rn > 1),
isl AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM dup),
runs AS (SELECT doc_id, island, count(*) AS run_len FROM isl GROUP BY 1, 2),
removed AS (
  SELECT i.doc_id, i.pos FROM isl i
  JOIN runs r ON r.doc_id = i.doc_id AND r.island = i.island
  WHERE r.run_len >= 2),
kept AS (
  SELECT c.doc_id, string_agg(c.chunk, ' ' ORDER BY c.pos) AS kept_text
  FROM ch c LEFT JOIN removed rm ON rm.doc_id = c.doc_id AND rm.pos = c.pos
  WHERE rm.doc_id IS NULL
  GROUP BY c.doc_id),
nrem AS (SELECT doc_id, count(*) AS n_removed FROM removed GROUP BY doc_id)
SELECT t.doc_id,
       CASE WHEN coalesce(k.kept_text, '') = '' THEN coalesce(t.tail, '')
            WHEN coalesce(t.tail, '') = '' THEN k.kept_text
            ELSE k.kept_text || ' ' || t.tail END AS clean_text,
       CAST(coalesce(n.n_removed, 0) AS BIGINT) AS n_removed
FROM tails t
LEFT JOIN kept k ON k.doc_id = t.doc_id
LEFT JOIN nrem n ON n.doc_id = t.doc_id
ORDER BY t.doc_id
""",
)
def q177_exact_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT SUBSTRING dedup at span granularity (added r10 — VERDICT
    r9 item 4; the Lee et al. 2022 ExactSubstr shape): repeated long
    passages are REMOVED corpus-wide, first occurrence kept, documents
    reassembled — the remover tier above q164's detector and q100's
    frequency-based paragraph dropper. Three planted tiers prove each
    rule under one hash: a 24-token passage prepended to every 10th doc
    below 100 (docs 10..90 lose a 3-chunk run; doc 0, the corpus-order
    first, keeps it), an 8-token single chunk prepended to every
    (10k+5)th doc (a run of 1 < min_run — every copy SURVIVES, the
    incidental-collision keeper rule), and doc 3 carrying a unique
    24-token passage TWICE (self-repetition: first copy kept, second
    excised). Tails beyond the last full chunk always survive, n_removed
    counts excised chunks. operators/dedup.py exact_substring_dedup:
    detection shuffles (16-byte md5 key, id, pos) postings pruned to
    keys seen >=2x, the island window shuffles integer pairs, and doc
    text moves exactly once — the output-proportional removal-set join.
    A chunker off by one token, a keeper ordered other than (doc_id,
    pos), a min_run miscount, or a reassembly gluing spaces wrong all
    hash-mismatch."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") == 3,
            F.concat(F.lit(_Q177_Q24 + " " + _Q177_Q24 + " "), F.col("text")),
        )
        .when(
            (F.col("doc_id") % 10 == 0) & (F.col("doc_id") < 100),
            F.concat(F.lit(_Q177_P24 + " "), F.col("text")),
        )
        .when(
            (F.col("doc_id") % 10 == 5) & (F.col("doc_id") < 100),
            F.concat(F.lit(_Q177_P8 + " "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return materialized_sort(
        dedup.exact_substring_dedup(d, "doc_id", "text", chunk_tokens=8, min_run=2),
        "doc_id",
    )


_Q182_P24 = " ".join(f"uu{i:02d}" for i in range(1, 25))  # 24-token passage
_Q182_S12 = " ".join(f"vv{i:02d}" for i in range(1, 13))  # 12 tokens: below span
_Q182_Q24 = " ".join(f"xx{i:02d}" for i in range(1, 25))  # doc 3's self-repeat


@query(
    "q182_sliding_substring_dedup",
    oracle=f"""
WITH corpus AS (
  SELECT doc_id,
    CASE WHEN doc_id = 0 THEN '{_Q182_P24} ' || text
         WHEN doc_id = 3 THEN 'pre1 pre2 pre3 {_Q182_Q24} {_Q182_Q24} ' || text
         WHEN doc_id % 10 = 0 AND doc_id < 100 THEN 'off1 off2 off3 {_Q182_P24} ' || text
         WHEN doc_id % 10 = 5 AND doc_id < 100 THEN '{_Q182_S12} ' || text
         ELSE text END AS text
  FROM documents),
tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
g AS (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
         array_to_string(t[i:i+7], ' ') AS gram
  FROM tok, unnest(range(1, len(t) - 6)) AS u(i)
  WHERE len(t) >= 8),
rn AS (
  SELECT doc_id, pos,
         row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
  FROM g),
dup AS (SELECT doc_id, pos FROM rn WHERE rn > 1),
isl AS (
  SELECT doc_id, pos, pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM dup),
runs AS (SELECT doc_id, island, count(*) AS rl FROM isl GROUP BY 1, 2),
starts AS (
  SELECT i.doc_id, list(i.pos) AS st
  FROM isl i JOIN runs r ON r.doc_id = i.doc_id AND r.island = i.island
  WHERE r.rl >= 9
  GROUP BY i.doc_id),
outv AS (
  SELECT tok.doc_id, tok.t, coalesce(s.st, CAST([] AS BIGINT[])) AS st
  FROM tok LEFT JOIN starts s ON s.doc_id = tok.doc_id)
SELECT doc_id,
  coalesce(array_to_string(
    list_transform(
      list_filter(range(1, len(t) + 1),
        j -> len(list_filter(st, x -> x <= j - 1 AND j - 1 <= x + 7)) = 0),
      j -> t[j]), ' '), '') AS clean_text,
  CAST(len(t) - len(list_filter(range(1, len(t) + 1),
        j -> len(list_filter(st, x -> x <= j - 1 AND j - 1 <= x + 7)) = 0)) AS BIGINT) AS n_removed
FROM outv ORDER BY doc_id
""",
)
def q182_sliding_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALIGNMENT-FREE sliding exact-substring dedup (added r11 — the
    refinement q177's KNOWN-MISS-MODE note promised, implemented and
    oracle-verified). Every token starts an 8-token sliding window, so
    the planted tier the aligned form PROVABLY misses — the 24-token
    passage at host offset 3, a chunk-boundary straddle
    (tests/test_dedup.py pins the aligned miss) — is excised here: doc
    0 carries the passage at offset 0 (corpus-order first, keeps it),
    docs 10..90 carry it behind a 3-token prefix and must lose exactly
    its 24 tokens. Two more tiers under the same hash: a 12-token
    repeat (5 consecutive duplicate windows < the 9-window span
    threshold = min_span_tokens 16 — every copy survives, the
    incidental-collision rule restated in tokens), and doc 3's
    back-to-back self-repeat (periodicity analysis: exactly the second
    copy's windows are duplicates of the first's — first copy kept).

    operators/dedup.py sliding_substring_dedup: ~window_tokens× the
    aligned form's posting volume through the SAME pruned shuffle shape
    (map-side-combinable packed-key min + count per 16-byte window key,
    keys seen ≥2× only into the join), islands/runs as in q177, text
    moved once via the output-proportional removal join, q178's
    coverage-predicate token surgery. The oracle replays windows,
    corpus-order firsts, 9-window runs and the per-token coverage
    filter mechanically; brute-force property test + straddle-catch
    pytest beside it."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") == 0, F.concat(F.lit(_Q182_P24 + " "), F.col("text"))
        )
        .when(
            F.col("doc_id") == 3,
            F.concat(
                F.lit("pre1 pre2 pre3 " + _Q182_Q24 + " " + _Q182_Q24 + " "),
                F.col("text"),
            ),
        )
        .when(
            (F.col("doc_id") % 10 == 0) & (F.col("doc_id") < 100),
            F.concat(F.lit("off1 off2 off3 " + _Q182_P24 + " "), F.col("text")),
        )
        .when(
            (F.col("doc_id") % 10 == 5) & (F.col("doc_id") < 100),
            F.concat(F.lit(_Q182_S12 + " "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return materialized_sort(
        dedup.sliding_substring_dedup(
            d, "doc_id", "text", window_tokens=8, min_span_tokens=16
        ),
        "doc_id",
    )


@query(
    "q198_trained_language_id",
    oracle="""
WITH train AS (
  SELECT 'en' AS lang, text FROM documents WHERE doc_id < 30
  UNION ALL
  SELECT 'xx' AS lang, reverse(text) FROM documents WHERE doc_id < 30),
tf AS (
  SELECT lang,
         CAST(('0x' || substr(md5(substr(text, i, 3)), 1, 15))::UBIGINT % 4096
              AS BIGINT) AS bucket
  FROM train, unnest(range(1, length(text) - 1)) AS u(i)
  WHERE length(text) >= 3),
cts AS (SELECT lang, bucket, count(*) AS ct FROM tf GROUP BY 1, 2),
tot AS (SELECT lang, count(*) AS total FROM tf GROUP BY 1),
model AS (SELECT bucket, cts.lang, CAST((ct * 1000000) // total AS BIGINT) AS w
          FROM cts JOIN tot USING (lang)),
docs AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0 THEN text ELSE reverse(text) END AS text
  FROM documents WHERE doc_id >= 30 AND doc_id < 230),
occ AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(substr(text, i, 3)), 1, 15))::UBIGINT % 4096
              AS BIGINT) AS bucket
  FROM docs, unnest(range(1, length(text) - 1)) AS u(i)
  WHERE length(text) >= 3),
sc AS (SELECT doc_id, lang, CAST(sum(w) AS BIGINT) AS score
       FROM occ JOIN model USING (bucket) GROUP BY 1, 2),
best AS (SELECT doc_id, lang, score FROM (
    SELECT doc_id, lang, score,
           row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) AS rn
    FROM sc) WHERE rn = 1)
SELECT d.doc_id, coalesce(b.lang, 'und') AS lang,
       CAST(coalesce(b.score, 0) AS BIGINT) AS score
FROM docs d LEFT JOIN best b USING (doc_id)
ORDER BY d.doc_id
""",
)
def q198_trained_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED language identification (r16 — VERDICT r15 item 4, the
    last standard text layer the LLM group lacked: CCNet/C4/RefinedWeb
    all gate on a trained LID, not a marker lexicon): a hashed
    character-trigram linear classifier in the fastText-langid feature
    family, end to end in oracle-replayable integer arithmetic.
    operators/text.train_char_ngram_lid feature-hashes every char-3gram
    occurrence into 4096 md5 buckets (the q163/q120 portable-hash
    discipline) and quantizes per-language weights as per-million
    BIGINT frequencies (floor division — IEEE ln is not bit-identical
    across engines, so the log-likelihood form is deliberately replaced
    by integer-exact frequencies; swap the weight column on a real
    run, the plan is unchanged); char_ngram_lid scores docs as the
    BIGINT weight sum and argmaxes with a deterministic tie-break.

    The planted bilingual fixture trains on 30 docs per language
    ('en' = fixture text, 'xx' = its codepoint reversal — a
    deterministic second "language" both engines construct bit-
    identically) and scores 200 held-out docs alternating between the
    two by parity. The oracle retrains the ENTIRE model in SQL (every
    bucket, every weight) and re-scores every doc, so a drifted hash,
    a biased weight quantization, a wrong tie-break, or a dropped
    unseen-vocabulary doc all hash-mismatch. Scale shape: the model is
    a ≤8192-row broadcast; the scored corpus reduces to (id, bucket)
    scan-side and aggregates map-side — document text never enters an
    exchange (the q163 topology)."""
    d = _t(spark, sf_dir, "documents")
    train_base = d.filter(F.col("doc_id") < 30).select("doc_id", "text")
    train = train_base.select(F.lit("en").alias("lang"), F.col("text")).unionByName(
        train_base.select(F.lit("xx").alias("lang"), F.reverse(F.col("text")).alias("text"))
    )
    model = T.train_char_ngram_lid(train, "text", "lang", n=3, buckets=4096)
    score_docs = d.filter((F.col("doc_id") >= 30) & (F.col("doc_id") < 230)).select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0, F.col("text"))
        .otherwise(F.reverse(F.col("text")))
        .alias("text"),
    )
    return T.char_ngram_lid(score_docs, "doc_id", "text", model).orderBy("doc_id")


@query(
    "q199_ann_ivfpq_verified",
    oracle="""
WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_vec
           FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.q_id, c.vec_id AS n_id,
         list_cosine_similarity(q.q_vec, CAST(c.embedding AS DOUBLE[])) AS cos_sim
  FROM embeddings c, q WHERE c.vec_id <> q.q_id)
SELECT q_id, n_id, cos_sim, rn FROM (
  SELECT q_id, n_id, cos_sim,
         row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) AS rn
  FROM scored)
WHERE rn <= 5 ORDER BY q_id, rn
""",
)
def q199_ann_ivfpq_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPOSED IVF-PQ (r16 — VERDICT r15 item 6: the FAISS production
    ANN shape, coarse IVF cells + a shared PQ codebook over the
    per-cell RESIDUALS) in its exactness-verification configuration:
    n_probe = every stored cell and candidate_frac = 1.0, so cell
    routing partitions the corpus (each posting scored exactly once
    across the probed union), the ADC pre-cut keeps everything (no
    tie-arbitrariness can reach the output), and the exact cosine
    re-rank provably returns brute-force top-5 REGARDLESS of
    centroid/codebook quality — the q118/q98 pattern composed. The
    hash match verifies the ENTIRE machinery end to end: the
    hash-picked normalized centroids, the stable lowest-cell assign,
    the driver-side Lloyd residual codebook, _ivfpq_encode's
    per-subspace argmin, the offset-plus-gather ADC scores, the
    global candidate window, and the re-rank join. The genuinely
    approximate recall surface is measured by
    tests/test_similarity.py (round-trip, append-equals-build, and
    retrieval_eval at real knobs); its q194/q196-pattern driver row
    registered as q200 in r17. Scale shape:
    three persisted frames (postings partitioned by cell; centroids
    and codebook tiny collects), per-query-batch cost O(queries ×
    probed postings), corpus never re-encoded."""
    emb = _t(spark, sf_dir, "embeddings")
    enc, cents, cb = similarity.build_ivfpq_index(
        emb, "vec_id", "embedding", n_cells=16, m=8, n_codes=16
    )
    queries = emb.filter(F.col("vec_id") < 5)
    # corpus_rows from the parquet-backed source (metadata-cheap) — a
    # bare candidate_frac would size via encoded.count(), executing the
    # whole uncached Arrow encode pass a second time (r16 review
    # finding); this is exactly the index-manifest path the parameter
    # exists for.
    return similarity.ivfpq_query(
        queries, enc, cents, cb, emb, "vec_id", "embedding",
        k=5, n_probe=16, candidate_frac=1.0, corpus_rows=emb.count(),
    ).orderBy("q_id", "rn")


# --------------------------------------------------------------------------
# tests/test_similarity.py::test_ivfpq_recall_form_matches_oracle also runs
# this oracle compare at sf0.001 AND sf0.01.
Q200_ORACLE = """
WITH c0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings WHERE vec_id % 61 = 7
            ORDER BY vec_id LIMIT 8),
cents AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
                 list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS c
          FROM c0),
src AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               row_number() OVER (ORDER BY vec_id) - 1 AS code
        FROM embeddings WHERE vec_id % 31 = 2 ORDER BY vec_id LIMIT 16),
srcn AS (SELECT code, list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS vh
         FROM src),
scell AS (SELECT code, vh, cell, c FROM (
    SELECT srcn.code, srcn.vh, cents.cell, cents.c,
           row_number() OVER (PARTITION BY srcn.code
             ORDER BY list_dot_product(srcn.vh, cents.c) DESC, cents.cell) AS arn
    FROM srcn, cents) WHERE arn = 1),
cw AS (SELECT j, code,
              list_transform(range(1, 9), i -> vh[j*8+i] - c[j*8+i]) AS w
       FROM scell, unnest(range(0, 8)) t(j)),
corpus AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cn AS (SELECT vec_id, list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS vh
       FROM corpus),
casg AS (SELECT vec_id, vh, cell, c FROM (
    SELECT cn.vec_id, cn.vh, cents.cell, cents.c,
           row_number() OVER (PARTITION BY cn.vec_id
             ORDER BY list_dot_product(cn.vh, cents.c) DESC, cents.cell) AS arn
    FROM cn, cents) WHERE arn = 1),
d AS (SELECT casg.vec_id, cw.j, cw.code,
             list_dot_product(
               list_transform(range(1, 9), i -> casg.vh[cw.j*8+i] - casg.c[cw.j*8+i] - cw.w[i]),
               list_transform(range(1, 9), i -> casg.vh[cw.j*8+i] - casg.c[cw.j*8+i] - cw.w[i])) AS dist
      FROM casg, cw),
easg AS (SELECT vec_id, j, code FROM (
    SELECT vec_id, j, code,
           row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, code) AS arn
    FROM d) WHERE arn = 1),
qv AS (SELECT vec_id AS q_id,
              list_transform(CAST(embedding AS DOUBLE[]),
                             x -> x / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                                            CAST(embedding AS DOUBLE[])))) AS qh,
              CAST(embedding AS DOUBLE[]) AS qraw
       FROM embeddings WHERE vec_id < 20),
qprobe AS (SELECT q_id, cell, off FROM (
    SELECT qv.q_id, cents.cell, list_dot_product(qv.qh, cents.c) AS off,
           row_number() OVER (PARTITION BY qv.q_id
             ORDER BY list_dot_product(qv.qh, cents.c) DESC, cents.cell) AS prn
    FROM qv, cents) WHERE prn <= 2),
sc AS (SELECT qp.q_id, ca.vec_id AS n_id,
              any_value(qp.off) + sum(list_dot_product(
                  list_transform(range(1, 9), i -> qv.qh[easg.j*8+i]), cw.w)) AS s
       FROM qprobe qp
       JOIN casg ca ON ca.cell = qp.cell
       JOIN qv ON qv.q_id = qp.q_id
       JOIN easg ON easg.vec_id = ca.vec_id
       JOIN cw ON cw.j = easg.j AND cw.code = easg.code
       GROUP BY qp.q_id, ca.vec_id),
cand AS (SELECT q_id, n_id FROM (
    SELECT q_id, n_id,
           row_number() OVER (PARTITION BY q_id ORDER BY s DESC, n_id) AS crn
    FROM sc) WHERE crn <= 25 AND q_id <> n_id),
rer AS (SELECT c.q_id, c.n_id,
               list_cosine_similarity(qv.qraw, corpus.v) AS cos_sim
        FROM cand c JOIN qv ON c.q_id = qv.q_id
        JOIN corpus ON c.n_id = corpus.vec_id),
capp AS (SELECT q_id, n_id, rn FROM (
    SELECT q_id, n_id,
           row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) AS rn
    FROM rer) WHERE rn <= 10),
truth AS (SELECT q_id, n_id, rn FROM (
    SELECT qv.q_id, c2.vec_id AS n_id,
           row_number() OVER (PARTITION BY qv.q_id
             ORDER BY list_cosine_similarity(qv.qraw, c2.v) DESC, c2.vec_id) AS rn
    FROM corpus c2, qv WHERE c2.vec_id <> qv.q_id) WHERE rn <= 10),
m AS (SELECT t.q_id, count(c.n_id) AS n_overlap, count(*) AS n_truth,
             coalesce(max(CASE WHEN t.rn = 1 THEN 1.0 / c.rn END), 0.0) AS rr
      FROM truth t LEFT JOIN capp c ON t.q_id = c.q_id AND t.n_id = c.n_id
      GROUP BY t.q_id)
SELECT q_id, CAST(n_overlap AS BIGINT) AS n_overlap,
       n_overlap / CAST(n_truth AS DOUBLE) AS recall_at_k,
       rr AS reciprocal_rank
FROM m ORDER BY q_id
"""


@query("q200_ann_ivfpq_recall", oracle=Q200_ORACLE)
def q200_ann_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed IVF-PQ in its genuinely APPROXIMATE configuration
    (q194's treatment for the composed tier): 20 query vectors run
    ivfpq_append + ivfpq_query at n_probe=2 of 8 cells with a tight
    25-candidate ADC budget, against exact cosine_topk truth, reduced
    through retrieval_eval. The coarse quantizer is q194's closed-form
    rule (vec_id % 61 == 7, first 8, L2-normalized) and the RESIDUAL
    codebook is q196's closed-form rule lifted to residual space
    (16 source vectors by vec_id % 31 == 2; codeword[j][c] =
    subspace-j slice of v̂_c − centroid(cell(v̂_c)) — assignment itself
    closed-form) so DuckDB replays training, encoding, probing, ADC
    offsets + gathers, the candidate cut, the re-rank, and the metric
    arithmetic end to end. Everything under test is the production
    _ivfpq_encode / ivfpq_query kernel path. ADC-score tie-freedom
    per query verified at sf0.001/sf0.01 before the pytest pinned the
    hash (the q196 pre-registration discipline)."""
    from pyspark.sql import Window as W

    emb = _t(spark, sf_dir, "embeddings")
    cand0 = (
        emb.filter(F.col("vec_id") % 61 == 7)
        .orderBy("vec_id")
        .limit(8)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )
    norm = similarity.l2_norm(F.col("v"))
    cent = cand0.select(
        (F.row_number().over(W.orderBy("vec_id")) - 1).alias("cell"),
        F.transform("v", lambda x: x / norm).alias("centroid"),
    )
    src = (
        emb.filter(F.col("vec_id") % 31 == 2)
        .orderBy("vec_id")
        .limit(16)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )
    srcn = src.select(
        (F.row_number().over(W.orderBy("vec_id")) - 1).alias("code"),
        F.transform("v", lambda x: x / norm).alias("vh"),
    )
    dotc = similarity._dot(F.col("vh"), F.col("centroid"))
    scell = (
        srcn.crossJoin(cent)
        .withColumn(
            "arn",
            F.row_number().over(
                W.partitionBy("code").orderBy(dotc.desc(), F.col("cell"))
            ),
        )
        .filter(F.col("arn") == 1)
        .select("code", F.zip_with("vh", "centroid", lambda a, b: a - b).alias("resid"))
    )
    cb = scell.select(
        "code",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("subspace"),
                        F.slice("resid", j * 8 + 1, 8).alias("centroid"),
                    )
                    for j in range(8)
                ]
            )
        ).alias("s"),
    ).select(
        F.col("s.subspace").alias("subspace"), "code", F.col("s.centroid").alias("centroid")
    )
    enc = similarity.ivfpq_append(emb, cent, cb, "vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 20)
    approx = similarity.ivfpq_query(
        queries, enc, cent, cb, emb, "vec_id", "embedding",
        k=10, n_probe=2, n_candidates=25,
    )
    truth = similarity.cosine_topk(emb, queries, "vec_id", "embedding", k=10)
    return similarity.retrieval_eval(truth, approx, k=10).orderBy("q_id")


# --------------------------------------------------------------------------
# REGISTERED r18 (written + staged r17 — VERDICT r16 item 3: the
# trained KEEP/DROP quality gate above the heuristic tier, q198's
# integer-exact machinery with binary labels; the r17 window had
# exactly one free slot and q200 took it, so this seats in r18 beside
# q201 per the plan of record in docs/COVERAGE.md). Pre-registration
# verification: tests/test_corpus_ops.py::test_quality_gate_form_matches_oracle
# ran the driver's own compare at sf0.001 AND sf0.01 through r17–r18.
_Q202_BOILER = (
    "click here to subscribe now accept all cookies terms of "
    "service privacy policy all rights reserved "
)

Q202_ORACLE = """
WITH train AS (
  SELECT 'keep' AS lang, text FROM documents WHERE doc_id < 30
  UNION ALL
  SELECT 'drop' AS lang,
         '{boiler}' || CAST(doc_id AS VARCHAR) AS text
  FROM documents WHERE doc_id < 30),
tf AS (
  SELECT lang,
         CAST(('0x' || substr(md5(substr(text, i, 3)), 1, 15))::UBIGINT % 4096
              AS BIGINT) AS bucket
  FROM train, unnest(range(1, length(text) - 1)) AS u(i)
  WHERE length(text) >= 3),
cts AS (SELECT lang, bucket, count(*) AS ct FROM tf GROUP BY 1, 2),
tot AS (SELECT lang, count(*) AS total FROM tf GROUP BY 1),
model AS (SELECT bucket, cts.lang, CAST((ct * 1000000) // total AS BIGINT) AS w
          FROM cts JOIN tot USING (lang)),
docs AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0 THEN text
              ELSE '{boiler}' || substr(text, 1, 40) END AS text
  FROM documents WHERE doc_id >= 30 AND doc_id < 230),
occ AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(substr(text, i, 3)), 1, 15))::UBIGINT % 4096
              AS BIGINT) AS bucket
  FROM docs, unnest(range(1, length(text) - 1)) AS u(i)
  WHERE length(text) >= 3),
sc AS (SELECT doc_id,
              CAST(sum(CASE WHEN lang = 'keep' THEN w ELSE 0 END)
                   - sum(CASE WHEN lang = 'drop' THEN w ELSE 0 END)
                   AS BIGINT) AS margin
       FROM occ JOIN model USING (bucket) GROUP BY 1)
SELECT d.doc_id, CAST(coalesce(s.margin, 0) AS BIGINT) AS margin,
       coalesce(s.margin, 0) > 0 AS keep
FROM docs d LEFT JOIN sc s USING (doc_id)
ORDER BY d.doc_id
""".format(boiler=_Q202_BOILER)


@query("q202_trained_quality_gate", oracle=Q202_ORACLE)
def q202_trained_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED quality classifier (r17 — VERDICT r16 item 3: the
    CCNet/RefinedWeb-style trained keep/drop gate above the heuristic
    quality_score tier): q198's integer-exact machinery with a BINARY
    label set. train_char_ngram_lid learns per-class per-million
    BIGINT trigram frequencies from 30 planted keep docs (fixture
    text) and 30 planted drop docs (a constant boilerplate string —
    the subscribe/cookie/rights web chrome every public recipe
    filters — plus the doc_id so the rows are distinct);
    operators/text.quality_gate scores 200 held-out docs (even
    doc_id = clean text, odd = the same boilerplate prepended to a
    40-char text stub) as one broadcast-model join + ONE map-side-
    combinable conditional-sum aggregate, margin = keep_w - drop_w
    exact BIGINT, keep = margin > 0; docs with nothing to score fail
    closed at margin 0. The oracle RETRAINS the whole model in SQL
    and re-scores every doc (the q198 replay discipline), so a
    drifted feature hash, biased quantization, or a silently-kept
    unseen doc all hash-mismatch. Scale shape: the model is a
    ≤8192-row broadcast; the corpus reduces to (id, bucket) at the
    scan and aggregates map-side — document text never enters an
    exchange."""
    d = _t(spark, sf_dir, "documents")
    tb = d.filter(F.col("doc_id") < 30)
    train = tb.select(F.lit("keep").alias("lang"), F.col("text")).unionByName(
        tb.select(
            F.lit("drop").alias("lang"),
            F.concat(F.lit(_Q202_BOILER), F.col("doc_id").cast("string")).alias("text"),
        )
    )
    model = T.train_char_ngram_lid(train, "text", "lang", n=3, buckets=4096)
    docs = d.filter((F.col("doc_id") >= 30) & (F.col("doc_id") < 230)).select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0, F.col("text"))
        .otherwise(F.concat(F.lit(_Q202_BOILER), F.substring("text", 1, 40)))
        .alias("text"),
    )
    return T.quality_gate(docs, "doc_id", "text", model).orderBy("doc_id")
