"""Corpus-level statistics, retrieval, and cleaning operators.

The second tier of the LLM-data-pipeline group (SURVEY.md §2B): ops
that look at the corpus as a whole rather than one document at a time —
paragraph-granularity dedup (C4/RefinedWeb style), count-based language
-model familiarity scoring (the CCNet perplexity-filter shape), BM25
retrieval, corpus-wide heavy-hitter n-grams, one-pass table profiling,
and equi-width histograms.

Everything here is built-in-expression / DataFrame-op only — no Python
in any hot path — and every shuffle is keyed on something bounded
(chunk hash, n-gram, bucket id), never all-pairs. The reference
(`Driver.java` / `ExecutorMapper.java`) has no corpus analytics at all;
these extend the declared §2B contract.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .reliability import materialize


def tokens(text_col: Column) -> Column:
    return F.split(text_col, " ")


def _bigrams(text_col: Column) -> Column:
    """Array of word bigrams ("tok_i tok_i+1"); empty for <2 tokens.

    JVM higher-order functions only. NOTE (measured, round 2): Catalyst
    neither codegens nor CSEs interpreted lambda trees — callers that
    need bigrams more than once per row must materialize this column
    once, not inline the expression twice. NOTE (measured, round 5, at
    sf0.1): the interpreted transform/sequence/element_at tree costs
    ~4x a JVM ml.feature.NGram pass and ~6.5x an Arrow-batched Counter
    pass over identical data — hot paths use with_bigrams /
    bigram_partial_counts below; this expression form remains for
    single-shot inline use.
    """
    t = tokens(text_col)
    n = F.size(t)
    return F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(" ", F.element_at(t, i), F.element_at(t, i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def with_bigrams(df: DataFrame, text_col: str, out_col: str = "__bg") -> DataFrame:
    """Append an array-of-word-bigrams column via pyspark.ml NGram — the
    Scala-side tokenizer transform, ~4x the interpreted HOF tree
    (round-5 measurement at sf0.1: 0.57 s vs 2.42 s for the corpus-wide
    explode+count). Output semantics identical to ``_bigrams``:
    space-joined consecutive token pairs, empty array for <2 tokens."""
    from pyspark.ml.feature import NGram

    tok_col = f"{out_col}_toks"
    with_toks = df.withColumn(tok_col, tokens(F.coalesce(F.col(text_col), F.lit(""))))
    ng = NGram(n=2, inputCol=tok_col, outputCol=out_col)
    return ng.transform(with_toks).drop(tok_col)


def bigram_partial_counts(docs: DataFrame, text_col: str) -> DataFrame:
    """(bigram, n_part) partial counts, one Arrow batch at a time: each
    batch emits one row per DISTINCT bigram it saw (collections.Counter
    — the in-Python map-side combine), so the exchange upstream of the
    final groupBy carries |distinct bigrams per batch| rows instead of
    one row per token position. Fastest measured bigram-count form
    (round 5, sf0.1: 0.37 s vs 0.57 s NGram-explode vs 2.42 s HOF) and
    the counts are exact integers, so downstream results are
    bit-identical to the explode form."""

    def fn(batches):
        from collections import Counter

        import pandas as pd

        for pdf in batches:
            c: Counter = Counter()
            for t in pdf[text_col]:
                toks = (t or "").split(" ")
                for i in range(len(toks) - 1):
                    c[toks[i] + " " + toks[i + 1]] += 1
            if c:
                yield pd.DataFrame(
                    {"bigram": list(c.keys()), "n_part": list(c.values())}
                )

    return docs.select(text_col).mapInPandas(fn, "bigram string, n_part long")


# ---------------------------------------------------------------------------
# Paragraph-granularity dedup (C4-style "line dedup")
# ---------------------------------------------------------------------------


def chunk_paragraphs(
    df: DataFrame, id_col: str, text_col: str, chunk_tokens: int = 8
) -> DataFrame:
    """Segment each document into consecutive ``chunk_tokens``-token
    chunks — the dedup granularity. Real web corpora split on newlines;
    the synthetic fixture has none, so fixed-width token windows stand
    in as pseudo-sentences (the downstream dedup is identical either
    way). Returns (id, chunk_idx, chunk); the trailing partial chunk is
    kept. Narrow op: one generate, no shuffle."""
    t = tokens(F.col(text_col))
    n_chunks = F.ceil(F.size(t) / F.lit(chunk_tokens)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(" ", F.slice(t, i * chunk_tokens + 1, chunk_tokens)),
    )
    return df.select(
        F.col(id_col),
        F.posexplode(chunks).alias("chunk_idx", "chunk"),
    )


def paragraph_dedup(
    df: DataFrame, id_col: str, text_col: str, chunk_tokens: int = 8
) -> DataFrame:
    """C4-style paragraph-level exact dedup: across the WHOLE corpus,
    every repeated chunk keeps only its first occurrence (ordered by
    (id, chunk_idx)); later occurrences — boilerplate, mirrored pages,
    intra-doc repetition — are dropped and the documents re-assembled
    from their surviving chunks.

    One shuffle, keyed on the chunk text, carrying (id, chunk_idx,
    chunk): at 100 TB the chunk IS the payload being deduplicated, so
    shuffling it is the floor — there is no thinner key that still
    allows reassembly without a second pass over the corpus. (The
    two-pass alternative — shuffle md5(chunk) only, then re-explode and
    semi-join the keep-set — halves shuffle bytes for long paragraphs;
    worth it above ~1 KB average chunks, not at sentence granularity.)
    Chunk-text keys are Zipf-skewed (empty/boilerplate chunks are hot):
    the window per key streams — no per-group buffering — so skew costs
    stragglers, not memory; salt-and-restitch (operators/skew.py) if a
    single boilerplate line dominates a corpus.

    Returns one row per input document: (id, n_chunks, n_removed,
    clean_text), clean_text == '' when every chunk was a repeat.
    """
    chunks = chunk_paragraphs(df, id_col, text_col, chunk_tokens)
    w = Window.partitionBy("chunk").orderBy(id_col, "chunk_idx")
    ranked = chunks.withColumn("__rn", F.row_number().over(w))
    kept_struct = F.when(
        F.col("__rn") == 1, F.struct(F.col("chunk_idx"), F.col("chunk"))
    )
    return ranked.groupBy(id_col).agg(
        F.count("*").cast("bigint").alias("n_chunks"),
        F.sum((F.col("__rn") > 1).cast("long")).alias("n_removed"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(kept_struct)), lambda s: s["chunk"]
            ),
        ).alias("clean_text"),
    )


# ---------------------------------------------------------------------------
# Count-based LM familiarity (CCNet-style quality scoring)
# ---------------------------------------------------------------------------


def bigram_lm_score(
    docs: DataFrame, train: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Score every document by how familiar its word bigrams are to a
    reference corpus: familiarity = mean over the doc's bigrams of that
    bigram's occurrence count in ``train``. This is the CCNet/KenLM
    perplexity-filter *pipeline shape* — train n-gram statistics on a
    trusted corpus, score candidates against them — with integer counts
    instead of smoothed log-probs so the result is bit-exactly
    reproducible (and oracle-checkable): counts sum exactly in any
    order, log-prob doubles do not. A log-space scorer drops in by
    replacing the count column with round(log p, fixed_dp).

    Shape at scale: train-side counting is a map-side-partial groupBy
    on the bigram; scoring is a shuffle equi-join on the bigram — never
    all-pairs, never Python. The n-gram table of a 100 TB reference
    corpus is itself huge, so the join stays shuffle-side by default;
    prune the LM to its top-K n-grams (the standard KenLM trick) when a
    broadcast is wanted, and cap stop-n-gram posting lists exactly as
    ngram_jaccard does (operators/dedup.py).

    Returns (id, n_bigrams, lm_familiarity): familiarity NULL for docs
    with <2 tokens.
    """
    train_counts = (
        bigram_partial_counts(train, text_col)
        .groupBy(F.col("bigram").alias("bg"))
        .agg(F.sum("n_part").alias("__c"))
    )
    doc_bgs = with_bigrams(docs.select(id_col, text_col), text_col).select(
        F.col(id_col), F.explode_outer("__bg").alias("bg")
    )
    scored = (
        doc_bgs.join(train_counts, "bg", "left")
        .groupBy(id_col)
        .agg(
            F.count("bg").cast("bigint").alias("n_bigrams"),
            F.sum(F.coalesce(F.col("__c"), F.lit(0))).alias("__fam"),
        )
    )
    return scored.select(
        id_col,
        "n_bigrams",
        F.when(
            F.col("n_bigrams") > 0, F.col("__fam") / F.col("n_bigrams")
        ).alias("lm_familiarity"),
    )


# ---------------------------------------------------------------------------
# BM25 retrieval
# ---------------------------------------------------------------------------


def bm25_topk(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    terms: tuple[str, ...],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 top-k document retrieval for a fixed bag of query terms.

    ONE corpus pass (r20, VERDICT r19 item 5): a single projection
    over the scan tokenizes each document and reduces it to the
    per-doc sufficient statistics — ``(id, dl, tf_term0..tf_termK)``,
    a few dozen bytes per document regardless of document length.
    That narrow frame is lazily materialized (reliability.materialize;
    storage is per-doc rows, NOT the tokenized corpus) and consumed
    twice: once by the single-row stats aggregate (N, Σdl, per-term
    document frequencies — df(t) = Σ[tf(t) > 0], identical to the
    former array_contains count), once by the scorer. Before r20 the stats pass and the scoring pass
    each re-tokenized the full corpus (two text scans — guide §1.2);
    now text bytes are read and split exactly once, and what the
    second consumer re-reads is the checkpointed per-doc row. Scoring
    stays a pure per-row expression over the materialized rows with
    the one-row stats crossJoined back via broadcast; TakeOrdered for
    the top-k. A high-QPS serving path would materialize the inverted
    index ((term, id, tf), partitioned by term) instead — that index
    build is exactly top_ngrams' shuffle.

    Determinism contract (the reason the oracle can hash-match a
    float-scoring query): idf is quantized to 9 dp right after the log,
    tf/dl/df/N are integers, and the per-term contributions are added
    in declared ``terms`` order — never via a commutative-but-
    order-undefined SUM over a shuffled frame. The r20 restructure
    moves WHERE tf is computed (tokenize-time column vs scoring-time
    expression), never its value or the float op order — outputs are
    bit-identical (oracle hash re-proven).
    """
    t = tokens(F.col(text_col))

    def _tf(term: str):
        # bound via the function scope: a bare lambda in the
        # comprehension would close over the loop variable late (and a
        # default-arg lambda would change the HOF's inspected arity)
        return F.size(F.filter(t, lambda x: x == F.lit(term))).cast("long")

    narrow = docs.select(
        F.col(id_col),
        F.size(t).cast("long").alias("__dl"),
        *[_tf(term).alias(f"__tf_{i}") for i, term in enumerate(terms)],
    )
    narrow = materialize(narrow, eager=False)

    stats = narrow.agg(
        F.count("*").alias("__n"),
        F.sum("__dl").alias("__sumdl"),
        *[
            F.sum((F.col(f"__tf_{i}") > 0).cast("long")).alias(f"__df_{i}")
            for i in range(len(terms))
        ],
    )

    scored = narrow.crossJoin(F.broadcast(stats))
    n = F.col("__n").cast("double")
    avgdl = F.col("__sumdl").cast("double") / n
    score = F.lit(0.0)
    for i, _term in enumerate(terms):
        dfreq = F.col(f"__df_{i}").cast("double")
        idf_raw = F.ln(F.lit(1.0) + (n - dfreq + F.lit(0.5)) / (dfreq + F.lit(0.5)))
        idf = F.floor(idf_raw * F.lit(1e9) + F.lit(0.5)) / F.lit(1e9)
        tf = F.col(f"__tf_{i}").cast("double")
        contrib = (idf * (tf * F.lit(k1 + 1.0))) / (
            tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * (F.col("__dl").cast("double") / avgdl))
        )
        score = score + F.when(tf > 0, contrib).otherwise(F.lit(0.0))
    return (
        scored.select(F.col(id_col), score.alias("bm25"))
        .orderBy(F.col("bm25").desc(), F.col(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Corpus-wide heavy hitters
# ---------------------------------------------------------------------------


def top_ngrams(docs: DataFrame, text_col: str, k: int = 20) -> DataFrame:
    """Exact corpus-wide top-k word bigrams with counts — the vocabulary
    /contamination-audit staple. Arrow-batched Counter partials (see
    bigram_partial_counts: one row per distinct bigram per batch — the
    map-side combine happens in Python BEFORE any exchange, so shuffle
    rows are bounded by per-batch vocabulary, not token count), then a
    final sum-groupBy and a TakeOrdered heap — the global sort never
    materializes. 6.5x the interpreted-HOF explode form (round-5
    measurement). For corpora whose n-gram vocabulary itself overflows
    the shuffle, swap the exact count for a count-min sketch in the
    same plan shape; the exact form is the oracle for tuning that
    sketch's width/depth."""
    return (
        bigram_partial_counts(docs, text_col)
        .groupBy("bigram")
        .agg(F.sum("n_part").alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram"))
        .limit(k)
    )


def cms_cells(
    docs: DataFrame,
    text_col: str,
    width: int = 16384,
    depth: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Count-min-sketch cells over the corpus's word bigrams: each Arrow
    batch builds a local (depth × width) int64 sketch (Counter first, so
    each distinct bigram hashes depth times per batch, not per
    occurrence), emits its nonzero cells, and a groupBy-sum merges them
    — CMS merge IS cell-wise addition, so the combine is exact and
    order-independent. Returns (d, j, c) with depth*width ≤ rows.

    This is the documented 100 TB swap for top_ngrams' exact count: the
    shuffle carries at most depth*width cells per batch regardless of
    vocabulary size. Hashing is md5-based and seed-pinned —
    deterministic across processes and engines."""

    def fn(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        from collections import Counter

        cms = np.zeros((depth, width), dtype=np.int64)
        for pdf in batches:
            c: Counter = Counter()
            for t in pdf[text_col]:
                toks = (t or "").split(" ")
                for i in range(len(toks) - 1):
                    c[toks[i] + " " + toks[i + 1]] += 1
            for bg, cnt in c.items():
                payload = bg.encode()
                for d in range(depth):
                    h = hashlib.md5(b"%d:%d:" % (seed, d) + payload).digest()
                    cms[d, int.from_bytes(h[:8], "big") % width] += cnt
        d_idx, j_idx = np.nonzero(cms)
        if len(d_idx):
            yield pd.DataFrame(
                {"d": d_idx.astype("int32"), "j": j_idx.astype("int32"),
                 "c": cms[d_idx, j_idx]}
            )

    cells = docs.select(text_col).mapInPandas(fn, "d int, j int, c long")
    return cells.groupBy("d", "j").agg(F.sum("c").alias("c"))


def cms_estimate(cms_rows, bigram: str, width: int, depth: int, seed: int = 42) -> int:
    """Point-estimate one bigram's count from collected sketch cells
    (dict {(d, j): c}): min over rows of the addressed cell."""
    import hashlib

    est = None
    payload = bigram.encode()
    for d in range(depth):
        h = hashlib.md5(b"%d:%d:" % (seed, d) + payload).digest()
        v = cms_rows.get((d, int.from_bytes(h[:8], "big") % width), 0)
        est = v if est is None else min(est, v)
    return int(est or 0)


def approx_top_ngrams_check(
    docs: DataFrame,
    text_col: str,
    k: int = 20,
    width: int = 16384,
    depth: int = 8,
    seed: int = 42,
    bound_factor: float = 1.0,
) -> DataFrame:
    """CMS error-contract verification on the corpus's exact top-k
    bigrams: for each true heavy hitter, the sketch estimate must
    satisfy exact ≤ est ≤ exact + ceil(bound_factor·(e/width)·N) (at
    bound_factor=1 the classic CMS guarantee; N = total bigram
    occurrences). Returns (bigram, n_exact, within_bounds) — all-true
    is the sketch working as specified, and is what the DuckDB oracle
    asserts.

    The (e/width)·N bound is PROBABILISTIC — it holds per query with
    probability ≥ 1−e^(−depth), not absolutely, so a correct sketch
    can exceed it on an unlucky fixture (round-5 ADVICE item 2). The
    tight bound_factor=1 contract stays pinned in
    tests/test_corpus_ops.py on a fixed corpus; q111 asserts
    bound_factor=2, cutting the per-fixture-regeneration flake odds
    from ~e^(−depth)·k (≈0.1% at depth 8, k 20) to ~(2e)^(−depth)·k
    (≈3·10⁻⁵) while still catching any real defect (a broken hash or
    lossy merge overshoots by orders of magnitude, and under-estimates
    are impossible for a correct CMS).

    The exact pass exists to CHECK the sketch (validation form); the
    production path at 100 TB keeps only cms_cells + candidate heaps.
    The sketch collect is bounded by depth*width cells by construction
    — sketch size, never data size."""
    import math

    exact = top_ngrams(docs, text_col, k).collect()  # k rows, bounded
    cells = {(r["d"], r["j"]): r["c"] for r in cms_cells(
        docs, text_col, width, depth, seed
    ).collect()}
    total = sum(c for (d, _), c in cells.items() if d == 0)
    bound = math.ceil(bound_factor * math.e / width * total)
    rows = []
    for r in exact:
        est = cms_estimate(cells, r["bigram"], width, depth, seed)
        rows.append(
            (r["bigram"], int(r["n"]), bool(r["n"] <= est <= r["n"] + bound))
        )
    spark = docs.sparkSession
    return spark.createDataFrame(
        rows, "bigram string, n_exact long, within_bounds boolean"
    )


# ---------------------------------------------------------------------------
# Table profiling / histograms
# ---------------------------------------------------------------------------


def profile_table(df: DataFrame, cols: list[str]) -> DataFrame:
    """One-row data-profile of ``cols``: row count plus per-column null
    count and exact distinct count — the freshness/quality monitor a
    pipeline runs after every ingest. Null counts ride ONE map-side-
    partial pass; exact distincts are per-column expand+shuffle (Spark
    plans multi-count-distinct as a single grouping-sets expansion, not
    one job per column). At 100 TB swap count_distinct for
    approx_count_distinct(rsd) and the plan collapses back to a single
    narrow pass — same output schema, ±rsd error."""
    aggs: list[Column] = [F.count("*").alias("n_rows")]
    for c in cols:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"{c}_nulls"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"{c}_distinct"))
    return df.agg(*aggs)


def equiwidth_histogram(
    df: DataFrame, value_col: Column, width: int, bucket_alias: str = "bucket"
) -> DataFrame:
    """Equi-width histogram over an integral expression: bucket =
    floor(value / width), with per-bucket count/min/max/mean. One
    map-side-partial aggregation on a bounded key domain — the shuffle
    carries one row per (executor, bucket). Mean is exact (integer sum
    / count). The length-distribution audit every training-data drop
    gets before tokenization."""
    if width <= 0:
        raise ValueError(
            f"equiwidth_histogram: width must be >= 1, got {width} — width 0 "
            "would surface as an opaque ANSI DIVIDE_BY_ZERO at execution and "
            "a negative width silently inverts bucket keys (loud-guard rule, "
            "the r14 LSH bits precedent)"
        )
    v = value_col.cast("long")
    return (
        df.select(v.alias("__v"))
        .groupBy((F.floor(F.col("__v") / F.lit(width)) * width).alias(bucket_alias))
        .agg(
            F.count("*").alias("n"),
            F.min("__v").alias("min_v"),
            F.max("__v").alias("max_v"),
            (F.sum("__v") / F.count("*")).alias("mean_v"),
        )
    )
