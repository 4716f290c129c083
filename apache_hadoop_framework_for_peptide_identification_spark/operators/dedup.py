"""Deduplication operators for training-data pipelines.

Four tiers, all shuffle-bounded (no all-pairs comparison anywhere):

- exact_dedup:        content-hash groupBy. One shuffle keyed on a
                      128-bit hash (md5 of a null-preserving JSON
                      encoding); at 100 TB shuffle bytes are
                      O(rows * 16B), not O(text).
- ngram_jaccard_pairs: exact shingle-overlap join — the ground truth
                      for tuning the approximate tiers. Cost is bounded
                      by shingle-posting-list sizes (quadratic in the
                      hottest shingle), so cap/skip stop-shingles at
                      scale.
- minhash_lsh:        MinHash signatures + banded LSH. Candidate pairs
                      only where a band bucket collides; recall is
                      1-(1-s^r)^b for Jaccard s. All hashing JVM-side
                      (xxhash64 via higher-order functions) — no Python
                      in the hot path.
- simhash:            64-bit SimHash via an Arrow-vectorized pandas UDF;
                      near-dups collide on signature blocks.
"""

from __future__ import annotations

import functools

import pandas as pd

from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql.types import LongType

from .reliability import materialize


def exact_dedup(df: DataFrame, cols: list[str], id_col: str) -> DataFrame:
    """Keep one representative (min id) per distinct value of ``cols``.

    Equivalent to the reference's nothing (it has no dedup); declared in
    SURVEY.md §2B LLM group. groupBy on the content hash, not the
    content: at scale this shuffles 16-byte keys instead of documents.

    The key is 128-bit (md5 over an unambiguous JSON encoding of the
    content columns, nulls preserved): a 64-bit key alone hits the
    birthday bound around ~4B documents — collisions would silently
    MERGE distinct documents, i.e. drop data. 128 bits pushes expected
    collisions past 10^18 rows. unhex() keeps the shuffle key 16 raw
    bytes rather than a 32-char hex string.
    """
    payload = F.to_json(
        F.struct(*[F.col(c) for c in cols]), {"ignoreNullFields": "false"}
    )
    h = F.unhex(F.md5(payload)).alias("__h")
    keeper = df.select(h, F.col(id_col)).groupBy("__h").agg(F.min(id_col).alias(id_col))
    return df.join(keeper, on=id_col, how="left_semi")


def shingles(text_col, n: int = 3):
    """Distinct word n-gram shingles as an array column (JVM lambdas).

    Column-expression form for inline composition. Hot paths that
    explode the shingles should use :func:`exploded_shingles` instead —
    Catalyst interprets (never codegens) the transform/slice lambda
    tree, which measured 4x slower than the ml.NGram Scala transform at
    sf0.1 (round 5)."""
    toks = F.split(text_col, " ")
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
    )


def shingle_sets(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id, sh) — one row per document holding its DISTINCT word n-gram
    shingles as an array, built with the Scala-side ml.feature.NGram
    transform (4x the interpreted HOF tree; identical output, verified
    element-for-element at sf0.1). Semantics match :func:`shingles`
    exactly, including the edge cases (round-5 ADVICE item 1): a
    document with fewer than ``n`` tokens holds its whole text as one
    partial shingle (NGram alone would emit nothing and silently exempt
    short docs from dedup) — the q113 oracle encodes the same rule —
    and a NULL-text document has NO row, so null-text docs are exempt
    from similarity dedup rather than pairing as exact duplicates of
    empty-text docs."""
    from pyspark.ml.feature import NGram

    toks = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.split(F.col(text_col), " ").alias("__toks"),
    )
    ng = NGram(n=n, inputCol="__toks", outputCol="__ng").transform(toks)
    arr = F.when(
        F.size("__toks") < n, F.array(F.concat_ws(" ", F.col("__toks")))
    ).otherwise(F.col("__ng"))
    return ng.select("id", F.array_distinct(arr).alias("sh"))


def exploded_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id, sh) — one row per distinct word n-gram shingle per document:
    :func:`shingle_sets` exploded."""
    return shingle_sets(df, id_col, text_col, n).select(
        "id", F.explode("sh").alias("sh")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.2,
    max_posting: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing >=1 shingle.

    inter(a,b) via a self-equi-join on shingle; |a|,|b| joined back;
    J = inter / (|a| + |b| - inter). Returns (id_a, id_b, jaccard),
    id_a < id_b.

    ``max_posting`` is the stop-shingle cap (the 100 TB skew knob —
    docs/SCALE.md): a shingle appearing in more than ``max_posting``
    docs ("the quick brown"-style boilerplate) is dropped BEFORE the
    pair join, bounding the join's per-key fan-out at max_posting^2.
    Jaccard is then computed over the capped shingle space on both the
    numerator and the denominators, so it remains a true similarity on
    that space (the classic stop-shingle scheme). None = exact.
    """
    sh = exploded_shingles(df, id_col, text_col, n)
    if max_posting is not None:
        hot = (
            sh.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") > max_posting)
            .select("sh")
        )
        sh = sh.join(hot, "sh", "left_anti")
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _packed_corpus_order(id_c, pos_c):
    """(id, pos) corpus order as ONE hash-aggregatable value (r11).

    ``min(struct(id, pos))`` is the natural first-occurrence keeper
    aggregate, but struct buffers are not mutable in UnsafeRow, so
    Spark silently falls back to SortAggregate — two extra sorts per
    detection pass (partial and final) keyed on billions of posting
    rows at 100 TB. Packing the pair into ``id·2⁶³ + pos`` as
    DECIMAL(38,0) keeps the exact lexicographic order (monotone for
    ANY long id, including negative, because 0 ≤ pos < 2⁶³ from
    posexplode) and is injective, so min(packed) IS the corpus-order
    first and packed-equality IS (id, pos)-equality — no decode
    needed anywhere. DECIMAL(38,0) holds |id·2⁶³ + pos| < 2¹²⁶ ≈
    8.5e37 < 1e38, and decimal min/count are UnsafeRow-mutable, so
    both the partial (map-side combine) and final aggregates run as
    HashAggregate — measured 0.32 s vs 0.34–1.03 s for the struct
    form on the sf0.1 sliding-window posting frame, with keeper sets
    verified identical."""
    two63 = F.expr("CAST(9223372036854775808 AS DECIMAL(38,0))")
    return id_c.cast("decimal(38,0)") * two63 + pos_c.cast("decimal(38,0)")


def _prefix_posting_index(
    df: DataFrame, id_col: str, text_col: str, n: int, threshold: float
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """The prefix filter's posting index, shared by
    :func:`prefix_jaccard_pairs` and :func:`containment_prefix_pairs`.

    Returns ``(ordered, prefix, sa, sb)``: ``ordered`` holds one
    ``(id, sh, __df, __pos, __n)`` row per md5 shingle posting, ranked
    per document by ascending document frequency ``__df`` (ties by
    shingle bytes), with ``__n`` the document's shingle count;
    ``prefix`` keeps each document's first ``__n - ceil(t·__n) + 1``
    postings; ``sa``/``sb`` are the two verify projections
    ``(id_a, s_a)`` and ``(__idb, s_b)``.
    """
    sh = exploded_shingles(df, id_col, text_col, n)
    sh = sh.select("id", F.unhex(F.md5("sh")).alias("sh"))
    # Document frequency as a count window over sh: groupBy("sh") plus a
    # join back re-runs the shingle explode once per consumer and
    # re-shuffles every posting for the probe anyway, while the window
    # shuffles the postings by shingle once and counts in place
    # (measured 1.29 -> 0.88 s for the q121 index build at sf0.1).
    w = Window.partitionBy("id").orderBy("__df", "sh")
    ordered = (
        sh.withColumn("__df", F.count(F.lit(1)).over(Window.partitionBy("sh")))
        .withColumn("__pos", F.row_number().over(w))
        .withColumn("__n", F.count(F.lit(1)).over(Window.partitionBy("id")))
    )
    # The index feeds the prefix join and both verify sides (and the
    # containment form's full posting side); unmaterialized, each branch
    # re-scans and re-shingles the corpus from source. Storage is one row
    # per posting, the operator's working set anyway; measured 0.7x wall
    # at sf0.1.
    ordered = materialize(ordered, eager=False)
    prefix = ordered.filter(
        F.col("__pos") <= F.col("__n") - F.ceil(F.lit(threshold) * F.col("__n")) + 1
    )
    # ordered is 1:1 with sh (the count windows add columns, never rows),
    # so both verify sides read exact shingle sets
    sa = ordered.select(F.col("id").alias("id_a"), F.col("sh").alias("s_a"))
    sb = ordered.select(F.col("id").alias("__idb"), F.col("sh").alias("s_b"))
    return ordered, prefix, sa, sb


def prefix_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """EXACT Jaccard-≥-threshold pairs via prefix filtering (SSJoin /
    PPJoin, Chaudhuri'06 / Xiao'08) — the scale path for exact
    similarity joins, sitting between ngram_jaccard_pairs (full
    posting-list join, ground truth) and MinHash-LSH (approximate).

    Candidate generation joins only each document's PREFIX: with
    shingles ordered by ascending global document frequency (rarest
    first, ties by shingle text — a total order), two sets with
    Jaccard ≥ t MUST share a shingle among each one's first
    |s| - ceil(t·|s|) + 1 shingles, so everything else never enters
    the join. Two structural wins over the full posting join:
    (1) at t=0.8 only ~20% of each doc's shingles are join keys;
    (2) those keys are by construction the RAREST shingles, so
    posting lists are short — the frequency order is itself the
    stop-shingle defense, no cap parameter needed. A length filter
    (min size ≥ t·max size) prunes cross-size candidates before the
    exact verify. Candidates then verify with an exact intersection
    count — false positives die there, and the prefix theorem
    guarantees no false negatives, which is why the plain all-pairs
    Jaccard oracle can hash-match this plan.

    Posting payload is the 16-byte md5 of each shingle, never the raw
    string (r16 — the q177 discipline). Correctness class is
    unchanged: md5 is injective on distinct shingles up to the
    2^-128 collision bound, so per-doc sizes, document frequencies,
    intersection counts — and therefore every emitted Jaccard value —
    are exactly those of the string form; the frequency order's
    tie-break becomes md5-byte order, which is still one consistent
    total order across all documents (the only property the prefix
    theorem needs). What the hashing buys is ENTROPY-INDEPENDENCE of
    the exchange, not a cut on every corpus: on the x10 synthetic
    fixture (44-token vocabulary) the lz4-compressed shuffle is
    byte-neutral (191.8 → 191.2 MB — the low-entropy strings compress
    below 16 incompressible md5 bytes), while on a high-entropy
    vocabulary — real web text — raw shingles ship at full width and
    the hash bounds every posting row at 16 B regardless of n or
    token length (measured on a random-hex corpus: 116.5 → 73.3 MB
    shuffled — a 37% cut, the predicted figure — and 0.57× wall at
    identical output; BASELINE.md r16). The wall trade runs BOTH ways
    with entropy: on the low-entropy synthetic x10 fixture md5 is
    1.35× wall (compute + incompressible binary exchange vs short
    compressible strings) — priced and recorded; the default stays
    md5 because the 100 TB target is real text and the bounded
    exchange width is what survives a scale-up.

    Shuffles: one posting exchange keyed on shingle (the df count
    window), per-doc position window, prefix self-join, pair-verify
    join — all equi-keyed, never all-pairs. Returns
    (id_a, id_b, jaccard), id_a < id_b.
    """
    _, prefix, sa, sb = _prefix_posting_index(df, id_col, text_col, n, threshold)
    prefix = prefix.select("id", "sh", "__n")
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.id") < F.col("b.id"))
            & (
                F.least(F.col("a.__n"), F.col("b.__n"))
                >= F.lit(threshold) * F.greatest(F.col("a.__n"), F.col("b.__n"))
            ),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.__n").alias("n_a"),
            F.col("b.__n").alias("n_b"),
        )
        .distinct()
    )
    inter = (
        cand.join(sa, "id_a")
        .join(sb, (F.col("id_b") == F.col("__idb")) & (F.col("s_b") == F.col("s_a")))
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return inter.select(
        "id_a",
        "id_b",
        (F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


def containment_prefix_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.9,
) -> DataFrame:
    """EXACT containment-≥-threshold ORDERED pairs via the ASYMMETRIC
    prefix filter — the scale path for excerpt/quote detection
    (containment(A→B) = |sh(A) ∩ sh(B)| / |sh(A)|), sitting above the
    plain posting join the same way prefix_jaccard_pairs sits above
    ngram_jaccard_pairs.

    The asymmetry changes the prefix theorem's shape: only side A's
    prefix shortens. With shingles totally ordered by ascending global
    document frequency (rarest first, ties by shingle text), a B with
    containment(A→B) ≥ t must hold ≥ ⌈t·|A|⌉ of A's shingles, so it
    must intersect A's first |A| − ⌈t·|A|⌉ + 1 shingles (miss them all
    and at most ⌈t·|A|⌉ − 1 < t·|A| remain) — but B itself joins with
    its FULL posting list, because nothing bounds which of B's
    shingles the overlap uses. One extra one-sided prune holds:
    inter ≤ |B|, so |B| ≥ ⌈t·|A|⌉ or the pair is impossible. At
    t=0.9 side A explodes ~10% of its shingles — and by construction
    its RAREST ones, so posting lists are short (the frequency order
    is the stop-shingle defense). Candidates verify with an exact
    intersection count; the prefix theorem guarantees no false
    negatives, which is why the plain posting-join oracle hash-matches
    this plan.

    Posting payload is the 16-byte md5 of each shingle, never the raw
    string (r16 — same rationale, exactness class and entropy-
    independence argument as prefix_jaccard_pairs; the asymmetric
    theorem likewise only needs ONE consistent order shared by the
    A-prefixes and the B-side full posting lists).

    Shuffles: one posting exchange keyed on shingle (the df count
    window), per-doc position window, prefix⋈full posting join,
    pair-verify join — all equi-keyed, never all-pairs. Returns (id_a, id_b, containment), id_a ≠ id_b,
    BOTH directions evaluated independently (the asymmetry is the
    point: a 20-token crop is contained in its 54-token source at 1.0
    while the reverse direction scores ~0.35)."""
    ordered, prefix, sa, sb = _prefix_posting_index(df, id_col, text_col, n, threshold)
    prefix = prefix.select(F.col("id").alias("id_a"), "sh", F.col("__n").alias("n_a"))
    full = ordered.select(F.col("id").alias("id_b"), "sh", F.col("__n").alias("n_b"))
    a, b = prefix.alias("a"), full.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.id_a") != F.col("b.id_b"))
            & (F.col("b.n_b") >= F.ceil(F.lit(threshold) * F.col("a.n_a"))),
        )
        .select("a.id_a", "b.id_b", F.col("a.n_a").alias("n_a"))
        .distinct()
    )
    inter = (
        cand.join(sa, "id_a")
        .join(sb, (F.col("id_b") == F.col("__idb")) & (F.col("s_b") == F.col("s_a")))
        .groupBy("id_a", "id_b", "n_a")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return inter.select(
        "id_a",
        "id_b",
        (F.col("inter") / F.col("n_a")).alias("containment"),
    ).filter(F.col("containment") >= threshold)


@functools.lru_cache(maxsize=None)
def _minhash_aggs(num_hashes: int) -> tuple[Column, ...]:
    """The H ``min(xxhash64(h, i))`` signature aggregates. A Column is an
    unresolved expression tree that each DataFrame resolves afresh (new
    expression ids per use), so the tuple is built once per process
    instead of spending ~5 py4j round trips per hash on every call."""
    return tuple(
        F.min(F.xxhash64(F.col("h"), F.lit(i))).alias(f"mh_{i}") for i in range(num_hashes)
    )


@functools.lru_cache(maxsize=None)
def _band_explode(num_hashes: int, bands: int) -> Column:
    """The ``bb`` (band, bucket) struct explode over mh_* columns — each
    band's rows-per-band hash slice collapsed to one xxhash64 bucket
    key. Built once per (num_hashes, bands), as :func:`_minhash_aggs`."""
    rows_per_band = num_hashes // bands
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.xxhash64(
                        *[F.col(f"mh_{b * rows_per_band + j}") for j in range(rows_per_band)]
                    ).alias("bucket"),
                )
                for b in range(bands)
            ]
        )
    ).alias("bb")


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash signature columns mh_0..mh_{H-1} per id, entirely JVM-side.

    Cost discipline (this is the 100 TB-critical part): each shingle is
    string-hashed exactly ONCE (xxhash64), then the H per-function
    hashes are cheap long→long rehashes computed as H plain min()
    aggregates — so partial aggregation runs map-side and the shuffle
    carries only H longs per document. The naive nested-lambda form
    (re-deriving the shingle array per hash function, or running the
    H rehash+min passes inside interpreted array lambdas) measured
    2-4x slower at sf0.1 and would melt at scale.

    The explicit repartition spreads the explode+hash work across the
    full cluster regardless of input file layout — a single fat input
    file must not serialize the hashing into one task. (Explicit count,
    not repartition(col): AQE would coalesce a small column-repartition
    back to one partition.)
    """
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    base = exploded_shingles(
        df.select(id_col, text_col).repartition(parallelism),
        id_col,
        text_col,
        shingle_n,
    ).select("id", F.xxhash64("sh").alias("h"))
    return base.groupBy("id").agg(*_minhash_aggs(num_hashes))


def _band_postings(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(id, band, bucket) postings from mh_* signature columns: each
    band's rows-per-band hash slice collapses to one xxhash64 bucket
    key, exploded JVM-side — the banding expression shared by the
    full-corpus, incremental, and index-build LSH paths (factored r10;
    structurally identical to the r6–r9 inline form, so q42/q113
    hashes are unchanged)."""
    return sig.select("id", _band_explode(num_hashes, bands)).select(
        "id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash-LSH.

    bands=16 over 64 hashes → rows-per-band r=4; pair survives if any
    band's 4-hash slice matches. Shuffle is keyed on (band, band_hash).
    At 100 TB the only hotspot is a degenerate bucket (e.g. empty docs,
    boilerplate): ``max_bucket`` drops any (band, bucket) holding more
    than that many docs before the pair join, bounding per-bucket work
    at max_bucket^2 (one extra count-aggregate over (id, band, bucket)
    triples — 16 bytes/row, cheap next to the join it protects). A
    true dup-cluster larger than max_bucket still pairs up through its
    OTHER bands unless it saturates all of them — set the cap well
    above the expected dup-cluster size. None = uncapped.
    Returns distinct (id_a, id_b), id_a < id_b.
    """
    sig = minhash_signatures(df, id_col, text_col, num_hashes, shingle_n)
    banded = _band_postings(sig, num_hashes, bands)
    # Materialized once: the self-join below consumes `banded` twice
    # (plus the hot-bucket cap path), and when the planner broadcasts
    # one side the signature subtree above the groupBy exchange (the
    # 64-way min merge + band explode) executes once per consumer —
    # measured 1.92 → 1.55 s at sf0.1 (q42). 20 bytes/row × bands,
    # the operator's working set.
    banded = materialize(banded, eager=False)
    if max_bucket is not None:
        hot = (
            banded.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > max_bucket)
            .select("band", "bucket")
        )
        banded = banded.join(hot, ["band", "bucket"], "left_anti")
    x = banded.alias("x")
    y = banded.alias("y")
    return (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )


def build_bloom_filter(
    history_keys: DataFrame,
    key_col: str,
    m_bits: int = 1 << 20,
    k: int = 4,
    seed: int = 42,
) -> bytes:
    """Build the persistable bloom bitmap for a history key set (r10 —
    the fourth persisted-index artifact, joining the LSH postings, IVF
    cells, and PQ codes): returns the packed m_bits/8-byte bitmap
    (128 KiB at the default m) that :func:`bloom_antijoin` probes.
    Store it anywhere (a file beside the history table); (m_bits, k,
    seed) are part of its identity — probe with the same triple.
    Growing the history is an append-only OR: after a batch is
    accepted, ``bytes(a | b for a, b in zip(old, build_bloom_filter(
    batch_keys, ...)))`` (or numpy |) is the filter for the grown
    history — bitmaps over the same triple OR-merge exactly, so the
    history is never rescanned.

    Build is distributed (round-5 VERDICT note): each partition packs
    its positions into an m/8-byte bitmap inside mapInPandas, and the
    driver ORs one bitmap PER PARTITION — the treeAggregate-of-packed-
    bitmaps shape. The driver never materializes positions; the
    exploded positions are coalesced (narrow, no shuffle) to at most
    64 partitions first, so per-build transient memory is a FIXED
    ≤ 64 × m/8 bytes (8 MiB at the default m) on the driver and one
    m-bit scratch array per concurrent task — independent of both
    history size AND however many partitions the k-way explode
    inherited from the history scan (round-6 ADVICE item 2).
    """
    import numpy as np

    assert m_bits % 8 == 0, "m_bits must be a multiple of 8 (packed bitmap)"
    spark = history_keys.sparkSession
    build_parts = min(spark.sparkContext.defaultParallelism, 64)
    pos_df = history_keys.select(
        F.explode(
            F.array(
                *[
                    F.pmod(F.xxhash64(F.col(key_col), F.lit(seed + i)), F.lit(m_bits))
                    for i in range(k)
                ]
            )
        ).alias("pos")
    ).coalesce(build_parts)

    def _pack_partition(batches):
        bits = np.zeros(m_bits, dtype=bool)
        for pdf in batches:
            bits[pdf["pos"].to_numpy()] = True  # fully vectorized scatter
        yield pd.DataFrame({"bm": [np.packbits(bits).tobytes()]})

    packed = np.zeros(m_bits // 8, dtype=np.uint8)
    for r in pos_df.mapInPandas(_pack_partition, "bm binary").collect():
        packed |= np.frombuffer(r["bm"], dtype=np.uint8)
    return packed.tobytes()


def bloom_antijoin(
    batch: DataFrame,
    bloom: bytes,
    history_keys: DataFrame,
    key_col: str,
    m_bits: int = 1 << 20,
    k: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Incremental exact dedup against a PERSISTED bloom bitmap: probe
    ``batch`` rows with the stored filter (read back from wherever
    :func:`build_bloom_filter`'s bytes were written — the history key
    set is NOT rescanned to build anything), send only maybe-present
    rows into the exact anti-join against ``history_keys``, and union
    the definitely-new rows straight through. Exact by construction
    (no false negatives), equal to the plain anti-join — q116's oracle
    is q95's verbatim, and the split path is covered by the same
    equality pytest. (m_bits, k, seed) must match the build.

    Hashing discipline: the k probe positions are computed JVM-side
    (xxhash64(key, seed+i) mod m), so the Python UDF only does
    vectorized bitmap lookups on integer positions — no Python hashing
    of row data anywhere; the probe indexes the packed bytes directly
    ((byte >> (7 - (pos & 7))) & 1, numpy packbits bit order) — no
    per-batch m-bit unpack (round-5 ADVICE item 4).
    """
    import numpy as np

    assert m_bits % 8 == 0, "m_bits must be a multiple of 8 (packed bitmap)"
    assert len(bloom) == m_bits // 8, (
        f"bloom bitmap is {len(bloom)} bytes; m_bits={m_bits} needs {m_bits // 8} — "
        "probe parameters must match the build"
    )
    packed = np.frombuffer(bloom, dtype=np.uint8)

    @F.pandas_udf("boolean")
    def _all_set(*pos_cols: pd.Series) -> pd.Series:
        import numpy as np

        out = np.ones(len(pos_cols[0]), dtype=bool)
        for pc in pos_cols:
            p = pc.to_numpy()
            out &= (packed[p >> 3] >> (7 - (p & 7)).astype(np.uint8)) & 1 == 1
        return pd.Series(out)

    probe_cols = [
        F.pmod(F.xxhash64(F.col(key_col), F.lit(seed + i)), F.lit(m_bits)).alias(f"__p{i}")
        for i in range(k)
    ]
    probed = batch.select("*", *probe_cols).withColumn(
        "__maybe", _all_set(*[F.col(f"__p{i}") for i in range(k)])
    )
    drop = [f"__p{i}" for i in range(k)] + ["__maybe"]
    definite_new = probed.filter(~F.col("__maybe")).drop(*drop)
    survivors = (
        probed.filter(F.col("__maybe"))
        .drop(*drop)
        .join(history_keys.select(key_col).distinct(), key_col, "left_anti")
    )
    return definite_new.unionByName(survivors)


def bloom_prefiltered_antijoin(
    batch: DataFrame,
    history_keys: DataFrame,
    key_col: str,
    m_bits: int = 1 << 20,
    k: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Incremental dedup with a bloom prefilter — the 100 TB path the
    plain hash anti-join (q95) documents: build a bloom filter of the
    history's content keys, broadcast it (m_bits/8 bytes — 128 KiB at
    the default — regardless of history size), and send ONLY the
    batch rows the filter flags as maybe-present into the exact
    anti-join. Rows testing definitely-absent skip the join entirely,
    so join traffic is (true dups + false positives) ≈ dup_rate +
    (1 - e^{-kn/m})^k of the batch instead of all of it.

    EXACT by construction: a bloom filter has no false negatives, so
    definitely-absent rows are provably not in history and the union
    (definite-new ∪ verified survivors) equals the plain anti-join —
    which is why q116 can share q95's oracle verbatim.

    One-shot form composing :func:`build_bloom_filter` +
    :func:`bloom_antijoin` (split r10): steady-state pipelines build
    the bitmap once, persist the bytes, OR-merge each accepted batch's
    bitmap in, and probe through bloom_antijoin — the history keys are
    scanned only by the exact verify of maybe-present rows, never for
    filter construction. Output identical either way (q116's oracle
    hash held across the split).
    """
    bloom = build_bloom_filter(history_keys, key_col, m_bits, k, seed)
    return bloom_antijoin(batch, bloom, history_keys, key_col, m_bits, k, seed)


def minhash_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """The full MinHash-LSH dedup PIPELINE: banded candidates (see
    minhash_lsh_candidates) followed by an exact n-gram Jaccard verify
    computed ONLY for candidate pairs — the production form, where the
    quadratic all-pairs join never exists and false band collisions die
    at the verify.

    The verify joins each candidate pair's shingle posting rows (the
    prefix_jaccard_pairs verify shape): cost is O(candidates ×
    avg shingles), bounded by the LSH band structure, never by N².
    Output equals exact ngram_jaccard_pairs(threshold) MINUS any true
    pair LSH missed — recall 1-(1-s^r)^b per pair (≈1 above the band
    threshold), asserted vs exact in tests and, on the twin-planted
    driver corpus, exactly 100% (the q113 oracle hash-match is the
    proof). Returns (id_a, id_b, jaccard), id_a < id_b.

    Verify posting payload is the 16-byte md5 of each shingle, never
    the raw string (r18 — the prefix_jaccard_pairs r16 treatment
    applied to this verify: at corpus scale the ``sa``/``sb`` posting
    joins otherwise ship ~shingle_n× the corpus text bytes through
    keyed exchanges). Intersection counts are unchanged — md5 is
    injective on distinct shingles up to the negligible 2^-64
    collision measure, the same recorded argument — so Jaccard values
    and every downstream hash verdict are bit-identical. As in the
    q121/q165 A/B, md5 costs ~1.1× on low-entropy synthetic text,
    wins on high-entropy real text, and bounds exchange width either
    way (BASELINE.md r18)."""
    cand = minhash_lsh_candidates(
        df, id_col, text_col, num_hashes, bands, shingle_n, max_bucket
    )
    sh = exploded_shingles(df, id_col, text_col, shingle_n)
    sh = sh.select("id", F.unhex(F.md5("sh")).alias("sh"))
    # Materialized once: the verify consumes `sh` three times (the
    # per-doc sizes and both posting sides), each consumer otherwise
    # re-running the corpus shingle explode + md5 (16-byte posting
    # rows, the verify's working set).
    sh = materialize(sh, eager=False)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    sa = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("s_a"))
    sb = sh.select(F.col("id").alias("__idb"), F.col("sh").alias("s_b"))
    inter = (
        cand.join(sa, "id_a")
        .join(sb, (F.col("id_b") == F.col("__idb")) & (F.col("s_b") == F.col("s_a")))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    na = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    nb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            (F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))).alias(
                "jaccard"
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def build_lsh_index(
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """Build the persistable MinHash-LSH posting index for a corpus:
    one (id, band, bucket) row per (doc, band) — bands rows per doc,
    16 bytes of key material each, text never retained. This is the
    frame incremental near-dup ingest (``ingest_neardup``) joins
    against: write it once (parquet, ideally bucketed/partitioned by
    ``bucket``), then every subsequent ingest reads it back instead of
    re-signaturing the corpus — the steady-state deployment the r9
    docstring promised and VERDICT r9 item 2 asked to make callable.
    After an ingest is accepted, the index for the grown corpus is
    simply ``index.unionByName(build_lsh_index(batch, ...))`` — append
    the batch's postings; history rows are never touched again.

    The signature/banding parameters are part of the index's identity:
    an index built with one (num_hashes, bands, shingle_n) triple must
    only ever be joined by ingests using the same triple (persist them
    alongside the index).
    """
    sig = minhash_signatures(corpus, id_col, text_col, num_hashes, shingle_n)
    return _band_postings(sig, num_hashes, bands)


def ingest_neardup(
    batch: DataFrame,
    index: DataFrame,
    corpus_text: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    check_disjoint: bool = True,
    batch_postings: DataFrame | None = None,
) -> DataFrame:
    """INCREMENTAL MinHash-LSH near-dup ingest against a PERSISTED
    index (r10 split of the r9 monolithic form): signatures are
    computed for the ``batch`` rows ONLY; ``index`` is the corpus's
    (id, band, bucket) posting frame from ``build_lsh_index`` (read
    back from its store — never recomputed here), and ``corpus_text``
    is the (id, text) lookup the exact-Jaccard verify fetches candidate
    texts from. Batch bands join the full posting set one-sided, so
    old×old pairs are structurally excluded and per-ingest cost is
    O(batch + collisions) — never O(corpus²), never a corpus
    re-signature. Two successive ingests reuse ONE built history index
    (the second joins ``index ∪ build_lsh_index(batch1)``); their
    pair-union equals the all-at-once form (tests/test_dedup.py).

    The verify reads TEXT ONLY FOR CANDIDATE DOCS: candidate ids
    semi-join ``corpus_text ∪ batch`` before shingling, so corpus text
    is fetched per collision, not per ingest — at 100 TB the verify's
    cost follows the (banded, bounded) candidate count. Each candidate
    pair joins the two docs' distinct-shingle arrays (``shingle_sets``)
    and takes Jaccard as ``size(array_intersect)`` over the sum of the
    set sizes minus it: no shingle explode, no per-pair aggregation,
    and the same integer counts and long/long division as a posting
    join, so the values are bit-identical to it. Recall is LSH recall,
    1-(1-s^r)^b per pair (≈1 at planted-twin similarities; the q174
    oracle hash-match is the proof, same argument as q113).

    Batch ids must be disjoint from corpus ids: an id on both sides
    would silently give one id two texts' shingle sets and
    corrupt every Jaccard it touches (ADVICE r9). ``check_disjoint``
    (default on) runs a limit-1 semi-join probe and raises ValueError
    on overlap; the probe scans only the two id columns with an
    early-out — disable it only when the caller guarantees disjointness
    by construction (e.g. monotone id assignment).

    ``batch_postings``, when given, is the batch's OWN posting frame —
    ``build_lsh_index(batch, ...)`` with the SAME parameter triple —
    computed (or better, persisted) by the caller; the ingest then
    skips its internal signature pass entirely. The streaming ingest
    uses this to sign each micro-batch exactly once: it writes the
    batch's postings to the store first and hands the stored frame
    here, so the signature job never runs twice per batch.

    Returns (id_a, id_b, jaccard), id_a < id_b, each pair containing
    ≥1 batch doc.
    """
    b = batch.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    h = corpus_text.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    if check_disjoint:
        overlap = b.select("id").join(h.select("id"), "id", "left_semi").limit(1).collect()
        if overlap:
            raise ValueError(
                f"ingest_neardup: id {overlap[0]['id']!r} is present in both the "
                "batch and the corpus — ids must be disjoint (an overlapping id "
                "would merge both texts' shingle sets and corrupt the Jaccard "
                "values). Re-key the batch or pass check_disjoint=False only if "
                "disjointness is guaranteed by construction."
            )
    new_banded = (
        batch_postings.select("id", "band", "bucket")
        if batch_postings is not None
        else build_lsh_index(b, "id", "text", num_hashes, bands, shingle_n)
    )
    all_banded = index.select("id", "band", "bucket").unionByName(new_banded)
    x, y = new_banded.alias("x"), all_banded.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.id") != F.col("y.id")),
        )
        .select(
            F.least(F.col("x.id"), F.col("y.id")).alias("id_a"),
            F.greatest(F.col("x.id"), F.col("y.id")).alias("id_b"),
        )
        .distinct()
    )
    cand_ids = cand.select(F.explode(F.array("id_a", "id_b")).alias("id")).distinct()
    texts = h.unionByName(b).join(cand_ids, "id", "left_semi")
    sets = shingle_sets(texts, "id", "text", shingle_n)
    sa = sets.select(F.col("id").alias("id_a"), F.col("sh").alias("s_a"))
    sb = sets.select(F.col("id").alias("id_b"), F.col("sh").alias("s_b"))
    n_a = F.size("s_a").cast("long")
    n_b = F.size("s_b").cast("long")
    inter = F.size(F.array_intersect("s_a", "s_b")).cast("long")
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", inter.alias("inter"), (n_a + n_b).alias("n_ab"))
        # a pair sharing no shingle is no pair (whatever the threshold)
        .filter(F.col("inter") > 0)
        .select(
            "id_a",
            "id_b",
            (F.col("inter") / (F.col("n_ab") - F.col("inter"))).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def incremental_minhash_pairs(
    history: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """One-shot incremental near-dup: build the LSH index for
    ``history`` and ingest ``batch`` against it in a single call —
    ``ingest_neardup(batch, build_lsh_index(history), history)``.
    Convenience form for a first ingest or ad-hoc use; steady-state
    pipelines should call ``build_lsh_index`` once, persist the
    postings, and route every subsequent batch through
    ``ingest_neardup`` directly so history is never re-signatured
    (VERDICT r9 item 2). Output is identical either way (q174's oracle
    hash held across the r10 split). Ids must be disjoint across the
    two inputs — checked, ValueError on overlap (ADVICE r9).
    """
    idx = build_lsh_index(history, id_col, text_col, num_hashes, bands, shingle_n)
    return ingest_neardup(
        batch,
        idx,
        history,
        id_col,
        text_col,
        threshold=threshold,
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
        check_disjoint=True,
    )


@F.pandas_udf(LongType())
def simhash64(texts: pd.Series) -> pd.Series:
    """64-bit SimHash over word tokens. Near-duplicate texts differ in
    O(few) bits.

    Fully batch-vectorized (round-1 VERDICT wrong-list #4 fix): ALL
    tokens of the Arrow batch are FNV-1a-hashed together — a 2-D uint8
    byte matrix walked column-wise, so the Python-level loop is
    O(max_token_len) numpy passes (~10 for prose) instead of
    O(total_tokens x token_len) scalar ops; the per-document ±1 bit
    accumulate is one ``np.add.reduceat`` over the (tokens, 64)
    contribution matrix. Output is bit-identical to the scalar FNV
    reference (``hash_token``) — determinism contract unchanged, q43's
    oracle hash is stable across the rewrite.
    """
    import numpy as np

    out = np.zeros(len(texts), dtype=np.int64)
    tok_lists = [t.encode("utf-8").split(b" ") if t else [] for t in texts]
    counts = np.fromiter((len(tl) for tl in tok_lists), dtype=np.int64, count=len(tok_lists))
    ntok = int(counts.sum())
    if ntok == 0:
        return pd.Series(out)
    enc = [tok for tl in tok_lists for tok in tl]
    lens = np.fromiter((len(e) for e in enc), dtype=np.int64, count=ntok)
    maxlen = int(lens.max())
    # Ragged tokens -> zero-padded (tokens, maxlen) byte matrix in one
    # scatter: boolean assignment consumes the concatenated blob in
    # row-major order, which matches token order.
    flat = np.frombuffer(b"".join(enc), dtype=np.uint8)
    mat = np.zeros((ntok, maxlen), dtype=np.uint8)
    mat[np.arange(maxlen) < lens[:, None]] = flat
    h = np.full(ntok, 0xCBF29CE484222325, dtype=np.uint64)
    prime = np.uint64(_FNV_PRIME)
    with np.errstate(over="ignore"):  # uint64 wrap IS the FNV modulus
        cols = np.ascontiguousarray(mat.T)
        for j in range(maxlen):
            # No length mask: a padding zero byte does h = (h^0)*prime,
            # and the FNV prime is odd hence invertible mod 2^64 — the
            # spurious multiplications are undone below with inverse
            # powers, keeping every column op branch-free.
            h = (h ^ cols[j]) * prime
        inv_pows = np.empty(maxlen + 1, dtype=np.uint64)
        inv_pows[0] = 1
        for k in range(1, maxlen + 1):
            inv_pows[k] = inv_pows[k - 1] * np.uint64(_FNV_INV)
        h = h * inv_pows[maxlen - lens]
        # (tokens, 64) ±1 contributions -> per-document bit-count sums.
        bits = ((h[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)).astype(np.int8)
        contrib = 2 * bits - 1
    nonempty = counts > 0
    offsets = np.concatenate(([0], np.cumsum(counts)[:-1]))[nonempty]
    acc = np.add.reduceat(contrib, offsets, axis=0, dtype=np.int64)
    sigs = ((acc > 0).astype(np.uint64) << np.arange(64, dtype=np.uint64)).sum(
        axis=1, dtype=np.uint64
    )
    out[nonempty] = sigs.astype(np.int64)
    return pd.Series(out)


_FNV_PRIME = 0x100000001B3
_FNV_INV = pow(_FNV_PRIME, -1, 1 << 64)  # odd prime => invertible mod 2^64


def hash_token(tok: str) -> int:
    """Deterministic 64-bit FNV-1a (process-independent, unlike Python's
    builtin hash which is salted per process). Scalar reference for the
    vectorized batch hash in ``simhash64`` — tests assert equivalence."""
    h = 0xCBF29CE484222325
    for b in tok.encode("utf-8"):
        h = ((h ^ b) * _FNV_PRIME) & 0xFFFFFFFFFFFFFFFF
    return h


def simhash_portable(df: DataFrame, id_col: str, text_col: str, bits: int = 60) -> DataFrame:
    """SimHash signatures computed ENTIRELY with JVM expressions over a
    portable token hash — the top 15 hex chars of md5(token) as a
    60-bit integer, a function both Spark and ANSI-ish SQL engines
    express identically (q120's oracle recomputes the full signature in
    DuckDB and hash-matches it).

    Per doc: explode tokens once, one groupBy computing all ``bits``
    per-bit ±1 sums map-side-partial (sum of bit contributions is
    associative, so the shuffle carries ``bits`` longs per doc, never
    tokens), then fold the sign bits into one BIGINT signature. Versus
    ``simhash64`` (the FNV pandas-UDF production form, q43): no Python
    anywhere, at the price of md5 per token — use this form when
    cross-engine reproducibility matters more than raw hash speed.

    Tie rule: a per-bit sum of exactly 0 yields bit 0 (strict ``> 0``)
    — encoded identically in the oracle.
    """
    from functools import reduce as _reduce

    toks = df.select(
        F.col(id_col).alias("id"), F.explode(F.split(F.col(text_col), " ")).alias("tok")
    )
    h = F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")
    hashed = toks.select("id", h.alias("h"))
    sums = hashed.groupBy("id").agg(
        *[
            F.sum(
                F.shiftrightunsigned(F.col("h"), j).bitwiseAND(F.lit(1)) * 2 - 1
            ).alias(f"b{j}")
            for j in range(bits)
        ]
    )
    sig = _reduce(
        lambda acc, j: acc
        + F.when(F.col(f"b{j}") > 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0).cast("long")),
        range(bits),
        F.lit(0).cast("long"),
    )
    return sums.select("id", sig.alias("sig"))


def simhash_blocked_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    n_blocks: int = 4,
    bits: int = 60,
) -> DataFrame:
    """All pairs with SimHash hamming distance ≤ ``max_hamming`` via the
    classic multi-block scheme: split the signature into ``n_blocks``
    equal bit blocks and generate candidates only where a whole block
    matches, then exact-verify with bit_count(xor).

    PROVABLY COMPLETE when ``max_hamming <= n_blocks - 1`` (pigeonhole:
    ≤ n_blocks−1 differing bits cannot touch all n_blocks blocks, so
    some block is identical and the pair surfaces in that block's
    bucket join) — asserted, because that inequality is what turns the
    banded join from a recall heuristic into an exact operator. At
    scale each block join is equi-keyed on (block_idx, block_value):
    shuffle carries (id, sig, 2 small ints); hot buckets are capped by
    block width (2^15 buckets per block at the defaults).
    """
    assert bits % n_blocks == 0, "bits must divide evenly into blocks"
    assert max_hamming <= n_blocks - 1, (
        "completeness requires max_hamming <= n_blocks - 1 (pigeonhole)"
    )
    block_bits = bits // n_blocks
    sigs = simhash_portable(df, id_col, text_col, bits)
    blocks = sigs.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("bi"),
                        F.shiftrightunsigned(F.col("sig"), b * block_bits)
                        .bitwiseAND(F.lit((1 << block_bits) - 1))
                        .alias("bv"),
                    )
                    for b in range(n_blocks)
                ]
            )
        ).alias("blk"),
    ).select("id", "sig", F.col("blk.bi").alias("bi"), F.col("blk.bv").alias("bv"))
    x = blocks.alias("x")
    y = blocks.alias("y")
    pairs = (
        x.join(
            y,
            (F.col("x.bi") == F.col("y.bi"))
            & (F.col("x.bv") == F.col("y.bv"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            F.col("x.sig").alias("sig_a"),
            F.col("y.sig").alias("sig_b"),
        )
        .distinct()  # a pair may collide in several blocks
    )
    return (
        pairs.select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components over candidate-pair edges → (id, cluster_id)
    with cluster_id = min node id in the component. This is the step
    that turns near-dup PAIRS into dedup CLUSTERS (keep min id per
    cluster, drop the rest).

    Hash-min label propagation as iterative DataFrame joins
    (GraphFrames-free): each round every node takes the min label among
    itself and its neighbors; converges in O(component diameter)
    rounds. The driver loop iterates over PLANS, not data — per round
    one shuffle keyed on node id, and materialize() truncates the
    lineage so plan size stays constant. Near-dup graphs have tiny
    diameters (dup clusters are cliques-ish), so rounds ~ 2-3 in
    practice; for adversarial long-chain graphs at 100 TB switch to
    :func:`connected_components_star` (r12 — the promised
    large-star/small-star variant made callable: O(log n) rounds,
    same join shape, pytest-pinned label-equal).

    The per-round label truncation is unrecoverable under the default
    ``"local"`` durability regime on executor loss (the whole
    propagation restarts); long cluster runs should set
    ``"replicated"`` or ``"reliable"`` — labels are (long, long) pairs,
    so durability is cheap. Regimes: operators/reliability.py.
    """
    sym = edges.select(
        F.col(src).cast("long").alias("s"), F.col(dst).cast("long").alias("d")
    )
    sym = sym.union(sym.select(F.col("d").alias("s"), F.col("s").alias("d")))
    nodes = sym.select(F.col("s").alias("id")).distinct()
    labels = materialize(nodes.select("id", F.col("id").alias("label")))
    for _ in range(max_iter):
        nbr_min = (
            sym.join(labels, sym["d"] == labels["id"])
            .groupBy("s")
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = materialize(
            labels.join(nbr_min, labels["id"] == nbr_min["s"], "left").select(
                "id",
                F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias("label"),
            )
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # r12 — found by the star-equality test on a 200-node chain:
        # exhausting max_iter used to RETURN the unconverged labels
        # silently (nodes > max_iter hops from their component's min
        # keep a wrong cluster_id). Confirming convergence costs one
        # no-change round on top of the ~diameter propagation rounds,
        # so budget max_iter ≥ diameter + 1; when the budget runs out
        # before the confirming round, refuse instead of mislabeling
        # (a graph that converged EXACTLY on the last round raises too
        # — conservative by design, since without the extra round the
        # two cases are indistinguishable).
        raise ValueError(
            f"connected_components could not confirm convergence within "
            f"max_iter={max_iter} rounds (confirmation needs ~diameter + 1 "
            "rounds). Raise max_iter, or use connected_components_star "
            "(O(log n) rounds) for long-chain graphs."
        )
    return labels.select("id", F.col("label").alias("cluster_id"))


def connected_components_star(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 60,
) -> DataFrame:
    """Connected components via alternating LARGE-STAR / SMALL-STAR
    rounds (r12 — the O(log n)-round variant
    :func:`connected_components`'s docstring promises for adversarial
    long-chain graphs; the ivf_append rule: a documented discipline
    must have a callable). Same contract as the hash-min form —
    ``(id, cluster_id)`` with cluster_id = min node id per component,
    nodes taken from the edge list — and pytest-pinned EQUAL to it on
    random graphs, cliques, and the path graph where hash-min needs
    O(diameter) rounds and this form needs O(log n)
    (tests/test_dedup.py).

    The two steps (Kiveris et al. 2014, "Connected Components in
    MapReduce and Beyond" — the published alternating algorithm):

    - LARGE-STAR: over the symmetrized edges, every node ``u`` links
      each STRICTLY LARGER neighbor to ``m = min(N(u) ∪ {u})`` —
      long tails collapse toward small ids without ever attaching a
      smaller node upward (what keeps the step monotone);
    - SMALL-STAR: over edges oriented (larger → smaller), every node
      links its smaller neighbors AND itself to the minimum — local
      stars flatten to height 1.

    Each round is two groupBy-min aggregations + joins keyed on node
    id (map-side combinable, integer pairs only), the driver loop
    iterates over PLANS with materialize() truncating lineage
    (the hash-min form's discipline), and convergence is detected by
    an (edge count, unordered xxhash64 checksum) pair going stable —
    one cheap aggregate per round instead of a set-difference join
    (the 2⁻⁶⁴ checksum-collision risk is the documented trade).
    Use the hash-min form for near-dup graphs (tiny diameters, ~2-3
    rounds, fewer stages per round); this one when components can be
    long chains — id-sorted crawl frontiers, temporal link graphs —
    where O(diameter) rounds is the difference between 3 and 300
    shuffles at 100 TB.

    Same fault envelope as the hash-min form: per-round edge-forest
    truncations are job-fatal on executor loss under the ``"local"``
    regime; see operators/reliability.py.
    """
    raw = edges.select(
        F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
    )
    # Nodes come from the RAW edge list — BEFORE the self-loop filter —
    # so a node whose only edge is (x, x) still appears in the output
    # as its own singleton cluster, exactly like the hash-min form
    # (r12 review finding: deriving nodes after the filter silently
    # dropped self-loop-only nodes).
    nodes = materialize(
        raw.select(F.col("u").alias("id"))
        .union(raw.select(F.col("v").alias("id")))
        .distinct()
    )
    e = materialize(raw.filter(F.col("u") != F.col("v")).distinct())

    def _stamp(df: DataFrame) -> tuple[int, int]:
        # bit_xor, not sum: order-independent over the DISTINCT edge
        # set and immune to ANSI long-overflow (summing 64-bit hashes
        # overflows).
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h"),
        ).first()
        return int(row["n"]), int(row["h"])

    prev = None
    for _ in range(max_iter):
        # LARGE-STAR over the symmetrized edge set.
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(F.min("v").alias("mv"))
        m = F.least(F.col("u"), F.col("mv")).alias("m")
        ls = (
            sym.join(mins, "u")
            .select("u", "v", m)
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # SMALL-STAR over (larger -> smaller) orientation.
        direct = (
            ls.select(
                F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
            )
            .distinct()
        )
        smins = direct.groupBy("u").agg(F.min("v").alias("m"))
        part_nbrs = (
            direct.join(smins, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        part_self = smins.select(F.col("u"), F.col("m").alias("v"))
        e = materialize(
            part_nbrs.union(part_self)
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        cur = _stamp(e)
        if cur == prev:
            break
        prev = cur
    else:
        # Same contract as the hash-min form's r12 guard (review
        # finding: the star form initially lacked it): an exhausted
        # round budget without a stable stamp means the star forest
        # may still be partial — returning it would fragment
        # components silently, the exact failure this module refuses.
        raise ValueError(
            f"connected_components_star could not confirm convergence within "
            f"max_iter={max_iter} rounds (needs ~2·log2(n) + 1 rounds, plus "
            "one no-change round to confirm). Raise max_iter."
        )
    labels = e.groupBy("u").agg(F.min("v").alias("lbl"))
    return nodes.join(labels, nodes["id"] == labels["u"], "left").select(
        "id", F.coalesce("lbl", "id").alias("cluster_id")
    )


def fuzzy_name_pairs(
    df: DataFrame, name_col: str, max_dist: int = 3
) -> DataFrame:
    """Edit-distance fuzzy join: distinct name pairs with
    levenshtein ≤ ``max_dist`` → (name_a, name_b, lev), name_a < name_b.

    Length banding makes it an EQUI-join: since |len(a)−len(b)| >
    max_dist implies distance > max_dist, side A explodes each name to
    the 2k+1 candidate lengths it can match and joins side B on exact
    length — candidate pairs are bounded by per-length-bucket sizes
    (never all-pairs), each true pair surfaces exactly once (B's
    length is a single value), and the shuffle carries (len, name)
    pairs. The verify uses Spark's thresholded levenshtein (early
    exit at ``max_dist``, Spark 3.5+), emitting the exact distance
    the SQL oracle reproduces. At catalog scale add a second band on
    a character n-gram signature for tighter candidate sets; the
    length band alone already removes the quadratic term across
    buckets."""
    names = df.select(F.col(name_col).alias("name")).distinct()
    a = names.select(
        F.col("name").alias("name_a"),
        F.explode(
            F.sequence(
                F.length("name") - max_dist, F.length("name") + max_dist
            )
        ).alias("blen"),
    )
    b = names.select(F.col("name").alias("name_b"), F.length("name").alias("blen"))
    return (
        a.join(b, "blen")
        .filter(F.col("name_a") < F.col("name_b"))
        .select(
            "name_a",
            "name_b",
            F.levenshtein("name_a", "name_b", max_dist).alias("lev"),
        )
        .filter(F.col("lev") >= 0)
        .select("name_a", "name_b", F.col("lev").cast("bigint").alias("lev"))
    )


def quality_keeper_dedup(
    df: DataFrame,
    edges: DataFrame,
    id_col: str,
    quality_col: str,
) -> DataFrame:
    """Keep the HIGHEST-QUALITY doc per near-dup cluster (r9) — the
    keeper rule production corpora actually want (keep the longest /
    best-scored copy, C4/RefinedWeb-style), where exact_dedup and the
    q96 pipeline keep min-id. Ties break on min id, so keeper choice
    is deterministic for any quality column.

    Composition: edges → connected_components → one window over the
    cluster-labeled nodes ordered by (quality desc, id) → anti-join
    the losers back out. Costs beyond the edge generator: the CC
    iterations (lineage-truncated, see connected_components) plus ONE
    shuffle of (id, cluster, quality) triples — O(cluster members),
    never corpus-wide, and docs in no cluster bypass everything via
    the anti-join. The quality column is whatever the pipeline already
    computed (token count, LM score, q47's composite); swapping the
    keeper rule never touches the edge generator, which is why the
    LSH/PPJoin scale paths drop in unchanged.
    """
    cc = connected_components(edges)
    qual = df.select(F.col(id_col).alias("id"), F.col(quality_col).alias("__q"))
    ranked = cc.join(qual, "id").withColumn(
        "__rn",
        F.row_number().over(
            Window.partitionBy("cluster_id").orderBy(F.col("__q").desc(), F.col("id"))
        ),
    )
    losers = ranked.filter(F.col("__rn") > 1).select(F.col("id").alias(id_col))
    return df.join(losers, id_col, "left_anti")


def _duplicate_runs(posted: DataFrame, key_col: str, min_run: int) -> DataFrame:
    """Shared detection scaffolding for the two substring-dedup forms
    (:func:`exact_substring_dedup` aligned chunks /
    :func:`sliding_substring_dedup` per-token windows): given a posting
    frame (``key_col``: 16-byte content hash, id, pos), return one row
    PER QUALIFYING RUN — ``(id, start, end)``, the inclusive position
    interval of a per-document run of ≥ ``min_run`` consecutive
    duplicate occurrences (same key seen earlier in packed (id, pos)
    corpus order, so the first occurrence keeps). Interval rows
    replaced per-position rows in r12 (VERDICT r11 item 4): a
    boilerplate-heavy document whose every window duplicates carried
    ~tokens removal-set entries and an O(tokens × starts) coverage
    scan downstream; as intervals the same document carries runs ≪
    positions rows, the removal-join payload shrinks by the run
    length, and coverage checks are O(tokens × runs). The
    keeper/island/run rules live HERE once, so a change lands in both
    forms by construction.

    Shuffle shape (the 100 TB argument both callers cite): one
    map-side-combinable packed-key min + count aggregate per key
    (HashAggregate both sides — see :func:`_packed_corpus_order`),
    keys seen ≥2× only into the posting join, then islands + run
    stats in colocated windows over (id, pos) integers. Run stats use
    count/min/max windows, not groupBy+self-join: the (id, island)
    window is satisfied by the island window's existing
    hashpartitioning(id) (id ⊆ clustering keys → no new exchange, just
    a sort), and it avoids re-evaluating the whole detection subtree
    twice — the self-join form measured 1.15× the stock window at
    sf0.1 for exactly that reason. The one-row-per-run collapse is the
    ``pos == start`` filter on the same window — no extra exchange.
    """
    packed = _packed_corpus_order(F.col("id"), F.col("pos"))
    firsts = (
        posted.groupBy(key_col)
        .agg(F.min(packed).alias("__fp"), F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > 1)
        .select(key_col, "__fp")
    )
    dups = (
        posted.join(firsts, key_col)
        .filter(packed != F.col("__fp"))
        .select("id", "pos")
    )
    w = Window.partitionBy("id").orderBy("pos")
    isl = dups.withColumn("island", F.col("pos") - F.row_number().over(w))
    wrun = Window.partitionBy("id", "island")
    return (
        isl.withColumn("run_len", F.count(F.lit(1)).over(wrun))
        .withColumn("start", F.min("pos").over(wrun))
        .withColumn("end", F.max("pos").over(wrun))
        .filter((F.col("run_len") >= min_run) & (F.col("pos") == F.col("start")))
        .select("id", "start", "end")
    )


def exact_substring_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 8,
    min_run: int = 2,
) -> DataFrame:
    """EXACT SUBSTRING dedup at span granularity (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better"
    ExactSubstr shape, r10 — VERDICT r9 item 4): remove repeated long
    passages CORPUS-WIDE, keeping the first occurrence, and reassemble
    each document from its surviving spans. Completes the dedup
    ladder's span tier: paragraph dedup (q100) drops aligned chunks by
    global frequency with no keeper order, shared-span detection
    (q164) finds repeated passages but does not remove them — this
    operator is the remover.

    Granularity is the tumbling ``chunk_tokens``-token chunk (the
    q100/q164 chunking): a chunk OCCURRENCE is a duplicate when the
    same chunk content appeared earlier in corpus order — (id, pos)
    lexicographic, so the first document keeps its copy and later
    copies (including self-repetition later in the SAME document) are
    candidates. A duplicate occurrence is actually REMOVED only when
    it sits in a run of ≥ ``min_run`` consecutive duplicate chunks
    (the q164 diagonal-island idiom, here per-document): an incidental
    single-chunk collision — a common sentence — survives, while a
    repeated passage of ≥ min_run×chunk_tokens tokens is excised, which
    is exactly the long-substring threshold of the paper quantized to
    chunks. Trailing tokens beyond the last full chunk are always kept.

    KNOWN MISS MODE — chunk-boundary straddle (documented r11, VERDICT
    r10 item 4): chunking is aligned to each document's OWN token-0, so
    a passage repeated at a different offset modulo ``chunk_tokens``
    produces no identical chunk keys at all (or, partially aligned,
    fewer than ``min_run`` of them) and SURVIVES — e.g. the same
    16-token passage starting at token 0 in one doc and token 3 in
    another shares zero aligned chunks (tests/test_dedup.py pins this).
    The exact refinement is IMPLEMENTED as
    :func:`sliding_substring_dedup` (r11, q182): every token starts a
    window — alignment-free by construction — at ~chunk_tokens× this
    form's posting volume through the same pruned shuffle shape. (A
    cheaper middle option, not shipped because the sliding form
    subsumes it: the offset sweep — run this detection chunk_tokens
    times with the grid shifted 0..chunk_tokens-1 and union the
    removal sets — still misses straddles whose two occurrences sit at
    DIFFERENT position residues mod chunk_tokens, since the grid shift
    is global per pass.) The aligned form is the standard production
    trade (Lee et al.'s suffix-array exactness costs a global sort of
    every token): use it for near-complete span recall at minimum
    cost, the sliding form when boundary-straddling repeats matter.

    100 TB shuffle discipline: duplicate detection shuffles ONLY
    (16-byte md5 key, id, pos) postings — one map-side-combinable
    packed-key min aggregate per chunk key (HashAggregate both sides —
    see :func:`_packed_corpus_order`), pruned to keys seen ≥2× before
    the posting join — and the island window shuffles (id, pos) integer
    pairs partitioned by document. Document TEXT moves exactly once:
    the final removal-set join keyed by id (removal sets are
    output-proportional — only documents that lose a span appear;
    broadcast when small, co-located when the corpus is bucketed by
    id). Reassembly is map-side array surgery on the already-joined
    row — chunk strings are re-derived from the doc's own text column,
    never shuffled.

    Returns (id, clean_text, n_removed): the reassembled text and how
    many chunks were excised (0 for untouched documents).
    """
    d = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    toks = F.split(F.col("text"), " ")
    n_chunks = F.floor(F.size(toks) / chunk_tokens).cast("int")
    idx = F.when(n_chunks > 0, F.sequence(F.lit(0), n_chunks - 1)).otherwise(
        F.array().cast("array<int>")
    )
    chunk_arr = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks, i * chunk_tokens + 1, chunk_tokens))
    )
    posted = d.select("id", F.posexplode(chunk_arr).alias("pos", "chunk")).select(
        "id",
        F.col("pos").cast("long").alias("pos"),
        F.unhex(F.md5("chunk")).alias("chunk_h"),
    )
    # The posting frame feeds the firsts aggregate AND the duplicate-
    # probe join (r19 — the sliding form has materialized since r11;
    # this one re-ran the chunk explode + md5 once per consumer).
    posted = materialize(posted, eager=False)
    # Keeper + island + run rules live in _duplicate_runs (shared with
    # the sliding form so the two can never diverge). One row per
    # qualifying run (r12): the removal join carries (start, end)
    # intervals, so a fully-boilerplate doc costs runs rows, not
    # chunk-count rows, and the chunk filter is O(chunks × runs).
    runs = _duplicate_runs(posted, "chunk_h", min_run)
    rm = runs.groupBy("id").agg(
        F.collect_list(F.struct(F.col("start").alias("s"), F.col("end").alias("e"))).alias("__rm")
    )
    joined = d.join(rm, "id", "left")
    rm_set = F.coalesce(F.col("__rm"), F.array().cast("array<struct<s:long,e:long>>"))
    kept_chunks = F.filter(
        F.transform(idx, lambda i: F.struct(i.alias("i"), F.concat_ws(" ", F.slice(toks, i * chunk_tokens + 1, chunk_tokens)).alias("c"))),
        lambda s: ~F.exists(
            rm_set, lambda r: (r["s"] <= s["i"].cast("long")) & (s["i"].cast("long") <= r["e"])
        ),
    )
    tail = F.slice(toks, n_chunks * chunk_tokens + 1, F.size(toks) - n_chunks * chunk_tokens)
    clean = F.array_join(
        F.concat(F.transform(kept_chunks, lambda s: s["c"]), tail), " "
    )
    n_removed = F.aggregate(
        rm_set, F.lit(0).cast("long"), lambda acc, r: acc + r["e"] - r["s"] + 1
    )
    return joined.select(
        F.col("id").alias(id_col),
        clean.alias("clean_text"),
        n_removed.alias("n_removed"),
    )


def sliding_substring_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window_tokens: int = 8,
    min_span_tokens: int = 16,
) -> DataFrame:
    """ALIGNMENT-FREE exact substring dedup (r11 — the refinement
    :func:`exact_substring_dedup`'s KNOWN-MISS-MODE note costs as
    option (b), implemented): every token starts a ``window_tokens``-
    token sliding window (the q178 gram shape), so a passage repeated
    at ANY offset pair — including the chunk-boundary straddle the
    aligned form provably misses — produces matching window keys.
    Duplicate-window occurrences (same content seen earlier in
    (id, pos) corpus order — the first occurrence keeps its copy,
    exactly exact_substring_dedup's keeper rule) form per-document
    runs of consecutive positions; a run of w windows covers
    w + window_tokens − 1 tokens, and runs covering ≥
    ``min_span_tokens`` qualify for removal (the Lee et al. 2022
    "repeated substring of ≥ L tokens" threshold stated directly in
    tokens instead of quantized to chunks). Covered tokens are excised
    and the doc reassembled; an isolated repeated window below the
    span threshold — a common sentence — survives.

    Cost vs the aligned form, stated honestly: ~window_tokens× the
    posting volume (every token posts a (16-byte md5, id, pos) row
    instead of every chunk_tokens-th token) through the SAME pruned
    shuffle shape — one map-side-combinable packed-key min + count
    aggregate per window key, keys seen ≥2× only into the posting
    join, doc text moved exactly once through the output-proportional
    removal join, token surgery map-side (the q178 coverage
    predicate). Run the aligned form for cheap near-complete recall;
    this one when boundary-straddling repeats matter. Exactness vs a
    brute-force reference incl. the straddle the aligned form misses
    is pytest-pinned (tests/test_dedup.py); q182 holds the DuckDB
    oracle.

    Returns (id, clean_text, n_removed) — n_removed counts removed
    TOKENS (0 for untouched docs).
    """
    C = int(window_tokens)
    w_min = max(1, int(min_span_tokens) - C + 1)
    d = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    idx = F.when(n >= C, F.sequence(F.lit(0), n - C)).otherwise(
        F.array().cast("array<int>")
    )
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, C)))
    posted = d.select("id", F.posexplode(grams).alias("pos", "g")).select(
        "id",
        F.col("pos").cast("long").alias("pos"),
        F.unhex(F.md5("g")).alias("gh"),
    )
    # The posting frame is consumed TWICE (the firsts aggregate and
    # the duplicate-probe join). At window-per-token volume the
    # re-evaluated explode+md5 subtree costs more than the detection
    # itself — measured 1.8× the stock window form at sf0.1 without
    # materialization, 0.9× with — so it is materialized here exactly
    # as in prefix_jaccard_pairs.
    posted = materialize(posted, eager=False)
    # Keeper + island + run rules live in _duplicate_runs (shared with
    # the aligned form so the two can never diverge); a qualifying run
    # of w windows covers w + C - 1 tokens, hence the w_min threshold.
    # One row per run (r12): a run [start, end] of window starts covers
    # tokens [start, end + C - 1] — exactly the union of its per-start
    # windows, since starts in a run are consecutive — so the coverage
    # filter is O(tokens × runs) where the per-start form was
    # O(tokens × starts), the pathological fully-duplicated doc's
    # ~starts² blowup (VERDICT r11 obs. 2).
    runs = _duplicate_runs(posted, "gh", w_min)
    rm = runs.groupBy("id").agg(
        F.collect_list(F.struct(F.col("start").alias("s"), F.col("end").alias("e"))).alias("__runs")
    )
    joined = d.join(rm, "id", "left")
    rs = F.coalesce(F.col("__runs"), F.array().cast("array<struct<s:long,e:long>>"))
    kept = F.filter(
        F.transform(toks, lambda tok, j: F.struct(tok.alias("t"), j.alias("j"))),
        lambda s: ~F.exists(rs, lambda r: (r["s"] <= s["j"]) & (s["j"] <= r["e"] + C - 1)),
    )
    return joined.select(
        F.col("id").alias(id_col),
        F.array_join(F.transform(kept, lambda s: s["t"]), " ").alias("clean_text"),
        (F.size(toks) - F.size(kept)).cast("long").alias("n_removed"),
    )
