"""Similarity search over embedding columns (array<float>).

- cosine_topk: exact brute force — broadcast the (small) query set,
  evaluate dot products with JVM higher-order functions, rank with a
  per-query window. At 100 TB this is one scan of the corpus and zero
  corpus shuffle: the only shuffled rows are (n_queries x corpus
  partitions x k) heap survivors.
- lsh_ann_topk: random-hyperplane LSH — signature via deterministic
  seeded planes (pandas UDF, Arrow-batched), band-bucket join to get
  candidates, exact re-rank inside buckets. Recall tunable by
  bands/bits; tested against the brute-force ground truth.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .reliability import materialize


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(col):
    """||v||_2 as a JVM-side expression."""
    return F.sqrt(_dot(col, col))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Returns (q_id, n_id, cos_sim, rn) with rn = 1..k per query,
    deterministic tie-break on neighbor id. Self-matches excluded.
    """
    # Norms are per-ROW quantities: hoist them out of the join so each
    # is computed once per vector, not once per (query, corpus) pair —
    # at n_queries x corpus pairs that's the dominant HOF cost.
    q = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).cast("array<double>").alias("q_vec")
    ).withColumn("q_norm", l2_norm(F.col("q_vec")))
    c = corpus.select(
        F.col(id_col).alias("n_id"), F.col(vec_col).cast("array<double>").alias("n_vec")
    ).withColumn("n_norm", l2_norm(F.col("n_vec")))
    scored = (
        c.join(F.broadcast(q), F.col("q_id") != F.col("n_id"))
        .select(
            "q_id",
            "n_id",
            (
                _dot(F.col("q_vec"), F.col("n_vec"))
                / (F.col("q_norm") * F.col("n_norm"))
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("n_id"))
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
) -> DataFrame:
    """Exact embedding-cosine near-dup pairs: (id_a, id_b, cos_sim) with
    id_a < id_b and cos_sim >= threshold.

    This is the correctness baseline — an all-pairs self-join,
    inherently quadratic. Use it for validation corpora; the 100 TB
    path is embedding_neardup_lsh below (bucket-bounded shuffle,
    identical per-pair math, recall controlled by bits/bands)."""
    a = df.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).cast("array<double>").alias("vec_a")
    ).withColumn("norm_a", l2_norm(F.col("vec_a")))
    b = df.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).cast("array<double>").alias("vec_b")
    ).withColumn("norm_b", l2_norm(F.col("vec_b")))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (
                _dot(F.col("vec_a"), F.col("vec_b"))
                / (F.col("norm_a") * F.col("norm_b"))  # norms hoisted per-row
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def _lsh_nospill_budget(n_rows: int) -> int:
    """The ONE definition of the no-spill candidate-volume budget
    (max(2M, 16·n): the measured sf0.1 ANN anchor (64, 16) sits
    exactly at 2M volume and does not spill) — shared by
    lsh_knobs_volume's default and _resolve_lsh_knobs' explicit-knob
    warning so the two sites cannot drift (r16 review finding)."""
    return max(2_000_000, 16 * n_rows)


def lsh_knobs_volume(
    n_rows: int,
    recall_target: float = 0.9,
    bit_agreement: float = 0.955,
    bit_budget: int = 64,
    max_candidates: int | None = None,
) -> dict:
    """VOLUME-aware LSH knob selection (r16 — the auto-default solver
    behind embedding_neardup_lsh / lsh_ann_topk). :func:`lsh_knobs`
    encodes the measured recall curve but its "+1 bit/band per corpus
    doubling" growth keeps per-ROW collisions flat while total
    candidate volume still grows — probed this round at the x10
    fixture, the curve-rule setting (bpb=9, bands=7 at 40k rows)
    shuffled 956 MB and spilled 7.4 GB in the candidate re-rank join.
    What spills is CANDIDATES (each one re-joins two vectors), so the
    binding constraint is expected random co-bucket pairs:
    ``volume = bands × C(n,2) / 2^bits_per_band``.

    Selection: enumerate bits_per_band; a config is feasible when the
    bands the recall equation demands fit ``bit_budget`` AND its
    volume fits ``max_candidates`` (default ``max(2_000_000, 16 ×
    n_rows)`` — the measured sf0.1 ANN anchor (64, 16) sits exactly at
    2M volume and does not spill). Among target-achieving feasible
    configs, take the MINIMUM-volume one — this reproduces both r15
    measured anchors: p=0.608/2000 rows → (64, 16) (the ANN sweep
    anchor) and p≈0.955/40k rows → (64, 4) (the x10 knob-rule row
    that shuffled 1.01 MB with zero spill). When NO config achieves
    the target within both budgets, degrade to the max-expected-recall
    config within them and WARN with the achieved number — an
    operator that spills 7 GB or refuses to run is worse at 100 TB
    than one that runs at a stated lower recall.

    Returns {bits, bands, bits_per_band, expected_recall,
    expected_candidates}."""
    import math
    import warnings

    if n_rows < 1:
        raise ValueError(f"lsh_knobs_volume: n_rows must be >= 1, got {n_rows}")
    if not 0.0 < recall_target < 1.0:
        raise ValueError(
            f"lsh_knobs_volume: recall_target must be in (0, 1), got {recall_target}"
        )
    if not 0.0 < bit_agreement < 1.0:
        raise ValueError(
            f"lsh_knobs_volume: bit_agreement must be in (0, 1), got {bit_agreement}"
        )
    budget = max_candidates if max_candidates is not None else _lsh_nospill_budget(n_rows)
    all_pairs = n_rows * (n_rows - 1) / 2.0
    best_feasible = None  # (volume, bpb, bands, recall)
    best_degraded = None  # (-recall, volume, bpb, bands)
    for bpb in range(1, min(bit_budget, 63) + 1):
        x = bit_agreement**bpb
        if not 0.0 < x < 1.0:
            continue
        per_band = all_pairs / (2.0**bpb)
        bands_needed = max(1, math.ceil(math.log(1.0 - recall_target) / math.log(1.0 - x)))
        if bands_needed * bpb <= bit_budget and bands_needed * per_band <= budget:
            vol = bands_needed * per_band
            rec = 1.0 - (1.0 - x) ** bands_needed
            if best_feasible is None or vol < best_feasible[0]:
                best_feasible = (vol, bpb, bands_needed, rec)
        bands_cap = bit_budget // bpb
        if per_band > 0:
            bands_cap = min(bands_cap, int(min(budget / per_band, float(bit_budget))))
        if bands_cap >= 1:
            rec = 1.0 - (1.0 - x) ** bands_cap
            vol = bands_cap * per_band
            if best_degraded is None or (-rec, vol) < (best_degraded[0], best_degraded[1]):
                best_degraded = (-rec, vol, bpb, bands_cap)
    if best_feasible is not None:
        vol, bpb, bands, rec = best_feasible
        out = {"bits": bpb * bands, "bands": bands, "bits_per_band": bpb,
               "expected_recall": rec, "expected_candidates": vol}
        _validate_banding(out["bits"], bands, "lsh_knobs_volume")
        return out
    if best_degraded is None:
        raise ValueError(
            f"lsh_knobs_volume: no (bits_per_band, bands) fits bit_budget="
            f"{bit_budget} within max_candidates={budget} at n_rows={n_rows} — "
            "raise max_candidates or bit_budget"
        )
    negrec, vol, bpb, bands = best_degraded
    warnings.warn(
        f"lsh_knobs_volume: recall_target={recall_target} at n_rows={n_rows} is "
        f"not reachable within {bit_budget} signature bits and "
        f"~{int(budget):,} candidate pairs; degraded to bits_per_band={bpb} x "
        f"bands={bands} with expected_recall={-negrec:.3f} — raise "
        "bit_agreement (near-dup thresholds imply p >> the ANN default), "
        "raise max_candidates, OR multiple independently-seeded signatures, "
        "or switch tiers: at this corpus size a 64-bit hyperplane signature "
        "is the wrong ANN tool — ivf_topk / pq_query / ivfpq_query hold "
        "their recall with persisted indexes (the measured scale-invariance "
        "classes, docs/SCALE.md)",
        stacklevel=2,
    )
    out = {"bits": bpb * bands, "bands": bands, "bits_per_band": bpb,
           "expected_recall": -negrec, "expected_candidates": vol}
    _validate_banding(out["bits"], bands, "lsh_knobs_volume")
    return out


def _resolve_lsh_knobs(
    corpus: DataFrame,
    bits: int | None,
    bands: int | None,
    n_rows: int | None,
    bit_agreement: float,
    recall_target: float,
    caller: str,
) -> tuple[int, int]:
    """Shared knob resolution for the hyperplane-LSH tiers (r16 —
    VERDICT r15 item 5: the measured knob rule as the DEFAULT, not an
    opt-in). Both knobs None (the default) → derive them from the
    corpus row count via :func:`lsh_knobs_volume` (volume-minimal at
    the recall target; degrades with a loud warning rather than
    entering the measured spill regime). ``n_rows`` skips the sizing
    count when the caller already knows it (an index manifest at
    100 TB — the pq_query corpus_rows precedent); left None, one
    count resolves it. EXPLICIT knobs are honored verbatim, but when
    ``n_rows`` is also known their expected candidate volume is
    checked against the same budget and a violation warns loudly —
    the r15 x10 audit measured an unguarded setting shuffling 92× the
    bytes and spilling 3.9 GiB at equal recall. Passing exactly one
    of bits/bands raises: half a knob pair has no meaning in the
    banding algebra."""
    import warnings

    if (bits is None) != (bands is None):
        raise ValueError(
            f"{caller}: pass BOTH bits and bands (explicit banding) or NEITHER "
            f"(auto-derived from the corpus count); got bits={bits}, bands={bands}"
        )
    if bits is None:
        n = n_rows if n_rows is not None else corpus.count()
        k = lsh_knobs_volume(
            max(n, 1), recall_target=recall_target, bit_agreement=bit_agreement
        )
        return k["bits"], k["bands"]
    if n_rows is not None and bands >= 1:
        bpb = bits // max(bands, 1)
        volume = bands * (n_rows * (n_rows - 1) / 2.0) / (2.0 ** max(bpb, 1))
        budget = _lsh_nospill_budget(n_rows)
        if volume > budget:
            warnings.warn(
                f"{caller}: explicit (bits={bits}, bands={bands}) expects "
                f"~{int(volume):,} random candidate pairs at n_rows={n_rows} — "
                f"above the ~{budget:,} no-spill budget (the r15 x10 audit "
                "measured this regime shuffling 92x the bytes and spilling "
                "3.9 GiB at equal recall); raise bits_per_band or drop "
                "bits/bands to let the corpus count derive them",
                stacklevel=3,
            )
    return bits, bands


def embedding_neardup_lsh(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    bits: int | None = None,
    bands: int | None = None,
    seed: int = 42,
    dim: int = 64,
    max_bucket: int | None = None,
    n_rows: int | None = None,
    recall_target: float = 0.9,
    sizing_cos: float | None = None,
) -> DataFrame:
    """Embedding near-dup at scale: hyperplane-LSH banding generates
    candidate pairs (equi-join on (band, bucket) — shuffle bounded by
    bucket sizes, never all-pairs), then the EXACT cosine filter keeps
    only true near-dups. Precision is exact by construction; recall is
    the LSH collision probability (1-θ/π per bit), tuned via
    bits/bands for the target threshold.

    ``max_bucket`` drops degenerate (band, bucket) groups (zero
    vectors, repeated embeddings) before the pair join — the same
    skew cap as minhash_lsh_candidates; see that docstring.

    Knob sizing at scale (r16: the rule IS the default): leave
    ``bits``/``bands`` unset and they derive from the corpus count
    via :func:`lsh_knobs_volume` — volume-minimal at
    ``recall_target``, evaluated at the bit-agreement the SIZING
    similarity implies (p = 1 − arccos(sizing_cos)/π). ``sizing_cos``
    defaults to ``max(threshold, 0.99)``, the near-IDENTICAL end of
    the band, not the threshold itself: near-dup twins sit at
    cos ≈ 0.99+, and sizing for worst-case threshold-recall at scale
    costs 100–400× the candidate volume for pairs that barely exist
    (the r15 x10 knob-rule row — bits=64, bands=4, 1.01 MB shuffled,
    zero spill, all 19,997 twins recovered — is exactly this
    solver's output at 40k rows; pass ``sizing_cos=threshold`` to buy
    guaranteed threshold-recall with the volume it costs). One sizing
    count is skipped by passing ``n_rows`` (the index-manifest path).
    Explicit knobs are honored but warned against the candidate-
    volume budget when ``n_rows`` is known (:func:`_resolve_lsh_knobs`).
    Measured consequence of an unguarded fixed setting (BASELINE.md
    byte-exponent table, r15): at a 10× corpus it shuffles 92× the
    bytes and spills 3.9 GiB where the rule's setting shuffles 1 MB
    with zero spill at equal recall — at 100 TB the knob rule is the
    difference between a working operator and a failed stage."""
    import math

    sc = sizing_cos if sizing_cos is not None else max(threshold, 0.99)
    p = 1.0 - math.acos(max(-1.0, min(1.0, sc))) / math.pi
    bits, bands = _resolve_lsh_knobs(
        df.select(id_col), bits, bands, n_rows, p, recall_target,
        "embedding_neardup_lsh",
    )
    bits_per_band = _validate_banding(bits, bands, "embedding_neardup_lsh")
    sig_schema = f"{id_col} long, lsh_sig long"
    sig = df.select(F.col(id_col), F.col(vec_col).alias("embedding")).mapInPandas(
        _hyperplane_signature_udf(dim, bits, seed), sig_schema
    )
    # The banded explode duplicates each row `bands`x — carry ONLY
    # (id, band, bucket) through it, never the vector: vector bytes ride
    # the candidate-generation shuffle once per surviving PAIR (via the
    # re-join below), not bands-per-row (round-1 VERDICT wrong-list #3).
    banded = sig.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        (
                            F.shiftrightunsigned(F.col("lsh_sig"), b * bits_per_band)
                            % (1 << bits_per_band)
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")
    # Materialize the postings once: the self-join below consumes
    # `banded` TWICE (plus the hot-bucket path when capped), and Spark
    # has no cross-branch CSE — before this checkpoint the executed
    # plan ran the mapInPandas signature pass once PER CONSUMER (the
    # broadcast side of the candidate join defeats exchange reuse;
    # measured 4 MapInPandas nodes / 14 scans in q67's r19 executed
    # plan). Lazy under local/replicated: no extra job, first action
    # materializes, every branch reads the cached (id, band, bucket)
    # rows — 20 bytes/row × bands, the operator's working set.
    banded = materialize(banded, eager=False)
    if max_bucket is not None:
        hot = (
            banded.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > max_bucket)
            .select("band", "bucket")
        )
        banded = banded.join(hot, ["band", "bucket"], "left_anti")
    other = banded.select(F.col("id").alias("id_b"), "band", "bucket")
    cands = (
        banded.join(other, ["band", "bucket"])
        .filter(F.col("id") < F.col("id_b"))
        .select(F.col("id").alias("id_a"), "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    # Vectors come from the ORIGINAL df, not `sig` — the re-rank side
    # must not re-run the signature UDF pass.
    vecs = df.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).cast("array<double>").alias("vvec"),
        l2_norm(F.col(vec_col).cast("array<double>")).alias("vnorm"),
    )
    pairs = (
        cands.join(vecs, cands.id_a == vecs.vid)
        .select("id_a", "id_b", F.col("vvec").alias("vec_a"), F.col("vnorm").alias("norm_a"))
        .join(vecs, F.col("id_b") == vecs.vid)
        .select("id_a", "id_b", "vec_a", "norm_a", F.col("vvec").alias("vec_b"), F.col("vnorm").alias("norm_b"))
    )
    return pairs.select(
        "id_a",
        "id_b",
        (
            _dot(F.col("vec_a"), F.col("vec_b")) / (F.col("norm_a") * F.col("norm_b"))
        ).alias("cos_sim"),
    ).filter(F.col("cos_sim") >= threshold)


def _hash_pick(corpus: DataFrame, id_col: str, vec_col: str, n_rows: int, seed: int):
    """Deterministic uniform row pick, shared by ivf_topk / pq_ann_topk.

    sample(..).limit(..) early-stops on whichever partitions answer
    first — head-biased on sorted data and run-to-run unstable under
    cluster scheduling. Instead: hash-filter ids down to ~n_rows
    survivors (membership is a pure function of the id, so the pick is
    partitioning-independent), then hash-rank only the survivor set.
    Costs one count (metadata-cheap on parquet) + one id+vec scan
    whose TakeOrdered heap holds survivors only, never the corpus.
    """
    base = corpus.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"))
    n_total = corpus.select(id_col).count()
    if n_total == 0:
        raise ValueError("hash_pick: empty corpus")
    K = max(1, n_total // max(n_rows, 1))
    rank = F.xxhash64(F.col("cid"), F.lit(seed + 1))
    rows = (
        base.filter(F.pmod(F.xxhash64(F.col("cid"), F.lit(seed)), F.lit(K)) == 0)
        .orderBy(rank, "cid")
        .limit(n_rows)
        .collect()
    )
    if len(rows) < n_rows:
        rows = base.orderBy(rank, "cid").limit(n_rows).collect()
    return rows


def _collect_centroids(centroids: DataFrame, caller: str):
    """Collect a stored (cell, centroid) frame into the dense matrix
    the assign kernel indexes by ROW POSITION — which is only correct
    when the stored cell ids are exactly 0..n-1 (ADVICE r11): a
    centroid frame filtered, re-keyed, or truncated on its way back
    from parquet would silently relabel every assignment, so gaps or
    duplicates raise here with the offending ids instead."""
    import numpy as np

    rows = sorted(centroids.collect(), key=lambda r: r["cell"])
    cells = [int(r["cell"]) for r in rows]
    if cells != list(range(len(rows))):
        raise ValueError(
            f"{caller}: stored centroid cells must be exactly 0..{len(rows) - 1} "
            f"(row position IS the cell id in the assign kernel); got {cells[:20]}"
            f"{'...' if len(cells) > 20 else ''} — the centroid frame was "
            "filtered, re-keyed, or truncated since build_ivf_index wrote it"
        )
    return np.vstack([np.asarray(r["centroid"], dtype=np.float64) for r in rows])


def _cell_assign(cents, n_top: int):
    """mapInPandas fn assigning each vector its ``n_top`` nearest
    centroids (rows of the normalized ``cents`` matrix): one
    Arrow-batched numpy pass, output gains an int32 ``cell`` column
    with ``n_top`` rows per input row. ``n_top`` is clamped to the
    number of centroid rows (ADVICE r10): a caller reading an index
    back from parquet may pass n_probe > n_cells without knowing the
    stored cell count, and probing every cell is the correct limit of
    "probe the n nearest" — without the clamp the repeat/ravel pair
    disagrees on row counts and dies in an opaque numpy length error."""
    import numpy as np

    n_top = min(n_top, cents.shape[0])

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf.assign(cell=pd.Series([], dtype="int32"))
                continue
            mat = np.vstack(pdf["embedding"].map(lambda v: np.asarray(v, dtype=np.float64)))
            mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
            sims = mat @ cents.T  # (n, n_cells)
            # kind='stable' (ADVICE r14): ties on centroid cosine must
            # resolve to the LOWEST cell id (row order of cents IS
            # ascending cell id) — the convention q194's oracle replays
            # with ORDER BY sim DESC, cell. The default quicksort is
            # unstable, so a duplicate or degenerate vector could land
            # in a different cell per run and flip a hash verdict.
            top = np.argsort(-sims, axis=1, kind="stable")[:, :n_top]  # (n, n_top)
            out = pdf.loc[pdf.index.repeat(n_top)].reset_index(drop=True)
            out["cell"] = top.ravel().astype("int32")
            yield out

    return fn


def build_ivf_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """Build the persistable IVF index for a corpus (r10 — the ANN
    twin of the dedup build_lsh_index/ingest split): returns
    ``(assigned, centroids)`` where ``assigned`` is the corpus with an
    int32 ``cell`` column — write it PARTITIONED BY cell so probes
    prune files at scan time — and ``centroids`` is the tiny
    (cell, centroid array<double>) coarse-quantizer frame that must be
    persisted ALONGSIDE the postings: queries probe with exactly these
    centroids, and cells are row indices into this frame. Centroids
    are a deterministic seeded sample of corpus vectors (normalized;
    see _hash_pick), so same (corpus, seed, n_cells) rebuilds the same
    index. Steady-state serving reads both frames back and routes
    every query batch through :func:`ivf_query` — the corpus is never
    re-assigned; appending new corpus vectors = :func:`ivf_append`
    (assigns the batch with the SAME centroid frame; append its rows
    to the cell partitions).
    """
    import numpy as np

    cvecs = _hash_pick(corpus, id_col, vec_col, n_cells, seed)
    cents = np.vstack([np.asarray(r["cv"], dtype=np.float64) for r in cvecs])
    cents = cents / np.linalg.norm(cents, axis=1, keepdims=True)
    cent_df = corpus.sparkSession.createDataFrame(
        [(int(i), [float(x) for x in row]) for i, row in enumerate(cents)],
        "cell int, centroid array<double>",
    )
    c_schema = f"{id_col} long, embedding array<float>, cell int"
    assigned = corpus.select(F.col(id_col), F.col(vec_col).alias("embedding")).mapInPandas(
        _cell_assign(cents, 1), c_schema
    )
    return assigned, cent_df


def ivf_query(
    queries: DataFrame,
    index: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 4,
) -> DataFrame:
    """Approximate top-k cosine against a PERSISTED IVF index: probes
    each query's ``n_probe`` nearest cells (centroid frame collected —
    n_cells rows, a few KB) and equi-joins the ``index`` postings on
    ``cell``, exact cosine re-rank inside probed cells. The corpus is
    never scanned for assignment here — per-query-batch cost is
    O(queries × n_probe cells), the deployment shape ivf_topk's
    docstring promises; double-precision centroids round-trip the
    store bit-exactly, so query results equal the build-and-query
    one-shot form (tests/test_embed.py). ``n_probe`` larger than the
    stored cell count clamps to probing EVERY cell (the exhaustive
    limit of "probe the n nearest" — exact search over the index),
    rather than failing inside the assign kernel (ADVICE r10).
    """
    cents = _collect_centroids(centroids, "ivf_query")
    c_schema = f"{id_col} long, embedding array<float>, cell int"
    probed = queries.select(F.col(id_col), F.col(vec_col).alias("embedding")).mapInPandas(
        _cell_assign(cents, n_probe), c_schema
    )
    assigned = index
    q = probed.select(
        F.col(id_col).alias("q_id"),
        F.col("embedding").cast("array<double>").alias("q_vec"),
        "cell",
    ).withColumn("q_norm", l2_norm(F.col("q_vec")))
    c = assigned.select(
        F.col(id_col).alias("n_id"),
        F.col("embedding").cast("array<double>").alias("n_vec"),
        "cell",
    ).withColumn("n_norm", l2_norm(F.col("n_vec")))
    scored = (
        q.join(c, "cell")
        .filter(F.col("q_id") != F.col("n_id"))
        .select(
            "q_id",
            "n_id",
            (
                _dot(F.col("q_vec"), F.col("n_vec"))
                / (F.col("q_norm") * F.col("n_norm"))  # norms hoisted per-row
            ).alias("cos_sim"),
        )
        .dropDuplicates(["q_id", "n_id"])
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("n_id"))
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)


def ivf_append(
    batch: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index: DataFrame | None = None,
    check_disjoint: bool = True,
) -> DataFrame:
    """Assign an ARRIVING batch of vectors against the SAME stored
    centroid frame and return its posting rows — the append API
    build_ivf_index's docstring promises (made callable r11, VERDICT
    r10 item 3; the ANN twin of the dedup ingest split). Append the
    returned frame to the stored index's cell partitions
    (``index.unionByName(ivf_append(batch, centroids))``, or a
    partitioned parquet append); existing postings are never touched
    and the corpus is never re-assigned, so growing the index costs
    O(batch). Because the batch is assigned with EXACTLY the stored
    centroids, build(A) + append(B) equals assigning A∪B with A's
    centroid frame row-for-row (tests/test_similarity.py) — the
    centroids deliberately do NOT drift on append; re-run
    build_ivf_index when the corpus distribution has moved enough to
    warrant new cells.

    ``index`` (the existing posting frame) is only consulted for the
    disjoint-id guard (the ingest_neardup rule, ADVICE r9: an id on
    both sides would answer queries twice under one id): a limit-1
    semi-join probe over the two id columns raises ValueError on
    overlap. Pass ``check_disjoint=False`` (or omit ``index``) when
    monotone id assignment guarantees disjointness. Dimension
    mismatches raise up front via the same first-row probe as
    pq_append (ADVICE r11) — a batch from the wrong embedding space
    fails with the two dims named, never an opaque numpy shape error —
    and the stored centroid frame must carry contiguous cell ids
    0..n-1 (:func:`_collect_centroids`; row position is the cell id).
    """
    if index is not None and check_disjoint:
        overlap = (
            batch.select(F.col(id_col))
            .join(index.select(F.col(id_col)), id_col, "left_semi")
            .limit(1)
            .collect()
        )
        if overlap:
            raise ValueError(
                f"ivf_append: id {overlap[0][id_col]!r} is present in both the "
                "batch and the stored index — ids must be disjoint (an "
                "overlapping id would answer queries twice under one id). "
                "Re-key the batch or pass check_disjoint=False only if "
                "disjointness is guaranteed by construction."
            )
    cents = _collect_centroids(centroids, "ivf_append")
    first = batch.select(vec_col).first()
    if first is not None and len(first[0]) != cents.shape[1]:
        raise ValueError(
            f"ivf_append: batch vectors have dim {len(first[0])} but the stored "
            f"centroids have dim {cents.shape[1]} — the batch must come from "
            "the same embedding space as the index"
        )
    c_schema = f"{id_col} long, embedding array<float>, cell int"
    return batch.select(F.col(id_col), F.col(vec_col).alias("embedding")).mapInPandas(
        _cell_assign(cents, 1), c_schema
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 42,
) -> DataFrame:
    """IVF-Flat approximate top-k cosine: the §2B 'IVF variant as the
    scale path' row — one-shot form composing
    :func:`build_ivf_index` + :func:`ivf_query` (split r10, the ANN
    twin of the dedup index split).

    - Coarse quantizer: n_cells centroids chosen as a deterministic
      seeded sample of corpus vectors (normalized). One tiny broadcast.
    - Assign: each corpus vector goes to its nearest centroid — one
      Arrow-batched numpy pass, output is (id, vec, cell).
    - Probe: each query scans only its n_probe nearest cells — the
      candidate equi-join shuffles on `cell`, never the full corpus.
    - Exact cosine re-rank inside probed cells.

    At 100 TB the corpus is built ONCE (write `assigned` partitioned
    by cell + the centroid frame beside it) and every query batch runs
    ivf_query against the stored frames — this wrapper exists for
    ad-hoc/one-shot use and is output-identical to the split path
    (q68's oracle hash held across the r10 split).
    """
    assigned, cent_df = build_ivf_index(corpus, id_col, vec_col, n_cells, seed)
    return ivf_query(queries, assigned, cent_df, id_col, vec_col, k=k, n_probe=n_probe)


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_clusters: int = 16,
    seed: int = 42,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540 — semantic
    deduplication for web-scale training data): coarse-cluster the
    embeddings with the same seeded quantizer as ivf_topk, then within
    each cluster treat cosine ≥ threshold as a duplicate edge and keep
    one representative per connected component (the min id — the same
    keeper rule as the text dedup tiers, deterministic rather than the
    paper's random-keeper).

    Scale shape: pairwise comparison happens ONLY inside a cluster —
    the candidate join is equi-keyed on the cluster id, so total work
    is sum over clusters of |cluster|², not N². Size n_clusters ~
    sqrt(N) and cap degenerate clusters exactly as the LSH tiers cap
    buckets. Cross-cluster duplicates are missed by design (the
    paper's accepted trade-off); recall vs the exact all-pairs form is
    pytest-asserted.

    ``n_clusters=1`` is the exactness-verification configuration (one
    cluster = exact all-pairs semantics, quadratic — validation
    corpora only): the result provably equals keep-min connected
    components over the exact near-dup graph, which a recursive-CTE
    SQL oracle can replay (q112).

    Returns the kept rows of ``df`` (all columns).
    """
    import numpy as np

    from .dedup import connected_components

    if n_clusters == 1:
        assigned = df.select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("embedding"), F.lit(0).alias("cell")
        )
    else:
        cvecs = _hash_pick(df, id_col, vec_col, n_clusters, seed)
        cents = np.vstack([np.asarray(r["cv"], dtype=np.float64) for r in cvecs])
        cents = cents / np.linalg.norm(cents, axis=1, keepdims=True)

        def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if len(pdf) == 0:
                    yield pdf.assign(cell=pd.Series([], dtype="int32"))
                    continue
                mat = np.vstack(pdf["embedding"].map(lambda v: np.asarray(v, dtype=np.float64)))
                mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
                yield pdf.assign(cell=np.argmax(mat @ cents.T, axis=1).astype("int32"))

        assigned = df.select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("embedding")
        ).mapInPandas(assign, "id long, embedding array<float>, cell int")

    a = assigned.select(
        F.col("id").alias("id_a"),
        F.col("embedding").cast("array<double>").alias("vec_a"),
        "cell",
    ).withColumn("norm_a", l2_norm(F.col("vec_a")))
    b = assigned.select(
        F.col("id").alias("id_b"),
        F.col("embedding").cast("array<double>").alias("vec_b"),
        "cell",
    ).withColumn("norm_b", l2_norm(F.col("vec_b")))
    edges = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (
                _dot(F.col("vec_a"), F.col("vec_b")) / (F.col("norm_a") * F.col("norm_b"))
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b")
    )
    cc = connected_components(edges)
    losers = cc.filter(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def _validate_banding(bits: int, bands: int, caller: str) -> int:
    """Validate an LSH (bits, bands) split and return bits_per_band.

    Complements _hyperplane_signature_udf's 1..64 signature guard
    (found by the r14 scale sweep) with the band-extraction limits
    (ADVICE r14): every band needs >= 1 bit, and bits_per_band must be
    <= 63 — ``banded()`` reduces each band with ``% (1 <<
    bits_per_band)``, and ``1 << 64`` is a Python int no Spark long
    literal can hold (so bits=64 requires bands >= 2). Raising here
    names the caller instead of dying in literal conversion."""
    if not 1 <= bits <= 64:
        raise ValueError(
            f"{caller}: bits must be in 1..64 (packed int64 signature), got {bits}"
        )
    if bands < 1:
        raise ValueError(f"{caller}: bands must be >= 1, got {bands}")
    bpb = bits // bands
    if bpb < 1:
        raise ValueError(
            f"{caller}: bands={bands} exceeds bits={bits} — every band needs "
            "at least 1 signature bit"
        )
    if bpb > 63:
        raise ValueError(
            f"{caller}: bits_per_band={bpb} (bits={bits} // bands={bands}) "
            "exceeds 63 — the band-extraction modulus 1 << bits_per_band must "
            "fit a Spark long literal; bits=64 requires bands >= 2"
        )
    return bpb


def lsh_knobs(
    n_rows: int,
    recall_target: float = 0.9,
    bit_agreement: float = 0.608,
    base_rows: int = 2000,
    base_bits_per_band: int = 4,
    clamp: bool = False,
) -> dict:
    """Measured-curve knob helper for the hyperplane-LSH tiers (r15 —
    VERDICT r14 item 1: the docs/SCALE.md tuning rules as API, so a
    user who never reads SCALE.md still gets scale-correct knobs).

    Encodes the two rules the r14 sweeps measured:

    - **bits_per_band grows +1 per corpus doubling** past the anchor
      (``base_bits_per_band`` at ``base_rows`` — the sf0.1 sweep's
      4 b/band at 2000 vectors). Random-bucket collisions per row go
      as N / 2^bits_per_band, so this holds the candidate volume —
      and the wall — flat as the corpus grows (measured at x10:
      3.28 s, flat vs x1, docs/SCALE.md).
    - **bands OR-amplify recall**: a true pair agreeing on each bit
      with probability p (``bit_agreement``) collides in one band
      with x = p^bits_per_band, so recall ≈ 1-(1-x)^bands — solved
      here for the smallest ``bands`` reaching ``recall_target``.
      The default p=0.608 is back-fitted from the measured ANN curve
      on the synthetic sf0.1 fixture (4 b/band, bands 4/8/16:
      predicted .445/.692/.905 vs measured .445/.715/.910 recall@10)
      — the HARDEST case for LSH (iid-uniform vectors, no cluster
      structure). Near-dup twin workloads (embedding_neardup_lsh at
      threshold≈0.9) have far higher bit agreement (p ≈ 1-θ/π ≈
      0.86+ at cos θ ≥ .9; measured 99.985% twin recall at x10), so
      for dedup pass the p your threshold implies — the default is
      the conservative ANN reading. Re-measure p on real embeddings
      (scripts/ann_recall_curves.py) for production budgets.

    Raises when the target needs more than the 64 packed signature
    bits (bits_per_band × bands > 64): at that point one signature
    word cannot buy the recall — lower the target, raise p (higher
    threshold), or OR several independently-seeded signatures at the
    query layer. ``clamp=True`` degrades gracefully instead: it
    returns the maximum feasible bands within the 64-bit budget at
    the rule's bits_per_band (NEVER fewer bits per band) and warns
    loudly with the achieved ``expected_recall``. NOTE (r16): this
    function is the measured-CURVE api (per-row collision rule); the
    operators' auto-knob DEFAULT path is :func:`lsh_knobs_volume`,
    which additionally bounds total candidate volume — the x10 probe
    measured this curve's growth rule into a 7.4 GB spill, so tune
    auto behavior THERE, not here. Returns {bits, bands,
    bits_per_band, expected_recall} ready to splat into lsh_ann_topk
    / embedding_neardup_lsh.
    """
    import math

    if n_rows < 1:
        raise ValueError(f"lsh_knobs: n_rows must be >= 1, got {n_rows}")
    if not 0.0 < recall_target < 1.0:
        raise ValueError(
            f"lsh_knobs: recall_target must be in (0, 1), got {recall_target}"
        )
    if not 0.0 < bit_agreement < 1.0:
        raise ValueError(
            f"lsh_knobs: bit_agreement must be in (0, 1), got {bit_agreement}"
        )
    bpb = base_bits_per_band + max(0, math.ceil(math.log2(max(n_rows, 1) / base_rows)))
    x = bit_agreement**bpb
    # log1p, not log(1-x): past ~bpb=64 the per-band collision x is so
    # small that 1.0-x rounds to 1.0 and log() returns an exact 0 —
    # a ZeroDivisionError on the way to the very branch (clamp / the
    # 64-bit refusal) that handles this regime. x can even underflow to
    # 0.0 outright at absurd n_rows; both cases mean "one signature
    # word cannot buy the target", i.e. bands → the >64-bit path.
    if x <= 0.0:
        bands = 1 << 62
    else:
        bands = max(1, math.ceil(math.log(1.0 - recall_target) / math.log1p(-x)))
    bits = bpb * bands
    if bits > 64 and clamp:
        import warnings

        # The growth rule itself can exceed the word (ADVICE r16 item 2:
        # at huge n_rows bpb alone passes 63, bands=1 still leaves
        # bits=bpb > 64 and the validator below would raise — the clamp
        # path must never throw). Cap bits_per_band at 63 so at least
        # one band always fits the packed 64-bit signature; the recall
        # x recomputes against the capped bpb.
        if bpb > 63:
            bpb = 63
            x = bit_agreement**bpb
        bands = max(1, 64 // bpb)
        bits = bpb * bands
        achieved = 1.0 - (1.0 - x) ** bands
        warnings.warn(
            f"lsh_knobs: recall_target={recall_target} at n_rows={n_rows} needs "
            f"more than the 64 packed signature bits; clamped to "
            f"bits_per_band={bpb} x bands={bands} with expected_recall="
            f"{achieved:.3f} — raise bit_agreement (near-dup thresholds imply "
            "p >> the ANN default) or OR multiple independently-seeded "
            "signatures to recover the target",
            stacklevel=2,
        )
        _validate_banding(bits, bands, "lsh_knobs")
        return {
            "bits": bits,
            "bands": bands,
            "bits_per_band": bpb,
            "expected_recall": achieved,
        }
    if bits > 64:
        raise ValueError(
            f"lsh_knobs: recall_target={recall_target} at n_rows={n_rows} needs "
            f"bits_per_band={bpb} x bands={bands} = {bits} signature bits > the "
            "64-bit packed budget — lower the target, raise bit_agreement "
            "(near-dup thresholds imply p >> the ANN default), or OR multiple "
            "independently-seeded signatures at the query layer"
        )
    _validate_banding(bits, bands, "lsh_knobs")
    return {
        "bits": bits,
        "bands": bands,
        "bits_per_band": bpb,
        "expected_recall": 1.0 - (1.0 - x) ** bands,
    }


def _hyperplane_signature_udf(dim: int, bits: int, seed: int):
    """mapInPandas fn adding a packed LSH signature column: sign bits of
    dot(v, plane_j) for ``bits`` seeded random hyperplanes.

    ``bits`` must fit the packed int64 signature (1..64). Found by the
    r14 scale sweep, not inspection: bits=96 SILENTLY degraded — the
    uint64 weight shift wraps past 64 and the band extraction shifts
    past the word, collapsing upper bands into one giant bucket-0
    (x10 wall 72 s vs 3.3 s at a valid setting). Callers wanting more
    granularity raise bits-per-band within 64 total (the measured knob
    rule in docs/SCALE.md: +1 bit/band per corpus doubling keeps the
    candidate volume — and the wall — flat), not the word size."""
    import numpy as np

    if not 1 <= bits <= 64:
        raise ValueError(
            f"bits must be in 1..64 (packed int64 signature), got {bits} — "
            "raise bits-per-band within 64 total bits instead"
        )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        planes = np.random.RandomState(seed).standard_normal((dim, bits))
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf.drop(columns=["embedding"]).assign(
                    lsh_sig=pd.Series([], dtype="int64")
                )
                continue
            mat = np.vstack(pdf["embedding"].map(lambda v: np.asarray(v, dtype=np.float64)))
            signs = (mat @ planes) > 0  # (n, bits)
            weights = (1 << np.arange(bits, dtype=np.uint64))
            sig = (signs.astype(np.uint64) * weights).sum(axis=1).astype(np.int64)
            # (id, lsh_sig) only — the banding consumers never read the
            # vector again, and echoing a 64-float array back across
            # the Arrow boundary doubles the Python-exchange bytes for
            # nothing (guide §4.1: control how many columns cross).
            yield pdf.drop(columns=["embedding"]).assign(lsh_sig=sig)

    return fn


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    bits: int | None = None,
    bands: int | None = None,
    seed: int = 42,
    dim: int = 64,
    n_rows: int | None = None,
    recall_target: float = 0.9,
    bit_agreement: float = 0.608,
) -> DataFrame:
    """Approximate top-k cosine: hyperplane-LSH bucket join + exact
    re-rank of candidates. Corpus signatures are one Arrow-batched pass;
    the candidate join shuffles on (band, band_bits) only. Knobs left
    unset derive from the corpus count via :func:`lsh_knobs_volume`
    (r16 — volume-minimal at ``recall_target`` within the no-spill
    budget; ``bit_agreement`` keeps the conservative measured ANN
    anchor p=0.608; the sizing count is one extra job, skipped by
    passing ``n_rows``). TIER BOUNDARY, stated plainly: at p≈0.608 a
    single 64-bit signature buys 0.9 recall only up to roughly the
    2k-row anchor — beyond that the auto path degrades to the
    achievable recall WITH A LOUD WARNING naming the number, because
    the alternative (the r15-measured fixed-knob path) is a 3.9 GiB
    spill at equal recall. For high-recall ANN at larger corpus
    sizes use the quantizer tiers instead — ivf_topk / pq_query /
    ivfpq_query hold recall with persisted indexes (docs/SCALE.md
    scale-invariance classes). Explicit knobs are honored, warned
    against the volume budget when ``n_rows`` is known — see
    :func:`_resolve_lsh_knobs`."""
    bits, bands = _resolve_lsh_knobs(
        corpus.select(id_col), bits, bands, n_rows, bit_agreement, recall_target,
        "lsh_ann_topk",
    )
    bits_per_band = _validate_banding(bits, bands, "lsh_ann_topk")

    def with_sig(df: DataFrame) -> DataFrame:
        cols = df.select(F.col(id_col), F.col(vec_col).alias("embedding"))
        schema = f"{id_col} long, lsh_sig long"
        return cols.mapInPandas(_hyperplane_signature_udf(dim, bits, seed), schema)

    def banded(df: DataFrame, prefix: str) -> DataFrame:
        # bands is a plain Python int, so unroll the band structs (shift
        # amounts must be literals for shiftrightunsigned). Id-only: the
        # bands-x explode must never duplicate vector payloads (round-1
        # VERDICT wrong-list #3) — vectors are re-joined to surviving
        # candidate pairs below, so vector bytes cross the wire once per
        # pair instead of bands-per-row.
        return df.select(
            F.col(id_col).alias(f"{prefix}_id"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            (
                                F.shiftrightunsigned(F.col("lsh_sig"), b * bits_per_band)
                                % (1 << bits_per_band)
                            ).alias("bucket"),
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("bb"),
        ).select(f"{prefix}_id", "bb.band", "bb.bucket")

    qb = banded(with_sig(queries), "q")
    cb = banded(with_sig(corpus), "n")
    cands = (
        qb.join(cb, ["band", "bucket"])
        .filter(F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id")
        .dropDuplicates(["q_id", "n_id"])
    )
    qv = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).cast("array<double>").alias("q_vec"),
    ).withColumn("q_norm", l2_norm(F.col("q_vec")))
    nv = corpus.select(
        F.col(id_col).alias("n_id"),
        F.col(vec_col).cast("array<double>").alias("n_vec"),
    ).withColumn("n_norm", l2_norm(F.col("n_vec")))
    # Query set is small by contract — broadcast it; corpus vectors join
    # on n_id (one shuffle of surviving candidates against the corpus).
    scored = (
        cands.join(F.broadcast(qv), "q_id")
        .join(nv, "n_id")
        .select(
            "q_id",
            "n_id",
            (
                _dot(F.col("q_vec"), F.col("n_vec"))
                / (F.col("q_norm") * F.col("n_norm"))  # norms hoisted per-row
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("n_id"))
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)


def _pq_encode(df: DataFrame, codebook, id_col: str, vec_col: str) -> DataFrame:
    """Encode vectors against a trained (m, n_codes, d_sub) codebook
    array: one Arrow pass, argmin codeword per subspace. Shared by
    build_pq_index (initial encode) and pq_append (batch encode
    against the SAME stored codebook) so the two paths cannot
    diverge."""
    import numpy as np

    m, _, d_sub = codebook.shape

    def encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({"n_id": [], "codes": []})
                continue
            # Cheap per-row length check so a ragged vector fails with
            # the offending id instead of an opaque vstack/reshape
            # error mid-job (pq_append's first-row guard only proves
            # the batch's FIRST vector fits the codebook).
            lens = pdf["v"].map(len).to_numpy()
            bad = np.nonzero(lens != m * d_sub)[0]
            if bad.size:
                i = int(bad[0])
                raise ValueError(
                    f"PQ encode: vector for id {pdf['id'].iloc[i]!r} has dim "
                    f"{int(lens[i])} but the codebook encodes dim {m * d_sub} "
                    f"(m={m} × d_sub={d_sub})"
                )
            mat = np.vstack(pdf["v"].map(lambda x: np.asarray(x, dtype=np.float64)))
            sub = mat.reshape(len(pdf), m, d_sub)
            codes = np.empty((len(pdf), m), dtype=np.int16)
            for j in range(m):
                # (rows, n_codes) distances in subspace j
                diff = sub[:, j, None, :] - codebook[j][None, :, :]
                codes[:, j] = np.argmin((diff * diff).sum(axis=2), axis=1)
            yield pd.DataFrame(
                {"n_id": pdf["id"].values, "codes": list(codes.astype("int32").tolist())}
            )

    return df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")).mapInPandas(
        encode, "n_id long, codes array<int>"
    )


def _codebook_array(codebook: DataFrame):
    """Rebuild the (m, n_codes, d_sub) numpy codebook from its stored
    (subspace, code, centroid) frame — m×n_codes rows, a tiny collect.
    Shared by pq_query (ADC tables) and pq_append (batch encode)."""
    import numpy as np

    cb_rows = codebook.collect()
    m = max(r["subspace"] for r in cb_rows) + 1
    n_codes = max(r["code"] for r in cb_rows) + 1
    d_sub = len(cb_rows[0]["centroid"])
    cb = np.empty((m, n_codes, d_sub))
    for r in cb_rows:
        cb[r["subspace"], r["code"]] = np.asarray(r["centroid"], dtype=np.float64)
    return cb


def _topk_deterministic(scores, ids, k: int):
    """Indices of the top-``k`` rows in the TOTAL order (score desc,
    id asc) — the per-partition ADC pre-cut (ADVICE r16): the cut must
    agree with the global candidate window's order, or boundary TIES
    (twin vectors encode to identical codes ⇒ identical ADC scores)
    make the survivor depend on the physical partitioning of the
    encoded frame. O(n) where a full lexsort is O(n log n) — the cut
    runs once per (query × partition), so it is hot at scale:
    argpartition finds the k-th score, everything strictly above it is
    in by definition, and the boundary tie group alone is sorted by id
    to fill the remaining slots (O(t log t), t = tie-group size).
    Returned order is arbitrary — the global window re-sorts.
    Requires k < len(scores); callers branch to take-all below that."""
    import numpy as np

    thr_idx = np.argpartition(-scores, k - 1)[:k]
    thr = scores[thr_idx].min()  # the k-th largest score
    above = np.nonzero(scores > thr)[0]
    at = np.nonzero(scores == thr)[0]
    need = k - len(above)
    at_sel = at[np.argsort(ids[at], kind="stable")[:need]]
    return np.concatenate([above, at_sel])


def build_pq_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    n_codes: int = 16,
    seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """Build the persistable PQ index (r10 — completes the
    persisted-index trilogy with build_lsh_index and build_ivf_index):
    returns ``(encoded, codebook)`` where ``encoded`` is the 32×
    -compressed corpus — (n_id, codes array<int>), 8 bytes of payload
    per 64-dim float32 vector — and ``codebook`` is the tiny
    (subspace, code, centroid array<double>) frame the ADC tables are
    built from. Persist BOTH: queries must score with exactly the
    codebook that encoded the corpus (double-precision centroids
    round-trip parquet bit-exactly). Appending corpus vectors =
    :func:`pq_append` (encodes the batch against the SAME stored
    codebook; append its rows to the encoded frame).

    Codebooks train driver-side on a deterministic hash-picked sample
    (~32 rows per codeword, see _hash_pick) refined with 8 Lloyd
    iterations per subspace — numpy on the tiny sample, fully
    seed-reproducible, so same (corpus, seed, m, n_codes) rebuilds
    the same index.
    """
    import numpy as np

    first = corpus.select(vec_col).first()
    if first is None:
        raise ValueError("build_pq_index: empty corpus")
    d_model = len(first[0])
    if d_model % m != 0:
        raise ValueError(f"build_pq_index: dim {d_model} not divisible by m={m}")
    d_sub = d_model // m

    rows = _hash_pick(corpus, id_col, vec_col, n_codes * 32, seed)
    if len(rows) < n_codes:
        raise ValueError(
            f"build_pq_index: corpus has {len(rows)} rows < n_codes={n_codes}; "
            "PQ needs at least one training row per codeword — lower n_codes "
            "or use cosine_topk for tiny corpora"
        )
    train = np.vstack([np.asarray(r["cv"], dtype=np.float64) for r in rows])  # (S, d)
    train_sub = train.reshape(len(rows), m, d_sub)
    codebook = np.empty((m, n_codes, d_sub))
    for j in range(m):
        X = train_sub[:, j, :]
        cents = X[:n_codes].copy()  # hash-ranked sample order = seeded init
        for _ in range(8):
            diff = X[:, None, :] - cents[None, :, :]
            assign = np.argmin((diff * diff).sum(axis=2), axis=1)
            for c in range(n_codes):
                members = X[assign == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
        codebook[j] = cents

    encoded = _pq_encode(corpus, codebook, id_col, vec_col)
    cb_df = corpus.sparkSession.createDataFrame(
        [
            (int(j), int(c), [float(x) for x in codebook[j, c]])
            for j in range(m)
            for c in range(n_codes)
        ],
        "subspace int, code int, centroid array<double>",
    )
    return encoded, cb_df


def pq_query(
    queries: DataFrame,
    encoded: DataFrame,
    codebook: DataFrame,
    corpus_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_candidates: int | None = None,
    candidate_frac: float | None = None,
    corpus_rows: int | None = None,
) -> DataFrame:
    """ADC top-k against a PERSISTED PQ index: rebuild the (m, n_codes,
    d_sub) codebook from the stored frame (m×n_codes rows — tiny
    collect), score the stored ``encoded`` corpus with per-query
    lookup tables (numpy gather, top-n_candidates per partition), and
    exact-re-rank candidates against ``corpus_vectors`` — the (id,
    vec) store, touched only for surviving candidates. The corpus is
    never re-encoded per query batch; results equal the
    build-and-query one-shot form (tests/test_similarity.py round-trip
    test). The query set is collected to the driver (bounded by
    contract, as in cosine_topk's broadcast).

    ``candidate_frac`` (r15 — VERDICT r14 item 1, turning the
    measured docs/SCALE.md rule into API): the r14 10× sweep proved a
    raw ``n_candidates`` is an ABSOLUTE re-rank budget whose recall
    silently collapses as the corpus grows (m=8, ncand=50:
    0.417 → 0.180 at 10×; held as ncand/N it stays put). Pass a
    fraction-of-corpus instead and the budget scales with the index:
    n_candidates = max(k, ceil(candidate_frac × corpus rows)).
    ``corpus_rows`` skips the sizing count when the caller already
    knows the stored row count (an index manifest at 100 TB); left
    None, one count over the encoded frame (metadata-cheap on
    parquet) resolves it. The two forms are equivalent at fixed N by
    construction (tests/test_similarity.py pins it); passing BOTH
    budgets raises — one budget, never a silent winner — and passing
    neither takes the historical absolute default (100).
    """
    import math

    import numpy as np

    if candidate_frac is not None and n_candidates is not None:
        raise ValueError(
            "pq_query: pass either candidate_frac or n_candidates, not both "
            f"(got candidate_frac={candidate_frac}, n_candidates={n_candidates})"
        )
    if corpus_rows is not None and candidate_frac is None:
        raise ValueError(
            "pq_query: corpus_rows only participates in candidate_frac sizing "
            "— passing it with an absolute n_candidates would silently do "
            "nothing (one budget, never a silent winner)"
        )
    if candidate_frac is not None:
        if not 0.0 < candidate_frac <= 1.0:
            raise ValueError(
                f"pq_query: candidate_frac must be in (0, 1], got {candidate_frac}"
            )
        n = corpus_rows if corpus_rows is not None else encoded.count()
        if n < 1:
            raise ValueError(
                f"pq_query: corpus row count must be >= 1 for candidate_frac "
                f"sizing, got {n} — a zero/negative manifest value would "
                "silently degrade the budget to k (the collapse class "
                "candidate_frac exists to eliminate)"
            )
        n_candidates = max(k, math.ceil(candidate_frac * n))
    elif n_candidates is None:
        n_candidates = 100

    cb = _codebook_array(codebook)
    m, n_codes, d_sub = cb.shape

    q_rows = queries.select(F.col(id_col), F.col(vec_col)).collect()
    if not q_rows:
        # An empty query batch is a legitimate steady-state event (an
        # idle trigger); without this guard np.vstack([]) raises an
        # opaque ValueError (the rrf_fuse empty-input precedent, r9).
        spark = queries.sparkSession
        return spark.createDataFrame(
            [], "q_id long, n_id long, cos_sim double, rn bigint"
        )
    q_ids = np.array([r[0] for r in q_rows])
    q_mat = np.vstack([np.asarray(r[1], dtype=np.float64) for r in q_rows])
    # ADC tables: tables[q, j, c] = <query_q subspace j, codeword c>
    tables = np.einsum("qjd,jcd->qjc", q_mat.reshape(len(q_rows), m, d_sub), cb)

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({"q_id": [], "n_id": [], "approx_ip": []})
                continue
            codes = np.vstack(pdf["codes"].values)  # (rows, m)
            n_ids = pdf["n_id"].values
            out_q, out_n, out_s = [], [], []
            for qi in range(len(q_ids)):
                scores = tables[qi][np.arange(m)[None, :], codes].sum(axis=1)
                top = (
                    _topk_deterministic(scores, n_ids, n_candidates)
                    if len(scores) > n_candidates
                    else np.arange(len(scores))
                )
                out_q.extend([int(q_ids[qi])] * len(top))
                out_n.extend(n_ids[top].tolist())
                out_s.extend(scores[top].tolist())
            yield pd.DataFrame({"q_id": out_q, "n_id": out_n, "approx_ip": out_s})

    partials = encoded.mapInPandas(score, "q_id long, n_id long, approx_ip double")
    wc = Window.partitionBy("q_id").orderBy(F.col("approx_ip").desc(), F.col("n_id"))
    cands = (
        partials.withColumn("crn", F.row_number().over(wc))
        .filter((F.col("crn") <= n_candidates) & (F.col("q_id") != F.col("n_id")))
        .select("q_id", "n_id")
    )
    # exact re-rank: candidates re-join true vectors ONCE
    nvec = corpus_vectors.select(
        F.col(id_col).alias("n_id"), F.col(vec_col).cast("array<double>").alias("n_vec")
    )
    qvec = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).cast("array<double>").alias("q_vec")
    )
    scored = (
        cands.join(nvec, "n_id")
        .join(F.broadcast(qvec), "q_id")
        .select(
            "q_id",
            "n_id",
            (_dot(F.col("q_vec"), F.col("n_vec"))
             / (l2_norm(F.col("q_vec")) * l2_norm(F.col("n_vec")))).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("n_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q_id", "n_id", "cos_sim", F.col("rn").cast("bigint").alias("rn"))
    )


def pq_append(
    batch: DataFrame,
    codebook: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index: DataFrame | None = None,
    check_disjoint: bool = True,
) -> DataFrame:
    """Encode an ARRIVING batch against the SAME stored codebook and
    return its (n_id, codes) rows — the append API build_pq_index's
    docstring promises (made callable r11, VERDICT r10 item 3).
    Append the result to the stored ``encoded`` frame
    (``encoded.unionByName(pq_append(batch, codebook))`` or a parquet
    append); the corpus is never re-encoded and the codebook never
    retrains on append, so build(A) + append(B) equals encoding A∪B
    with A's codebook row-for-row (tests/test_similarity.py) — rerun
    build_pq_index when the vector distribution has drifted enough
    that the frozen codewords hurt recall. Remember the (id, vec)
    store pq_query re-ranks against must ALSO receive the batch.

    ``index`` (the existing encoded frame, with its ``n_id`` column)
    is only consulted for the disjoint-id guard, exactly as in
    ivf_append. Dimension mismatches raise ValueError: a batch whose
    vectors are uniformly the wrong size fails driver-side up front
    (first-row probe below), and a RAGGED vector later in the batch
    fails inside the encode kernel with the offending id and length —
    never an opaque numpy vstack/reshape error.
    """
    cb = _codebook_array(codebook)
    m, _, d_sub = cb.shape
    first = batch.select(vec_col).first()
    if first is not None and len(first[0]) != m * d_sub:
        raise ValueError(
            f"pq_append: batch vectors have dim {len(first[0])} but the stored "
            f"codebook encodes dim {m * d_sub} (m={m} × d_sub={d_sub}) — the "
            "batch must come from the same embedding space as the index"
        )
    if index is not None and check_disjoint:
        overlap = (
            batch.select(F.col(id_col).alias("n_id"))
            .join(index.select("n_id"), "n_id", "left_semi")
            .limit(1)
            .collect()
        )
        if overlap:
            raise ValueError(
                f"pq_append: id {overlap[0]['n_id']!r} is present in both the "
                "batch and the stored index — ids must be disjoint (an "
                "overlapping id would answer queries twice under one id). "
                "Re-key the batch or pass check_disjoint=False only if "
                "disjointness is guaranteed by construction."
            )
    return _pq_encode(batch, cb, id_col, vec_col)


def pq_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    m: int = 8,
    n_codes: int = 16,
    n_candidates: int = 100,
    seed: int = 42,
) -> DataFrame:
    """Product-quantization ANN (PQ-ADC): the memory-scale path beyond
    int8 — each vector compresses to m uint8 codes (8 bytes for a
    64-dim float32 vector, 32x), and query scoring never touches the
    original vectors until the final re-rank. One-shot form composing
    :func:`build_pq_index` + :func:`pq_query` (split r10); steady-state
    serving builds once, persists (encoded, codebook), and routes
    every query batch through pq_query — output-identical either way
    (q98's oracle hash held across the split).

    - Codebooks: the d dims split into m subspaces; each subspace gets
      n_codes codewords drawn from the corpus by the same deterministic
      id-hash pick as ivf_topk (k-means would tighten cells; the hash
      pick keeps the whole operator seed-reproducible — swap point
      documented). One tiny collect (n_codes rows).
    - Encode: one Arrow pass; argmin codeword per subspace -> codes.
    - ADC scoring: per query, an (m x n_codes) inner-product table;
      a corpus row's approximate score is m table lookups — numpy
      gather over the batch, no vector math per row. Each partition
      emits only its top n_candidates per query (_topk_deterministic:
      O(n) cut tie-broken (score desc, n_id asc) — the global window's
      order, so the cut is layout-invariant even under ADC ties;
      ADVICE r16), and the
      shuffle after scoring is O(partitions x queries x n_candidates).
    - Exact re-rank: candidates join their true vectors once; final
      top-k by exact cosine.

    Returns (q_id, n_id, cos_sim, rn).
    """
    encoded, cb_df = build_pq_index(corpus, id_col, vec_col, m, n_codes, seed)
    return pq_query(
        queries, encoded, cb_df, corpus, id_col, vec_col, k=k, n_candidates=n_candidates
    )


# ----------------------------------------------------------- IVF-PQ
# The composed production ANN shape (r16 — VERDICT r15 item 6; the
# FAISS IVFPQ layout): an IVF coarse quantizer routes every vector to
# one cell, and a PQ codebook compresses the RESIDUAL v̂ − centroid —
# residuals concentrate near the origin, so the same codebook budget
# quantizes them far better than raw vectors. Queries probe n_probe
# cells and ADC-score only their postings:
# <q̂, v̂> ≈ <q̂, c_cell> + <q̂, decode(codes)> — one per-(query, cell)
# offset plus m table lookups. All three frames persist to parquet
# (encoded postings partitioned by cell; centroid and codebook frames
# tiny), appends encode against the FROZEN index (never re-train), and
# the exact cosine re-rank touches true vectors only for surviving
# candidates — the corpus is never re-encoded or re-assigned.


def _normalize_rows(mat):
    import numpy as np

    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return mat / norms


def _ivfpq_encode(
    df: DataFrame, cents, codebook, id_col: str, vec_col: str
) -> DataFrame:
    """One Arrow pass: normalize, assign each vector its nearest
    centroid (ties to the LOWEST cell — np.argmax's first-max rule,
    the _cell_assign convention q194's oracle replays), PQ-encode the
    residual v̂ − centroid (per-subspace argmin, ties to the lowest
    code — np.argmin's rule, the _pq_encode convention). Shared by
    build_ivfpq_index and ivfpq_append so the two paths cannot
    diverge. Ragged vectors fail with the offending id (the
    _pq_encode guard), never an opaque reshape error."""
    import numpy as np

    m, _, d_sub = codebook.shape

    def encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({"n_id": [], "cell": [], "codes": []})
                continue
            # None-aware: len(None) would surface as an opaque executor
            # TypeError with no document id — exactly the failure mode
            # this guard exists to prevent (r16 review finding).
            lens = pdf["v"].map(lambda x: -1 if x is None else len(x)).to_numpy()
            bad = np.nonzero(lens != m * d_sub)[0]
            if bad.size:
                i = int(bad[0])
                what = "is NULL" if lens[i] < 0 else f"has dim {int(lens[i])}"
                raise ValueError(
                    f"IVF-PQ encode: vector for id {pdf['id'].iloc[i]!r} {what} "
                    f"but the index encodes dim {m * d_sub} "
                    f"(m={m} × d_sub={d_sub})"
                )
            mat = _normalize_rows(
                np.vstack(pdf["v"].map(lambda x: np.asarray(x, dtype=np.float64)))
            )
            cells = np.argmax(mat @ cents.T, axis=1).astype("int32")
            resid = mat - cents[cells]
            sub = resid.reshape(len(pdf), m, d_sub)
            codes = np.empty((len(pdf), m), dtype=np.int32)
            for j in range(m):
                diff = sub[:, j, None, :] - codebook[j][None, :, :]
                codes[:, j] = np.argmin((diff * diff).sum(axis=2), axis=1)
            yield pd.DataFrame(
                {"n_id": pdf["id"].values, "cell": cells,
                 "codes": list(codes.tolist())}
            )

    return df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")).mapInPandas(
        encode, "n_id long, cell int, codes array<int>"
    )


def build_ivfpq_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    m: int = 8,
    n_codes: int = 16,
    seed: int = 42,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Build the persistable IVF-PQ index: returns ``(encoded,
    centroids, codebook)`` where ``encoded`` is (n_id, cell,
    codes array<int>) — write it PARTITIONED BY cell so probes prune
    files at scan time — ``centroids`` is the (cell, centroid) coarse
    quantizer (the build_ivf_index frame, row position = cell id) and
    ``codebook`` is the (subspace, code, centroid) RESIDUAL codebook
    shared across cells (the FAISS IVFPQ default; a per-cell codebook
    multiplies index size by n_cells for marginal recall on
    centered residuals). Persist ALL THREE; queries must probe and
    decode with exactly these frames (double-precision centroids
    round-trip parquet bit-exactly — tests pin build→persist→query ==
    build→query). Training is driver-side numpy on deterministic
    hash-picked samples (n_cells corpus vectors as centroids — the
    build_ivf_index rule — and ~32 residuals per codeword refined
    with 8 Lloyd iterations per subspace), so the same (corpus, seed,
    knobs) rebuilds the same index. Appending = :func:`ivfpq_append`
    against the FROZEN frames; rebuild when the corpus distribution
    drifts."""
    import numpy as np

    first = corpus.select(vec_col).first()
    if first is None:
        raise ValueError("build_ivfpq_index: empty corpus")
    d_model = len(first[0])
    if d_model % m != 0:
        raise ValueError(f"build_ivfpq_index: dim {d_model} not divisible by m={m}")
    d_sub = d_model // m

    cvecs = _hash_pick(corpus, id_col, vec_col, n_cells, seed)
    cents = _normalize_rows(
        np.vstack([np.asarray(r["cv"], dtype=np.float64) for r in cvecs])
    )
    rows = _hash_pick(corpus, id_col, vec_col, n_codes * 32, seed + 7)
    if len(rows) < n_codes:
        raise ValueError(
            f"build_ivfpq_index: corpus has {len(rows)} rows < n_codes={n_codes}; "
            "PQ needs at least one training row per codeword — lower n_codes "
            "or use cosine_topk for tiny corpora"
        )
    train = _normalize_rows(
        np.vstack([np.asarray(r["cv"], dtype=np.float64) for r in rows])
    )
    t_cells = np.argmax(train @ cents.T, axis=1)
    resid = (train - cents[t_cells]).reshape(len(rows), m, d_sub)
    codebook = np.empty((m, n_codes, d_sub))
    for j in range(m):
        X = resid[:, j, :]
        cb = X[:n_codes].copy()  # hash-ranked sample order = seeded init
        for _ in range(8):
            diff = X[:, None, :] - cb[None, :, :]
            assign = np.argmin((diff * diff).sum(axis=2), axis=1)
            for c in range(n_codes):
                members = X[assign == c]
                if len(members):
                    cb[c] = members.mean(axis=0)
        codebook[j] = cb

    encoded = _ivfpq_encode(corpus, cents, codebook, id_col, vec_col)
    spark = corpus.sparkSession
    cent_df = spark.createDataFrame(
        [(int(i), [float(x) for x in row]) for i, row in enumerate(cents)],
        "cell int, centroid array<double>",
    )
    cb_df = spark.createDataFrame(
        [
            (int(j), int(c), [float(x) for x in codebook[j, c]])
            for j in range(m)
            for c in range(n_codes)
        ],
        "subspace int, code int, centroid array<double>",
    )
    return encoded, cent_df, cb_df


def ivfpq_append(
    batch: DataFrame,
    centroids: DataFrame,
    codebook: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index: DataFrame | None = None,
    check_disjoint: bool = True,
) -> DataFrame:
    """Assign + residual-encode an ARRIVING batch against the FROZEN
    stored frames and return its (n_id, cell, codes) posting rows —
    append them to the stored encoded frame's cell partitions.
    build(A) + append(B) equals encoding A∪B with A's frames
    row-for-row (the ivf_append/pq_append contract, pytest-pinned);
    neither quantizer drifts on append. ``index`` is only consulted
    for the disjoint-id guard (the ingest rule: an id on both sides
    answers queries twice); dimension mismatches fail driver-side
    with both dims named."""
    cents = _collect_centroids(centroids, "ivfpq_append")
    cb = _codebook_array(codebook)
    m, _, d_sub = cb.shape
    if cents.shape[1] != m * d_sub:
        raise ValueError(
            f"ivfpq_append: centroid dim {cents.shape[1]} != codebook dim "
            f"{m * d_sub} — the two frames are from different indexes"
        )
    first = batch.select(vec_col).first()
    if first is not None and len(first[0]) != m * d_sub:
        raise ValueError(
            f"ivfpq_append: batch vectors have dim {len(first[0])} but the "
            f"stored index encodes dim {m * d_sub} — the batch must come from "
            "the same embedding space as the index"
        )
    if index is not None and check_disjoint:
        overlap = (
            batch.select(F.col(id_col).alias("n_id"))
            .join(index.select("n_id"), "n_id", "left_semi")
            .limit(1)
            .collect()
        )
        if overlap:
            raise ValueError(
                f"ivfpq_append: id {overlap[0]['n_id']!r} is present in both "
                "the batch and the stored index — ids must be disjoint. Re-key "
                "the batch or pass check_disjoint=False only if disjointness "
                "is guaranteed by construction."
            )
    return _ivfpq_encode(batch, cents, cb, id_col, vec_col)


def ivfpq_query(
    queries: DataFrame,
    encoded: DataFrame,
    centroids: DataFrame,
    codebook: DataFrame,
    corpus_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 4,
    n_candidates: int | None = None,
    candidate_frac: float | None = None,
    corpus_rows: int | None = None,
) -> DataFrame:
    """ADC top-k against a PERSISTED IVF-PQ index: each query probes
    its ``n_probe`` nearest cells (clamped to the stored cell count —
    probing every cell is the exhaustive limit, the ivf_query rule)
    and scores ONLY their postings with
    ``<q̂, c_cell> + Σ_j table[j, code_j]`` — a per-(query, cell)
    offset plus m numpy gathers; each partition emits at most
    queries × n_candidates rows, a global (score, id) window cuts the
    candidate set, and the exact cosine re-rank touches
    ``corpus_vectors`` once for survivors (the pq_query tail). The
    candidate budget follows pq_query verbatim: absolute
    ``n_candidates``, or ``candidate_frac`` × corpus rows (the
    measured scale-safe form — an absolute budget's recall collapses
    as the index grows), ``corpus_rows`` skipping the sizing count,
    both-budgets raising. The query set is collected to the driver
    (bounded by contract, as in cosine_topk's broadcast).

    Exactness limit (q199's oracle contract): with n_probe ≥ the cell
    count and n_candidates ≥ the corpus size nothing is pruned
    anywhere, so the output provably equals exact brute-force cosine
    top-k REGARDLESS of centroid/codebook quality — the configuration
    that hash-verifies the whole machinery (cell routing partitions
    the corpus, ADC keeps everything, re-rank is exact)."""
    import math

    import numpy as np

    if candidate_frac is not None and n_candidates is not None:
        raise ValueError(
            "ivfpq_query: pass either candidate_frac or n_candidates, not both "
            f"(got candidate_frac={candidate_frac}, n_candidates={n_candidates})"
        )
    if corpus_rows is not None and candidate_frac is None:
        raise ValueError(
            "ivfpq_query: corpus_rows only participates in candidate_frac "
            "sizing — passing it with an absolute n_candidates would silently "
            "do nothing (one budget, never a silent winner)"
        )
    if candidate_frac is not None:
        if not 0.0 < candidate_frac <= 1.0:
            raise ValueError(
                f"ivfpq_query: candidate_frac must be in (0, 1], got {candidate_frac}"
            )
        n = corpus_rows if corpus_rows is not None else encoded.count()
        if n < 1:
            raise ValueError(
                f"ivfpq_query: corpus row count must be >= 1 for candidate_frac "
                f"sizing, got {n}"
            )
        n_candidates = max(k, math.ceil(candidate_frac * n))
    elif n_candidates is None:
        n_candidates = 100

    cents = _collect_centroids(centroids, "ivfpq_query")
    cb = _codebook_array(codebook)
    m, n_codes, d_sub = cb.shape
    if cents.shape[1] != m * d_sub:
        raise ValueError(
            f"ivfpq_query: centroid dim {cents.shape[1]} != codebook dim "
            f"{m * d_sub} — the two frames are from different indexes"
        )
    n_probe = min(n_probe, cents.shape[0])

    q_rows = queries.select(F.col(id_col), F.col(vec_col)).collect()
    if not q_rows:
        spark = queries.sparkSession
        return spark.createDataFrame(
            [], "q_id long, n_id long, cos_sim double, rn bigint"
        )
    q_ids = np.array([r[0] for r in q_rows])
    q_mat = _normalize_rows(
        np.vstack([np.asarray(r[1], dtype=np.float64) for r in q_rows])
    )
    sims = q_mat @ cents.T  # (Q, n_cells) — doubles as the offset table
    probed = np.argsort(-sims, axis=1, kind="stable")[:, :n_probe]  # (Q, n_probe)
    probe_mask = np.zeros((len(q_ids), cents.shape[0]), dtype=bool)
    for qi in range(len(q_ids)):
        probe_mask[qi, probed[qi]] = True
    # ADC tables over the RESIDUAL codebook: tables[q, j, c]
    tables = np.einsum("qjd,jcd->qjc", q_mat.reshape(len(q_ids), m, d_sub), cb)

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({"q_id": [], "n_id": [], "approx_ip": []})
                continue
            codes = np.vstack(pdf["codes"].values)  # (rows, m)
            cells = pdf["cell"].to_numpy()
            n_ids = pdf["n_id"].values
            out_q, out_n, out_s = [], [], []
            for qi in range(len(q_ids)):
                sel = probe_mask[qi, cells]
                if not sel.any():
                    continue
                sc = (
                    sims[qi, cells[sel]]
                    + tables[qi][np.arange(m)[None, :], codes[sel]].sum(axis=1)
                )
                ids_sel = n_ids[sel]
                top = (
                    _topk_deterministic(sc, ids_sel, n_candidates)
                    if len(sc) > n_candidates
                    else np.arange(len(sc))
                )
                out_q.extend([int(q_ids[qi])] * len(top))
                out_n.extend(ids_sel[top].tolist())
                out_s.extend(sc[top].tolist())
            yield pd.DataFrame({"q_id": out_q, "n_id": out_n, "approx_ip": out_s})

    partials = encoded.mapInPandas(score, "q_id long, n_id long, approx_ip double")
    wc = Window.partitionBy("q_id").orderBy(F.col("approx_ip").desc(), F.col("n_id"))
    cands = (
        partials.withColumn("crn", F.row_number().over(wc))
        .filter((F.col("crn") <= n_candidates) & (F.col("q_id") != F.col("n_id")))
        .select("q_id", "n_id")
    )
    nvec = corpus_vectors.select(
        F.col(id_col).alias("n_id"), F.col(vec_col).cast("array<double>").alias("n_vec")
    )
    qvec = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).cast("array<double>").alias("q_vec")
    )
    scored = (
        cands.join(nvec, "n_id")
        .join(F.broadcast(qvec), "q_id")
        .select(
            "q_id",
            "n_id",
            (_dot(F.col("q_vec"), F.col("n_vec"))
             / (l2_norm(F.col("q_vec")) * l2_norm(F.col("n_vec")))).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("n_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q_id", "n_id", "cos_sim", F.col("rn").cast("bigint").alias("rn"))
    )


def rrf_fuse(
    ranked: list[DataFrame],
    id_col: str = "doc_id",
    rank_col: str = "rnk",
    k_const: int = 60,
    topk: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion of N ranked candidate lists (r9 — the
    standard hybrid-retrieval combiner, Cormack/Clarke/Buettcher '09):
    score(d) = Σ_lists 1/(k + rank_d), summed over the lists that
    retrieved d. Rank-based, so the lists' raw scores need no
    calibration — the property that makes RRF the default way to
    merge a lexical (BM25) and a semantic (ANN) list.

    Each input holds one row per retrieved id with a 1-based
    ``rank_col``. The fusion is a union of (id, 1/(k+rank))
    projections, one groupBy sum, and a TakeOrdered top-k — the
    inputs are top-k lists (k rows each), so every stage after the
    upstream retrievals is bounded by Σ list sizes, independent of
    corpus scale. Ties break on id. Determinism: with two lists the
    per-id sum is a single commutative double add (exact); above ~3
    lists the add order could flip the last ulp — quantize ranks'
    contributions or sort_array first if a byte-stable score matters
    beyond 6 significant digits.
    """
    if not ranked:
        raise ValueError("rrf_fuse needs at least one ranked list")
    parts = [
        df.select(
            F.col(id_col).alias("id"),
            (F.lit(1.0) / (F.lit(float(k_const)) + F.col(rank_col).cast("double"))).alias("__c"),
        )
        for df in ranked
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return (
        u.groupBy("id")
        .agg(F.sum("__c").alias("rrf"))
        .select(F.col("id").alias(id_col), "rrf")
        .orderBy(F.col("rrf").desc(), F.col(id_col))
        .limit(topk)
    )


def retrieval_eval(
    truth: DataFrame,
    cand: DataFrame,
    query_col: str = "q_id",
    id_col: str = "n_id",
    rank_col: str = "rn",
    k: int = 10,
) -> DataFrame:
    """Retrieval-quality metrics of an APPROXIMATE ranking against an
    exact truth ranking (r13 — the evaluation step every retrieval /
    ANN / near-dup pipeline runs before trusting its fast tier): per
    truth query, the top-k overlap count, ``recall_at_k`` =
    overlap / per-query truth size (= k when the truth holds a full
    top-k; the min(k, |truth|) convention otherwise), and the
    ``reciprocal_rank`` of the truth's TOP-1 item in the candidate
    list (0.0 when absent — the per-query MRR term). Both inputs are
    (query, id, rank) frames truncated to ``rank <= k`` here, so any
    top-k shape drops in — :func:`cosine_topk` as truth and an
    LSH/IVF/PQ/quantized ranking as candidates. The truth rank is
    assumed unique per (query, rank) — every top-k operator here
    emits row_number ranks.

    Scale shape: both frames are (n_queries × k) — metrics-sized,
    never corpus-sized — and each input's LINEAGE EXECUTES ONCE: all
    three metrics come out of one left join plus one per-query
    aggregate (the first draft fanned the truth into three branches
    and re-ran its corpus-wide upstream ranking three times — r13
    review finding, confirmed in the physical plan). Queries with
    zero candidate overlap still emit a row (every truth row survives
    the left join), so a silently-empty candidate tier reads 0.0, not
    missing."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    t = truth.filter(F.col(rank_col) <= k).select(
        F.col(query_col).alias("__q"),
        F.col(id_col).alias("__i"),
        F.col(rank_col).alias("__tr"),
    )
    c = cand.filter(F.col(rank_col) <= k).select(
        F.col(query_col).alias("__q"),
        F.col(id_col).alias("__i"),
        F.col(rank_col).alias("__cr"),
    )
    return (
        t.join(c, ["__q", "__i"], "left")
        .groupBy("__q")
        .agg(
            F.count(F.lit(1)).alias("__nt"),
            F.count("__cr").alias("__no"),  # non-null = overlap
            F.coalesce(
                F.max(F.when(F.col("__tr") == 1, F.lit(1.0) / F.col("__cr"))),
                F.lit(0.0),
            ).alias("__rr"),
        )
        .select(
            F.col("__q").alias(query_col),
            F.col("__no").cast("long").alias("n_overlap"),
            (F.col("__no") / F.col("__nt").cast("double")).alias("recall_at_k"),
            F.col("__rr").alias("reciprocal_rank"),
        )
    )
