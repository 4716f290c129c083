"""Dedup operator tests (referenced from q42's docstring): MinHash-LSH
recall against exact n-gram Jaccard on planted near-duplicate texts,
SimHash locality, and exact-dedup keeper semantics."""

from __future__ import annotations

import random

import pytest

from pyspark.sql import functions as F

from apache_hadoop_framework_for_peptide_identification_spark.operators import dedup

# Vocabulary large enough that two random docs share few tokens —
# otherwise every doc is genuinely similar in bag-of-words space and
# locality tests can't separate planted dups from background.
WORDS = [f"w{i:04d}" for i in range(5000)]


def _doc(rng: random.Random, n: int = 60) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(n))


def _perturb(rng: random.Random, text: str, n_edits: int = 3) -> str:
    """Edit a few words — keeps 3-gram Jaccard high (> ~0.7)."""
    toks = text.split()
    for _ in range(n_edits):
        toks[rng.randrange(len(toks))] = rng.choice(WORDS)
    return " ".join(toks)


@pytest.fixture(scope="module")
def dup_docs(spark):
    """100 random docs + 20 lightly-edited copies (ids 1000+i of doc i)."""
    rng = random.Random(11)
    base = [_doc(rng) for _ in range(100)]
    rows = [(i, base[i]) for i in range(100)] + [
        (1000 + i, _perturb(rng, base[i])) for i in range(20)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_keeps_min_id(spark):
    rows = [(1, "aa"), (2, "bb"), (3, "aa"), (4, "aa"), (5, "bb"), (6, "cc")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = sorted(r["doc_id"] for r in dedup.exact_dedup(df, ["text"], "doc_id").collect())
    assert kept == [1, 2, 6]


def test_exact_dedup_null_vs_empty_and_multicol(spark):
    # The 128-bit JSON-encoded key must distinguish NULL from empty
    # string and must not concatenation-collide across columns
    # (("ab","c") vs ("a","bc")).
    rows = [
        (1, None, "x"),
        (2, "", "x"),
        (3, "ab", "c"),
        (4, "a", "bc"),
        (5, "ab", "c"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, a string, b string")
    kept = sorted(
        r["doc_id"] for r in dedup.exact_dedup(df, ["a", "b"], "doc_id").collect()
    )
    assert kept == [1, 2, 3, 4]


def test_simhash_vectorized_matches_scalar_reference(spark):
    """The batch-vectorized FNV path must be bit-identical to the scalar
    hash_token reference implementation (determinism contract)."""
    texts = [
        "the quick brown fox",
        "",
        None,
        "héllo wörld 中文 字",
        "single",
        "a a a repeated tokens a",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, t string")
    got = {
        r["i"]: r["sh"]
        for r in df.select("i", dedup.simhash64(F.col("t")).alias("sh")).collect()
    }

    def scalar_simhash(text):
        if not text:
            return 0
        acc = [0] * 64
        for tok in text.split(" "):
            h = dedup.hash_token(tok)
            for b in range(64):
                acc[b] += 1 if (h >> b) & 1 else -1
        sig = sum(1 << b for b in range(64) if acc[b] > 0)
        return sig - (1 << 64) if sig >= (1 << 63) else sig

    for i, t in enumerate(texts):
        assert got[i] == scalar_simhash(t), f"row {i} ({t!r})"


def test_minhash_lsh_recall_vs_exact_jaccard(dup_docs):
    """Every pair with true Jaccard >= 0.6 must surface as an LSH
    candidate (recall at b=16, r=4 for s=0.6 is 1-(1-0.6^4)^16 ~ 0.90;
    the planted pairs sit well above 0.6 so empirical recall is ~1)."""
    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup.ngram_jaccard_pairs(dup_docs, "doc_id", "text", n=3, threshold=0.6)
        .collect()
    }
    planted = {p for p in exact if p[1] >= 1000}
    assert len(planted) >= 15, "perturbation too strong — fixture broken"
    cands = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_candidates(
            dup_docs, "doc_id", "text", num_hashes=64, bands=16, shingle_n=3
        ).collect()
    }
    recall = len(exact & cands) / len(exact)
    assert recall >= 0.9, f"MinHash-LSH recall {recall} over {len(exact)} true pairs"


def test_minhash_partition_invariance(dup_docs):
    a = sorted(
        map(
            tuple,
            dedup.minhash_lsh_candidates(dup_docs.repartition(1), "doc_id", "text")
            .select("id_a", "id_b")
            .collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            dedup.minhash_lsh_candidates(dup_docs.repartition(13), "doc_id", "text")
            .select("id_a", "id_b")
            .collect(),
        )
    )
    assert a == b


def _hamming(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


def test_simhash_locality(dup_docs):
    """Planted near-dups land within small Hamming distance; random
    pairs concentrate near 32 bits."""
    sims = {
        r["doc_id"]: r["sh"]
        for r in dup_docs.select(
            "doc_id", dedup.simhash64(F.col("text")).alias("sh")
        ).collect()
    }
    dup_dists = [_hamming(sims[i], sims[1000 + i]) for i in range(20)]
    rand_dists = [_hamming(sims[i], sims[(i + 37) % 100]) for i in range(50)]
    assert max(dup_dists) <= 16, f"near-dup simhash too far: {dup_dists}"
    assert sum(rand_dists) / len(rand_dists) >= 24, f"random pairs too close: {rand_dists}"


def test_connected_components_chain_and_islands(spark):
    """A long chain (worst-case diameter) plus separate islands all
    resolve to min-id labels."""
    chain = [(i, i + 1) for i in range(20)]          # one 21-node chain
    islands = [(100, 101), (200, 201), (201, 202)]
    edges = spark.createDataFrame(chain + islands, "id_a long, id_b long")
    got = {
        r["id"]: r["cluster_id"]
        for r in dedup.connected_components(edges).collect()
    }
    assert all(got[i] == 0 for i in range(21))
    assert got[100] == got[101] == 100
    assert got[200] == got[201] == got[202] == 200
    # nodes not in any edge are absent by contract (singletons are
    # their own cluster implicitly)
    assert set(got) == set(range(21)) | {100, 101, 200, 201, 202}


def test_connected_components_star_equals_hash_min(spark):
    """r12: the large-star/small-star variant (the O(log n)-round form
    the hash-min docstring promises for long-chain graphs) must be
    label-identical to connected_components on every graph shape —
    chains (worst-case diameter), cliques, stars, islands, shuffled
    ids, and a seeded random graph."""
    import random

    rng = random.Random(42)
    rand_edges = [
        (rng.randrange(300), rng.randrange(300)) for _ in range(220)
    ]
    cases = [
        [(i, i + 1) for i in range(40)],                     # chain
        [(i, j) for i in range(8) for j in range(i + 1, 8)], # clique
        [(50, i) for i in range(40)],                        # star, hub mid-id
        [(1, 2), (10, 11), (11, 12), (20, 21)],              # islands
        [(i + 1, i) for i in range(30)] + [(500, 0)],        # reversed + bridge
        rand_edges,                                          # random, incl. self-loops
        [(7, 7), (1, 2)],  # self-loop-ONLY node must survive as its own
        # singleton (r12 review finding: nodes derived after the
        # self-loop filter silently dropped id 7)
    ]
    for edges in cases:
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        want = {
            r["id"]: r["cluster_id"]
            for r in dedup.connected_components(df).collect()
        }
        got = {
            r["id"]: r["cluster_id"]
            for r in dedup.connected_components_star(df).collect()
        }
        assert got == want, (edges[:5], len(edges))


def test_connected_components_raises_on_nonconvergence(spark):
    """r12 (found by the star-equality test): a component whose
    diameter exceeds max_iter used to come back silently MISLABELED —
    hash-min propagates one hop per round, so the 200-node chain
    cannot converge in 50. It must refuse, naming the star variant;
    the star form solves the same graph inside its default budget."""
    import pytest as _pytest

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long"
    )
    with _pytest.raises(ValueError, match="confirm convergence"):
        dedup.connected_components(edges, max_iter=10)  # diameter 40 > 10
    # the star variant refuses on an exhausted budget too (r12 review:
    # it initially returned the partial star forest silently)...
    with _pytest.raises(ValueError, match="confirm convergence"):
        dedup.connected_components_star(edges, max_iter=1)
    # ...and solves the same graph inside a modest round budget
    got = {
        r["id"]: r["cluster_id"]
        for r in dedup.connected_components_star(edges, max_iter=14).collect()
    }
    assert all(v == 0 for v in got.values()) and len(got) == 41


def test_connected_components_star_round_count_is_logarithmic(spark):
    """The point of the variant: a 200-node path graph converges in
    O(log n) alternating rounds (hash-min needs ~diameter rounds
    there). Pinned loosely — well under the diameter, comfortably
    above log2(n) — so a regression to per-hop propagation fails."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "id_a long, id_b long"
    )
    # max_iter bounds the loop; convergence inside 16 rounds (log2(200)
    # ≈ 7.6 plus the alternating constant) proves the collapse is
    # multiplicative, not per-hop.
    got = {
        r["id"]: r["cluster_id"]
        for r in dedup.connected_components_star(edges, max_iter=16).collect()
    }
    assert all(v == 0 for v in got.values())
    assert set(got) == set(range(201))


def test_cluster_keeper_dedup_end_to_end(dup_docs):
    """pairs -> components -> keep min per cluster: every planted copy
    (id 1000+i) maps to its original's cluster and is dropped by
    keep-min."""
    edges = dedup.minhash_lsh_candidates(dup_docs, "doc_id", "text")
    cc = dedup.connected_components(edges)
    labels = {r["id"]: r["cluster_id"] for r in cc.collect()}
    hits = sum(
        1 for i in range(20)
        if labels.get(1000 + i) is not None and labels.get(1000 + i) == labels.get(i)
    )
    assert hits >= 18, f"only {hits}/20 copies clustered with their originals"


def test_minhash_max_bucket_caps_degenerate_buckets(spark):
    """50 byte-identical docs form one degenerate LSH bucket per band
    (~1225 pairs); with max_bucket they are dropped while a small
    planted near-dup pair still surfaces through its own buckets."""
    rng = random.Random(23)
    boiler = _doc(rng)
    a = _doc(rng)
    rows = [(i, boiler) for i in range(50)] + [(100, a), (101, _perturb(rng, a, 2))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = dedup.minhash_lsh_candidates(df, "doc_id", "text", max_bucket=10)
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert (100, 101) in got
    assert not any(a < 50 and b < 50 for a, b in got)  # degenerate pairs gone
    uncapped = dedup.minhash_lsh_candidates(df, "doc_id", "text")
    assert uncapped.count() >= 1225  # sanity: the cap was load-bearing


def test_bloom_prefiltered_antijoin_equals_plain_antijoin(spark):
    """The bloom prefilter must be invisible in the RESULT at any
    false-positive rate: tiny m (most rows flagged maybe → verify path
    dominates) and huge m (most rows skip the join) both equal the
    plain anti-join. Also: an empty history keeps everything."""
    from pyspark.sql import functions as F

    batch = spark.createDataFrame(
        [(i, f"key_{i % 40}") for i in range(200)], "row_id long, k string"
    )
    history = spark.createDataFrame(
        [(f"key_{i}",) for i in range(0, 40, 2)], "k string"
    )
    expected = sorted(
        r["row_id"]
        for r in batch.join(history, "k", "left_anti").collect()
    )
    for m_bits in (64, 1 << 16):  # 64 bits -> heavy false positives
        got = sorted(
            r["row_id"]
            for r in dedup.bloom_prefiltered_antijoin(
                batch, history, "k", m_bits=m_bits, k=3
            ).collect()
        )
        assert got == expected, m_bits
    empty = history.filter(F.lit(False))
    kept = dedup.bloom_prefiltered_antijoin(batch, empty, "k").count()
    assert kept == 200


def test_jaccard_max_posting_drops_stop_shingles(spark):
    """Two docs that share ONLY a boilerplate preamble must not pair
    once the preamble's shingles exceed the posting cap; docs sharing
    rare content still pair."""
    rng = random.Random(31)
    preamble = "terms of service apply to this document"
    uniq = [_doc(rng, 10) for _ in range(8)]
    rows = [(i, f"{preamble} {uniq[i]}") for i in range(8)]
    # two docs sharing rare content (plus the common preamble)
    shared = _doc(rng, 10)
    rows += [(100, f"{preamble} {shared}"), (101, f"{preamble} {shared} extra")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = dedup.ngram_jaccard_pairs(
        df, "doc_id", "text", threshold=0.2, max_posting=5
    )
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert (100, 101) in got
    assert all(a >= 100 for a, _ in got)  # preamble-only overlaps dropped


def test_prefix_jaccard_equals_full_join_ground_truth(spark):
    """The prefix-filtered exact join must produce IDENTICAL pairs and
    scores to the full posting-list join at the same threshold (the
    no-false-negatives guarantee of the prefix theorem), while joining
    strictly fewer prefix rows than the full shingle explode."""
    rng = random.Random(77)
    docs = [_doc(rng, 18) for _ in range(30)]
    rows = [(i, t) for i, t in enumerate(docs)]
    rows += [(1000 + i, _perturb(rng, docs[i], 1)) for i in range(10)]  # near-dups
    df = spark.createDataFrame(rows, "doc_id long, text string")

    want = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.6).collect()
    }
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.prefix_jaccard_pairs(df, "doc_id", "text", threshold=0.6).collect()
    }
    assert got == want
    assert len(got) >= 10  # the planted near-dups all survive 0.6


def test_prefix_jaccard_prefix_is_a_strict_subset(spark):
    """Structural pruning check: at t=0.8 the prefix keeps
    |s| - ceil(0.8|s|) + 1 shingles (~20% + 1), so across a corpus of
    40-shingle docs the join input must shrink to well under half."""
    from pyspark.sql import functions as F

    rng = random.Random(78)
    df = spark.createDataFrame(
        [(i, _doc(rng, 45)) for i in range(20)], "doc_id long, text string"
    )
    sh = df.select(
        F.col("doc_id"), F.explode(dedup.shingles(F.col("text"), 3)).alias("sh")
    )
    full = sh.count()
    t = 0.8
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    prefix_rows = sizes.select(
        F.sum(F.col("n") - F.ceil(F.lit(t) * F.col("n")) + 1).alias("p")
    ).collect()[0]["p"]
    assert prefix_rows < 0.45 * full


def test_simhash_blocked_pairs_complete_vs_brute_force(dup_docs):
    """Pigeonhole completeness of the 4-block scheme: with
    max_hamming=3 <= n_blocks-1, the blocked join must produce EXACTLY
    the brute-force all-pairs hamming<=3 set over the portable
    signatures — no false negatives (the guarantee q120's oracle
    relies on) and no spurious pairs (exact verify)."""
    sigs = dedup.simhash_portable(dup_docs, "doc_id", "text").collect()
    by_id = {r["id"]: r["sig"] for r in sigs}
    ids = sorted(by_id)
    want = {
        (a, b, bin(by_id[a] ^ by_id[b]).count("1"))
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(by_id[a] ^ by_id[b]).count("1") <= 3
    }
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dedup.simhash_blocked_pairs(
            dup_docs, "doc_id", "text", max_hamming=3, n_blocks=4
        ).collect()
    }
    assert got == want
    # 3-word edits move several signature bits, so only the closest
    # planted twins land within hamming 3 — the set-equality above is
    # the real assertion; this floor just guards against an
    # accidentally-empty comparison.
    assert len(got) >= 3


def test_simhash_blocked_pairs_rejects_unsound_params():
    with pytest.raises(AssertionError):
        dedup.simhash_blocked_pairs(None, "id", "t", max_hamming=4, n_blocks=4)
    with pytest.raises(AssertionError):
        dedup.simhash_blocked_pairs(None, "id", "t", n_blocks=7)


def test_exploded_shingles_null_empty_short_semantics(spark):
    """Edge contract (round-5 ADVICE item 1): NULL text emits NO
    shingles (exempt from similarity dedup — matches the HOF
    shingles() form, which explodes a null array to nothing); empty
    text emits one '' shingle; a short doc (< n tokens) emits its
    whole text as one partial shingle (the rule q113's oracle
    encodes)."""
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "just two"), (4, "one two three four")],
        "doc_id long, text string",
    )
    got = {
        (r["id"], r["sh"])
        for r in dedup.exploded_shingles(df, "doc_id", "text", 3).collect()
    }
    assert {i for i, _ in got} == {2, 3, 4}
    assert (2, "") in got
    assert (3, "just two") in got
    assert (4, "one two three") in got and (4, "two three four") in got


def test_containment_prefix_pairs_exact_and_asymmetric(spark):
    """The asymmetric prefix filter must (a) equal the plain
    every-shingle posting join exactly — prefix theorem, no false
    negatives — and (b) surface the ordered crop→source pair at 1.0
    while the reverse direction stays below threshold."""
    from apache_hadoop_framework_for_peptide_identification_spark.operators.dedup import (
        containment_prefix_pairs,
        exploded_shingles,
    )

    base = [
        (i, " ".join(f"w{i}t{j}" for j in range(12)) + " common tail words here")
        for i in range(20)
    ]
    # crops: first 8 tokens of each doc -> fully contained in source
    crops = [(i + 1000, " ".join(t.split(" ")[:8])) for i, t in base]
    df = spark.createDataFrame(base + crops, "id long, text string")

    got = {
        (r["id_a"], r["id_b"]): round(r["containment"], 9)
        for r in containment_prefix_pairs(df, "id", "text", n=3, threshold=0.8).collect()
    }

    # plain posting-join reference computed in-test
    sh = exploded_shingles(df, "id", "text", 3)
    sizes = {r["id"]: r["n"] for r in sh.groupBy("id").agg(F.count(F.lit(1)).alias("n")).collect()}
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") != F.col("b.id")))
        .groupBy(F.col("a.id").alias("ia"), F.col("b.id").alias("ib"))
        .agg(F.count(F.lit(1)).alias("i"))
        .collect()
    )
    want = {
        (r["ia"], r["ib"]): round(r["i"] / sizes[r["ia"]], 9)
        for r in inter
        if r["i"] / sizes[r["ia"]] >= 0.8
    }
    assert got == want
    assert got[(1005, 5)] == 1.0  # crop -> source: fully contained
    assert (5, 1005) not in got  # source -> crop: asymmetry


def test_incremental_minhash_excludes_history_pairs_and_matches_full(spark):
    """The incremental form's two contracts (r9): (1) no
    history×history pair ever surfaces, even when history contains
    planted near-dups of its own; (2) for pairs touching the batch it
    agrees exactly with the full-corpus pipeline at the same
    threshold/banding."""
    rng = random.Random(81)
    docs = [_doc(rng, 16) for _ in range(20)]
    history_rows = [(i, t) for i, t in enumerate(docs)]
    # planted near-dup INSIDE history — must never appear in output
    history_rows.append((500, _perturb(rng, docs[0], 1)))
    batch_rows = [(1000 + i, _perturb(rng, docs[i], 1)) for i in range(8)]
    batch_rows += [(2000 + i, _doc(rng, 16)) for i in range(4)]  # novel
    history = spark.createDataFrame(history_rows, "doc_id long, text string")
    batch = spark.createDataFrame(batch_rows, "doc_id long, text string")

    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.incremental_minhash_pairs(
            history, batch, "doc_id", "text", threshold=0.5
        ).collect()
    }
    batch_ids = {r[0] for r in batch_rows}
    assert got, "planted twins must be found"
    assert all(a in batch_ids or b in batch_ids for a, b in got), got
    assert (0, 500) not in got  # the history-internal near-dup

    full = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.minhash_jaccard_pairs(
            history.unionByName(batch), "doc_id", "text", threshold=0.5
        ).collect()
    }
    want = {p: j for p, j in full.items() if p[0] in batch_ids or p[1] in batch_ids}
    assert got == want


def test_ingest_neardup_reuses_one_index_across_batches(spark):
    """The r10 split API (VERDICT r9 item 2): build_lsh_index runs ONCE
    on history; two successive batch ingests both join that one posting
    frame (batch 2 joins index ∪ batch 1's appended postings — history
    is never re-signatured), and the union of their pairs equals the
    monolithic all-at-once form on (history, batch1 ∪ batch2)."""
    rng = random.Random(82)
    docs = [_doc(rng, 16) for _ in range(20)]
    history = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    b1 = spark.createDataFrame(
        [(1000 + i, _perturb(rng, docs[i], 1)) for i in range(5)]
        + [(1500, _doc(rng, 16))],
        "doc_id long, text string",
    )
    # batch 2 plants twins of history docs AND of a batch-1 doc — the
    # cross-batch pair only appears if ingest 2 sees batch 1's postings.
    b1_rows = {r["doc_id"]: r["text"] for r in b1.collect()}
    b2 = spark.createDataFrame(
        [(2000 + i, _perturb(rng, docs[5 + i], 1)) for i in range(5)]
        + [(2500, _perturb(rng, b1_rows[1000], 1))],
        "doc_id long, text string",
    )

    idx = dedup.build_lsh_index(history, "doc_id", "text")
    p1 = dedup.ingest_neardup(b1, idx, history, "doc_id", "text", threshold=0.5)
    idx2 = idx.unionByName(dedup.build_lsh_index(b1, "doc_id", "text"))
    corpus2 = history.unionByName(b1)
    p2 = dedup.ingest_neardup(b2, idx2, corpus2, "doc_id", "text", threshold=0.5)

    got = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in p1.unionByName(p2).collect()
    }
    want = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in dedup.incremental_minhash_pairs(
            history, b1.unionByName(b2), "doc_id", "text", threshold=0.5
        ).collect()
    }
    assert got == want
    assert (1000, 2500) in got  # the cross-batch twin pair


def test_ingest_neardup_rejects_overlapping_ids(spark):
    """ADVICE r9: an id on both sides must raise, not silently merge
    shingle sets."""
    h = spark.createDataFrame([(1, "a b c d e"), (2, "f g h i j")], "doc_id long, text string")
    b = spark.createDataFrame([(2, "a b c d f"), (3, "k l m n o")], "doc_id long, text string")
    with pytest.raises(ValueError, match="present in both"):
        dedup.incremental_minhash_pairs(h, b, "doc_id", "text").collect()


def test_exact_substring_dedup_spans_keeper_and_tails(spark):
    """exact_substring_dedup (r10, Lee et al. 2022 shape): a repeated
    >=min_run-chunk passage is excised from every occurrence after the
    corpus-order first (including self-repetition within one doc); a
    single-chunk incidental collision survives; tails and zero-chunk
    docs are untouched."""
    P = " ".join(f"p{i}" for i in range(16))  # 2 chunks of 8
    S = " ".join(f"s{i}" for i in range(8))   # 1 chunk
    Q = " ".join(f"q{i}" for i in range(16))  # unique to doc 6
    rows = [
        (0, P + " a b c"),
        (1, P + " d e f"),                    # cross-doc dup run of 2
        (2, S + " " + " ".join(f"x{i}" for i in range(8))),
        (3, S + " " + " ".join(f"y{i}" for i in range(8))),  # run of 1
        (4, P + " " + P),                     # all 4 chunks dup of doc 0
        (5, "short"),                         # zero chunks
        (6, Q + " " + Q),                     # self-repetition only
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["clean_text"], r["n_removed"])
        for r in dedup.exact_substring_dedup(df, "doc_id", "text").collect()
    }
    assert got[0] == (P + " a b c", 0)        # first occurrence keeps
    assert got[1] == ("d e f", 2)             # span excised, tail kept
    assert got[3][1] == 0 and got[3][0].startswith(S)  # min_run keeper
    assert got[4] == ("", 4)                  # fully excised
    assert got[5] == ("short", 0)             # zero-chunk doc untouched
    assert got[6] == (Q, 2)                   # self-repeat: first copy kept


def test_exact_substring_dedup_boundary_straddle_is_a_documented_miss(spark):
    """Pin the docstring's KNOWN MISS MODE (r11, VERDICT r10 item 4):
    chunking aligns to each doc's own token-0, so the SAME >=min_run-
    chunk passage repeated at an offset that is nonzero modulo
    chunk_tokens shares no aligned chunk keys and survives — while the
    identical passage at a chunk-aligned offset in a third doc is
    excised. If this test starts failing with the passage removed, the
    operator gained the offset-sweep/sliding refinement: update the
    docstring and this pin together."""
    P = " ".join(f"p{i}" for i in range(16))  # 2 chunks of 8
    rows = [
        (0, P + " a b c"),                    # first occurrence, aligned
        (1, "u v w " + P),                    # offset 3: straddles chunks
        (2, " ".join(f"z{i}" for i in range(8)) + " " + P),  # offset 8: aligned
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["clean_text"], r["n_removed"])
        for r in dedup.exact_substring_dedup(df, "doc_id", "text").collect()
    }
    assert got[0] == (P + " a b c", 0)
    assert got[1] == ("u v w " + P, 0)        # the documented miss
    z = " ".join(f"z{i}" for i in range(8))
    assert got[2] == (z, 2)                   # aligned copy excised


def test_quality_keeper_dedup_argmax_ties_and_bystanders(spark):
    """quality_keeper_dedup (r9): per cluster the max-quality doc
    survives; quality ties break to min id; docs in no cluster are
    untouched."""
    rows = [
        # cluster {1,2,3}: 2 has top quality
        (1, "x", 5), (2, "x", 9), (3, "x", 7),
        # cluster {10,11}: tie -> min id 10 survives
        (10, "y", 4), (11, "y", 4),
        # bystander, no edges
        (99, "z", 0),
    ]
    df = spark.createDataFrame(rows, "doc_id long, grp string, qual long")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    kept = sorted(
        r["doc_id"]
        for r in dedup.quality_keeper_dedup(df, edges, "doc_id", "qual").collect()
    )
    assert kept == [2, 10, 99]


def test_bloom_antijoin_reuses_one_persisted_bitmap(spark, tmp_path):
    """The r10 bloom split: build the bitmap ONCE, write the bytes to
    disk, read them back, probe two batches through bloom_antijoin —
    each equal to the one-shot form — then grow the filter by OR-merging
    batch 1's bitmap and verify the merged filter equals a from-scratch
    build over the union (append-only growth, no history rescan)."""
    history = spark.createDataFrame([(i,) for i in range(200)], "k long")
    b1 = spark.createDataFrame([(i,) for i in range(150, 250)], "k long")
    b2 = spark.createDataFrame([(i,) for i in range(240, 300)], "k long")

    m, k = 1 << 12, 4
    path = tmp_path / "bloom.bin"
    path.write_bytes(dedup.build_bloom_filter(history, "k", m_bits=m, k=k))
    bloom = path.read_bytes()

    for batch in (b1, b2):
        got = sorted(
            r["k"] for r in dedup.bloom_antijoin(
                batch, bloom, history, "k", m_bits=m, k=k
            ).collect()
        )
        want = sorted(
            r["k"] for r in dedup.bloom_prefiltered_antijoin(
                batch, history, "k", m_bits=m, k=k
            ).collect()
        )
        assert got == want

    merged = bytes(
        a | b for a, b in zip(bloom, dedup.build_bloom_filter(b1, "k", m_bits=m, k=k))
    )
    rebuilt = dedup.build_bloom_filter(history.unionByName(b1), "k", m_bits=m, k=k)
    assert merged == rebuilt

    with pytest.raises(AssertionError, match="must match the build"):
        dedup.bloom_antijoin(b1, bloom[:-1], history, "k", m_bits=m, k=k)


def test_sliding_substring_dedup_catches_the_boundary_straddle(spark):
    """r11: the alignment-free sliding form MUST catch exactly the
    passage the aligned form's documented miss-mode pin
    (test_exact_substring_dedup_boundary_straddle_is_a_documented_miss)
    proves survives — the same corpus, now with the straddled copy
    excised and the aligned copy too; the first occurrence keeps."""
    P = " ".join(f"p{i}" for i in range(16))
    rows = [
        (0, P + " a b c"),
        (1, "u v w " + P),                    # offset 3: the straddle
        (2, " ".join(f"z{i}" for i in range(8)) + " " + P),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["clean_text"], r["n_removed"])
        for r in dedup.sliding_substring_dedup(
            df, "doc_id", "text", window_tokens=8, min_span_tokens=16
        ).collect()
    }
    z = " ".join(f"z{i}" for i in range(8))
    assert got[0] == (P + " a b c", 0)        # first occurrence keeps
    assert got[1] == ("u v w", 16)            # straddle CAUGHT
    assert got[2] == (z, 16)


def test_substring_dedup_pathological_doc_compresses_to_one_run(spark):
    """r12 (VERDICT r11 obs. 2 / item 4): a fully-duplicated long doc —
    every window a duplicate — must carry ONE (start, end) interval
    through the removal join, not ~tokens position rows, and the
    per-token coverage check must still excise it completely. Pins
    both the interval-compression structure (one _duplicate_runs row)
    and the end result on a 400-token full duplicate."""
    import pyspark.sql.functions as F

    n = 400
    text = " ".join(f"t{i}" for i in range(n))
    df = spark.createDataFrame(
        [(0, text), (1, text)], "doc_id long, text string"
    )

    # Structure: one interval row for the duplicated doc.
    C = 8
    d = df.select(F.col("doc_id").alias("id"), F.col("text").alias("text"))
    toks = F.split(F.col("text"), " ")
    idx = F.sequence(F.lit(0), F.size(toks) - C)
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, C)))
    posted = d.select("id", F.posexplode(grams).alias("pos", "g")).select(
        "id", F.col("pos").cast("long").alias("pos"), F.unhex(F.md5("g")).alias("gh")
    )
    runs = dedup._duplicate_runs(posted, "gh", 1).collect()
    assert [(r["id"], r["start"], r["end"]) for r in runs] == [(1, 0, n - C)]

    # End to end: the duplicate doc is excised completely, the first
    # occurrence keeps everything.
    got = {
        r["doc_id"]: (r["clean_text"], r["n_removed"])
        for r in dedup.sliding_substring_dedup(
            df, "doc_id", "text", window_tokens=C, min_span_tokens=16
        ).collect()
    }
    assert got[0] == (text, 0)
    assert got[1] == ("", n)

    # The aligned form agrees (shared helper): one run over all chunks.
    got_aligned = {
        r["doc_id"]: (r["clean_text"], r["n_removed"])
        for r in dedup.exact_substring_dedup(
            df, "doc_id", "text", chunk_tokens=C, min_run=2
        ).collect()
    }
    assert got_aligned[0] == (text, 0)
    assert got_aligned[1] == ("", n // C)  # n_removed counts chunks here


def test_prefix_index_window_df_matches_join_form(spark):
    """r19: the posting index's document frequency moved from a
    groupBy+join-back to a count window over the shingle key (one
    posting exchange instead of two corpus passes + a join). The
    window must reproduce the join form's (id, sh, __df, __pos, __n)
    EXACTLY — same frequencies, same total prefix order — or the
    prefix theorem's no-false-negative guarantee silently breaks."""
    from pyspark.sql import Window, functions as F
    from apache_hadoop_framework_for_peptide_identification_spark.operators.dedup import (
        exploded_shingles,
    )

    docs = spark.createDataFrame(
        [
            (1, "w x y z w x"),
            (2, "w x y z q r"),
            (3, "a b c d e f g"),
            (4, "a b c d e f g"),  # exact twin: every shingle df >= 2
            (5, "q r"),  # below shingle width: whole-text fallback row
        ],
        "doc_id long, text string",
    )
    sh = exploded_shingles(docs, "doc_id", "text", 3).select(
        "id", F.unhex(F.md5("sh")).alias("sh")
    )
    w = Window.partitionBy("id").orderBy("__df", "sh")
    window_form = (
        sh.withColumn("__df", F.count(F.lit(1)).over(Window.partitionBy("sh")))
        .withColumn("__pos", F.row_number().over(w))
        .withColumn("__n", F.count(F.lit(1)).over(Window.partitionBy("id")))
    )
    freq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("__df"))
    join_form = (
        sh.join(freq, "sh")
        .withColumn("__pos", F.row_number().over(w))
        .withColumn("__n", F.count(F.lit(1)).over(Window.partitionBy("id")))
    )
    cols = ["id", "sh", "__df", "__pos", "__n"]
    got = sorted(tuple(r) for r in window_form.select(*cols).collect())
    want = sorted(tuple(r) for r in join_form.select(*cols).collect())
    assert got == want
