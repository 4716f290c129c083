"""Physical-plan regression tests: the scale design in docs/SCALE.md
is asserted, not just documented. A change that silently turns a
broadcast join into a shuffle, loses column pruning, or introduces a
cartesian product fails here before it ever reaches a cluster."""

from __future__ import annotations

import pytest

from apache_hadoop_framework_for_peptide_identification_spark.queries import BENCH_REGISTRY, REGISTRY

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    """Full physical plan of a query as ONE text blob: the input plan
    of every materialization stage plus the final plan.

    r19 materializes multi-consumer frames (and the final-sort input)
    with lazy ``localCheckpoint``, which swaps the logical plan for a
    LogicalRDD at BUILD time — a plain executedPlan() of the returned
    frame would show only `Scan ExistingRDD` above each truncation and
    every pin below it would assert against nothing. Intercepting the
    checkpoint calls recovers each stage's real plan (each stage
    executes exactly once), so the assertions keep covering the whole
    computation."""
    from pyspark.sql.classic.dataframe import DataFrame as _CDF

    stages: list[str] = []
    orig = _CDF.localCheckpoint

    def recording(self, eager=True, storageLevel=None):
        stages.append(self._jdf.queryExecution().executedPlan().toString())
        if storageLevel is None:
            return orig(self, eager=eager)
        return orig(self, eager=eager, storageLevel=storageLevel)

    _CDF.localCheckpoint = recording
    try:
        df = (REGISTRY.get(name) or BENCH_REGISTRY[name]).fn(spark, SF)
    finally:
        _CDF.localCheckpoint = orig
    stages.append(df._jdf.queryExecution().executedPlan().toString())
    return "\n".join(stages)


def test_q02_joins_are_broadcast(spark):
    plan = _plan(spark, "q02_join_revenue_topk")
    assert plan.count("BroadcastHashJoin") == 3, plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q02_topk_avoids_global_sort(spark):
    assert "TakeOrderedAndProject" in _plan(spark, "q02_join_revenue_topk")


def test_q01_scan_is_column_pruned(spark):
    plan = _plan(spark, "q01_scan_filter_agg")
    # lineitem has 12 columns; the Q1 shape needs 7. A full-width scan
    # means pruning broke.
    scan_line = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    assert "l_orderkey" not in scan_line, scan_line
    assert "l_shipdate" in scan_line


def test_q01_filter_pushed_to_scan(spark):
    plan = _plan(spark, "q01_scan_filter_agg")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan, plan


def test_q40_shuffles_hash_not_text(spark):
    """Exact dedup must shuffle the content HASH, not document text."""
    plan = _plan(spark, "q40_dedup_exact")
    exchanges = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert exchanges, plan
    assert not any("text#" in l for l in exchanges), exchanges


def test_q177_detection_exchanges_never_carry_text(spark):
    """Exact substring-span dedup: every hash-partitioned exchange in
    the detection path must carry the 16-byte chunk key / integer
    positions, never document text or raw chunk strings. The one place
    text may move is the final removal-set join keyed by id (broadcast
    at this scale, co-located via bucketing at 100 TB) — so exchanges
    carrying `text#` are allowed ONLY if they partition on the doc id,
    and `chunk#` (the raw chunk string) must appear in none."""
    plan = _plan(spark, "q177_exact_substring_dedup")
    exchanges = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert exchanges, plan
    assert not any("chunk#" in l and "chunk_h#" not in l for l in exchanges), exchanges
    bad_text = [l for l in exchanges if "text#" in l and "id#" not in l]
    assert not bad_text, bad_text


@pytest.mark.parametrize(
    "name", ["q177_exact_substring_dedup", "q182_sliding_substring_dedup"]
)
def test_substring_dedup_keeper_aggregate_is_hash(spark, name):
    """The first-occurrence keeper aggregate must run as HashAggregate
    on BOTH sides (map-side partial combine + final reduce), never the
    SortAggregate fallback min(struct) silently triggers — struct
    buffers are not UnsafeRow-mutable, so the struct form pays two
    extra sorts keyed on billions of posting rows at 100 TB. The
    packed DECIMAL(38,0) key (_packed_corpus_order) exists exactly to
    keep this shape; interleaved A/B at sf0.1 measured the packed form
    0.80× the struct form end-to-end."""
    plan = _plan(spark, name)
    mins = [l for l in plan.splitlines() if "_min(" in l or "min(" in l]
    sort_mins = [l for l in mins if "SortAggregate" in l]
    assert not sort_mins, sort_mins
    # Anchor on the packed keeper itself (ADVICE r11): the min must be
    # over the DECIMAL(38,0) packed (id, pos) key, so an unrelated
    # min() elsewhere in the plan cannot satisfy the assertion.
    keeper = [l for l in mins if "min(" in l and "decimal(38,0)" in l]
    assert any("HashAggregate" in l for l in keeper), plan


@pytest.mark.parametrize(
    "name",
    [
        "q184_warc_parse_ladder",
        "q185_warc_sink_roundtrip",
        "q187_http_status_mime_gate",
    ],
)
def test_warc_ladders_are_projections_until_the_sort(spark, name):
    """r12 WARC queries: framing/parsing/extraction are scan-time
    projections — the ONLY exchange in either plan is the final
    orderBy's range partitioning. A hash exchange appearing here means
    a parse stage started shuffling record text."""
    plan = _plan(spark, name)
    exchanges = [l for l in plan.splitlines() if "Exchange" in l]
    bad = [l for l in exchanges if "rangepartitioning" not in l]
    assert not bad, bad


def test_q44_corpus_never_shuffles(spark):
    """Brute-force ANN broadcasts the query side; the corpus join must
    be broadcast, with the only exchange the final window/rank."""
    plan = _plan(spark, "q44_ann_cosine_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan


@pytest.mark.parametrize("name", ["q45_ann_lsh", "q67_embedding_neardup_lsh"])
def test_lsh_exchanges_never_carry_vectors(spark, name):
    """The bands-x banded explode must carry (id, band, bucket) only —
    round-1 VERDICT wrong-list #3: duplicating vec+norm per band makes
    candidate-join shuffle bytes bands x vector-size x rows. Vectors
    re-join to surviving candidate pairs instead, so NO exchange in the
    plan may carry an embedding/vector column."""
    plan = _plan(spark, name)
    banded = [l for l in plan.splitlines() if "Generate explode" in l]
    assert banded, plan  # the banding must exist at all
    bad = [
        l
        for l in banded
        if "embedding#" in l or "_vec#" in l or "norm#" in l or "vvec#" in l
    ]
    assert not bad, bad


def test_q56_stream_static_join_is_broadcast(spark):
    # Build the underlying plan in batch mode to inspect the join
    # strategy (the streaming plan uses the same physical join).
    from apache_hadoop_framework_for_peptide_identification_spark.catalog import load_table
    from apache_hadoop_framework_for_peptide_identification_spark.streaming.windows import (
        stream_static_join,
    )

    ev = load_table(spark, SF, "events").withColumnRenamed("user_id", "c_custkey")
    dim = load_table(spark, SF, "customer").select("c_custkey", "c_mktsegment")
    plan = (
        stream_static_join(ev, dim, "c_custkey")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan, plan


def test_no_cartesian_products_anywhere(spark):
    """Cross-check every batch relational query for accidental
    cartesian products (theta/range joins legitimately broadcast a
    SMALL side via BroadcastNestedLoopJoin; a CartesianProduct of two
    big sides is always a bug)."""
    skip_prefixes = ("q5", "q6")  # streaming / UDF / source queries: slow or stateful
    offenders = []
    for name in REGISTRY:
        if name.startswith(skip_prefixes):
            continue
        try:
            plan = _plan(spark, name)
        except Exception:
            continue
        if "CartesianProduct" in plan:
            offenders.append(name)
    # q12 theta pairs and q66 exact near-dup are DOCUMENTED quadratic
    # validation baselines (small inputs by contract).
    allowed = {"q12_join_theta_pairs", "q66_embedding_neardup"}
    assert set(offenders) <= allowed, offenders


def test_q85_benchmark_shingles_broadcast_corpus_text_never_shuffles(spark):
    """Decontamination: the benchmark shingle set must broadcast, and no
    exchange may carry document text — only (id, count) pairs move."""
    plan = _plan(spark, "q85_contamination_check")
    assert "BroadcastHashJoin" in plan, plan
    exchanges = [l for l in plan.splitlines() if "Exchange" in l]
    assert not any("text#" in l for l in exchanges), exchanges


def test_q86_sampling_adds_no_shuffle_before_sort(spark):
    """Stratified mod-sampling is a pure row predicate: the only
    exchange allowed is the final presentation orderBy."""
    plan = _plan(spark, "q86_stratified_sample")
    exchanges = [l for l in plan.splitlines() if "Exchange" in l]
    assert all("rangepartitioning" in l for l in exchanges), exchanges


def test_q92_quantized_corpus_join_is_broadcast(spark):
    plan = _plan(spark, "q92_ann_quantized")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan


def test_q102_bm25_has_no_data_shuffle(spark):
    """BM25 scoring: corpus stats are ONE single-row aggregate broadcast
    back over the scan; the only exchanges allowed are the single-row
    stats reduction and its broadcast. Scoring itself must be a pure
    per-row expression feeding a TakeOrdered heap — never a sort or a
    shuffle of document rows."""
    plan = _plan(spark, "q102_bm25_topk")
    assert "TakeOrderedAndProject" in plan, plan
    assert "SortMergeJoin" not in plan
    exchanges = [
        l for l in plan.splitlines() if "Exchange" in l and "Broadcast" not in l
    ]
    assert all("SinglePartition" in l for l in exchanges), exchanges


def test_q103_top_ngrams_partial_aggregates_before_shuffle(spark):
    """Heavy hitters: the bigram count must ride map-side partial
    aggregation (HashAggregate below the exchange) and the top-k must
    be a TakeOrdered heap, not a global sort."""
    plan = _plan(spark, "q103_top_ngrams")
    assert "TakeOrderedAndProject" in plan, plan
    before_exchange = plan.split("Exchange hashpartitioning")[-1]
    assert "HashAggregate" in before_exchange, plan


def test_q100_paragraph_dedup_never_shuffles_document_text(spark):
    """Paragraph dedup shuffles CHUNKS (the dedup payload — that's the
    floor), never whole-document text."""
    plan = _plan(spark, "q100_paragraph_dedup")
    exchanges = [l for l in plan.splitlines() if "Exchange" in l]
    assert any("chunk#" in l for l in exchanges), exchanges
    assert not any("text#" in l for l in exchanges), exchanges


def test_q104_profile_is_one_expand_pass(spark):
    """Multi-column exact distinct must plan as a single grouping-sets
    Expand, not one aggregation job per column."""
    plan = _plan(spark, "q104_profile_table")
    assert plan.count("Expand") >= 1, plan
    scans = [l for l in plan.splitlines() if "FileScan parquet" in l]
    assert len(scans) == 1, scans


def test_q108_temperature_mixing_quotas_broadcast(spark):
    """The per-stratum quota table (|strata| rows) must broadcast back
    onto the corpus — a shuffled join there would move every doc row
    for a handful of quotas."""
    plan = _plan(spark, "q108_temperature_mixing")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_q101_lm_familiarity_exchanges_never_carry_text(spark):
    """LM scoring shuffles BIGRAMS (the join key and payload), never
    whole-document text; train counts ride map-side partials."""
    plan = _plan(spark, "q101_lm_familiarity")
    exchanges = [l for l in plan.splitlines() if "Exchange" in l]
    assert exchanges, plan
    assert not any("text#" in l for l in exchanges), exchanges


def test_q113_minhash_pipeline_exchanges_never_carry_text(spark):
    """The verified MinHash pipeline shuffles shingles, hashes, and
    (band, bucket) triples — document text itself must never enter an
    exchange."""
    plan = _plan(spark, "q113_minhash_verified_dedup")
    exchanges = [l for l in plan.splitlines() if "Exchange" in l]
    assert exchanges, plan
    assert not any("text#" in l for l in exchanges), exchanges


def test_python_datasource_uneven_partitions(spark):
    """Spark 4 Python Data Source (sources/pyds.py): proportional chunking
    must cover [0, n) exactly once even when parts does not divide n —
    union of chunks is a partition of the id space (no gaps, no overlap),
    and the pid column reflects the planned split."""
    from apache_hadoop_framework_for_peptide_identification_spark.sources import pyds

    pyds.register(spark)
    df = spark.read.format("synthseq").option("n", 103).option("parts", 7).load()
    rows = df.collect()
    ids = sorted(r["id"] for r in rows)
    assert ids == list(range(103))
    # per-pid chunks are contiguous and ordered
    by_pid = {}
    for r in rows:
        by_pid.setdefault(r["pid"], []).append(r["id"])
    assert sorted(by_pid) == list(range(7))
    lo = 0
    for p in range(7):
        chunk = sorted(by_pid[p])
        assert chunk == list(range(chunk[0], chunk[-1] + 1))
        assert chunk[0] == lo
        lo = chunk[-1] + 1
    assert all(r["val"] == (r["id"] * r["id"]) % 97 for r in rows)


def test_q124_lateral_decorrelates_to_window_group_limit(spark):
    """The LATERAL correlated ORDER BY/LIMIT must decorrelate into a
    ranked-window plan with Spark's WindowGroupLimit pushdown (top-k
    filtering BEFORE the full window sort materializes) and a
    broadcast join — never a per-row nested loop."""
    plan = _plan(spark, "q124_lateral_topn")
    assert "WindowGroupLimit" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q123_hll_sketches_aggregate_map_side(spark):
    """Sketch build must be partial+final (ObjectHashAggregate both
    sides of the exchange): the shuffle carries one sketch per
    (partition, group), never rows."""
    plan = _plan(spark, "q123_hll_sketch_union")
    assert plan.count("ObjectHashAggregate") >= 2, plan


def test_q121_prefix_join_input_smaller_than_full_postings(spark):
    """The PPJoin prefix side must be a strict subset of the full
    posting list (the pruning that produces the q121 crossover) —
    measured, not assumed, on the same twin-planted corpus."""
    from pyspark.sql import functions as F

    from apache_hadoop_framework_for_peptide_identification_spark.catalog import load_table
    from apache_hadoop_framework_for_peptide_identification_spark.operators import dedup
    from apache_hadoop_framework_for_peptide_identification_spark.queries.llm import (
        _plant_text_twins,
    )

    d = _plant_text_twins(load_table(spark, SF, "documents"))
    sh = dedup.exploded_shingles(d, "doc_id", "text", 4)
    full = sh.count()
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    t = 0.6
    prefix_rows = sizes.select(
        F.sum(F.col("n") - F.ceil(F.lit(t) * F.col("n")) + 1).alias("p")
    ).collect()[0]["p"]
    assert prefix_rows < 0.5 * full, (prefix_rows, full)


def test_q151_bucketed_join_has_no_join_side_exchange(spark):
    """q151's sort-merge join must read co-located buckets: an
    Exchange hash-partitioned on either JOIN key means the bucketing
    metadata was lost and the write-time shuffle is being paid again
    at read time. (The aggregation and presentation sort downstream
    legitimately exchange on their own keys.)"""
    plan = _plan(spark, "q151_bucketed_colocated_join")
    assert "SortMergeJoin" in plan, plan
    for key in ("hashpartitioning(l_orderkey", "hashpartitioning(o_orderkey"):
        assert key not in plan, f"join-side shuffle reintroduced: {key}\n{plan}"


def test_q163_target_stats_are_broadcast(spark):
    """q163's scale contract: the ≤4096-row target-count side must
    BROADCAST — a shuffled hash join here would shuffle every
    (doc, bucket) pair against the model instead of streaming past a
    replicated map."""
    plan = _plan(spark, "q163_importance_resampling")
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_q150_sketch_estimate_join_is_broadcast(spark):
    """q150's estimate (≤1000 rows exploded from one combined sketch)
    joins the exact top-10 — that side must broadcast, never shuffle."""
    plan = _plan(spark, "q150_sketch_top_ngrams")
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_q164_chunk_join_exchanges_never_carry_chunk_text(spark):
    """q164's r8 contract: the posting join shuffles 16-byte
    unhex(md5(chunk)) keys — the raw 8-token chunk string must never
    appear in ANY exchange (at 100 TB that is the difference between
    shuffling the corpus and shuffling a fixed-width index)."""
    plan = _plan(spark, "q164_shared_span_pairs")
    exchanges = [l for l in plan.splitlines() if "Exchange" in l]
    assert exchanges, plan
    assert not any("chunk#" in l for l in exchanges), exchanges


def test_q165_containment_prefix_strictly_smaller_than_full_postings(spark):
    """The asymmetric prefix side must be a strict subset of the full
    posting list (at t=0.9 roughly ~10% of each doc's shingles plus
    one) — measured on q165's crop-planted corpus, the pruning that
    produces its BASELINE.md row."""
    from pyspark.sql import functions as F

    from apache_hadoop_framework_for_peptide_identification_spark.catalog import load_table
    from apache_hadoop_framework_for_peptide_identification_spark.operators import dedup

    d = load_table(spark, SF, "documents")
    crops = d.select(
        (F.col("doc_id") + F.lit(100_000)).alias("doc_id"),
        F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 1, 20)).alias("text"),
    )
    corpus = d.select("doc_id", "text").unionByName(crops)
    sh = dedup.exploded_shingles(corpus, "doc_id", "text", 4)
    full = sh.count()
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    t = 0.9
    prefix_rows = sizes.select(
        F.sum(F.col("n") - F.ceil(F.lit(t) * F.col("n")) + 1).alias("p")
    ).collect()[0]["p"]
    assert prefix_rows < 0.2 * full, (prefix_rows, full)


def test_prefix_filter_exchanges_carry_hashed_shingles_only(spark):
    """r16 (VERDICT r15 item 1): the PPJoin / containment posting
    payload is the 16-byte md5 of each shingle, never the raw string —
    the r15 shuffle audit measured ~35% of q121's 191.8 MB exchange
    volume as raw-shingle bytes. Pin it by TYPE, not name (the raw and
    hashed columns are both named ``sh``): with AQE off (so
    EnsureRequirements' exchanges are visible in executedPlan) and a
    multi-partition input (so they are actually inserted), walk the
    plan tree and assert NO exchange output carries a string-typed
    column except ``text`` on the test harness's own RoundRobin
    repartition — and that binary ``sh`` attrs DO ride the shuffles
    (proof the walker is looking at the live columns). The posting
    index is materialized before its consumers, which swaps its plan
    for a LogicalRDD; intercepting ``localCheckpoint`` (as ``_plan``
    does) recovers each materialized frame so its exchanges are walked
    too."""
    from pyspark.sql.classic.dataframe import DataFrame as _CDF

    from apache_hadoop_framework_for_peptide_identification_spark.catalog import load_table
    from apache_hadoop_framework_for_peptide_identification_spark.operators import dedup

    d = load_table(spark, SF, "documents").repartition(8)
    aqe_before = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    orig = _CDF.localCheckpoint
    try:
        from tests.planwalk import exchanges as walk_exchanges

        for fn in (dedup.prefix_jaccard_pairs, dedup.containment_prefix_pairs):
            stages = []

            def recording(self, eager=True, storageLevel=None):
                stages.append(self)
                if storageLevel is None:
                    return orig(self, eager=eager)
                return orig(self, eager=eager, storageLevel=storageLevel)

            _CDF.localCheckpoint = recording
            try:
                df = fn(d, "doc_id", "text", n=3)
            finally:
                _CDF.localCheckpoint = orig
            assert stages, f"{fn.__name__}: no materialization was intercepted"
            # AQE-proof shared walker (r18), over every stage's plan
            exchanges = [n for f in stages + [df] for n in walk_exchanges(f)]
            assert exchanges, "no exchanges found — the walker went blind"
            bad, binary_sh = [], 0
            for node in exchanges:
                out = node.output()
                for i in range(out.size()):
                    attr = out.apply(i)
                    t = attr.dataType().typeName()
                    if t == "string" and attr.name() != "text":
                        bad.append((fn.__name__, attr.name()))
                    if attr.name() in ("sh", "s_a", "s_b") and t == "binary":
                        binary_sh += 1
            assert not bad, f"raw strings riding exchanges: {bad}"
            assert binary_sh >= 5, (
                f"{fn.__name__}: expected >= 5 binary sh/s_a/s_b columns on "
                f"exchange outputs (the hashed-shingle payload), got {binary_sh}"
            )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe_before)


def test_q165_has_no_nested_loop_join(spark):
    """Containment candidates come from equi-joins only — a
    BroadcastNestedLoopJoin or CartesianProduct here means the prefix
    join degenerated to all-pairs."""
    plan = _plan(spark, "q165_containment_prefix_corpus")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_q166_fuzzy_join_is_equi_on_length(spark):
    """The fuzzy join must be an EQUI-join on the exploded length band
    — a nested-loop join means the banding was lost and every pair
    pays the levenshtein DP (the stock form this query's BASELINE.md
    row measures against)."""
    plan = _plan(spark, "q166_fuzzy_title_corpus")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "blen" in plan, plan


def test_q168_salted_exchanges_carry_salt(spark):
    """q168's skew contract: every pre-aggregation exchange must key on
    the salt alongside the group key — an exchange hash-partitioned on
    skew_key ALONE recreates the hot partition the operators exist to
    prevent."""
    plan = _plan(spark, "q168_skew_adversarial_join")
    join_aggr_exchanges = [
        l
        for l in plan.splitlines()
        if "Exchange hashpartitioning" in l and "skew_key" in l
    ]
    assert join_aggr_exchanges, plan
    bad = [l for l in join_aggr_exchanges if "__salt" not in l]
    # the FINAL phase-2 merge legitimately exchanges on skew_key alone
    # (its input is <= keys x buckets partial rows, never skewed)
    assert len(bad) <= 1, bad


def test_q173_two_path_join_all_broadcast_no_sort_merge(spark):
    """The two-path hot-key join's plan contract (docs/SCALE.md joins;
    reworked r11): the hot/cold splits are literal isin/isnull FILTERS
    (the hot set is driver-local under the max_hot_keys guard), so the
    plan holds exactly TWO joins — one per path — both broadcast-hash;
    no sort-merge join, no cartesian product, and no split-side join
    or broadcast nodes at all (the pre-r11 broadcast semi/anti form
    stamped four extra broadcast subtrees rebuilt per fresh plan —
    the bench regression BASELINE.md's round-11 note documents)."""
    plan = _plan(spark, "q173_hot_key_two_path_join")
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastHashJoin") == 2, plan
    assert plan.count("BroadcastExchange") == 2, plan


def test_q189_composition_one_corpus_shuffle(spark):
    """The r13 end-to-end crawl-ladder composition's plan contract
    (docs/SCALE.md crawl ladder): every stage between the WARC scan
    and the keeper window is a projection or a broadcast join, so the
    CORPUS pays exactly ONE hash exchange — the canonical-URL keeper
    window (with the partial/final WindowGroupLimit top-1 prune) —
    plus the final presentation sort. All other exchanges belong to
    the tiny robots rule-frame subtree and must never carry corpus
    columns (payload/clean_text/target_uri/canon_url)."""
    plan = _plan(spark, "q189_crawl_ladder_e2e")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "WindowGroupLimit" in plan, plan  # keeper top-1 prune
    corpus_cols = ("payload#", "clean_text#", "target_uri#", "canon_url#")
    hash_ex = [
        l for l in plan.splitlines()
        if "Exchange hashpartitioning" in l and any(c in l for c in corpus_cols)
    ]
    # exactly one corpus-bearing hash exchange: the keeper window's
    assert len(hash_ex) == 1 and "canon_url#" in hash_ex[0], hash_ex


def test_q194_q196_recall_eval_plan_contracts(spark):
    """The r14 ANN recall-eval anchors' plan contracts: no cartesian
    products; the ONLY nested-loop joins are the documented
    broadcast-theta self-exclusions (cosine_topk's `q_id != n_id` with
    the tiny query side broadcast — one corpus scan, zero corpus
    shuffle); the cell/candidate joins are hash or broadcast-hash
    equi-joins; and the metric reduction is ONE LeftOuter join (the
    q193 single-execution-lineage rule — truth lineage is never fanned
    into parallel branches)."""
    for name in ("q194_ann_ivf_recall", "q196_ann_pq_recall"):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        for ln in plan.splitlines():
            if "BroadcastNestedLoopJoin" in ln:
                assert "NOT (q_id" in ln, (name, ln)
        left_outer = [
            ln for ln in plan.splitlines()
            if "Join" in ln and "LeftOuter" in ln
        ]
        assert len(left_outer) == 1, (name, left_outer)


def test_crawl_keeper_window_exchanges_are_slim(spark, tmp_path):
    """streaming/crawl.py's corpus-scale contract (r17): the stored
    keeper set is re-read EVERY micro-batch, so the keeper-window
    exchange must carry only (canon_url, rec_id, qual) — document text
    and provenance extras stay in their parquet files (column-pruned
    scan) and move exactly once, through the winners' rec_id join.
    Builds a real two-batch store, then walks _current_slim's executed
    plan (AQE off so EnsureRequirements' exchanges are visible) and
    asserts no exchange output carries a string column beyond the
    canonical-URL key itself; the full crawl_store_keepers read is
    then checked to still return payload columns (the join did its
    job) with clean_text absent from every WINDOW exchange."""
    from pyspark.sql import functions as F

    from apache_hadoop_framework_for_peptide_identification_spark.operators import warc as W
    from apache_hadoop_framework_for_peptide_identification_spark.streaming import crawl as C

    crlf = "\r\n"

    def rec(rid: int, url: str, body: str) -> str:
        payload = (
            "HTTP/1.1 200 OK" + crlf + "Content-Type: text/html" + crlf + crlf
            + f"<html><body><p>{body}</p></body></html>"
        )
        return (
            "WARC/1.0" + crlf + "WARC-Type: response" + crlf
            + f"WARC-Record-ID: <urn:doc:{rid}>" + crlf
            + f"WARC-Target-URI: {url}" + crlf
            + f"Content-Length: {len(payload.encode())}" + crlf + crlf
            + payload + crlf + crlf
        )

    store = str(tmp_path / "pstore")
    rid_col = W.warc_header(F.col("record"), "WARC-Record-ID")
    id_expr = F.regexp_extract(rid_col, r"urn:doc:(\d+)", 1).cast("long")
    qual = (F.col("rec_id") * 7) % 10
    topic = F.when(F.col("rec_id") % 2 == 0, F.lit("news")).otherwise(F.lit("blog"))
    for i, rows in enumerate([[1, 2, 3], [4, 5]]):
        bdf = spark.createDataFrame(
            [(rec(r, f"https://p.example.com/u{r}", f"body {r} words"),) for r in rows],
            "record string",
        ).repartition(4)
        C._crawl_ingest_batch(spark, bdf, store, i, id_expr, qual, {"topic": topic}, ())

    aqe_before = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        from tests.planwalk import exchanges as walk_exchanges

        def exchange_strings(df):
            found = []
            for node in walk_exchanges(df):  # AQE-proof shared walker
                out = node.output()
                for j in range(out.size()):
                    a = out.apply(j)
                    if a.dataType().typeName() == "string":
                        found.append(a.name())
            return found

        slim_strings = set(exchange_strings(C._current_slim(spark, store, None)))
        assert slim_strings <= {"canon_url"}, slim_strings

        # Batch-bounding pin (r18 — VERDICT r17 item 3): with a
        # url_filter, the keeper window's hashpartitioning(canon_url)
        # exchange must be fed THROUGH the broadcast LeftSemi join on
        # the batch's URLs — the window input is O(batch ∩ store), not
        # O(store). Locate the keyed exchange and assert a LeftSemi
        # broadcast join lives in ITS subtree (below the shuffle).
        from tests.planwalk import iter_plan_nodes

        flt = spark.createDataFrame(
            [("https://p.example.com/u1",)], "canon_url string"
        )
        bounded = C._current_slim(spark, store, None, url_filter=flt)
        keyed_ex = [
            n for n in walk_exchanges(bounded)
            if "canon_url" in n.outputPartitioning().toString()
        ]
        assert keyed_ex, "no keeper-window exchange found — walker blind"
        semi_below = [
            sub.getClass().getSimpleName()
            for ex in keyed_ex
            for sub in iter_plan_nodes(ex)
            if "Join" in sub.getClass().getSimpleName()
            and "LeftSemi" in sub.joinType().toString()
        ]
        assert semi_below, (
            "keeper-window exchange input is not batch-bounded: no "
            "LeftSemi join below the canon_url shuffle"
        )
        # and the bounded read agrees with the unbounded one on the
        # filtered URL (semantic guard for the pin)
        got_b = {r["rec_id"] for r in bounded.collect()}
        want = {
            r["rec_id"]
            for r in C._current_slim(spark, store, None)
            .filter(F.col("canon_url") == "https://p.example.com/u1")
            .collect()
        }
        assert got_b == want, (got_b, want)

        full = C.crawl_store_keepers(spark, store)
        # payload present in the result, absent from the window side:
        # clean_text may cross ONCE in the rec_id payload join, so
        # assert on the WINDOW exchange only — it is the hash exchange
        # keyed on canon_url; text must never appear beside that key.
        bad = []
        for node in walk_exchanges(full):
            out = node.output()
            names = {out.apply(j).name() for j in range(out.size())}
            if "canon_url" in names and "clean_text" in names:
                bad.append(sorted(names))
        assert not bad, f"text riding the keeper-window exchange: {bad}"
        got = {r["rec_id"]: (r["topic"], r["clean_text"]) for r in full.collect()}
        assert set(got) == {1, 2, 3, 4, 5} and got[1][1] == "body 1 words"
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe_before)


def test_trained_model_scorers_never_shuffle_text(spark):
    """The q198/q202 scale claim pinned structurally (r17): both
    trained-model scorers — char_ngram_lid and quality_gate — reduce
    the corpus to (id, bucket) AT THE SCAN and aggregate map-side, so
    no exchange in either plan may carry the document text column.
    The model side is a broadcast; the only strings allowed on any
    exchange are the tiny categorical label."""
    from pyspark.sql import functions as F

    from apache_hadoop_framework_for_peptide_identification_spark.operators import text as T

    train = spark.createDataFrame(
        [("keep", "the cat sat on the mat"), ("drop", "click here subscribe now")],
        "lang string, text string",
    )
    model = T.train_char_ngram_lid(train, "text", "lang", n=3, buckets=512)
    docs = spark.createDataFrame(
        [(i, "the cat and the dog sat on the mat today") for i in range(50)],
        "doc_id long, text string",
    ).repartition(8)

    aqe_before = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        from tests.planwalk import exchanges as walk_exchanges
        from tests.planwalk import keyed_exchange_strings

        for label, df in (
            ("char_ngram_lid",
             T.char_ngram_lid(docs, "doc_id", "text", model, n=3, buckets=512)),
            ("quality_gate",
             T.quality_gate(docs, "doc_id", "text", model, n=3, buckets=512)),
        ):
            # the test harness's own .repartition(8) is a RoundRobin
            # move and legitimately carries text; the pin targets KEYED
            # exchanges (the q201 rule) — AQE-proof shared walker (r18)
            keyed = [
                n for n in walk_exchanges(df)
                if "RoundRobin" not in n.outputPartitioning().toString()
            ]
            assert keyed, f"{label}: walker went blind"
            bad = [(label, c) for c, _ in keyed_exchange_strings(df, allow=("lang",))]
            assert not bad, f"document text riding keyed exchanges: {bad}"
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe_before)
