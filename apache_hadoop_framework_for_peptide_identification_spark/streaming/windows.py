"""Structured Streaming operators (SURVEY.md §2B streaming table).

The events fixture replays as a file stream; every operator here is a
standard streaming transformation, so on a real cluster the same code
runs against Kafka/files with checkpointed, incremental state. Local
tests drive them synchronously with availableNow + a memory sink.

Watermarks bound state: a 1-hour watermark on a 1-hour window keeps at
most ~2 hours of window state per key regardless of total data volume —
that, not the window itself, is what makes these safe at 100 TB/day.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..catalog import normalize_events_ts
from ..session import configure


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a file stream, schema taken from the batch
    parquet footer and ``ts`` normalized by the SAME function as the
    batch catalog (catalog.normalize_events_ts).

    The stream must never re-declare what the footer already states:
    a hardcoded schema string is a second copy of the fixture contract
    that silently diverges when the fixture is regenerated (this
    exact failure shipped in round 4 — nanos layout pinned while the
    fixture moved to micros). Reading the footer costs one metadata
    read at plan time; a Kafka deployment would carry the schema in
    the registry the same way.
    """
    configure(spark)
    raw_schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    raw = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_events_ts(raw)


def tumbling_agg(events: DataFrame, duration: str = "1 hour", watermark: str = "1 hour") -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", duration).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "user_id", "n_events", "sum_value")
    )


def sliding_agg(
    events: DataFrame,
    duration: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", duration, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )


def session_agg(events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour") -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def stream_dedup(events: DataFrame, keys: list[str], watermark: str = "1 hour") -> DataFrame:
    """Exactly-once-per-key within the watermark horizon — state holds
    only keys newer than the watermark."""
    return events.withWatermark("ts", watermark).dropDuplicates(keys)


def stream_static_join(events: DataFrame, dim: DataFrame, on: str) -> DataFrame:
    """Enrich a stream with a static dimension (broadcast per micro-batch)."""
    return events.join(F.broadcast(dim), on, "left")


def stream_scd2_enrich(
    stream: DataFrame,
    dim: DataFrame,
    key: str,
    ts_col: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
) -> DataFrame:
    """Point-in-time stream enrichment against an SCD2 dimension: each
    streamed row left-joins the dimension VERSION whose
    [valid_from, valid_to) interval contains the row's event time
    (open current version: valid_to IS NULL). The streaming twin of
    the batch as-of/point-in-time join (q130) — the dimension history
    is broadcast per micro-batch, so the stream never shuffles. SCD2
    intervals tile time per key, so at most one version matches — no
    row multiplication. Refresh caveat (measured r8,
    tests/test_streaming.py): for PLAIN FILE sources the static
    side's file listing is snapshotted at plan time — dim files
    appended mid-query are NOT seen by later batches. Within one run
    that snapshot consistency is exactly what point-in-time semantics
    want; to pick up dimension refreshes use a catalog-backed table
    (Delta/Iceberg re-resolve per batch) or rebuild the join per
    batch in foreachBatch. Column names in ``dim`` must not collide
    with the stream except the key, which is dropped from the dim
    side."""
    cond = (
        (stream[key] == dim[key])
        & (dim[valid_from] <= stream[ts_col])
        & (dim[valid_to].isNull() | (stream[ts_col] < dim[valid_to]))
    )
    return stream.join(F.broadcast(dim), cond, "left").drop(dim[key])


def stream_enrich_refreshed(
    stream: DataFrame,
    dim_loader,
    on: str | list[str],
    out_dir: str,
    checkpoint_dir: str,
    how: str = "left",
) -> None:
    """Stream enrichment against a dimension RE-RESOLVED every
    micro-batch (VERDICT r8 item 4 — completes q167's documented
    limitation, docs/SCALE.md Streaming): a plain-file static join
    side snapshots its file listing at plan time, so dimension
    updates landing mid-stream are invisible. This form calls
    ``dim_loader()`` INSIDE foreachBatch — a fresh batch read per
    micro-batch, exactly what a catalog-backed (Delta/Iceberg) static
    side does by re-resolving its snapshot — so batch N joins the
    dimension AS OF batch N, and a mid-stream dimension change
    affects only later batches.

    The refreshed dimension is broadcast per batch (the stream side
    never shuffles); the sink is IDEMPOTENT PER BATCH (ADVICE r9): each
    micro-batch overwrites its own ``batch_id=N`` subdirectory, so a
    batch replayed after a failure (crash between the write and the
    checkpoint commit) replaces its previous attempt instead of
    appending duplicates — overwrite-by-batch-id is the standard
    exactly-once foreachBatch recipe for non-transactional sinks.
    Readers see ``batch_id`` as a discovered partition column on
    ``spark.read.parquet(out_dir)``; select it away if unwanted.
    Layout-migration guard (ADVICE r10): this sink layout changed in
    r10 from flat append into ``out_dir`` to ``batch_id=N``
    subdirectories — a stream RESUMED from a pre-change checkpoint
    over a pre-change ``out_dir`` would mix flat part files with
    partition dirs, which ``spark.read.parquet(out_dir)`` rejects
    with a conflicting-directory-structures error only at read time.
    The start path therefore fails fast: pre-existing FLAT data files
    directly under ``out_dir`` raise ValueError before any batch
    runs — migrate the old files into a ``batch_id=-1`` subdirectory
    or point the resumed stream at a fresh ``out_dir``. Cost
    at 100 TB: one dimension scan + broadcast per micro-batch —
    bound it by keeping the dimension path pruned (partition pruning
    applies inside the loader's read) or by lowering trigger
    frequency; if the dimension must NOT move within a run, use the
    plan-time-snapshot form (stream_scd2_enrich) instead — the two
    semantics are both real, which is why both operators exist."""
    on_cols = [on] if isinstance(on, str) else list(on)

    # Fail fast on a pre-r10 flat layout (see docstring). Hadoop FS
    # API so non-local out_dirs get the same guard; hidden/_metadata
    # names are Spark's own bookkeeping, not data files.
    spark = stream.sparkSession
    jpath = spark._jvm.org.apache.hadoop.fs.Path(out_dir)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(jpath):
        for st in fs.listStatus(jpath):
            name = st.getPath().getName()
            if st.isFile() and not name.startswith((".", "_")):
                raise ValueError(
                    f"stream_enrich_refreshed: out_dir {out_dir!r} contains a "
                    f"flat data file ({name!r}) from the pre-batch_id sink "
                    "layout; mixing it with batch_id=N partition dirs makes "
                    "the directory unreadable. Migrate existing flat files "
                    "into a batch_id=-1 subdirectory or use a fresh out_dir."
                )

    def fb(bdf: DataFrame, batch_id: int) -> None:
        dim = dim_loader()
        bdf.join(F.broadcast(dim), on_cols, how).write.mode("overwrite").parquet(
            f"{out_dir}/batch_id={batch_id}"
        )

    q = (
        stream.writeStream.foreachBatch(fb)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _batch_ids(spark: SparkSession, path: str) -> list[int] | None:
    """The N of every ``batch_id=N`` partition directory under ``path``,
    or None when ``path`` does not exist. Hadoop FS listing, so it works
    on any scheme; a ``batch_id=`` name that is not an integer is a
    foreign layout dir and is skipped."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(p):
        return None
    ids = []
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("batch_id="):
            try:
                ids.append(int(name.split("=", 1)[1]))
            except ValueError:
                continue
    return ids


def _max_batch_id(spark: SparkSession, path: str) -> int:
    """Highest batch_id=N partition under ``path`` (-1 when none/absent),
    shared by the store-backed streaming operators' fresh-checkpoint
    guards."""
    return max(_batch_ids(spark, path) or [-1])


def _guard_fresh_checkpoint(
    spark: SparkSession, store_path: str, checkpoint_dir: str, caller: str
) -> None:
    """Refuse a FRESH checkpoint over an EXISTING store (ADVICE r11):
    foreachBatch batch ids are numbered by the checkpoint, so a new
    checkpoint restarts ids at 0 and the first batches silently
    OVERWRITE the batch_id=0.. partitions holding older, unrelated
    batches — losing store data and breaking the disjoint-id premise
    the exactly-once argument rests on."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    max_batch = _max_batch_id(spark, store_path)
    p = jvm.org.apache.hadoop.fs.Path(f"{checkpoint_dir}/offsets")
    fs = p.getFileSystem(hconf)
    has_commits = fs.exists(p) and len(fs.listStatus(p)) > 0
    if max_batch >= 0 and not has_commits:
        raise ValueError(
            f"{caller}: store {store_path!r} already holds partitions up to "
            f"batch_id={max_batch} but checkpoint {checkpoint_dir!r} has no "
            "committed offsets — a fresh checkpoint restarts batch ids at 0 "
            "and would overwrite those partitions, corrupting the store. "
            "Resume with the original checkpoint, or seed a fresh store_dir "
            "for a new stream."
        )


def seed_neardup_store(
    corpus: DataFrame,
    store_dir: str,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
) -> None:
    """Initialize the on-disk store :func:`stream_neardup_ingest`
    ingests against: ``store_dir/postings`` gets the corpus's
    persisted MinHash-LSH posting index (build_lsh_index — (id, band,
    bucket), text never retained) and ``store_dir/texts`` the (id,
    text) lookup the exact-Jaccard verify fetches candidate texts
    from. Both land under a ``batch_id=-1`` partition subdirectory so
    they share the ingest sink's partition layout (micro-batch N
    writes ``batch_id=N`` beside them) — which is what makes each
    micro-batch able to exclude ITS OWN previous attempt by partition
    pruning on replay. The signature parameters are part of the
    store's identity (the build_lsh_index rule): ingest with exactly
    the triple the store was seeded with."""
    from ..operators.dedup import build_lsh_index

    build_lsh_index(corpus, id_col, text_col, num_hashes, bands, shingle_n).write.mode(
        "overwrite"
    ).parquet(f"{store_dir}/postings/batch_id=-1")
    corpus.select(F.col(id_col), F.col(text_col)).write.mode("overwrite").parquet(
        f"{store_dir}/texts/batch_id=-1"
    )


def stream_neardup_ingest(
    stream: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
) -> None:
    """STREAMING incremental near-dup ingest (r11, VERDICT r10 item 5
    — the near-dup twin of q52's exact stream dedup, composed from
    q174's persisted-index ingest): every micro-batch runs
    ``ingest_neardup`` against the persisted posting index + text
    store (seeded by :func:`seed_neardup_store`), writes the batch's
    near-dup pairs to ``store_dir/pairs/batch_id=N``, and APPENDS the
    batch's own postings and texts to the store — so batch N+1 sees
    batch N as history and the stream's pair union equals the one-shot
    ingest of all batched docs at once (the q180 oracle's statement).

    Exactly-once discipline (the stream_enrich_refreshed sink rule +
    one addition): all three sinks overwrite their own ``batch_id=N``
    partition subdirectory, and the store READS exclude the current
    batch id by partition pruning — so a batch replayed after a crash
    between the store append and the checkpoint commit redoes its work
    against exactly the pre-batch store instead of raising the
    disjoint-id guard on its own half-written previous attempt (the
    guard stays ON and still catches genuine id collisions with older
    batches). Steady-state cost per micro-batch is q174's: signatures
    for the batch only — computed ONCE (the batch's postings are
    persisted first, then read back and handed to ``ingest_neardup``
    as ``batch_postings``, so the per-batch signature job never runs
    twice; the early write is invisible to the history reads because
    they prune ``batch_id=N``) — candidates from the banded join
    against the stored postings, text fetched per candidate. The
    corpus is never re-signatured, and the one growing store is
    parquet partitions that compact like any other table
    (sources/compaction.py).

    Readers consume ``store_dir/pairs`` (partition column ``batch_id``
    = which micro-batch surfaced the pair); each (id_a, id_b) pair
    appears exactly once across all batches because pair emission
    requires a member in the CURRENT batch and ids never repeat.

    Fresh-checkpoint guard (ADVICE r11 — the stream_enrich_refreshed
    layout guard's twin): foreachBatch batch ids are numbered by the
    CHECKPOINT, so restarting with a fresh/new checkpoint over an
    EXISTING store restarts ids at 0 and the first batches would
    silently OVERWRITE the ``batch_id=0..`` partitions that hold
    older, unrelated batches — losing store data and breaking the
    disjoint-id premise the pair-exactly-once argument rests on. The
    start path therefore fails fast when the store already has
    ``batch_id >= 0`` posting partitions but ``checkpoint_dir`` holds
    no committed offsets: resume with the ORIGINAL checkpoint, or
    re-seed a fresh store for a genuinely new stream."""
    spark = stream.sparkSession
    _guard_fresh_checkpoint(
        spark, f"{store_dir}/postings", checkpoint_dir, "stream_neardup_ingest"
    )

    def fb(bdf: DataFrame, batch_id: int) -> None:
        _neardup_ingest_batch(
            spark, bdf, store_dir, batch_id, id_col, text_col,
            threshold, num_hashes, bands, shingle_n,
        )

    q = (
        stream.writeStream.foreachBatch(fb)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _neardup_ingest_batch(
    spark: SparkSession,
    bdf: DataFrame,
    store_dir: str,
    batch_id: int,
    id_col: str,
    text_col: str,
    threshold: float,
    num_hashes: int,
    bands: int,
    shingle_n: int,
) -> StructType:
    """One micro-batch of persisted-store near-dup ingest, shared by
    stream_neardup_ingest and stream_dedup_ladder. Store appends
    FIRST: the batch's signatures are computed by exactly one job (the
    postings write) and the detection reuses the persisted frame
    instead of re-signaturing. Safe before detection because the
    history reads prune batch_id=N — this batch's files are invisible
    to them — and replay-safe because a redone batch overwrites its
    own partition with deterministic content before recomputing pairs
    against the pruned (pre-batch) store. Every store read passes the
    schema of the frame this function writes to that substore, so no
    read runs a parquet footer job to infer a schema the code already
    holds (``batch_id`` is still discovered from the paths). Returns
    the schema of the ``{store_dir}/pairs/batch_id={batch_id}``
    partition it writes — a caller that consumes the batch's pairs
    reads them back with it, so the ingest path never pays a read-back
    it doesn't use."""
    from ..operators.dedup import build_lsh_index, ingest_neardup

    postings = build_lsh_index(bdf, id_col, text_col, num_hashes, bands, shingle_n)
    postings.write.mode("overwrite").parquet(f"{store_dir}/postings/batch_id={batch_id}")
    batch_texts = bdf.select(F.col(id_col), F.col(text_col))
    batch_texts.write.mode("overwrite").parquet(f"{store_dir}/texts/batch_id={batch_id}")
    not_self = F.col("batch_id") != F.lit(batch_id)
    index = (
        spark.read.schema(postings.schema)
        .parquet(f"{store_dir}/postings")
        .filter(not_self)
        .select("id", "band", "bucket")
        # NOTE (r18, measured and deliberately NOT batch-bounded):
        # the crawl store's r18 semi-join treatment was tried here and
        # on the ladder keeper read, and REJECTED by measurement —
        # these reads are EQUI-JOINS the engine already prunes
        # adaptively (small posting/keeper sides broadcast; the join
        # itself is the bound), so prepending a broadcast semi-join
        # added a job + broadcast per batch for work the join never
        # did: neardup B=1 went 4.4 -> 14.9 s, B=16 3.3 -> 4.8 s/batch
        # (BASELINE.md r18 streaming note). The crawl store keeps its
        # bounding because its compare is a WINDOW, which always
        # shuffles the full store without it.
    )
    texts = (
        spark.read.schema(batch_texts.schema)
        .parquet(f"{store_dir}/texts")
        .filter(not_self)
        .select(F.col(id_col), F.col(text_col))
    )
    pairs = ingest_neardup(
        bdf, index, texts, id_col, text_col,
        threshold=threshold, num_hashes=num_hashes,
        bands=bands, shingle_n=shingle_n,
        batch_postings=spark.read.schema(postings.schema).parquet(
            f"{store_dir}/postings/batch_id={batch_id}"
        ),
    )
    # The verify's last join streams the candidate texts, a union of the
    # store and batch scans; rebalance lets AQE size the pair files
    # instead (one file per batch at micro-batch scale).
    pairs.hint("rebalance").write.mode("overwrite").parquet(
        f"{store_dir}/pairs/batch_id={batch_id}"
    )
    return pairs.schema


# Every ingest-store substore layout: the near-dup and ladder substores
# and the crawl store's url_keepers. Absent substores are skipped, so one
# list serves every store.
INGEST_SUBSTORES = ("postings", "texts", "pairs", "keepers", "tiers", "url_keepers")


def compact_ingest_store(
    spark: SparkSession,
    store_dir: str,
    through_batch: int | None = None,
    substores: tuple[str, ...] = INGEST_SUBSTORES,
    assume_atomic_rename: bool = False,
) -> dict:
    """Compact a stream-ingest store's ``batch_id=N`` partitions
    (r15 — the operator the measured store-fragmentation tax calls
    for, BASELINE.md "Streaming-ingest throughput"): every micro-batch
    of stream_neardup_ingest / stream_dedup_ladder appends one
    partition per substore and RE-READS the whole store next batch,
    so a long-running stream pays O(batches²) partition opens — this
    rewrites all partitions with batch_id ≤ ``through_batch`` into a
    single consolidated ``batch_id=through_batch`` partition per
    substore (one file each). Row content is preserved
    exactly; only the layout column moves — compacted rows thereafter
    report the horizon's batch_id, so per-batch ATTRIBUTION of
    historical rows is deliberately folded (the stores' consumers key
    on content columns; batch_id exists for replay pruning).
    ``substores`` defaults to :data:`INGEST_SUBSTORES`; absent ones are
    skipped.

    Replay safety is structural: ``through_batch`` must be strictly
    below the store's max batch id (default ``max - 1``) — foreachBatch
    can only ever replay the batch AFTER the last committed one, whose
    partition this function never touches, and a replayed batch N >
    through_batch still prunes only ``batch_id=N`` (compacted history
    at the horizon stays visible) and overwrites only its own
    partition. Run with the stream STOPPED: the swap is not atomic
    against a concurrent reader.

    Crash-resumable by re-run: each substore consolidates into a
    hidden ``.compact_tmp.batch_id=K.max=M`` sibling first (parquet
    ``_SUCCESS`` marks completeness; the name pins the horizon AND the
    store's max batch id at write time), and only then deletes the
    source partitions and renames the tmp into place — a crash at any
    point is repaired by calling the function again with the same
    ``through_batch`` while the store is unchanged (the matching
    complete tmp is adopted, an incomplete one rebuilt). A complete
    tmp from any OTHER (horizon, max) state raises instead of being
    adopted or silently discarded: adopting one after the store moved
    on would resurrect its rows beside a newer consolidation as
    duplicates, and discarding one that crashed mid-delete would lose
    the rows only it still holds — the error message says which way
    to resolve. The foreign-tmp scan covers ALL requested substores
    BEFORE anything is mutated (ADVICE r15: a mid-iteration raise used
    to leave earlier substores already compacted), so the raise is a
    clean no-op on the store. Incomplete foreign tmps deleted nothing
    and are cleaned automatically.

    FILESYSTEM REQUIREMENT: the crash-repair contract relies on
    ``fs.rename`` being an atomic directory move — true on local FS
    and HDFS, FALSE on object stores (S3A renames copy-then-delete; a
    crash mid-rename leaves a partial destination plus a tmp that
    already lost files, and the re-run would delete whichever side
    survived — silent row loss, ADVICE r15). Stores on a filesystem
    whose scheme is not local/HDFS raise up front; pass
    ``assume_atomic_rename=True`` only for a store you KNOW sits on an
    atomic-rename mount (e.g. a fuse-mounted HDFS-compatible FS with a
    custom scheme).

    Returns {substore: {"partitions_before": n, "rows": m}} for the
    substores actually compacted; substores absent from the store
    (e.g. keepers/tiers on a plain near-dup store) are skipped, as is
    any substore with fewer than 2 partitions at or below the horizon
    (nothing to gain). Raises on ``through_batch >= max`` (the replay
    hazard) and on an empty/absent store."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()

    def _fs(path: str):
        p = jvm.org.apache.hadoop.fs.Path(path)
        return p.getFileSystem(hconf), p

    store_fs, _ = _fs(store_dir)
    scheme = store_fs.getScheme()
    if scheme not in ("file", "hdfs", "viewfs") and not assume_atomic_rename:
        raise ValueError(
            f"compact_ingest_store: store filesystem scheme {scheme!r} is not "
            "known to provide ATOMIC directory rename — on copy-then-delete "
            "stores (e.g. s3a) a crash mid-rename loses rows that the re-run "
            "repair cannot recover (docstring: FILESYSTEM REQUIREMENT). Move "
            "the store to local FS/HDFS, or pass assume_atomic_rename=True "
            "if this scheme is an atomic-rename mount"
        )

    max_b = max(
        (_max_batch_id(spark, f"{store_dir}/{s}") for s in substores), default=-1
    )
    if max_b < 0:
        raise ValueError(
            f"compact_ingest_store: no batch_id partitions under {store_dir!r} "
            f"substores {substores} — nothing to compact"
        )
    if through_batch is None:
        through_batch = max_b - 1
    if through_batch >= max_b:
        raise ValueError(
            f"compact_ingest_store: through_batch={through_batch} must be < the "
            f"store's max batch_id={max_b} — the latest batch can be replayed by "
            "a restarted checkpoint and must keep its own partition"
        )
    # The tmp name pins BOTH the horizon and the store's max batch id
    # at write time: adopting a complete tmp is only safe when the
    # store hasn't moved since (max unchanged — the stream stayed
    # stopped), because a tmp that survived a crash AND a later
    # successful compaction at another horizon would resurrect its
    # rows as duplicates beside the newer consolidation (code-review
    # r15 finding). A complete tmp from any OTHER (horizon, max)
    # state is ambiguous — its run may have deleted some sources —
    # so refuse and make the operator resolve it a human decision;
    # an incomplete foreign tmp never deleted anything and is safe
    # to discard.
    tmp_name = f".compact_tmp.batch_id={through_batch}.max={max_b}"

    # PRE-SCAN (ADVICE r15): list every requested substore and check for
    # foreign COMPLETE tmps across ALL of them BEFORE mutating anything —
    # the raise used to fire mid-iteration, leaving earlier substores
    # already compacted (part-old, part-new layout) with an error message
    # that never said so. Raising here is a clean no-op on the store.
    scans: list[tuple[str, object, list[int], list[str]]] = []
    for sub in substores:
        sub_dir = f"{store_dir}/{sub}"
        fs, sub_p = _fs(sub_dir)
        if not fs.exists(sub_p):
            continue
        batch_dirs = []
        tmp_names = []
        for st in fs.listStatus(sub_p):
            name = st.getPath().getName()
            if not st.isDirectory():
                continue
            if name.startswith("batch_id="):
                try:
                    batch_dirs.append(int(name.split("=", 1)[1]))
                except ValueError:
                    continue  # foreign layout dir — same tolerance as _batch_ids
            elif name.startswith(".compact_tmp."):
                tmp_names.append(name)
        for name in tmp_names:
            if name == tmp_name:
                continue
            if fs.exists(jvm.org.apache.hadoop.fs.Path(f"{sub_dir}/{name}/_SUCCESS")):
                raise ValueError(
                    f"compact_ingest_store: {sub_dir!r} holds a COMPLETE pending "
                    f"compaction {name!r} from another (horizon, max) state — its "
                    "crashed run may have deleted source partitions, so neither "
                    "adopting nor discarding it is safe automatically. NOTHING "
                    "was mutated by this call (all substores are pre-scanned "
                    "before any compaction). Inspect: if the tmp's source "
                    "batch_id dirs are all present, delete the tmp and re-run; "
                    "if some are missing, finish that compaction first by "
                    "re-running with its original through_batch (and the store "
                    "unchanged since)."
                )
        scans.append((sub, fs, batch_dirs, tmp_names))

    out: dict[str, dict] = {}
    for sub, fs, batch_dirs, tmp_names in scans:
        sub_dir = f"{store_dir}/{sub}"
        in_scope = [b for b in sorted(batch_dirs) if b <= through_batch]
        for name in tmp_names:
            if name == tmp_name:
                continue
            _, foreign_p = _fs(f"{sub_dir}/{name}")
            fs.delete(foreign_p, True)  # incomplete foreign tmp: nothing was deleted
        tmp_dir = f"{sub_dir}/{tmp_name}"
        _, tmp_p = _fs(tmp_dir)
        tmp_complete = fs.exists(
            jvm.org.apache.hadoop.fs.Path(f"{tmp_dir}/_SUCCESS")
        )
        if len(in_scope) < 2 and not tmp_complete:
            if fs.exists(tmp_p):
                fs.delete(tmp_p, True)  # incomplete tmp from a dead run
            continue
        if not tmp_complete:
            src = spark.read.parquet(sub_dir).filter(
                F.col("batch_id") <= F.lit(through_batch)
            )
            if fs.exists(tmp_p):
                fs.delete(tmp_p, True)
            src.drop("batch_id").repartition(1).write.parquet(tmp_dir)
        rows = spark.read.parquet(tmp_dir).count()
        for b in in_scope:
            fs.delete(jvm.org.apache.hadoop.fs.Path(f"{sub_dir}/batch_id={b}"), True)
        dest = jvm.org.apache.hadoop.fs.Path(f"{sub_dir}/batch_id={through_batch}")
        if not fs.rename(tmp_p, dest):
            # Hadoop rename reports failure by return value, not raise
            raise IOError(
                f"compact_ingest_store: rename {tmp_dir!r} -> {dest} failed — "
                "the consolidated tmp is intact; re-run to resume the swap"
            )
        out[sub] = {"partitions_before": len(in_scope), "rows": rows}
    return out


def ingest_store_fragmentation(spark, store_dir: str) -> dict:
    """Fragmentation signal for a stream-ingest store: the sensor that
    decides WHEN to compact (q197 replays the stop-compact-resume
    cadence), so a production loop triggers compaction on a threshold
    instead of a guess. Pure filesystem
    listing — one listStatus per substore of :data:`INGEST_SUBSTORES`
    (absent ones are skipped), no Spark job, no parquet footer reads —
    cheap enough to call between micro-batches.

    Returns::

        {"max_batch_id": M,            # -1 on an empty/absent store
         "compactable_partitions": C,  # max over substores — THE signal
         "substores": {sub: {"partitions": n, "compactable": c}}}

    where ``compactable`` counts a substore's ``batch_id=`` partitions
    at or below the default horizon (``max_batch_id - 1`` — exactly
    what ``compact_ingest_store()`` with no ``through_batch`` would
    fold), and a substore only reports ``compactable`` ≥ 2 as gain
    (one partition compacts to itself). The production loop the q197
    replay models::

        frag = ingest_store_fragmentation(spark, store)
        if frag["compactable_partitions"] >= max_store_partitions:
            query.stop()
            compact_ingest_store(spark, store)
            ...restart from the same checkpoint...

    The threshold prices the measured trade (BASELINE.md
    "Streaming-ingest throughput"): every micro-batch re-reads the
    whole store, so N uncompacted batches cost O(N) extra partition
    opens per batch — O(N²) cumulative — against one stop-the-stream
    rewrite. Never raises on an empty or half-written store: a
    monitoring probe must stay readable mid-crash (contrast
    compact_ingest_store, which raises — mutation needs the guard,
    observation doesn't)."""
    per_sub: dict[str, list[int]] = {}
    for sub in INGEST_SUBSTORES:
        batches = _batch_ids(spark, f"{store_dir}/{sub}")
        if batches is not None:
            per_sub[sub] = batches
    max_b = max((max(b) for b in per_sub.values() if b), default=-1)
    horizon = max_b - 1
    subs = {}
    for sub, batches in per_sub.items():
        in_scope = [b for b in batches if b <= horizon]
        subs[sub] = {
            "partitions": len(batches),
            "compactable": len(in_scope) if len(in_scope) >= 2 else 0,
        }
    return {
        "max_batch_id": max_b,
        "compactable_partitions": max((s["compactable"] for s in subs.values()), default=0),
        "substores": subs,
    }


def stream_dedup_ladder(
    stream: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
) -> None:
    """STREAMING dedup-ladder ingest (r15 — VERDICT r14 item 7: the
    q195 batch composition through the q180 foreachBatch machinery;
    both product-pipeline ladders now hold batch AND streaming
    end-to-end forms). Every micro-batch runs the FULL ladder against
    persisted stores: Unicode NFC (operators/text.unicode_normalize,
    the documented pandas-UDF exception) → casefold + punct-strip +
    whitespace-collapse → exact-hash keeper resolution against the
    on-disk keeper store → MinHash-LSH + exact-Jaccard near-dup of
    the batch's NEW keepers against the keeper posting store — and
    labels each arriving doc with the TIER that folded it (q195's
    labels: 'exact' / 'unicode' / 'casefold' vs its keeper's hashes,
    'neardup' / 'kept' for new keepers), appending (id, tier,
    norm_hash) rows to ``store_dir/tiers/batch_id=N``.

    Store layout: ``keepers/batch_id=N`` holds (k_n, keeper_id,
    keeper_kr, keeper_ku) for keepers FIRST SEEN in batch N;
    ``postings`` / ``texts`` / ``pairs`` are the
    stream_neardup_ingest store over keeper NORMALIZED text (postings
    carry 16-byte keys, texts only keeper norms — arriving document
    bytes never enter a store exchange). Exactly-once is the q180
    discipline verbatim: every sink overwrites its own batch_id=N
    partition, every store read prunes batch_id=N, so a replayed
    batch redoes deterministic work against the pre-batch store; the
    fresh-checkpoint-over-existing-store guard fails fast.

    Keeper identity is FIRST-ARRIVAL (ties within a batch by lowest
    id). The stream's tier output equals the one-shot q195 form
    exactly when arrival order respects id order across batches —
    the planted-replay contract q197 pins; under arbitrary arrival
    the labels remain internally consistent (every dup's tier names
    its actual stored keeper), the keeper CHOICE is just
    arrival-determined, same as any incremental-view dedup. Tier rows
    are written once and never revised, so the near-dup flag lands on
    the ARRIVING side of every pair: for a batch×history pair the
    batch keeper is 'neardup' whichever id is larger (the stored
    partner's already-written row stays), and for a within-batch pair
    the larger id takes it (the one-shot id_b convention). Under
    id-ordered arrival the two rules coincide with the one-shot
    labeling; under arbitrary arrival a lower-id late arrival is
    labeled the duplicate of its higher-id stored partner — the
    arrival-consistent reading, pinned by pytest.

    Per-batch cost: one Arrow-batched NFC pass over the batch, one hash
    equi-join against the keeper store (k_n is a 32-hex key; at 100 TB
    bucket the keeper store by k_n so this join co-locates) and one
    keeper window over the join, all in ONE localCheckpoint — the
    q195/q193 single-execution rule: every sink below reads that frame,
    so the NFC pandas UDF runs once per batch — then q180's incremental
    near-dup over new keepers only. Store reads pass the schema of the
    frame that writes the substore (the keeper schema follows the id
    column's type), so none runs a footer job to infer it.
    """
    from pyspark.sql import Window as W

    from ..operators.text import unicode_normalize

    spark = stream.sparkSession
    # Guard EVERY substore the ladder writes, not just keepers: a
    # store_dir previously populated by stream_neardup_ingest has
    # postings/texts/pairs partitions but no keepers/ — batch 0 of a
    # fresh checkpoint would clobber postings/batch_id=0 (code-review
    # r15 finding).
    for sub in ("keepers", "postings"):
        _guard_fresh_checkpoint(
            spark, f"{store_dir}/{sub}", checkpoint_dir, "stream_dedup_ladder"
        )

    def fb(bdf: DataFrame, batch_id: int) -> None:
        norm = F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower(F.col("__nfc")), "[^\\p{L}\\p{N} ]", ""),
                " +",
                " ",
            )
        )
        keyed = (
            bdf.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("raw"))
            .withColumn("__nfc", unicode_normalize(F.col("raw")))
            .select(
                "doc_id",
                F.md5("raw").alias("k_r"),
                F.md5("__nfc").alias("k_u"),
                norm.alias("norm"),
                F.md5(norm).alias("k_n"),
            )
        )
        id_type = bdf.schema[id_col].dataType.simpleString()
        keeper_schema = (
            f"k_n string, keeper_id {id_type}, keeper_kr string, keeper_ku string"
        )
        if _max_batch_id(spark, f"{store_dir}/keepers") >= 0:
            kst = (
                spark.read.schema(keeper_schema)
                .parquet(f"{store_dir}/keepers")
                .filter(F.col("batch_id") != F.lit(batch_id))
                .select("k_n", "keeper_id", "keeper_kr", "keeper_ku")
                # deliberately NOT batch-bounded (r18) — see the
                # measured rejection note in _neardup_ingest_batch
                # (same class: an equi-join the engine already prunes;
                # the tried semi-join cost ~30% at B=16)
            )
        else:
            kst = spark.createDataFrame([], keeper_schema)
        # A k_n is all store hits or all batch misses: hits take the
        # stored keeper, misses the first arrival (lowest id) of their
        # k_n. One pandas-UDF execution per batch, whatever the fan-out
        # below.
        wfull = (
            W.partitionBy("k_n")
            .orderBy("doc_id")
            .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
        )
        hit = F.col("keeper_id").isNotNull()
        ann = (
            keyed.join(kst, "k_n", "left")
            .select(
                "doc_id",
                "k_r",
                "k_u",
                "k_n",
                "norm",
                hit.alias("__hit"),
                *[
                    F.when(hit, F.col(kc)).otherwise(F.first(c).over(wfull)).alias(kc)
                    for c, kc in (
                        ("doc_id", "keeper_id"),
                        ("k_r", "keeper_kr"),
                        ("k_u", "keeper_ku"),
                    )
                ],
            )
            .localCheckpoint()
        )
        is_keeper = ~F.col("__hit") & (F.col("doc_id") == F.col("keeper_id"))
        newk = ann.filter(is_keeper)
        newk.select("k_n", "keeper_id", "keeper_kr", "keeper_ku").write.mode(
            "overwrite"
        ).parquet(f"{store_dir}/keepers/batch_id={batch_id}")
        pairs_schema = _neardup_ingest_batch(
            spark,
            newk.select(F.col("doc_id").alias(id_col), F.col("norm").alias(text_col)),
            store_dir, batch_id, id_col, text_col,
            threshold, num_hashes, bands, shingle_n,
        )
        pairs = spark.read.schema(pairs_schema).parquet(
            f"{store_dir}/pairs/batch_id={batch_id}"
        )
        # The neardup flag lands on the ARRIVING side (docstring rule):
        # ingest_neardup orders pairs by id VALUE (id_a < id_b), so for
        # a batch×history pair where the new keeper drew the LOWER id,
        # id_b names the stored partner — whose tier row is already
        # final. Flag id_b when it is this batch's (covers within-batch
        # pairs and the id-ordered case), else the pair's batch member
        # is id_a (code-review r15 finding; lower-id-late-arrival
        # pytest).
        nk_b = newk.select(F.col("doc_id").alias("id_b")).withColumn(
            "__b_in", F.lit(True)
        )
        nd = (
            pairs.join(nk_b, "id_b", "left")
            .select(
                F.when(F.col("__b_in"), F.col("id_b"))
                .otherwise(F.col("id_a"))
                .alias("doc_id")
            )
            .distinct()
            .withColumn("__nd", F.lit(True))
        )
        by_hash = (
            F.when(F.col("k_r") == F.col("keeper_kr"), F.lit("exact"))
            .when(F.col("k_u") == F.col("keeper_ku"), F.lit("unicode"))
            .otherwise(F.lit("casefold"))
        )
        tiers = (
            ann.filter(~is_keeper)
            .select("doc_id", by_hash.alias("tier"), "k_n")
            .unionByName(
                newk.join(nd, "doc_id", "left").select(
                    "doc_id",
                    F.when(F.col("__nd"), F.lit("neardup"))
                    .otherwise(F.lit("kept"))
                    .alias("tier"),
                    "k_n",
                )
            )
        )
        tiers.select(
            F.col("doc_id").alias(id_col), "tier", F.col("k_n").alias("norm_hash")
        ).write.mode("overwrite").parquet(f"{store_dir}/tiers/batch_id={batch_id}")

    q = (
        stream.writeStream.foreachBatch(fb)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_ts: str,
    right_ts: str,
    within: str = "15 minutes",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join with an event-time interval bound: right rows
    within [left_ts, left_ts + within] per key. Column names must be
    disjoint (rename before joining).

    The interval condition + watermarks are what make this safe
    unbounded: each side buffers only rows newer than
    (watermark + interval), so join state is bounded by arrival rate ×
    horizon, not by stream length. Without the time bound Spark would
    have to keep EVERY past row — it rejects that plan in append mode.

    ``how='left_outer'`` additionally emits each unmatched left row
    null-extended — but only once the GLOBAL watermark (min over both
    inputs of max-event-time - delay) passes left_ts + within, i.e.
    when the right stream provably can no longer produce a match.
    Left rows younger than that horizon at stream end never emit their
    null form — that is the API's contract, not data loss (q110's
    oracle reproduces the cutoff exactly).
    """
    l = left.withWatermark(left_ts, watermark)
    r = right.withWatermark(right_ts, watermark)
    cond = (
        (F.col(left_key) == F.col(right_key))
        & (F.col(right_ts) >= F.col(left_ts))
        & (F.col(right_ts) <= F.col(left_ts) + F.expr(f"INTERVAL {within}"))
    )
    return l.join(r, cond, how)


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom per-key stateful operator (applyInPandasWithState): keeps
    a running (count, sum) per user across micro-batches and emits the
    cumulative totals each batch. The §2B 'stateful per-key logic' row.

    State is two scalars per key — O(distinct keys), not O(rows); at
    100 TB the state store holds one tiny tuple per user regardless of
    event volume. transformWithStateInPandas is the newer API; this is
    the stable one (SURVEY.md §7 risk 6).
    """
    import pandas as pd

    def fn(key, pdf_iter, state):
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            n += len(pdf)
            s += float(pdf["value"].sum())
        state.update((n, s))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [s]}
        )

    return (
        events.withWatermark("ts", "1 hour")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType="user_id long, n_events long, sum_value double",
            stateStructType="n long, s double",
            outputMode="append",
            timeoutConf="NoTimeout",
        )
    )


def stateful_totals_on_timeout(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Per-key totals emitted ONLY when the key's state times out on
    EVENT TIME — the state-expiry half of the stateful contract (q58
    covers the no-timeout accumulate path): each batch of a user's
    events updates (count, sum) and re-arms the timeout at that
    batch's max event time + ``gap``; when the watermark passes the
    armed timestamp, Spark invokes the function with hasTimedOut=True
    and an empty input, and ONLY then does the key emit — after which
    its state is removed. This is the closed-session emission pattern:
    state is O(keys), every key emits exactly once, and emission is
    driven by watermark progress, not data arrival.

    Deterministic by construction: event-time timeouts fire on
    watermark advancement (replay-stable), unlike processing-time
    timeouts which depend on the wall clock.
    """
    import pandas as pd

    gap_ms = {"30 minutes": 30 * 60 * 1000}[gap]

    def fn(key, pdf_iter, state):
        if state.hasTimedOut:
            n, s = state.get
            state.remove()
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "sum_value": [s]}
            )
            return
        n, s = state.get if state.exists else (0, 0.0)
        last_ms = 0
        for pdf in pdf_iter:
            n += len(pdf)
            s += float(pdf["value"].sum())
            last_ms = max(last_ms, int(pdf["ts"].max().value // 1_000_000))
        state.update((n, s))
        state.setTimeoutTimestamp(last_ms + gap_ms)

    return (
        events.withWatermark("ts", "1 hour")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType="user_id long, n_events long, sum_value double",
            stateStructType="n long, s double",
            outputMode="append",
            timeoutConf="EventTimeTimeout",
        )
    )


def run_foreach_batch(stream_df: DataFrame, out_dir: str, checkpoint_dir: str) -> None:
    """foreachBatch sink: reuse the batch parquet writer per micro-batch
    (the §2B foreachBatch row). Exactly-once via the checkpoint +
    batch-id contract — a replayed batch overwrites idempotently on
    real sinks; append is fine for availableNow replay tests."""
    q = (
        stream_df.writeStream.foreachBatch(
            lambda bdf, bid: bdf.write.mode("append").parquet(out_dir)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_to_memory(
    stream_df: DataFrame,
    name: str | None = None,
    output_mode: str = "complete",
) -> DataFrame:
    """Drive a streaming frame to completion synchronously (availableNow
    trigger + memory sink) and return the result as a batch DataFrame.
    Local-test harness only — production sinks are files/foreachBatch."""
    spark = stream_df.sparkSession
    name = name or f"mem_{uuid.uuid4().hex[:12]}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)
