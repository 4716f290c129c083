"""Streaming semantics tests (SURVEY.md §5.2 item 4): watermark /
late-data behavior that the oracle queries can't express — a late row
arriving after the watermark passed its window must be DROPPED, and
append mode must emit a window only once its watermark closes.

Technique: one checkpointed query driven in successive availableNow
runs; each run appends new files to the source dir, so watermark state
carries across runs exactly as across micro-batches in production.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


@pytest.fixture()
def stream_env(spark, tmp_path):
    src = tmp_path / "src"
    ckpt = tmp_path / "ckpt"
    src.mkdir()
    return spark, str(src), str(ckpt)


def _append_events(spark, src, rows):
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long")
    df.coalesce(1).write.mode("append").parquet(src)


def _drive(stream_df, ckpt):
    """Drive one availableNow pass through a checkpointed foreachBatch
    sink (memory sink can't recover from a checkpoint) and return the
    rows emitted during THIS run."""
    emitted = []
    q = (
        stream_df.writeStream.foreachBatch(
            lambda bdf, bid: emitted.extend(bdf.collect())
        )
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return emitted


def _run_once(spark, src, ckpt, name):
    stream = spark.readStream.schema("event_id long, ts timestamp, user_id long").parquet(src)
    agg = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )
    return {r["window_start"].isoformat(): r["n"] for r in _drive(agg, ckpt)}


def test_watermark_drops_late_rows_and_append_emits_once(stream_env):
    from datetime import datetime as dt

    spark, src, ckpt = stream_env

    # Run 1: two rows in the 10:00 window, one at 11:30 that pushes the
    # watermark to 11:00. availableNow finishes with a no-data batch
    # that finalizes the watermark, so the closed 10:00 window emits
    # within this run already — once, with n=2.
    _append_events(
        spark,
        src,
        [
            (1, dt(2024, 1, 1, 10, 5), 1),
            (2, dt(2024, 1, 1, 10, 10), 1),
            (3, dt(2024, 1, 1, 11, 30), 1),
        ],
    )
    out1 = _run_once(spark, src, ckpt, "late_run1")
    assert out1 == {"2024-01-01T10:00:00": 2}, f"10:00 window wrong: {out1}"

    # Run 2: a LATE row for the already-closed 10:00 window (10:20 <
    # watermark 11:00) must be DROPPED — no re-emission, no update.
    # The 12:30 row advances the watermark to 12:00, closing the 11:00
    # window (event 3 only).
    _append_events(
        spark,
        src,
        [
            (4, dt(2024, 1, 1, 10, 20), 1),  # late -> dropped
            (5, dt(2024, 1, 1, 12, 30), 1),
        ],
    )
    out2 = _run_once(spark, src, ckpt, "late_run2")
    assert out2 == {"2024-01-01T11:00:00": 1}, (
        f"late row must be dropped and 10:00 never re-emitted: {out2}"
    )

    # Run 3: 13:30 advances the watermark past 13:00 -> the 12:00
    # window (event 5) closes with n=1.
    _append_events(spark, src, [(6, dt(2024, 1, 1, 13, 30), 1)])
    out3 = _run_once(spark, src, ckpt, "late_run3")
    assert out3 == {"2024-01-01T12:00:00": 1}, f"wrong 12:00 window: {out3}"


def test_events_stream_ts_agrees_with_batch_catalog(spark):
    """The streaming source and the batch catalog must produce identical
    ``ts`` values and type for whatever physical layout the fixture
    carries (round-4 regression: the stream pinned the nanos layout and
    collapsed every timestamp to Jan 1970 when the fixture moved to
    micros). Schema is footer-derived, normalization is shared — this
    asserts the contract end to end."""
    from apache_hadoop_framework_for_peptide_identification_spark.catalog import load_table
    from apache_hadoop_framework_for_peptide_identification_spark.streaming.windows import (
        events_stream,
        run_to_memory,
    )

    sf = "/root/testdata/sf0.001"
    batch = load_table(spark, sf, "events")
    streamed = run_to_memory(events_stream(spark, sf), output_mode="append")
    assert dict(streamed.dtypes)["ts"] == dict(batch.dtypes)["ts"] == "timestamp"

    def summary(df):
        return df.agg(
            F.count(F.lit(1)).alias("n"),
            F.min("ts").alias("lo"),
            F.max("ts").alias("hi"),
            F.sum(F.unix_micros("ts")).alias("chk"),
        ).first()

    b, s = summary(batch), summary(streamed)
    assert (b["n"], b["lo"], b["hi"], b["chk"]) == (s["n"], s["lo"], s["hi"], s["chk"])
    # Sanity: the fixture's event times are modern, not 1970 (the exact
    # failure mode of a stale unit conversion).
    assert b["lo"].year >= 2000, f"ts collapsed to epoch: {b['lo']}"


def test_stream_dedup_drops_duplicate_ids_across_batches(stream_env):
    from datetime import datetime as dt

    spark, src, ckpt = stream_env
    _append_events(spark, src, [(1, dt(2024, 1, 1, 10, 0), 1), (2, dt(2024, 1, 1, 10, 1), 1)])

    def run(name):
        stream = spark.readStream.schema(
            "event_id long, ts timestamp, user_id long"
        ).parquet(src)
        deduped = stream.withWatermark("ts", "1 hour").dropDuplicates(["event_id"])
        return sorted(r["event_id"] for r in _drive(deduped, ckpt))

    assert run("dd_run1") == [1, 2]
    # Batch 2 re-sends event 2 (within the watermark horizon) — state
    # remembers it; only the new id 3 survives.
    _append_events(spark, src, [(2, dt(2024, 1, 1, 10, 1), 1), (3, dt(2024, 1, 1, 10, 2), 1)])
    assert run("dd_run2") == [3]


def test_stateful_event_time_timeout_finalizes_sessions(stream_env):
    """applyInPandasWithState's EventTimeTimeout path (the part
    stateful_user_totals' NoTimeout form never exercises): per-user
    session state times out 30 event-time minutes after the user's
    last event; on timeout the operator emits the FINAL row and clears
    state — the custom-sessionization pattern, with state lifetime
    bounded by the watermark exactly like built-in session windows."""
    from datetime import datetime as dt

    import pandas as pd

    spark, src, ckpt = stream_env

    def fn(key, pdf_iter, state):
        if state.hasTimedOut:
            (n,) = state.get
            state.remove()
            yield pd.DataFrame({"user_id": [key[0]], "n": [n], "final": [True]})
        else:
            n = state.get[0] if state.exists else 0
            last = None
            for pdf in pdf_iter:
                n += len(pdf)
                m = pdf["ts"].max()
                last = m if last is None else max(last, m)
            state.update((n,))
            state.setTimeoutTimestamp(int(last.timestamp() * 1000) + 30 * 60 * 1000)
            yield pd.DataFrame({"user_id": [key[0]], "n": [n], "final": [False]})

    def run():
        stream = spark.readStream.schema(
            "event_id long, ts timestamp, user_id long"
        ).parquet(src)
        out = (
            stream.withWatermark("ts", "0 seconds")
            .groupBy("user_id")
            .applyInPandasWithState(
                fn,
                outputStructType="user_id long, n long, final boolean",
                stateStructType="n long",
                outputMode="append",
                timeoutConf="EventTimeTimeout",
            )
        )
        return sorted(
            (r["user_id"], r["n"], r["final"]) for r in _drive(out, ckpt)
        )

    _append_events(
        spark, src, [(1, dt(2024, 1, 1, 10, 0), 1), (2, dt(2024, 1, 1, 10, 1), 1)]
    )
    assert run() == [(1, 2, False)]
    # User 2's 11:00 event pushes the watermark past user 1's 10:31
    # timeout: user 1's session finalizes (n=2) and its state clears.
    _append_events(spark, src, [(3, dt(2024, 1, 1, 11, 0), 2)])
    assert run() == [(1, 2, True), (2, 1, False)]
    # A LATER event from user 1 starts a FRESH session — the old state
    # is gone, the count restarts at 1.
    _append_events(spark, src, [(4, dt(2024, 1, 1, 12, 0), 1)])
    got = run()
    assert (1, 1, False) in got, got


def test_drop_duplicates_within_watermark(stream_env):
    """dropDuplicatesWithinWatermark (Spark 3.5+, the §2B stream-dedup
    row's newer API): unlike dropDuplicates, state for a key is
    guaranteed evictable once the watermark passes the key's last-seen
    event time + delay, so a duplicate arriving LATER than the horizon
    re-emits — dedup is exact only within the watermark window (the
    documented trade-off that keeps state bounded at 100 TB/day)."""
    from datetime import datetime as dt

    spark, src, ckpt = stream_env
    _append_events(
        spark, src, [(1, dt(2024, 1, 1, 10, 0), 1), (2, dt(2024, 1, 1, 10, 1), 1)]
    )

    def run():
        stream = spark.readStream.schema(
            "event_id long, ts timestamp, user_id long"
        ).parquet(src)
        deduped = stream.withWatermark("ts", "30 minutes").dropDuplicatesWithinWatermark(
            ["event_id"]
        )
        return sorted(r["event_id"] for r in _drive(deduped, ckpt))

    assert run() == [1, 2]
    # In-horizon duplicate of id 2 is suppressed; id 3 is new. The
    # 13:00 row pushes the watermark far past id 1's horizon.
    _append_events(
        spark, src, [(2, dt(2024, 1, 1, 10, 2), 1), (3, dt(2024, 1, 1, 13, 0), 1)]
    )
    assert run() == [3]
    # id 1 re-sent AFTER its state horizon expired: re-emits — the
    # within-watermark contract, not a bug.
    _append_events(spark, src, [(1, dt(2024, 1, 1, 13, 1), 1)])
    assert run() == [1]


def test_drop_duplicates_within_watermark_boundary(stream_env):
    """Pins the EXACT state-expiry rule q119's oracle encodes: Spark's
    event-time stats floor timestamps to MILLISECONDS, and eviction is
    STRICT (state survives when expiresAt == watermark).

    Construction (delay = 30 min): watermark after the sentinel batch
    is floor_ms(11:00:00.000900) − 30 min = 10:30:00.000 exactly.
    idA (10:00:00.000500) → expiresAt floor_ms+30 min = 10:30:00.000
    == watermark → kept → its re-send is SUPPRESSED. Without the ms
    floor its expiresAt (…000500) would differ from the watermark on
    both sides and the equality case would never arise; with non-strict
    eviction idA would re-emit. idB (09:59:59.999500, 1 ms earlier) →
    expiresAt 10:29:59.999 < watermark → evicted → re-emits."""
    from datetime import datetime as dt

    spark, src, ckpt = stream_env

    def run():
        stream = spark.readStream.schema(
            "event_id long, ts timestamp, user_id long"
        ).parquet(src)
        deduped = stream.withWatermark("ts", "30 minutes").dropDuplicatesWithinWatermark(
            ["event_id"]
        )
        return sorted(r["event_id"] for r in _drive(deduped, ckpt))

    _append_events(
        spark,
        src,
        [
            (1, dt(2024, 1, 1, 10, 0, 0, 500), 1),  # idA: boundary key
            (2, dt(2024, 1, 1, 9, 59, 59, 999500), 1),  # idB: 1 ms earlier
        ],
    )
    assert run() == [1, 2]
    _append_events(spark, src, [(3, dt(2024, 1, 1, 11, 0, 0, 900), 1)])
    assert run() == [3]
    # Fresh-timestamped duplicates of both: only idB's state expired.
    _append_events(
        spark,
        src,
        [(1, dt(2024, 1, 1, 12, 0), 1), (2, dt(2024, 1, 1, 12, 0), 1)],
    )
    assert run() == [2]


def test_rate_micro_batch_source(spark, tmp_path):
    """The deterministic rate source (§2B 'rate source for tests'):
    rate-micro-batch emits exactly rowsPerBatch rows per micro-batch
    with monotonically increasing values."""
    stream = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 5)
        .option("numPartitions", 2)
        .load()
    )
    emitted = []
    q = (
        stream.writeStream.foreachBatch(lambda bdf, bid: emitted.extend(bdf.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    values = sorted(r["value"] for r in emitted)
    assert values == list(range(len(values))) and len(values) >= 5


def test_streaming_session_window_emits_after_watermark(stream_env):
    """Streaming-mode session_window (q53 runs it in batch mode): a
    gap-based session finalizes only once the watermark passes
    session_end + gap, emitting exactly one row per session."""
    from datetime import datetime as dt

    from apache_hadoop_framework_for_peptide_identification_spark.streaming.windows import session_agg

    spark, src, ckpt = stream_env
    # Session A: user 1, events 10:00/10:10 (gap 30m -> ends 10:40).
    _append_events(
        spark, src, [(1, dt(2024, 1, 1, 10, 0), 1), (2, dt(2024, 1, 1, 10, 10), 1)]
    )

    def run():
        stream = spark.readStream.schema(
            "event_id long, ts timestamp, user_id long"
        ).parquet(src)
        agg = session_agg(stream.withColumn("value", F.lit(0.0)), gap="30 minutes",
                          watermark="30 minutes")
        return {
            (r["user_id"], r["session_start"].isoformat()): r["n_events"]
            for r in _drive(agg, ckpt)
        }

    assert run() == {}, "session emitted before watermark passed its end"
    # A much later event pushes the watermark past 10:40 -> session A
    # emits with n=2; the new event's own session stays open.
    _append_events(spark, src, [(3, dt(2024, 1, 1, 13, 0), 1)])
    assert run() == {(1, "2024-01-01T10:00:00"): 2}


def test_map_in_arrow_batch_transform(spark):
    """mapInArrow (§2B map-partitions row): pyarrow RecordBatch in,
    RecordBatch out — the lowest-overhead Python boundary."""
    import pyarrow as pa

    def double_vals(batches):
        for batch in batches:
            tbl = pa.Table.from_batches([batch])
            out = tbl.set_column(
                tbl.schema.get_field_index("v"),
                "v",
                pa.compute.multiply(tbl["v"], pa.scalar(2.0)),
            )
            yield from out.to_batches()

    df = spark.range(100).select(F.col("id"), (F.col("id") * 1.0).alias("v"))
    got = df.mapInArrow(double_vals, "id long, v double").agg(F.sum("v")).first()[0]
    assert got == sum(2.0 * i for i in range(100))


def test_update_mode_emits_only_changed_groups(stream_env):
    """Update output mode (§2B stream sink row): each run re-emits
    ONLY groups whose aggregate changed in that run."""
    from datetime import datetime as dt

    spark, src, ckpt = stream_env
    _append_events(
        spark, src, [(1, dt(2024, 1, 1, 10, 0), 1), (2, dt(2024, 1, 1, 10, 1), 1)]
    )

    def run():
        stream = spark.readStream.schema(
            "event_id long, ts timestamp, user_id long"
        ).parquet(src)
        agg = stream.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
        emitted = []
        q = (
            agg.writeStream.foreachBatch(lambda bdf, bid: emitted.extend(bdf.collect()))
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {r["user_id"]: r["n"] for r in emitted}

    assert run() == {1: 2}
    # user 1 gains an event, user 2 appears; user 1's NEW total and
    # user 2's first total are emitted — nothing for unchanged groups.
    _append_events(
        spark, src, [(3, dt(2024, 1, 1, 10, 2), 1), (4, dt(2024, 1, 1, 10, 3), 2)]
    )
    assert run() == {1: 3, 2: 1}
    # A batch touching only user 2 must not re-emit user 1.
    _append_events(spark, src, [(5, dt(2024, 1, 1, 10, 4), 2)])
    assert run() == {2: 2}


def test_native_parquet_stream_sink(spark, tmp_path):
    """The native files sink (writeStream.format('parquet')): append
    stream lands as committed parquet readable by the batch engine —
    no foreachBatch indirection."""
    from datetime import datetime as dt

    src = tmp_path / "src"
    src.mkdir()
    _append_events(
        spark, str(src), [(i, dt(2024, 1, 1, 10, i), i % 3) for i in range(30)]
    )
    stream = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long"
    ).parquet(str(src))
    q = (
        stream.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    back = spark.read.parquet(str(tmp_path / "out"))
    assert back.count() == 30
    assert sorted(r["event_id"] for r in back.collect()) == list(range(30))


def test_stream_static_dim_is_plan_time_snapshot(spark, tmp_path):
    """MEASURED r8 semantics pin (the q167 refresh caveat): a
    plain-parquet static side joined into a stream snapshots its file
    listing at plan time — dimension files appended between
    micro-batches are NOT visible to later batches. If a Spark upgrade
    ever changes this, the q167/SCALE.md documentation must change
    with it; this test fails first."""
    import os

    from pyspark.sql import functions as F

    dim_dir = str(tmp_path / "dim")
    src_dir = str(tmp_path / "src")
    ckpt = str(tmp_path / "ck")
    spark.createDataFrame([(1, "old")], "k long, v string").write.parquet(dim_dir)
    spark.createDataFrame([(1, 100)], "k long, x long").coalesce(1).write.parquet(
        os.path.join(src_dir, "f1")
    )
    spark.createDataFrame([(1, 200)], "k long, x long").coalesce(1).write.parquet(
        os.path.join(src_dir, "f2")
    )
    stream = (
        spark.readStream.schema("k long, x long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir + "/*")
    )
    joined = stream.join(F.broadcast(spark.read.parquet(dim_dir)), "k", "left").select(
        "k", "x", "v"
    )
    captured = {}

    def fb(df, bid):
        captured[bid] = sorted(tuple(r) for r in df.collect())
        if bid == 0:
            spark.createDataFrame([(1, "new")], "k long, v string").write.mode(
                "append"
            ).parquet(dim_dir)

    q = (
        joined.writeStream.foreachBatch(fb)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.awaitTermination()
    assert len(captured) == 2, captured
    # batch 1 ran AFTER the append and still sees only the snapshot
    assert all(rows == [(1, rows[0][1], "old")] for rows in captured.values()), captured


def test_stream_enrich_refreshed_picks_up_mid_stream_dim_change(spark, tmp_path):
    """VERDICT r8 item 4 — the refresh twin of the snapshot pin above:
    stream_enrich_refreshed re-reads the dimension INSIDE
    foreachBatch, so a dimension OVERWRITE between two replays of the
    same checkpoint affects ONLY the later batches (phase-1 output is
    immutable in the sink — already-written rows must keep v1)."""
    import os

    from apache_hadoop_framework_for_peptide_identification_spark.streaming.windows import (
        stream_enrich_refreshed,
    )

    dim_dir = str(tmp_path / "dim")
    src_dir = str(tmp_path / "src")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ck")
    spark.createDataFrame([(1, "v1")], "k long, v string").write.parquet(dim_dir)
    spark.createDataFrame([(1, 100)], "k long, x long").coalesce(1).write.parquet(
        os.path.join(src_dir, "f1")
    )

    def run_once():
        stream = spark.readStream.schema("k long, x long").parquet(src_dir + "/*")
        stream_enrich_refreshed(
            stream,
            lambda: spark.read.parquet(dim_dir),
            on="k",
            out_dir=out_dir,
            checkpoint_dir=ckpt,
        )

    run_once()
    spark.createDataFrame([(1, "v2")], "k long, v string").write.mode(
        "overwrite"
    ).parquet(dim_dir)
    spark.createDataFrame([(1, 200)], "k long, x long").coalesce(1).write.parquet(
        os.path.join(src_dir, "f2")
    )
    run_once()

    got = sorted(
        tuple(r) for r in spark.read.parquet(out_dir).select("k", "x", "v").collect()
    )
    # phase 1 keeps v1; phase 2 sees the refreshed v2 — the exact
    # split a plan-time snapshot (all-v1) or an eager re-read
    # contaminating history (all-v2) would both break.
    assert got == [(1, 100, "v1"), (1, 200, "v2")], got


def test_stream_reader_restart_replay_recovers_and_inverted_range_raises():
    """The q153 source's two restart paths (r7 ADVICE item 2, sharpened
    r8): replaying an in-flight batch (partitions() called from the
    offset log before any latestOffset()) must advance the fresh
    cursor so the stream CONTINUES from the committed position; a
    fully-committed restart (latestOffset() first, returning an offset
    behind the checkpoint) must raise on the inverted range, never
    serve silently-empty batches."""
    import pytest as _pytest

    from apache_hadoop_framework_for_peptide_identification_spark.sources.pyds import (
        SyntheticSequenceStreamReader,
    )

    # in-flight replay: fresh instance, offsets [50, 60) from the log
    r = SyntheticSequenceStreamReader({"n": "100", "parts": "4", "rows_per_batch": "10"})
    parts = r.partitions({"pos": 50}, {"pos": 60})
    rows = [row for p in parts for row in r.read(p)]
    assert [i for (_, i, _) in rows] == list(range(50, 60))
    # the NEXT planned batch continues from the committed position
    assert r.latestOffset() == {"pos": 60}

    # fully-committed restart: fresh cursor yields an offset behind
    # the checkpointed start -> inverted range must raise
    r2 = SyntheticSequenceStreamReader({"n": "100", "parts": "4", "rows_per_batch": "10"})
    behind = r2.latestOffset()  # {"pos": 10} — behind a checkpoint at 50
    assert behind["pos"] < 50
    with _pytest.raises(ValueError, match="inverted"):
        r2.partitions({"pos": 50}, behind)


def test_stream_enrich_refreshed_multi_key_inner_and_three_phases(spark, tmp_path):
    """stream_enrich_refreshed generality: composite join key, inner
    mode (unmatched stream rows dropped per batch), and THREE replays
    with a distinct dimension version each — every sink row must carry
    exactly the version live at its own phase."""
    import os

    from apache_hadoop_framework_for_peptide_identification_spark.streaming.windows import (
        stream_enrich_refreshed,
    )

    dim_dir = str(tmp_path / "dim")
    src_dir = str(tmp_path / "src")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ck")

    def run_once():
        stream = spark.readStream.schema("k1 long, k2 string, x long").parquet(
            src_dir + "/*"
        )
        stream_enrich_refreshed(
            stream,
            lambda: spark.read.parquet(dim_dir),
            on=["k1", "k2"],
            out_dir=out_dir,
            checkpoint_dir=ckpt,
            how="inner",
        )

    for phase in (1, 2, 3):
        spark.createDataFrame(
            [(1, "a", f"v{phase}")], "k1 long, k2 string, v string"
        ).write.mode("overwrite").parquet(dim_dir)
        spark.createDataFrame(
            # (1,'a') matches; (2,'b') has no dim row — inner drops it
            [(1, "a", 100 * phase), (2, "b", 100 * phase + 1)],
            "k1 long, k2 string, x long",
        ).coalesce(1).write.parquet(os.path.join(src_dir, f"f{phase}"))
        run_once()

    got = sorted(
        tuple(r)
        for r in spark.read.parquet(out_dir).select("k1", "k2", "x", "v").collect()
    )
    assert got == [
        (1, "a", 100, "v1"),
        (1, "a", 200, "v2"),
        (1, "a", 300, "v3"),
    ], got


def test_stream_enrich_refreshed_replay_is_idempotent(spark, tmp_path):
    """ADVICE r9 (medium): a micro-batch replayed after a crash between
    the sink write and the checkpoint commit must NOT duplicate rows.
    The sink overwrites a batch_id=N partition dir, so re-running the
    same batch id replaces its previous attempt. Simulated by invoking
    the per-batch writer twice with the same batch_id (exactly what a
    post-crash replay does), then once with the next id."""
    import os

    from apache_hadoop_framework_for_peptide_identification_spark.streaming.windows import (
        stream_enrich_refreshed,
    )

    dim_dir = str(tmp_path / "dim")
    src_dir = str(tmp_path / "src")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ck")
    spark.createDataFrame([(1, "v1")], "k long, v string").write.parquet(dim_dir)
    spark.createDataFrame([(1, 100)], "k long, x long").coalesce(1).write.parquet(
        os.path.join(src_dir, "f1")
    )

    # Real run writes batch 0 through the checkpointed query.
    stream = spark.readStream.schema("k long, x long").parquet(src_dir + "/*")
    stream_enrich_refreshed(
        stream,
        lambda: spark.read.parquet(dim_dir),
        on="k",
        out_dir=out_dir,
        checkpoint_dir=ckpt,
    )
    one = spark.read.parquet(out_dir).count()
    assert one == 1

    # Crash-replay simulation: the same batch payload re-written under
    # the SAME batch id must replace, not append.
    bdf = spark.createDataFrame([(1, 100)], "k long, x long")
    dim = spark.read.parquet(dim_dir)
    from pyspark.sql import functions as F

    bdf.join(F.broadcast(dim), ["k"], "left").write.mode("overwrite").parquet(
        f"{out_dir}/batch_id=0"
    )
    assert spark.read.parquet(out_dir).count() == 1  # no duplicate

    # A genuinely new batch id lands alongside.
    bdf.join(F.broadcast(dim), ["k"], "left").write.mode("overwrite").parquet(
        f"{out_dir}/batch_id=1"
    )
    assert spark.read.parquet(out_dir).count() == 2


def test_stream_neardup_ingest_replay_excludes_own_prior_attempt(spark, tmp_path):
    """r11 streaming near-dup ingest: a micro-batch replayed after a
    crash BETWEEN the store appends and the checkpoint commit must (a)
    not raise the disjoint-id guard on its own half-written previous
    attempt, and (b) leave the store and pair output exactly as a
    clean single run would — the self-exclusion-by-partition-pruning
    contract. Simulated FAITHFULLY (r12 — the fresh-checkpoint guard
    rejects the old no-checkpoint shortcut): run the stream once, then
    delete the checkpoint's commit marker while keeping its offsets —
    exactly the state a crash after the store writes leaves — and
    restart; Spark re-executes batch 0 over its own leftovers."""
    import os

    from apache_hadoop_framework_for_peptide_identification_spark.streaming.windows import (
        seed_neardup_store,
        stream_neardup_ingest,
    )

    store = str(tmp_path / "store")
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ck")

    history = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"), (2, "one two three four five six")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon"), (11, "totally novel content words here")],
        "doc_id long, text string",
    )
    seed_neardup_store(history, store, "doc_id", "text")

    batch.write.mode("append").parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    stream_neardup_ingest(stream, store, ckpt, "doc_id", "text", threshold=0.5)

    # Crash injection: offsets/0 stays (written at batch start), the
    # commit marker goes — on restart Spark must re-run batch 0, whose
    # postings/texts/pairs partitions already hold the first attempt.
    # includes the hidden .N.crc checksum twins — a leftover crc makes
    # the replay's commit rename fail with FileAlreadyExists
    entries = [
        os.path.join(f"{ckpt}/commits", n) for n in os.listdir(f"{ckpt}/commits")
    ]
    removed = [p for p in entries if os.path.isfile(p)]
    assert removed, "checkpoint layout changed: no commit markers found"
    for p in removed:
        os.remove(p)
    stream2 = spark.readStream.schema("doc_id long, text string").parquet(src)
    stream_neardup_ingest(stream2, store, ckpt, "doc_id", "text", threshold=0.5)

    pairs = {
        (r["id_a"], r["id_b"])
        for r in spark.read.parquet(f"{store}/pairs").collect()
    }
    assert pairs == {(1, 10)}  # planted twin found once; no self-pairs
    # Store holds exactly one copy of the batch per table (overwrite).
    texts = spark.read.parquet(f"{store}/texts")
    assert texts.filter("doc_id >= 10").count() == 2


def test_stream_neardup_ingest_fresh_checkpoint_over_existing_store_raises(
    spark, tmp_path
):
    """ADVICE r11 (medium): a fresh/new checkpoint restarts batch ids
    at 0, so starting one over a store that already holds batch_id>=0
    partitions would overwrite older, unrelated batches — the start
    path must fail fast (the stream_enrich_refreshed layout-guard
    twin). Seeded-only stores (batch_id=-1) start fine."""
    from apache_hadoop_framework_for_peptide_identification_spark.streaming.windows import (
        seed_neardup_store,
        stream_neardup_ingest,
    )

    store = str(tmp_path / "store")
    src = str(tmp_path / "src")

    history = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(10, "totally novel content words here")], "doc_id long, text string"
    )
    seed_neardup_store(history, store, "doc_id", "text")
    batch.write.mode("append").parquet(src)

    # First run with checkpoint A populates batch_id=0.
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    stream_neardup_ingest(
        stream, store, str(tmp_path / "ckA"), "doc_id", "text"
    )

    # A NEW checkpoint over the same store must refuse to start.
    stream2 = spark.readStream.schema("doc_id long, text string").parquet(src)
    with pytest.raises(ValueError, match="no committed offsets"):
        stream_neardup_ingest(
            stream2, store, str(tmp_path / "ckB"), "doc_id", "text"
        )


def test_stream_dedup_ladder_replay_and_tier_resolution(spark, tmp_path):
    """r15 streaming dedup ladder: (a) hash-tier dups resolve against
    keepers READ BACK from an earlier batch's store (the cross-batch
    path) and within their own batch (the window path); (b) a batch
    replayed after a crash between the store writes and the checkpoint
    commit leaves keepers/tiers/pairs exactly as a clean run (the q180
    self-exclusion discipline on ALL FOUR store tables)."""
    import os

    from apache_hadoop_framework_for_peptide_identification_spark.streaming.windows import (
        stream_dedup_ladder,
    )

    store = str(tmp_path / "store")
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ck")

    # batch 0: anchor (1) + exact copy (2, within-batch 'exact') +
    # an unrelated keeper (3)
    b0 = spark.createDataFrame(
        [
            (1, "Alpha beta gamma delta epsilon zeta."),
            (2, "Alpha beta gamma delta epsilon zeta."),
            (3, "one two three four five six seven"),
        ],
        "doc_id long, text string",
    )
    # batch 1: casefold twin of 1 (cross-batch store hit), NFC twin of
    # 3's... none — keep it a casefold vs stored keeper + a near-dup
    # twin of 3 (drop last word -> new keeper caught by LSH) + novel
    b1 = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon zeta"),
            (11, "one two three four five six"),
            (12, "completely different novel words entirely"),
        ],
        "doc_id long, text string",
    )
    b0.repartition(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    stream_dedup_ladder(stream, store, ckpt, "doc_id", "text", threshold=0.5)
    b1.repartition(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    stream_dedup_ladder(stream, store, ckpt, "doc_id", "text", threshold=0.5)

    tiers = {
        r["doc_id"]: r["tier"]
        for r in spark.read.parquet(f"{store}/tiers").collect()
    }
    assert tiers == {
        1: "kept",
        2: "exact",      # within-batch hash dup
        3: "kept",
        10: "casefold",  # cross-batch: folds against batch-0 keeper 1
        11: "neardup",   # new keeper, LSH-caught against stored keeper 3
        12: "kept",
    }
    pairs = {
        (r["id_a"], r["id_b"]) for r in spark.read.parquet(f"{store}/pairs").collect()
    }
    assert pairs == {(3, 11)}

    # crash injection on the LAST batch: drop the commit marker AND its
    # hidden .crc twin (a leftover crc fails the replay's commit rename
    # — the q180 test's documented pitfall); restart — Spark re-runs
    # batch 1 over its own leftovers
    markers = [
        n for n in os.listdir(f"{ckpt}/commits") if not n.startswith(".")
    ]
    newest = max(markers, key=int)
    os.remove(os.path.join(f"{ckpt}/commits", newest))
    crc = os.path.join(f"{ckpt}/commits", f".{newest}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    stream_dedup_ladder(stream, store, ckpt, "doc_id", "text", threshold=0.5)

    tiers2 = {
        r["doc_id"]: r["tier"]
        for r in spark.read.parquet(f"{store}/tiers").collect()
    }
    assert tiers2 == tiers
    assert {
        (r["id_a"], r["id_b"]) for r in spark.read.parquet(f"{store}/pairs").collect()
    } == pairs
    # one keeper row per keeper, no replay duplicates
    keepers = spark.read.parquet(f"{store}/keepers")
    assert keepers.count() == keepers.select("k_n").distinct().count() == 4


def test_stream_dedup_ladder_fresh_checkpoint_over_existing_store_raises(
    spark, tmp_path
):
    """The ladder inherits the fresh-checkpoint guard: a new checkpoint
    over a store holding keeper partitions must refuse to start (batch
    ids restart at 0 and would overwrite batch_id=0's keepers)."""
    from apache_hadoop_framework_for_peptide_identification_spark.streaming.windows import (
        stream_dedup_ladder,
    )

    store = str(tmp_path / "store")
    src = str(tmp_path / "src")
    b0 = spark.createDataFrame(
        [(1, "alpha beta gamma delta")], "doc_id long, text string"
    )
    b0.write.mode("append").parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    stream_dedup_ladder(stream, store, str(tmp_path / "ckA"), "doc_id", "text")
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    with pytest.raises(ValueError, match="no committed offsets"):
        stream_dedup_ladder(stream, store, str(tmp_path / "ckB"), "doc_id", "text")


def test_stream_dedup_ladder_all_dup_batch_then_recovery(spark, tmp_path):
    """A mid-stream batch where EVERY doc folds to stored keepers (zero
    new keepers) must write empty keeper/posting/text/pair partitions
    that later batches read straight through — Spark writes an empty
    part file WITH schema for an empty frame, so the store never hits
    schema inference on an all-empty leaf (pinned here because a
    boilerplate-heavy production stream hits this shape routinely)."""
    from apache_hadoop_framework_for_peptide_identification_spark.streaming.windows import (
        stream_dedup_ladder,
    )

    store = str(tmp_path / "store")
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ck")

    def run(batch) -> None:
        batch.repartition(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema("doc_id long, text string").parquet(src)
        stream_dedup_ladder(stream, store, ckpt, "doc_id", "text", threshold=0.5)

    run(spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu")], "doc_id long, text string"
    ))
    # batch 1: ONLY dups of the stored keeper — zero new keepers
    run(spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu"),
         (11, "ALPHA beta GAMMA delta epsilon zeta eta theta iota kappa lam mu.")],
        "doc_id long, text string",
    ))
    # batch 2 reads the store past batch 1's empty partitions
    # (doc 20 drops the last word: Jaccard 10/11 — far above the 0.5
    # threshold AND the banded-minhash recall floor, unlike a
    # short-text twin whose 2-3 shingle sets make collisions lumpy)
    run(spark.createDataFrame(
        [(20, "alpha beta gamma delta epsilon zeta eta theta iota kappa lam"),  # drop-last-word near-dup of 1
         (21, "totally unrelated novel words here with more padding tokens")],
        "doc_id long, text string",
    ))

    tiers = {
        r["doc_id"]: r["tier"]
        for r in spark.read.parquet(f"{store}/tiers").collect()
    }
    assert tiers == {
        1: "kept",
        10: "exact",
        11: "casefold",
        20: "neardup",
        21: "kept",
    }
    keepers = spark.read.parquet(f"{store}/keepers")
    assert keepers.count() == 3  # batch 1 contributed none


def test_stream_dedup_ladder_lower_id_late_arrival_gets_neardup(spark, tmp_path):
    """code-review r15 finding: ingest_neardup orders pairs by id VALUE
    (id_a < id_b), so a late-arriving near-dup keeper with a LOWER id
    than its stored partner appears as id_a — the old id_b-only flag
    lost the pair from the tier output entirely (the stored partner's
    'kept' row is final; the new arrival read 'kept' too). The rule is
    arrival-consistent: the ARRIVING keeper takes 'neardup'."""
    from apache_hadoop_framework_for_peptide_identification_spark.streaming.windows import (
        stream_dedup_ladder,
    )

    store = str(tmp_path / "store")
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ck")
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu"

    def run(batch) -> None:
        batch.repartition(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema("doc_id long, text string").parquet(src)
        stream_dedup_ladder(stream, store, ckpt, "doc_id", "text", threshold=0.5)

    run(spark.createDataFrame([(100, base)], "doc_id long, text string"))
    # doc 5 arrives later, is a drop-last-word near-dup of stored 100,
    # and has the SMALLER id — the pair emits as (id_a=5, id_b=100)
    run(spark.createDataFrame(
        [(5, base.rsplit(" ", 1)[0])], "doc_id long, text string"
    ))

    tiers = {
        r["doc_id"]: r["tier"]
        for r in spark.read.parquet(f"{store}/tiers").collect()
    }
    assert tiers == {100: "kept", 5: "neardup"}


def test_stream_dedup_ladder_guards_neardup_store_reuse(spark, tmp_path):
    """code-review r15 finding: a store_dir previously populated by
    stream_neardup_ingest has postings/texts/pairs partitions but no
    keepers/ — the ladder must refuse a fresh checkpoint over it
    (batch 0 would clobber postings/batch_id=0), not just over stores
    with keeper partitions."""
    from apache_hadoop_framework_for_peptide_identification_spark.streaming.windows import (
        stream_dedup_ladder,
        stream_neardup_ingest,
    )

    store = str(tmp_path / "store")
    src = str(tmp_path / "src")
    b0 = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    )
    b0.write.mode("append").parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    stream_neardup_ingest(stream, store, str(tmp_path / "ckA"), "doc_id", "text")

    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    with pytest.raises(ValueError, match="no committed offsets"):
        stream_dedup_ladder(stream, store, str(tmp_path / "ckB"), "doc_id", "text")


def _drain_ladder(spark, src, store, ckpt, rows):
    from apache_hadoop_framework_for_peptide_identification_spark.streaming.windows import (
        stream_dedup_ladder,
    )

    spark.createDataFrame(rows, "doc_id long, text string").repartition(1).write.mode(
        "append"
    ).parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    stream_dedup_ladder(stream, store, ckpt, "doc_id", "text", threshold=0.5)


def test_stream_dedup_ladder_string_ids_match_long_ids(spark, tmp_path):
    """The keeper store's schema follows the id column's type: with
    string doc ids, batch 0 (against the empty store) and batch 1
    (reading batch 0's keepers, postings, texts and pairs back with
    their written schemas) label every doc with the tier the long-id
    run gives its twin."""
    from apache_hadoop_framework_for_peptide_identification_spark.streaming.windows import (
        stream_dedup_ladder,
    )

    batches = [
        [(1, "Alpha beta gamma delta epsilon zeta."),
         (2, "Alpha beta gamma delta epsilon zeta."),
         (3, "one two three four five six seven")],
        [(10, "alpha beta gamma delta epsilon zeta"),
         (11, "one two three four five six"),
         (12, "completely different novel words entirely")],
    ]

    def run(id_type, key):
        store, src, ckpt = (str(tmp_path / f"{d}_{id_type}") for d in ("store", "src", "ck"))
        for rows in batches:
            spark.createDataFrame(
                [(key(i), t) for i, t in rows], f"doc_id {id_type}, text string"
            ).repartition(1).write.mode("append").parquet(src)
            stream = spark.readStream.schema(f"doc_id {id_type}, text string").parquet(src)
            stream_dedup_ladder(stream, store, ckpt, "doc_id", "text", threshold=0.5)
        for sub, field in (("keepers", "keeper_id"), ("pairs", "id_a"), ("tiers", "doc_id")):
            stored = spark.read.parquet(f"{store}/{sub}").schema[field].dataType
            assert stored.simpleString() == {"long": "bigint", "string": "string"}[id_type]
        tiers = {r["doc_id"]: r["tier"] for r in spark.read.parquet(f"{store}/tiers").collect()}
        pairs = {(r["id_a"], r["id_b"]) for r in spark.read.parquet(f"{store}/pairs").collect()}
        return tiers, pairs

    # zero-padded, so string order is id order (keeper = lowest id)
    skey = lambda i: f"d{i:03d}"  # noqa: E731
    long_tiers, long_pairs = run("long", int)
    str_tiers, str_pairs = run("string", skey)
    assert long_tiers == {
        1: "kept", 2: "exact", 3: "kept", 10: "casefold", 11: "neardup", 12: "kept",
    }
    assert str_tiers == {skey(i): t for i, t in long_tiers.items()}
    assert str_pairs == {(skey(a), skey(b)) for a, b in long_pairs} == {(skey(3), skey(11))}


def test_stream_dedup_ladder_jobs_per_micro_batch(spark, tmp_path):
    """A warm ladder micro-batch against a two-batch store runs at most
    24 Spark jobs on these files (33 with a parquet footer job per store
    read and three keeper-resolution checkpoints). Spark tags every job
    of a streaming run with the run id as its job group, so the drain's
    jobs are counted through the status tracker."""
    import time

    from pyspark.sql.streaming import StreamingQueryListener

    class RunIds(StreamingQueryListener):
        def __init__(self):
            self.ids = []

        def onQueryStarted(self, event):
            self.ids.append(str(event.runId))

        def onQueryProgress(self, event):
            pass

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    def text(i):  # 12 words no other doc shares
        return " ".join(f"w{(i * 7919 + k * 104729) % 100003}" for k in range(12))

    store, src, ckpt = (str(tmp_path / d) for d in ("store", "src", "ck"))
    files = [
        [(i, text(i)) for i in range(0, 20)],
        [(i, text(i)) for i in range(20, 40)]
        + [(100, text(3)), (101, text(5).upper() + ".")],
        [(i, text(i)) for i in range(40, 60)]
        + [(102, text(25).rsplit(" ", 1)[0]), (103, text(21)), (104, text(45))],
    ]
    listener = RunIds()
    spark.streams.addListener(listener)
    try:
        for rows in files:
            _drain_ladder(spark, src, store, ckpt, rows)
    finally:
        spark.streams.removeListener(listener)
    # onQueryStarted is delivered before the run starts, one per drain
    assert len(listener.ids) == len(files)
    tracker = spark.sparkContext.statusTracker()
    # the status store is fed asynchronously; wait until the count settles
    jobs, deadline = [], time.time() + 10
    while time.time() < deadline:
        now = tracker.getJobIdsForGroup(listener.ids[-1])
        if now and len(now) == len(jobs):
            break
        jobs = now
        time.sleep(0.5)
    assert 0 < len(jobs) <= 24, sorted(jobs)
    tiers = {r["doc_id"]: r["tier"] for r in spark.read.parquet(f"{store}/tiers").collect()}
    assert tiers == {
        **{i: "kept" for i in range(60)},
        100: "exact", 101: "casefold", 102: "neardup", 103: "exact", 104: "exact",
    }
    assert {
        (r["id_a"], r["id_b"]) for r in spark.read.parquet(f"{store}/pairs").collect()
    } == {(25, 102)}


def test_compact_ingest_store_preserves_neardup_results(spark, tmp_path):
    """r15 compaction operator (the measured store-fragmentation tax's
    API, BASELINE.md "Streaming-ingest throughput"): a mid-stream
    compaction of a seeded near-dup store must leave every subsequent
    ingest result IDENTICAL to an uncompacted twin run — rows are
    preserved exactly, only the partition layout consolidates — and
    the partition count actually shrinks (the operator's point)."""
    import os

    from apache_hadoop_framework_for_peptide_identification_spark.streaming.windows import (
        compact_ingest_store,
        seed_neardup_store,
        stream_neardup_ingest,
    )

    history = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "one two three four five six seven")],
        "doc_id long, text string",
    )
    b0 = [(10, "alpha beta gamma delta epsilon"),      # near-dup of 1
          (11, "totally novel content words right here")]
    b1 = [(15, "eight nine ten eleven twelve thirteen")]  # novel keeper
    b2 = [(20, "one two three four five six"),         # near-dup of 2
          (21, "totally novel content words right")]   # near-dup of 11

    def run(compact: bool):
        store = str(tmp_path / f"store_{compact}")
        src = str(tmp_path / f"src_{compact}")
        ckpt = str(tmp_path / f"ck_{compact}")
        seed_neardup_store(history, store, "doc_id", "text")
        for i, rows in enumerate([b0, b1, b2]):
            if compact and i == 2:
                # store holds batch_id=-1 (seed), 0, 1: consolidate
                # {-1, 0} into batch_id=0 (batch 1 = the replayable
                # latest, guarded off the horizon)
                rep = compact_ingest_store(spark, store, through_batch=0)
                assert rep["postings"]["partitions_before"] == 2
                assert rep["texts"]["partitions_before"] == 2
                dirs = {
                    d for d in os.listdir(f"{store}/postings")
                    if d.startswith("batch_id=")
                }
                assert dirs == {"batch_id=0", "batch_id=1"}
            spark.createDataFrame(rows, "doc_id long, text string").repartition(
                1
            ).write.mode("append").parquet(src)
            stream = spark.readStream.schema("doc_id long, text string").parquet(src)
            stream_neardup_ingest(stream, store, ckpt, "doc_id", "text", threshold=0.5)
        pairs = {
            (r["id_a"], r["id_b"])
            for r in spark.read.parquet(f"{store}/pairs").collect()
        }
        texts = {
            (r["doc_id"], r["text"])
            for r in spark.read.parquet(f"{store}/texts").collect()
        }
        return pairs, texts

    plain = run(compact=False)
    compacted = run(compact=True)
    assert compacted == plain
    # b2's dups fire against BOTH compacted history (2->20 from the
    # merged seed, 11->21 from merged batch 0)
    assert plain[0] == {(1, 10), (2, 20), (11, 21)}


def test_compact_ingest_store_preserves_ladder_tiers(spark, tmp_path):
    """Same twin-run contract through the full ladder (all five
    substores, incl. keepers whose read-back resolves cross-batch
    hash tiers): compacting batches 0..1 between phases must not
    change any later doc's tier or near-dup pair."""
    from apache_hadoop_framework_for_peptide_identification_spark.streaming.windows import (
        compact_ingest_store,
        stream_dedup_ladder,
    )

    phases = [
        [(1, "Alpha beta gamma delta epsilon zeta."),
         (2, "one two three four five six seven")],
        [(10, "alpha beta gamma delta epsilon zeta"),   # casefold of 1
         (11, "strange unrelated vocabulary item list")],
        [(12, "eight nine ten eleven twelve thirteen")],  # novel keeper
        [(20, "Alpha beta gamma delta epsilon zeta."),  # exact copy of 1
         (21, "one two three four five six"),           # near-dup of 2
         (22, "strange unrelated vocabulary item")],    # near-dup of 11
    ]

    def run(compact: bool):
        store = str(tmp_path / f"lstore_{compact}")
        src = str(tmp_path / f"lsrc_{compact}")
        ckpt = str(tmp_path / f"lck_{compact}")
        for i, rows in enumerate(phases):
            if compact and i == 3:
                # batches 0, 1, 2 exist: merge {0, 1}, keep 2 (the
                # replayable latest) out of the horizon
                rep = compact_ingest_store(spark, store, through_batch=1)
                assert rep["keepers"]["partitions_before"] == 2
                assert rep["tiers"]["partitions_before"] == 2
            _drain_ladder(spark, src, store, ckpt, rows)
        tiers = {
            r["doc_id"]: r["tier"]
            for r in spark.read.parquet(f"{store}/tiers").collect()
        }
        pairs = {
            (r["id_a"], r["id_b"])
            for r in spark.read.parquet(f"{store}/pairs").collect()
        }
        return tiers, pairs

    plain = run(compact=False)
    compacted = run(compact=True)
    assert compacted == plain
    # phase-3 dups resolve against compacted keepers (20 'exact' vs
    # batch-0 keeper 1; 21/22 near-dup vs merged postings)
    assert plain[0] == {
        1: "kept", 2: "kept", 10: "casefold", 11: "kept", 12: "kept",
        20: "exact", 21: "neardup", 22: "neardup",
    }
    assert plain[1] == {(2, 21), (11, 22)}


def test_compact_ingest_store_guards_and_noop(spark, tmp_path):
    """The replay-safety guard (through_batch must stay below the max
    batch id — the latest batch can replay and must keep its own
    partition), the empty-store raise, and the idempotent second call
    (nothing ≤ horizon left to merge -> {})."""
    from apache_hadoop_framework_for_peptide_identification_spark.streaming.windows import (
        compact_ingest_store,
        seed_neardup_store,
        stream_neardup_ingest,
    )

    store = str(tmp_path / "gstore")
    src = str(tmp_path / "gsrc")
    ckpt = str(tmp_path / "gck")
    with pytest.raises(ValueError, match="nothing to compact"):
        compact_ingest_store(spark, store)
    seed_neardup_store(
        spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon")], "doc_id long, text string"
        ),
        store, "doc_id", "text",
    )
    spark.createDataFrame(
        [(10, "alpha beta gamma delta")], "doc_id long, text string"
    ).write.mode("append").parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    stream_neardup_ingest(stream, store, ckpt, "doc_id", "text", threshold=0.5)

    with pytest.raises(ValueError, match="must be < the"):
        compact_ingest_store(spark, store, through_batch=0)  # 0 == max
    rep = compact_ingest_store(spark, store)  # default max-1 == -1... nothing below seed
    assert rep == {}  # seed partition alone: fewer than 2 in scope

    # Stale-tmp handling (code-review r15): a COMPLETE tmp from another
    # (horizon, max) state is ambiguous — its crashed run may have
    # deleted sources — so the operator refuses; an INCOMPLETE foreign
    # tmp never deleted anything and is silently cleaned.
    import os

    stale = f"{store}/postings/.compact_tmp.batch_id=-5.max=-2"
    os.makedirs(stale)
    open(f"{stale}/_SUCCESS", "w").close()
    with pytest.raises(ValueError, match="COMPLETE pending compaction"):
        compact_ingest_store(spark, store)
    os.remove(f"{stale}/_SUCCESS")  # now incomplete: cleaned, run proceeds
    assert compact_ingest_store(spark, store) == {}
    assert not os.path.exists(stale)


def test_compact_ingest_store_foreign_tmp_prescan_is_noop(spark, tmp_path):
    """ADVICE r16 (windows.py): a foreign COMPLETE tmp in a LATER
    substore must be detected by the pre-scan BEFORE any earlier
    substore is mutated — the r15 form raised mid-iteration, leaving
    the store part-old, part-new. Here 'postings' has two compactable
    partitions and 'texts' (scanned after it in the substores tuple)
    holds the poisoned tmp: the raise must leave postings' original
    batch_id layout untouched."""
    import os

    from apache_hadoop_framework_for_peptide_identification_spark.streaming.windows import (
        compact_ingest_store,
    )

    store = str(tmp_path / "pstore")
    for sub in ("postings", "texts"):
        for b in (0, 1, 2):
            spark.createDataFrame([(b,)], "x long").write.parquet(
                f"{store}/{sub}/batch_id={b}"
            )
    poison = f"{store}/texts/.compact_tmp.batch_id=0.max=1"
    os.makedirs(poison)
    open(f"{poison}/_SUCCESS", "w").close()
    with pytest.raises(ValueError, match="NOTHING was mutated"):
        compact_ingest_store(
            spark, store, through_batch=1, substores=("postings", "texts")
        )
    # pre-scan guarantee: postings kept ALL original partitions
    assert sorted(os.listdir(f"{store}/postings")) == [
        "batch_id=0", "batch_id=1", "batch_id=2",
    ]
    os.remove(f"{poison}/_SUCCESS")
    # incomplete foreign tmp: cleaned, compaction proceeds on both
    rep = compact_ingest_store(
        spark, store, through_batch=1, substores=("postings", "texts"),
        assume_atomic_rename=True,  # local FS: flag must be a no-op
    )
    assert rep["postings"]["partitions_before"] == 2
    assert rep["texts"]["rows"] == 2
    assert sorted(os.listdir(f"{store}/postings")) == ["batch_id=1", "batch_id=2"]
    assert not os.path.exists(poison)


def test_ingest_store_fragmentation_signal(spark, tmp_path):
    """r17 fragmentation sensor (VERDICT r16 item 5 — q197 proved the
    stop-compact-resume cadence, this decides WHEN): the probe must
    (1) stay readable on an empty/absent store instead of raising like
    the mutator does; (2) count partitions and the default-horizon
    compactable set exactly as compact_ingest_store() would fold them;
    (3) drop back to zero after the compaction it triggered — the
    production threshold loop's full cycle."""
    from apache_hadoop_framework_for_peptide_identification_spark.streaming.windows import (
        compact_ingest_store,
        ingest_store_fragmentation,
        seed_neardup_store,
        stream_neardup_ingest,
    )

    store = str(tmp_path / "fstore")
    src = str(tmp_path / "fsrc")
    ckpt = str(tmp_path / "fck")

    # (1) absent store: a monitoring probe never raises
    empty = ingest_store_fragmentation(spark, store)
    assert empty == {"max_batch_id": -1, "compactable_partitions": 0, "substores": {}}

    history = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "one two three four five six seven")],
        "doc_id long, text string",
    )
    seed_neardup_store(history, store, "doc_id", "text")
    # seed-only store: one batch_id=-1 partition per substore — max is
    # the seed batch, nothing below the horizon, no signal yet
    seeded = ingest_store_fragmentation(spark, store)
    assert seeded["max_batch_id"] == -1
    assert seeded["compactable_partitions"] == 0
    assert seeded["substores"]["postings"]["partitions"] == 1

    batches = [
        [(10, "alpha beta gamma delta epsilon")],
        [(15, "eight nine ten eleven twelve thirteen")],
        [(20, "one two three four five six")],
    ]
    for rows in batches:
        spark.createDataFrame(rows, "doc_id long, text string").repartition(
            1
        ).write.mode("append").parquet(src)
        stream = spark.readStream.schema("doc_id long, text string").parquet(src)
        stream_neardup_ingest(stream, store, ckpt, "doc_id", "text", threshold=0.5)

    # (2) batches -1 (seed), 0, 1, 2 on disk: default horizon = 1, so
    # {-1, 0, 1} is what a parameterless compaction folds
    frag = ingest_store_fragmentation(spark, store)
    assert frag["max_batch_id"] == 2
    assert frag["substores"]["postings"] == {"partitions": 4, "compactable": 3}
    assert frag["substores"]["texts"]["compactable"] == 3
    assert frag["compactable_partitions"] == 3
    # a plain near-dup store has no ladder substores — absent, not zero
    assert "keepers" not in frag["substores"]
    assert "tiers" not in frag["substores"]

    # (3) the production loop: threshold crossed -> compact -> signal off
    threshold = 3
    if frag["compactable_partitions"] >= threshold:
        rep = compact_ingest_store(spark, store)
        assert rep["postings"]["partitions_before"] == 3
    after = ingest_store_fragmentation(spark, store)
    assert after["max_batch_id"] == 2
    assert after["compactable_partitions"] == 0
    assert after["substores"]["postings"]["partitions"] == 2
