"""Multi-micro-batch streaming semantics (ROADMAP r2 'rate-limit
knobs' item): run the REAL stateful operators with
``maxFilesPerTrigger=1`` over time-sliced input files, so the
event-time watermark advances across MANY micro-batches — sessions
span batch boundaries and must close via event-time timeout, join
state must buffer clicks across batches and emit NULL-side rows only
when the watermark passes. The output must equal the single-batch
availableNow replay (itself DuckDB-oracle-checked by the driver),
proving the operators' incremental semantics, not just their
one-batch behavior.

Slices are contiguous in event time and arrive oldest-first — the
arrival order a live stream has — because the operators run real
watermarks (sessionize at 0 seconds): delivering time-shuffled files
would legitimately drop late data, which is watermark semantics, not
a bug."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from rs_streamloader_spark.operators import REGISTRY
from rs_streamloader_spark.streaming import replay

SF = "/root/testdata/sf0.001"
N_SLICES = 6


@pytest.fixture
def data_batches(spark):
    """Count the data micro-batches (``numInputRows > 0``) of every
    streaming query the test runs, from a ``StreamingQueryListener``
    (the way perfbench's ``PhaseListener`` reads progress). Progress
    events reach Python through the async listener bus, so the
    counter drains the bus before it reads."""
    from pyspark.sql.streaming import StreamingQueryListener

    rows: list[int] = []

    class BatchListener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            rows.append(event.progress.numInputRows)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = BatchListener()
    spark.streams.addListener(listener)
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def count() -> int:
        bus.waitUntilEmpty()
        return sum(1 for n in rows if n > 0)

    yield count
    spark.streams.removeListener(listener)


def _stage_sliced(df, path, ts_col="ts"):
    """Write df as N_SLICES single-file parquet slices, contiguous in
    event time, created oldest-first. FileStreamSource orders files by
    mtime with NO tiebreak, so each slice's mtime is explicitly bumped
    1s apart — on coarse-mtime filesystems equal stamps could reorder
    slices and the 0-second watermark would (correctly) drop the
    now-late rows, failing the test for filesystem reasons."""
    import time

    sliced = df.withColumn(
        "__slice", F.ntile(N_SLICES).over(Window.orderBy(ts_col))
    )
    base_mtime = time.time() - N_SLICES - 60
    for i in range(1, N_SLICES + 1):
        (
            sliced.filter(F.col("__slice") == i)
            .drop("__slice")
            .coalesce(1)
            .write.mode("append")
            .parquet(path)
        )
        for name in os.listdir(path):
            full = os.path.join(path, name)
            if os.path.getmtime(full) > base_mtime + i:
                os.utime(full, (base_mtime + i, base_mtime + i))


def _run_limited(spark, tag, inputs, build):
    # appId-namespaced like replay._replay: concurrent runs must not
    # clobber each other's inputs/checkpoints mid-query
    base = os.path.join(
        tempfile.gettempdir(),
        "rs_sl_multibatch",
        spark.sparkContext.applicationId,
        tag,
    )
    shutil.rmtree(base, ignore_errors=True)
    streams = {}
    for name, df in inputs.items():
        path = os.path.join(base, f"in_{name}")
        _stage_sliced(df, path)
        streams[name] = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(path)
        )
    out = os.path.join(base, "out")
    q = (
        build(streams)
        .writeStream.foreachBatch(
            lambda bdf, _bid: bdf.write.mode("append").parquet(out)
        )
        .outputMode("append")
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n_batches = len(
        os.listdir(os.path.join(base, "ckpt", "offsets"))
    )
    return spark.read.parquet(out), n_batches


def test_sessionize_across_many_microbatches(spark):
    """Sessions spanning micro-batch boundaries must merge in state
    and close by event-time timeout — output identical to the
    single-batch replay."""
    from rs_streamloader_spark.streaming.replay import (
        _SENTINEL_USER,
        _events,
        _sentinel_ts,
    )
    from rs_streamloader_spark.streaming.stateful import sessionize_stateful

    ev = _events(spark, SF).select("user_id", "ts")
    sentinel = spark.createDataFrame(
        [(_SENTINEL_USER, _sentinel_ts(ev))], ev.schema
    )
    out, n_batches = _run_limited(
        spark,
        "sessionize",
        {"events": ev.unionByName(sentinel)},
        lambda s: sessionize_stateful(s["events"]),
    )
    assert n_batches >= N_SLICES, f"only {n_batches} micro-batches ran"
    got = sorted(
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in out.filter(F.col("user_id") >= 0).collect()
    )
    want = sorted(
        (
            r.user_id,
            r.session_start.replace(tzinfo=None),
            r.session_end.replace(tzinfo=None),
            r.n_events,
        )
        for r in REGISTRY["sessionize_stateful_replay"].fn(spark, SF).collect()
    )
    got = [(u, s.replace(tzinfo=None), e.replace(tzinfo=None), n) for u, s, e, n in got]
    assert got == want


def test_attribution_join_across_many_microbatches(spark):
    """Stream-stream LEFT OUTER across many batches: clicks buffered
    in join state must match purchases arriving in LATER batches, and
    organic purchases emit NULL-side rows only once the watermark
    passes — output identical to the single-batch replay."""
    from rs_streamloader_spark.streaming.joins import attribution_join_outer
    from rs_streamloader_spark.streaming.replay import _events, _sentinel_ts

    ev = _events(spark, SF).select("user_id", "ts", "event_id", "event_type")
    sentinel_ts = _sentinel_ts(ev)

    def side(event_type, sentinel_user):
        rows = ev.filter(F.col("event_type") == event_type).select(
            "user_id", "ts", "event_id"
        )
        sentinel = spark.createDataFrame(
            [(sentinel_user, sentinel_ts, sentinel_user)], rows.schema
        )
        return rows.unionByName(sentinel)

    out, n_batches = _run_limited(
        spark,
        "attribution",
        {"clicks": side("click", -1), "purchases": side("purchase", -2)},
        lambda s: attribution_join_outer(s["clicks"], s["purchases"]),
    )
    assert n_batches >= N_SLICES, f"only {n_batches} micro-batches ran"

    def norm(df):
        return sorted(
            (
                r.user_id,
                r.purchase_id,
                r.purchase_ts.replace(tzinfo=None),
                r.click_id,
                r.click_ts.replace(tzinfo=None) if r.click_ts else None,
            )
            for r in df.collect()
        )

    got = norm(out.filter(F.col("user_id") >= 0))
    want = norm(
        REGISTRY["attribution_join_outer_replay"]
        .fn(spark, SF)
        .select("user_id", "purchase_id", "purchase_ts", "click_id", "click_ts")
    )
    assert got == want


def test_stream_static_join_across_many_microbatches(spark):
    """Stream-static enrichment across many batches: every micro-batch
    re-joins the static dimension, windows accumulate state across
    batches and emit exactly once when the watermark closes them —
    output identical to the single-batch replay (itself
    oracle-checked)."""
    from rs_streamloader_spark.session import load_tables
    from rs_streamloader_spark.streaming.joins import stream_static_enrich_agg
    from rs_streamloader_spark.streaming.replay import (
        _SENTINEL_USER,
        _events,
        _sentinel_ts,
    )

    ev = _events(spark, SF).select("user_id", "ts", "event_type", "value")
    sentinel = spark.createDataFrame(
        [(_SENTINEL_USER, _sentinel_ts(ev), "__sentinel", 0.0)], ev.schema
    )
    dim = load_tables(spark, SF, "customer")["customer"]
    out, n_batches = _run_limited(
        spark,
        "stream_static",
        {"events": ev.unionByName(sentinel)},
        lambda s: stream_static_enrich_agg(s["events"], dim),
    )
    assert n_batches >= N_SLICES, f"only {n_batches} micro-batches ran"

    def norm(df):
        return sorted(
            (
                r.window_start.replace(tzinfo=None),
                r.window_end.replace(tzinfo=None),
                r.segment,
                r.event_type,
                r.n_events,
                r.total_value,
            )
            for r in df.collect()
        )

    got = norm(out)
    want = norm(
        REGISTRY["stream_static_join_replay"].fn(spark, SF)
    )
    assert got == want


def test_hll_registers_across_many_microbatches(spark):
    """Complete-mode register maintenance must survive real multi-batch
    incremental aggregation: with maxFilesPerTrigger=1 the register
    MAXes accumulate across micro-batches, and the final register file
    must equal the single-batch replay (itself oracle-checked). MAX is
    idempotent/commutative, so ANY slicing must converge to the same
    64 registers."""
    from rs_streamloader_spark.streaming.replay import (
        _events,
        _replay,
        stream_hll_registers_replay,
    )
    from rs_streamloader_spark.operators.stats import _hll_cols

    single = {
        (r["bucket"], r["m"])
        for r in stream_hll_registers_replay(spark, SF).collect()
    }

    ev = _events(spark, SF).select("user_id")
    bucket, rho = _hll_cols()

    def build(streams):
        return (
            streams["events"]
            .select(bucket.alias("bucket"), rho.cast("int").alias("rho"))
            .groupBy("bucket")
            .agg(F.max("rho").alias("m"))
        )

    multi_df = _replay(
        spark, "hll_regs_multi", SF, {"events": ev}, build,
        output_mode="complete", max_files_per_trigger=1,
    )
    multi = {(r["bucket"], r["m"]) for r in multi_df.collect()}
    assert multi == single and len(single) > 0


def test_checkpoint_stop_resume_equivalence(spark):
    """Exactly-once across a mid-stream restart: a watermarked hourly
    tumbling count is stopped after its first micro-batches, then
    RESUMED from the same checkpoint with availableNow — the landed
    output must equal the uninterrupted single-run replay (no lost,
    duplicated, or re-emitted windows). This is the recovery contract
    a production streaming job runs on."""
    import time as _time

    from rs_streamloader_spark.streaming.replay import _events, _sentinel_ts
    from rs_streamloader_spark.streaming.windows import tumbling_window_agg

    base_ev = _events(spark, SF).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    sentinel = spark.createDataFrame(
        [(-1, _sentinel_ts(base_ev), -1, "__sentinel", 0.0)], base_ev.schema
    )
    # the sentinel is the latest timestamp, so slicing by ts puts it in
    # the final file: it flushes every real window at the very end,
    # exactly like the single-batch replay
    ev = base_ev.unionByName(sentinel)

    def build(stream):
        return tumbling_window_agg(stream)

    def run(tag, interrupt):
        base = os.path.join(
            tempfile.gettempdir(),
            "rs_sl_multibatch",
            spark.sparkContext.applicationId,
            tag,
        )
        shutil.rmtree(base, ignore_errors=True)
        path = os.path.join(base, "in")
        _stage_sliced(ev, path)
        out = os.path.join(base, "out")
        ckpt = os.path.join(base, "ckpt")

        def start():
            stream = (
                spark.readStream.schema(ev.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(path)
            )
            # IDEMPOTENT landing: each micro-batch overwrites its own
            # batch-id dir, so a replayed batch (foreachBatch is
            # at-least-once when a stop races the commit) rewrites the
            # same data instead of duplicating it — the production
            # exactly-once pattern this test verifies end-to-end
            return (
                build(stream)
                .writeStream.foreachBatch(
                    lambda bdf, bid: bdf.write.mode("overwrite").parquet(
                        os.path.join(out, f"b{bid}")
                    )
                )
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )

        q = start()
        if interrupt:
            # stop after the first micro-batch commits, mid-stream —
            # bounded wait: a failed batch 0 must FAIL, not hang CI
            deadline = _time.time() + 120
            while not os.path.isdir(os.path.join(ckpt, "commits")) or not os.listdir(
                os.path.join(ckpt, "commits")
            ):
                assert q.exception() is None, q.exception()
                assert _time.time() < deadline, "no commit within 120s"
                _time.sleep(0.1)
            q.stop()
            q.awaitTermination()
            q = start()  # resume from the same checkpoint
        q.awaitTermination()
        return spark.read.parquet(os.path.join(out, "b*"))

    from collections import Counter

    # MULTISET compare: a set would silently absorb the duplicated
    # re-emission this test exists to rule out (foreachBatch+append is
    # at-least-once if the stop races the commit)
    uninterrupted = Counter(tuple(r) for r in run("ckpt_single", False).collect())
    resumed = Counter(tuple(r) for r in run("ckpt_resume", True).collect())
    assert resumed == uninterrupted and len(uninterrupted) > 0


def test_multimodal_screen_replay_batch_boundaries(spark, data_batches):
    """The 17th replay's micro-batch boundary must be observable and
    correct: each doc_id%N slice arrives as its own micro-batch
    (maxFilesPerTrigger=1 over mtime-ordered single-file slices), so
    the landed batch_kept/batch_total tallies must equal the per-slice
    per-mime truth, and the per-doc verdicts must equal the
    batch-mode quality screen (itself oracle-checked)."""
    from rs_streamloader_spark.operators.multimodal import (
        multimodal_quality_screen,
    )
    from rs_streamloader_spark.streaming.replay import (
        _MM_SCREEN_SLICES,
        stream_multimodal_screen_replay,
    )

    out = stream_multimodal_screen_replay(spark, SF).collect()
    assert data_batches() == _MM_SCREEN_SLICES
    assert {r["slc"] for r in out} == set(range(_MM_SCREEN_SLICES))

    # per-doc verdicts == batch mode
    batch = {
        r["doc_id"]: (r["mime"], r["metric"], r["keep"])
        for r in multimodal_quality_screen(spark, SF).collect()
    }
    assert len(out) == len(batch)
    for r in out:
        assert batch[r["doc_id"]] == (r["mime"], r["metric"], r["keep"])

    # batch tallies == per-(slice, mime) truth recomputed from verdicts
    from collections import Counter

    kept = Counter()
    total = Counter()
    for r in out:
        total[(r["slc"], r["mime"])] += 1
        kept[(r["slc"], r["mime"])] += bool(r["keep"])
    for r in out:
        key = (r["slc"], r["mime"])
        assert r["batch_total"] == total[key]
        assert r["batch_kept"] == kept[key]
    # both admission branches are live somewhere in the stream
    assert any(r["batch_kept"] < r["batch_total"] for r in out)
    assert any(r["batch_kept"] > 0 for r in out)


def test_maintenance_under_pin_multibatch(spark, data_batches):
    """The 19th replay's protocol end-to-end at smoke scale (VERDICT
    r14 next-round #7): a pin taken at batch 1 survives compact() +
    vacuum() running between every subsequent micro-batch — each
    per-batch verdict row must report the pinned read intact and
    vacuum deferred — and the post-release row must show vacuum
    actually reclaiming. This is the multi-batch pin contract:
    maintenance interleaving with ingestion and a live reader, not
    just the unit-level pin tests in test_snapshot_read.py."""
    from rs_streamloader_spark.streaming.replay import (
        _MAINT_SLICES,
        stream_maintenance_pin_replay,
    )

    rows = {
        r["batch_seq"]: r
        for r in stream_maintenance_pin_replay(spark, SF).collect()
    }
    assert data_batches() == _MAINT_SLICES
    assert set(rows) == set(range(1, _MAINT_SLICES + 2))
    for k in range(1, _MAINT_SLICES + 1):
        assert rows[k]["pin_intact"] is True, rows[k]
        assert rows[k]["vacuum_deferred"] is True, rows[k]
    # live view advances monotonically while the pin holds still
    lives = [rows[k]["live_rows"] for k in range(1, _MAINT_SLICES + 1)]
    assert lives == sorted(set(lives))  # strictly increasing
    pinned = {rows[k]["pinned_rows"] for k in range(1, _MAINT_SLICES + 1)}
    assert len(pinned) == 1  # the pinned state never moved
    post = rows[_MAINT_SLICES + 1]
    assert post["vacuum_deferred"] is False  # lease ended, space back
    assert post["pinned_rows"] is None and post["pin_intact"] is None


def test_warc_ingest_replay_batch_boundaries(spark, data_batches):
    """The 21st replay genuinely crosses micro-batch boundaries: all
    6 slices land as distinct batch rows, every batch contains BOTH
    truncated and clean captures (the fault slice cuts across every
    batch because 17 is coprime to 6), and per-batch clean counts
    reconcile with docs minus faults."""
    from rs_streamloader_spark.streaming.replay import (
        _WARC_SLICES,
        stream_warc_ingest_replay,
    )

    rows = {
        r["batch_seq"]: r
        for r in stream_warc_ingest_replay(spark, SF).collect()
    }
    assert data_batches() == _WARC_SLICES
    assert set(rows) == set(range(_WARC_SLICES))
    for k, r in rows.items():
        assert r["n_truncated"] > 0, (k, r)
        assert r["n_clean_recovered"] > 0, (k, r)
        assert r["n_docs"] == r["n_truncated"] + r["n_clean_recovered"], r
        assert r["chars_clean"] > 0, r


def test_drift_monitor_replay_batch_boundaries(spark, data_batches):
    """The 22nd replay: 4 verdict rows (first batch has no history),
    history grows monotonically batch over batch (the IVM fold), and
    BOTH alert branches fire at this scale (threshold measured inside
    the per-slice W1 range before it froze)."""
    from rs_streamloader_spark.streaming.replay import (
        _DRIFT_SLICES,
        stream_drift_monitor_replay,
    )

    rows = {
        r["batch_seq"]: r
        for r in stream_drift_monitor_replay(spark, SF).collect()
    }
    assert data_batches() == _DRIFT_SLICES
    assert set(rows) == set(range(2, _DRIFT_SLICES + 1))
    hist = [rows[k]["n_history"] for k in sorted(rows)]
    assert hist == sorted(hist) and hist[0] < hist[-1]
    verdicts = {rows[k]["drift_alert"] for k in rows}
    assert verdicts == {True, False}, rows
    assert all(r["w1_micro"] > 0 for r in rows.values())


@pytest.mark.parametrize(
    "name, want",
    [
        ("stream_upsert_loader_replay", replay._CDC_SLICES),
        ("stream_incremental_dedup_replay", replay._INC_DD_SLICES),
        ("stream_format_router_replay", replay._ROUTER_SLICES),
        # six arrival slices plus the sentinel's own
        ("stream_late_data_audit_replay", replay._LATE_N_SLICES + 1),
    ],
)
def test_sliced_replay_runs_one_batch_per_slice(spark, data_batches, name, want):
    """One staged slice is one data micro-batch, and the replay's
    shuffle width stays its own: the session width is the same after
    the run as before it."""
    width = spark.conf.get("spark.sql.shuffle.partitions")
    REGISTRY[name].fn(spark, SF)
    assert data_batches() == want
    assert spark.conf.get("spark.sql.shuffle.partitions") == width


def test_runner_restores_width_and_raises_on_a_failed_batch(spark, tmp_path):
    """A ``land`` that fails on the second micro-batch: the failure
    reaches the caller, the session's shuffle width is restored by the
    runner's ``finally``, and the first batch's landing stays."""
    from pyspark.errors import StreamingQueryException

    stream = replay._stage_sliced(
        spark.range(3).withColumn("slc", F.col("id").cast("int")),
        "slc",
        range(3),
        str(tmp_path / "in"),
        flatten=True,
    )
    out = str(tmp_path / "out")

    def land(bdf, bid):
        if bid == 1:
            raise RuntimeError("land failed on batch 1")
        bdf.write.mode("append").parquet(out)

    width = spark.conf.get("spark.sql.shuffle.partitions")
    with pytest.raises(StreamingQueryException, match="land failed on batch 1"):
        replay._run_available_now(spark, stream, str(tmp_path / "ckpt"), land, 3)
    assert spark.conf.get("spark.sql.shuffle.partitions") == width
    assert [r.id for r in spark.read.parquet(out).collect()] == [0]
