"""Snapshot-isolation contract for NativeTableSink (VERDICT r13
next-round #4): a reader holding a pinned version must see consistent
data across a concurrent upsert WITHOUT caller-side checkpointing —
the Delta/Iceberg snapshot-read analogue the incremental-dedup
operators depend on (they compute a decision table from store version
N while upserting N+1; reference transaction semantics at
core.ts:7-60).

Protocol under test (sinks/native.py module docstring): ``snapshot()``
drops a pin marker under ``_pins/``; while any unexpired pin is live,
replace commits land but physical pruning is DEFERRED (resolution is
newest-wins-correct with stale copies present), so lazy plans built
from the pinned version keep resolving their files. ``vacuum()``
reclaims the deferred garbage after release; expired pins (crashed
readers) are swept like stale writer locks.
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from rs_streamloader_spark.sinks.native import (
    _PIN_TTL_SEC,
    _PINS_DIR,
    NativeTableSink,
)


def _vals(df):
    return {r["id"]: r["val"] for r in df.collect()}


@pytest.fixture()
def bucketed(spark, tmp_path):
    return NativeTableSink(
        spark, str(tmp_path / "t"), num_buckets=4, bucket_by="id"
    )


def test_pinned_lazy_read_survives_concurrent_upsert(spark, bucketed):
    sink = bucketed
    sink.upsert(
        spark.range(0, 100).select("id", F.lit("a").alias("val")),
        id_field="id",
    )
    with sink.snapshot() as snap:
        assert snap.version == 1
        frozen = snap.read()  # lazy — deliberately NOT checkpointed
        sink.upsert(
            spark.range(0, 50).select("id", F.lit("b").alias("val")),
            id_field="id",
        )
        # a fresh read sees the merged (post-upsert) state...
        merged = _vals(sink.read())
        assert sum(1 for v in merged.values() if v == "b") == 50
        assert len(merged) == 100
        # ...while the pinned plan still yields version 1, executed
        # only AFTER the upsert committed
        before = _vals(frozen)
        assert len(before) == 100 and set(before.values()) == {"a"}
        # and read(version=) re-resolves the same snapshot
        assert sink.read(version=snap.version).where("val = 'b'").count() == 0
    # release + vacuum reclaims the deferred garbage; live read intact
    reclaimed = sink.vacuum()
    assert reclaimed > 0
    assert _vals(sink.read()) == merged


def test_vacuum_noop_while_pinned_and_after_reclaim(spark, bucketed):
    sink = bucketed
    sink.upsert(
        spark.range(0, 40).select("id", F.lit("a").alias("val")),
        id_field="id",
    )
    snap = sink.snapshot()
    sink.upsert(
        spark.range(0, 40).select("id", F.lit("b").alias("val")),
        id_field="id",
    )
    assert sink.vacuum() == 0  # pinned: nothing may be reclaimed
    snap.release()
    assert sink.vacuum() > 0
    assert sink.vacuum() == 0  # idempotent: second pass finds nothing
    assert set(_vals(sink.read()).values()) == {"b"}


def test_expired_pin_is_ignored_and_swept(spark, bucketed, tmp_path):
    sink = bucketed
    sink.upsert(
        spark.range(0, 10).select("id", F.lit("a").alias("val")),
        id_field="id",
    )
    pins = tmp_path / "t" / _PINS_DIR
    pins.mkdir(exist_ok=True)
    stale_epoch = int(time.time() - _PIN_TTL_SEC - 60)
    stale = pins / f"pin_1_{stale_epoch}_{'0' * 8}"
    stale.touch()
    # expiry is judged by marker MTIME (so renew() can extend it) —
    # backdate the mtime to simulate a reader that stopped heartbeating
    os.utime(stale, (stale_epoch, stale_epoch))
    # the crashed reader's pin neither blocks pruning nor survives it
    sink.upsert(
        spark.range(0, 10).select("id", F.lit("b").alias("val")),
        id_field="id",
    )
    assert not stale.exists()
    assert sink.vacuum() >= 0  # runs (not pinned-blocked)


def test_unbucketed_snapshot_across_trunc_insert(spark, tmp_path):
    sink = NativeTableSink(spark, str(tmp_path / "u"))
    sink.trunc_insert(
        spark.range(0, 30).select("id", F.lit("a").alias("val"))
    )
    with sink.snapshot() as snap:
        frozen = snap.read()
        sink.trunc_insert(
            spark.range(0, 5).select("id", F.lit("b").alias("val"))
        )
        assert sink.read().count() == 5            # live = truncated
        assert _vals(frozen) == {i: "a" for i in range(30)}
        assert sink.read(version=snap.version).count() == 30
    assert sink.vacuum() > 0
    assert sink.read().count() == 5


def test_read_version_before_first_commit_is_empty_bucketed(spark, bucketed):
    sink = bucketed
    sink.upsert(
        spark.range(0, 10).select("id", F.lit("a").alias("val")),
        id_field="id",
    )
    assert sink.read(version=0).count() == 0  # schema from spec, no rows


def test_renewed_old_pin_defers_vacuum_unrenewed_is_swept(
    spark, bucketed, tmp_path, monkeypatch
):
    """Heartbeat contract (VERDICT r14 next-round #2): a pin OLDER
    than the TTL but actively renewed still defers vacuum — a >1h
    lazy scan must not have its files reclaimed from under the live
    plan — while the same-age pin left unrenewed is swept as a
    crashed reader."""
    from rs_streamloader_spark.sinks import native as native_mod

    sink = bucketed
    sink.upsert(
        spark.range(0, 20).select("id", F.lit("a").alias("val")),
        id_field="id",
    )
    snap = sink.snapshot()
    sink.upsert(
        spark.range(0, 20).select("id", F.lit("b").alias("val")),
        id_field="id",
    )
    marker = tmp_path / "t" / _PINS_DIR / snap._name
    assert marker.exists()
    monkeypatch.setattr(native_mod, "_PIN_TTL_SEC", 5.0)
    old = time.time() - 60  # long past the (patched) TTL
    os.utime(marker, (old, old))
    snap.renew()  # heartbeat: marker mtime resets to now
    assert sink.vacuum() == 0  # renewed pin still defers reclaim
    assert {r["val"] for r in snap.read().collect()} == {"a"}
    os.utime(marker, (old, old))  # reader "crashes": no more renewals
    assert sink.vacuum() > 0  # expired pin ignored, garbage reclaimed
    assert not marker.exists()  # ...and the pin itself swept
    snap.release()  # no-op on the swept marker; must not raise


def test_bucketed_missing_version_read_raises(spark, bucketed):
    """ADVICE r14 #3: a version>=1 read that resolves NO committed
    version must fail loudly (it used to surface as a silent empty
    DataFrame via the spec-schema fallback) — a pin invalidated by
    pruning is an error, not an empty table."""
    sink = bucketed
    for tag in ("a", "b"):
        sink.upsert(
            spark.range(0, 10).select("id", F.lit(tag).alias("val")),
            id_field="id",
        )
    sink.trunc_insert(
        spark.range(0, 10).select("id", F.lit("c").alias("val"))
    )
    sink.vacuum()  # versions 1-2 physically reclaimed (trunc+vacuum)
    with pytest.raises(FileNotFoundError):
        sink.read(version=2)
    # the explicit empty-table semantics survive: version 0 stays empty
    assert sink.read(version=0).count() == 0


def test_pinned_read_isolated_from_unbucketed_insert(spark, tmp_path):
    """ADVICE r14 #2: an insert() on a default sink after the pin
    leaves pin.read() at the committed pre-insert state while a live
    read sees the appended rows."""
    sink = NativeTableSink(spark, str(tmp_path / "u"))
    sink.trunc_insert(
        spark.range(0, 10).select("id", F.lit("a").alias("val"))
    )
    with sink.snapshot() as snap:
        frozen = snap.read()
        sink.insert(
            spark.range(100, 105).select("id", F.lit("late").alias("val"))
        )
        assert sink.read().count() == 15  # live read: appended rows in
        assert frozen.count() == 10  # pinned plan: pre-insert state
        assert snap.read().count() == 10  # re-read through the pin too


def test_snapshot_pin_survives_resolve_race(spark, bucketed, monkeypatch):
    """ADVICE r14 #1: snapshot() must re-verify after the pin lands.
    Simulate the race deterministically: a writer commits+prunes
    between the reader's version resolve and its pin create (the
    window the old resolve-then-pin ordering left open). The returned
    pin must name a version whose files still resolve."""
    from rs_streamloader_spark.sinks.native import NativeTableSink as NTS

    sink = bucketed
    sink.upsert(
        spark.range(0, 30).select("id", F.lit("a").alias("val")),
        id_field="id",
    )
    real_create = NTS._create_pin
    fired = {"n": 0}

    def racing_create(self, n):
        if fired["n"] == 0:
            fired["n"] = 1
            # the writer wins the window: commit v2 AND prune v1's
            # shadowed buckets before the reader's marker lands
            self.upsert(
                spark.range(0, 30).select("id", F.lit("b").alias("val")),
                id_field="id",
            )
        return real_create(self, n)

    monkeypatch.setattr(NTS, "_create_pin", racing_create)
    with sink.snapshot() as snap:
        assert snap.version == 2  # retried onto the post-race version
        assert {r["val"] for r in snap.read().collect()} == {"b"}


def test_snapshot_resolves_over_its_verify_listing(spark, bucketed, monkeypatch):
    """An unraced pin lists the version dirs twice (resolve, then
    re-verify after the marker lands) and resolves its paths over the
    second listing; the writer-locked fallback lists once."""
    from rs_streamloader_spark.sinks import native

    sink = bucketed
    sink.upsert(
        spark.range(0, 20).select("id", F.lit("a").alias("val")), id_field="id"
    )
    sink.insert(spark.range(20, 25).select("id", F.lit("b").alias("val")))
    real = NativeTableSink._committed_versions
    calls = []

    def counting(self):
        calls.append(1)
        return real(self)

    monkeypatch.setattr(NativeTableSink, "_committed_versions", counting)
    with sink.snapshot() as snap:
        assert len(calls) == 2 and snap.version == 2
        assert snap.read().count() == 25
    calls.clear()
    monkeypatch.setattr(native, "_PIN_ATTEMPTS", 0)
    with sink.snapshot() as snap:
        assert len(calls) == 1 and snap.version == 2
        assert snap.read().count() == 25


def test_incremental_dedup_protocol_shape(spark, tmp_path):
    """The exact read-version-N-while-writing-N+1 shape
    dedup_incremental_minhash runs: decision plan over the pinned
    store, store upsert, THEN the plan executes."""
    sink = NativeTableSink(
        spark, str(tmp_path / "store"), num_buckets=4, bucket_by="doc_id"
    )
    sink.upsert(
        spark.range(0, 20).select(
            F.col("id").alias("doc_id"), (F.col("id") % 7).alias("sig")
        ),
        id_field="doc_id",
    )
    incoming = spark.range(20, 30).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7).alias("sig")
    )
    with sink.snapshot() as snap:
        store = snap.read()
        decision = incoming.alias("i").join(
            store.alias("s"), on="sig", how="left_semi"
        )
        sink.upsert(incoming, id_field="doc_id")  # run 2 lands
        n = decision.count()  # plan executes AFTER the concurrent write
    assert n == 10  # every incoming sig (0..6 mod) exists in the store
    assert sink.read().count() == 30


def test_pinned_reader_races_live_writer_threads(spark, tmp_path):
    """TRUE concurrency for the snapshot contract (the sequential
    tests above fix the interleaving; this one doesn't): a writer
    thread drives successive upserts re-keying the whole table while
    a reader thread repeatedly pins, reads, and verifies. Every read
    must be a CONSISTENT committed version — exactly the full key set
    with every row carrying ONE version's value (never a mix, never a
    partial bucket set) — and released pins must not block the writer
    forever (the table keeps advancing)."""
    import threading

    from pyspark.sql import functions as F2

    sink = NativeTableSink(
        spark, str(tmp_path / "race"), num_buckets=4, bucket_by="id"
    )
    n_keys = 40
    sink.upsert(
        spark.range(n_keys).select("id", F2.lit(0).alias("ver")),
        id_field="id",
    )

    stop = threading.Event()
    errors: list[str] = []
    versions_written = [0]

    def writer():
        v = 0
        try:
            while not stop.is_set() and v < 6:
                v += 1
                sink.upsert(
                    spark.range(n_keys).select(
                        "id", F2.lit(v).alias("ver")
                    ),
                    id_field="id",
                )
                versions_written[0] = v
        except Exception as exc:  # pragma: no cover - surfaced below
            errors.append(f"writer: {exc}")

    def reader():
        try:
            while not stop.is_set():
                with sink.snapshot() as snap:
                    rows = snap.read().collect()
                ids = sorted(r["id"] for r in rows)
                vers = {r["ver"] for r in rows}
                if ids != list(range(n_keys)):
                    errors.append(f"partial key set: {len(ids)} keys")
                    return
                if len(vers) != 1:
                    errors.append(f"torn read across versions: {vers}")
                    return
        except Exception as exc:  # pragma: no cover - surfaced below
            errors.append(f"reader: {exc}")

    wt = threading.Thread(target=writer)
    rt = threading.Thread(target=reader)
    wt.start()
    rt.start()
    wt.join(timeout=180)
    stop.set()
    rt.join(timeout=60)
    assert not errors, errors
    assert versions_written[0] == 6  # pins never wedged the writer
    # quiescent state: the last version won and vacuum reclaims
    final = {r["ver"] for r in sink.read().collect()}
    assert final == {6}
    assert sink.vacuum() >= 0
