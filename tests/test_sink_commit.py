"""Regression tests for the review findings: versioned-commit
atomicity, idempotent batch replay, and staging schema round-trip."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rs_streamloader_spark.sinks.native import BUCKET_COL, NativeTableSink


def test_insert_batch_replay_is_idempotent(spark, tmp_path):
    sink = NativeTableSink(spark, str(tmp_path / "t"))
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id INT, v STRING")
    sink.insert_batch(df, 0)
    sink.insert_batch(df, 0)  # replay of the same batch
    assert sink.read().count() == 2
    sink.insert_batch(spark.createDataFrame([(3, "c")], "id INT, v STRING"), 1)
    assert sink.read().count() == 3


def test_uncommitted_version_dir_is_ignored(spark, tmp_path):
    root = tmp_path / "t"
    sink = NativeTableSink(spark, str(root))
    sink.trunc_insert(spark.createDataFrame([(1,)], "id INT"))
    # simulate a crash mid-write: a newer version dir without _SUCCESS
    fake = root / "v_99_deadbeef"
    fake.mkdir(parents=True)
    (fake / "part-00000.parquet").write_bytes(b"not a real parquet file")
    assert sink.read().count() == 1  # reader never looks at it


def test_two_committed_versions_newer_wins(spark, tmp_path):
    root = tmp_path / "t"
    sink = NativeTableSink(spark, str(root))
    sink.trunc_insert(spark.createDataFrame([(1,)], "id INT"))
    v1 = sink.current_path
    # simulate a crash after commit of v2 but before retiring v1:
    # write v2 out-of-band, in the table's one-bucket layout, with a
    # committed marker
    df2 = spark.createDataFrame([(10,), (11,)], "id INT")
    df2.withColumn(BUCKET_COL, F.lit(0)).write.partitionBy(BUCKET_COL).parquet(
        str(root / "v_2_cafecafe")
    )
    assert sink.current_path.endswith("v_2_cafecafe")
    assert sink.read().count() == 2
    # the next real commit retires both old dirs
    sink.trunc_insert(spark.createDataFrame([(7,)], "id INT"))
    assert sink.read().collect()[0]["id"] == 7
    import os

    leftovers = [d for d in os.listdir(root) if d.startswith("v_")]
    assert len(leftovers) == 1


def test_crashed_append_subdir_is_invisible(spark, tmp_path):
    """A crashed insert leaves an additive dir without _SUCCESS —
    readers must not see its files."""
    import os
    import shutil

    root = tmp_path / "t"
    sink = NativeTableSink(spark, str(root))
    sink.insert(spark.createDataFrame([(1,)], "id INT"))
    bucket = os.path.join(sink.current_path.replace("file:", ""), f"{BUCKET_COL}=0")
    crashed = root / "a_2_deadbeef" / f"{BUCKET_COL}=0"
    crashed.mkdir(parents=True)
    # steal a real parquet file so it WOULD parse if read
    src_file = next(f for f in os.listdir(bucket) if f.endswith(".parquet"))
    shutil.copy(os.path.join(bucket, src_file), crashed)
    assert sink.read().count() == 1  # crashed additive dir ignored
    with sink.snapshot() as pin:
        assert pin.read().count() == 1


def test_version_read_unchanged_by_later_insert(spark, tmp_path):
    """Every insert commits a new version, so a time-travel read of an
    older version never sees rows appended after it."""
    sink = NativeTableSink(spark, str(tmp_path / "t"))
    sink.trunc_insert(spark.createDataFrame([(i,) for i in range(3)], "id INT"))
    assert sink.read(version=1).count() == 3
    sink.insert(spark.createDataFrame([(10,), (11,)], "id INT"))
    assert sink.read(version=1).count() == 3
    assert sink.read().count() == 5
    sink.insert_batch(spark.createDataFrame([(20,)], "id INT"), 0)
    assert sink.read(version=2).count() == 5
    assert sink.read().count() == 6


def test_second_sink_instance_never_narrows_the_spec(spark, tmp_path):
    """Two sink instances on one root: a commit through the instance
    that has not seen the other's wider write still keeps its column,
    and a replayed batch id stays skipped."""
    root = str(tmp_path / "t")
    a = NativeTableSink(spark, root)
    a.insert(spark.createDataFrame([(1, "x")], "id INT, x STRING"))
    b = NativeTableSink(spark, root)
    b.insert_batch(spark.createDataFrame([(2, "y")], "id INT, y STRING"), 5)
    a.insert(spark.createDataFrame([(3, "x")], "id INT, x STRING"))
    a.insert_batch(spark.createDataFrame([(2, "y")], "id INT, y STRING"), 5)
    fresh = NativeTableSink(spark, root)
    assert set(fresh.read().columns) == {"id", "x", "y"}
    assert sorted(r.id for r in fresh.read().collect()) == [1, 2, 3]
    # reads through either instance see the other's column
    assert set(b.read().columns) == {"id", "x", "y"}
    c = NativeTableSink(spark, root)
    b.insert(spark.createDataFrame([(4, 1.5)], "id INT, z DOUBLE"))
    assert set(a.read().columns) == set(c.read().columns) == {"id", "x", "y", "z"}
    with c.snapshot() as pin:
        assert set(pin.read().columns) == {"id", "x", "y", "z"}


def test_crash_before_the_first_spec_update_still_opens(spark, tmp_path, monkeypatch):
    """The spec lands before a root's first commit: a crash between
    that commit and the spec update after it leaves a table that
    reopens, reads its rows and still skips the replayed batch."""
    root = str(tmp_path / "t")
    saves = []
    real_save = NativeTableSink._save_spec

    def crash_on_second_save(self, schema):
        saves.append(schema)
        if len(saves) == 2:
            raise RuntimeError("crash after the first commit")
        real_save(self, schema)

    monkeypatch.setattr(NativeTableSink, "_save_spec", crash_on_second_save)
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id INT, v STRING")
    with pytest.raises(RuntimeError, match="crash"):
        NativeTableSink(spark, root).insert_batch(df, 0)
    monkeypatch.setattr(NativeTableSink, "_save_spec", real_save)
    reopened = NativeTableSink(spark, root)
    assert sorted(r.id for r in reopened.read().collect()) == [1, 2]
    reopened.insert_batch(df, 0)  # replay after the crash
    assert NativeTableSink(spark, root).read().count() == 2


def test_schema_drift_append_and_upsert_null_fill(spark, tmp_path):
    sink = NativeTableSink(spark, str(tmp_path / "t"))
    sink.insert(spark.createDataFrame([(1, "a")], "id INT, a STRING"))
    sink.insert(spark.createDataFrame([(2, "b")], "id INT, b STRING"))
    out = sink.read()
    assert set(out.columns) == {"id", "a", "b"}  # mergeSchema surfaced both
    rows = {r["id"]: (r["a"], r["b"]) for r in out.collect()}
    assert rows == {1: ("a", None), 2: (None, "b")}
    # upsert whose updates lack a target column NULL-fills it
    sink2 = NativeTableSink(spark, str(tmp_path / "t2"))
    sink2.insert(spark.createDataFrame([(1, "x")], "id INT, c STRING"))
    sink2.upsert(spark.createDataFrame([(2,)], "id INT"), id_field="id")
    got = {r["id"]: r["c"] for r in sink2.read().collect()}
    assert got == {1: "x", 2: None}


def test_dedupe_last_with_id_only_updates(spark, tmp_path):
    sink = NativeTableSink(spark, str(tmp_path / "t"))
    sink.upsert(
        spark.createDataFrame([(1,), (1,), (2,)], "id INT"),
        id_field="id",
        dedupe="last",
    )
    assert sorted(r["id"] for r in sink.read().collect()) == [1, 2]


def test_staged_json_roundtrip_preserves_schema(spark, tmp_path):
    """The staged-readback must carry the source schema: JSON
    inference would stringify timestamps and drop all-null columns."""
    from rs_streamloader_spark.loader import Loader

    sink = NativeTableSink(spark, str(tmp_path / "t"))
    src = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", None)], "id INT, ts STRING, note STRING"
    ).selectExpr("id", "CAST(ts AS TIMESTAMP) AS ts", "note")
    loader = Loader(
        spark,
        options={"table": "t"},
        sink=sink,
        staging_root=str(tmp_path / "stage"),
    )
    loader.add_source(src)
    assert loader.insert() == "SUCCESS"
    out = sink.read()
    assert dict(out.dtypes)["ts"] == "timestamp"
    assert "note" in out.columns  # all-null column survived
    assert out.first()["ts"].hour == 10
