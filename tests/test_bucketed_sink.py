"""Physical-layout tests for the hash-bucketed native sink: an upsert
of k keys rewrites only the buckets containing those keys, never the
whole table (the reference's touch-only-matched-keys DELETE+INSERT,
RedshiftLoader.ts:377-380, as a lake layout)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from rs_streamloader_spark.sinks.native import BUCKET_COL, NativeTableSink

N_BUCKETS = 8


def _rows(spark, ids, tag="base"):
    return spark.createDataFrame(
        [(i, f"{tag}_{i}") for i in ids], "id INT, payload STRING"
    )


def _version_dirs(root, prefixes=("v_", "d_", "a_")):
    return sorted(d for d in os.listdir(root) if d.startswith(prefixes))


def _bucket_subdirs(root, vdir):
    return sorted(
        d
        for d in os.listdir(os.path.join(root, vdir))
        if d.startswith(BUCKET_COL + "=")
    )


def _bucket_of(spark, ids) -> dict:
    bucket = F.pmod(F.hash(F.col("id").cast("string")), F.lit(N_BUCKETS))
    df = _rows(spark, ids).select("id", bucket.alias("b"))
    return {r.id: r.b for r in df.collect()}


def _expected_buckets(spark, ids):
    return sorted(set(_bucket_of(spark, ids).values()))


def _jobs_of(spark, fn):
    """(fn's result, Spark jobs it ran): the rise in the scheduler's
    next job id, which job groups and status store eviction cannot
    disturb."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = int(dag.nextJobId())
    out = fn()
    return out, int(dag.nextJobId()) - j0


@pytest.fixture()
def sink(spark, tmp_path):
    return NativeTableSink(
        spark, str(tmp_path / "tbl"), num_buckets=N_BUCKETS, bucket_by="id"
    )


class TestBucketedLayout:
    def test_upsert_rewrites_only_touched_buckets(self, spark, sink):
        sink.upsert(_rows(spark, range(200)), id_field="id")
        root = sink.root
        (full,) = _version_dirs(root)
        assert full.startswith("v_1_")
        assert len(_bucket_subdirs(root, full)) == N_BUCKETS

        upd_ids = [3, 7, 11]
        touched = _expected_buckets(spark, upd_ids)
        sink.upsert(_rows(spark, upd_ids, tag="upd"), id_field="id")

        dirs = _version_dirs(root)
        deltas = [d for d in dirs if d.startswith("d_2_")]
        assert len(deltas) == 1, dirs
        # the delta holds exactly the touched buckets — the partial
        # rewrite the whole feature exists for
        delta_buckets = [
            int(d.split("=")[1]) for d in _bucket_subdirs(root, deltas[0])
        ]
        assert delta_buckets == touched
        assert len(delta_buckets) < N_BUCKETS
        # shadowed copies are pruned from the full version; untouched
        # buckets stay exactly where they were
        full_buckets = [int(d.split("=")[1]) for d in _bucket_subdirs(root, full)]
        assert full_buckets == [b for b in range(N_BUCKETS) if b not in touched]

        got = {(r.id, r.payload) for r in sink.read().collect()}
        want = {(i, f"upd_{i}") for i in upd_ids} | {
            (i, f"base_{i}") for i in range(200) if i not in upd_ids
        }
        assert got == want

    def test_trunc_insert_floors_older_deltas(self, spark, sink):
        sink.upsert(_rows(spark, range(50)), id_field="id")
        sink.upsert(_rows(spark, [1, 2], tag="upd"), id_field="id")
        sink.trunc_insert(_rows(spark, [100, 101], tag="fresh"))
        got = {(r.id, r.payload) for r in sink.read().collect()}
        assert got == {(100, "fresh_100"), (101, "fresh_101")}
        # old versions retired outright by the new full version
        assert all(d.startswith("v_3_") for d in _version_dirs(sink.root))

    def test_insert_appends_within_buckets(self, spark, sink):
        sink.insert(_rows(spark, range(10)))
        sink.insert(_rows(spark, [3, 4], tag="extra"))
        df = sink.read()
        assert df.count() == 12  # append: no key replacement
        assert df.filter(F.col("id") == 3).count() == 2

    def test_insert_batch_replay_is_idempotent(self, spark, sink):
        sink.insert_batch(_rows(spark, range(10)), batch_id=0)
        sink.insert_batch(_rows(spark, [1, 2], tag="b1"), batch_id=1)
        sink.insert_batch(_rows(spark, [1, 2], tag="b1"), batch_id=1)  # replay
        assert sink.read().count() == 12

    def test_reopen_reads_bucketspec(self, spark, sink):
        sink.upsert(_rows(spark, range(20)), id_field="id")
        reopened = NativeTableSink(sink.spark, sink.root)  # no params
        assert reopened.num_buckets == N_BUCKETS
        reopened.upsert(_rows(spark, [5], tag="upd"), id_field="id")
        assert reopened.read().filter("payload = 'upd_5'").count() == 1
        # the reopened sink pruned buckets too (one delta, not a full copy)
        assert any(d.startswith("d_2_") for d in _version_dirs(sink.root))

    def test_duplicate_ids_compat_and_dedupe_last(self, spark, sink):
        sink.upsert(_rows(spark, range(5)), id_field="id")
        dup = spark.createDataFrame(
            [(1, "a"), (1, "b")], "id INT, payload STRING"
        )
        sink.upsert(dup, id_field="id")  # compat: both rows land
        assert sink.read().filter("id = 1").count() == 2
        sink.upsert(dup, id_field="id", dedupe="last")
        rows = sink.read().filter("id = 1").collect()
        assert [(r.id, r.payload) for r in rows] == [(1, "b")]

    def test_create_table_then_read_empty(self, spark, tmp_path):
        sink = NativeTableSink(
            spark, str(tmp_path / "t"), num_buckets=4, bucket_by="id"
        )
        sink.create_table("id INT, payload STRING")
        df = sink.read()
        assert df.count() == 0
        assert df.columns == ["id", "payload"]
        sink.upsert(_rows(spark, [1]), id_field="id")
        assert sink.read().count() == 1

    def test_upsert_on_wrong_key_refuses(self, spark, sink):
        sink.upsert(_rows(spark, [1]), id_field="id")
        with pytest.raises(ValueError, match="cannot prune"):
            sink.upsert(_rows(spark, [2]), id_field="payload")

    def test_reopen_unbucketed_as_bucketed_refuses(self, spark, tmp_path):
        """A root holding committed versions but no spec was written
        by the old flat layout; opening it, with or without a bucket
        count, refuses instead of misreading it."""
        root = tmp_path / "t"
        _rows(spark, [1]).write.parquet(str(root / "v_1_01df1a7e"))
        for kwargs in ({}, {"num_buckets": 4}):
            with pytest.raises(ValueError, match="unbucketed"):
                NativeTableSink(spark, str(root), **kwargs)

    def test_insert_only_flat_root_refuses(self, spark, tmp_path):
        """The old flat layout's appends committed inside the version
        dir (``ins_*``, ``batch_<id>``) and left no marker at its
        root; such a root is refused too, not opened as empty."""
        for sub in ("ins_5c1e", "batch_3"):
            root = tmp_path / sub
            _rows(spark, [1]).write.parquet(str(root / "v_1_01df1a7e" / sub))
            with pytest.raises(ValueError, match="unbucketed"):
                NativeTableSink(spark, str(root))

    def test_schema_drift_null_fills(self, spark, sink):
        sink.upsert(_rows(spark, [1, 2]), id_field="id")
        wider = spark.createDataFrame(
            [(3, "w_3", 9.5)], "id INT, payload STRING, score DOUBLE"
        )
        sink.upsert(wider, id_field="id")
        got = sink.read()
        assert set(got.columns) == {"id", "payload", "score"}
        assert got.filter("id = 1").collect()[0].score is None

    def test_current_read_uses_spec_schema_without_footer_merge(
        self, spark, sink
    ):
        """A version-less read of the live state must come back with
        the persisted spec schema applied directly (no mergeSchema
        footer-sweep job), NULL-filling files written before a drift
        widened the spec — while a version-pinned read keeps the
        merged schema of that version's own files."""
        sink.upsert(_rows(spark, [1, 2]), id_field="id")
        wider = spark.createDataFrame(
            [(3, "w_3", 9.5)], "id INT, payload STRING, score DOUBLE"
        )
        sink.insert(wider)
        got = sink.read()
        # schema comes from the spec (monotone union), in spec order
        from pyspark.sql.types import StructType
        import json as _json

        spec = StructType.fromJson(_json.loads(sink._spec_schema_json))
        assert got.schema == spec
        rows = {r.id: (r.payload, r.score) for r in got.collect()}
        assert rows == {
            1: ("base_1", None),
            2: ("base_2", None),
            3: ("w_3", 9.5),
        }
        # time travel at version 1 still reflects that version's files
        v1 = sink.read(version=1)
        assert set(v1.columns) == {"id", "payload"}

    def test_full_write_is_one_file_per_bucket(self, spark, sink):
        sink.upsert(_rows(spark, range(200)), id_field="id")
        (full,) = _version_dirs(sink.root)
        for b in _bucket_subdirs(sink.root, full):
            files = [
                f
                for f in os.listdir(os.path.join(sink.root, full, b))
                if f.endswith(".parquet")
            ]
            assert len(files) == 1, (b, files)

    def test_full_write_spreads_buckets_over_the_cores(self, spark, sink):
        """AQE must not coalesce the bucket exchange of a small write
        into one task: the write's result stage runs in
        min(buckets, defaultParallelism) tasks, one file per bucket."""
        sc = spark.sparkContext
        dag = sc._jsc.sc().dagScheduler()
        j0 = int(dag.nextJobId())
        sink.trunc_insert(_rows(spark, range(200)))
        tracker = sc.statusTracker()
        stages = [
            s
            for j in range(j0, int(dag.nextJobId()))
            for s in tracker.getJobInfo(j).stageIds
        ]
        result_stage = tracker.getStageInfo(max(stages))
        assert result_stage.numTasks == min(N_BUCKETS, sc.defaultParallelism)
        (full,) = _version_dirs(sink.root)
        buckets = _bucket_subdirs(sink.root, full)
        assert len(buckets) == N_BUCKETS
        for b in buckets:
            files = os.listdir(os.path.join(sink.root, full, b))
            assert len([f for f in files if f.endswith(".parquet")]) == 1, files


class TestAppendAndReplayContracts:
    """Regression tests for the exactly-once + O(batch) append
    contracts (round-3 code-review findings)."""

    def test_append_writes_only_the_batch_rows(self, spark, sink):
        """An append to a populated table must be an additive delta
        holding exactly the batch's rows — never a read-merge-rewrite
        of existing bucket content (O(table) per batch at scale)."""
        sink.upsert(_rows(spark, range(200)), id_field="id")
        sink.insert(_rows(spark, range(200, 210), tag="new"))
        adds = [d for d in _version_dirs(sink.root) if d.startswith("a_")]
        assert len(adds) == 1
        written = spark.read.parquet(os.path.join(sink.root, adds[0]))
        assert written.count() == 10  # the batch, nothing else
        assert sink.read().count() == 210

    def test_appended_rows_fold_into_next_upsert(self, spark, sink):
        sink.upsert(_rows(spark, range(20)), id_field="id")
        sink.insert(_rows(spark, range(20, 30), tag="new"))
        sink.upsert(_rows(spark, [5, 25], tag="upd"), id_field="id")
        out = {r.id: r.payload for r in sink.read().collect()}
        assert len(out) == 30
        assert out[5] == "upd_5" and out[25] == "upd_25"
        assert out[21] == "new_21" and out[3] == "base_3"

    def test_first_batch_on_empty_table_replay_is_idempotent(self, spark, sink):
        """Crash-replay of batch 0 against a fresh table: the first
        tagged batch must commit WITH its replay marker (an untagged
        full version would re-append on recovery)."""
        sink.insert_batch(_rows(spark, range(10)), batch_id=0)
        sink.insert_batch(_rows(spark, range(10)), batch_id=0)  # replay
        assert sink.read().count() == 10

    def test_replay_skipped_even_after_shadowing_upsert_pruned_it(
        self, spark, sink
    ):
        """An upsert that touches every bucket of an earlier tagged
        batch folds its rows and prunes its bucket dirs — the tagged
        dirname must survive as the replay marker, or a crash-replay
        of that batch duplicates rows that were already folded."""
        sink.insert_batch(_rows(spark, range(10)), batch_id=1)
        # upsert over the SAME ids: touches every bucket batch 1 wrote
        sink.upsert(_rows(spark, range(10), tag="upd"), id_field="id")
        tagged = [d for d in _version_dirs(sink.root) if "_b1_" in d]
        assert tagged, "replay marker dir was deleted by pruning"
        sink.insert_batch(_rows(spark, range(10)), batch_id=1)  # replay
        out = {r.id: r.payload for r in sink.read().collect()}
        assert len(out) == 10, "replayed batch re-appended folded rows"
        assert all(v.startswith("upd_") for v in out.values())

    def test_spec_recovers_from_crash_between_delete_and_rename(
        self, spark, tmp_path
    ):
        """_save_spec is tmp+rename; if a crash lands between the old
        spec's delete and the rename, the constructor must recover the
        newest tmp instead of treating the table as unbucketed."""
        root = str(tmp_path / "tbl")
        sink = NativeTableSink(spark, root, num_buckets=N_BUCKETS, bucket_by="id")
        sink.upsert(_rows(spark, range(20)), id_field="id")
        spec_path = os.path.join(root, "_bucketspec")
        with open(spec_path, "rb") as fh:
            payload = fh.read()
        os.remove(spec_path)
        with open(os.path.join(root, "_bucketspec.tmp.deadbeef"), "wb") as fh:
            fh.write(payload)
        reopened = NativeTableSink(spark, root)
        assert reopened.num_buckets == N_BUCKETS
        assert reopened.read().count() == 20

    def test_plain_json_spec_still_opens(self, spark, tmp_path):
        """A spec written before specs were compressed is plain JSON;
        the constructor reads it, and the next commit rewrites it."""
        import json
        import zlib

        root = str(tmp_path / "tbl")
        sink = NativeTableSink(spark, root, num_buckets=N_BUCKETS, bucket_by="id")
        sink.insert_batch(_rows(spark, range(20)), batch_id=3)
        spec_path = os.path.join(root, "_bucketspec")
        with open(spec_path, "rb") as fh:
            spec = json.loads(zlib.decompress(fh.read()))
        os.remove(spec_path)
        os.remove(os.path.join(root, "._bucketspec.crc"))
        with open(spec_path, "w") as fh:
            json.dump(spec, fh)
        reopened = NativeTableSink(spark, root)
        assert reopened.num_buckets == N_BUCKETS
        reopened.insert_batch(_rows(spark, range(20)), batch_id=3)  # replay
        reopened.insert(_rows(spark, [100]))
        assert NativeTableSink(spark, root).read().count() == 21

    def test_replay_skipped_after_truncate_retires_marker_dirs(
        self, spark, tmp_path
    ):
        """trunc_insert retires every older version dir INCLUDING
        tagged replay markers — the spec's max_batch_id must carry the
        replay guard across the truncation (Delta txn-version style),
        or a crash-replayed pre-truncate batch would re-append rows
        the truncate intentionally discarded."""
        root = str(tmp_path / "tbl")
        sink = NativeTableSink(spark, root, num_buckets=N_BUCKETS, bucket_by="id")
        sink.insert_batch(_rows(spark, range(10)), batch_id=7)
        sink.trunc_insert(_rows(spark, range(100, 105), tag="kept"))
        assert not [d for d in _version_dirs(root) if "_b7_" in d]
        # recovery path: a FRESH sink instance (new driver) replays 7
        reopened = NativeTableSink(spark, root)
        reopened.insert_batch(_rows(spark, range(10)), batch_id=7)
        out = sorted(r.id for r in reopened.read().collect())
        assert out == [100, 101, 102, 103, 104], out

    def test_auto_compaction_folds_additive_deltas(self, spark, sink, monkeypatch):
        """Past COMPACT_AFTER additive deltas, the next append folds
        them into one replace delta (amortized-O(table/K) LSM
        bargain) — and the folded table reads identically."""
        import rs_streamloader_spark.sinks.native as N

        monkeypatch.setattr(N, "COMPACT_AFTER", 3)
        sink.upsert(_rows(spark, range(10)), id_field="id")
        for i in range(5):
            sink.insert(_rows(spark, range(100 + 10 * i, 110 + 10 * i), tag=f"a{i}"))
        adds = [d for d in _version_dirs(sink.root) if d.startswith("a_")]
        assert len(adds) <= 3, adds  # folded, not accumulating forever
        out = {r.id: r.payload for r in sink.read().collect()}
        assert len(out) == 60
        assert out[3] == "base_3" and out[117] == "a1_117" and out[145] == "a4_145"

    def test_tagged_stream_compaction_retires_markers(
        self, spark, sink, monkeypatch
    ):
        """Streaming insert_batch past COMPACT_AFTER must fold AND
        retire the now-redundant tagged marker dirs (the spec's
        max_batch_id covers them) — otherwise emptied markers keep
        counting as additive dirs and every later batch re-compacts,
        reinstating the O(table)-per-batch cost."""
        import rs_streamloader_spark.sinks.native as N

        monkeypatch.setattr(N, "COMPACT_AFTER", 3)
        for b in range(8):
            sink.insert_batch(
                _rows(spark, range(10 * b, 10 * b + 10), tag=f"b{b}"), batch_id=b
            )
        adds = [d for d in _version_dirs(sink.root) if d.startswith("a_")]
        assert len(adds) <= 3, adds  # markers retired, not accumulating
        assert sink.read().count() == 80
        # replay guard still holds for a retired-marker batch, even
        # through a fresh instance (spec carries max_batch_id)
        reopened = NativeTableSink(spark, sink.root)
        reopened.insert_batch(_rows(spark, range(10), tag="dup"), batch_id=0)
        assert reopened.read().count() == 80


class TestUpsertKeyParity:
    """NULL and duplicate keys through the bucketed upsert, pinned to
    the DELETE-then-INSERT semantics: a NULL key never equals another
    key, so target rows with a NULL key are never replaced; every
    update row lands under ``dedupe=None``; ``dedupe="last"`` keeps one
    update row per key, NULL counted as one key; target duplicates of a
    key the batch does not touch are left alone."""

    SCHEMA = "id INT, payload STRING"
    TARGET = [(i, f"base_{i}") for i in range(20)] + [
        (None, "t_null_1"),
        (None, "t_null_2"),
        (7, "t_dup_7"),
        (9, "t_dup_9"),
    ]
    UPDATES = [
        (None, "u_null_a"),
        (None, "u_null_b"),
        (3, "u_3a"),
        (3, "u_3b"),
        (7, "u_7"),
    ]

    def _by_key(self, sink):
        out: dict = {}
        for r in sink.read().collect():
            out.setdefault(r.id, []).append(r.payload)
        return {k: sorted(v) for k, v in out.items()}

    def _seeded(self, spark, sink):
        sink.upsert(spark.createDataFrame(self.TARGET, self.SCHEMA), id_field="id")
        assert self._by_key(sink)[None] == ["t_null_1", "t_null_2"]
        return spark.createDataFrame(self.UPDATES, self.SCHEMA)

    def test_dedupe_none_lands_every_null_and_duplicate_update(self, spark, sink):
        sink.upsert(self._seeded(spark, sink), id_field="id")
        got = self._by_key(sink)
        assert got[None] == ["t_null_1", "t_null_2", "u_null_a", "u_null_b"]
        assert got[3] == ["u_3a", "u_3b"]
        assert got[7] == ["u_7"]  # both target rows of key 7 replaced
        assert got[9] == ["base_9", "t_dup_9"]
        assert got[4] == ["base_4"]
        assert sum(map(len, got.values())) == 26

    def test_dedupe_last_lands_one_null_key_row(self, spark, sink):
        sink.upsert(self._seeded(spark, sink), id_field="id", dedupe="last")
        got = self._by_key(sink)
        # target NULL keys survive; the batch's NULL keys collapse to
        # one row, the max by the other columns
        assert got[None] == ["t_null_1", "t_null_2", "u_null_b"]
        assert got[3] == ["u_3b"]
        assert got[7] == ["u_7"]
        assert got[9] == ["base_9", "t_dup_9"]
        assert sum(map(len, got.values())) == 24

    def test_widening_key_type_replaces_only_touched_buckets(self, spark, sink):
        # INT ids, DOUBLE update ids: the union widens the target's key,
        # which must not move target rows into buckets the delta does
        # not replace (that would shadow those buckets' other rows)
        sink.upsert(_rows(spark, range(200)), id_field="id")
        upd = spark.createDataFrame([(3.0, "upd")], "id DOUBLE, payload STRING")
        sink.upsert(upd, id_field="id")
        got = sink.read().collect()
        assert {int(r.id) for r in got} == set(range(200))
        assert "upd" in {r.payload for r in got}

    def test_first_upsert_on_empty_table_applies_dedupe(self, spark, sink):
        sink.upsert(
            spark.createDataFrame(self.UPDATES, self.SCHEMA),
            id_field="id",
            dedupe="last",
        )
        assert self._by_key(sink) == {
            None: ["u_null_b"], 3: ["u_3b"], 7: ["u_7"]
        }


class TestUpsertJobFloor:
    """A bucketed upsert is one shuffle: the touched-bucket set (one
    job, no shuffle: a noop write observing the bucket column) and the
    merge-write (one map stage, one result stage) — never a cached
    pre-pass or a second read of the staged source for an anti-join's
    key side."""

    def _staged_body(self, spark, tmp_path, ids, tag):
        path = str(tmp_path / f"stage_{tag}")
        _rows(spark, ids, tag=tag).write.json(path)
        return spark.read.schema("id INT, payload STRING").json(path)

    def _upsert_capturing(self, sink, body, monkeypatch):
        """Upsert ``body``; return (Spark jobs run, the frame the
        delta wrote)."""
        written = []
        real = NativeTableSink._write_delta

        def spy(self, clustered, *args, **kwargs):
            written.append(clustered)
            return real(self, clustered, *args, **kwargs)

        monkeypatch.setattr(NativeTableSink, "_write_delta", spy)
        _, jobs = _jobs_of(
            sink.spark, lambda: sink.upsert(body, id_field="id", dedupe="last")
        )
        (frame,) = written
        return jobs, frame

    def test_upsert_runs_at_most_three_jobs_and_one_exchange(
        self, spark, sink, tmp_path, monkeypatch
    ):
        from rs_streamloader_spark.plans.inspect import shuffle_count

        sink.upsert(_rows(spark, range(200)), id_field="id")
        body = self._staged_body(spark, tmp_path, [3, 7, 11, 150], "upd")
        jobs, frame = self._upsert_capturing(sink, body, monkeypatch)
        assert jobs <= 3, jobs
        assert shuffle_count(frame) == 1
        got = {r.id: r.payload for r in sink.read().collect()}
        assert len(got) == 200 and got[7] == "upd_7" and got[8] == "base_8"

    def test_touched_buckets_is_one_job_over_the_batch(self, spark, sink):
        ids = list(range(0, 200, 7)) + [None]
        body = _rows(spark, ids)
        touched, jobs = _jobs_of(
            spark, lambda: sink._touched_buckets(sink._with_bucket(body))
        )
        assert jobs == 1
        # a NULL key lands in a bucket like any other key
        want = sink._with_bucket(body).select(BUCKET_COL).distinct().collect()
        assert touched == sorted(r[BUCKET_COL] for r in want)


class TestDefaultSinkJobFloor:
    """A default (one-bucket) sink runs no bucket discovery and no
    clustering exchange: an upsert is the merge write's two jobs (its
    window's exchange is the one shuffle), an append or a truncate is
    one write job, and a pinned read lists its files on the driver
    with the spec schema, so building it runs no job."""

    @pytest.fixture()
    def sink(self, spark, tmp_path):
        sink = NativeTableSink(spark, str(tmp_path / "tbl"))
        sink.trunc_insert(_rows(spark, range(50)))
        return sink

    def test_upsert_runs_at_most_two_jobs(self, spark, sink):
        _, jobs = _jobs_of(
            spark,
            lambda: sink.upsert(_rows(spark, [3, 70], tag="upd"), id_field="id"),
        )
        assert jobs <= 2, jobs
        got = {r.id: r.payload for r in sink.read().collect()}
        assert len(got) == 51 and got[3] == "upd_3" and got[4] == "base_4"

    def test_appends_and_truncate_run_at_most_one_job(self, spark, sink):
        _, jobs = _jobs_of(spark, lambda: sink.insert(_rows(spark, [60])))
        assert jobs <= 1, jobs
        _, jobs = _jobs_of(
            spark, lambda: sink.insert_batch(_rows(spark, [61]), batch_id=0)
        )
        assert jobs <= 1, jobs
        assert sink.read().count() == 52
        _, jobs = _jobs_of(spark, lambda: sink.trunc_insert(_rows(spark, [1])))
        assert jobs <= 1, jobs
        assert sink.read().count() == 1

    def test_pinned_read_runs_no_job(self, spark, sink):
        sink.insert(_rows(spark, [60]))
        with sink.snapshot() as pin:
            df, jobs = _jobs_of(spark, pin.read)
            assert jobs == 0, jobs
            assert df.count() == 51


class TestReadRootJobFloor:
    """A read hands Spark one root per version dir whose bucket dirs
    are all live, so building a read over 16 live additive deltas
    lists its files on the driver instead of in a Spark job, which one
    path per (version, bucket) forced past 32 paths. A version dir
    holding more bucket dirs than Spark's discovery threshold stays
    bucket-level: collapsed, each would list its children in a job of
    its own."""

    def _table(self, spark, root, buckets, deltas):
        """A base of ``8 * buckets`` rows and ``deltas`` additive
        deltas of ``4 * buckets`` new rows each; returns the sink and
        the rows it holds."""
        sink = NativeTableSink(spark, root, num_buckets=buckets, bucket_by="id")
        model = {i: f"base_{i}" for i in range(8 * buckets)}
        sink.trunc_insert(_rows(spark, list(model)))
        for d in range(deltas):
            ids = range(10_000 * (d + 1), 10_000 * (d + 1) + 4 * buckets)
            sink.insert(_rows(spark, ids, tag=f"a{d}"))
            model.update({i: f"a{d}_{i}" for i in ids})
        return sink, model

    @staticmethod
    def _rows_of(df):
        return {r.id: r.payload for r in df.collect()}

    @pytest.mark.parametrize("buckets", [4, 16])
    def test_reads_over_16_deltas_run_no_job_and_compact_at_most_two(
        self, spark, tmp_path, buckets
    ):
        sink, model = self._table(spark, str(tmp_path / "tbl"), buckets, 16)
        assert len([d for d in _version_dirs(sink.root) if d.startswith("a_")]) == 16
        with sink.snapshot() as pin:
            pinned, jobs = _jobs_of(spark, pin.read)
            assert jobs == 0, jobs
            assert BUCKET_COL not in pinned.columns
            live, jobs = _jobs_of(spark, sink.read)
            assert jobs == 0, jobs
            assert BUCKET_COL not in live.columns
            assert self._rows_of(pinned) == model
            assert self._rows_of(live) == model
        _, jobs = _jobs_of(spark, sink.compact)
        assert jobs <= 2, jobs
        assert self._rows_of(sink.read()) == model

    def test_wide_table_read_runs_no_more_listing_jobs(self, spark, tmp_path):
        """64 buckets: every version dir holds more bucket dirs than
        the threshold, so each stays bucket-level and the read keeps
        the one listing job it had, rather than one per version."""
        sink, model = self._table(spark, str(tmp_path / "tbl"), 64, 3)
        with sink.snapshot() as pin:
            pinned, jobs = _jobs_of(spark, pin.read)
            assert jobs <= 1, jobs
            assert self._rows_of(pinned) == model
        live, jobs = _jobs_of(spark, sink.read)
        assert jobs <= 1, jobs
        assert self._rows_of(live) == model


class TestShadowedVersionReadByBucket:
    """A version dir that still holds a shadowed bucket copy (pruning
    deferred by a live pin) must never be read as a whole: its live
    buckets are read one by one, so a new pin and the live read return
    exactly the model's rows, while the old pin keeps its version."""

    def test_deferred_prune_keeps_reads_exact(self, spark, sink):
        bucket_of = _bucket_of(spark, range(1000))

        def new_ids(bucket, n, start):
            return [i for i in range(start, 1000) if bucket_of[i] == bucket][:n]

        model = {i: f"base_{i}" for i in range(80)}
        sink.trunc_insert(_rows(spark, list(model)))
        # additive deltas in buckets 0 and 1 only
        for d in range(3):
            ids = new_ids(0, 3, 100 + 100 * d) + new_ids(1, 3, 100 + 100 * d)
            sink.insert(_rows(spark, ids, tag=f"a{d}"))
            model.update({i: f"a{d}_{i}" for i in ids})
        before = dict(model)
        base = [v for v in _version_dirs(sink.root) if v.startswith("v_")]
        with sink.snapshot() as pin_a:
            # an upsert of base keys in bucket 2, one more append to
            # bucket 0, then a fold of buckets 0 and 1: the base
            # version keeps shadowed copies of buckets 0-2 beside its
            # live buckets 3-7
            upd = [i for i in range(80) if bucket_of[i] == 2][:3]
            sink.upsert(_rows(spark, upd, tag="upd"), id_field="id")
            model.update({i: f"upd_{i}" for i in upd})
            late = new_ids(0, 3, 700)
            sink.insert(_rows(spark, late, tag="late"))
            model.update({i: f"late_{i}" for i in late})
            sink.compact()
            assert len(_bucket_subdirs(sink.root, base[0])) == N_BUCKETS
            with sink.snapshot() as pin_b:
                got = pin_b.read().collect()
                assert len(got) == len(model)
                assert {r.id: r.payload for r in got} == model
            got = sink.read().collect()
            assert len(got) == len(model)
            assert {r.id: r.payload for r in got} == model
            got = pin_a.read().collect()
            assert len(got) == len(before)
            assert {r.id: r.payload for r in got} == before
