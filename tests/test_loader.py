"""Loader end-to-end flow tests — ports of the reference's
RedshiftLoader.spec.ts behaviors (/root/reference/lib/
RedshiftLoader.spec.ts:95-197) with a tmp-dir standing in for S3 and a
native parquet sink standing in for Redshift (SURVEY.md §5 test plan)."""

from __future__ import annotations

import json

import pytest

from rs_streamloader_spark.errors import LoaderError
from rs_streamloader_spark.loader import Loader, LoaderFactory
from rs_streamloader_spark.sinks.native import NativeTableSink

# the reference's TEST_ROWS fixture (RedshiftLoader.spec.ts:46-58):
# 6 rows, epoch-millis created_at advancing daily from 2017-01-01
BASE_MS = 1483228800000
TEST_ROWS = [
    {"number": 56.8, "text": "sample", "created_at": BASE_MS, "id": 1},
    {"number": 45.0, "text": "other", "created_at": BASE_MS + 86400000, "id": 2},
    {"number": 5.8, "text": "man", "created_at": BASE_MS + 2 * 86400000, "id": 3},
    {"number": 4.0, "text": "woman", "created_at": BASE_MS + 3 * 86400000, "id": 4},
    {"number": 78.0, "text": "hello", "created_at": BASE_MS + 4 * 86400000, "id": 5},
    {"number": 63.0, "text": "there", "created_at": BASE_MS + 5 * 86400000, "id": 6},
]


def jsonl(rows) -> str:
    return "\n".join(json.dumps(r) for r in rows) + "\n"


@pytest.fixture()
def stage_root(tmp_path):
    return str(tmp_path / "stage")


@pytest.fixture()
def sink(spark, tmp_path):
    return NativeTableSink(spark, str(tmp_path / "table"))


def make_loader(spark, stage_root, sink=None, **options):
    return Loader(
        spark,
        options={"table": "wh.facts", **options},
        staging_root=stage_root,
        sink=sink,
    )


class TestIngestion:
    def test_two_bodies_one_manifest(self, spark, stage_root, sink):
        # insert uploads parts + manifest once (spec.ts:108-115)
        events = []
        ld = make_loader(spark, stage_root, sink, s3_cleanup="NEVER")
        ld.on("progress", events.append)
        ld.add_source(jsonl([r for r in TEST_ROWS if r["id"] < 3]))
        ld.add_source(jsonl([r for r in TEST_ROWS if r["id"] >= 3]))
        assert ld.insert() == "SUCCESS"
        tasks = [e["task"] for e in events]
        assert tasks.count("uploadedManifest") == 1
        assert "uploadedFile" in tasks and "done" in tasks
        # manifest lists committed parts with mandatory: true
        from rs_streamloader_spark.staging import list_committed_files

        manifest_file = [
            f
            for f in list_committed_files(spark, ld.stage_prefix)
            if f.endswith("/manifest.json")
        ]
        assert len(manifest_file) == 1
        local = manifest_file[0].removeprefix("file:")
        with open(local) as fh:
            doc = json.load(fh)
        assert doc["entries"] and all(e["mandatory"] for e in doc["entries"])
        assert sink.read().count() == 6

    def test_add_after_start_raises(self, spark, stage_root, sink):
        # RS_LOAD_STARTED guard (RedshiftLoader.ts:137-142)
        ld = make_loader(spark, stage_root, sink)
        ld.add_source(jsonl(TEST_ROWS))
        ld.insert()
        with pytest.raises(LoaderError) as ei:
            ld.add_source(jsonl(TEST_ROWS))
        assert ei.value.code == "RS_LOAD_STARTED"

    def test_no_files_raises(self, spark, stage_root, sink):
        with pytest.raises(LoaderError) as ei:
            make_loader(spark, stage_root, sink).insert()
        assert ei.value.code == "NO_FILES"

    def test_generator_body(self, spark, stage_root, sink):
        # async-generator source ≈ python generator (utils.ts:41-63)
        ld = make_loader(spark, stage_root, sink)
        ld.add_source(dict(r) for r in TEST_ROWS)
        ld.insert()
        assert sink.read().count() == 6


class TestCleanupPolicy:
    def _stage_exists(self, spark, ld):
        from rs_streamloader_spark.staging import _fs_and_path

        fs, p, _ = _fs_and_path(spark, ld.stage_prefix)
        return fs.exists(p)

    def test_success_policy_cleans(self, spark, stage_root, sink):
        # cleanup exactly once on SUCCESS (spec.ts:131-135)
        ld = make_loader(spark, stage_root, sink, s3_cleanup="SUCCESS")
        ld.add_source(jsonl(TEST_ROWS))
        ld.insert()
        assert not self._stage_exists(spark, ld)

    def test_never_policy_keeps(self, spark, stage_root, sink):
        # never cleaned when 'NEVER' (spec.ts:136-142)
        ld = make_loader(spark, stage_root, sink, s3_cleanup="NEVER")
        ld.add_source(jsonl(TEST_ROWS))
        ld.insert()
        assert self._stage_exists(spark, ld)

    def test_abort_deletes_stage_and_closes(self, spark, stage_root, sink):
        # abort() cancels + deletes (RedshiftLoader.ts:219-223)
        ld = make_loader(spark, stage_root, sink)
        ld.add_source(jsonl(TEST_ROWS))
        ld.abort()
        assert not self._stage_exists(spark, ld)
        with pytest.raises(LoaderError):
            ld.add_source(jsonl(TEST_ROWS))


class TestLoadModes:
    def test_trunc_insert_overwrites(self, spark, stage_root, sink):
        ld1 = make_loader(spark, stage_root + "1", sink)
        ld1.add_source(jsonl(TEST_ROWS))
        ld1.insert()
        ld2 = make_loader(spark, stage_root + "2", sink)
        ld2.add_source(jsonl([r for r in TEST_ROWS if r["id"] <= 2]))
        ld2.trunc_insert()
        assert sink.read().count() == 2

    def test_upsert_reference_semantics(self, spark, stage_root, sink):
        # spec.ts:95-105: body A ids<3 original, body B ids>=3 'UPSERT';
        # rows with matching ids replaced, others untouched (M3)
        seed = make_loader(spark, stage_root + "seed", sink)
        seed.add_source(jsonl(TEST_ROWS))
        seed.insert()

        upd = make_loader(spark, stage_root + "upd", sink)
        upd.add_source(
            jsonl([{**r, "text": "UPSERT"} for r in TEST_ROWS if r["id"] >= 3])
        )
        assert upd.upsert() == "SUCCESS"

        rows = {r["id"]: r["text"] for r in sink.read().collect()}
        assert rows[1] == "sample" and rows[2] == "other"
        assert all(rows[i] == "UPSERT" for i in (3, 4, 5, 6))

    def test_upsert_duplicate_ids_compat_vs_dedupe(self, spark, stage_root, sink):
        # reference keeps ALL temp rows incl. duplicate ids
        # (RedshiftLoader.ts:379-380); dedupe='last' keeps one
        seed = make_loader(spark, stage_root + "seed", sink)
        seed.add_source(jsonl(TEST_ROWS))
        seed.insert()

        dup_rows = [
            {"number": 1.0, "text": "dupA", "created_at": BASE_MS, "id": 1},
            {"number": 2.0, "text": "dupB", "created_at": BASE_MS, "id": 1},
        ]
        upd = make_loader(spark, stage_root + "upd", sink)
        upd.add_source(jsonl(dup_rows))
        upd.upsert()  # compat: both dup rows land
        assert sink.read().filter("id = 1").count() == 2

        upd2 = make_loader(spark, stage_root + "upd2", sink)
        upd2.add_source(jsonl(dup_rows))
        upd2.upsert(dedupe="last")
        assert sink.read().filter("id = 1").count() == 1


    def test_default_column_map_never_lists_versions(
        self, spark, stage_root, tmp_path, monkeypatch
    ):
        # sink.exists() walks every version dir; only a non-auto
        # column_map uses its answer
        calls = []
        real = NativeTableSink.exists

        def counting(self):
            calls.append(self.root)
            return real(self)

        monkeypatch.setattr(NativeTableSink, "exists", counting)
        for i, buckets in enumerate((None, 4)):
            sink = NativeTableSink(
                spark, str(tmp_path / f"t{i}"), num_buckets=buckets
            )
            seed = make_loader(spark, stage_root + f"seed{i}", sink)
            seed.add_source(jsonl(TEST_ROWS))
            seed.trunc_insert()
            upd = make_loader(spark, stage_root + f"upd{i}", sink)
            upd.add_source(jsonl([{**TEST_ROWS[2], "text": "UPSERT"}]))
            upd.upsert()
            rows = {r["id"]: r["text"] for r in sink.read().collect()}
            assert len(rows) == 6 and rows[3] == "UPSERT"
        assert calls == []

    def test_non_auto_column_map_still_aligns_on_upsert(
        self, spark, stage_root, sink
    ):
        sink.insert(spark.createDataFrame([(1, "seed")], "id BIGINT, name STRING"))
        upd = make_loader(
            spark, stage_root, sink, copy_settings={"column_map": "auto ignorecase"}
        )
        upd.add_source([{"ID": 1, "NAME": "upper"}, {"ID": 2, "NAME": "new"}])
        assert upd.upsert() == "SUCCESS"
        got = sink.read()
        assert got.columns == ["id", "name"]
        assert {r["id"]: r["name"] for r in got.collect()} == {1: "upper", 2: "new"}


class TestStagedTimestamps:
    @pytest.mark.parametrize("ddl", ["TIMESTAMP", "TIMESTAMP_NTZ"])
    @pytest.mark.parametrize("fmt", ["json", "parquet"])
    def test_staging_keeps_microseconds(self, spark, stage_root, sink, ddl, fmt):
        import datetime

        ts = datetime.datetime(2021, 3, 4, 5, 6, 7, 123456)
        ld = make_loader(spark, stage_root, sink, staging_format=fmt)
        ld.add_source([{"id": 1, "ts": ts}], schema=f"id INT, ts {ddl}")
        ld.insert()
        assert sink.read().collect()[0]["ts"] == ts


class TestNaming:
    def test_qualified_table_resolution(self, spark, stage_root):
        # spec.ts:151-181
        ld = Loader(
            spark,
            options={"table": "wh.facts", "loading_table": "facts_stage"},
            staging_root=stage_root,
        )
        assert ld.get_qualified_table("table") == "wh.facts"
        assert ld.get_qualified_table("loading") == "wh.facts_stage"

    def test_generated_staging_table(self, spark, stage_root):
        ld = Loader(spark, options={"table": "wh.facts"}, staging_root=stage_root)
        st = ld.staging_table()
        assert st.schema == "wh" and st.table.startswith("facts_temp_")

    def test_file_prefix_function(self, spark, stage_root):
        # filePrefix as fn(loader) (spec.ts:182-197; types.ts:55)
        ld = Loader(
            spark,
            options={"table": "t", "file_prefix": lambda l: f"job_{l.options.id_field}_"},
            staging_root=stage_root,
        )
        assert "job_id_" in ld.stage_prefix

    def test_factory_defaults(self, spark, stage_root):
        factory = LoaderFactory(spark, defaults={"id_field": "event_id"})
        ld = factory.create_loader({"table": "t"}, staging_root=stage_root)
        assert ld.options.id_field == "event_id"


class TestBodyNormalization:
    def test_jsonl_string_body_honors_schema(self, spark, stage_root):
        from rs_streamloader_spark.sources import to_dataframe

        df = to_dataframe(
            spark, '{"id": 1, "v": 2.5}\n{"id": 2}\n', schema="id BIGINT, v DOUBLE"
        )
        assert dict(df.dtypes) == {"id": "bigint", "v": "double"}
        assert df.count() == 2

    def test_csv_string_body_parses_per_format(self, spark, stage_root):
        from rs_streamloader_spark.config import CopySettings
        from rs_streamloader_spark.sources import to_dataframe

        df = to_dataframe(
            spark,
            "id|name\n1|alpha\n2|beta\n",
            fmt="csv",
            schema="id INT, name STRING",
            copy_settings=CopySettings(
                format="CSV", delimiter="|", ignore_header=1
            ),
        )
        assert {r["id"]: r["name"] for r in df.collect()} == {1: "alpha", 2: "beta"}

    def test_single_dict_body_is_one_record(self, spark, stage_root):
        from rs_streamloader_spark.sources import to_dataframe

        df = to_dataframe(spark, {"id": 7, "v": "x"})
        assert df.count() == 1 and df.first()["id"] == 7
