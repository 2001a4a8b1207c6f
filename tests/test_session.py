"""Session utilities: spread() width probe without RDD conversion,
stage-cache locking/eviction (ADVICE r2 items)."""

from __future__ import annotations

import threading

from pyspark.sql import functions as F


def test_no_rdd_access_anywhere_in_package():
    """spread() was the last ``.rdd`` user; RDD conversion builds plan
    lineage on the driver per call and must stay out of the package."""
    import ast
    import pathlib

    import rs_streamloader_spark

    pkg = pathlib.Path(rs_streamloader_spark.__file__).parent
    offenders = []
    for p in pkg.rglob("*.py"):
        for node in ast.walk(ast.parse(p.read_text())):
            if isinstance(node, ast.Attribute) and node.attr == "rdd":
                offenders.append(f"{p}:{node.lineno}")
    assert offenders == []


def test_spread_widens_narrow_file_input(spark, tmp_path):
    from rs_streamloader_spark.session import spread

    spark.range(100).coalesce(1).write.parquet(str(tmp_path / "one"))
    df = spark.read.parquet(str(tmp_path / "one"))
    out = spread(df)
    plan = out._jdf.queryExecution().toString()
    assert "Repartition" in plan or "Exchange" in plan
    assert out.count() == 100


def test_spread_noop_on_wide_file_input(spark, tmp_path):
    from rs_streamloader_spark.session import spread

    target = spark.sparkContext.defaultParallelism
    spark.range(1000).repartition(target + 4).write.parquet(str(tmp_path / "many"))
    df = spark.read.parquet(str(tmp_path / "many"))
    out = spread(df)
    assert out is df  # enough files: untouched, no shuffle added


def test_spread_noop_on_few_large_splittable_files(spark, tmp_path):
    """File count alone under-reports splits of large splittable
    files: one file whose bytes exceed target×maxPartitionBytes
    already scans wide, and spread() must NOT bolt a full-input
    shuffle onto it (the round-3 review found exactly that
    regression). Simulated by dropping maxPartitionBytes so a small
    file counts as many splits."""
    from rs_streamloader_spark.session import spread

    spark.range(200_000).coalesce(1).write.parquet(str(tmp_path / "big"))
    df = spark.read.parquet(str(tmp_path / "big"))
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
    try:
        out = spread(df)
        assert out is df  # est. splits = bytes/4KB >> parallelism: no-op
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_parse_bytes_suffixes():
    from rs_streamloader_spark.session import _parse_bytes

    assert _parse_bytes("134217728") == 134217728
    assert _parse_bytes("134217728b") == 134217728
    assert _parse_bytes("128m") == 128 * 1024**2
    assert _parse_bytes("128MB") == 128 * 1024**2
    assert _parse_bytes("1g") == 1024**3


def test_spread_handles_non_file_sources(spark):
    from rs_streamloader_spark.session import spread

    df = spark.createDataFrame([(i,) for i in range(10)], "x INT")
    assert spread(df).count() == 10


class TestStageCache:
    def test_lru_eviction_bounds_entries(self, spark):
        from rs_streamloader_spark import session as S

        S.clear_stage_cache()
        try:
            for i in range(S._STAGE_CACHE_MAX + 3):
                S.stage_cached(
                    spark, f"/fake/sf{i}", "stage", lambda: spark.range(5).toDF("x")
                )
            assert len(S._STAGE_CACHE) == S._STAGE_CACHE_MAX
        finally:
            S.clear_stage_cache()

    def test_concurrent_builders_share_one_entry(self, spark):
        from rs_streamloader_spark import session as S

        S.clear_stage_cache()
        builds = []

        def build():
            builds.append(1)
            return spark.range(3).select(F.col("id").alias("x"))

        try:
            threads = [
                threading.Thread(
                    target=lambda: S.stage_cached(spark, "/fake/sf", "k", build)
                )
                for _ in range(8)
            ]
            for t in threads:
                t.start()
            for t in threads:
                t.join()
            assert len(builds) == 1  # locked check-then-build: no double build
            assert len(S._STAGE_CACHE) == 1
        finally:
            S.clear_stage_cache()

    def test_nested_stage_builders_do_not_deadlock(self, spark):
        """Stage builders compose (jaccard pairs builds on the shingle
        stage), so stage_cached must be reentrant — a non-reentrant
        lock deadlocked the whole dedup family (found by bench r3)."""
        from rs_streamloader_spark import session as S

        S.clear_stage_cache()
        result = []

        def outer_build():
            inner = S.stage_cached(
                spark, "/fake/sfn", "inner", lambda: spark.range(3).toDF("x")
            )
            return inner.selectExpr("x * 2 AS y")

        def run():
            df = S.stage_cached(spark, "/fake/sfn", "outer", outer_build)
            result.append(df.count())

        t = threading.Thread(target=run, daemon=True)
        t.start()
        t.join(timeout=60)
        try:
            assert not t.is_alive(), "nested stage_cached deadlocked"
            assert result == [3]
        finally:
            S.clear_stage_cache()

    def test_clear_unpersists(self, spark):
        from rs_streamloader_spark import session as S

        S.clear_stage_cache()
        df = S.stage_cached(
            spark, "/fake/sf", "c", lambda: spark.range(10).toDF("x")
        )
        df.count()  # materialize the cache
        assert df.storageLevel.useMemory
        S.clear_stage_cache()
        assert not df.storageLevel.useMemory
        assert len(S._STAGE_CACHE) == 0


class TestEnvKnobs:
    """Integer env knobs fall back or clamp with one logged warning;
    a bad value never raises at import time."""

    def test_malformed_replay_partition_bytes_falls_back(
        self, monkeypatch, caplog
    ):
        import logging
        import subprocess
        import sys

        from rs_streamloader_spark import session as S
        from rs_streamloader_spark.streaming import replay

        monkeypatch.setattr(S, "_ENV_WARNED", set())
        monkeypatch.setenv("SPARK_GRAFT_REPLAY_PARTITION_BYTES", "64MB")
        with caplog.at_level(logging.WARNING, logger=S.__name__):
            assert replay._replay_partition_bytes() == 64 * 1024 * 1024
            assert replay._replay_partition_bytes() == 64 * 1024 * 1024
        warned = [r for r in caplog.records if "64MB" in r.getMessage()]
        assert len(warned) == 1
        # the module-level read runs at import: it must not crash it
        proc = subprocess.run(
            [
                sys.executable,
                "-c",
                "import rs_streamloader_spark.streaming.replay as r;"
                " print(r._REPLAY_PARTITION_BYTES)",
            ],
            capture_output=True, text=True, timeout=120,
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        assert proc.stdout.split()[-1] == str(64 * 1024 * 1024)

    def test_stage_cache_max_clamp_warns(self, monkeypatch, caplog):
        import logging

        from rs_streamloader_spark import session as S

        monkeypatch.setattr(S, "_ENV_WARNED", set())
        monkeypatch.setenv("SPARK_GRAFT_STAGE_CACHE_MAX", "4")
        with caplog.at_level(logging.WARNING, logger=S.__name__):
            assert S._stage_cache_max() == 18
        warned = [
            r for r in caplog.records if "SPARK_GRAFT_STAGE_CACHE_MAX" in r.getMessage()
        ]
        assert len(warned) == 1
        monkeypatch.setenv("SPARK_GRAFT_STAGE_CACHE_MAX", "40")
        assert S._stage_cache_max() == 40
