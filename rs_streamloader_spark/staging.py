"""Staged part writes + COPY manifest (SURVEY.md §2.1 S6-S7, S10).

The reference uploads each body as one S3 object and then writes a
manifest JSON listing every part with ``mandatory: true`` so the COPY
is all-or-nothing (/root/reference/lib/RedshiftLoader.ts:143-160,
299-336). Spark-native: the union of sources is written to a unique
staging prefix — one object per partition, bounded by
``maxRecordsPerFile`` (the reference's ~100k-row split heuristic,
README.md:360-366, automated) — and the manifest is built from the
committed file listing, never from driver-accumulated state.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


# Spark's default JSON timestamp patterns stop at milliseconds; staged
# JSON parts keep every microsecond, and the read-back parses the same
# patterns (a Redshift COPY keeps TIMEFORMAT 'auto', which takes them)
_JSON_TIME_OPTIONS = {
    "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
    "timestampNTZFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
}


def stage_options(fmt: str) -> dict:
    """Writer/reader options shared by a ``fmt`` stage write and its
    read-back."""
    return _JSON_TIME_OPTIONS if fmt.lower() == "json" else {}


@dataclass
class StageResult:
    prefix: str  # job staging root (data + manifest live under it)
    data_prefix: str  # parts directory — what a sink should read
    files: list[str]
    manifest_path: str | None = None
    extra: dict = field(default_factory=dict)


def _fs_and_path(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(hconf)
    return fs, jpath, jvm


def list_committed_files(spark: SparkSession, prefix: str) -> list[str]:
    """List data files the write committed under ``prefix`` via the
    Hadoop FS API (works for file://, s3a://, …)."""
    fs, jpath, _ = _fs_and_path(spark, prefix)
    if not fs.exists(jpath):
        return []
    out = []
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        status = it.next()
        name = status.getPath().getName()
        if name.startswith("_") or name.startswith("."):
            continue  # _SUCCESS, committer temp files
        out.append(status.getPath().toString())
    return sorted(out)


def write_stage(
    df: DataFrame,
    prefix: str,
    fmt: str = "json",
    gzip: bool = False,
    max_records_per_file: int = 100_000,
) -> StageResult:
    """Write the staged parts: one object per partition, capped at
    ``max_records_per_file`` rows each (S10 — the reference asks users
    to hand-split at ~100k rows; Spark does it in the writer). Parts
    land under ``{prefix}/data/`` so the manifest (a sibling object,
    like the reference's separate manifest key) is never read back as
    data."""
    data_prefix = os.path.join(prefix, "data")
    writer = (
        df.write.mode("errorifexists")
        .option("maxRecordsPerFile", max_records_per_file)
        .options(**stage_options(fmt))
    )
    if gzip:
        writer = writer.option("compression", "gzip")
    writer.format(fmt).save(data_prefix)
    files = list_committed_files(df.sparkSession, data_prefix)
    return StageResult(prefix=prefix, data_prefix=data_prefix, files=files)


def to_copy_url(url: str) -> str:
    """Redshift COPY accepts only ``s3://`` URLs (the reference always
    builds ``s3://bucket/key``, RedshiftLoader.ts:300-311); Spark/Hadoop
    paths come back as ``s3a://``/``s3n://``. Rewrite the scheme for
    anything handed to COPY; other schemes (file:// in tests) pass
    through untouched."""
    for scheme in ("s3a://", "s3n://"):
        if url.startswith(scheme):
            return "s3://" + url[len(scheme):]
    return url


def write_manifest(spark: SparkSession, stage: StageResult) -> StageResult:
    """Write the COPY manifest: ``{"entries": [{"url": ..., "mandatory":
    true}, ...]}`` (RedshiftLoader.ts:299-311), derived from the
    committed listing. Entry URLs are scheme-rewritten to ``s3://``
    because Redshift's COPY rejects ``s3a://`` URLs."""
    manifest = {
        "entries": [{"url": to_copy_url(f), "mandatory": True} for f in stage.files]
    }
    manifest_path = os.path.join(stage.prefix, "manifest.json")
    fs, jpath, jvm = _fs_and_path(spark, manifest_path)
    stream = fs.create(jpath, True)
    try:
        stream.write(bytearray(json.dumps(manifest).encode("utf-8")))
    finally:
        stream.close()
    stage.manifest_path = manifest_path
    return stage


def delete_stage(spark: SparkSession, prefix: str) -> bool:
    """Best-effort recursive delete of the staging prefix (reference
    ``cleanUpS3``, RedshiftLoader.ts:198-257)."""
    fs, jpath, _ = _fs_and_path(spark, prefix)
    if fs.exists(jpath):
        return bool(fs.delete(jpath, True))
    return False
