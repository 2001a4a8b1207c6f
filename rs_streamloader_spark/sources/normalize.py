"""Ingestion normalizer: anything → DataFrame (SURVEY.md §2.1 S1-S4).

The reference accepts ``Readable | string | Buffer | AsyncGenerator``
(/root/reference/lib/types.ts:22-23) and converts everything to
newline-delimited JSON on its way to S3
(lib/utils.ts:20-79). The Spark-native equivalents:

- DataFrame            → passthrough (already a plan)
- path str             → ``spark.read`` with the configured format; a
  str is a path only when it names an existing path, or has a URI
  scheme (``s3a://``, ``file:``) and, under ``fmt="csv"``, no
  delimiter
- any other str / bytes body → content, as the reference's string body
  always is: parsed as JSONL (the reference's wire format) or, under
  ``fmt="csv"``, by Spark's CSV reader
- list[dict] / dict    → ``local_frame``
- iterator / generator → batched ``local_frame`` + union, giving
  bounded-memory ingestion analogous to the reference's backpressured
  generator→Readable bridge (utils.ts:41-63)

No Python worker contract: every driver-side body (list, dict, JSONL
or CSV text, generator batches) becomes a frame whose rows the JVM
unpickles straight from the batches the driver pickled, so executing
the body starts no Python worker. ``spark.createDataFrame`` adds a
``PythonRDD`` identity map in front of that unpickler (``_pickled()``
in ``RDD._to_java_object_rdd``), which re-pickles every row in a
Python worker each time the body runs. Staging a 200-row Loader body
(perfbench ``cdc_upsert``, traced, 4-core host, local[2]) took 0.44 s
that way and takes 0.17 s without it.
"""

from __future__ import annotations

import json
import re
from typing import Any, Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType, StringType, StructType, _make_type_verifier

GENERATOR_BATCH_ROWS = 10_000
_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:/")


def local_frame(spark: SparkSession, rows: Iterable, schema=None) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` for driver-side rows,
    without the Python worker (module docstring). The driver-side work
    is createDataFrame's own: DDL parsing, the eager type check
    against a given schema (same exception), inference when there is
    none, and ``toInternal``. The parallelized pickled batches then go
    straight to the JVM unpickler and ``applySchemaToPythonRDD``."""
    if isinstance(schema, str):
        schema = spark._parse_ddl(schema)
    if isinstance(schema, StructType):
        verify = _make_type_verifier(schema)

        def prepare(obj):
            verify(obj)
            return obj

        rows = map(prepare, rows)
    elif isinstance(schema, DataType):
        verify = _make_type_verifier(schema, name="field value")
        schema = StructType().add("value", schema)

        def prepare(obj):
            verify(obj)
            return (obj,)

        rows = map(prepare, rows)
    batches, struct = spark._createFromLocal(rows, schema)
    jvm = spark._jvm
    arrays = jvm.SerDeUtil.toJavaArray(jvm.SerDeUtil.pythonToJava(batches._jrdd, True))
    df = DataFrame(
        spark._jsparkSession.applySchemaToPythonRDD(
            jvm.org.apache.spark.api.java.JavaRDD.toRDD(arrays), struct.json()
        ),
        spark,
    )
    df._schema = struct
    return df


def _is_path(spark: SparkSession, body: str, delimiter: str | None) -> bool:
    """A one-line str body names a path when it names an existing path
    (a glob counts), or when it has a URI scheme and no CSV
    ``delimiter``: such a body cannot be a CSV record of more than one
    field, nor JSON, so a missing path fails as a path. Anything else
    is content, e.g. a CSV record whose first field is a URL. An
    http(s) URL is never listed: Hadoop's HTTP filesystem reports any
    URL as existing without a request."""
    if "\n" in body:
        return False
    if _SCHEME_RE.match(body) and (delimiter is None or delimiter not in body):
        return True
    if body.lower().startswith(("http:", "https:")):
        return False
    from rs_streamloader_spark.staging import _fs_and_path

    try:
        fs, jpath, _ = _fs_and_path(spark, body)
        return bool(fs.globStatus(jpath))
    except Exception:  # py4j: not a valid Hadoop path, so content
        return False


def _jsonl_to_df(spark: SparkSession, text: str, schema=None) -> DataFrame:
    lines = [ln for ln in text.splitlines() if ln.strip()]
    try:
        rows = [json.loads(ln) for ln in lines]
    except json.JSONDecodeError as exc:
        raise ValueError(
            f"str body is neither JSONL text nor an existing path: {exc}"
        ) from exc
    return local_frame(spark, rows, schema)


def _csv_records(text: str, quote: str) -> list[str]:
    """The CSV records of ``text``: physical lines are joined while
    the record holds an odd count of ``quote``, i.e. while a quoted
    field (which may hold newlines) is still open. Blank lines between
    records are dropped."""
    records: list[str] = []
    buf: list[str] = []
    open_quote = False
    for ln in text.splitlines():
        if not buf and not ln.strip():
            continue
        buf.append(ln)
        open_quote ^= ln.count(quote) % 2 == 1
        if not open_quote:
            records.append("\n".join(buf))
            buf = []
    if buf:
        records.append("\n".join(buf))
    return records


def _csv_text_to_df(
    spark: SparkSession, text: str, schema=None, copy_settings=None
) -> DataFrame:
    """CSV string body → DataFrame honoring the CSV COPY knobs; the
    reference uploads string bodies verbatim and lets COPY parse them
    per the format settings, so CSV text is part of the contract."""
    quote = '"'
    if copy_settings is not None and copy_settings.quote is not None:
        quote = copy_settings.quote
    records = _csv_records(text, quote)
    reader = spark.read
    if copy_settings is not None:
        if copy_settings.quote is not None:
            reader = reader.option("quote", copy_settings.quote)
        if copy_settings.delimiter is not None:
            reader = reader.option("sep", copy_settings.delimiter)
        if copy_settings.ignore_header:
            reader = reader.option("header", "true")
    if schema is not None:
        reader = reader.schema(schema)
    # a Dataset[String] of the records, as reader.csv(rdd) builds
    # through a Python map
    records_ds = getattr(local_frame(spark, records, StringType())._jdf, "as")(
        spark._jvm.org.apache.spark.sql.Encoders.STRING()
    )
    return reader._df(reader._jreader.csv(records_ds))


def _batched(it: Iterator[dict], size: int) -> Iterator[list[dict]]:
    batch: list[dict] = []
    for row in it:
        batch.append(row)
        if len(batch) >= size:
            yield batch
            batch = []
    if batch:
        yield batch


def to_dataframe(
    spark: SparkSession,
    body: Any,
    fmt: str = "json",
    schema=None,
    copy_settings=None,
) -> DataFrame:
    """Normalize an upload body to a DataFrame (reference
    ``ensureS3BodyAcceptable``, utils.ts:65-79 — except lazy: nothing
    is materialized until the load starts). Path bodies are read with
    the full COPY-knob mapping (sources.copy_reader) when
    ``copy_settings`` is given."""
    if isinstance(body, DataFrame):
        return body
    if isinstance(body, bytes):
        body = body.decode("utf-8")
    if isinstance(body, str):
        delimiter = None
        if fmt == "csv":
            delimiter = (copy_settings and copy_settings.delimiter) or ","
        if not _is_path(spark, body, delimiter):
            # inline text body: parse per the configured COPY format
            # (the reference uploads the string verbatim and COPY
            # parses it — utils.ts:66-68)
            if fmt == "csv":
                return _csv_text_to_df(
                    spark, body, schema=schema, copy_settings=copy_settings
                )
            return _jsonl_to_df(spark, body, schema=schema)
        # a path readable by Spark
        if copy_settings is not None:
            from rs_streamloader_spark.sources.copy_reader import read_body

            # forward the configured columnMap so reader-level
            # 'auto ignorecase' engages on the Loader path too
            return read_body(
                spark,
                body,
                copy_settings,
                schema=schema,
                column_map=copy_settings.column_map,
            )
        reader = spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.format(fmt).load(body)
    if isinstance(body, dict):  # a single row object — one record
        return local_frame(spark, [body], schema)
    if isinstance(body, list):
        return local_frame(spark, body, schema)
    if isinstance(body, (Iterator, Iterable)):
        out: DataFrame | None = None
        for batch in _batched(iter(body), GENERATOR_BATCH_ROWS):
            df = local_frame(spark, batch, schema)
            # ragged dict keys across batches infer different schemas —
            # align by name, null-filling the gaps
            out = df if out is None else out.unionByName(df, allowMissingColumns=True)
        if out is None:
            raise ValueError("empty generator body")
        return out
    raise TypeError(f"unsupported body type: {type(body)!r}")
