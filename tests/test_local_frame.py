"""``local_frame`` is ``spark.createDataFrame`` for driver-side rows
without the Python worker: same schema, same rows, same eager type
errors, and a lineage in which the JVM unpickles the driver's batches
directly (no ``PythonRDD`` identity map)."""

from __future__ import annotations

import datetime
import re
from decimal import Decimal

import pytest
from pyspark.sql import Row
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from rs_streamloader_spark.sinks.native import NativeTableSink
from rs_streamloader_spark.sources import to_dataframe
from rs_streamloader_spark.sources.normalize import local_frame

TS = datetime.datetime(2021, 3, 4, 5, 6, 7, 123456)

CASES = {
    "nested": (
        [
            {"s": {"a": 1, "b": ["x", None]}, "m": {"k": 1}, "l": [[1, 2], []]},
            {"s": None, "m": {}, "l": None},
            {"s": {"a": None, "b": []}, "m": None, "l": [None]},
        ],
        "s STRUCT<a: INT, b: ARRAY<STRING>>, m MAP<STRING, INT>,"
        " l ARRAY<ARRAY<BIGINT>>",
    ),
    "decimal_date_timestamps": (
        [
            (Decimal("12345.67"), datetime.date(2020, 2, 29), TS, TS),
            (None, None, None, None),
        ],
        "d DECIMAL(10,2), dt DATE, ts TIMESTAMP, ntz TIMESTAMP_NTZ",
    ),
    "binary_and_nulls": (
        [(b"\x00\xff", None, 1.5), (bytearray(b"ab"), "x", None)],
        StructType(
            [
                StructField("b", BinaryType()),
                StructField("s", StringType()),
                StructField("f", DoubleType()),
            ]
        ),
    ),
    "ragged_dicts_inferred": (
        [{"a": 1}, {"b": "x"}, {"a": 2, "c": [1.5]}],
        None,
    ),
    "row_objects_inferred": (
        [Row(id=1, name="a", tags=["t"]), Row(id=2, name=None, tags=[])],
        None,
    ),
    "tuples_with_struct": (
        [(1, ["a"]), (2, None)],
        StructType(
            [StructField("id", LongType()), StructField("xs", ArrayType(StringType()))]
        ),
    ),
    "atomic_type": ([1, None, 3], IntegerType()),
    "atomic_ddl": (["a", None], "string"),
    "empty_with_schema": ([], "id BIGINT, v STRING"),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_frame_equals_create_dataframe(spark, case):
    rows, schema = CASES[case]
    want = spark.createDataFrame(rows, schema)
    got = local_frame(spark, rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_type_error_raises_eagerly_with_the_same_class(spark):
    rows, schema = [{"id": 1}, {"id": "not an int"}], "id BIGINT"
    with pytest.raises(Exception) as want:
        spark.createDataFrame(rows, schema)
    with pytest.raises(Exception) as got:
        local_frame(spark, rows, schema)  # no action: the check is eager
    assert type(got.value) is type(want.value)
    with pytest.raises(type(want.value)):
        local_frame(spark, ["x"], IntegerType())


def _python_rdd_in_lineage(df) -> bool:
    # ParallelCollectionRDD's call site names PythonRDD.scala; only a
    # PythonRDD node itself starts Python workers
    lineage = df._jdf.queryExecution().toRdd().toDebugString()
    return re.search(r"\bPythonRDD\[", lineage) is not None


BODIES = {
    "list": lambda: [{"id": 1, "v": "a"}, {"id": 2, "v": "b"}],
    "dict": lambda: {"id": 1, "v": "a"},
    "jsonl": lambda: '{"id": 1, "v": "a"}\n{"id": 2, "v": "b"}\n',
    "generator": lambda: ({"id": i, "v": str(i)} for i in range(3)),
}


@pytest.mark.parametrize("kind", sorted(BODIES))
def test_driver_side_body_runs_no_python_worker(spark, kind):
    df = to_dataframe(spark, BODIES[kind](), schema="id BIGINT, v STRING")
    assert not _python_rdd_in_lineage(df)
    assert df.count() >= 1


def test_csv_text_body_runs_no_python_worker(spark):
    from rs_streamloader_spark.config import CopySettings

    df = to_dataframe(
        spark,
        "1|a\n2|b\n",
        fmt="csv",
        schema="id INT, v STRING",
        copy_settings=CopySettings(format="CSV", delimiter="|"),
    )
    assert not _python_rdd_in_lineage(df)
    assert sorted(df.collect()) == [Row(id=1, v="a"), Row(id=2, v="b")]


def test_empty_bucketed_read_runs_no_python_worker(spark, tmp_path):
    sink = NativeTableSink(spark, str(tmp_path / "t"), num_buckets=4)
    sink.create_table("id BIGINT, v STRING")
    df = sink.read()
    assert df.schema.simpleString() == "struct<id:bigint,v:string>"
    assert not _python_rdd_in_lineage(df)
    assert df.count() == 0
