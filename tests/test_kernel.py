"""The per-row Arrow kernel helper (job/kernel.row_kernel), Spark-free on
``pa.RecordBatch`` input: row fan-out, pass-through by ``take``, null
padding, empty batches and schema-typed output columns."""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
from pyspark.sql.types import (
    BinaryType, DoubleType, IntegerType, StringType, StructField, StructType,
    TimestampType,
)

from html_parser_spark.job.kernel import row_kernel

UTC = dt.timezone.utc
T0 = dt.datetime(2025, 1, 1, tzinfo=UTC)

SCHEMA = StructType([
    StructField("key", StringType()),
    StructField("i", IntegerType()),
    StructField("half", DoubleType()),
    StructField("ts", TimestampType()),
    StructField("blob", BinaryType()),
])


def fan_out(n):
    """n output rows; ``key`` is left to pass through."""
    return [{"i": i, "half": i / 2, "ts": T0 + dt.timedelta(seconds=i),
             "blob": bytes([i])} for i in range(n)]


def _batch(keys, ns, **extra):
    return pa.RecordBatch.from_pydict(
        {"key": pa.array(keys, pa.string()), "n": pa.array(ns, pa.int64()),
         **extra})


def _run(fn, *batches):
    return [b for b in row_kernel(fn, SCHEMA)(iter(batches))]


def test_zero_one_many_rows_and_take_passthrough():
    (out,) = _run(fan_out, _batch(["a", "b", "c", "d"], [0, 1, 3, 0]))
    assert out.to_pydict() == {
        "key": ["b", "c", "c", "c"],          # 1→0 rows skipped, 1→n repeated
        "i": [0, 0, 1, 2],
        "half": [0.0, 0.0, 0.5, 1.0],
        "ts": [T0, T0, T0 + dt.timedelta(seconds=1),
               T0 + dt.timedelta(seconds=2)],
        "blob": [b"\x00", b"\x00", b"\x01", b"\x02"],
    }


def test_output_types_come_from_the_schema():
    (out,) = _run(fan_out, _batch(["a"], [2]))
    assert out.schema.types == [
        pa.string(), pa.int32(), pa.float64(), pa.timestamp("us", tz="UTC"),
        pa.binary()]


def test_missing_key_is_null():
    (out,) = _run(lambda n: [{"i": n}], _batch(["a", "b"], [7, 8]))
    assert out.to_pydict() == {"key": ["a", "b"], "i": [7, 8],
                               "half": [None, None], "ts": [None, None],
                               "blob": [None, None]}


def test_returned_field_wins_over_passthrough():
    (out,) = _run(lambda key: [{"key": key.upper()}], _batch(["a", "b"], [0, 0]))
    assert out.column("key").to_pylist() == ["A", "B"]


def test_passthrough_timestamp_keeps_its_instants():
    """A zoned input column is cast to the schema's UTC type: same
    instants, not the same wall-clock digits."""
    local = [T0, T0 + dt.timedelta(hours=5)]
    ts = pa.array(local, pa.timestamp("us", tz="UTC")).cast(
        pa.timestamp("us", tz="America/New_York"))
    (out,) = _run(lambda n: [{"i": n}], _batch(["a", "b"], [1, 2], ts=ts))
    assert out.column("ts").type == pa.timestamp("us", tz="UTC")
    assert out.column("ts").to_pylist() == local


def test_fn_reads_only_the_columns_it_names():
    seen = []

    def fn(n):
        seen.append(n)
        return []

    (out,) = _run(fn, _batch(["a", "b"], [4, 5],
                              ignored=pa.array([b"x", b"y"])))
    assert seen == [4, 5]
    assert out.num_rows == 0 and out.schema.names == SCHEMA.fieldNames()


def test_empty_batch_gives_an_empty_typed_batch():
    (out,) = _run(fan_out, _batch([], []))
    assert out.num_rows == 0
    assert out.schema.types[1:] == [pa.int32(), pa.float64(),
                                    pa.timestamp("us", tz="UTC"), pa.binary()]


def test_one_output_batch_per_input_batch():
    outs = _run(fan_out, _batch(["a"], [1]), _batch(["b", "c"], [2, 1]))
    assert [b.num_rows for b in outs] == [1, 3]
    assert outs[1].column("key").to_pylist() == ["b", "b", "c"]
