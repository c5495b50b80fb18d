"""The driver fast-path helpers of guackg/local.py: the bounded collect
(both of its routes, and the bound that keeps over-bound inputs off
the driver) and the Arrow-built result frame."""

import json

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from guackg.local import collect_bounded, local_frame

ROWS = [(f"k{i:03d}", f"v{i:03d}") for i in range(40)]


def _frame(spark):
    return spark.createDataFrame(ROWS, "u string, v string")


def _rows(table):
    return sorted(zip(table.column("u").to_pylist(),
                      table.column("v").to_pylist()))


def test_collect_bounded_one_action_route(spark):
    """A frame that reads no file takes the one-action route: under
    the bound it comes back whole, over either bound it does not, and
    the frame for the distributed path holds every row, persisted when
    over the bound."""
    df = _frame(spark)
    table, frame = collect_bounded(df, max_rows=40, max_bytes=320)
    assert table.schema.names == ["u", "v"]
    assert _rows(table) == sorted(ROWS)
    assert sorted(tuple(r) for r in frame.collect()) == sorted(ROWS)
    # 40 rows of 8 key characters each: 320 characters in all
    for bound in ({"max_rows": 39}, {"max_rows": 40, "max_bytes": 319}):
        table, frame = collect_bounded(df, **bound)
        assert table is None
        frame.unpersist()
    assert collect_bounded(df, max_rows=40, max_bytes=320)[0] is not None
    table, frame = collect_bounded(df, max_rows=40, max_bytes=0)
    assert table is None and frame.is_cached
    assert frame.count() == len(ROWS)
    frame.unpersist()


def test_collect_bounded_empty_input_is_an_empty_table(spark):
    """An empty input fits: an empty table with the input's columns,
    not None (which would send the caller down its distributed path)."""
    table, _ = collect_bounded(_frame(spark).filter("u = 'none'"), 10, 10)
    assert table is not None
    assert table.num_rows == 0 and table.schema.names == ["u", "v"]


def test_collect_bounded_over_bytes_sends_one_row(spark, monkeypatch):
    """Over the byte bound but under the row bound, the one-action route
    returns None, and its action brings one row to the driver (the
    counts) instead of the input: the byte bound holds before the
    pull, not after it."""
    long_keys = spark.createDataFrame(
        [("x" * 1000 + str(i),) for i in range(200)], "u string")
    pulled = []
    to_arrow = type(long_keys).toArrow

    def recording_to_arrow(self):
        table = to_arrow(self)
        pulled.append(table.num_rows)
        return table

    monkeypatch.setattr(type(long_keys), "toArrow", recording_to_arrow)
    table, frame = collect_bounded(long_keys, max_rows=1000,
                                   max_bytes=10_000)
    assert table is None and pulled == [1]
    assert frame.is_cached and frame.count() == 200
    frame.unpersist()


def test_collect_bounded_parquet_route(spark, tmp_path):
    """A frame over parquet files whose footers hold more rows than the
    bound is sized by a parallel aggregate first: the whole table is
    over the bound, a filter of it that fits comes back whole, and a
    filter over the byte bound does not."""
    path = str(tmp_path / "t")
    (tmp_path / "t").mkdir()
    pq.write_table(pa.table({"u": [r[0] for r in ROWS],
                             "v": [r[1] for r in ROWS]}),
                   f"{path}/part-0.parquet")
    df = spark.read.parquet(path)
    table, frame = collect_bounded(df, max_rows=10, max_bytes=1000)
    assert table is None and frame.is_cached
    assert frame.count() == len(ROWS)
    frame.unpersist()
    small = df.filter(F.col("u") < "k005")
    table, frame = collect_bounded(small, max_rows=10, max_bytes=1000)
    assert _rows(table) == sorted(ROWS[:5]) and not frame.is_cached
    table, frame = collect_bounded(small, max_rows=10, max_bytes=39)
    assert table is None
    frame.unpersist()


@pytest.mark.parametrize("ddl,rows", [
    ("key string, depth int", []),
    ("key string, depth int, parent string, via_pred string",
     [("a", 0, None, None), ("b", 1, "a", "founded_by")]),
    ("k string not null, n bigint not null, x double", [("a", 1, None)]),
])
def test_local_frame_keeps_ddl_schema(spark, ddl, rows):
    """The driver paths' result frames carry exactly the DDL schema —
    types and nullability, on the Python side and in the JVM plan —
    for empty input and for NULL cells, and their rows in order."""
    want = StructType.fromDDL(ddl)
    df = local_frame(spark, rows, ddl)
    assert df.schema == want
    assert StructType.fromJson(json.loads(df._jdf.schema().json())) == want
    assert [tuple(r) for r in df.collect()] == rows
