"""Driver fast paths: one bounded Arrow collect in, one Arrow-built
frame out.

graph.py, cc.py and link.py answer small inputs on the driver instead
of running a Spark loop (the in-memory walk of guac's inmem backend,
inmem/path.go). Every such path goes through these two functions:

- `collect_bounded` checks the input against the driver bound before
  anything reaches the driver and pulls it when it fits, in ONE Spark
  action for an input that the parquet footers say is well under the
  bound; over the bound it hands the input back persisted and
  materialized for the caller's distributed path.
- `local_frame` returns the driver's answer as a LocalRelation built
  from a pyarrow Table: no pickled Python RDD, so collecting the
  result starts no Python worker and issues no Spark job.
"""

from __future__ import annotations

from urllib.parse import unquote, urlparse

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StringType, StructType

# helper columns of the one-action check: row id, row count, key bytes
_I, _N, _B = "__bounded_i", "__bounded_n", "__bounded_b"


def _stored_rows(df: DataFrame) -> int | None:
    """Rows of the local parquet files `df` reads, summed from their
    footers without a Spark job; None when `df` reads no file or any
    file that is not local parquet. It counts the input, not `df`:
    filters, joins and unions make `df` smaller or larger."""
    files = df.inputFiles()
    if not files:
        return None
    total = 0
    for uri in files:
        u = urlparse(uri)
        if u.scheme not in ("", "file"):
            return None
        try:
            total += pq.read_metadata(unquote(u.path)).num_rows
        except (OSError, pa.ArrowInvalid):
            return None
    return total


def collect_bounded(df: DataFrame, max_rows: int,
                    max_bytes: int | None = None,
                    checkpoint: bool = False
                    ) -> tuple[pa.Table | None, DataFrame]:
    """(table, frame). `table` is `df` as a pyarrow Table, or None when
    `df` is over the bound: more than `max_rows` rows, or (when
    `max_bytes` is given) a key-length sum above `max_bytes`. The
    key-length sum is the summed character length of every string
    column, the driver-memory proxy the bounds are stated in.
    `max_bytes <= 0` turns the driver path off without a check.
    `frame` is `df` itself when it fits; when it does not, `frame` is
    `df` persisted and materialized for the caller's distributed path,
    so that path reuses the check's work and the planner sees the
    frame's real size (an unmaterialized edge frame's estimate can be
    small enough to broadcast). The caller unpersists `frame` when it
    is done; on `df` itself that is a no-op. With `checkpoint`, `frame`
    is an eager local checkpoint instead, for a loop that checkpoints
    every round anyway: cc's star rounds ran about 10% slower from the
    cache followed by a checkpoint of it (1.5M edges, 4 cores).

    The check never pulls more than the bound to the driver, which
    therefore holds at most `max_rows` rows and `max_bytes` of keys.
    It takes one of two routes:

    - When `df` reads no file, or only local parquet files whose
      footers hold at most half of `max_rows` rows (so that even a
      union of two reads of them, as in a both-direction edge frame,
      is under the row bound), one action decides and pulls: `df` is
      coalesced to one partition (no extra shuffle), cut at
      `max_rows + 1` rows, and a window over that partition counts the
      rows and sums the key lengths. Under the bound every row comes
      back; over it only one row does, carrying the counts. This route
      runs the last stage of `df` in one task, so an input that turns
      out over the bound (long keys, a join) has cost up to
      `max_rows + 1` rows of serial work, buffered (and spillable) in
      that task, before `frame` is materialized.
    - When the footers hold more rows, an input that may well be over
      the bound, `frame` is materialized first and a parallel count and
      key-length sum over it decides; a second action pulls `frame`
      only if it fits (a filter can bring a large table under the
      bound)."""
    def materialized() -> DataFrame:
        if checkpoint:
            return df.localCheckpoint()
        frame = df.persist()
        frame.count()
        return frame

    if max_bytes is not None and max_bytes <= 0:
        return None, materialized()
    keys = [f.name for f in df.schema.fields
            if isinstance(f.dataType, StringType)]
    size = sum((F.coalesce(F.length(c), F.lit(0)) for c in keys),
               F.lit(0))

    def fits(n: int, b: int) -> bool:
        return n <= max_rows and (max_bytes is None or b <= max_bytes)

    stored = _stored_rows(df)
    if stored is not None and 2 * stored > max_rows:
        frame = df.localCheckpoint() if checkpoint else df.persist()
        n, b = frame.agg(F.count(F.lit(1)),
                         F.coalesce(F.sum(size), F.lit(0))).first()
        if not fits(n, b):
            return None, frame
        table = frame.toArrow()
        frame.unpersist()
        return table, df

    # the partition id is 0 everywhere after coalesce(1); partitioning
    # the window by it needs no shuffle and, unlike a literal, is not
    # optimized into Spark's "no partition defined" warning
    whole = Window.partitionBy(F.spark_partition_id())
    under = F.col(_N) <= max_rows
    if max_bytes is not None:
        under = under & (F.col(_B) <= max_bytes)
    table = (df.coalesce(1).limit(max_rows + 1)
             .withColumn(_I, F.monotonically_increasing_id())
             .withColumn(_N, F.count(F.lit(1)).over(whole))
             .withColumn(_B, F.sum(size).over(whole))
             .filter(under | (F.col(_I) == 0))
             .toArrow())
    if table.num_rows and not fits(table.column(_N)[0].as_py(),
                                   table.column(_B)[0].as_py()):
        return None, materialized()
    return table.select(df.columns), df


def local_frame(spark: SparkSession, rows, ddl: str) -> DataFrame:
    """A DataFrame of `rows` (tuples in `ddl` column order) with exactly
    the schema `ddl` declares, types and nullability included, built
    through a pyarrow Table into a LocalRelation."""
    schema = StructType.fromDDL(ddl)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema)
    return spark.createDataFrame(table, schema)
