"""The replay-safe at-rest protocol, in one place.

The reference's durability rule is "write the data, then commit the
metadata" (`writers.py`; reference pipeline.py:751-851). Micro-batch
sinks and incremental indexes extend it with one rule: every batch
writes its own `batch_id=<N>` partition with DYNAMIC partition
overwrite. A replayed batch recomputes its rows and replaces its own
partition wholesale, so it lands exactly once, and no other batch's
data is touched. Readers that must not see their own earlier attempt
exclude their batch id from the read (the excluded-self rule).

Functions:
- `write_partitions` / `write_batch`: the dynamic-overwrite write, and
  its batch form (`batch_id` as long, plus optional extra partition
  columns).
- `partition_ids` / `drop_partitions`: list the partition values on
  disk (an absent path is `[]`; every other error propagates) and
  delete partition directories (compaction's last step).
- `exists` / `rm` / `write_bytes`: the Hadoop FileSystem primitives,
  so local paths and cluster URIs behave alike.
- `write_meta` / `read_meta`: the 1-row JSON text sidecar that pins an
  index's or model's parameters.
"""

from __future__ import annotations

import json
from typing import Iterable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "write_partitions",
    "write_batch",
    "partition_ids",
    "drop_partitions",
    "exists",
    "rm",
    "write_bytes",
    "write_meta",
    "read_meta",
]


def _fs(spark, path: str):
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def exists(spark, path: str) -> bool:
    """Hadoop FS existence probe. Use it instead of a blanket `except`
    around a read: only a genuinely absent path means "nothing yet",
    while a transient FS error or a corrupt part file must fail."""
    fs, jpath = _fs(spark, path)
    return bool(fs.exists(jpath))


def rm(spark, path: str) -> None:
    """Recursive delete (no-op when absent)."""
    fs, jpath = _fs(spark, path)
    fs.delete(jpath, True)


def write_bytes(spark, path: str, data: bytes) -> None:
    """Create (or replace) one file holding `data`."""
    fs, jpath = _fs(spark, path)
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(data))
    finally:
        out.close()


def write_partitions(df: DataFrame, path: str, *cols: str) -> None:
    """Parquet write partitioned by `cols` with dynamic partition
    overwrite: only the partitions present in `df` are replaced, every
    other partition under `path` is left as it is. Callers choose the
    file count upstream (`coalesce`/`repartition`)."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*cols)
        .parquet(path)
    )


def write_batch(df: DataFrame, path: str, batch_id: int, *extra: str) -> None:
    """`write_partitions` of one batch: adds `batch_id` as a long column
    and partitions by it, then by any `extra` columns — the layout
    `<path>/batch_id=<N>[/<extra>=<v>...]`. A replay of the same batch
    id overwrites its own partitions."""
    write_partitions(
        df.withColumn("batch_id", F.lit(int(batch_id)).cast("long")),
        path,
        "batch_id",
        *extra,
    )


def partition_ids(spark, path: str, col: str) -> list:
    """Sorted distinct integer values of partition column `col` under
    `path`. An absent path is `[]`; any other failure (an unreadable
    directory, a junk part file) raises."""
    if not exists(spark, path):
        return []
    return sorted(
        int(r[0])
        for r in spark.read.parquet(path).select(col).distinct().collect()
    )


def drop_partitions(
    spark, roots: Sequence[str], col: str, ids: Iterable[int]
) -> None:
    """Delete `<root>/<col>=<id>` for every id, and within one id for
    every root in order (a table and its manifest go together)."""
    for i in ids:
        for root in roots:
            rm(spark, f"{root}/{col}={i}")


def write_meta(spark, path: str, meta: dict, mode: str = "overwrite") -> None:
    """Write `meta` as a 1-row JSON text sidecar at `path` — through
    the same FS as the data beside it, no driver-local path assumed."""
    spark.createDataFrame([(json.dumps(meta),)], "meta string").coalesce(
        1
    ).write.mode(mode).text(path)


def read_meta(spark, path: str) -> dict:
    """Read back a `write_meta` sidecar."""
    return json.loads(spark.read.text(path).first()["value"])
