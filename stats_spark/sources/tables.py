"""Table loaders and routed sinks.

The production source is an Iceberg table partitioned by
``(format, day)`` (SURVEY §2.1 S1).  The loaders here read
hive-partitioned parquet only; there is no Iceberg path.  The
partition-pruning behavior under ``filter(format == ...)`` is the same
as an Iceberg scan's (Catalyst prunes directories).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F


def load_transcripts(spark: SparkSession, corpus: dict) -> DataFrame:
    """Partition-pruned scan of the transcripts table.  ``format`` and
    ``day`` ride along as partition/derived columns."""
    return spark.read.parquet(corpus["transcripts"])


def load_conversations(spark: SparkSession, corpus: dict) -> DataFrame:
    return spark.read.parquet(corpus["conversations"])


def write_routed(df: DataFrame, out_dir: str, sink: str,
                 partition_cols: tuple[str, ...] = ("format",),
                 sort_cols: tuple[str, ...] = ()) -> str:
    """ROUTE stage fan-out sink (SURVEY §2.1 S6): one partitioned
    parquet tree per report type, ``partitionBy`` on the routing keys.

    With Iceberg on the classpath this would be
    ``df.writeTo(table).partitionedBy(...)`` + snapshot commit."""
    path = os.path.join(out_dir, sink)
    # cluster rows by the routing keys first so each partition directory
    # gets ONE file instead of one per task — thousands of tiny files
    # serialize on the driver's single-threaded commit and crush read
    # performance at scale (the classic small-files problem)
    df = df.repartition(*[F.col(c) for c in partition_cols])
    if sort_cols:
        df = df.sortWithinPartitions(*sort_cols)
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)
    return path


def write_lineage(spark: SparkSession, out_dir: str, job: str,
                  metrics: list[dict]) -> str:
    """Per-partition lineage + metrics records (north rule): appended
    alongside the data so a resumed run can skip completed partitions
    (the reference's checkpoint ledger, logs/src/checkpoints.ts:31-47).

    Written directly with pyarrow from the driver — the ledger is a
    handful of rows per commit, and submitting a Spark job per sink
    commit serializes the job pipeline (measured as an Amdahl drag on
    scaling).  One uniquely-named file per commit, written under a
    ``_``-prefixed name and renamed into place, keeps appends atomic: a
    writer killed mid-file leaves only a ``_`` file, which parquet
    readers skip, so earlier commits still read back."""
    import uuid
    from datetime import datetime, timezone

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(out_dir, "_lineage")
    os.makedirs(path, exist_ok=True)
    now = datetime.now(timezone.utc).replace(tzinfo=None)
    rows = [dict(job=job, committed_at=now, **m) for m in metrics]
    table = pa.Table.from_pylist(rows)
    schema = pa.schema([
        pa.field(f.name, pa.timestamp("us")) if pa.types.is_timestamp(f.type)
        else f for f in table.schema
    ])
    name = f"commit-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(path, f"_{name}")
    pq.write_table(table.cast(schema), tmp)
    os.replace(tmp, os.path.join(path, name))
    # _SUCCESS marker so plain-parquet readers treat the dir as a table
    open(os.path.join(path, "_SUCCESS"), "a").close()
    return path
