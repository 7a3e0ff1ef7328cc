"""Sink seam: every table the checkpointed runner persists goes
through a ``TableSink`` so the storage layer is swappable.

Two implementations:

* ``ParquetMarkerSink`` — what this sandbox runs: parquet directories
  under a root plus marker-last commit files (``commits/<name>``).
  Idempotent-overwrite + marker-last gives exactly-once semantics on
  any filesystem (SURVEY.md §4).
* ``IcebergTableSink`` — the real-cluster path (SURVEY.md §2.1 S6/S7):
  logical names map to Iceberg tables (`stage/pass=0/links/shard=3`
  → table ``stage_links``, partition columns ``pass``/``shard``),
  writes are atomic snapshot commits via the DataFrameWriterV2
  ``writeTo`` API (``overwritePartitions`` replaces exactly the
  shard's partition — the idempotent-overwrite contract — and commit
  markers become appends to a ``commits`` table, themselves atomic
  snapshots).  ENV-GATED like the PIL decode path: there is no
  Iceberg runtime in this container, so the constructor refuses to
  build unless a Spark catalog is actually configured
  (``spark.sql.catalog.<name>``); the class is the documented seam,
  exercised here only by its name-mapping unit tests
  (tests/test_io_sinks.py).

What flips on a real cluster: construct ``run_with_resume(...,
sink=IcebergTableSink(spark, 'catalog.db'))`` — plan shapes,
markers-last ordering, and resume logic are identical; only the
storage calls change.  First-write-wins image publication could then
also use MERGE (``MERGE INTO images t USING new n ON t.real_path =
n.real_path WHEN NOT MATCHED THEN INSERT *``) instead of the
read-modify-write fold, because Iceberg gives serializable commits.
"""

from __future__ import annotations

import os
from typing import List, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession, functions as F


def parse_table_name(name: str) -> Tuple[str, List[Tuple[str, Optional[str]]]]:
    """Map a slash path with ``k=v`` partition segments to
    (flat_table_name, [(partition_col, value_or_None)]).

    ``k=*`` (read-side glob over a partition) → value None = no filter.
    """
    table_parts: List[str] = []
    parts: List[Tuple[str, Optional[str]]] = []
    for seg in name.split('/'):
        if '=' in seg:
            k, v = seg.split('=', 1)
            parts.append((k, None if v == '*' else v))
        else:
            table_parts.append(seg)
    if not table_parts:
        raise ValueError(f'no table segment in sink name {name!r}')
    return '_'.join(table_parts), parts


class TableSink:
    """Interface: named-table writes/reads + commit markers."""

    def write(self, df: DataFrame, name: str) -> None:  # idempotent overwrite
        raise NotImplementedError

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        raise NotImplementedError

    def mark_committed(self, marker: str) -> None:
        raise NotImplementedError

    def is_committed(self, marker: str) -> bool:
        raise NotImplementedError


class ParquetMarkerSink(TableSink):
    def __init__(self, root: str):
        # no mkdir here: read_output/read_images construct sinks for
        # read-only access (possibly on read-only mounts); the commits
        # dir is created lazily by the first mark_committed
        self.root = root

    def write(self, df: DataFrame, name: str) -> None:
        df.write.mode('overwrite').parquet(os.path.join(self.root, name))

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        # trailing k=v / k=* segments read back as discovered partition
        # columns — same columns the Iceberg sink would expose
        return spark.read.parquet(os.path.join(self.root, name))

    def mark_committed(self, marker: str) -> None:
        # marker LAST: a crash before this leaves the unit uncommitted
        # → fully re-run on restart (idempotent overwrite)
        os.makedirs(os.path.join(self.root, 'commits'), exist_ok=True)
        with open(os.path.join(self.root, 'commits', marker), 'w') as f:
            f.write('ok')

    def is_committed(self, marker: str) -> bool:
        return os.path.exists(os.path.join(self.root, 'commits', marker))


class IcebergTableSink(TableSink):
    """Iceberg-backed sink (see module docstring; env-gated)."""

    def __init__(self, spark: SparkSession, prefix: str):
        catalog = prefix.split('.', 1)[0]
        if spark.conf.get(f'spark.sql.catalog.{catalog}', None) is None:
            raise RuntimeError(
                f'IcebergTableSink needs a configured Spark catalog '
                f'(spark.sql.catalog.{catalog}); none found — this container has no '
                f'Iceberg runtime, use ParquetMarkerSink here'
            )
        self.spark = spark
        self.prefix = prefix

    def _full(self, table: str) -> str:
        return f'{self.prefix}.{table}'

    def write(self, df: DataFrame, name: str) -> None:
        table, parts = parse_table_name(name)
        for k, v in parts:
            if v is None:
                raise ValueError(f'cannot write to a wildcard partition: {name!r}')
            df = df.withColumn(k, F.lit(int(v) if v.lstrip("-").isdigit() else v))
        full = self._full(table)
        writer = df.writeTo(full)
        if not self.spark.catalog.tableExists(full):
            if parts:
                writer.partitionedBy(*[F.col(k) for k, _ in parts]).create()
            else:
                writer.create()
        elif parts:
            # replaces exactly this shard's partition — the atomic
            # Iceberg twin of the per-shard overwrite
            writer.overwritePartitions()
        else:
            writer.createOrReplace()

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        # fully-filtered partition columns are dropped after filtering
        # so the frame's columns match what the parquet sink exposes
        # (a path segment above the read root never becomes a column
        # under parquet partition discovery); wildcard (k=*) partitions
        # stay as columns, like discovery over a directory prefix
        table, parts = parse_table_name(name)
        df = spark.read.table(self._full(table))
        for k, v in parts:
            if v is not None:
                df = df.where(F.col(k) == (int(v) if v.lstrip('-').isdigit() else v)).drop(k)
        return df

    def mark_committed(self, marker: str) -> None:
        df = self.spark.createDataFrame([(marker,)], 'marker string')
        full = self._full('commits')
        # append() requires an existing table — create on first marker;
        # a concurrent creator (another run on the same catalog) loses
        # the race benignly and falls through to append
        if not self.spark.catalog.tableExists(full):
            try:
                df.writeTo(full).create()
                return
            except Exception:
                pass
        df.writeTo(full).append()  # an Iceberg append IS an atomic snapshot commit

    def is_committed(self, marker: str) -> bool:
        full = self._full('commits')
        if not self.spark.catalog.tableExists(full):
            return False
        return (
            self.spark.read.table(full).where(F.col('marker') == marker).limit(1).count() > 0
        )
