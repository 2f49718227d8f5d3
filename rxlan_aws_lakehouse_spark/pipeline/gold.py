"""Gold layer: partitioned analytics table with transactional loads.

Replaces the reference's Redshift JDBC load (glue/
bronze_to_silver_openweather.py:134-148) with snapshot-committed parquet:
the staged Redshift COPY commits atomically, and so does every gold write
here — ``txn.TxnTable`` builds the next snapshot in full (carrying
untouched files by reference) and swaps a pointer, so a reader concurrent
with a reload never sees a torn table. ``SORTKEY (city, fetched_at_utc)``
(init.sql:17) maps to sortWithinPartitions before write so parquet
row-group min/max stats give the same scan-skipping effect.

``write_gold`` replaces the hour partitions it is given and
``load_gold`` reads the live snapshot; the pre-txn plain-directory
layout is still readable (legacy fallback in ``load_gold``), but all
new writes are snapshot commits.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..txn import TxnTable

_PARTITION_COLS = ("dt", "hour")
_SORT_COLS = ("city", "fetched_at_utc")  # init.sql:17


def _is_txn_root(path: str) -> bool:
    return os.path.isdir(os.path.join(path, "_versions"))


def write_gold(df: DataFrame, path: str) -> str:
    """Transactional gold write, partitioned by dt/hour.

    Replaces only the partitions present in ``df`` — the reference's
    "idempotent hourly re-run" (README.md:217-219) — and carries every
    other partition's files into the new snapshot by reference. Publishes
    via pointer swap; returns the committed version id.
    """
    t = TxnTable(path)
    pcols = [c for c in _PARTITION_COLS if c in df.columns]
    sort = [c for c in _SORT_COLS if c in df.columns]
    return t.overwrite_partitions(
        df.sparkSession, df, partition_by=pcols or None, sort_within=sort or None
    )


def load_gold(spark: SparkSession, path: str) -> DataFrame:
    """Snapshot read of the live gold version (legacy plain dirs supported)."""
    if _is_txn_root(path):
        return TxnTable(path).read(spark)
    return spark.read.option("basePath", path).parquet(path)

