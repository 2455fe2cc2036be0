"""Table IO.

The reference reads from MongoDB collections (DBController.java:41-54); our
engine reads columnar tables. ``load_table`` prefers an Iceberg catalog table
when a catalog is configured (production path per BASELINE.json input_hint)
and falls back to parquet directories (sandbox: no Iceberg runtime jar).
Either way the scan is a DataSourceV2/parquet columnar scan with predicate
pushdown and column pruning supplied by Catalyst.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a named table from an sf directory (parquet) or Iceberg catalog.

    An identifier of the form ``catalog.db.table`` (contains dots, no path
    separator) is treated as an Iceberg/catalog table; anything else is a
    parquet directory + ``{name}.parquet``.
    """
    if "." in sf_dir and os.sep not in sf_dir:
        return spark.read.table(f"{sf_dir}.{name}")
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
