"""The table-source seam: the one place that knows where a table lives.

Every ``sf_dir`` table read goes through ``load_table`` (or, for a reader
without a session, ``table_path``); the layout today is one parquet file per
table, ``{sf_dir}/{name}.parquet``.  At cluster scale
these are Iceberg table scans (``spark.read.format("iceberg")``) and this
function is the switch point; the Iceberg jars are not in this image, so
the connector is parquet — Catalyst still gets pushdown + pruning on the
scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def fingerprint(sf_dir: str) -> tuple[tuple[str, int, int], ...]:
    """``(name, size, mtime_ns)`` of every table under ``sf_dir`` (``()`` if
    there is no such directory): the input identity cached artifacts key on."""
    if not os.path.isdir(sf_dir):
        return ()
    tables = [e for e in os.scandir(sf_dir) if e.name.endswith(".parquet")]
    return tuple(sorted((e.name, e.stat().st_size, e.stat().st_mtime_ns) for e in tables))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(table_path(sf_dir, name))
