"""Loading helpers for parquet tables: the driver-provided star schema,
and ``read_parquet``, the schema-on-read scan every engine read uses."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def balance_scan(df: DataFrame) -> DataFrame:
    """Rebalance a scan whose split count is below the session's
    parallelism (scale-adaptive, guide §2.2/§6).

    The driver's tables are single-row-group parquet files, and a row
    group is the hard floor of scan parallelism: no split configuration
    makes Spark decode one row group with two tasks, so every map-side
    pass over such a table (tokenize, hash, regex — the bulk of the
    text operators' work) runs on ONE core regardless of cluster size.
    A round-robin repartition of the (tiny) base table costs one narrow
    shuffle of its bytes and parallelizes everything above it. The
    condition is data-adaptive, not a local-mode constant: a
    production-scale table scans as >= parallelism splits, so no
    exchange is inserted at all. Deterministic: Spark sorts before
    round-robin repartition (SPARK-23207), and every operator in this
    repo is partition-layout-invariant by contract (tested)."""
    p = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < p:
        return df.repartition(p)
    return df


# Tables whose consumers do heavy map-side work (tokenize/hash/regex on
# text, numpy kernels on vectors) IN the scan stage — these gain the
# full core count from rebalancing. Narrow fact tables (events, lineitem,
# orders ...) hit an exchange (window/aggregate) as their first operation
# anyway, so rebalancing them would only add a shuffle of the payload
# for no parallelism gain (measured: +0.3 s on asof_attribution/
# dedup_exact-style queries at sf1.0).
_BALANCED_TABLES = {"documents", "embeddings"}


def _first_data_file(path: str) -> str | None:
    """The first parquet data file under the dir ``path``, in name order,
    descending into partition dirs (``slice=0/``); names Spark skips
    (a leading ``_`` or ``.``) are skipped too."""
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        data = sorted(
            f for f in files if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
        if data:
            return os.path.join(root, data[0])
    return None


def read_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """``spark.read.parquet(*paths)`` of parquet dirs without its
    schema-inference job: the schema is the footer of the first data file
    of the first dir that has one, read with pyarrow — the one footer
    Spark itself reads with ``mergeSchema`` off. Partition columns are
    not in a footer; Spark still takes them from the paths."""
    for p in paths:
        first = _first_data_file(p)
        if first is not None:
            schema = from_arrow_schema(pq.read_schema(first))
            return spark.read.schema(schema).parquet(*paths)
    return spark.read.parquet(*paths)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return balance_scan(df) if name in _BALANCED_TABLES else df


def register_views(spark: SparkSession, sf_dir: str, names=TABLES) -> None:
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
