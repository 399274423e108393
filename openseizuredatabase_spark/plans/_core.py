"""Query registry: every operator from SURVEY.md §2 as a named query over
the driver's synthetic lake, each with a DuckDB oracle SQL string.

Each entry maps one reference operator (the SURVEY id in the name and
docstring) onto the driver tables (region nation customer supplier part
orders lineitem events documents embeddings). The Spark side is the
engine's operator library; the oracle side is independent ANSI SQL so the
two implementations are genuinely cross-checked, not copies.

Column-name discipline: every computed column is aliased identically in
both, and every float that undergoes arithmetic is rounded (sums→2dp,
ratios→6dp) so cross-engine summation order can't flip the value hash.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Callable, Optional

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from openseizuredatabase_spark.operators import aggregates as agg_ops
from openseizuredatabase_spark.operators import dedup as dedup_ops
from openseizuredatabase_spark.operators import filters as filter_ops
from openseizuredatabase_spark.operators import joins as join_ops
from openseizuredatabase_spark.operators import splits as split_ops
from openseizuredatabase_spark.operators import windows as window_ops
from openseizuredatabase_spark.functions import text as text_fns
from openseizuredatabase_spark.functions.hashing import (
    md5_long,
    md5_long_sql,
    seeded_md5_long,
    seeded_md5_long_sql,
)
from openseizuredatabase_spark.sources.lake import morton_sql
from openseizuredatabase_spark.sources import tables
from openseizuredatabase_spark.sources.tables import load_table, table_meta
from openseizuredatabase_spark.sources.width import spread_small_scan


@dataclass
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]  # None → non-SQL-expressible, rows-only check
    doc: str


QUERIES: dict[str, QuerySpec] = {}


def query(name: str, oracle: Optional[str], doc: str):
    def deco(fn):
        QUERIES[name] = QuerySpec(fn=fn, oracle=oracle, doc=doc)
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _ts(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load + spread-for-map-work, sized from parquet footer metadata (a
    local read, no Spark job — see ``tables.table_meta``). For scans
    that feed CPU-heavy map work, not for scans a driver gate collects:
    a bounded collect of a spread scan pays a round-robin shuffle job
    for rows that all end on the driver (load those with ``_t``)."""
    _, nbytes = table_meta(sf_dir, name, spark)
    return spread_small_scan(load_table(spark, sf_dir, name), spark, nbytes)
