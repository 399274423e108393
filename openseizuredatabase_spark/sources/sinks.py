"""Sinks (reference S4-S6) re-expressed for a distributed lake.

The reference writes one big JSON array file (osdDbConnection.py:130-203)
and appends CSV batches with header-once logic plus a contamination scrub
(io_utils.py:42+, extractFeatures.py:536-545). On Spark every write is an
atomic job commit — the scrub disappears — and output is partitioned.
"""

from __future__ import annotations

import json
import os
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from openseizuredatabase_spark.sources.width import sink_width


def write_events_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S4 at scale: NDJSON parts (line-delimited, splittable on re-read).

    The reference's single prettified array file doesn't survive 100 TB;
    NDJSON is the lake-native JSON layout (readable back by S2).
    """
    df.write.mode(mode).json(path)


def export_small_json(df: DataFrame, path: str, pretty: bool = False, limit: int = 100_000) -> int:
    """S4 compat shim: one local JSON array file, optionally prettified
    (osdDbConnection.py saveEventsToFile indent behavior). Deliberately
    driver-side and capped — for interchange with the reference's tooling,
    NOT a scale path."""
    rows = [r.asDict(recursive=True) for r in df.limit(limit).collect()]
    with open(path, "w") as f:
        json.dump(rows, f, indent=2 if pretty else None, default=str)
    return len(rows)


def write_csv_index(
    df: DataFrame,
    path: str,
    columns: Sequence[str],
    order_by: str,
    mode: str = "overwrite",
) -> None:
    """S5 CSV index: project the metadata columns, order by time, quote
    everything (osdDbConnection.py:206-234 quoteAll semantics).

    Sorted output uses a range partitioning (sortWithinPartitions after
    repartitionByRange) so the global order holds across part files
    without a single-reducer bottleneck.
    """
    out = (
        df.select(*columns)
        .repartitionByRange(sink_width(df.sparkSession), F.col(order_by))
        .sortWithinPartitions(order_by)
    )
    out.write.mode(mode).option("header", True).option("quoteAll", True).csv(path)


def append_batch_csv(df: DataFrame, path: str) -> None:
    """S6 batched append: Spark's append mode is an atomic job commit —
    no header-once bookkeeping, no partial-batch scrub needed."""
    header_needed = not os.path.exists(path)
    df.write.mode("append").option("header", header_needed).csv(path)
