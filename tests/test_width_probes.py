"""Object-store-safe width probes (round-12).

The footer-metadata probes (tables.table_meta, width.stream_width)
read local parquet footers to derive scale-adaptive widths. On a real
lake the inputs are object-store/HDFS URIs where ``os.path`` calls
silently mis-probe — these tests pin the guarded fallback:

* ``local_parquet_files`` detects non-local URIs and returns None;
* ``stream_width`` keeps the session width (no conf change) for them;
* ``table_meta`` raises without a session and takes the distributed
  probe (exact count + Hadoop content summary) with one.
"""

from __future__ import annotations

import os

import pytest

from openseizuredatabase_spark.sources import tables
from openseizuredatabase_spark.sources.width import stream_width


@pytest.mark.parametrize(
    "uri",
    [
        "s3://bucket/lake/events.parquet",
        "s3a://bucket/lake/events.parquet",
        "hdfs://nn:8020/lake/events.parquet",
        "abfss://fs@acct.dfs.core.windows.net/events.parquet",
        "gs://bucket/events.parquet",
    ],
)
def test_local_parquet_files_rejects_object_store_uris(uri):
    assert tables.local_parquet_files(uri) is None


def test_local_parquet_files_local_paths(sf_dir):
    one = tables.local_parquet_files(
        os.path.join(sf_dir, "events.parquet")
    )
    assert one == [os.path.join(sf_dir, "events.parquet")]
    # file: scheme is still local
    assert tables.local_parquet_files(
        "file://" + os.path.join(sf_dir, "events.parquet")
    ) == [os.path.join(sf_dir, "events.parquet")]


def test_table_meta_non_local_requires_session():
    with pytest.raises(ValueError, match="non-local"):
        tables.table_meta("s3://bucket/lake", "events")


def test_table_meta_distributed_probe_matches_footers(
    spark, sf_dir, monkeypatch, tmp_path
):
    """Force the non-local branch onto a local path (Hadoop's local FS
    serves it) and check the distributed probe returns the exact footer
    numbers."""
    rows_local, size_local = tables.table_meta(sf_dir, "events")
    # distinct sf_dir key so the memo cache cannot serve the local result
    alias = tmp_path / "sfalias"
    alias.symlink_to(sf_dir)
    monkeypatch.setattr(
        tables, "local_parquet_files", lambda path: None
    )
    rows_dist, size_dist = tables.table_meta(str(alias), "events", spark)
    assert rows_dist == rows_local
    assert size_dist == size_local


def test_stream_width_non_local_keeps_session_width(spark):
    before = spark.conf.get("spark.sql.shuffle.partitions", "32")
    with stream_width(spark, "s3://bucket/lake"):
        inside = spark.conf.get("spark.sql.shuffle.partitions", "32")
        assert inside == before
    assert spark.conf.get("spark.sql.shuffle.partitions", "32") == before


def test_stream_width_local_still_derives_from_rows(spark, sf_dir):
    before = spark.conf.get("spark.sql.shuffle.partitions", "32")
    with stream_width(spark, sf_dir):
        inside = int(spark.conf.get("spark.sql.shuffle.partitions"))
        # sf0.001 events is tiny: the derived width must collapse to 1
        assert inside == 1
    assert spark.conf.get("spark.sql.shuffle.partitions", "32") == before
