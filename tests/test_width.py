"""The width module is the one place partition widths are decided:
pin its rules, its conf reads, and that no other module reads the
size confs or the core count itself."""

from __future__ import annotations

import pathlib
from contextlib import contextmanager

import pytest

import openseizuredatabase_spark
from openseizuredatabase_spark.functions import ann
from openseizuredatabase_spark.plans.oracle_check import _duckdb_conn, compare_query
from openseizuredatabase_spark.plans.registry import QUERIES
from openseizuredatabase_spark.sources import width
from openseizuredatabase_spark.sources.tables import load_table, table_meta


@contextmanager
def _conf(spark, key, value):
    before = spark.conf.get(key, None)
    if value is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, value)
    try:
        yield
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)


@pytest.mark.parametrize(
    "n, want", [(0, 1), (49_999, 1), (50_000, 1), (10**7, 32)]
)
def test_rows_rule(spark, n, want):
    with _conf(spark, "spark.sql.shuffle.partitions", "32"):
        assert width.rows_width(spark, n) == want


def test_session_width_on_vanilla_session_is_32(spark):
    with _conf(spark, "spark.sql.shuffle.partitions", None):
        assert width.session_width(spark) == 32
        # the typed getter the plans must not switch to
        conf = spark._jsparkSession.sessionState().conf()
        assert conf.numShufflePartitions() == 200


@pytest.mark.parametrize("value, want", [("64MB", 64 << 20), ("1m", 1 << 20)])
def test_max_partition_bytes_parses_size_strings(spark, value, want):
    with _conf(spark, "spark.sql.files.maxPartitionBytes", value):
        assert width.max_partition_bytes(spark) == want


def test_spread_small_scan(spark, sf_dir):
    df = load_table(spark, sf_dir, "documents")
    _, nbytes = table_meta(sf_dir, "documents", spark)
    spread = width.spread_small_scan(df, spark, nbytes)
    assert spread.rdd.getNumPartitions() == width.cores(spark)
    assert width.spread_small_scan(df, spark, 1 << 40) is df


def test_spread_cpu_dense(spark, sf_dir, monkeypatch):
    df = load_table(spark, sf_dir, "embeddings")
    # a sub-512 KB scan would get at most one 256 KB split: left as is
    assert width.scan_bytes(df) < 2 * width.CPU_DENSE_SPLIT_BYTES
    assert width.spread_cpu_dense(df, spark) is df
    for nbytes, want in [(3 * width.CPU_DENSE_SPLIT_BYTES, 3), (1 << 40, None), (None, None)]:
        monkeypatch.setattr(width, "scan_bytes", lambda _df: nbytes)
        out = width.spread_cpu_dense(df, spark)
        if want is None:
            assert out is df
        else:
            assert out.rdd.getNumPartitions() == want


def test_probe_reads_at_most_64_files():
    seen = []
    total = width._sampled_sum(list(range(640)), lambda p: seen.append(p) or 10)
    assert len(seen) == width.SAMPLE_FILES and total == 6400


def test_no_module_outside_width_reads_width_confs():
    pkg = pathlib.Path(openseizuredatabase_spark.__file__).parent
    allowed = {pkg / "sources" / "width.py", pkg / "session.py"}
    words = ("maxPartitionBytes", "defaultParallelism", "spark.sql.shuffle.partitions")
    hits = [
        f"{path.relative_to(pkg)}: {w}"
        for path in sorted(pkg.rglob("*.py"))
        if path not in allowed
        for w in words
        if w in path.read_text()
    ]
    assert not hits, hits


@pytest.fixture(scope="module")
def con(sf_dir):
    return _duckdb_conn(sf_dir)


@pytest.mark.parametrize("value", ["64MB", "1m"])
@pytest.mark.parametrize(
    "name", ["v5_kmeans_exact", "t5_ngram_jaccard", "s17_streaming_sliding"]
)
def test_size_string_max_partition_bytes(
    spark, con, sf_dir, monkeypatch, value, name
):
    # v5's mapInPandas Lloyd rounds run only on the distributed path
    monkeypatch.setattr(ann, "_KMEANS_DRIVER_ROW_CAP", -1)
    with _conf(spark, "spark.sql.files.maxPartitionBytes", value):
        ok, msg = compare_query(spark, con, QUERIES[name], sf_dir)
    assert ok, f"{name} with maxPartitionBytes={value}: {msg}"


_CKPT_LOC = "spark.sql.streaming.checkpointLocation"


@pytest.mark.parametrize(
    "key, preset",
    [
        ("spark.sql.shuffle.partitions", "7"),
        (width._CKPT_MANAGER, "org.example.PresetCheckpointFileManager"),
    ],
    ids=["shuffle", "ckpt_manager"],
)
@pytest.mark.parametrize("state", ["unset", "set"])
def test_stream_width_restores_each_conf(spark, sf_dir, key, preset, state):
    before = None if state == "unset" else preset
    with _conf(spark, _CKPT_LOC, None), _conf(spark, key, before):
        with width.stream_width(spark, sf_dir):
            inside = spark.conf.get(key, None)
            assert inside is not None and inside != preset
            if key == width._CKPT_MANAGER:
                assert inside == width._FS_CKPT_MANAGER
        assert spark.conf.get(key, None) == before


@pytest.mark.parametrize(
    "loc, local",
    [(None, True), ("file:/tmp/ckpt", True), ("/tmp/ckpt", True),
     ("hdfs://nn/ckpt", False), ("s3a://bucket/ckpt", False)],
)
def test_checkpoint_manager_only_for_a_local_checkpoint(spark, sf_dir, loc, local):
    # the location is only set, never used: no stream starts here
    key = width._CKPT_MANAGER
    with _conf(spark, _CKPT_LOC, loc), _conf(spark, key, None):
        assert width._local_checkpoint(spark) is local
        with width.stream_width(spark, sf_dir):
            got = spark.conf.get(key, None)
            # the shuffle width is set either way
            assert spark.conf.get("spark.sql.shuffle.partitions", None) is not None
        assert spark.conf.get(key, None) is None
    assert got == (width._FS_CKPT_MANAGER if local else None)
