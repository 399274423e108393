"""Tests of the benchmark's own output check.

    python3 -m pytest perfbench/test_perfbench.py -q

They need the generated lake and a recorded ``expected.json``; each
starts Spark, so the file takes about a minute.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from check import fingerprint, lake_digest, load_expected  # noqa: E402
from workloads import WORKLOADS, default_lake  # noqa: E402

WORKLOAD = "curate_lake"


def _bench_copy(tmp_path, corrupt: str) -> str:
    """A tree holding the package (linked), the lake (linked) and a copy
    of the benchmark whose expected fingerprint for ``corrupt`` is wrong."""
    root = tmp_path / "checkout"
    bench = root / "perfbench"
    bench.mkdir(parents=True)
    os.symlink(os.path.join(ROOT, "openseizuredatabase_spark"), root / "openseizuredatabase_spark")
    for name in os.listdir(HERE):
        if name.endswith(".py"):
            shutil.copy(os.path.join(HERE, name), bench / name)
    (bench / ".lake").mkdir()
    os.symlink(default_lake(), bench / ".lake" / os.path.basename(default_lake()))
    expected = load_expected()
    table = expected[lake_digest(default_lake())]
    table[corrupt] = dict(table[corrupt], hash=str(int(table[corrupt]["hash"]) + 1))
    (bench / "expected.json").write_text(json.dumps(expected))
    return str(root)


@pytest.mark.skipif(not os.path.isdir(default_lake()), reason="lake not generated")
def test_corrupted_fingerprint_counts_as_failure(tmp_path):
    corrupt = WORKLOADS[WORKLOAD].queries[0]
    root = _bench_copy(tmp_path, corrupt)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", WORKLOAD,
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=root, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    *_, detail_line, result_line = out.stdout.strip().splitlines()
    result = json.loads(result_line)
    detail = json.loads(detail_line)["detail"]
    assert result["correct"] is False
    assert result["failed"] == 1
    assert detail["failed_frac"] > 0
    assert [f["query"] for f in detail["failures"]] == [corrupt]
    assert not os.listdir(os.path.join(root, "perfbench", ".scratch"))


def test_fingerprint_is_order_insensitive_and_counts_duplicates(tmp_path):
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master("local[2]")
             .config("spark.ui.enabled", "false")
             .config("spark.local.dir", str(tmp_path))
             .config("spark.driver.extraJavaOptions",
                     f"-Djava.io.tmpdir={tmp_path} -XX:-UsePerfData")
             .getOrCreate())
    try:
        rows = [(1, "a", 0.5), (2, None, 1.5), (3, "c", None)]
        df = spark.createDataFrame(rows, "k long, s string, x double")
        shuffled = spark.createDataFrame(rows[::-1], "k long, s string, x double")
        renamed_order = shuffled.select("x", "s", "k")
        doubled = df.union(spark.createDataFrame(rows[:1], df.schema))
        null_moved = spark.createDataFrame(
            [(1, "a", 0.5), (2, "c", None), (3, None, 1.5)], df.schema)
        base = fingerprint(df)
        assert fingerprint(shuffled) == base
        assert fingerprint(renamed_order) == base
        assert fingerprint(doubled) != base
        assert fingerprint(doubled)["rows"] == 4
        assert fingerprint(null_moved) != base
    finally:
        spark.stop()
