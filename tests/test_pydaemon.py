"""The engine's Python worker daemon and the session settings around it:
workers run it, its zip-index cache re-reads exactly when an archive
changes, workers import the package from any working directory, and the
default width counts usable CPUs."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pandas as pd
import pytest

from openseizuredatabase_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(script: str, cwd, *args: str, **env: str) -> str:
    """Run ``script`` in a fresh interpreter with $PYTHONPATH unset."""
    full = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    full.update(env)
    out = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(script), *args],
        cwd=cwd, env=full, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return out.stdout.strip().splitlines()[-1]


def test_workers_run_the_engine_daemon(spark):
    def marker(batches):
        import sys
        import zipimport

        for b in batches:
            yield pd.DataFrame({
                "daemon": [sys.modules["__main__"].__spec__.name],
                "invalidate": [zipimport.zipimporter.invalidate_caches.__qualname__],
                "old_python": [sys.version_info < (3, 12)],
            })

    rows = (spark.range(0, 8, numPartitions=4)
            .mapInPandas(marker, "daemon string, invalidate string, old_python boolean")
            .collect())
    assert len(rows) == 4
    for r in rows:
        assert r.daemon == "openseizuredatabase_spark.pydaemon"
        want = "_invalidate_caches" if r.old_python else "zipimporter.invalidate_caches"
        assert r.invalidate == want


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="installed on CPython < 3.12 only")
def test_zip_index_is_reread_only_when_the_archive_changes(tmp_path):
    script = """
        import importlib, json, sys, zipfile, zipimport
        from openseizuredatabase_spark import pydaemon

        archive = sys.argv[1]

        def write(*mods):
            with zipfile.ZipFile(archive, "w") as z:
                for m in mods:
                    z.writestr(f"{m}.py", f"NAME = {m!r}\\n")

        write("a")
        sys.path.insert(0, archive)
        import a
        pydaemon.install()
        reads = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda path: reads.append(path) or read(path)
        importlib.invalidate_caches()
        unchanged = reads.count(archive)
        write("a", "b")
        importlib.invalidate_caches()
        rewritten = reads.count(archive) - unchanged
        import b
        print(json.dumps([unchanged, rewritten, a.NAME, b.NAME]))
    """
    out = _run(script, tmp_path, str(tmp_path / "mods.zip"), PYTHONPATH=ROOT)
    assert json.loads(out) == [0, 1, "a", "b"]


def test_package_udf_runs_from_outside_the_repo(tmp_path, sf_dir):
    """m16's forest UDF imports the package on the workers; the driver
    finds it through sys.path only, from a directory outside the repo."""
    script = """
        import sys
        sys.path.insert(0, sys.argv[1])
        from openseizuredatabase_spark.plans.oracle_check import _duckdb_conn, compare_query
        from openseizuredatabase_spark.plans.registry import QUERIES
        from openseizuredatabase_spark.session import get_spark

        spark = get_spark("outside-repo", cpus=2)
        sf = sys.argv[2]
        ok, msg = compare_query(spark, _duckdb_conn(sf), QUERIES["m16_rf_inference"], sf)
        spark.stop()
        print(ok, msg)
    """
    out = _run(script, tmp_path, ROOT, sf_dir, SPARK_DRIVER_MEMORY="1g")
    assert out.startswith("True match"), out


def test_default_cpus_counts_usable_cpus(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 2, 5})
    monkeypatch.setattr(os, "cpu_count", lambda: 64)
    assert session.default_cpus() == 3
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "7")
    assert session.default_cpus() == 7
