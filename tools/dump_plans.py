"""Dump explain("formatted") for a list of queries WITHOUT executing
the final noop write (plan-shape evidence; build-side jobs such as
bounded collects still run, exactly as bench.py charges them).

Usage: python tools/dump_plans.py DIR q1 q2 ... [--sf SF_DIR]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    out_dir = sys.argv[1]
    names = [a for a in sys.argv[2:] if not a.startswith("--")]
    sf_dir = "/root/testdata/sf0.1"
    for a in sys.argv[2:]:
        if a.startswith("--sf="):
            sf_dir = a.split("=", 1)[1]
    from openseizuredatabase_spark.lineage import drop_persisted
    from openseizuredatabase_spark.plans.registry import QUERIES
    from openseizuredatabase_spark.session import get_spark

    os.environ.setdefault("SPARK_DRIVER_MEMORY", "16g")
    spark = get_spark("dump_plans")
    sc = spark.sparkContext
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        sc.setJobDescription(f"plan:{name}")
        df = QUERIES[name].fn(spark, sf_dir)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as fh:
            fh.write(txt)
        print(f"{name}: {txt.count('Exchange')} Exchange, "
              f"{txt.count('EvalPython')} EvalPython, "
              f"{len(txt.splitlines())} lines", flush=True)
        drop_persisted(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())
