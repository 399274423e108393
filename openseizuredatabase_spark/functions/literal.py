"""Literal (constant) DataFrames without the RDD path.

``spark.createDataFrame(small_python_list)`` goes through
``parallelize`` + a Python-worker stage: one task per core is scheduled
to ship a handful of constants (measured ~0.6 s per call on a 32-core
local session, ~0 useful work). A ``VALUES`` table renders the same
rows as a ``LocalRelation`` — a pure driver-side literal that costs no
job at all and broadcasts/folds like any other literal.

Only meant for SMALL constant tables (offset grids, filter banks,
probe lists — tens to a few thousand rows). Real data must not go
through SQL-text rendering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def _render(v, typ: str) -> str:
    if v is None:
        return f"CAST(NULL AS {typ})"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, str):
        esc = v.replace("\\", "\\\\").replace("'", "\\'")
        return f"'{esc}'"
    if isinstance(v, float):
        # repr keeps full double precision; inf/nan spelled per SQL
        if v != v:
            return f"CAST('NaN' AS {typ})"
        if v == float("inf"):
            return f"CAST('Infinity' AS {typ})"
        if v == float("-inf"):
            return f"CAST('-Infinity' AS {typ})"
        return repr(v)
    return str(v)


def literal_df(spark: SparkSession, rows, ddl: str) -> DataFrame:
    """Build a constant DataFrame as a ``VALUES`` LocalRelation.

    ``ddl`` is a simple schema string (``"dx long, dy long"``); every
    value in the FIRST row is rendered with an explicit CAST to its
    declared type so the whole relation takes the intended schema
    (later rows widen to it).
    """
    cols = []
    for part in ddl.split(","):
        name, typ = part.strip().split(None, 1)
        cols.append((name, typ.strip()))
    rows = list(rows)
    if not rows:
        raise ValueError("literal_df needs at least one row")
    rendered = []
    for ri, row in enumerate(rows):
        if not isinstance(row, (tuple, list)):
            row = (row,)
        if len(row) != len(cols):
            raise ValueError(
                f"row {ri} has {len(row)} values for {len(cols)} columns"
            )
        vals = []
        for ci, v in enumerate(row):
            s = _render(v, cols[ci][1])
            if ri == 0 and not s.startswith("CAST("):
                s = f"CAST({s} AS {cols[ci][1]})"
            vals.append(s)
        rendered.append("(" + ", ".join(vals) + ")")
    names = ", ".join(c[0] for c in cols)
    return spark.sql(
        "SELECT * FROM VALUES " + ", ".join(rendered) + f" AS t({names})"
    )


def rows_frame(spark: SparkSession, rows, ddl: str) -> DataFrame:
    """Driver-held result rows as a DataFrame: a ``literal_df`` VALUES
    relation up to 20k rows (no job), ``createDataFrame`` above that,
    where parse and plan time of the SQL text would grow with every
    row, and for no rows."""
    rows = list(rows)
    if 0 < len(rows) <= 20_000:
        return literal_df(spark, rows, ddl)
    return spark.createDataFrame(rows, ddl)
