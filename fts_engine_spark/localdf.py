"""Arrow-backed local DataFrames for bounded driver-side row sets.

``spark.createDataFrame(list_of_tuples, schema)`` parallelizes the rows
into a Python RDD: every job that touches the result then schedules a
real Python task just to re-emit the handful of driver rows (measured r6:
~250 ms per collect on the serving box — the Python task floor — and a
scheduled task on any cluster). The pandas/Arrow path instead produces a
true LocalRelation: collect is driver-side (~10 ms), and as a join input
it is a LocalTableScan the planner can broadcast without running tasks.

``local_df`` is the drop-in replacement used by every query-path site
that materializes bounded results or tiny join relations. Rows must be
non-null in non-string columns (true for every caller: ids, scores,
counts); a row whose arity differs from the schema is rejected. No rows
give a relation Catalyst knows is empty, so it costs no job. When
the pandas/Arrow conversion itself refuses the data it falls back to the
classic path, so behavior can only differ in speed.
"""

from __future__ import annotations

from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """Bounded local ``rows`` (tuples/Rows) as an Arrow LocalRelation
    DataFrame with exactly ``schema`` (a DDL string or StructType)."""
    st = StructType.fromDDL(schema) if isinstance(schema, str) else schema
    assert isinstance(st, StructType)
    rows = [tuple(r) for r in rows]
    if not rows:
        # limit(0) lets Catalyst fold the relation to an empty
        # LocalRelation: collecting it, or joining onto it, runs no job
        # (an empty parallelized relation still schedules one)
        return spark.createDataFrame([], st).limit(0)
    width = len(st.fields)
    bad = next((r for r in rows if len(r) != width), None)
    if bad is not None:
        raise ValueError(
            f"local_df row {bad!r} has {len(bad)} values; the schema "
            f"{st.simpleString()} has {width} columns"
        )
    import pandas as pd
    import pyarrow as pa

    pdf = pd.DataFrame({f.name: list(c) for f, c in zip(st.fields, zip(*rows))})
    try:
        return spark.createDataFrame(pdf, schema=st)
    except (pa.ArrowException, PySparkException, TypeError, ValueError):
        # the Arrow path refuses some value/type pairs (e.g. a null in a
        # non-nullable column) that the row path accepts or reports better
        return spark.createDataFrame(rows, st)
