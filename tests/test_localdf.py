"""``local_df``: bounded driver rows as an Arrow LocalRelation."""

import pytest

from fts_engine_spark.localdf import local_df


def test_local_df_matches_schema_and_rows(spark):
    df = local_df(spark, [(1, "a"), (2, "b")], "id long, s string")
    assert df.schema.simpleString() == "struct<id:bigint,s:string>"
    assert sorted(map(tuple, df.collect())) == [(1, "a"), (2, "b")]
    assert "LocalTableScan" in df._jdf.queryExecution().executedPlan().toString()


def test_local_df_empty_keeps_schema(spark):
    df = local_df(spark, [], "id long, s string")
    assert df.columns == ["id", "s"] and df.count() == 0


@pytest.mark.parametrize("row", [(1,), (1, "a", "extra")])
def test_local_df_rejects_arity_mismatch(spark, row):
    """A short or long row is an error, not a silently truncated frame."""
    with pytest.raises(ValueError, match="has 2 columns"):
        local_df(spark, [(0, "ok"), row], "id long, s string")
