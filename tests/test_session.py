"""session.one_row_df: the single-row DataFrame behind ivf_topk's probe."""

from decimal import Decimal

import pytest

from codebased_spark.session import one_row_df


def test_one_row_df_parses_ddl(spark):
    """The DDL is parsed as DDL: the comma inside decimal(p,s) does
    not split a field, and a row of the wrong arity still raises."""
    df = one_row_df(spark, "price decimal(10,2), n long, rate decimal(5, 1)",
                    (Decimal("12.50"), 7, Decimal("0.5")))
    assert [(f.name, f.dataType.simpleString()) for f in df.schema.fields] == [
        ("price", "decimal(10,2)"), ("n", "bigint"), ("rate", "decimal(5,1)")]
    assert [tuple(r) for r in df.collect()] == [
        (Decimal("12.50"), 7, Decimal("0.5"))]
    assert df.rdd.getNumPartitions() == 1
    with pytest.raises(ValueError, match="arity"):
        one_row_df(spark, "a decimal(10,2), b int", (Decimal("1.00"),))
    with pytest.raises(ValueError, match="arity"):
        one_row_df(spark, "a int", (1, 2))
