"""Salted skew joins: same results as the plain join."""

from __future__ import annotations

from pyspark.sql import functions as F

from blockchain_indexer_spark.operators.skew import salted_join


def test_salted_join_matches_plain_join(spark):
    # one mega-hot key (90% of rows) plus a long tail
    big = spark.range(10_000).select(
        F.when(F.col("id") % 10 != 0, F.lit("hot")).otherwise(
            F.concat(F.lit("k"), F.col("id"))
        ).alias("key"),
        F.col("id").alias("payload"),
    )
    small = spark.createDataFrame(
        [("hot", 1), ("k0", 2), ("k40", 3), ("missing", 4)], "key string, dim int"
    )
    plain = big.join(small, "key").select("key", "payload", "dim")
    salted = salted_join(big, small, "key").select("key", "payload", "dim")
    assert salted.count() == plain.count()
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0
    # outer flavor: unmatched big rows survive with NULL dim
    louter = salted_join(big, small, "key", how="left").filter(F.col("dim").isNull())
    assert louter.count() == big.join(small, "key", "left").filter(F.col("dim").isNull()).count()


def test_salted_join_rejects_right_and_full(spark):
    import pytest

    big = spark.range(10).select(F.lit("k").alias("key"), F.col("id"))
    small = spark.createDataFrame([("k", 1)], "key string, dim int")
    for how in ("right", "full", "outer", "full_outer"):
        with pytest.raises(ValueError, match="salted_join supports"):
            salted_join(big, small, "key", how=how)
