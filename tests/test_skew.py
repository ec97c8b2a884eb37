"""Salted skew mitigation (skew.py): the salted join returns the
plain join's rows."""

from __future__ import annotations

from pyspark.sql import functions as F

from beats_spark.skew import salted_join


def test_salted_join_matches_plain_join(spark):
    """Same rows/values as the unsalted join; join keys carry the salt
    (the hot key fans over `buckets` reducers)."""
    # one hot key: 80% of facts hit dim key 0
    fact = spark.range(0, 2_000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 5 < 4, 0).otherwise(F.col("id") % 50).alias("k"),
        (F.col("id") % 11).alias("v"),
    )
    dim = spark.range(0, 50).select(F.col("id").alias("k"), (F.col("id") * 3).alias("w"))
    plain = fact.join(dim, "k")
    salted_ = salted_join(fact, dim, "k", buckets=8)
    assert salted_.count() == plain.count() == 2_000
    a = plain.agg(F.sum("v"), F.sum("w")).first()
    b = salted_.agg(F.sum("v"), F.sum("w")).first()
    assert (a[0], a[1]) == (b[0], b[1])
    assert set(salted_.columns) == set(plain.columns)
    plan = salted_._jdf.queryExecution().executedPlan().toString()
    assert "__salt__" in plan
