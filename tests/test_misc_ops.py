"""Composite keyer, approx distinct accuracy, codec error paths,
nested-struct byte sizing."""

import pytest
from pyspark.sql import functions as F

from dataset_grouper_spark import keys
from dataset_grouper_spark.compat import tfexample
from dataset_grouper_spark.functions import textstats


def test_composite_key(spark):
    df = spark.createDataFrame([("A", "F", 1)], "x: string, y: string, z: int")
    out = keys.with_group_key(df, keys.composite("x", "y", "z"))
    assert out.collect()[0].group_id == "A|F|1"


def test_approx_distinct_close_to_exact(spark):
    df = spark.createDataFrame(
        [(i, i % 97) for i in range(10000)], "id: long, user: long"
    )
    approx = df.agg(F.approx_count_distinct("user", 0.02)).collect()[0][0]
    assert abs(approx - 97) / 97 < 0.05


def test_encode_example_rejects_unsupported():
    with pytest.raises(TypeError):
        tfexample.encode_example({"bad": {"nested": "dict"}})
    with pytest.raises(TypeError):
        tfexample.encode_example({"bad": [1.0, "mixed"]})


def test_nested_struct_byte_sizing(spark):
    df = spark.createDataFrame(
        [((3, "ab"), "xyz")],
        "s: struct<i: int, t: string>, plain: string",
    )
    total = df.select(textstats.row_bytes_expr(df).alias("b")).collect()[0].b
    # struct: 4 (int) + 2 (string 'ab'); plain: 3
    assert total == 4 + 2 + 3


def test_release_intermediates_unpersists(spark):
    from dataset_grouper_spark import cache
    from dataset_grouper_spark.operators import dedup

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d"), (3, "x y z w")],
        "doc_id: long, text: string",
    )
    pairs = dedup.ngram_jaccard_pairs(docs, "text", "doc_id", n=2)
    pairs.count()
    assert cache.release_intermediates() >= 1
    # idempotent: everything already released
    assert cache.release_intermediates() == 0


def test_release_intermediates_logs_failed_release(caplog):
    from dataset_grouper_spark import cache

    def broken():
        raise RuntimeError("block gone")

    cache.defer_release(broken)
    with caplog.at_level("WARNING", logger="dataset_grouper_spark.cache"):
        assert cache.release_intermediates() == 0
    assert "deferred release" in caplog.text and "block gone" in caplog.text


def test_approx_percentile_close_to_exact(spark):
    """The 100 TB path for value_percentiles_events: approx_percentile
    (bounded memory, no per-group sort buffer) lands within the
    accuracy bound of the exact grouped percentile."""
    from pyspark.sql import functions as F

    df = spark.range(20000).selectExpr(
        "CAST(id % 4 AS STRING) AS g",
        "CAST((id * 2654435761) % 100000 AS DOUBLE) / 100 AS v",
    )
    rows = df.groupBy("g").agg(
        F.expr("percentile(v, array(0.5, 0.9, 0.99))").alias("exact"),
        F.expr("approx_percentile(v, array(0.5, 0.9, 0.99), 1000)").alias(
            "approx"
        ),
        F.expr("max(v) - min(v)").alias("span"),
    ).collect()
    for r in rows:
        for e, a in zip(r["exact"], r["approx"]):
            assert abs(e - a) <= r["span"] * 0.01  # within 1% of range
