"""Test fixture factory — the reference's public ``test_utils`` API.

The reference exports ``prepare_test_tfrecord_dataset()``
(test_utils.py:25-53, re-exported at __init__.py:24): build a tiny
dataset, partition it under a single constant group, write one TFRecord
shard, and hand back what a test needs to exercise the load path. Same
contract here, on the Spark-native stack.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from dataset_grouper_spark import keys, pipelines


def make_test_dataframe(spark: SparkSession, num_rows: int = 10) -> DataFrame:
    """A small typed dataset (the DummyDataset stand-in)."""
    return spark.createDataFrame(
        [(i, f"example text {i}", float(i) / 2) for i in range(num_rows)],
        "id: long, text: string, score: double",
    )


def prepare_test_tfrecord_dataset(
    spark: SparkSession,
    out_dir: str,
    num_rows: int = 10,
    group: str = "test_client",
) -> tuple[DataFrame, list[str]]:
    """Build -> single-group partition -> one TFRecord shard.

    Returns (original DataFrame, shard paths). The shard follows the
    reference naming (``...-00000-of-00001``) and contains one
    SequenceExample packing all rows, like the reference fixture.
    """
    df = make_test_dataframe(spark, num_rows)
    prefix = os.path.join(out_dir, "test_data.tfrecord")
    paths = pipelines.tfds_to_tfrecords(
        df, prefix, keys.constant(group), order_col="id", num_shards=1
    )
    return df, paths
