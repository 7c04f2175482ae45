"""The shared lite core under delta_lite / iceberg_lite / hudi_lite:
the stream retention check, and the commit gates every lite writer now
takes (the Delta schema check, the Hudi instant claim)."""

import os

import pytest
from pyspark.sql import functions as F

from dataset_grouper_spark.sources.delta import (
    _replay,
    delta_append,
    delta_checkpoint,
    delta_versions,
)
from dataset_grouper_spark.sources.hudi import _next_instant, read_hudi
from dataset_grouper_spark.sources.iceberg import (
    iceberg_append,
    iceberg_expire_snapshots,
)
from dataset_grouper_spark.streaming.delta_source import DeltaLiteDataSource
from dataset_grouper_spark.streaming.hudi_source import HudiLiteDataSource
from dataset_grouper_spark.streaming.iceberg_source import (
    IcebergLiteDataSource,
)


def _three_commits(spark, t, append):
    for i in range(3):
        append(spark, spark.range(10 * i, 10 * i + 10), t)


def _delta_history_removed(spark, t):
    _three_commits(spark, t, delta_append)
    # the checkpoint keeps the latest state readable; the stream's
    # first commit is gone
    delta_checkpoint(spark, t)
    os.remove(os.path.join(t, "_delta_log", f"{0:020d}.json"))


def _iceberg_history_expired(spark, t):
    _three_commits(spark, t, iceberg_append)
    iceberg_expire_snapshots(t, keep_last=1)


@pytest.mark.parametrize(
    "source, drop_history",
    [
        (DeltaLiteDataSource, _delta_history_removed),
        (IcebergLiteDataSource, _iceberg_history_expired),
    ],
    ids=["delta_lite", "iceberg_lite"],
)
def test_stream_raises_on_unretained_offsets(
    spark, tmp_path, source, drop_history
):
    spark.dataSource.register(source)
    t = str(tmp_path / "tbl")
    drop_history(spark, t)
    q = (
        spark.readStream.format(source.name())
        .option("path", t)
        .load()
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="no longer retained"):
        q.awaitTermination(120)


def test_delta_lite_stream_write_checks_schema(spark, tmp_path):
    spark.dataSource.register(DeltaLiteDataSource)
    t, src = str(tmp_path / "tbl"), str(tmp_path / "src")
    spark.createDataFrame([(1, "a")], "id long, s string").write.format(
        "delta_lite"
    ).mode("append").option("path", t).save()
    spark.createDataFrame([(2, 0.5)], "id long, x double").write.parquet(src)
    q = (
        spark.readStream.schema("id long, x double")
        .parquet(src)
        .writeStream.format("delta_lite")
        .option("path", t)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="schema mismatch"):
        q.awaitTermination(120)
    assert delta_versions(t) == [0]
    adds, _meta = _replay(spark, t, 0)
    assert {n for n in os.listdir(t) if n.endswith(".parquet")} == set(adds)


def _parquet_files(t):
    return {
        os.path.join(d, n)
        for d, _dirs, names in os.walk(t)
        for n in names
        if n.endswith(".parquet")
    }


def test_hudi_lite_write_loses_to_claimed_instant(spark, tmp_path):
    spark.dataSource.register(HudiLiteDataSource)
    t = str(tmp_path / "hudi")
    df = spark.range(10).withColumn("v", F.col("id") * 2)
    df.write.format("hudi_lite").mode("append").option("path", t).option(
        "recordKey", "id"
    ).save()
    before = _parquet_files(t)
    instant = _next_instant(t)
    # the claim a racing writer (e.g. hudi_mor_upsert) holds on the
    # next instant
    with open(os.path.join(t, ".hoodie", f".{instant}.claim"), "w") as f:
        f.write("deltacommit")
    more = spark.range(10, 20).withColumn("v", F.col("id") * 2)
    with pytest.raises(Exception, match="lost the commit race"):
        more.write.format("hudi_lite").mode("append").option(
            "path", t
        ).save()
    assert not os.path.exists(os.path.join(t, ".hoodie", f"{instant}.commit"))
    assert _parquet_files(t) == before
    assert sorted(r["id"] for r in read_hudi(spark, t).collect()) == list(
        range(10)
    )
