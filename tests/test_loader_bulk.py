"""Bulk group iteration and incremental append."""

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from dataset_grouper_spark import keys, sinks
from dataset_grouper_spark.loader import PartitionedDataset


def test_iter_groups_bulk_matches_group_stream(spark, tmp_path):
    path = str(tmp_path / "pds")
    df = spark.createDataFrame(
        [(i, i % 7, f"r{i}") for i in range(140)],
        "id: long, label: long, text: string",
    )
    sinks.write_partitioned(df, keys.by_feature("label"), path, order_col="id")
    pds = PartitionedDataset(spark, path)

    bulk = {g: pdf for g, pdf in pds.iter_groups_bulk(order_col="id")}
    assert len(bulk) == 7
    stream = {
        g: pdf for c in pds.group_stream() for g, pdf in c
    }
    assert set(bulk) == set(stream)
    for g in bulk:
        b = bulk[g].sort_values("id").reset_index(drop=True)
        s = stream[g].sort_values("id").reset_index(drop=True)
        pd.testing.assert_frame_equal(b, s)
    # within-group order honors order_col
    assert list(bulk["3"]["id"]) == sorted(bulk["3"]["id"])


def test_iter_groups_bulk_on_bucketed_layout(spark, tmp_path):
    path = str(tmp_path / "pds_b")
    df = spark.createDataFrame(
        [(i, f"d{i % 30}") for i in range(300)], "id: long, dom: string"
    )
    sinks.write_partitioned(
        df, keys.by_feature("dom"), path, order_col="id",
        layout="bucketed", num_buckets=4,
    )
    pds = PartitionedDataset(spark, path)
    bulk = dict(pds.iter_groups_bulk(order_col="id"))
    assert len(bulk) == 30
    assert all(len(pdf) == 10 for pdf in bulk.values())
    assert all("bucket_id" not in pdf.columns for pdf in bulk.values())


def test_iter_groups_bulk_sorts_each_group_by_order_col(spark, tmp_path):
    # files hold rows in id order; the epoch re-sorts each group by
    # score, NULLs first (Spark's ascending order)
    path = str(tmp_path / "pds_order")
    df = spark.createDataFrame(
        [(i, f"d{i % 3}", None if i % 10 == 4 else -i) for i in range(60)],
        "id: long, dom: string, score: long",
    )
    for layout in ("partitioned", "bucketed"):
        sinks.write_partitioned(
            df, keys.by_feature("dom"), f"{path}/{layout}", order_col="id",
            layout=layout, num_buckets=2,
        )
        pds = PartitionedDataset(spark, f"{path}/{layout}")
        got = dict(pds.iter_groups_bulk(order_col="score", columns=["id"]))
        assert set(got) == {"d0", "d1", "d2"}
        for gid, pdf in got.items():
            ids = [i for i in range(60) if f"d{i % 3}" == gid]
            nulls = [i for i in ids if i % 10 == 4]
            rest = sorted((i for i in ids if i % 10 != 4), key=lambda i: -i)
            assert list(pdf.columns) == ["id"]
            assert sorted(pdf["id"][: len(nulls)]) == nulls
            assert list(pdf["id"][len(nulls):]) == rest


def test_iter_groups_bulk_rejects_a_group_split_across_runs(spark, tmp_path):
    # a bucket file whose group is not one contiguous run breaks the
    # layout's group-major contract: the epoch raises, naming the file,
    # and yields no group twice
    path = str(tmp_path / "pds_split")
    df = spark.createDataFrame(
        [(i, f"g{i % 12}") for i in range(120)], "id: long, dom: string"
    )
    sinks.write_partitioned(
        df, keys.by_feature("dom"), path, order_col="id",
        layout="bucketed", num_buckets=2,
    )
    files = sorted(
        os.path.join(d, f)
        for d, _, fs in os.walk(f"{path}/data")
        for f in fs
        if f.endswith(".parquet")
    )
    victim = next(
        f for f in files if len(pq.read_table(f).column(keys.GROUP_COL).unique()) > 1
    )
    table = pq.read_table(victim)
    first = table.column(keys.GROUP_COL)[0].as_py()
    # move the first group's first row behind every other group's rows
    table = pa.concat_tables([table.slice(1), table.slice(0, 1)])
    pq.write_table(table, victim)
    seen = []
    with pytest.raises(ValueError, match=os.path.basename(victim)) as err:
        for gid, _ in PartitionedDataset(spark, path).iter_groups_bulk():
            seen.append(gid)
    assert repr(first) in str(err.value)
    assert len(seen) == len(set(seen))


def test_append_partitioned_grows_dataset(spark, tmp_path):
    path = str(tmp_path / "pds_a")
    df1 = spark.createDataFrame(
        [(i, i % 3) for i in range(30)], "id: long, label: long"
    )
    sinks.write_partitioned(df1, keys.by_feature("label"), path, order_col="id")
    df2 = spark.createDataFrame(
        [(100 + i, i % 5) for i in range(25)], "id: long, label: long"
    )
    sinks.append_partitioned(df2, keys.by_feature("label"), path, order_col="id")
    pds = PartitionedDataset(spark, path)
    assert pds.dataframe().count() == 55
    idx = {r.group_id: r.num_examples for r in pds.group_index().collect()}
    assert len(idx) == 5          # groups 3,4 appeared via append
    assert idx["0"] == 10 + 5     # 10 original + 5 appended
    assert idx["4"] == 5


def test_iter_groups_bulk_column_projection(spark, tmp_path):
    # metadata-only epoch: the projection must reach the frames (and
    # the spill), while the group column itself is still dropped
    path = str(tmp_path / "pds_proj")
    df = spark.createDataFrame(
        [(i, i % 4, f"text {i}", i * 10) for i in range(80)],
        "id: long, label: long, text: string, size: long",
    )
    sinks.write_partitioned(df, keys.by_feature("label"), path, order_col="id")
    pds = PartitionedDataset(spark, path)
    got = dict(pds.iter_groups_bulk(order_col="id", columns=["id", "size"]))
    assert set(got) == {"0", "1", "2", "3"}
    for gid, pdf in got.items():
        assert list(pdf.columns) == ["id", "size"]
        assert len(pdf) == 20
        assert (pdf["id"] % 4 == int(gid)).all()
        assert (pdf["size"] == pdf["id"] * 10).all()
    # unprojected run still carries all columns
    full = dict(pds.iter_groups_bulk())
    assert set(full["0"].columns) == {"id", "label", "text", "size"}


def _index(spark, path):
    return {
        r.group_id: r.num_examples
        for r in PartitionedDataset(spark, path).group_index().collect()
    }


def test_append_partitioned_without_a_prior_index(spark, tmp_path):
    # no _group_index dir: the index is rebuilt from the data; a
    # zero-row first append leaves a schema footer, so the dataset
    # loads with zero groups and the next append merges into it
    schema = "id: long, label: long"
    fresh = str(tmp_path / "fresh")
    df = spark.createDataFrame([(i, i % 3) for i in range(12)], schema)
    sinks.append_partitioned(df, keys.by_feature("label"), fresh)
    assert _index(spark, fresh) == {"0": 4, "1": 4, "2": 4}

    empty = str(tmp_path / "empty")
    sinks.append_partitioned(
        spark.createDataFrame([], schema), keys.by_feature("label"), empty
    )
    pds = PartitionedDataset(spark, empty)
    assert pds.list_groups() == [] and list(pds.iter_groups_bulk()) == []
    sinks.append_partitioned(df, keys.by_feature("label"), empty)
    assert _index(spark, empty) == {"0": 4, "1": 4, "2": 4}


def test_append_partitioned_merges_a_legacy_index(spark, tmp_path):
    # an index written before the layout descriptor existed
    path = str(tmp_path / "legacy")
    df = spark.createDataFrame([(i, i % 2) for i in range(10)], "id: long, label: long")
    sinks.write_partitioned(df, keys.by_feature("label"), path)
    index = f"{path}/{sinks.GROUP_INDEX_DIR}"
    legacy = spark.read.parquet(index).select(keys.GROUP_COL, "num_examples").collect()
    spark.createDataFrame(legacy).write.mode("overwrite").parquet(index)
    assert sinks.read_layout(path) is None
    sinks.append_partitioned(df, keys.by_feature("label"), path)
    assert _index(spark, path) == {"0": 10, "1": 10}
    assert sinks.read_layout(path) == ("partitioned", 0)
