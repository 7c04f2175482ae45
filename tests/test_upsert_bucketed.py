"""upsert_bucketed: MERGE with bucket-directory rewrite granularity."""

import glob
import os
import tempfile
import zlib

import pytest
from pyspark.sql import functions as F

from dataset_grouper_spark import keys, sinks

N_BUCKETS = 4


def _bucket(g: str) -> int:
    return zlib.crc32(g.encode()) % N_BUCKETS


def _files_with_mtimes(path):
    return {
        f: os.path.getmtime(f)
        for f in glob.glob(os.path.join(path, "**", "*"), recursive=True)
        if os.path.isfile(f)
    }


@pytest.fixture()
def dataset(spark):
    path = tempfile.mkdtemp(prefix="upsb_")
    rows = [(i, f"g{i % 10}", f"text-{i}") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, src string, text string")
    sinks.write_partitioned(
        df,
        keys.by_feature("src"),
        path,
        order_col="doc_id",
        layout="bucketed",
        num_buckets=N_BUCKETS,
    )
    return path


def test_bucketed_upsert_replace_insert_prune(spark, dataset):
    # pick a target group and an untouched bucket to watch
    target = "g3"
    untouched_buckets = [
        b for b in range(N_BUCKETS) if b != _bucket(target)
    ]
    watch = os.path.join(
        dataset, "data", f"{sinks.BUCKET_COL}={untouched_buckets[0]}"
    )
    before = _files_with_mtimes(watch)
    assert before

    new = spark.createDataFrame(
        [(3, "g3", "REPLACED"), (1003, "g3", "new-row")],
        "doc_id long, src string, text string",
    )
    stats = sinks.upsert_bucketed(
        spark, new, keys.by_feature("src"), dataset, "doc_id", "doc_id"
    )
    assert stats == {"upserted_rows": 2, "buckets_rewritten": 1}

    back = spark.read.parquet(os.path.join(dataset, "data"))
    assert back.count() == 101
    got = {r["doc_id"]: r["text"] for r in back.filter(
        F.col(keys.GROUP_COL) == "g3"
    ).collect()}
    assert got[3] == "REPLACED"
    assert got[1003] == "new-row"
    assert got[13] == "text-13"  # same-group sibling untouched
    # untouched bucket dir: identical files and mtimes
    assert _files_with_mtimes(watch) == before
    # index merged: g3 grew by one, everything else unchanged
    idx = {
        r[keys.GROUP_COL]: r["num_examples"]
        for r in spark.read.parquet(
            os.path.join(dataset, sinks.GROUP_INDEX_DIR)
        ).collect()
    }
    assert idx["g3"] == 11
    assert sum(idx.values()) == 101
    assert len(idx) == 10


def test_bucketed_upsert_single_group_read_still_pruned(spark, dataset):
    from dataset_grouper_spark.loader import PartitionedDataset

    new = spark.createDataFrame(
        [(2000, "g7", "late")], "doc_id long, src string, text string"
    )
    sinks.upsert_bucketed(
        spark, new, keys.by_feature("src"), dataset, "doc_id", "doc_id"
    )
    pds = PartitionedDataset(spark, dataset)
    # the loader's pruned single-group read still works post-upsert
    for cohort in pds.group_stream(take=1):
        gid, frame = cohort[0]
        assert len(frame) > 0
        break


def test_bucketed_upsert_rejects_partitioned_layout(spark):
    path = tempfile.mkdtemp(prefix="upsb_bad_")
    df = spark.createDataFrame(
        [(1, "a", "x")], "doc_id long, src string, text string"
    )
    sinks.write_partitioned(df, keys.by_feature("src"), path)
    with pytest.raises(ValueError, match="bucketed"):
        sinks.upsert_bucketed(
            spark, df, keys.by_feature("src"), path, "doc_id"
        )


@pytest.mark.parametrize("with_keyed_rows", [False, True])
def test_bucketed_upsert_with_null_key_rows(spark, tmp_path, with_keyed_rows):
    """A NULL group key has a NULL bucket (the __HIVE_DEFAULT_PARTITION__
    directory): the upsert rewrites that directory, and the NULL
    group keeps exactly one index row."""
    from dataset_grouper_spark.loader import PartitionedDataset

    path = str(tmp_path / "pds")
    rows = [(i, None if i % 10 == 0 else f"g{i % 7}", f"text-{i}") for i in range(100)]
    schema = "doc_id long, src string, text string"
    sinks.write_partitioned(
        spark.createDataFrame(rows, schema),
        keys.by_feature("src"),
        path,
        order_col="doc_id",
        layout="bucketed",
        num_buckets=N_BUCKETS,
    )
    batch = [(10, None, "REPLACED"), (1000, None, "new-null")]
    if with_keyed_rows:
        batch.append((1001, "g3", "new-g3"))
    stats = sinks.upsert_bucketed(
        spark,
        spark.createDataFrame(batch, schema),
        keys.by_feature("src"),
        path,
        "doc_id",
        "doc_id",
    )
    assert stats == {
        "upserted_rows": len(batch),
        "buckets_rewritten": 2 if with_keyed_rows else 1,
    }
    assert sorted(os.listdir(path)) == [sinks.GROUP_INDEX_DIR, sinks.DATA_DIR]
    data = os.path.join(path, sinks.DATA_DIR)
    null_dirs = [d for d in os.listdir(data) if "__HIVE_DEFAULT_PARTITION__" in d]
    assert null_dirs == [f"{sinks.BUCKET_COL}=__HIVE_DEFAULT_PARTITION__"]

    back = spark.read.parquet(data)
    nulls = {
        r["doc_id"]: r["text"]
        for r in back.filter(F.col(keys.GROUP_COL).isNull()).collect()
    }
    assert nulls[10] == "REPLACED"
    assert nulls[1000] == "new-null"
    assert nulls[20] == "text-20"
    assert len(nulls) == 11
    total = 100 + 1 + with_keyed_rows
    assert back.count() == total

    idx = spark.read.parquet(os.path.join(path, sinks.GROUP_INDEX_DIR)).collect()
    counts = [(r[keys.GROUP_COL], r["num_examples"]) for r in idx]
    assert [n for g, n in counts if g is None] == [11]
    assert dict(counts)["g3"] == 12 + with_keyed_rows
    assert sum(n for _, n in counts) == total
    assert PartitionedDataset(spark, path).list_groups()[-1:] == [None]
