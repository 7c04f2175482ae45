"""upsert_partitioned: MERGE semantics with group-directory rewrite
granularity — untouched groups' files must not even be touched."""

import glob
import os
import tempfile
from collections import Counter

import pytest
from pyspark.sql import functions as F

from dataset_grouper_spark import keys, sinks


def _files_with_mtimes(path):
    return {
        f: os.path.getmtime(f)
        for f in glob.glob(os.path.join(path, "**", "*"), recursive=True)
        if os.path.isfile(f)
    }


@pytest.fixture()
def dataset(spark):
    path = tempfile.mkdtemp(prefix="ups_")
    df = spark.createDataFrame(
        [
            (1, "a", "one"),
            (2, "a", "two"),
            (3, "b", "three"),
            (4, "c", "four"),
            (5, "c", "five"),
        ],
        "doc_id long, src string, text string",
    )
    sinks.write_partitioned(df, keys.by_feature("src"), path, order_col="doc_id")
    return path


def test_upsert_replaces_inserts_and_leaves_others_alone(spark, dataset):
    c_dir = os.path.join(dataset, "data", f"{keys.GROUP_COL}=c")
    before = _files_with_mtimes(c_dir)
    assert before, "fixture group dir missing"

    new = spark.createDataFrame(
        [(2, "a", "TWO-v2"), (9, "b", "nine")],
        "doc_id long, src string, text string",
    )
    stats = sinks.upsert_partitioned(
        spark, new, keys.by_feature("src"), dataset, "doc_id", "doc_id"
    )
    assert stats == {"upserted_rows": 2, "groups_rewritten": 2}

    out = spark.read.parquet(os.path.join(dataset, "data"))
    rows = {r["doc_id"]: r for r in out.collect()}
    assert len(rows) == 6
    assert rows[2]["text"] == "TWO-v2"
    assert rows[9]["text"] == "nine"
    assert rows[1]["text"] == "one"  # same-group sibling survived
    # group c: same files, same mtimes — not rewritten, not reopened
    assert _files_with_mtimes(c_dir) == before
    # sidecar index rebuilt
    idx = {
        r[keys.GROUP_COL]: r["num_examples"]
        for r in spark.read.parquet(
            os.path.join(dataset, sinks.GROUP_INDEX_DIR)
        ).collect()
    }
    assert idx == {"a": 2, "b": 2, "c": 2}


def test_upsert_last_wins_on_duplicate_ids(spark, dataset):
    # df_new carries two versions of doc 3; order_col picks the highest
    new = spark.createDataFrame(
        [(3, "b", "v1", 1), (3, "b", "v2", 2)],
        "doc_id long, src string, text string, ver long",
    )
    sinks.upsert_partitioned(
        spark, new, keys.by_feature("src"), dataset, "doc_id", "ver"
    )
    out = spark.read.parquet(os.path.join(dataset, "data"))
    got = out.filter("doc_id = 3").collect()
    assert len(got) == 1
    assert got[0]["text"] == "v2"


def test_upsert_new_group_directory(spark, dataset):
    new = spark.createDataFrame(
        [(10, "d", "ten")], "doc_id long, src string, text string"
    )
    stats = sinks.upsert_partitioned(
        spark, new, keys.by_feature("src"), dataset, "doc_id", "doc_id"
    )
    assert stats["groups_rewritten"] == 1
    out = spark.read.parquet(os.path.join(dataset, "data"))
    assert out.filter(f"{keys.GROUP_COL} = 'd'").count() == 1
    assert out.count() == 6


@pytest.fixture()
def null_group_dataset(spark, tmp_path):
    # ids 0, 10, 20, 30 have a NULL key: the NULL group lives in the
    # __HIVE_DEFAULT_PARTITION__ directory
    path = str(tmp_path / "nullgroup")
    df = spark.createDataFrame(
        [(i, None if i % 10 == 0 else "ab"[i % 2], f"t{i}") for i in range(40)],
        "doc_id long, src string, text string",
    )
    sinks.write_partitioned(df, keys.by_feature("src"), path, order_col="doc_id")
    return path


def _nulls_last(row):
    return (row[0] is None, row[0])


def _rows_and_index(spark, path):
    rows = {
        r["doc_id"]: (r[keys.GROUP_COL], r["text"])
        for r in spark.read.parquet(os.path.join(path, "data")).collect()
    }
    index = [
        (r[keys.GROUP_COL], r["num_examples"])
        for r in spark.read.parquet(os.path.join(path, sinks.GROUP_INDEX_DIR)).collect()
    ]
    return rows, index


@pytest.mark.parametrize("cap", [sinks.UPSERT_PRUNE_CAP, 0], ids=["pruned", "semi_join"])
@pytest.mark.parametrize(
    "batch",
    [
        [(10, None, "REPLACED"), (1000, None, "new")],
        [(10, None, "REPLACED"), (1000, None, "new"), (3, "b", "THREE"), (500, "a", "a500")],
    ],
    ids=["null_only", "mixed"],
)
def test_upsert_partitioned_null_group(spark, null_group_dataset, monkeypatch, batch, cap):
    # past the prune cap the touched groups come from a semi join,
    # which must match the NULL group too
    monkeypatch.setattr(sinks, "UPSERT_PRUNE_CAP", cap)
    new = spark.createDataFrame(batch, "doc_id long, src string, text string")
    sinks.upsert_partitioned(
        spark, new, keys.by_feature("src"), null_group_dataset, "doc_id", "doc_id"
    )
    rows, index = _rows_and_index(spark, null_group_dataset)
    want = {i: (None if i % 10 == 0 else "ab"[i % 2], f"t{i}") for i in range(40)}
    want.update({i: (src, text) for i, src, text in batch})
    assert rows == want
    # one index row per group, the NULL group's included
    counts = Counter(src for src, _ in want.values())
    assert sorted(index, key=_nulls_last) == sorted(counts.items(), key=_nulls_last)


def test_delete_partitioned_null_group(spark, null_group_dataset):
    stats = sinks.delete_partitioned(spark, null_group_dataset, "doc_id = 20")
    assert stats["deleted_rows"] == 1
    rows, index = _rows_and_index(spark, null_group_dataset)
    assert sorted(i for i, (g, _) in rows.items() if g is None) == [0, 10, 30]
    assert len(rows) == 39
    assert sorted(index, key=_nulls_last) == [("a", 16), ("b", 20), (None, 3)]
    # deleting every NULL-key row removes the group's directory and
    # its index row
    stats = sinks.delete_partitioned(spark, null_group_dataset, "doc_id % 10 = 0")
    assert stats["deleted_rows"] == 3
    rows, index = _rows_and_index(spark, null_group_dataset)
    assert len(rows) == 36 and all(g is not None for g, _ in rows.values())
    assert sorted(index) == [("a", 16), ("b", 20)]
    data = os.path.join(null_group_dataset, "data")
    assert not any("__HIVE_DEFAULT_PARTITION__" in d for d in os.listdir(data))


def test_upsert_and_delete_rebuild_a_missing_index(spark, dataset):
    # no _group_index dir: the ops rebuild it from the data instead of
    # staging a merge
    import shutil

    index = os.path.join(dataset, sinks.GROUP_INDEX_DIR)
    shutil.rmtree(index)
    new = spark.createDataFrame([(2, "a", "TWO-v2")], "doc_id long, src string, text string")
    sinks.upsert_partitioned(spark, new, keys.by_feature("src"), dataset, "doc_id", "doc_id")
    assert sorted(_rows_and_index(spark, dataset)[1]) == [("a", 2), ("b", 1), ("c", 2)]
    shutil.rmtree(index)
    sinks.delete_partitioned(spark, dataset, "doc_id = 4")
    assert sorted(_rows_and_index(spark, dataset)[1]) == [("a", 2), ("b", 1), ("c", 1)]
