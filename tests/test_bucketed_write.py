"""The bucketed layout's physical shape: group-major files, a write
width that follows the data, and Spark jobs no wider than a shuffle."""

import contextlib
import glob
import os
import re

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from dataset_grouper_spark import keys, sinks
from dataset_grouper_spark.loader import PartitionedDataset


@contextlib.contextmanager
def _conf(spark, **settings):
    """Set SQL confs on the shared session for one block only."""
    before = {k: spark.conf.get(k, None) for k in settings}
    for k, v in settings.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in before.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# small AQE targets, so a few thousand rows coalesce to several tasks
_SMALL_PARTITIONS = {
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32k",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "16k",
}


def _docs(spark, n: int, groups: int):
    # ids scattered across groups, so the input is not group-major
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("g"), ((F.col("id") * 7919) % groups).cast("string")).alias(
            "src"
        ),
        F.sha2(F.col("id").cast("string"), 256).alias("text"),
    )


def _data_files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, sinks.DATA_DIR, "*", "part-*")))


def _assert_group_major(path: str, order_col: str) -> None:
    """Every data file is sorted by (group_id, order_col), and no group
    id appears in two files."""
    owner = {}
    for f in _data_files(path):
        t = pq.ParquetFile(f).read(columns=[keys.GROUP_COL, order_col])
        rows = list(zip(t[keys.GROUP_COL].to_pylist(), t[order_col].to_pylist()))
        assert rows == sorted(rows, key=lambda r: (r[0] is not None, r[0] or "", r[1])), f
        for gid in {g for g, _ in rows}:
            assert owner.setdefault(gid, f) == f, f"group {gid!r} spans two files"


def _job_ids(spark) -> set[int]:
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def _widest_job(spark, job_ids) -> int:
    st = spark.sparkContext.statusTracker()
    widest = 0
    for j in job_ids:
        for s in st.getJobInfo(j).stageIds:
            widest = max(widest, st.getStageInfo(s).numTasks)
    return widest


def test_write_and_upsert_keep_files_group_major(spark, tmp_path):
    path = str(tmp_path / "pds")
    with _conf(spark, **_SMALL_PARTITIONS):
        sinks.write_partitioned(
            _docs(spark, 3000, 97),
            keys.by_feature("src"),
            path,
            order_col="doc_id",
            layout="bucketed",
            num_buckets=4,
        )
        _assert_group_major(path, "doc_id")
        assert len(_data_files(path)) > 4  # several writer tasks

        new = _docs(spark, 3000, 97).filter("doc_id % 50 = 0").select(
            (F.col("doc_id") + 100_000).alias("doc_id"), "src", "text"
        )
        sinks.upsert_bucketed(
            spark, new, keys.by_feature("src"), path, "doc_id", "doc_id"
        )
    _assert_group_major(path, "doc_id")
    assert spark.read.parquet(os.path.join(path, sinks.DATA_DIR)).count() == 3060


def test_bucketed_write_and_read_run_no_job_wider_than_a_shuffle(spark, tmp_path):
    path = str(tmp_path / "pds")
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    before = _job_ids(spark)
    sinks.write_partitioned(
        _docs(spark, 400, 200),
        keys.by_feature("src"),
        path,
        order_col="doc_id",
        layout="bucketed",
        num_buckets=64,
    )
    wrote = _job_ids(spark) - before
    assert wrote
    assert _widest_job(spark, wrote) <= width

    # 64 bucket directories: past the 32-path threshold, so the listing
    # runs as a Spark job
    before = _job_ids(spark)
    assert PartitionedDataset(spark, path).dataframe().count() == 400
    read = _job_ids(spark) - before
    assert _widest_job(spark, read) <= width


def test_writer_tasks_and_files_per_bucket_grow_with_the_input(spark, tmp_path):
    shape = {}
    with _conf(spark, **_SMALL_PARTITIONS):
        for n in (200, 6000):
            path = str(tmp_path / f"n{n}")
            sinks.write_partitioned(
                _docs(spark, n, 300),
                keys.by_feature("src"),
                path,
                order_col="doc_id",
                layout="bucketed",
                num_buckets=4,
            )
            files = _data_files(path)
            # part-<writer task's partition>-<job uuid>...
            tasks = {re.match(r"part-(\d+)", os.path.basename(f))[1] for f in files}
            shape[n] = (len(tasks), len(files) / 4)
            _assert_group_major(path, "doc_id")
    (small_tasks, small_files), (big_tasks, big_files) = shape[200], shape[6000]
    assert small_tasks < big_tasks
    assert small_files < big_files
