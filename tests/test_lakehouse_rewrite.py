"""The bin rewrite shared by Delta OPTIMIZE and Iceberg
rewrite_data_files: one path key on both sides of every ``__fp`` join,
a job count that does not grow with the partition count, no stage left
behind by a failed rewrite, and checkpoint reads that raise on an
unreadable file instead of reading it as empty."""

import os
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from dataset_grouper_spark.sources import delta, iceberg
from dataset_grouper_spark.sources.rewrite import norm_path, norm_path_py


def test_norm_path_column_matches_python_twin(spark):
    paths = [
        "/abs/x.parquet",
        "file:/abs/x.parquet",
        "file:///abs/x.parquet",
        "hdfs://nn/abs/x.parquet",
        "rel/x.parquet",
    ]
    got = [
        r[0]
        for r in spark.createDataFrame([(p,) for p in paths], "p string")
        .select(norm_path(F.col("p")))
        .collect()
    ]
    assert got == [norm_path_py(p) for p in paths]
    assert got == [
        "/abs/x.parquet",
        "/abs/x.parquet",
        "/abs/x.parquet",
        "/nn/abs/x.parquet",
        "/rel/x.parquet",
    ]


def _delta_table(spark, path, partitions=16, commits=3):
    df = (
        spark.range(1600)
        .withColumn("p", (F.col("id") % partitions).cast("string"))
        .withColumn("v", F.col("id") * 3)
        .withColumn("y", (F.col("id") * 7919) % 1000)
    )
    for i in range(commits):
        delta.delta_append(
            spark, df.filter(F.col("id") % commits == i), path, partition_by=["p"]
        )
    return path


def _delta_rows(spark, t):
    return sorted(tuple(r) for r in delta.read_delta(spark, t).collect())


def _files_per_partition(t):
    adds, _meta = delta._replay(None, t, delta._latest_version(t))
    out: dict = {}
    for a in adds.values():
        key = a["partitionValues"]["p"]
        out[key] = out.get(key, 0) + 1
    return out


def _new_jobs(spark, fn):
    st = spark.sparkContext.statusTracker()
    before = set(st.getJobIdsForGroup(None))
    fn()
    return len(set(st.getJobIdsForGroup(None)) - before)


def test_delta_binpack_jobs_do_not_grow_with_partitions(spark, tmp_path):
    tz = _delta_table(spark, str(tmp_path / "z"))
    z_jobs = _new_jobs(
        spark, lambda: delta.delta_optimize(spark, tz, zorder_by=("v", "y"))
    )
    t = _delta_table(spark, str(tmp_path / "b"))
    before = _delta_rows(spark, t)
    files_before = _files_per_partition(t)
    assert len(files_before) == 16
    jobs = _new_jobs(spark, lambda: delta.delta_optimize(spark, t))
    # every bin of every partition in one job: no more jobs than the
    # z-order rewrite, which was already one job for all bins
    assert jobs <= z_jobs
    assert _delta_rows(spark, t) == before
    files_after = _files_per_partition(t)
    assert files_after.keys() == files_before.keys()
    assert all(files_after[k] < files_before[k] for k in files_before)


@pytest.fixture()
def tempdir(tmp_path, monkeypatch):
    d = tmp_path / "tmp"
    d.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(d))
    return d


def _corrupt_and_run(path, fn):
    """Run ``fn`` with ``path`` overwritten by non-Parquet bytes; put
    the original bytes back afterwards."""
    with open(path, "rb") as f:
        original = f.read()
    with open(path, "wb") as f:
        f.write(b"not a parquet file")
    try:
        with pytest.raises(Exception):
            fn()
    finally:
        with open(path, "wb") as f:
            f.write(original)


def test_failed_delta_optimize_leaves_no_stage(spark, tmp_path, tempdir):
    t = _delta_table(spark, str(tmp_path / "d"), partitions=2)
    before = _delta_rows(spark, t)
    version = delta._latest_version(t)
    adds, _meta = delta._replay(None, t, version)
    victim = os.path.join(t, sorted(adds)[0])
    _corrupt_and_run(victim, lambda: delta.delta_optimize(spark, t))
    assert os.listdir(tempdir) == []
    assert delta._latest_version(t) == version
    assert _delta_rows(spark, t) == before


def test_failed_iceberg_rewrite_leaves_no_stage(spark, tmp_path, tempdir):
    t = str(tmp_path / "i")
    for i in range(3):
        iceberg.iceberg_append(
            spark, spark.range(i * 25, (i + 1) * 25).coalesce(1), t
        )
    meta = iceberg._load_metadata(t)
    snap_id = meta["current-snapshot-id"]
    before = sorted(tuple(r) for r in iceberg.read_iceberg(spark, t).collect())
    snap = {s["snapshot-id"]: s for s in meta["snapshots"]}[snap_id]
    data, _d, _r, _e = iceberg._live_files(t, snap)
    victim = sorted(p for p, _seq in data)[0]
    _corrupt_and_run(
        victim, lambda: iceberg.iceberg_rewrite_data_files(spark, t)
    )
    assert os.listdir(tempdir) == []
    assert iceberg._load_metadata(t)["current-snapshot-id"] == snap_id
    assert (
        sorted(tuple(r) for r in iceberg.read_iceberg(spark, t).collect())
        == before
    )


@pytest.mark.parametrize(
    "column, read, absent",
    [
        (
            "protocol",
            lambda t, v: delta._current_protocol(t, v),
            {"minReaderVersion": 1, "minWriterVersion": 2},
        ),
        (
            "domainMetadata",
            lambda t, v: delta._domain_metadata(None, t, v),
            {},
        ),
    ],
)
def test_checkpoint_column_absent_or_unreadable(
    spark, tmp_path, column, read, absent
):
    t = str(tmp_path / "ck")
    delta.delta_append(
        spark, spark.createDataFrame([(i,) for i in range(4)], "id long"), t
    )
    delta.delta_enable_row_tracking(spark, t)
    delta.delta_checkpoint(spark, t)
    v = delta._latest_version(t)
    _cv, cp = delta._latest_checkpoint(t, v)
    assert read(t, v) != absent  # the checkpoint carries the action
    pq.write_table(pq.read_table(cp).drop([column]), cp)
    assert read(t, v) == absent  # written without the column: none
    with open(cp, "wb") as f:
        f.write(b"not a parquet file")
    with pytest.raises(pa.ArrowInvalid):
        read(t, v)
