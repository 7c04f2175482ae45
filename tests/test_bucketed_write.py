"""The bucketed layout's physical shape: group-major files, a write
width that follows the data, and Spark jobs no wider than a shuffle;
and its one writer: jobs per call, parity with Spark's Parquet writer,
footers, the staged commit and its crash leftovers."""

import contextlib
import glob
import os
import re

import pyarrow.parquet as pq
import pytest
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


def test_one_bucketed_write_runs_at_most_three_jobs(spark, tmp_path):
    # the range sample, the shuffle map stage and the writer stage
    before = _job_ids(spark)
    sinks.write_partitioned(
        _docs(spark, 2000, 97),
        keys.by_feature("src"),
        str(tmp_path / "pds"),
        order_col="doc_id",
        layout="bucketed",
        num_buckets=64,
    )
    assert len(_job_ids(spark) - before) <= 3


def test_index_counts_group_runs_across_arrow_batches(spark, tmp_path):
    # batches of 37 rows: most groups' runs span two or more batches
    path = str(tmp_path / "pds")
    df = _docs(spark, 3000, 40)
    with _conf(spark, **{"spark.sql.execution.arrow.maxRecordsPerBatch": "37"}):
        sinks.write_partitioned(
            df, keys.by_feature("src"), path, order_col="doc_id", layout="bucketed",
            num_buckets=4,
        )
    idx = pq.read_table(os.path.join(path, sinks.GROUP_INDEX_DIR)).to_pylist()
    want = {r.src: r["count"] for r in df.groupBy("src").count().collect()}
    assert sorted(r[keys.GROUP_COL] for r in idx) == sorted(want)
    assert {r[keys.GROUP_COL]: r["num_examples"] for r in idx} == want
    assert {(r["layout"], r["num_buckets"]) for r in idx} == {("bucketed", 4)}
    _assert_group_major(path, "doc_id")


def _spark_written(df, key, path: str, num_buckets: int) -> None:
    """The same layout through Spark's ``partitionBy(bucket_id)``
    Parquet writer."""
    out = keys.with_group_key(df, key).withColumn(
        sinks.BUCKET_COL, sinks.bucket_expr(num_buckets)
    )
    (
        out.repartitionByRange(sinks.BUCKET_COL, keys.GROUP_COL)
        .sortWithinPartitions(sinks.BUCKET_COL, keys.GROUP_COL, "id")
        .write.partitionBy(sinks.BUCKET_COL)
        .parquet(path)
    )


def _rows_by_id(df):
    return [r.asDict(recursive=True) for r in sorted(df.collect(), key=lambda r: r.id)]


def test_rows_and_schema_equal_spark_writers_on_a_wide_frame(spark, tmp_path):
    from test_loader_arrow import SCHEMA, _rows

    df = spark.createDataFrame(_rows(0, 96), SCHEMA)
    with _conf(spark, **{"spark.sql.session.timeZone": "America/New_York"}):
        path = str(tmp_path / "pds")
        sinks.write_partitioned(
            df, F.col("g"), path, order_col="id", layout="bucketed", num_buckets=4
        )
        ref = str(tmp_path / "ref")
        _spark_written(df, F.col("g"), ref, 4)
        got = PartitionedDataset(spark, path).dataframe()
        want = spark.read.parquet(ref).withColumn(
            keys.GROUP_COL, F.col(keys.GROUP_COL).cast("string")
        )
        assert got.schema == want.schema
        assert _rows_by_id(got) == _rows_by_id(want)
        assert got.filter(F.col(keys.GROUP_COL).isNull()).count() == 8


def test_footers_carry_spark_row_metadata_and_the_conf_codec(spark, tmp_path):
    import json

    from pyspark.sql.types import StructType

    # non-nullable columns, struct fields, array elements, map values
    df = spark.range(200).select(
        "id",
        (F.col("id") % 7).cast("string").alias("src"),
        F.array("id").alias("arr"),
        F.struct("id").alias("st"),
        F.create_map(F.lit("k"), F.col("id")).alias("m"),
    )
    path, ref = str(tmp_path / "pds"), str(tmp_path / "ref")
    with _conf(spark, **{"spark.sql.parquet.compression.codec": "zstd"}):
        sinks.write_partitioned(
            df, keys.by_feature("src"), path, order_col="id", layout="bucketed",
            num_buckets=4,
        )
    _spark_written(df, keys.by_feature("src"), ref, 4)

    def row_metadata(f):
        meta = pq.ParquetFile(f).metadata.metadata
        key = b"org.apache.spark.sql.parquet.row.metadata"
        return StructType.fromJson(json.loads(meta[key])), meta

    def levels(f):
        return [
            (c.max_definition_level, c.max_repetition_level)
            for c in pq.ParquetFile(f).schema
        ]

    spark_file = glob.glob(os.path.join(ref, "*", "part-*"))[0]
    want, _ = row_metadata(spark_file)
    files = _data_files(path)
    assert files
    for f in files:
        got, meta = row_metadata(f)
        assert got == want
        assert levels(f) == levels(spark_file)  # REQUIRED where Spark's are
        assert meta[b"org.apache.spark.version"] == spark.version.encode()
        md = pq.ParquetFile(f).metadata
        assert {
            md.row_group(g).column(c).compression
            for g in range(md.num_row_groups)
            for c in range(md.num_columns)
        } == {"ZSTD"}


def test_writer_keeps_only_the_files_its_tasks_returned(spark, tmp_path):
    from dataset_grouper_spark.sinks import bucket_writer

    stage = tmp_path / "stage"
    # a failed attempt's leftovers, in a bucket and in the index
    stray = stage / sinks.DATA_DIR / f"{sinks.BUCKET_COL}=0" / "part-00000-99.parquet"
    stray.parent.mkdir(parents=True)
    stray.write_bytes(b"partial")
    (stage / sinks.GROUP_INDEX_DIR).mkdir()
    (stage / sinks.GROUP_INDEX_DIR / "part-00000-99.parquet").write_bytes(b"partial")
    frame = (
        keys.with_group_key(_docs(spark, 200, 20), keys.by_feature("src"))
        .withColumn(sinks.BUCKET_COL, sinks.bucket_expr(4))
        .repartitionByRange(sinks.BUCKET_COL, keys.GROUP_COL)
        .sortWithinPartitions(sinks.BUCKET_COL, keys.GROUP_COL)
    )
    staged = bucket_writer.write(frame, str(stage), 4)
    on_disk = sorted(str(p) for p in stage.rglob("*") if p.is_file())
    assert on_disk == sorted(staged)
    assert str(stray) not in staged


def _tree(path: str) -> dict[str, bytes]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            with open(os.path.join(d, f), "rb") as fh:
                out[os.path.relpath(os.path.join(d, f), path)] = fh.read()
    return out


_FAILED_OPS = [
    ("partitioned", op) for op in ("write", "append", "compact", "upsert", "delete")
] + [("bucketed", "write"), ("bucketed", "upsert")]


@pytest.mark.parametrize(
    "layout,op", _FAILED_OPS, ids=[f"{layout}-{op}" for layout, op in _FAILED_OPS]
)
def test_a_failed_write_keeps_the_previous_dataset(spark, tmp_path, layout, op):
    path = str(tmp_path / "pds")
    key = keys.by_feature("src")
    sinks.write_partitioned(
        _docs(spark, 300, 20), key, path, order_col="doc_id", layout=layout, num_buckets=4
    )
    before = sorted(PartitionedDataset(spark, path).dataframe().collect())
    if layout == "partitioned":
        # a group id too long for a directory name: the writer's own
        # tasks fail, when an in-place overwrite (Spark's partitionBy)
        # has already removed the old files
        bad = _docs(spark, 600, 20).withColumn(
            "src", F.when(F.col("doc_id") == 450, F.lit("x" * 300)).otherwise(F.col("src"))
        )
    else:
        bad = _docs(spark, 600, 20).withColumn(
            "text",
            F.when(F.col("doc_id") == 450, F.raise_error(F.lit("boom"))).otherwise(
                F.col("text")
            ),
        )
    upsert = sinks.upsert_bucketed if layout == "bucketed" else sinks.upsert_partitioned
    run = {
        "write": lambda: sinks.write_partitioned(
            bad, key, path, order_col="doc_id", layout=layout, num_buckets=4
        ),
        "append": lambda: sinks.append_partitioned(bad, key, path, order_col="doc_id"),
        "compact": lambda: sinks.compact_partitioned(
            spark, path, target_rows_per_file=7, order_col="doc_id"
        ),
        "upsert": lambda: upsert(spark, bad, key, path, "doc_id", "doc_id"),
        "delete": lambda: sinks.delete_partitioned(
            spark,
            path,
            "CASE WHEN doc_id = 150 THEN raise_error('boom') ELSE doc_id % 3 = 0 END",
        ),
    }[op]
    if op == "compact":
        # a data file that is not Parquet (not the first, whose footer
        # the read takes the schema from): the rewrite job fails
        with open(_data_files(path)[-1], "wb") as f:
            f.write(b"boom")
    tree = _tree(path)
    with pytest.raises(Exception, match="boom|too long|TASK_WRITE_FAILED|not a Parquet file"):
        run()
    # the old rows and the old index, byte for byte, and no stage left
    assert sorted(os.listdir(path)) == [sinks.GROUP_INDEX_DIR, sinks.DATA_DIR]
    assert _tree(path) == tree
    if op != "compact":
        pds = PartitionedDataset(spark, path)
        assert sorted(pds.dataframe().collect()) == before
        assert sum(len(f) for _, f in pds.iter_groups_bulk()) == 300


def test_a_column_arrow_cannot_carry_raises_before_any_job(spark, tmp_path):
    path = tmp_path / "pds"
    df = _docs(spark, 10, 3).withColumn("span", F.make_interval(F.lit(0), F.lit(1)))
    before = _job_ids(spark)
    with pytest.raises(TypeError, match="'span'"):
        sinks.write_partitioned(
            df, keys.by_feature("src"), str(path), layout="bucketed", num_buckets=4
        )
    assert _job_ids(spark) == before
    assert not path.exists()


def test_vacuum_removes_a_leftover_stage_and_never_data(spark, tmp_path):
    import shutil

    path = str(tmp_path / "pds")
    sinks.write_partitioned(
        _docs(spark, 300, 20), keys.by_feature("src"), path, order_col="doc_id",
        layout="bucketed", num_buckets=4,
    )
    data = os.path.join(path, sinks.DATA_DIR)
    stage = ".data-0123abcd.staging"
    mtimes = {f: os.path.getmtime(f) for f in _data_files(path)}

    # the driver died between the writer job and the commit
    shutil.copytree(data, os.path.join(path, stage, sinks.DATA_DIR))
    assert sinks.vacuum_partitioned(path) == {"removed": [stage], "restored": None}
    assert {f: os.path.getmtime(f) for f in _data_files(path)} == mtimes

    # ... or mid-commit: data/ renamed aside, the staged data not in yet
    shutil.copytree(data, os.path.join(path, stage, sinks.DATA_DIR))
    shutil.move(data, data + "_retiring")
    assert sinks.vacuum_partitioned(path) == {
        "removed": [stage],
        "restored": "data_retiring",
    }
    assert sorted(os.listdir(path)) == [sinks.GROUP_INDEX_DIR, sinks.DATA_DIR]
    assert PartitionedDataset(spark, path).dataframe().count() == 300
