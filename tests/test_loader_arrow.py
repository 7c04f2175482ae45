"""group_stream reads each group with pyarrow on the driver. Its frames
must equal the Spark path they replace, ``group(gid)`` without the
``group_id``/``bucket_id`` columns (projected to ``columns``) and then
``toPandas()``, and a whole stream must launch no Spark job. The full
epoch, ``iter_groups_bulk``, reads the same files in one pass: it must
yield every listed group once, with the stream's frames, and launch no
Spark job either."""

import datetime
import decimal

import pandas as pd
import pytest
from pyspark.sql import functions as F

from dataset_grouper_spark import keys, sinks
from dataset_grouper_spark.loader import PartitionedDataset

# ids Spark escapes in directory names (/ = % #), ones it writes as-is
# (space, +, non-ASCII), numeric-looking ones, and the NULL group
IDS = ["a b", "x+y", "p%q", "k=v", "a/b", "ü", "3", "007", "#h", "d.t", "plain", None]
SCHEMA = (
    "id long, g string, ts timestamp, ntz timestamp_ntz, d date, b binary,"
    " m map<string,int>, dec decimal(10,4), st struct<x:long,y:string>,"
    " arr array<long>, ni int, flag boolean"
)


def _row(i: int, g):
    return (
        i,
        g,
        datetime.datetime(2020, 3, 8, 6, i % 60, 7, 123456),
        datetime.datetime(2021, 11, 7, 1, i % 60),
        datetime.date(2020, 1, 1) + datetime.timedelta(days=i),
        bytes([i % 256, 0, 255]),
        {"k": i, "j": -i},
        decimal.Decimal(i) / 7,
        (i, f"s{i}"),
        [i, i + 1],
        None if i % 5 == 0 else i,
        None if i % 7 == 0 else i % 2 == 0,
    )


def _rows(lo: int, hi: int):
    return [_row(i, IDS[i % len(IDS)]) for i in range(lo, hi)]


def _sorted(pdf: pd.DataFrame) -> pd.DataFrame:
    return pdf.sort_values("id").reset_index(drop=True)


def _assert_parity(pds: PartitionedDataset, columns=None, **kw) -> None:
    streamed = {
        gid: pdf
        for cohort in pds.group_stream(columns=columns, **kw)
        for gid, pdf in cohort
    }
    assert sorted(streamed, key=lambda g: (g is None, g)) == pds.list_groups()
    for gid, pdf in streamed.items():
        want = pds.group(gid).drop(keys.GROUP_COL, sinks.BUCKET_COL)
        if columns is not None:
            want = want.select(*columns)
        pd.testing.assert_frame_equal(_sorted(pdf), _sorted(want.toPandas()))
    epoch = list(pds.iter_groups_bulk(columns=columns))
    ids = [gid for gid, _ in epoch]
    assert len(ids) == len(set(ids))
    assert sorted(ids, key=lambda g: (g is None, g)) == pds.list_groups()
    for gid, pdf in epoch:
        pd.testing.assert_frame_equal(pdf, streamed[gid])


@pytest.fixture(scope="module")
def layouts(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("arrow_parity")
    df = spark.createDataFrame(_rows(0, 96), SCHEMA)
    out = {}
    for layout in ("partitioned", "bucketed"):
        path = str(base / layout)
        sinks.write_partitioned(
            df, F.col("g"), path, order_col="id", layout=layout, num_buckets=4
        )
        out[layout] = path
    return out


@pytest.mark.parametrize("layout", ["partitioned", "bucketed"])
@pytest.mark.parametrize("columns", [None, ["id", "ts", "m", "st"], ["dec", "id", "b"]])
def test_group_stream_equals_spark_to_pandas(spark, layouts, layout, columns):
    pds = PartitionedDataset(spark, layouts[layout])
    assert len(pds.list_groups()) == len(IDS)
    _assert_parity(pds, columns=columns)


@pytest.mark.parametrize("layout", ["partitioned", "bucketed"])
def test_group_stream_parity_in_a_non_utc_session(spark, layouts, layout):
    # timestamps (Parquet INT96) are instants shown in the session time
    # zone; timestamp_ntz values are not shifted
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        _assert_parity(
            PartitionedDataset(spark, layouts[layout]),
            columns=["id", "ts", "ntz", "d"],
            prefetch=2,
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def test_group_stream_parity_after_append(spark, tmp_path):
    path = str(tmp_path / "appended")
    sinks.write_partitioned(
        spark.createDataFrame(_rows(0, 48), SCHEMA), F.col("g"), path, order_col="id"
    )
    sinks.append_partitioned(
        spark.createDataFrame(_rows(48, 96), SCHEMA), F.col("g"), path, order_col="id"
    )
    # every group directory now holds one file per write
    group_dirs = [d for d in (tmp_path / "appended" / "data").iterdir() if d.is_dir()]
    assert len(group_dirs) == len(IDS)
    assert all(len(list(d.glob("*.parquet"))) >= 2 for d in group_dirs)
    _assert_parity(PartitionedDataset(spark, path))


def test_group_stream_parity_after_upsert_bucketed(spark, tmp_path):
    path = str(tmp_path / "upserted")
    sinks.write_partitioned(
        spark.createDataFrame(_rows(0, 96), SCHEMA),
        F.col("g"),
        path,
        order_col="id",
        layout="bucketed",
        num_buckets=4,
    )
    # replace three rows of group "a b" and insert new ids into three
    # other groups (not the NULL group: its bucket is NULL)
    changed = [
        (*_row(i, "a b")[:10], 1000 + i, True) for i in (0, 12, 24)
    ] + _rows(200, 203)
    stats = sinks.upsert_bucketed(
        spark,
        spark.createDataFrame(changed, SCHEMA),
        F.col("g"),
        path,
        id_col="id",
    )
    assert stats["buckets_rewritten"] >= 1
    pds = PartitionedDataset(spark, path)
    _assert_parity(pds)
    _assert_parity(pds, columns=["id", "ni", "flag"], prefetch=3)


@pytest.mark.parametrize(
    "ids",
    [["007", "3", "02139"], ["1.50", "3", "007"], ["007", "7", "3"]],
    ids=["ints", "doubles", "merged"],
)
def test_group_stream_numeric_directory_ids(spark, tmp_path, ids):
    # Spark would infer a numeric type for all-numeric group_id
    # directories; the layout's reads declare group_id a string, so
    # every id lists as written and "007" and "7" are two groups
    path = str(tmp_path / "numeric")
    df = spark.createDataFrame(
        [(i, ids[i % len(ids)]) for i in range(30)], "id long, g string"
    )
    sinks.write_partitioned(df, F.col("g"), path, order_col="id")
    pds = PartitionedDataset(spark, path)
    assert pds.list_groups() == sorted(ids)
    assert {r.group_id: r.num_examples for r in pds.group_index().collect()} == {
        g: 10 for g in ids
    }
    _assert_parity(pds)
    assert sum(len(pdf) for c in pds.group_stream() for _, pdf in c) == 30


def test_directory_names_match_spark_partition_by(spark, tmp_path):
    # Spark's own partitionBy is only the reference for the names: the
    # layout writer must name every directory as it does ("{" escaped,
    # "}" not; NULL and "" both the default partition), and the listing,
    # the stream and group() must agree on every id
    ids = IDS + ["", "x:y", "q?r", "{c}", "t\tu"]
    df = spark.createDataFrame(
        [(i, ids[i % len(ids)]) for i in range(3 * len(ids))], "id long, g string"
    )
    ref = tmp_path / "spark"
    keys.with_group_key(df, F.col("g")).write.partitionBy(keys.GROUP_COL).parquet(str(ref))
    path = tmp_path / "pds"
    sinks.write_partitioned(df, F.col("g"), str(path), order_col="id")
    spark_dirs = sorted(d.name for d in ref.iterdir() if d.is_dir())
    assert sorted(d.name for d in (path / sinks.DATA_DIR).iterdir() if d.is_dir()) == spark_dirs
    assert "group_id=%7Bc}" in spark_dirs
    pds = PartitionedDataset(spark, str(path))
    want = {g: 3 for g in ids if g}
    want[None] = 6  # NULL and "" share the default partition
    assert pds.list_groups() == sorted(want, key=lambda g: (g is None, g))
    streamed = {gid: len(pdf) for c in pds.group_stream() for gid, pdf in c}
    assert streamed == {g: pds.group(g).count() for g in want} == want
    _assert_parity(pds)


def _max_job_id(spark) -> int:
    return max(spark.sparkContext.statusTracker().getJobIdsForGroup(None), default=-1)


@pytest.mark.parametrize("layout", ["partitioned", "bucketed"])
@pytest.mark.parametrize("prefetch", [0, 2])
def test_group_stream_runs_no_spark_job(spark, layouts, layout, prefetch):
    pds = PartitionedDataset(spark, layouts[layout])
    before = _max_job_id(spark)
    ids = pds.list_groups()
    # the last five groups include the NULL group (sorted last)
    got = [
        (gid, len(pdf))
        for cohort in pds.group_stream(take=5, skip=len(ids) - 5, prefetch=prefetch)
        for gid, pdf in cohort
    ]
    assert _max_job_id(spark) == before
    assert [gid for gid, _ in got] == ids[-5:] and got[-1][0] is None
    assert all(n > 0 for _, n in got)
    # a full epoch reads the same files: no job either
    epoch = {gid: len(pdf) for gid, pdf in pds.iter_groups_bulk()}
    assert _max_job_id(spark) == before
    assert sorted(epoch, key=lambda g: (g is None, g)) == ids
    # the probe sees jobs: the Spark path runs one
    pds.group(ids[0]).count()
    assert _max_job_id(spark) > before


def test_group_stream_rejects_unknown_columns(spark, layouts):
    pds = PartitionedDataset(spark, layouts["bucketed"])
    with pytest.raises(ValueError, match="bucket_id"):
        next(pds.group_stream(columns=["id", "bucket_id"]))


def test_read_layout_descriptor(spark, layouts, tmp_path):
    assert sinks.read_layout(layouts["bucketed"]) == ("bucketed", 4)
    assert sinks.read_layout(layouts["partitioned"]) == ("partitioned", 0)
    # no index, or an index without the descriptor: the legacy layout
    assert sinks.read_layout(str(tmp_path / "missing")) is None
    legacy = tmp_path / "legacy"
    spark.createDataFrame([("a", 1)], "group_id string, num_examples long").write.parquet(
        str(legacy / "_group_index")
    )
    assert sinks.read_layout(str(legacy)) is None
    assert PartitionedDataset(spark, str(legacy)).layout() == ("partitioned", 0)
    # an unreadable index raises instead of reading as legacy
    broken = tmp_path / "broken" / "_group_index"
    broken.mkdir(parents=True)
    (broken / "part-0.parquet").write_bytes(b"not parquet")
    with pytest.raises(Exception):
        sinks.read_layout(str(tmp_path / "broken"))
