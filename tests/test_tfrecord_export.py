"""``pipelines.tfds_to_tfrecords`` (one exchange, one Python pass)
against the composed operators it replaced: ``serialize_examples`` ->
``pack_groups`` -> ``write_grouped_tfrecords``. The record multisets
must be byte-identical; shard counts, the staged commit and the
call's Spark cost are pinned here too."""

import collections
import gzip
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from dataset_grouper_spark import keys, pipelines
from dataset_grouper_spark.cache import release_intermediates
from dataset_grouper_spark.compat import tfrecord
from dataset_grouper_spark.operators import packing


def _records(paths):
    return collections.Counter(r for p in paths for r in tfrecord.read_records(p))


def _composed(df, prefix, key, order_col, limit=packing.BYTES_LIMIT, suffix=""):
    ser = pipelines.serialize_examples(df)
    packed = packing.pack_groups(
        ser, key, order_col, limit=limit, payload_col="_ex", size_cols=df.columns
    )
    return tfrecord.write_grouped_tfrecords(
        packed, keys.GROUP_COL, "packed", prefix, num_shards=3, file_name_suffix=suffix
    )


def _assert_parity(df, tmp_path, key, order_col, limit=packing.BYTES_LIMIT, suffix=""):
    want = _records(
        _composed(df, str(tmp_path / "ref" / "s"), key, order_col, limit, suffix)
    )
    paths = pipelines.tfds_to_tfrecords(
        df, str(tmp_path / "new" / "s"), key, order_col=order_col,
        file_name_suffix=suffix, limit=limit,
    )
    assert _records(paths) == want
    return want, paths


@pytest.fixture(scope="module")
def zipf_df(spark):
    # NULL data cells in a string, an int and a double column, and NaN
    # in the double one: each is a missing feature of its example
    rng = np.random.default_rng(7)
    clients = rng.zipf(1.3, 600) % 40
    rows = [
        (
            i,
            f"c{c:02d}",
            None if i % 17 == 0 else " ".join(f"w{t}" for t in rng.integers(0, 50, 3 + i % 9)),
            None if i % 19 == 0 else i % 4,
            None if i % 11 == 0 else float("nan") if i % 13 == 0 else i / 8,
        )
        for i, c in enumerate(clients.tolist())
    ]
    return spark.createDataFrame(
        rows, "id long, client string, text string, n int, score double"
    )


def test_zipf_keys_match_composed_operators(spark, zipf_df, tmp_path):
    want, _ = _assert_parity(zipf_df, tmp_path, F.col("client"), "id")
    assert sum(want.values()) == zipf_df.select("client").distinct().count()


def test_null_and_nan_cells_encode_as_missing_features(spark, zipf_df):
    from dataset_grouper_spark.compat.tfexample import decode_example

    def encoded(check_schema):
        ser = pipelines.serialize_examples(zipf_df, check_schema=check_schema)
        return {r.id: r._ex for r in ser.select("id", "_ex").collect()}

    checked = encoded(True)
    assert checked == encoded(False)
    # id 0: NULL text, int and double; 13: NaN double; 1: no NULL
    assert set(decode_example(checked[0])) == {"id", "client"}
    assert set(decode_example(checked[13])) == {"id", "client", "text", "n"}
    assert set(decode_example(checked[1])) == {"id", "client", "text", "n", "score"}


def test_limit_that_drops_rows_matches(spark, zipf_df, tmp_path):
    want, paths = _assert_parity(zipf_df, tmp_path, F.col("client"), "id", limit=300)
    kept = sum(len(g) for g in tfrecord.read_grouped_tfrecords(paths))
    assert 0 < kept < zipf_df.count()


def test_order_ties_null_and_nan_match(spark, tmp_path):
    # NULL, NaN, ties and a signed zero in every group; ties (and NULL
    # with NaN) are broken by the example bytes, which lead with ``a``,
    # so byte order is the reverse of id (arrival) order
    rows = [(i, f"{999 - i}", f"t{(i * 7) % 5}", i % 3) for i in range(60)]
    df = spark.createDataFrame(rows, "id long, a string, text string, g int")
    order = F.expr(
        "CASE WHEN id % 6 = 0 THEN NULL WHEN id % 6 = 1 THEN double('NaN') "
        "WHEN id % 6 = 2 THEN -0.0 WHEN id % 6 = 3 THEN 0.0 "
        "ELSE CAST(id % 2 AS DOUBLE) END"
    )
    _assert_parity(df, tmp_path / "double", F.col("g"), order)
    # a group whose order values are only NULL and NaN
    only = F.expr("CASE WHEN id % 2 = 0 THEN NULL ELSE double('NaN') END")
    _assert_parity(df, tmp_path / "only", F.col("g"), only)
    # a long order value with NULLs (pandas would see it as float64)
    big = F.expr("CASE WHEN id % 5 = 0 THEN NULL ELSE 9007199254740992 + id % 2 END")
    _assert_parity(df, tmp_path / "long", F.col("g"), big)


def test_null_group_key_matches(spark, zipf_df, tmp_path):
    key = F.when(F.col("id") % 5 == 0, F.lit(None)).otherwise(F.col("client"))
    want, _ = _assert_parity(zipf_df, tmp_path, key, "id")
    assert sum(want.values()) == zipf_df.select(key).distinct().count()


def test_gzip_suffix_matches(spark, zipf_df, tmp_path):
    _, paths = _assert_parity(zipf_df, tmp_path, F.col("client"), "id", suffix=".gz")
    for p in paths:
        assert p.endswith(".gz")
        with gzip.open(p) as f:
            f.read()


def test_column_order_col_matches(spark, zipf_df, tmp_path):
    # length(text) ties within a group: the bytes break them
    _assert_parity(zipf_df, tmp_path, F.col("client"), F.length("text"))


def test_input_column_named_like_a_helper_is_encoded(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, f"x{i % 3}", 12 - i) for i in range(12)], "_ord long, group_id string, _c0 long"
    )
    _assert_parity(df, tmp_path, F.col("_ord") % 2, "_c0")


def test_explicit_shards_above_group_count(spark, tmp_path):
    df = spark.createDataFrame([(i, i % 3) for i in range(9)], "id long, g long")
    paths = pipelines.tfds_to_tfrecords(
        df, str(tmp_path / "s"), F.col("g"), num_shards=7
    )
    assert [os.path.basename(p) for p in paths] == [
        f"s-{i:05d}-of-00007" for i in range(7)
    ]
    assert sorted(os.listdir(tmp_path)) == [os.path.basename(p) for p in paths]
    assert sum(_records(paths).values()) == 3


def test_auto_shards_never_empty(spark, zipf_df, tmp_path):
    paths = pipelines.tfds_to_tfrecords(zipf_df, str(tmp_path / "s"), F.col("client"))
    n = len(paths)
    assert 1 <= n <= spark.sparkContext.defaultParallelism
    assert [os.path.basename(p) for p in paths] == [
        f"s-{i:05d}-of-{n:05d}" for i in range(n)
    ]
    assert all(sum(1 for _ in tfrecord.read_records(p)) > 0 for p in paths)
    # fewer groups than slots: at most one shard per group
    few = zipf_df.filter(F.col("client").isin("c01", "c02"))
    assert len(pipelines.tfds_to_tfrecords(few, str(tmp_path / "f"), F.col("client"))) <= 2


def test_empty_input_writes_one_empty_shard(spark, tmp_path):
    df = spark.createDataFrame([], "id long, g string")
    for suffix in ("", ".gz"):
        paths = pipelines.tfds_to_tfrecords(
            df, str(tmp_path / "e"), F.col("g"), file_name_suffix=suffix
        )
        assert [os.path.basename(p) for p in paths] == [f"e-00000-of-00001{suffix}"]
        assert list(tfrecord.read_records(paths[0])) == []


def test_one_call_runs_two_jobs_and_persists_nothing(spark, zipf_df, tmp_path):
    release_intermediates()
    st = spark.sparkContext.statusTracker()
    before = set(st.getJobIdsForGroup(None))
    pipelines.tfds_to_tfrecords(zipf_df, str(tmp_path / "s"), F.col("client"), order_col="id")
    assert len(set(st.getJobIdsForGroup(None)) - before) <= 2
    assert release_intermediates() == 0


def test_failed_task_leaves_no_shard_or_staging_dir(spark, tmp_path):
    # one row carries a nested array the encoder rejects: only its
    # task raises, the others stage their files first
    df = spark.range(40).select(
        F.col("id"),
        (F.col("id") % 8).alias("g"),
        F.when(F.col("id") == 0, F.array(F.array(F.lit(1))))
        .otherwise(F.array().cast("array<array<long>>"))
        .alias("bad"),
    )
    out = tmp_path / "export"
    with pytest.raises(Exception, match="unsupported feature element"):
        pipelines.tfds_to_tfrecords(df, str(out / "shard"), F.col("g"), num_shards=4)
    assert os.listdir(out) == []
    # the composed writer: one group's payload array holds a NULL
    packed = spark.range(8).select(
        F.col("id").cast("string").alias("group_id"),
        F.when(F.col("id") == 0, F.array(F.lit(None).cast("binary")))
        .otherwise(F.array(F.lit(b"x")))
        .alias("packed"),
    )
    out = tmp_path / "grouped"
    with pytest.raises(Exception, match="NoneType"):
        tfrecord.write_grouped_tfrecords(
            packed, "group_id", "packed", str(out / "shard"), num_shards=4
        )
    assert os.listdir(out) == []
