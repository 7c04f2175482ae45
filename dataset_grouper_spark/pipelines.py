"""One-call pipeline façades — the reference's public entry points.

The reference exposes exactly two composed pipelines
(``tfds_pipelines.py:25-78`` tfds_to_tfrecords, ``:81-141``
tfds_group_counts): read a dataset, key every example, then either pack
each group into one SequenceExample written to sharded TFRecords, or
write a delimited text file of per-group statistics. These are the
first functions a migrating user looks for, so they exist here with
signature parity; the "dataset_builder + split" source becomes a
DataFrame (Spark's reader already covers every source/split), and the
``GetKeyFn`` becomes a keyer ``Column`` from :mod:`.keys`.

Both reuse the existing operators and add no semantics.
``tfds_to_tfrecords`` is one exchange and one Python pass: key, then
hash-partition on the key at the write width; the cap window
(``operators.packing.cap_prefix``) reuses that exchange, and each
writer task encodes its rows with the encoder ``serialize_examples``
wraps, packs each group run and writes one staged shard
(``compat.tfrecord.write_shards``), which the driver commits.
``num_shards=0`` keeps only the non-empty shards; an explicit count
also sets the width of the encode and the cap window. Its records are
byte-identical to ``serialize_examples`` -> ``packing.pack_groups`` ->
``compat.tfrecord.write_grouped_tfrecords``. ``tfds_group_counts`` is
compute_group_counts -> format -> text write.
"""

from __future__ import annotations

import itertools
from collections.abc import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import IntegralType, StructType

from dataset_grouper_spark import keys
from dataset_grouper_spark.functions import textstats
from dataset_grouper_spark.operators import group_counts as gc
from dataset_grouper_spark.operators import packing


def _example_encoder(schema: StructType, check_schema: bool = True):
    """The per-example serialize step (serialization.py:23-48) as a
    function from a pandas frame with ``schema``'s columns to one
    serialized Example per row. With ``check_schema`` (the reference's
    behavior), a frame whose columns diverge from the schema raises
    KeyError instead of silently encoding; the check is on the frame's
    columns, once per batch, so a NULL or NaN cell (a missing feature)
    passes it."""
    from dataset_grouper_spark.compat.tfexample import (
        check_feature_keys,
        encode_example,
    )

    schema_keys = frozenset(schema.names)

    # per-column Spark types drive the conversion: Arrow hands int64
    # columns WITH NULLS to pandas as float64 (5 -> 5.0, NULL -> NaN),
    # and runtime-type dispatch would flip those batches to float_list
    # — the same column serialized two ways across shards. Integral
    # schema types therefore coerce back to int; NULL/NaN encodes as a
    # MISSING feature (the tf.train convention).
    integral = {
        f.name
        for f in schema.fields
        if f.dataType.typeName() in ("byte", "short", "integer", "long")
    }

    def _py(v, to_int=False):
        # ndarray/list FIRST: ndarray.item() raises on size != 1, so
        # the hasattr(v, "item") scalar branch must not see arrays
        if isinstance(v, bytearray):
            return bytes(v)
        if isinstance(v, (list, tuple)) or hasattr(v, "tolist"):
            seq = v.tolist() if hasattr(v, "tolist") else v
            return [_py(x, to_int) for x in seq]
        if v is None:
            return None
        try:
            if v != v:  # NaN (a nulled-out integral or float cell)
                return None
        except (TypeError, ValueError):  # ambiguous truth, e.g. pd.NA
            pass
        if hasattr(v, "item"):  # numpy scalar
            v = v.item()
        if to_int and isinstance(v, float):
            return int(v)
        return v

    def encode(pdf) -> list[bytes]:
        if check_schema:
            check_feature_keys(pdf.columns, schema_keys)
        return [
            encode_example(
                {
                    k: p
                    for k, v in row.items()
                    if (p := _py(v, to_int=k in integral)) is not None
                }
            )
            for row in pdf.to_dict("records")
        ]

    return encode


def serialize_examples(df: DataFrame, check_schema: bool = True) -> DataFrame:
    """Append ``_ex`` = serialized Example bytes for every row (the
    per-example serialize step, serialization.py:23-48) via an
    Arrow-batched pandas UDF over :func:`_example_encoder`, the encoder
    :func:`tfds_to_tfrecords` runs inside its writer tasks."""
    import pandas as pd

    encode = _example_encoder(df.schema, check_schema)

    def _enc(pdf):
        return pd.Series(encode(pdf), dtype=object)

    enc = pandas_udf(_enc, "binary")
    return df.withColumn("_ex", enc(F.struct(*df.columns)))


_NULL_ORD = object()  # order-value stand-ins that compare equal only
_NAN_ORD = object()  # to themselves, as NULL and NaN tie in Spark


def _tie_key(is_null: bool, v):
    """An order value as a key that is equal exactly when Spark's sort
    ties the two values (NULL with NULL, NaN with NaN)."""
    if is_null:
        return _NULL_ORD
    if hasattr(v, "tolist"):  # numpy scalar or array
        v = v.tolist()
    return _NAN_ORD if isinstance(v, float) and v != v else v


def _group_runs(rows) -> Iterator[bytes]:
    """One SequenceExample per run of equal group ids in ``rows`` =
    (group_id, tie key, payload) in (group_id, order) order: payloads
    in order, ties broken by their bytes — the order ``array_sort``
    gives ``(order, payload)`` structs in :func:`packing.pack_groups`.
    """
    from dataset_grouper_spark.compat.tfexample import create_sequence_example

    for _, run in itertools.groupby(rows, key=lambda r: r[0]):
        payloads = []
        for _, ties in itertools.groupby(run, key=lambda r: r[1]):
            payloads.extend(sorted(r[2] for r in ties))
        yield create_sequence_example(payloads)


def tfds_to_tfrecords(
    df: DataFrame,
    file_path_prefix: str,
    key: Column,
    order_col: str | Column | None = None,
    file_name_suffix: str = "",
    num_shards: int = 0,
    limit: int = packing.BYTES_LIMIT,
) -> list[str]:
    """Partition a DataFrame into per-group SequenceExamples on sharded
    TFRecords — signature parity with tfds_to_tfrecords
    (tfds_pipelines.py:25-78): ``num_shards=0`` auto-shards, shards are
    named ``prefix-SSSSS-of-NNNNN[suffix]``, each record is one group's
    packed examples.

    Differences forced by the engine swap: the source is a DataFrame
    (not a tfds builder+split), the keyer is a Column (not GetKeyFn),
    and packing order is the deterministic ``order_col`` (default:
    first column) instead of Beam's arrival order — same cap rule,
    reproducible output (SURVEY §7).

    One exchange, one Python pass. Rows are hash-partitioned on the
    group key at the write width; :func:`packing.cap_prefix` reuses
    that exchange, and its window sort hands each task its groups as
    contiguous runs in ``order_col`` order. Each writer task then
    encodes the rows (the encoder :func:`serialize_examples` uses),
    cuts the runs, breaks ``order_col`` ties by the example bytes and
    writes one shard file; the records are byte-identical to
    ``serialize_examples`` -> ``pack_groups`` ->
    ``write_grouped_tfrecords``. Shards are staged and then committed
    (``compat.tfrecord.write_shards``): a failed call leaves no shard.

    Shard count: an explicit ``num_shards`` writes exactly that many
    files (a partition with no group gets an empty shard). ``0`` writes
    at ``defaultParallelism`` and keeps only the non-empty files, so
    there are at most ``min(groups, defaultParallelism)`` shards and
    none is empty; empty input writes one empty ``-00000-of-00001``
    shard. Trade-off: an explicit ``num_shards`` below the cluster's
    parallelism also runs the encode and the cap window at that width,
    as Beam's fixed sharding writes at that width.

    Returns the list of shard paths written.
    """
    from dataset_grouper_spark.compat import tfrecord

    cols = df.columns
    if order_col is None:
        order_col = cols[0]
    ordc = F.col(order_col) if isinstance(order_col, str) else order_col
    width = num_shards or df.sparkSession.sparkContext.defaultParallelism
    # the data columns travel under positional names, so no input
    # column can clash with the key, the order value or cap_prefix's
    # helpers; the writer restores the names before encoding
    data = [f"_c{i}" for i in range(len(cols))]
    keyed = df.select(
        key.cast("string").alias(keys.GROUP_COL),
        ordc.alias("_ord"),
        *[df[i].alias(c) for i, c in enumerate(data)],
    )
    capped = packing.cap_prefix(
        keyed.repartition(width, keys.GROUP_COL),
        "_ord",
        textstats.row_bytes_expr(keyed, data),
        limit,
    )
    # pandas turns an integral column with NULLs into float64, which
    # could tie two distinct longs; their decimal strings cannot
    tie = F.col("_ord")
    if isinstance(capped.schema["_ord"].dataType, IntegralType):
        tie = tie.cast("string")
    rows = capped.select(
        keys.GROUP_COL, F.isnull("_ord").alias("_null"), tie.alias("_ord"), *data
    )
    encode = _example_encoder(df.schema)

    def records(pdf_iter):
        def rows_of(pdf_iter):
            for pdf in pdf_iter:
                payloads = encode(pdf[data].set_axis(cols, axis=1))
                for gid, null, o, p in zip(
                    pdf[keys.GROUP_COL], pdf["_null"], pdf["_ord"], payloads
                ):
                    yield gid, _tie_key(null, o), p

        return _group_runs(rows_of(pdf_iter))

    return tfrecord.write_shards(
        rows, records, file_path_prefix, num_shards, file_name_suffix
    )


def tfds_group_counts(
    df: DataFrame,
    file_path_prefix: str,
    key: Column,
    file_name_suffix: str = "",
    num_shards: int | None = None,
    delimiter: str = ",",
) -> str:
    """Write per-group ``group_id<d>num_examples<d>num_bytes<d>num_words``
    text lines with a header — signature parity with tfds_group_counts
    (tfds_pipelines.py:81-141, header at :126). ``num_shards=None``
    lets the engine auto-shard (Beam's unset behavior; here AQE
    coalescing decides). Returns the output directory."""
    counts = gc.compute_group_counts(df, key)
    gc.write_group_counts_csv(
        counts, file_path_prefix, delimiter=delimiter, num_shards=num_shards
    )
    return file_path_prefix


__all__ = ["tfds_to_tfrecords", "tfds_group_counts", "serialize_examples"]
