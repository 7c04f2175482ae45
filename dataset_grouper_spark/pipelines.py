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

Both compose the existing operators — nothing here adds semantics:
encode (compat.tfexample) -> pack (operators.packing) -> shard write
(compat.tfrecord), and compute_group_counts -> format -> text write.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from dataset_grouper_spark import keys
from dataset_grouper_spark.operators import group_counts as gc
from dataset_grouper_spark.operators import packing


def _auto_shards(packed: DataFrame) -> int:
    """Beam's ``num_shards=0`` auto-sharding analogue: one shard per
    default-parallelism slot, capped by the number of groups (never
    emit a guaranteed-empty shard)."""
    sc = packed.sparkSession.sparkContext
    # caller must pass a PERSISTED frame: the count is a full execution
    # of the pack pipeline, and the subsequent write would re-run it
    n_groups = packed.count()
    return max(1, min(n_groups, sc.defaultParallelism))


def serialize_examples(df: DataFrame, check_schema: bool = True) -> DataFrame:
    """Append ``_ex`` = serialized Example bytes for every row (the
    per-example serialize step, serialization.py:23-48) via an
    Arrow-batched pandas UDF. With ``check_schema`` (the reference's
    behavior), an example whose keys diverge from the DataFrame schema
    raises KeyError instead of silently encoding."""
    import pandas as pd

    from dataset_grouper_spark.compat.tfexample import (
        encode_example,
        encode_example_checked,
    )

    cols = list(df.columns)
    schema_keys = frozenset(cols)

    # per-column Spark types drive the conversion: Arrow hands int64
    # columns WITH NULLS to pandas as float64 (5 -> 5.0, NULL -> NaN),
    # and runtime-type dispatch would flip those batches to float_list
    # — the same column serialized two ways across shards. Integral
    # schema types therefore coerce back to int; NULL/NaN encodes as a
    # MISSING feature (the tf.train convention).
    integral = {
        f.name
        for f in df.schema.fields
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

    def _enc(pdf):
        out = []
        for row in pdf.to_dict("records"):
            feats = {
                k: p
                for k, v in row.items()
                if (p := _py(v, to_int=k in integral)) is not None
            }
            if check_schema:
                out.append(encode_example_checked(feats, schema_keys))
            else:
                out.append(encode_example(feats))
        return pd.Series(out, dtype=object)

    enc = pandas_udf(_enc, "binary")
    return df.withColumn("_ex", enc(F.struct(*cols)))


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

    Returns the list of shard paths written.
    """
    from dataset_grouper_spark.compat import tfrecord

    if order_col is None:
        order_col = df.columns[0]
    ser = serialize_examples(df)
    packed = packing.pack_groups(
        ser, key, order_col, limit=limit, payload_col="_ex",
        size_cols=list(df.columns),
    )
    if num_shards:
        shards = num_shards
    else:
        # auto-sharding counts groups = a full execution of the pack
        # pipeline; persist so the write doesn't re-run it all
        from dataset_grouper_spark.cache import persist_tracked

        packed = persist_tracked(packed)
        shards = _auto_shards(packed)
    return tfrecord.write_grouped_tfrecords(
        packed,
        keys.GROUP_COL,
        "packed",
        file_path_prefix,
        num_shards=shards,
        file_name_suffix=file_name_suffix,
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
