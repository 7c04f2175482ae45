"""Group-stream loading — the reference's ``PartitionedDataset``.

Reference (data_loaders.py:31-125): glob TFRecord shards, optionally
shuffle file order with a seed, parallel-read, parse SequenceExamples,
yield a dataset-of-datasets (one inner dataset per group).

Spark design: the dataset is a Parquet layout written by
``sinks.write_partitioned`` with a ``_group_index`` sidecar. Group
listing comes from the index (no data scan); group order is shuffled by
a seeded, content-deterministic scramble (the reference's
``shuffle_files``/``shuffle_seed`` knobs, data_loaders.py:90-100).
The group stream's per-group reads are driver-side pyarrow reads of
the layout's Parquet files, pruned by hive partition (the group's
directory, or the bucket recomputed from its id) and then by row-group
statistics on the group-major sorted ``group_id`` — no Spark job per
group, where the reference scans every shard (SURVEY §4). The full
epoch reads the same files in order. The data path must therefore be
readable from the driver. ``group()``, ``dataframe()`` and
``for_each_group()`` stay Spark paths.

Three consumption modes:
- ``group_stream()``: driver-side iterator of (group_id, pandas
  DataFrame) for sequential training loops (== build_group_stream).
- ``iter_groups_bulk()``: a full epoch, every group once, in one
  driver-side pass over the same files. It relies on the layouts'
  group-major contract (a bucketed file holds each group as one
  contiguous run, a partitioned directory holds one group), so it
  needs no shuffle and runs no Spark job; its frames equal
  ``group_stream``'s.
- ``for_each_group()``: in-cluster per-group compute via
  ``applyInPandas`` when the consumer is itself distributed.
"""

from __future__ import annotations

import hashlib
import itertools
from collections.abc import Callable, Iterator
from typing import TYPE_CHECKING

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataset_grouper_spark import keys
from dataset_grouper_spark.compat import fs as _cfs
from dataset_grouper_spark.sinks import (
    BUCKET_COL,
    DATA_DIR,
    GROUP_INDEX_DIR,
    bucket_of,
    data_files,
    read_data,
    read_layout,
)

if TYPE_CHECKING:
    import pyarrow as pa
    import pyarrow.dataset as pads

# sentinel distinct from None: a NULL-key group's id IS None
_NO_MORE = object()
# rows per read batch of a full-epoch file scan
_EPOCH_BATCH_ROWS = 65536


def _shuffle_rank(group_id: str, seed: int) -> str:
    """Deterministic seeded shuffle key for group ordering."""
    return hashlib.md5(f"{seed}:{group_id}".encode()).hexdigest()


def _arrow_to_pandas(
    spark: SparkSession, schema: pa.Schema, columns: list[str]
) -> Callable[[pa.Table], pd.DataFrame]:
    """pyarrow Table of ``columns`` -> the frame ``DataFrame.toPandas``
    builds for the same rows (pyspark/sql/pandas/conversion.py).

    The column types are the Spark types the files were written with
    (the schema Spark stores in every Parquet footer), read as nullable
    the way Spark reads files. The table is cast to the Arrow schema a
    Spark collect sends (INT96 timestamps become UTC instants), then
    converted with toPandas's ``to_pandas`` options and Spark's own
    per-column converters under the session time zone."""
    from pyspark.sql.pandas.types import _create_converter_to_pandas, to_arrow_schema
    from pyspark.sql.types import StructField, StructType

    from dataset_grouper_spark.sinks import bucket_writer

    types = {f.name: f.dataType for f in bucket_writer.spark_schema(schema)}
    fields = StructType([StructField(c, types[c], True) for c in columns])
    target = to_arrow_schema(fields)

    timezone = spark.conf.get("spark.sql.session.timeZone")
    struct_mode = spark.conf.get(
        "spark.sql.execution.pandas.structHandlingMode", "legacy"
    )
    converters = [
        _create_converter_to_pandas(
            f.dataType,
            f.nullable,
            timezone=timezone,
            struct_in_pandas="dict" if struct_mode == "legacy" else struct_mode,
            error_on_duplicated_field_names=struct_mode == "legacy",
        )
        for f in fields
    ]

    def convert(table: pa.Table) -> pd.DataFrame:
        if not columns:
            return pd.DataFrame(index=pd.RangeIndex(table.num_rows), columns=[])
        if table.num_rows == 0:
            series = [ser for _, ser in pd.DataFrame(columns=columns).items()]
        else:
            # column by column into one frame: cheaper than toPandas's
            # frame -> series -> pd.concat round trip, which a full
            # epoch would pay once per group
            series = [
                col.to_pandas(date_as_object=True, coerce_temporal_nanoseconds=True)
                for col in table.cast(target).columns
            ]
        # positional keys: a projection may repeat a column
        pdf = pd.DataFrame(
            {i: conv(ser) for i, (conv, ser) in enumerate(zip(converters, series))},
            copy=False,
        )
        pdf.columns = columns
        return pdf

    return convert


class PartitionedDataset:
    """Handle to a written partitioned dataset (data_loaders.py:31-68)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self.data_path = f"{path}/{DATA_DIR}"
        self._meta: tuple[str, int] | None = None
        self._df: DataFrame | None = None
        self._idx: DataFrame | None = None
        self._files: pads.Dataset | None = None

    def layout(self) -> tuple[str, int]:
        """(layout, num_buckets) from the group-index sidecar; a
        dataset without the descriptor is the legacy partitioned
        layout."""
        if self._meta is None:
            self._meta = read_layout(self.path) or ("partitioned", 0)
        return self._meta

    def dataframe(self) -> DataFrame:
        """The whole dataset as one relation (reader reused — repeated
        per-group reads must not re-list the dataset every call).

        The directory column is declared, not inferred
        (:func:`sinks.read_data`), so a numeric-looking group id reads
        back as written."""
        if self._df is None:
            self._df = read_data(
                self.spark, self.path, self.layout()[1], self._data_files()
            )
        return self._df

    def group_index(self) -> DataFrame:
        """(group_id, num_examples) from the sidecar index — no scan."""
        if self._idx is None:
            self._idx = self.spark.read.parquet(
                f"{self.path}/{GROUP_INDEX_DIR}"
            ).withColumn(keys.GROUP_COL, F.col(keys.GROUP_COL).cast("string"))
        return self._idx.select(keys.GROUP_COL, "num_examples")

    def list_groups(
        self, shuffle: bool = False, seed: int = 0
    ) -> list[str]:
        """Group ids, optionally in seeded-shuffled order (the
        shuffle_files/shuffle_seed contract, data_loaders.py:90-100).
        Read from the index with pyarrow: no Spark job."""
        import pyarrow as pa
        import pyarrow.dataset as pads

        fs, root = _cfs.pyarrow_target(f"{self.path}/{GROUP_INDEX_DIR}")
        index = pads.dataset(root, format="parquet", filesystem=fs)
        col = index.to_table(columns=[keys.GROUP_COL]).column(0)
        ids = col.cast(pa.string()).to_pylist()
        # a NULL group key (keyer over a NULL feature) is a real group:
        # sort it last instead of crashing the str comparison
        if shuffle:
            ids.sort(key=lambda g: _shuffle_rank(g, seed))
        else:
            ids.sort(key=lambda g: (g is None, g))
        return ids

    def group(self, group_id: str) -> DataFrame:
        """One group's rows — a pruned scan.

        Directory layout: `group_id = X` is a partition filter (reads
        exactly one directory). Bucketed layout: the bucket is
        recomputed from the group id, pruning to one bucket directory,
        then parquet row-group stats on the sorted group_id skip to the
        group's contiguous run. Either way the scan volume is bounded
        by the group, not the dataset."""
        df = self.dataframe()
        layout, num_buckets = self.layout()
        if group_id is None:
            # NULL-key group: equality would match nothing; bucket
            # pruning is unavailable (crc32 of NULL is NULL) so filter
            # by IS NULL across buckets
            if BUCKET_COL in df.columns:
                df = df.drop(BUCKET_COL)
            return df.filter(F.col(keys.GROUP_COL).isNull())
        if layout == "bucketed" and num_buckets > 0:
            df = df.filter(
                F.col(BUCKET_COL) == bucket_of(group_id, num_buckets)
            ).drop(BUCKET_COL)
        return df.filter(F.col(keys.GROUP_COL) == group_id)

    def _data_files(self) -> pads.Dataset:
        """The data files as one pyarrow dataset (:func:`sinks.data_files`),
        discovered once per object, like ``dataframe()``."""
        if self._files is None:
            self._files = data_files(self.path, self.layout()[1])
        return self._files

    def _group_filter(self, group_id: str | None) -> pads.Expression:
        """``group()``'s predicate over ``_data_files()``: the bucket
        (or group directory) prunes files, and row-group statistics on
        the sorted ``group_id`` prune within a bucket file."""
        import pyarrow.dataset as pads

        gid = pads.field(keys.GROUP_COL)
        if group_id is None:
            return gid.is_null()
        num_buckets = self.layout()[1]
        if num_buckets:
            bucket = bucket_of(group_id, num_buckets)
            return (pads.field(BUCKET_COL) == bucket) & (gid == group_id)
        return gid == group_id

    def _frame_reader(
        self, columns: list[str] | None, order_col: str | None = None
    ) -> tuple[list[str], Callable[[pa.Table], pd.DataFrame]]:
        """(columns to read, table of them -> group frame) for frames of
        ``columns``, all data columns when None. A frame equals
        ``group(gid)`` without the ``group_id``/``bucket_id`` columns,
        projected to ``columns``, then ``toPandas()``; ``order_col`` is
        read but not kept unless projected."""
        schema = self._data_files().schema
        frame_cols = [
            c for c in schema.names if c not in (keys.GROUP_COL, BUCKET_COL)
        ]
        if columns is None:
            columns = frame_cols
        unknown = [
            c for c in [*columns, order_col] if c is not None and c not in frame_cols
        ]
        if unknown:
            raise ValueError(
                f"columns {unknown} are not in the group frames of "
                f"{self.path} (columns: {frame_cols})"
            )
        convert = _arrow_to_pandas(self.spark, schema, columns)
        read_cols = list(dict.fromkeys([*columns, order_col] if order_col else columns))
        return read_cols, lambda table: convert(table.select(columns))

    def group_stream(
        self,
        shuffle: bool = False,
        seed: int = 0,
        skip: int = 0,
        take: int | None = None,
        batch_groups: int = 1,
        columns: list[str] | None = None,
        prefetch: int = 0,
    ) -> Iterator[list[tuple[str, pd.DataFrame]]]:
        """Stream of cohorts of (group_id, pandas DataFrame).

        == build_group_stream (data_loaders.py:70-125) plus the cohort
        batching (train_tff.py:124-126 window) and resume-by-skip
        (train_jax.py:172) the training examples layer on top.
        ``batch_groups=1`` yields singleton cohorts (plain stream).
        ``columns`` projects the per-group frames — the projection
        reaches the Parquet read, so consumers that only need metadata
        never pay for the wide columns.

        Each fetch is a driver-side pyarrow read of the layout's
        Parquet files, filtered by ``group()``'s predicate, so the
        data path must be readable from the driver. The stream runs no
        Spark job; each frame equals ``group(gid)`` without the
        ``group_id``/``bucket_id`` columns, projected to ``columns``,
        then ``toPandas()``.

        ``prefetch`` overlaps the next N groups' pruned reads with the
        consumer's work (the reference's ``num_parallel_reads``
        interleave, data_loaders.py:86-121, re-expressed as pyarrow
        reads on a thread pool). Yield ORDER IS UNCHANGED — futures
        resolve in submission order — so shuffle/seed/skip determinism
        and the value oracle hold for every prefetch setting. A
        training loop spending t_c per group on model work hides
        min(t_read, t_c) per group.
        """
        ids = self.list_groups(shuffle=shuffle, seed=seed)
        ids = ids[skip:]
        if take is not None:
            ids = ids[:take]
        if not ids:
            return
        files = self._data_files()
        read_cols, to_frame = self._frame_reader(columns)

        def fetch(gid: str | None) -> tuple[str | None, pd.DataFrame]:
            table = files.to_table(
                columns=read_cols, filter=self._group_filter(gid)
            )
            return gid, to_frame(table)

        cohort: list[tuple[str, pd.DataFrame]] = []
        if prefetch > 0:
            from collections import deque
            from concurrent.futures import ThreadPoolExecutor

            it = iter(ids)
            with ThreadPoolExecutor(max_workers=prefetch) as ex:
                pending = deque(
                    ex.submit(fetch, gid)
                    for gid in itertools.islice(it, prefetch)
                )
                while pending:
                    got = pending.popleft().result()
                    nxt = next(it, _NO_MORE)
                    if nxt is not _NO_MORE:
                        pending.append(ex.submit(fetch, nxt))
                    cohort.append(got)
                    if len(cohort) == batch_groups:
                        yield cohort
                        cohort = []
        else:
            for gid in ids:
                cohort.append(fetch(gid))
                if len(cohort) == batch_groups:
                    yield cohort
                    cohort = []
        if cohort:
            yield cohort

    def iter_groups_bulk(
        self,
        order_col: str | None = None,
        columns: list[str] | None = None,
    ) -> Iterator[tuple[str | None, pd.DataFrame]]:
        """Stream EVERY group once: a full epoch, group by group.

        ``group_stream`` reads one pruned group per fetch — right for
        sampling a few groups. This is the reference's sequential group
        stream (data_loaders.py:123-125) at one-pass cost: a driver-side
        pyarrow read of the layout's Parquet files, file by file, so the
        data path must be readable from the driver and no Spark job
        runs. It relies on the layout's group-major contract: a bucketed
        file holds each of its groups as one contiguous run and no group
        spans two files; a partitioned directory holds one group. The
        files are read in path order, so a directory's files are
        adjacent. A group id that shows up again
        after its run ended raises ``ValueError`` naming the file (a
        bucketed dataset written by the unsorted write of older
        versions); no group is yielded twice.

        Runs are cut on the dictionary codes of ``group_id`` in batches
        of ``_EPOCH_BATCH_ROWS`` rows, and a group is converted when its
        run ends, so memory is bounded by the largest group. Rows keep
        file order, or are sorted by ``order_col`` when given. Frames
        equal ``group_stream``'s for the same id and ``columns``.
        """
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        read_cols, to_frame = self._frame_reader(columns, order_col)
        files = self._data_files()
        frags = sorted(files.get_fragments(), key=lambda f: f.path)

        def runs() -> Iterator[tuple[str | None, pa.RecordBatch, str]]:
            for frag in frags:
                for batch in frag.to_batches(
                    schema=files.schema,
                    columns=[keys.GROUP_COL, *read_cols],
                    batch_size=_EPOCH_BATCH_ROWS,
                    use_threads=False,
                ):
                    ids = batch.column(0)
                    codes = pc.dictionary_encode(ids, null_encoding="encode")
                    starts = np.flatnonzero(
                        np.diff(codes.indices.to_numpy(), prepend=-1)
                    ).tolist()
                    for s, e in zip(starts, [*starts[1:], batch.num_rows]):
                        yield ids[s].as_py(), batch.slice(s, e - s), frag.path

        def frame(parts: list[pa.RecordBatch]) -> pd.DataFrame:
            table = pa.Table.from_batches(parts)
            if order_col is not None:
                order = pc.sort_indices(
                    table, [(order_col, "ascending")], null_placement="at_start"
                )
                table = table.take(order)
            return to_frame(table)

        done: set[str | None] = set()
        gid, parts = _NO_MORE, []
        for run_gid, rows, path in runs():
            if run_gid == gid:
                parts.append(rows)
                continue
            if run_gid in done:
                raise ValueError(
                    f"group {run_gid!r} appears again in {path} after its "
                    f"rows ended: the data files of {self.path} are not "
                    "group-major"
                )
            if parts:
                done.add(gid)
                yield gid, frame(parts)
            gid, parts = run_gid, [rows]
        if parts:
            yield gid, frame(parts)

    def for_each_group(
        self, fn: Callable[[pd.DataFrame], pd.DataFrame], schema: str
    ) -> DataFrame:
        """Distributed per-group compute: groupBy(group_id).applyInPandas.
        The in-cluster analogue of iterating the group stream."""
        df = self.dataframe()
        if BUCKET_COL in df.columns:
            df = df.drop(BUCKET_COL)
        return df.groupBy(keys.GROUP_COL).applyInPandas(
            lambda pdf: fn(pdf), schema=schema
        )
