"""The group layouts' writer: one ``mapInArrow`` pass whose tasks
write the data files and their slice of the group index with pyarrow,
into a stage the driver commits. It writes both layouts; they differ
only in the directory column, ``bucket_id`` for the bucketed layout
and ``group_id`` for the partitioned one (``num_buckets`` 0, as in the
index's layout descriptor).

The input frame carries the directory column and is sorted by
(directory column, group_id[, order]) within each partition, with no
group in two partitions (a range or hash partitioning on the keys).
Each task streams its Arrow batches once:

- every run of one directory value becomes one Parquet file,
  ``<stage>/data/<column>=<value>/part-<partition>-<call>-<attempt>.c<n>.parquet``,
  holding every column but the directory column in the frame's order.
  ``<call>`` is a token unique to the call, so files staged by two
  calls never share a name. Directory names are Spark's
  ``partitionBy`` names (:func:`escape`). Given ``max_rows``, a file
  is rolled every ``max_rows`` rows, like Spark's
  ``maxRecordsPerFile``;
- every run of one group adds a row to the task's index slice,
  ``<stage>/_group_index/part-<partition>-<call>-<attempt>.parquet``,
  with the columns and types of the index Spark wrote before
  (``group_id`` string, ``num_examples`` long, ``layout`` string,
  ``num_buckets`` int). The runs are counted in the same pass, so the
  index needs no rescan, and the slices are disjoint when no group
  spans tasks (compaction's frame spreads a large group over tasks,
  and its caller sums the slices);
- the task returns the paths it wrote.

The driver keeps only the returned files (a failed or speculative
attempt's files are removed), then the caller commits the stage.

The files read back as Spark-written ones do: every footer stores
Spark's ``org.apache.spark.sql.parquet.row.metadata`` (the data
columns' schema, nullability included, as Spark's writer stores it)
and ``org.apache.spark.version``, so Spark's reader takes the column
types from the footer and reads dates and timestamps without calendar
rebasing; compression follows ``spark.sql.parquet.compression.codec``.
Encodings are chosen per task on its first batch so that the files
stay within a few percent of Spark's in size: a column is
dictionary-encoded only when its dictionary and indices are smaller
than its plain values (parquet-mr's test after a column's first page),
and long strings keep no min/max statistics. A column type Arrow
cannot carry raises ``TypeError`` naming the column before any job
runs.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

from dataset_grouper_spark import keys
from dataset_grouper_spark.compat import fs
from dataset_grouper_spark.sinks import DATA_DIR, GROUP_INDEX_DIR, dir_column

NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"

# the characters Spark's ExternalCatalogUtils.escapePathName writes as
# %XX in a partition directory name on a non-Windows host: the ASCII
# controls but NUL, and "#%'*/:=?\{[]^ plus DEL (not "}")
_ESCAPED = frozenset([chr(c) for c in range(1, 0x20)] + list("\"#%'*/:=?\\\x7f{[]^"))


def escape(value) -> str:
    """A directory column value as Spark's ``partitionBy`` names its
    directory: NULL and "" are ``NULL_PARTITION``, and every character
    in ``_ESCAPED`` becomes ``%`` and its two upper-case hex digits."""
    if value is None or value == "":
        return NULL_PARTITION
    value = str(value)
    if _ESCAPED.isdisjoint(value):
        return value
    return "".join(f"%{ord(c):02X}" if c in _ESCAPED else c for c in value)


def directory(num_buckets: int, value) -> str:
    """The ``data/`` directory that holds the rows whose directory
    column is ``value``."""
    return f"{dir_column(num_buckets)}={escape(value)}"

INDEX_SCHEMA = pa.schema(
    [
        pa.field(keys.GROUP_COL, pa.string()),
        pa.field("num_examples", pa.int64(), nullable=False),
        pa.field("layout", pa.string(), nullable=False),
        pa.field("num_buckets", pa.int32(), nullable=False),
    ]
)

# Spark's codec names -> pyarrow's (Spark's "lz4" and "lz4_raw" both
# read back as LZ4); pyarrow cannot write lzo
_CODECS = {
    "none": "none",
    "uncompressed": "none",
    "snappy": "snappy",
    "gzip": "gzip",
    "brotli": "brotli",
    "lz4": "lz4",
    "lz4_raw": "lz4",
    "zstd": "zstd",
}

# mean value length above which a string column keeps no statistics
# (parquet-mr's column index truncates min/max to the same 64 bytes)
_STATS_MAX_BYTES = 64

# buffered Arrow bytes per row group: parquet-mr's default block size,
# which Spark's writer keeps
_ROW_GROUP_BYTES = 128 << 20


def arrow_schema(schema: StructType) -> pa.Schema:
    """``schema`` as Arrow types, nullability kept as Spark's writer
    keeps it. Raises ``TypeError`` naming the first column whose type
    Arrow cannot carry."""
    from pyspark.sql.pandas.types import to_arrow_type

    fields = []
    for f in schema:
        try:
            fields.append(pa.field(f.name, to_arrow_type(f.dataType), f.nullable))
        except TypeError as e:
            raise TypeError(
                f"column {f.name!r} has type {f.dataType.simpleString()}, which the "
                f"bucketed layout's Arrow writer cannot write: {e}"
            ) from None
    return pa.schema(fields)


_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def _footer(schema: StructType, spark_version: str) -> dict[bytes, bytes]:
    return {
        _ROW_METADATA: json.dumps(schema.jsonValue(), separators=(",", ":")).encode(),
        b"org.apache.spark.version": spark_version.encode(),
    }


def spark_schema(schema: pa.Schema) -> StructType:
    """The Spark schema a data file stores in its footer (Spark's
    writer and this one both do), else the one its Arrow types give."""
    stored = (schema.metadata or {}).get(_ROW_METADATA)
    if stored is None:
        from pyspark.sql.pandas.types import from_arrow_schema

        return from_arrow_schema(schema)
    return StructType.fromJson(json.loads(stored))


def _codec(spark) -> str:
    name = spark.conf.get("spark.sql.parquet.compression.codec").lower()
    if name not in _CODECS:
        raise ValueError(
            f"spark.sql.parquet.compression.codec={name!r}: the bucketed layout's "
            f"Arrow writer supports {sorted(_CODECS)}"
        )
    return _CODECS[name]


def _leaf_paths(schema: pa.Schema) -> list[str]:
    """The Parquet column paths ``schema`` writes (``m.key_value.key``
    for a map's keys), which pyarrow's per-column options take."""
    import io

    import pyarrow.parquet as pq

    buf = io.BytesIO()
    pq.write_table(schema.empty_table(), buf, store_schema=False)
    return [c.path for c in pq.ParquetFile(buf).schema]


def _is_binary_like(t: pa.DataType) -> bool:
    return (
        pa.types.is_string(t)
        or pa.types.is_large_string(t)
        or pa.types.is_binary(t)
        or pa.types.is_large_binary(t)
    )


def _column_options(batch: pa.RecordBatch, leaves: list[str]) -> dict:
    """Per-column encodings for a task's files, chosen on its first
    batch. A flat column is dictionary-encoded when its dictionary plus
    indices take fewer bytes than its plain values (parquet-mr's test
    after a column's first page). A string or binary column other than
    ``group_id`` whose values average over ``_STATS_MAX_BYTES`` keeps no
    min/max statistics: pyarrow writes them into every page header as
    well as the footer, and free text gains no pruning from them."""
    import pyarrow.compute as pc

    dictionary, unbounded = [], set()
    for name, col in zip(batch.schema.names, batch.columns):
        if pa.types.is_nested(col.type) or pa.types.is_boolean(col.type):
            continue
        uniq = pc.unique(col)
        index_bytes = len(col) * max(1, len(uniq).bit_length()) / 8
        if uniq.nbytes + index_bytes < col.nbytes:
            dictionary.append(name)
        if name != keys.GROUP_COL and _is_binary_like(col.type):
            if (pc.mean(pc.binary_length(col)).as_py() or 0) > _STATS_MAX_BYTES:
                unbounded.add(name)
    return {
        "use_dictionary": dictionary,
        "write_statistics": [p for p in leaves if p.split(".")[0] not in unbounded],
    }


def _count_runs(ids: pa.Array, values: list, counts: list[int]) -> None:
    """Append the runs of equal ``ids`` (NULL equal to NULL) to
    ``values`` and ``counts``, extending the last run when it continues
    from the previous batch."""
    import pyarrow.compute as pc

    runs = pc.run_end_encode(ids)
    ends = runs.run_ends.to_pylist()
    for v, n in zip(runs.values.to_pylist(), [e - s for s, e in zip([0, *ends], ends)]):
        if counts and values[-1] == v:
            counts[-1] += n
        else:
            values.append(v)
            counts.append(n)


class _File:
    """One staged Parquet file: batches are buffered and written as row
    groups of about ``_ROW_GROUP_BYTES``."""

    def __init__(self, path: str, schema: pa.Schema, options: dict):
        self.path = path
        self.schema = schema
        self.options = options
        self.writer = None
        self.parts: list[pa.RecordBatch] = []
        self.nbytes = 0

    def add(self, batch: pa.RecordBatch) -> None:
        self.parts.append(batch)
        self.nbytes += batch.nbytes
        if self.nbytes >= _ROW_GROUP_BYTES:
            self._flush()

    def _flush(self) -> None:
        import pyarrow.parquet as pq

        if self.writer is None:
            fs.makedirs(fs.parent_dir(self.path))
            target, where = fs.pyarrow_target(self.path)
            self.writer = pq.ParquetWriter(
                where, self.schema, filesystem=target, **self.options
            )
        if self.parts:
            self.writer.write_table(pa.Table.from_batches(self.parts, self.schema))
        self.parts, self.nbytes = [], 0

    def close(self) -> str:
        self._flush()
        self.writer.close()
        return self.path


def _index_part(
    path: str, group_ids: list, counts: list[int], num_buckets: int, codec: str
) -> None:
    import pyarrow.parquet as pq

    fs.makedirs(fs.parent_dir(path))
    target, where = fs.pyarrow_target(path)
    table = pa.table(
        [
            pa.array(group_ids, pa.string()),
            pa.array(counts, pa.int64()),
            pa.array(
                ["bucketed" if num_buckets else "partitioned"] * len(counts), pa.string()
            ),
            pa.array([num_buckets] * len(counts), pa.int32()),
        ],
        schema=INDEX_SCHEMA,
    )
    pq.write_table(
        table,
        where,
        filesystem=target,
        compression=codec,
        use_dictionary=["layout", "num_buckets"],
        store_schema=False,
    )


def write_index(
    spark, path: str, group_ids: list, counts: list[int], num_buckets: int
) -> None:
    """One part of a layout's ``_group_index`` at ``path``:
    ``group_ids[i]`` holds ``counts[i]`` rows."""
    _index_part(path, group_ids, counts, num_buckets, _codec(spark))


def write_empty(spark, schema: StructType, path: str) -> None:
    """A zero-row Parquet file of ``schema`` at ``path``: the footer an
    empty dataset's readers take their schema from."""
    import pyarrow.parquet as pq

    arrow = arrow_schema(schema).with_metadata(_footer(schema, spark.version))
    fs.makedirs(fs.parent_dir(path))
    target, where = fs.pyarrow_target(path)
    pq.write_table(
        arrow.empty_table(), where, filesystem=target, compression=_codec(spark)
    )


def write(
    frame: DataFrame, stage: str, num_buckets: int, max_rows: int | None = None
) -> list[str]:
    """Write ``frame`` (see the module docstring) into ``stage`` in one
    Spark job and return the paths of the files the job's successful
    attempts wrote, after removing any other file under ``stage``.
    ``num_buckets`` 0 writes the partitioned layout; ``max_rows`` caps
    the rows of a data file."""
    import uuid

    import pyarrow.compute as pc

    names = frame.columns
    dir_col = dir_column(num_buckets)
    data_cols = [c for c in names if c != dir_col]
    data_spark = StructType([frame.schema[c] for c in data_cols])
    schema = arrow_schema(data_spark).with_metadata(
        _footer(data_spark, frame.sparkSession.version)
    )
    codec = _codec(frame.sparkSession)
    dir_pos = names.index(dir_col)
    data_pos = [names.index(c) for c in data_cols]
    gid_pos = names.index(keys.GROUP_COL)
    leaves = _leaf_paths(schema)
    call = uuid.uuid4().hex

    def task(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        prefix = f"part-{ctx.partitionId():05d}-{call}-{ctx.taskAttemptId()}"
        written: list[str] = []
        gids: list = []
        counts: list[int] = []
        options = None
        out, folder, rows = None, None, 0

        def roll() -> _File:
            if out is not None:
                written.append(out.close())
            return _File(
                fs.join(folder, f"{prefix}.c{len(written):03d}.parquet"), schema, options
            )

        try:
            for batch in batches:
                if batch.num_rows == 0:
                    continue
                data = batch.select(data_pos).cast(schema)
                if options is None:
                    options = {"compression": codec, **_column_options(data, leaves)}
                _count_runs(batch.column(gid_pos), gids, counts)
                runs = pc.run_end_encode(batch.column(dir_pos))
                start = 0
                for v, end in zip(runs.values.to_pylist(), runs.run_ends.to_pylist()):
                    if out is None or v != value:
                        value = v
                        folder = fs.join(stage, DATA_DIR, directory(num_buckets, v))
                        out, rows = roll(), 0
                    while start < end:
                        if rows == max_rows:
                            out, rows = roll(), 0
                        n = end - start if max_rows is None else min(end - start, max_rows - rows)
                        out.add(data.slice(start, n))
                        start, rows = start + n, rows + n
        finally:
            if out is not None:
                written.append(out.close())
        if not written:
            return
        index = fs.join(stage, GROUP_INDEX_DIR, f"{prefix}.parquet")
        _index_part(index, gids, counts, num_buckets, codec)
        written.append(index)
        yield pa.record_batch([pa.array(written, pa.string())], names=["path"])

    staged = [r.path for r in frame.mapInArrow(task, "path string").collect()]
    kept = set(staged)
    for rel in fs.walk_files(stage):
        if fs.join(stage, rel) not in kept:
            fs.remove(fs.join(stage, rel))
    return staged
