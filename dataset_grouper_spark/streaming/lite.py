"""Shared core of the three lakehouse Python data sources (SPARK-44076
API): ``delta_lite``, ``iceberg_lite`` and ``hudi_lite``.

Each format module is an ADAPTER. It answers four questions — "latest
offset", "files in (lo, hi]", "live files + skip envelope" and "claim
commit" — and keeps its own safety gates. Everything else lives here,
once, and never branches on which format called it:

- :class:`FilePartition` + :func:`project`: the executor-side decode
- :class:`BatchReader` / :class:`PushdownReader` / :class:`StreamReader`
- :func:`check_retained`: the contiguous-offset retention check
- :func:`stage` + :class:`ArrowWriter` / :class:`StreamArrowWriter`
- :class:`LiteDataSource`: ``path`` / ``partitionBy`` option parsing

Scale shape: ``latestOffset`` / ``partitions`` are driver-side
metadata reads (log, manifests, timeline) — planning-scale, like every
source's discovery step. Data moves as one InputPartition per data
file (or Hudi file slice), decoded executor-side by pyarrow into Arrow
RecordBatches with zero row-at-a-time Python; columns a file predates
backfill NULL.

Streams: an offset is the format's own monotone commit counter, and a
micro-batch reads exactly what the commits in ``(start, end]`` added.
Spark's offset checkpointing makes recovery exactly-once — replaying a
batch re-reads the same immutable commit range.

Writes: each task stages ONE parquet file per distinct partition tuple
where the format keeps data, invisible until the driver-side commit
claims the next version with an exclusive create. A failed or lost
commit, and ``abort``, remove the staged files. Stream writes stamp
``(app id, batchId)`` into the same atomic commit; a replayed batch at
or below the app's last committed epoch is a no-op that removes its
files.
"""

from __future__ import annotations

from collections import namedtuple

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)

from dataset_grouper_spark.compat import fs as _fs

# constant-column literals (Delta partition values, Hudi CDC tags) are
# strings; the simple types the decode restores them to
_LITERAL_CASTS = {
    "string": str,
    "long": int,
    "bigint": int,
    "integer": int,
    "int": int,
    "short": int,
    "double": float,
    "float": float,
    "boolean": lambda s: s == "true",
}


def project(batches, schema, phys=None, consts=None):
    """Arrow batches -> RecordBatches of exactly ``schema``: each field
    read under its file name (``phys``, name -> file column, where they
    differ) and cast to its type, constant columns filled from
    ``consts`` (name -> literal string or None), and fields a batch
    lacks backfilled NULL. ``schema`` carries pickled DataTypes, so no
    session is needed executor-side."""
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_type

    phys, consts = phys or {}, consts or {}
    atypes = [to_arrow_type(f.dataType) for f in schema.fields]
    for batch in batches:
        n, have = batch.num_rows, batch.schema.names
        arrays = []
        for f, atype in zip(schema.fields, atypes):
            src = phys.get(f.name, f.name)
            if consts.get(f.name) is not None:
                cast = _LITERAL_CASTS.get(f.dataType.simpleString())
                if cast is None:
                    raise RuntimeError(
                        f"lite read: partition column type "
                        f"{f.dataType.simpleString()!r} not supported"
                    )
                arrays.append(pa.array([cast(consts[f.name])] * n).cast(atype))
            elif f.name not in consts and src in have:
                arrays.append(batch.column(src).cast(atype))
            else:  # a NULL constant, or a column the file predates
                arrays.append(pa.nulls(n, type=atype))
        yield pa.RecordBatch.from_arrays(arrays, names=schema.names)


class FilePartition(InputPartition):
    """One parquet data file, decoded by :func:`project`."""

    def __init__(self, path, schema, consts=None, phys=None):
        self.path = path
        self.schema = schema
        self.consts = consts or {}
        self.phys = phys or {}

    def read(self):
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(self.path)
        have = set(pf.schema_arrow.names)
        cols = [
            self.phys.get(n, n)
            for n in self.schema.names
            if n not in self.consts and self.phys.get(n, n) in have
        ]
        return project(
            pf.iter_batches(columns=cols), self.schema, self.phys, self.consts
        )


class BatchReader(DataSourceReader):
    """Snapshot read: ``plan(path, skip_filters)`` returns the live
    files' InputPartitions, each with a ``read()``. Format gates in a
    plan raise RuntimeError, never NotImplementedError — Spark reads
    that from ``partitions()`` as "no partitioning support" and
    silently falls back. An empty plan becomes the ``[None]`` sentinel
    (Spark wants at least one partition), which reads nothing."""

    def __init__(self, path, plan):
        self.path = path
        self.plan = plan
        self.skip_filters: list[tuple[str, str, object]] = []

    def partitions(self):
        return self.plan(self.path, self.skip_filters) or [None]

    def read(self, partition):
        return iter(()) if partition is None else partition.read()


class PushdownReader(BatchReader):
    """The pushdown-capable reader, OPT-IN via
    ``.option("pushdown", "true")``. It is a separate class because
    Spark refuses any reader that defines ``pushFilters`` unless
    ``spark.sql.python.filterPushdown.enabled`` is true (our
    ``session.get_spark`` sets it).

    WHY OPT-IN — verified at the bytecode level on Spark 4.1.2: the
    JVM's ``PythonDataSourceV2`` holds ONE mutable ``readInfo`` slot
    per ``load()`` relation. ``PythonScanBuilder.pushFilters`` re-runs
    the Python pushdown runner and overwrites the slot, so every plan
    WITH a translatable filter is correct, including two different
    filters on the same relation (each re-plans; regression-tested).
    But ``UserDefinedPythonDataSource.pushdownFiltersInPython`` gates
    the runner on ``isAnyFilterSupported``: a later plan on the SAME
    relation with NO translatable filters (unfiltered, or only
    disjunctions) skips the runner, and
    ``PythonBatch.planInputPartitions -> getOrCreateReadInfo`` reuses
    the poisoned slot — the unfiltered query silently serves the
    previous plan's pruned file set. The staleness lives in the JVM
    slot, not in Python reader state (a fresh reader is built per
    runner invocation — see pyspark/sql/worker/
    data_source_pushdown_filters.py), so no Python-side design can make
    default-on safe. The default therefore stays stateless; a canary
    test pins the hazard and will flip when a Spark release fixes the
    slot (then flip the default). Rule when opting in: ONE ``load()``
    per query."""

    def pushFilters(self, filters):
        """FILE-LEVEL pushdown: comparison and IN filters on top-level
        columns become ``(column, op, value)`` triples for the
        format's stats-envelope skip planner. Skipping is never exact,
        so EVERY filter is returned for Spark to re-evaluate row-level
        — pushdown prunes I/O, it does not replace the filter."""
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            In,
            LessThan,
            LessThanOrEqual,
        )

        ops = {
            EqualTo: "=",
            LessThan: "<",
            LessThanOrEqual: "<=",
            GreaterThan: ">",
            GreaterThanOrEqual: ">=",
        }
        for f in filters:
            op = ops.get(type(f))
            if op is not None and len(f.attribute) == 1 and f.value is not None:
                self.skip_filters.append((f.attribute[0], op, f.value))
            elif (
                isinstance(f, In)
                and len(f.attribute) == 1
                and f.value
                and all(v is not None for v in f.value)
            ):
                # IN ⊆ [min, max]: a sound envelope, still prunes
                self.skip_filters.append((f.attribute[0], ">=", min(f.value)))
                self.skip_filters.append((f.attribute[0], "<=", max(f.value)))
            yield f


class StreamReader(DataSourceStreamReader):
    """Tails a table: offsets are ``{key: value}`` with ``first`` the
    initial value, ``latest(path)`` the newest committed one and
    ``plan(path, lo, hi)`` the InputPartitions of what the commits in
    ``(lo, hi]`` added. Offsets live in Spark's own checkpoint, so
    ``commit(end)`` is a no-op."""

    def __init__(self, path, key, first, latest, plan):
        self.path = path
        self.key = key
        self.first = first
        self.latest = latest
        self.plan = plan

    def initialOffset(self):
        return {self.key: self.first}

    def latestOffset(self):
        return {self.key: self.latest(self.path)}

    def partitions(self, start, end):
        lo, hi = start[self.key], end[self.key]
        if hi <= lo:
            return [None]
        return self.plan(self.path, lo, hi) or [None]

    read = BatchReader.read

    def commit(self, end):
        pass


def check_retained(source, have, lo, hi, start_option):
    """The contiguous-offset retention check: a micro-batch over the
    integer offsets ``(lo, hi]`` must see every one of them in
    ``have`` (ascending) — a vacuumed or expired commit would otherwise
    drop out of the stream silently."""
    expect = list(range(lo + 1, hi + 1))
    if list(have) != expect:
        raise ValueError(
            f"{source} stream: offsets {sorted(set(expect) - set(have))} "
            f"of ({lo}, {hi}] are no longer retained (vacuumed or "
            f"expired history?) — restart the stream from a newer "
            f"{start_option}"
        )


# one staged parquet file: where it is, its row count and byte size,
# and what the format's commit needs to know about it
StagedFile = namedtuple("StagedFile", "dst nrows size info")


class Staged(WriterCommitMessage):
    """One per write task: the :class:`StagedFile` list it wrote."""

    def __init__(self, files):
        self.files = files


def stage(batches, keys, place):
    """Executor-side staging for every lite writer: stream one task's
    Arrow batches into ONE parquet file per distinct partition tuple
    (one file in all when unpartitioned). Upstream should repartition
    by the partition columns so a task sees few tuples — the same
    discipline as any partitioned write at 100 TB.

    ``keys(batch)`` returns one Arrow array per partition field (none
    when unpartitioned). Rows group on the arrays' Arrow string cast:
    ``to_pandas`` would coerce a NULL-carrying int column to float64
    and ``2`` would come back as ``'2.0'``. ``place(values)`` runs once
    per new tuple with its typed Python values and returns ``(dst,
    shape, info)``: the file's path, the function turning a slice of
    rows into the batch written, and the :class:`StagedFile` info."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    files = {}  # string key -> [writer, dst, shape, info, nrows]
    for batch in batches:
        arrays = keys(batch)
        strs = [a.cast(pa.string()) for a in arrays]
        if strs:
            frame = pa.table(strs, names=[str(i) for i in range(len(strs))])
            groups = (
                frame.to_pandas()
                .groupby(frame.column_names, dropna=False, sort=False)
                .indices.values()
            )
        else:
            groups = [None]
        for idx in groups:
            first = 0 if idx is None else int(idx[0])
            key = tuple(s[first].as_py() for s in strs)
            rows = batch if idx is None else batch.take(idx)
            slot = files.get(key)
            if slot is None:
                dst, shape, info = place([a[first].as_py() for a in arrays])
                slot = files[key] = [None, dst, shape, info, 0]
            out = slot[2](rows)
            if slot[0] is None:
                slot[0] = pq.ParquetWriter(_fs.open_write(slot[1]), out.schema)
            slot[0].write(out)
            slot[4] += rows.num_rows
    staged = []
    for writer, dst, _shape, info, nrows in files.values():
        writer.close()
        staged.append(StagedFile(dst, nrows, _fs.file_size(dst), info))
    return Staged(staged)


def _staged(messages):
    return [f for m in messages if m is not None for f in m.files]


def _remove(files):
    for f in files:
        try:
            _fs.remove(f.dst)
        except OSError:
            pass


class ArrowWriter(DataSourceArrowWriter):
    """Batch write half. ``table`` is the format's write adapter:
    ``stage(batches)`` runs in each task, ``commit(files, overwrite,
    epoch)`` claims the next version on the driver (raising on a lost
    race or a failed gate), ``last_epoch(app_id)`` serves streams."""

    def __init__(self, table, overwrite):
        self.table = table
        self.overwrite = overwrite

    def write(self, iterator):
        return self.table.stage(iterator)

    def commit(self, messages):
        self._commit(_staged(messages), None)

    def _commit(self, files, epoch):
        try:
            self.table.commit(files, self.overwrite, epoch)
        except BaseException:
            _remove(files)  # uncommitted: readers never saw them
            raise

    def abort(self, messages):
        _remove(_staged(messages))


class StreamArrowWriter(DataSourceStreamArrowWriter):
    """Streaming write half: each micro-batch is one commit stamped
    with ``(app_id, batchId)``; one live writer per app id is the
    stream checkpoint's own guarantee."""

    def __init__(self, table, app_id):
        self.table = table
        self.app_id = app_id
        self.overwrite = False

    write = ArrowWriter.write
    _commit = ArrowWriter._commit

    def commit(self, messages, batchId):
        files = _staged(messages)
        last = self.table.last_epoch(self.app_id)
        if last is not None and batchId <= last:
            _remove(files)  # replayed epoch: no-op
            return
        self._commit(files, (self.app_id, int(batchId)))

    def abort(self, messages, batchId):
        _remove(_staged(messages))


def check_columns(source, schema, cols, what="partition columns"):
    missing = [c for c in cols if c not in schema.names]
    if missing:
        raise ValueError(
            f"{source} write: {what} {missing} not in the frame "
            f"({schema.names})"
        )


class LiteDataSource(DataSource):
    """Option parsing shared by the lite formats."""

    def _path(self) -> str:
        p = self.options.get("path")
        if not p:
            raise ValueError(f"{self.name()}: option 'path' is required")
        return p

    def _partition_by(self) -> list[str]:
        opt = self.options.get("partitionBy")
        return [c.strip() for c in opt.split(",") if c.strip()] if opt else []

    def _reader(self, plan):
        """Batch reader over ``plan``; pushdown is opt-in (see
        :class:`PushdownReader` for why)."""
        if str(self.options.get("pushdown", "false")).lower() == "true":
            return PushdownReader(self._path(), plan)
        return BatchReader(self._path(), plan)
