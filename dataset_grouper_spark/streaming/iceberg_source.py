"""``iceberg_lite`` — the jar-free Iceberg metadata walk as a
REGISTERED Spark format, batch and STREAMING, read and write — the
Iceberg twin of ``delta_lite`` (the shared reader/writer core and its
scale shape live in :mod:`.lite`):

    spark.dataSource.register(IcebergLiteDataSource)
    spark.read.format("iceberg_lite").option("path", t).load()
    spark.readStream.format("iceberg_lite").option("path", t).load()

Stream offsets are data sequence numbers (the spec's monotone
per-commit counter) — the contract Iceberg's own incremental append
scan implements on the JVM. Iceberg data files carry EVERY column
(identity partition values included), so there is no partition-literal
restoration and no physical-name mapping.

Honest gates, same as the batch changelog (`read_iceberg_changes`):
the stream is APPEND-ONLY — a snapshot in range that commits DELETE
files (position or equality) raises; REPLACE snapshots (compaction,
``summary.operation = "replace"``) are skipped. The batch reader
refuses tables whose current snapshot carries live delete files —
merge-on-read reconciliation needs the anti-joins only the DataFrame
path (`sources.iceberg.read_iceberg`) provides.

Writes commit spec-shaped snapshots: an Avro manifest with Appendix-D
column bounds, a manifest list and the next metadata version (exclusive
claim). ``mode("overwrite")`` commits a snapshot whose manifest list
carries NOTHING over — replace-table semantics, with full time travel
to the pre-overwrite snapshots. An existing table's partition spec is
honored automatically: identity fields group straight off the Arrow
columns, and NON-IDENTITY transforms (bucket[N] via the spec's murmur3,
truncate[W], year/month/day/hour) compute each row's partition value
task-side with the same ``_transform_value`` the read-side pruning
uses. A NEW table is partitioned with ``.option("partitionBy", "a,b")``
(identity). Each manifest entry's ``partition`` struct carries the
file's tuple — what ``read_iceberg(partition_filter=...)`` prunes on.
Stream writes carry ``{app-id, epoch=batchId}`` in the snapshot
summary plus an append-only per-app ledger that survives snapshot
expiry (the ``iceberg_append_epoch`` scheme). Exact schema match on
existing tables (evolution goes through
``iceberg_append(merge_schema=True)``); identity partition sources must
be string/int/long.
"""

from __future__ import annotations

import os

from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from dataset_grouper_spark.compat import fs as _fs
from dataset_grouper_spark.streaming import lite

_TYPE_OBJS = {
    "boolean": BooleanType(),
    "int": IntegerType(),
    "long": LongType(),
    "bigint": LongType(),
    "float": FloatType(),
    "double": DoubleType(),
    "date": DateType(),
    "timestamp": TimestampType(),
    "string": StringType(),
    "binary": BinaryType(),
}


def _struct_from_iceberg(fields: list[dict]) -> StructType:
    """Current-schema StructType WITHOUT a SparkSession (DataSource
    planning hooks cannot assume one): the flat primitive subset the
    pure reader supports, via the same mapping ``_spark_type`` uses."""
    import re

    from dataset_grouper_spark.sources.iceberg import _spark_type

    out = []
    for f in fields:
        ddl = _spark_type(f["type"])  # raises on nested/unknown
        t = _TYPE_OBJS.get(ddl)
        if t is None:
            m = re.fullmatch(r"decimal\((\d+),(\d+)\)", ddl)
            if m:
                t = DecimalType(int(m.group(1)), int(m.group(2)))
            else:
                raise ValueError(
                    f"iceberg_lite: unsupported column type {ddl!r}"
                )
        out.append(StructField(f["name"], t, True))
    return StructType(out)


def _current_schema(meta, path):
    """(current schema dict, its StructType)."""
    schemas = meta.get("schemas") or []
    schema = next(
        (
            s
            for s in schemas
            if s.get("schema-id") == meta.get("current-schema-id")
        ),
        schemas[-1] if schemas else None,
    )
    if schema is None:
        raise ValueError(f"iceberg_lite: no schema in {path}")
    return schema, _struct_from_iceberg(schema["fields"])


def _load(path):
    from dataset_grouper_spark.sources.iceberg import _load_metadata

    meta = _load_metadata(path)
    return (meta, *_current_schema(meta, path))


def _live(path, skip):
    """Batch plan: the current snapshot's data files, minus those whose
    manifest bounds (Appendix-D lower/upper envelopes) disprove
    ``skip``."""
    from dataset_grouper_spark.sources.iceberg import _live_files

    meta, schema, struct = _load(path)
    cur = meta.get("current-snapshot-id")
    if cur is None:
        return []
    snap = next(s for s in meta["snapshots"] if s["snapshot-id"] == cur)
    by_name = {f["name"]: f for f in schema["fields"]}
    by_id, field_types = [], {}
    for col, op, value in skip:
        f = by_name.get(col)
        if f is None or not isinstance(f["type"], str):
            continue  # nested/unknown column: no file-level help
        by_id.append((f["id"], op, value))
        field_types[f["id"]] = f["type"]
    data, delete_files, _rows, eq = _live_files(
        path, snap, None, by_id or None, field_types
    )
    if delete_files or eq:
        raise RuntimeError(
            "iceberg_lite batch read: table carries merge-on-read "
            "delete files — use sources.iceberg.read_iceberg (the "
            "DataFrame path applies the delete anti-joins)"
        )
    return [lite.FilePartition(p, struct) for p, _s in data]


def _latest(path):
    from dataset_grouper_spark.sources.iceberg import _load_metadata

    try:
        meta = _load_metadata(path)
    except FileNotFoundError:
        return 0
    return int(meta.get("last-sequence-number") or 0)


def _between(path, lo, hi):
    """Stream plan: the data files the snapshots with sequence numbers
    in ``(lo, hi]`` added."""
    from dataset_grouper_spark.sources.iceberg import (
        _added_data_files,
        _snapshots_by_sequence,
    )

    meta, _schema, struct = _load(path)
    want = [
        s
        for s in _snapshots_by_sequence(meta)
        if lo < int(s.get("sequence-number") or 0) <= hi
    ]
    lite.check_retained(
        "iceberg_lite",
        [int(s.get("sequence-number") or 0) for s in want],
        lo,
        hi,
        "startingSequence",
    )
    return [
        lite.FilePartition(p, struct)
        for s in want
        if (s.get("summary") or {}).get("operation") != "replace"
        for p in _added_data_files(path, s, "iceberg_lite stream")
    ]


def _rows(rows):
    return rows  # Iceberg data files keep every column


class _IcebergTable:
    """Write adapter shared by the batch and stream writers.
    ``transforms`` — ``[(spec_field_name, source_col, transform,
    src_type)]`` — is set when the table's default spec has any
    non-identity field; ``part_cols`` lists identity sources
    otherwise."""

    def __init__(self, path, schema, part_cols, transforms):
        self.path = os.path.abspath(path)
        self.schema = schema
        self.part_cols = list(part_cols)
        self.transforms = list(transforms)
        lite.check_columns(
            "iceberg_lite",
            schema,
            self.part_cols + [t[1] for t in self.transforms],
        )

    def stage(self, batches):
        import uuid

        import pyarrow as pa

        from dataset_grouper_spark.sources.iceberg import _transform_value

        ddir = os.path.join(self.path, "data")
        _fs.makedirs(ddir)
        transforms = self.transforms
        names = [t[0] for t in transforms] or self.part_cols

        def keys(batch):
            if not transforms:
                return [batch.column(c) for c in names]
            return [
                pa.array(
                    [_transform_value(tr, v, st) for v in
                     batch.column(src).to_pylist()]
                )
                for _n, src, tr, st in transforms
            ]

        def place(values):
            dst = os.path.join(ddir, f"w-{uuid.uuid4().hex}.parquet")
            return dst, _rows, dict(zip(names, values)) if names else None

        return lite.stage(batches, keys, place)

    def _meta(self):
        """(metadata, current schema entry) checked against what this
        writer staged — or a new table's, built in memory."""
        import uuid

        from dataset_grouper_spark.sources.iceberg import (
            _default_spec,
            _iceberg_type,
            _load_metadata,
        )

        fields = [
            {
                "id": i + 1,
                "name": f.name,
                "required": False,
                "type": _iceberg_type(f.dataType.simpleString()),
            }
            for i, f in enumerate(self.schema.fields)
        ]
        try:
            meta = _load_metadata(self.path)
        except FileNotFoundError:
            _fs.makedirs(os.path.join(self.path, "metadata"))
            ids = {f["name"]: f["id"] for f in fields}
            entry = {"type": "struct", "schema-id": 0, "fields": fields}
            spec_fields = [
                {
                    "name": c,  # identity: spec field name == column name
                    "transform": "identity",
                    "source-id": ids[c],
                    "field-id": 1000 + i,
                }
                for i, c in enumerate(self.part_cols)
            ]
            return {
                "format-version": 2,
                "table-uuid": str(uuid.uuid4()),
                "location": self.path,
                "current-snapshot-id": None,
                "schemas": [entry],
                "current-schema-id": 0,
                "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
                "default-spec-id": 0,
                "snapshots": [],
            }, entry
        cur, _struct = _current_schema(meta, self.path)
        want = [{"name": f["name"], "type": f["type"]} for f in fields]
        have = [{"name": f["name"], "type": f["type"]} for f in cur["fields"]]
        if want != have:
            raise ValueError(
                f"iceberg_lite write: schema mismatch — table has "
                f"{have}, frame maps to {want}"
            )
        by_id = {f["id"]: f["name"] for f in cur["fields"]}
        spec_fields = _default_spec(meta)[1].get("fields") or []
        spec = [
            (f["name"], by_id[f["source-id"]], f.get("transform", "identity"))
            for f in spec_fields
        ]
        if any(tr != "identity" for _n, _c, tr in spec):
            # the factory built this writer against the spec; one
            # changed mid-write would commit wrong partition structs
            staged = [tuple(t[:3]) for t in self.transforms]
            if spec != staged:
                raise RuntimeError(
                    f"iceberg_lite write: the table's partition spec "
                    f"({spec}) does not match what this writer staged "
                    f"under ({staged}) — re-run"
                )
        elif [c for _n, c, _t in spec] != self.part_cols:
            raise ValueError(
                f"iceberg_lite write: partition columns mismatch — table "
                f"spec has {[c for _n, c, _t in spec]}, write declared "
                f"{self.part_cols}"
            )
        return meta, cur

    def commit(self, files, overwrite, epoch):
        import uuid

        from dataset_grouper_spark.sources.avro import write_avro_file
        from dataset_grouper_spark.sources.iceberg import (
            _MANIFEST_SCHEMA,
            _commit_snapshot,
            _default_spec_value_types,
            _footer_bounds,
            _partition_manifest_schema,
            _record_epoch,
        )

        meta, entry = self._meta()
        spec, value_types = _default_spec_value_types(meta, entry)
        src_types = {f["id"]: f["type"] for f in entry["fields"]}
        for f in spec["fields"]:
            src = src_types[f["source-id"]]
            if f.get("transform", "identity") == "identity" and src not in (
                "string",
                "int",
                "long",
            ):
                raise NotImplementedError(
                    f"iceberg_lite write: identity partition on {src!r} "
                    f"column {f['name']!r} is not supported "
                    "(string/int/long only)"
                )
        entries = []
        for f in files:
            lo_b, hi_b = _footer_bounds(f.dst, entry["fields"])
            data_file = {
                "content": 0,
                "file_path": f.dst,
                "file_format": "PARQUET",
                "record_count": f.nrows,
                "file_size_in_bytes": f.size,
                "equality_ids": None,
                "lower_bounds": lo_b,
                "upper_bounds": hi_b,
            }
            if spec["fields"]:
                data_file["partition"] = {
                    k: int(v)
                    if v is not None and value_types.get(k) == "long"
                    else v
                    for k, v in (f.info or {}).items()
                }
            entries.append(
                {
                    "status": 1,
                    "snapshot_id": None,
                    "sequence_number": None,
                    "data_file": data_file,
                }
            )
        snap_id = max((s["snapshot-id"] for s in meta["snapshots"]), default=0) + 1
        mpath = os.path.join(
            self.path, "metadata", f"w-{snap_id}-{uuid.uuid4().hex}.avro"
        )
        write_avro_file(
            mpath,
            _partition_manifest_schema(spec["fields"], value_types)
            if spec["fields"]
            else _MANIFEST_SCHEMA,
            entries,
        )
        summary = {"operation": "overwrite"} if overwrite else None
        if epoch is not None:
            summary = {"app-id": epoch[0], "epoch": epoch[1]}
        # overwrite: the new manifest list carries NOTHING over —
        # replace-table semantics, previous snapshots time-travel
        _commit_snapshot(
            self.path,
            meta,
            snap_id,
            mpath,
            content=0,
            summary=summary,
            carry_content=set() if overwrite else None,
        )
        if epoch is not None:
            _record_epoch(self.path, *epoch)

    def last_epoch(self, app_id):
        from dataset_grouper_spark.sources.iceberg import iceberg_last_epoch

        try:
            return iceberg_last_epoch(self.path, app_id)
        except FileNotFoundError:
            return None


class IcebergLiteDataSource(lite.LiteDataSource):
    """``spark.dataSource.register(IcebergLiteDataSource)`` then
    ``.format("iceberg_lite").option("path", table_path)``. Options:
    ``path`` (required); ``startingSequence`` (stream read — first
    data sequence number to consume; default 1, i.e. the whole table
    then the tail); ``pushdown`` (batch read, opt-in file skipping —
    see :class:`lite.PushdownReader`); ``partitionBy`` (write, new
    tables only); ``epochAppId`` (stream write; default
    ``iceberg_lite_stream``)."""

    @classmethod
    def name(cls):
        return "iceberg_lite"

    def schema(self):
        return _load(self._path())[2]

    def reader(self, schema):
        return self._reader(_live)

    def streamReader(self, schema):
        sv = self.options.get("startingSequence")
        first = 0 if sv is None else int(sv) - 1
        return lite.StreamReader(
            self._path(), "sequence", first, _latest, _between
        )

    def _table(self, schema) -> _IcebergTable:
        """The write adapter: an existing table's default spec is
        authoritative — all-identity specs group straight off the frame
        columns; specs with any non-identity field resolve to transform
        tuples the write tasks evaluate. A new table takes
        ``.option("partitionBy", "a,b")`` (identity)."""
        from dataset_grouper_spark.sources.iceberg import _default_spec

        declared = self._partition_by()
        try:
            meta, schema_entry, _struct = _load(self._path())
        except (FileNotFoundError, OSError, ValueError):
            return _IcebergTable(self._path(), schema, declared, [])
        by_id = {
            f["id"]: (f["name"], f["type"]) for f in schema_entry["fields"]
        }
        spec_fields = _default_spec(meta)[1].get("fields") or []
        if any(
            f.get("transform", "identity") != "identity" for f in spec_fields
        ):
            if declared:
                raise ValueError(
                    f"iceberg_lite write: partitionBy option {declared} "
                    "contradicts the existing table's transform spec "
                    "(an existing table's partitioning is honored "
                    "automatically; drop the option)"
                )
            transforms = []
            for f in spec_fields:
                src_name, src_type = by_id[f["source-id"]]
                transforms.append(
                    (
                        f["name"],
                        src_name,
                        f.get("transform", "identity"),
                        src_type if isinstance(src_type, str) else "",
                    )
                )
            return _IcebergTable(self._path(), schema, [], transforms)
        table_parts = [by_id[f["source-id"]][0] for f in spec_fields]
        if declared and declared != table_parts:
            raise ValueError(
                f"iceberg_lite write: partitionBy option {declared} "
                f"contradicts the existing table's identity spec "
                f"{table_parts} (an existing table's partitioning is "
                "honored automatically; drop the option)"
            )
        return _IcebergTable(self._path(), schema, table_parts, [])

    def writer(self, schema, overwrite):
        return lite.ArrowWriter(self._table(schema), overwrite)

    def streamWriter(self, schema, overwrite):
        app = self.options.get("epochAppId") or "iceberg_lite_stream"
        return lite.StreamArrowWriter(self._table(schema), app)
