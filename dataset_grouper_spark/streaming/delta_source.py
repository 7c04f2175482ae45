"""``delta_lite`` — this engine's jar-free Delta log walk as a
REGISTERED Spark format, batch and STREAMING, read and write (the
shared reader/writer core and its scale shape live in :mod:`.lite`):

    spark.dataSource.register(DeltaLiteDataSource)
    spark.read.format("delta_lite").option("path", t).load()
    spark.readStream.format("delta_lite").option("path", t).load()
    df.write.format("delta_lite").mode("append").option("path", t).save()

Stream offsets are commit versions — the contract delta-spark's
streaming source implements on the JVM. Partition columns are restored
from ``add.partitionValues`` as constant columns; column-mapped tables
scan physical names and emit logical ones.

Honest gates: the stream is APPEND-ONLY — a commit in range that
REMOVES data with ``dataChange=true`` (update/delete) raises, exactly
like :func:`read_delta_changes` (silently replaying adds would
over-count); OPTIMIZE commits (``dataChange=false``) are skipped. The
batch reader raises on tables with deletion vectors, pointing at
:func:`read_delta` (a deletion vector needs the anti-join only the
DataFrame path provides) rather than returning resurrected rows.

Writes: batch and stream share one commit body — protocol+metaData on
table creation, remove-everything first under ``mode("overwrite")``,
footer-derived ``add.stats`` always (so data skipping works on
API-written tables), and the same schema, partitioning and column
mapping checks against the table. Partition columns live OUTSIDE the
data files, their literals in ``add.partitionValues`` — the layout
``sources.delta.delta_append(partition_by=...)`` commits. COLUMN-MAPPED
tables stage files under the stable ``col-<n>`` PHYSICAL names (a
logical-named file in a mapped table reads back all-NULL) with physical
partitionValues keys and stats; a table re-mapped mid-write fails
loudly. Stream commits carry a ``txn {appId, version=batchId}`` action
in the same atomic commit — the Delta protocol's own exactly-once
mechanism.
"""

from __future__ import annotations

import json
import os

from pyspark.sql.types import StructField, StructType

from dataset_grouper_spark.compat import fs as _fs
from dataset_grouper_spark.streaming import lite


def _table_state(path: str):
    """(live adds, metaData, latest version) from the log — the
    driver-side planning read shared by every hook."""
    from dataset_grouper_spark.sources.delta import _latest_version, _replay

    latest = _latest_version(path)
    if latest is None:
        raise FileNotFoundError(f"empty Delta log: {path}")
    adds, meta = _replay(None, path, latest)
    return adds, meta, latest


def _schema(meta) -> StructType:
    return StructType.fromJson(json.loads(meta["schemaString"]))


def _part_cols(meta) -> list[str]:
    return list(meta.get("partitionColumns") or [])


def _partitions(path, adds, meta):
    from dataset_grouper_spark.sources.delta import _physical_names

    schema, part_cols = _schema(meta), _part_cols(meta)
    phys = _physical_names(meta)
    renamed = {k: v for k, v in phys.items() if k != v}
    table = os.path.abspath(path)
    out = []
    for a in adds:
        pv = a.get("partitionValues") or {}
        out.append(
            lite.FilePartition(
                os.path.join(table, a["path"]),
                schema,
                {c: pv.get(phys[c], pv.get(c)) for c in part_cols},
                renamed,
            )
        )
    return out


def _live(path, skip):
    """Batch plan: the snapshot's live files, minus those whose log
    stats envelope or partition values disprove ``skip``."""
    from dataset_grouper_spark.sources.delta import (
        _add_may_match,
        _physical_names,
    )

    adds, meta, _v = _table_state(path)
    live = list(adds.values())
    if any(a.get("deletionVector") for a in live):
        raise RuntimeError(
            "delta_lite batch read: table carries deletion vectors — "
            "use sources.delta.read_delta (DataFrame path applies "
            "the tombstone anti-join)"
        )
    if skip:
        part_cols, phys = _part_cols(meta), _physical_names(meta)
        live = [a for a in live if _add_may_match(a, skip, part_cols, phys)]
    return _partitions(path, live, meta)


def _latest(path):
    from dataset_grouper_spark.sources.delta import _latest_version

    v = _latest_version(path)
    return -1 if v is None else v


def _between(path, lo, hi):
    """Stream plan: the files the commits in ``(lo, hi]`` added."""
    from dataset_grouper_spark.sources.delta import (
        _appended_adds,
        delta_versions,
    )

    versions = [v for v in delta_versions(path) if lo < v <= hi]
    lite.check_retained("delta_lite", versions, lo, hi, "startingVersion")
    _adds, meta, _v = _table_state(path)
    added = _appended_adds(path, versions, "delta_lite stream")
    return _partitions(path, added.values(), meta)


def _pv_string(value) -> str | None:
    """Delta ``add.partitionValues`` literal for a python value — the
    inverse of the reader's literal casts (same supported simple
    types; anything else raises rather than writing a literal the
    reader cannot restore)."""
    if value is None:
        return None
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, (int, str)):
        return str(value)
    if isinstance(value, float):
        if value != value:  # NaN partition value: treat as null
            return None
        return repr(value)
    raise RuntimeError(
        f"delta_lite write: partition value type "
        f"{type(value).__name__!r} not supported (supported: string, "
        "int family, float/double, boolean)"
    )


class _DeltaTable:
    """Write adapter shared by the batch and stream writers. ``phys``
    (logical -> physical) is the table's column mapping resolved by the
    factory; ``commit`` re-checks it against the then-current log."""

    def __init__(self, path, schema, part_cols, phys):
        self.path = os.path.abspath(path)
        self.schema = schema
        self.part_cols = list(part_cols)
        self.phys = {k: v for k, v in phys.items() if k != v}
        lite.check_columns("delta_lite", schema, self.part_cols)

    def stage(self, batches):
        import uuid

        part_cols, phys = self.part_cols, self.phys
        _fs.makedirs(self.path)

        def shape(rows):
            rows = rows.drop_columns(part_cols)
            return rows.rename_columns(
                [phys.get(n, n) for n in rows.schema.names]
            )

        def place(values):
            rel = f"part-{uuid.uuid4().hex}.parquet"
            pv = {
                phys.get(c, c): _pv_string(v)
                for c, v in zip(part_cols, values)
            }
            return os.path.join(self.path, rel), shape, (rel, pv)

        return lite.stage(
            batches, lambda b: [b.column(c) for c in part_cols], place
        )

    def _check(self, meta):
        from dataset_grouper_spark.sources.delta import _physical_names

        have = _schema(meta)
        if [(f.name, f.dataType) for f in have.fields] != [
            (f.name, f.dataType) for f in self.schema.fields
        ]:
            raise ValueError(
                f"delta_lite write: schema mismatch — table has "
                f"{have.simpleString()}, frame has "
                f"{self.schema.simpleString()}"
            )
        if _part_cols(meta) != self.part_cols:
            raise ValueError(
                f"delta_lite write: partition columns mismatch — table "
                f"has {_part_cols(meta)}, write declared {self.part_cols} "
                "(an existing table's partitioning is honored "
                "automatically; drop the partitionBy option or make it "
                "match)"
            )
        now = {k: v for k, v in _physical_names(meta).items() if k != v}
        if now != self.phys:
            # files staged under a mapping the table no longer has
            # would register wrong-named columns that read all-NULL
            raise RuntimeError(
                "delta_lite write: the table's column mapping changed "
                "during the write — re-run"
            )

    def commit(self, files, overwrite, epoch):
        import uuid

        from dataset_grouper_spark.sources.delta import (
            _file_stats,
            _log_path,
            _write_commit,
        )

        log = _log_path(self.path)
        try:
            adds, meta, latest = _table_state(self.path)
        except FileNotFoundError:  # no log yet: this write creates it
            latest = None
        actions: list[dict] = []
        if latest is None:
            actions.append(
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
            )
            actions.append(
                {
                    "metaData": {
                        "id": str(uuid.uuid4()),
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": self.schema.json(),
                        "partitionColumns": self.part_cols,
                        "configuration": {},
                    }
                }
            )
            _fs.makedirs(log)
        else:
            self._check(meta)
            if overwrite:
                actions += [
                    {
                        "remove": {
                            "path": rel,
                            "dataChange": True,
                            "deletionTimestamp": 0,
                            "partitionValues": a.get("partitionValues") or {},
                        }
                    }
                    for rel, a in sorted(adds.items())
                ]
        if epoch is not None:
            actions.append(
                {
                    "txn": {
                        "appId": epoch[0],
                        "version": epoch[1],
                        "lastUpdated": 0,
                    }
                }
            )
        stats_fields = [
            StructField(self.phys.get(f.name, f.name), f.dataType, True)
            for f in self.schema.fields
            if f.name not in self.part_cols
        ]
        for f in sorted(files, key=lambda f: f.info[0]):
            rel, pv = f.info
            actions.append(
                {
                    "add": {
                        "path": rel,
                        "partitionValues": pv,
                        "size": f.size,
                        "modificationTime": 0,
                        "dataChange": True,
                        "stats": _file_stats(f.dst, stats_fields),
                    }
                }
            )
        version = 0 if latest is None else latest + 1
        try:
            _write_commit(log, version, actions)
        except FileExistsError:
            raise RuntimeError(
                f"delta_lite write: lost the commit race at version "
                f"{version} — re-run the write"
            ) from None

    def last_epoch(self, app_id):
        from dataset_grouper_spark.sources.delta import _all_txns

        try:
            return _all_txns(self.path).get(app_id)
        except FileNotFoundError:
            return None


class DeltaLiteDataSource(lite.LiteDataSource):
    """``spark.dataSource.register(DeltaLiteDataSource)`` then
    ``.format("delta_lite").option("path", table_path)``. Options:
    ``path`` (required); ``startingVersion`` (stream read — first
    commit to consume; default 0, i.e. the whole table then the tail);
    ``pushdown`` (batch read, opt-in file skipping — see
    :class:`lite.PushdownReader`); ``partitionBy`` (write, new tables
    only — an existing table's partitioning is honored automatically);
    ``txnAppId`` (stream write; default ``delta_lite_stream``)."""

    @classmethod
    def name(cls):
        return "delta_lite"

    def schema(self):
        return _schema(_table_state(self._path())[1])

    def reader(self, schema):
        return self._reader(_live)

    def streamReader(self, schema):
        sv = self.options.get("startingVersion")
        first = -1 if sv is None else int(sv) - 1
        return lite.StreamReader(
            self._path(), "version", first, _latest, _between
        )

    def _table(self, schema) -> _DeltaTable:
        """The write adapter: an existing table's partitioning and
        column mapping are authoritative; a new table takes
        ``.option("partitionBy", "a,b")`` and no mapping. A declared
        option that contradicts an existing table fails here."""
        from dataset_grouper_spark.sources.delta import _physical_names

        declared = self._partition_by()
        try:
            _adds, meta, _v = _table_state(self._path())
        except (FileNotFoundError, OSError):
            return _DeltaTable(self._path(), schema, declared, {})
        if declared and declared != _part_cols(meta):
            raise ValueError(
                f"delta_lite write: partitionBy option {declared} "
                f"contradicts the existing table's partition columns "
                f"{_part_cols(meta)} (an existing table's partitioning "
                "is honored automatically; drop the option)"
            )
        return _DeltaTable(
            self._path(), schema, _part_cols(meta), _physical_names(meta)
        )

    def writer(self, schema, overwrite):
        return lite.ArrowWriter(self._table(schema), overwrite)

    def streamWriter(self, schema, overwrite):
        app = self.options.get("txnAppId") or "delta_lite_stream"
        return lite.StreamArrowWriter(self._table(schema), app)
