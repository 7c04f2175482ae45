"""``hudi_lite`` — the jar-free Hudi timeline walk as a REGISTERED
Spark format, batch and STREAMING, read and write — completing the trio
next to ``delta_lite`` and ``iceberg_lite`` (the shared reader/writer
core and its scale shape live in :mod:`.lite`):

    spark.dataSource.register(HudiLiteDataSource)
    spark.read.format("hudi_lite").option("path", t).load()
    spark.readStream.format("hudi_lite").option("path", t).load()

Stream offsets are completed instant times (Hudi's monotone commit
timestamps); a micro-batch reads exactly what the commits in
``(start, end]`` wrote, paths straight from each commit's
``partitionToWriteStats``. Base files carry full rows (partition
columns AND the ``_hoodie_*`` meta columns, dropped in the decode); the
table schema comes from the newest live slice's parquet footer (Hudi
keeps no schema in the timeline markers this reader relies on).

MERGE_ON_READ is supported on both halves. The BATCH reader serves the
merged snapshot — one InputPartition per FILE SLICE (base file + its
ordered log files), each merged executor-side under the same
supersedence law as ``sources.hudi._mor_winners`` (event-time
orderingVal when the table declares ``hoodie.table.precombine.field``,
natural-order deletes by commit order, commit/seq tiebreak); unlogged
slices stream straight through. The STREAM walks deltacommit instants:
each micro-batch surfaces the LOG rows those instants appended (decoded
through ``sources.hudi_log`` for HoodieLogFormat framing or the
Avro-container dialect) plus any new-group base files. Log blocks are
decoded by the same pure-Python scanners the batch MoR read uses,
sized by Hudi's design to the un-compacted tail.

Stream modes (``option("mode", ...)``):

* ``append`` (default) — rows only; a deltacommit carrying LOG files
  (updates/deletes) or a CoW UPSERT raises, preserving append-only
  honesty exactly like ``delta_lite``/``iceberg_lite``.
* ``cdc`` — the schema gains ``_change_type`` ('insert' /
  'update_postimage' / 'delete'), ``_change_key`` and
  ``_commit_instant`` (the ``read_hudi_changes`` contract): upsert
  log rows surface as postimages, delete blocks as identity-only
  delete rows, new-group base files as inserts.

Honest gates: ``replacecommit`` instants that add data (overwrites)
raise in both stream modes — their row-level delta is not recorded
anywhere (pure clustering is skipped); compaction commits are
logically no change and are skipped.

Writes: ``df.write.format("hudi_lite")`` bulk-inserts (CoW INSERT
commit; ``mode("overwrite")`` commits a ``replacecommit`` replacing
every live file group — the spec's insert_overwrite_table, with full
time travel to pre-overwrite instants); ``writeStream`` commits each
micro-batch as one INSERT whose commit JSON carries ``extraMetadata
{app-id, epoch=batchId}``. Every commit claims its instant through
``sources.hudi._commit`` — the same exclusive claim every other Hudi
writer here takes.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql.datasource import InputPartition
from pyspark.sql.types import StringType, StructField, StructType

from dataset_grouper_spark.compat import fs as _fs
from dataset_grouper_spark.streaming import lite

_CDC_COLS = ["_change_type", "_change_key", "_commit_instant"]


def _table_schema(path: str) -> StructType:
    """User schema (meta columns dropped) from the newest live
    slice's parquet footer — no SparkSession needed. Serves both
    COPY_ON_WRITE and MERGE_ON_READ (a MoR table's base footer
    carries the full user schema; log rows share it)."""
    import pyarrow.parquet as pq

    from pyspark.sql.pandas.types import from_arrow_type

    from dataset_grouper_spark.sources.hudi import META_COLS, hudi_file_slices

    slices = hudi_file_slices(path)
    if not slices:
        raise ValueError(f"hudi_lite: no completed file slices in {path}")
    arrow = pq.read_schema(max(slices, key=lambda s: s[2])[3])
    return StructType(
        [
            StructField(n, from_arrow_type(arrow.field(n).type), True)
            for n in arrow.names
            if n not in META_COLS
        ]
    )


def _cdc_schema(struct: StructType) -> StructType:
    return StructType(
        [StructField(c, StringType(), True) for c in _CDC_COLS]
        + list(struct.fields)
    )


def _layout(path, struct):
    """(record key, partition columns, precombine column)."""
    from dataset_grouper_spark.sources.hudi import (
        _partition_fields,
        _precombine_col,
        _table_props,
    )

    props = _table_props(path)
    return (
        props["hoodie.table.recordkey.fields"],
        _partition_fields(props),
        _precombine_col(props, struct.names),
    )


def _ord(v):
    """orderingVal for the event-time merge: numeric only (bool
    excluded); None otherwise."""
    if isinstance(v, (int, float)) and not isinstance(v, bool):
        return float(v)
    return None


def _py_part_path(part_cols, payload):
    """Python twin of ``sources.hudi._part_path_col`` for identities
    derived from log payloads: None when any value is null (Spark's
    ``concat`` law), else 'c1=v1/c2=v2'."""
    from dataset_grouper_spark.sources.hudi import _py_str

    if not part_cols:
        return ""
    vals = [_py_str(payload.get(c)) for c in part_cols]
    if any(v is None for v in vals):
        return None
    return "/".join(f"{c}={v}" for c, v in zip(part_cols, vals))


def _decode_log_group(
    log_groups, visible, record_key, precombine, part_cols
):
    """Decode ONE file group's ordered log files (either dialect) ->
    ``[(op, instant, seq, ord, key, part, payload)]`` under exactly
    the visibility + ordering rules ``sources.hudi._log_rows_df``
    applies Spark-side: HoodieLogFormat files scan as one block
    stream (rollback COMMAND_BLOCKs apply across rollover files, seq
    = global block position), Avro-container files carry their
    instant in the record (seq 0), and blocks/files outside
    ``visible`` are invisible. Delete records surface with null
    payload; their orderingVal joins the event-time merge only when
    numeric, with 0/null meaning NATURAL ORDER downstream
    (``_mor_winners`` law)."""
    from dataset_grouper_spark.sources import hudi_log
    from dataset_grouper_spark.sources.avro import read_avro_file
    from dataset_grouper_spark.sources.hudi import (
        _MOR_INSTANT,
        _MOR_OP,
        _py_str,
    )

    out = []
    for group in log_groups:
        hoodie = [p for p in group if hudi_log.is_hoodie_log(p)]
        if hoodie:
            for op, instant, seq, rec in hudi_log.read_log_stream_records(
                hoodie, visible
            ):
                if op == "d":
                    out.append(
                        (
                            "d",
                            instant,
                            seq,
                            _ord(rec.get("orderingVal")),
                            rec.get("recordKey"),
                            rec.get("partitionPath") or "",
                            None,
                        )
                    )
                    continue
                key = _py_str(rec.get("_hoodie_record_key"))
                if key is None:
                    key = _py_str(rec.get(record_key))
                part = rec.get("_hoodie_partition_path")
                if part is None:
                    part = _py_part_path(part_cols, rec)
                ordv = _ord(rec.get(precombine)) if precombine else None
                out.append(("u", instant, seq, ordv, key, part, rec))
        for path in group:
            if path in hoodie:
                continue
            _schema, recs = read_avro_file(path)
            for rec in recs:
                instant = rec[_MOR_INSTANT]
                if visible is not None and instant not in visible:
                    continue
                ordv = _ord(rec.get(precombine)) if precombine else None
                # avro-dialect delete rows keep their stored payload
                # (the record key column — read_hudi_changes parity);
                # hoodie DELETE_BLOCK rows have no user columns
                out.append(
                    (
                        rec[_MOR_OP],
                        instant,
                        0,
                        ordv,
                        _py_str(rec.get(record_key)),
                        _py_part_path(part_cols, rec),
                        rec,
                    )
                )
    return out


def _payloads_to_arrow(payloads, schema, prefix=()):
    """One Arrow RecordBatch from decoded log payload dicts, typed per
    ``schema`` (absent columns null). ``prefix`` is ``[(name, values)]``
    of string columns put before the user columns (the CDC triplet)."""
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_type

    names = [n for n, _v in prefix] + schema.names
    arrays = [pa.array(vals, type=pa.string()) for _n, vals in prefix]
    for f in schema.fields:
        arrays.append(
            pa.array(
                [p.get(f.name) if p is not None else None for p in payloads],
                type=to_arrow_type(f.dataType),
            )
        )
    return pa.RecordBatch.from_arrays(arrays, names=names)


class _MorSlicePartition(InputPartition):
    """One MoR FILE SLICE (base file + its ordered log file groups) —
    the executor merges it standalone: Hudi guarantees a record
    identity lives in exactly one file group, so the per-slice merge
    is the global merge."""

    def __init__(self, base_path, log_groups, visible, record_key,
                 precombine, part_cols, schema):
        self.base_path = base_path
        self.log_groups = log_groups
        self.visible = visible
        self.record_key = record_key
        self.precombine = precombine
        self.part_cols = part_cols
        self.schema = schema

    def read(self):
        return _read_merged_slice(self)


def _read_merged_slice(part):
    """Executor-side MoR merge of one file slice: winner selection on
    a compact metadata frame (pandas, vectorized), payloads moved by
    Arrow ``take`` (base rows) / typed array construction (log rows)
    — the Python twin of ``sources.hudi._mor_winners``, same
    natural-order-delete and event-time law."""
    import math

    import pandas as pd
    import pyarrow.parquet as pq

    base = pq.read_table(part.base_path)
    nb = base.num_rows
    pc_active = (
        part.precombine is not None
        and part.precombine in base.column_names
    )
    base_ord = (
        [_ord(v) for v in base.column(part.precombine).to_pylist()]
        if pc_active
        else [None] * nb
    )
    logs = _decode_log_group(
        part.log_groups, part.visible, part.record_key,
        part.precombine if pc_active else None, part.part_cols,
    )
    meta = pd.DataFrame(
        {
            "src": ["b"] * nb + ["l"] * len(logs),
            "idx": list(range(nb)) + list(range(len(logs))),
            "op": ["u"] * nb + [r[0] for r in logs],
            "instant": base.column("_hoodie_commit_time").to_pylist()
            + [r[1] for r in logs],
            "seq": [0] * nb + [r[2] for r in logs],
            "ord": base_ord + [r[3] for r in logs],
            "key": base.column("_hoodie_record_key").to_pylist()
            + [r[4] for r in logs],
            "part": base.column("_hoodie_partition_path").to_pylist()
            + [r[5] for r in logs],
        }
    )
    if pc_active:
        is_nat = (meta["op"] == "d") & (
            meta["ord"].isna() | (meta["ord"] == 0.0)
        )
        nat = meta[is_nat]
        if len(nat):
            bound = (
                nat.sort_values(["instant", "seq"])
                .drop_duplicates(["key", "part"], keep="last")[
                    ["key", "part", "instant", "seq"]
                ]
                .rename(columns={"instant": "_ni", "seq": "_ns"})
            )
            meta = meta.merge(bound, on=["key", "part"], how="left")
            keep = (
                meta["_ni"].isna()
                | (meta["instant"] > meta["_ni"])
                | (
                    (meta["instant"] == meta["_ni"])
                    & (meta["seq"] >= meta["_ns"])
                )
            )
            meta = meta[keep].drop(columns=["_ni", "_ns"])
            # surviving sentinels compete with NULL event time
            snt = (meta["op"] == "d") & (
                meta["ord"].isna() | (meta["ord"] == 0.0)
            )
            meta.loc[snt, "ord"] = math.nan
    winners = (
        meta.sort_values(
            ["ord", "instant", "seq"] if pc_active else ["instant", "seq"],
            ascending=False,
            na_position="last",
        )
        .drop_duplicates(["key", "part"], keep="first")
    )
    winners = winners[winners["op"] == "u"]
    base_idx = winners.loc[winners["src"] == "b", "idx"].tolist()
    if base_idx:
        yield from lite.project(
            base.take(sorted(base_idx)).to_batches(), part.schema
        )
    log_idx = winners.loc[winners["src"] == "l", "idx"].tolist()
    if log_idx:
        yield _payloads_to_arrow(
            [logs[i][6] for i in sorted(log_idx)], part.schema
        )


class _LogChangePartition(InputPartition):
    """One file group's in-range MoR log files for a CDC micro-batch:
    decoded executor-side into change rows (``read_hudi_changes``
    contract — upserts as postimages, delete blocks as identity-only
    deletes)."""

    def __init__(self, log_groups, visible, record_key, precombine,
                 part_cols, schema):
        self.log_groups = log_groups
        self.visible = visible
        self.record_key = record_key
        self.precombine = precombine
        self.part_cols = part_cols
        self.schema = schema

    def read(self):
        recs = _decode_log_group(
            self.log_groups, self.visible, self.record_key,
            self.precombine, self.part_cols,
        )
        if not recs:
            return
        yield _payloads_to_arrow(
            [r[6] for r in recs],
            self.schema,
            prefix=[
                (
                    "_change_type",
                    [
                        "delete" if r[0] == "d" else "update_postimage"
                        for r in recs
                    ],
                ),
                ("_change_key", [r[4] for r in recs]),
                ("_commit_instant", [r[1] for r in recs]),
            ],
        )


def _live(path, _skip):
    """Batch plan: one partition per live file slice."""
    from dataset_grouper_spark.sources.hudi import (
        _completed,
        _group_log_paths,
        _log_files,
        hudi_file_slices,
    )

    struct = _table_schema(path)
    record_key, part_cols, precombine = _layout(path, struct)
    logs = _log_files(path)
    completed = set(_completed(path)) if logs else None
    parts: list = []
    for part, fid, instant, base in hudi_file_slices(path):
        entries = logs.get((part, fid, instant))
        if not entries:
            # unlogged groups stream straight through — only logged
            # slices pay the merge (MoR read economics)
            parts.append(lite.FilePartition(base, struct))
        else:
            parts.append(
                _MorSlicePartition(
                    base,
                    _group_log_paths([p for _i, p in entries]),
                    completed,
                    record_key,
                    precombine,
                    part_cols,
                    struct,
                )
            )
    return parts


def _latest(path):
    from dataset_grouper_spark.sources.hudi import _completed

    try:
        commits = _completed(path)
    except FileNotFoundError:
        return "0"
    return max(commits) if commits else "0"


def _between(path, lo, hi, cdc=False):
    """Stream plan: what the instants in ``(lo, hi]`` wrote, through
    the append-only / replacecommit gates."""
    from dataset_grouper_spark.sources.hudi import (
        _completed,
        _group_log_paths,
    )

    commits = _completed(path, as_of=hi)
    struct = _table_schema(path)
    record_key, part_cols, precombine = _layout(path, struct)
    cdc_struct = _cdc_schema(struct)
    parts: list = []
    for ts in sorted(commits):
        if ts <= lo:
            continue
        meta = commits[ts]
        action = meta["__action"]
        op = meta.get("operationType")
        if action == "replacecommit":
            # only pure clustering (file reorganization, no logical
            # change) may be skipped. An INSERT_OVERWRITE replace-
            # commit — the only replacecommit this repo's writers
            # produce (mode('overwrite')) — both drops file groups
            # AND inserts rows; silently skipping it would lose its
            # data from the stream, so it raises like UPSERT does.
            if op == "INSERT_OVERWRITE_TABLE" or (
                meta.get("partitionToWriteStats")
            ):
                raise ValueError(
                    f"hudi_lite stream: instant {ts} is a "
                    f"{op or 'replace'} "
                    "replacecommit — overwrites rewrite history; "
                    "their row-level delta is not recorded (restart "
                    "the stream from the overwrite instant)"
                )
            continue  # genuine clustering: no logical change
        if op == "COMPACT":
            continue  # logs folded into base: logically no change
        base_paths, log_paths = [], []
        for stats in (meta.get("partitionToWriteStats") or {}).values():
            for st in stats:
                (
                    log_paths if ".log." in st["path"] else base_paths
                ).append(os.path.join(path, st["path"]))
        if action == "commit" and op not in (None, "INSERT"):
            raise ValueError(
                f"hudi_lite stream: instant {ts} is a CoW {op} — "
                "slice rewrites record no row-level delta; the "
                "stream is append-only (use MERGE_ON_READ writes "
                "for CDC)"
            )
        if log_paths and not cdc:
            raise ValueError(
                f"hudi_lite stream: deltacommit {ts} appended LOG "
                "rows (updates/deletes) — the default stream is "
                "append-only; tail MoR change streams with "
                "option('mode', 'cdc')"
            )
        for p in base_paths:
            # CDC: a new-group base file surfaces as 'insert' rows
            # keyed by its own _hoodie_record_key column
            parts.append(
                lite.FilePartition(
                    p,
                    cdc_struct,
                    {"_change_type": "insert", "_commit_instant": ts},
                    {"_change_key": "_hoodie_record_key"},
                )
                if cdc
                else lite.FilePartition(p, struct)
            )
        for group in _group_log_paths(log_paths):
            parts.append(
                _LogChangePartition(
                    [group], {ts}, record_key, precombine, part_cols,
                    struct,
                )
            )
    return parts


class _HudiTable:
    """Write adapter shared by the batch and stream writers."""

    def __init__(self, path, schema, record_key, part_cols):
        self.path = os.path.abspath(path)
        self.schema = schema
        self.record_key = record_key
        self.part_cols = list(part_cols)
        lite.check_columns("hudi_lite", schema, [record_key], "recordKey")
        lite.check_columns("hudi_lite", schema, self.part_cols)

    def stage(self, batches):
        """One base file per partition tuple, meta columns synthesized
        in-Arrow, placed directly in the table. Files are named with an
        INVISIBLE placeholder instant (a 17-digit token starting '0' —
        lexically below every real instant, so never in the completed
        set): the driver's commit claims the real instant and RENAMES
        the staged files into it, which keeps a streaming sink correct
        across micro-batches (executor-side writer copies cannot learn
        a per-batch instant). Consequence, stated honestly: the
        row-level _hoodie_commit_time in files written through this
        path carries the staging token, not the final instant — the
        timeline/file name is authoritative (and is what every read
        path here resolves slices by)."""
        import uuid

        import pyarrow as pa

        from dataset_grouper_spark.sources.hudi import META_COLS

        token = "0" + f"{uuid.uuid4().int % 10**16:016d}"
        path, part_cols, key = self.path, self.part_cols, self.record_key

        def place(values):
            # null partition values name the directory the way Spark's
            # partitionBy (and so hudi_insert) does
            part_rel = "/".join(
                f"{c}={'__HIVE_DEFAULT_PARTITION__' if v is None else v}"
                for c, v in zip(part_cols, values)
            )
            name = f"{uuid.uuid4().hex[:20]}_0-0-0_{token}.parquet"
            dst_dir = os.path.join(path, part_rel) if part_rel else path
            _fs.makedirs(dst_dir)
            pmeta = os.path.join(dst_dir, ".hoodie_partition_metadata")
            if part_rel and not _fs.exists(pmeta):
                _fs.write_text(
                    pmeta,
                    f"#partition metadata\ncommitTime={token}\n"
                    f"partitionDepth={len(part_cols)}\n",
                )

            def shape(rows):
                n = rows.num_rows
                meta = [
                    pa.array([token] * n),
                    pa.array([f"{token}_0"] * n),
                    rows.column(key).cast(pa.string()),
                    pa.array([part_rel] * n),
                    pa.array([name] * n),
                ]
                return pa.RecordBatch.from_arrays(
                    meta + rows.columns,
                    names=META_COLS + rows.schema.names,
                )

            return os.path.join(dst_dir, name), shape, (part_rel, token)

        # partition-path values via Arrow string cast — the same
        # identity hudi_upsert's Spark cast computes ('c=2', not '2.0')
        return lite.stage(
            batches,
            lambda b: [b.column(c).cast(pa.string()) for c in part_cols],
            place,
        )

    def commit(self, files, overwrite, epoch):
        from dataset_grouper_spark.sources.hudi import (
            _BASE_RE,
            _commit,
            _hoodie_path,
            _next_instant,
            _partition_fields,
            _table_props,
            _write_properties,
            hudi_file_slices,
        )

        _fs.makedirs(self.path)
        existed = _fs.exists(
            os.path.join(_hoodie_path(self.path), "hoodie.properties")
        )
        if existed:
            props = _table_props(self.path)
            want = props.get("hoodie.table.recordkey.fields")
            if want and want != self.record_key:
                raise ValueError(
                    f"hudi_lite write: recordKey mismatch — table has "
                    f"{want!r}"
                )
            if _partition_fields(props) != self.part_cols:
                raise ValueError(
                    f"hudi_lite write: partition fields mismatch — table "
                    f"has {_partition_fields(props)}, write declared "
                    f"{self.part_cols}"
                )
        _write_properties(self.path, self.record_key, self.part_cols)
        extra: dict = {}
        if overwrite and existed:
            # insert_overwrite_table: one replacecommit replacing every
            # live file group, new files in the same instant
            replaced: dict[str, list[str]] = {}
            for part, fid, _i, _p in hudi_file_slices(self.path):
                replaced.setdefault(part, []).append(fid)
            extra["partitionToReplaceFileIds"] = replaced
        if epoch is not None:
            extra["extraMetadata"] = {"app-id": epoch[0], "epoch": epoch[1]}
        # rename every staged file's placeholder token to the instant
        # (driver-local renames, O(files)); _commit claims the instant
        # and, on a lost race, removes the renamed files
        instant = _next_instant(self.path)
        stats: dict[str, list[dict]] = {}
        for f in files:
            part_rel, token = f.info
            name = os.path.basename(f.dst).replace(token, instant)
            rel = f"{part_rel}/{name}" if part_rel else name
            _fs.move(f.dst, os.path.join(self.path, rel))
            stats.setdefault(part_rel, []).append(
                {
                    "fileId": _BASE_RE.match(name).group("fid"),
                    "path": rel,
                    "numWrites": f.nrows,
                    "fileSizeInBytes": f.size,
                }
            )
        replace = "partitionToReplaceFileIds" in extra
        _commit(
            self.path,
            instant,
            "INSERT_OVERWRITE_TABLE" if replace else "INSERT",
            stats,
            action="replacecommit" if replace else "commit",
            extra=extra,
        )

    def last_epoch(self, app_id):
        from dataset_grouper_spark.sources.hudi import _completed

        try:
            commits = _completed(self.path)
        except FileNotFoundError:
            return None
        epochs = [
            int(em.get("epoch", -1))
            for em in (m.get("extraMetadata") or {} for m in commits.values())
            if em.get("app-id") == app_id
        ]
        return max(epochs, default=None)


class HudiLiteDataSource(lite.LiteDataSource):
    """``spark.dataSource.register(HudiLiteDataSource)`` then
    ``.format("hudi_lite").option("path", table_path)``. Options:
    ``path`` (required), ``recordKey`` (write; default the table's, or
    the first column on creation), ``partitionBy`` (write, new tables),
    ``startingInstant`` (stream read), ``mode`` (stream read:
    ``append`` default / ``cdc`` for MoR change streams), ``epochAppId``
    (stream write)."""

    @classmethod
    def name(cls):
        return "hudi_lite"

    def _cdc(self) -> bool:
        m = (self.options.get("mode") or "append").lower()
        if m not in ("append", "cdc"):
            raise ValueError(
                f"hudi_lite: mode {m!r} not supported (append/cdc)"
            )
        return m == "cdc"

    def schema(self):
        struct = _table_schema(self._path())
        return _cdc_schema(struct) if self._cdc() else struct

    def reader(self, schema):
        if self._cdc():
            raise ValueError(
                "hudi_lite: mode=cdc is a STREAMING read option; for "
                "batch CDC use sources.hudi.read_hudi_changes"
            )
        return lite.BatchReader(self._path(), _live)

    def streamReader(self, schema):
        return lite.StreamReader(
            self._path(),
            "instant",
            self.options.get("startingInstant") or "0",
            _latest,
            functools.partial(_between, cdc=self._cdc()),
        )

    def _table(self, schema) -> _HudiTable:
        """The write adapter: an existing table's record key and
        partition fields are authoritative; an option contradicting
        them fails here."""
        from dataset_grouper_spark.sources.hudi import (
            _partition_fields,
            _table_props,
        )

        opt_key = self.options.get("recordKey")
        declared = self._partition_by()
        try:
            props = _table_props(self._path())
        except (FileNotFoundError, OSError):
            return _HudiTable(
                self._path(), schema, opt_key or schema.names[0], declared
            )
        table_key = props.get("hoodie.table.recordkey.fields")
        if table_key and opt_key and opt_key != table_key:
            # same contract as the partitionBy check below: a caller
            # who thinks they changed the key must hear otherwise
            raise ValueError(
                f"hudi_lite write: recordKey option {opt_key!r} "
                f"contradicts the table's record key {table_key!r}"
            )
        table_parts = _partition_fields(props)
        if declared and declared != table_parts:
            raise ValueError(
                f"hudi_lite write: partitionBy option {declared} "
                f"contradicts the table's partition fields {table_parts}"
            )
        return _HudiTable(
            self._path(), schema, table_key or opt_key, table_parts
        )

    def writer(self, schema, overwrite):
        return lite.ArrowWriter(self._table(schema), overwrite)

    def streamWriter(self, schema, overwrite):
        app = self.options.get("epochAppId") or "hudi_lite_stream"
        return lite.StreamArrowWriter(self._table(schema), app)
