"""Delta Lake table READER — pure transaction-log walk, no delta jar.

The Delta log format is public (the Delta Transaction Log Protocol):
``_delta_log/<20-digit version>.json`` holds line-delimited JSON
actions (``metaData``, ``add``, ``remove``, ``protocol``,
``commitInfo``); every ~10 commits a ``<version>.checkpoint.parquet``
snapshots the accumulated state, advertised by ``_last_checkpoint``.
A reader reconstructs any version's active-file set by replaying
add/remove actions (newest checkpoint first, then the JSON tail).

This module implements exactly that — enough to point the engine at a
Delta table a Spark/Databricks/Trino estate maintains and read it
(latest or TIME TRAVEL to any retained version) without the
delta-spark package:

- JSON commits + parquet checkpoints (both multipart-free forms)
- partition columns restored from ``add.partitionValues`` (Delta
  stores them OUTSIDE the data files), typed via the table's
  ``metaData.schemaString`` (a Spark StructType JSON — parsed with
  ``StructType.fromJson``)
- DELETION VECTORS (reader version 3 semantics), real both ways: add
  actions carrying ``deletionVector`` descriptors ('u' relative-path,
  'p' absolute, 'i' inline — Z85 + roaring per ``sources.roaring``)
  have their tombstoned row indexes dropped on read, and
  ``delta_delete_where`` WRITES them — a merge-on-read DELETE that
  commits O(deleted-rows) bitmap files, never rewriting a data file

Scale shape: the log walk is a driver-side metadata scan (file lists,
like every table format's planning step); DATA moves only through
``spark.read.parquet`` over the active files, so pushdown/pruning
behave exactly as on raw parquet, and per-file partition literals
prune in the plan (the union is by partition-value group, each group
one scan with constant columns). Deletion vectors never pass through
the driver: descriptor rows (planning-scale, one per file) fan out to
executors which decode their bitmaps and emit (file, position) rows,
anti-joined against the scan's own ``_metadata.file_path`` /
``row_index`` columns — broadcast only when descriptor cardinality
sums say the tombstone set is small (a plan-time decision; the
descriptors carry exact cardinalities, so no probe job).
"""

from __future__ import annotations

import json
import os
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from dataset_grouper_spark.localrel import local_frame
from dataset_grouper_spark.sources.rewrite import (
    file_scan,
    norm_path,
    norm_path_py,
    pack_bins,
    rewrite_bins,
)

from dataset_grouper_spark.compat import fs as _fs

_LOG_DIR = "_delta_log"


def _log_path(table_path: str) -> str:
    return os.path.join(table_path, _LOG_DIR)


def _table_abs(table_path: str) -> str:
    """Absolute form of a table location: URIs pass through untouched
    (``os.path.abspath`` would mangle the scheme), bare paths get the
    usual abspath so add-path joins are stable."""
    return table_path if _fs.is_uri(table_path) else os.path.abspath(table_path)


def _read_commit_lines(log: str, version: int) -> list[str]:
    """The non-empty JSON action lines of one commit file. Commit
    files are planning-scale (O(actions), kilobytes) — one metadata GET
    per file through compat.fs, which is exactly how a Delta client on
    an object store reads them."""
    text = _fs.read_text(os.path.join(log, f"{version:020d}.json"))
    return [ln for ln in text.splitlines() if ln.strip()]


def _write_commit(log: str, version: int, actions: list[dict]) -> None:
    """Claim ``<version>.json`` put-if-absent (the commit race is
    decided here); raises FileExistsError to the caller's retry/abort
    policy. Object-store CAS caveat documented at compat.fs.open_create."""
    data = "".join(json.dumps(a) + "\n" for a in actions).encode()
    with _fs.open_create(os.path.join(log, f"{version:020d}.json")) as f:
        f.write(data)


def delta_versions(table_path: str) -> list[int]:
    """All commit versions present in the log, ascending."""
    log = _log_path(table_path)
    if not _fs.is_dir(log):
        raise FileNotFoundError(f"not a Delta table (no {_LOG_DIR}): {table_path}")
    out = []
    for name in _fs.listdir(log):
        if name.endswith(".json") and name[:-5].isdigit():
            out.append(int(name[:-5]))
    return sorted(out)


def _latest_checkpoint(table_path: str, version: int):
    """(checkpoint_version, checkpoint_file) of the newest checkpoint
    at or below ``version``, or None."""
    log = _log_path(table_path)
    best = None
    for name in _fs.listdir(log):
        if name.endswith(".checkpoint.parquet"):
            head = name.split(".")[0]
            if head.isdigit() and int(head) <= version:
                if best is None or int(head) > best[0]:
                    best = (int(head), os.path.join(log, name))
    return best


def _latest_version(table_path: str) -> int | None:
    """Newest version the log knows about — JSON commits or, after
    :func:`delta_truncate_log`, the newest checkpoint. None when the
    log directory exists but holds neither."""
    versions = delta_versions(table_path)
    best = max(versions) if versions else None
    ckpt = _latest_checkpoint(table_path, 1 << 60)
    if ckpt is not None and (best is None or ckpt[0] > best):
        best = ckpt[0]
    return best


def _arrow_rows(tbl) -> list[dict]:
    """``Table.to_pylist`` with parquet MAP columns normalized to
    dicts. Foreign (Spark-Delta) checkpoints type ``partitionValues``
    / ``tags`` / ``configuration`` as parquet MAPs, which pyarrow
    surfaces as lists of (key, value) tuples — the sessionless replay
    path must see the same dict shape the JSON commits carry."""
    import pyarrow as pa

    def conv(value, typ):
        if value is None:
            return None
        if pa.types.is_map(typ):
            return {k: conv(v, typ.item_type) for k, v in value}
        if pa.types.is_struct(typ):
            return {
                f.name: conv(value.get(f.name), f.type) for f in typ
            }
        if pa.types.is_list(typ) or pa.types.is_large_list(typ):
            return [conv(v, typ.value_type) for v in value]
        return value

    schema = tbl.schema
    return [
        {f.name: conv(row.get(f.name), f.type) for f in schema}
        for row in tbl.to_pylist()
    ]


def _replay(spark: SparkSession | None, table_path: str, version: int):
    """Active files + metadata at ``version``: checkpoint state (if
    any) then the JSON commits after it, newest action per path wins.
    ``spark=None`` reads the checkpoint with pyarrow instead — the
    sessionless path the ``delta_lite`` Python data source's planning
    step (which runs in a plain Python worker) uses."""
    log = _log_path(table_path)
    adds: dict[str, dict] = {}
    meta = None
    ckpt = _latest_checkpoint(table_path, version)
    start = 0
    if ckpt is not None:
        cp_version, cp_file = ckpt
        start = cp_version + 1
        if spark is None:
            import pyarrow.parquet as pq

            with _fs.open_random(cp_file) as f:
                cp_rows = _arrow_rows(pq.read_table(f))
        else:
            cp_rows = [
                row.asDict(recursive=True)
                for row in spark.read.parquet(cp_file).collect()
            ]
        for d in cp_rows:
            if d.get("add"):
                a = d["add"]
                adds[a["path"]] = a
            if d.get("remove"):
                adds.pop(d["remove"]["path"], None)
            if d.get("metaData") and d["metaData"].get("schemaString"):
                meta = d["metaData"]
    versions = [v for v in delta_versions(table_path) if start <= v <= version]
    expect = list(range(start, version + 1))
    if versions != expect:
        raise ValueError(
            f"Delta log is missing commits {sorted(set(expect) - set(versions))} "
            f"for version {version} (vacuumed past retention?)"
        )
    for v in versions:
        for line in _read_commit_lines(log, v):
            action = json.loads(line)
            if "add" in action:
                a = action["add"]
                adds[a["path"]] = a
            elif "remove" in action:
                adds.pop(action["remove"]["path"], None)
            elif "metaData" in action:
                meta = action["metaData"]
    if meta is None:
        raise ValueError(f"Delta log has no metaData action: {table_path}")
    return adds, meta


# broadcast the tombstone set only when descriptor cardinalities bound
# it (same plan-time policy as the Iceberg reader)
_DV_BROADCAST_ROWS = 1_000_000


def _resolve_dv_path(table_path: str, storage: str, payload: str) -> str:
    """'u': ``{prefix}{20-char Z85 uuid}`` ->
    ``<table>/<prefix>/deletion_vector_<uuid>.bin``; 'p': absolute."""
    import uuid as _uuid

    from dataset_grouper_spark.sources.roaring import z85_decode

    if storage == "p":
        p = payload
        if p.startswith("file:"):
            p = "/" + p.split(":", 1)[1].lstrip("/")
        return p
    if storage != "u":
        raise ValueError(f"deletion vector: unknown storageType {storage!r}")
    encoded, prefix = payload[-20:], payload[:-20]
    u = _uuid.UUID(bytes=z85_decode(encoded))
    name = f"deletion_vector_{u}.bin"
    return (
        os.path.join(table_path, prefix, name)
        if prefix
        else os.path.join(table_path, name)
    )


def _dv_positions_frame(
    spark: SparkSession, table_path: str, dv_adds: list[tuple[str, dict]]
) -> tuple[DataFrame, int | None]:
    """Distributed tombstone expansion: one planning-scale row per DV
    descriptor fans out to executors, each decoding its bitmap and
    emitting ``(__fp, __pos)`` rows — DV bytes never touch the driver.
    Returns (positions frame, exact total cardinality or None)."""
    table_abs = _table_abs(table_path)
    rows = []
    total: int | None = 0
    for abs_path, desc in dv_adds:
        card = desc.get("cardinality")
        if card and total is not None:
            total += card
        else:
            total = None
        rows.append(
            (
                norm_path_py(abs_path),
                desc["storageType"],
                desc["pathOrInlineDv"],
                int(desc.get("offset") or 0),
                int(desc.get("sizeInBytes") or 0),
            )
        )
    meta_df = local_frame(spark, 
        rows,
        "`data_path` string, `storage` string, `payload` string, "
        "`offset` int, `size` int",
    )

    def decode(iterator):
        import pandas as pd

        from dataset_grouper_spark.sources import roaring as R

        for pdf in iterator:
            for r in pdf.itertuples(index=False):
                if r.storage == "i":
                    raw = R.z85_decode(r.payload)
                    if r.size:  # strip z85 alignment padding
                        raw = raw[: r.size]
                    positions = R.dv_data_decode(raw)
                else:
                    path = _resolve_dv_path(table_abs, r.storage, r.payload)
                    positions = R.dv_file_read(path, r.offset, r.size)
                if positions:
                    yield pd.DataFrame(
                        {"__fp": r.data_path, "__pos": positions}
                    )

    frame = meta_df.repartition(max(1, len(rows))).mapInPandas(
        decode, "`__fp` string, `__pos` long"
    )
    return frame, total


def _apply_dvs(
    scans: DataFrame,
    dv_frame: DataFrame,
    total_card: int | None,
    out_cols: list[str],
) -> DataFrame:
    """Anti-join tombstones against the scan's ``__fp``/``__pos``."""
    if total_card is not None and total_card <= _DV_BROADCAST_ROWS:
        dv_frame = F.broadcast(dv_frame)
    return scans.join(dv_frame, ["__fp", "__pos"], "left_anti").select(
        *out_cols
    )


ROW_TRACKING_DOMAIN = "delta.rowTracking"


def _checkpoint_column(cp_file: str, column: str) -> list[dict]:
    """The rows of one top-level action column of a checkpoint (a
    checkpoint's add rows, with stats JSON per live file, are the bulk
    of it, so read just the one column). A checkpoint written without
    the column has no such actions and gives no rows; an unreadable
    checkpoint raises."""
    import pyarrow.parquet as pq

    with _fs.open_random(cp_file) as f:
        pf = pq.ParquetFile(f)
        if column not in pf.schema_arrow.names:
            return []
        return _arrow_rows(pf.read(columns=[column]))


def _current_protocol(table_path: str, version: int) -> dict:
    """The table's governing protocol action at ``version`` —
    checkpoint row first, then the JSON tail, latest wins (the same
    bounded-replay shape as everything else)."""
    proto = {"minReaderVersion": 1, "minWriterVersion": 2}
    log = _log_path(table_path)
    ckpt = _latest_checkpoint(table_path, version)
    start = 0
    if ckpt is not None:
        cp_version, cp_file = ckpt
        start = cp_version + 1
        for d in _checkpoint_column(cp_file, "protocol"):
            if d.get("protocol"):
                proto = d["protocol"]
    for v in [
        v for v in delta_versions(table_path) if start <= v <= version
    ]:
        for line in _read_commit_lines(log, v):
            if line.strip():
                a = json.loads(line)
                if "protocol" in a:
                    proto = a["protocol"]
    return proto


def _merged_protocol(current: dict, want: dict) -> dict:
    """Upgrade ``current`` to support ``want`` WITHOUT clobbering:
    versions take the max, feature lists union — so enabling row
    tracking on a deletion-vector table (or vice versa) keeps BOTH
    features declared for external readers."""
    out = {
        "minReaderVersion": max(
            int(current.get("minReaderVersion") or 1),
            int(want.get("minReaderVersion") or 1),
        ),
        "minWriterVersion": max(
            int(current.get("minWriterVersion") or 2),
            int(want.get("minWriterVersion") or 2),
        ),
    }
    for key in ("readerFeatures", "writerFeatures"):
        feats = sorted(
            set(current.get(key) or []) | set(want.get(key) or [])
        )
        if feats:
            out[key] = feats
    return out


def _domain_metadata(
    spark: SparkSession | None, table_path: str, version: int
) -> dict[str, dict]:
    """Latest ``domainMetadata`` action per domain at ``version`` —
    checkpoint rows first, then the JSON tail (same bounded-replay
    shape as :func:`_replay`); a ``removed`` tombstone drops its
    domain."""
    log = _log_path(table_path)
    out: dict[str, dict] = {}
    ckpt = _latest_checkpoint(table_path, version)
    start = 0
    if ckpt is not None:
        cp_version, cp_file = ckpt
        start = cp_version + 1
        for d in _checkpoint_column(cp_file, "domainMetadata"):
            dm = d.get("domainMetadata")
            if dm and dm.get("domain"):
                out[dm["domain"]] = dm
    for v in [
        v for v in delta_versions(table_path) if start <= v <= version
    ]:
        for line in _read_commit_lines(log, v):
            if not line.strip():
                continue
            a = json.loads(line)
            dm = a.get("domainMetadata")
            if dm and dm.get("domain"):
                if dm.get("removed"):
                    out.pop(dm["domain"], None)
                else:
                    out[dm["domain"]] = dm
    return out


def _row_tracking_watermark(
    spark: SparkSession | None, table_path: str, version: int
) -> int | None:
    """The row-tracking high watermark (highest assigned row id), or
    None when row tracking is not enabled."""
    dm = _domain_metadata(spark, table_path, version).get(
        ROW_TRACKING_DOMAIN
    )
    if dm is None:
        return None
    conf = json.loads(dm.get("configuration") or "{}")
    return int(conf.get("rowIdHighWaterMark", -1))


def _check_materialized_row_id_col(meta: dict) -> None:
    """Honest interop gate (ADVICE r12): the Delta spec records the
    materialized row-id column name in table config
    (``delta.rowTracking.materializedRowIdColumnName``). This
    engine's readers and rewriters use the fixed physical column
    ``_row_id`` (and :func:`delta_enable_row_tracking` records that
    choice in the config); a row-tracked table OPTIMIZEd by a writer
    that chose a different name would silently serve wrong ids
    through the baseRowId+ordinal fallback — raise loudly instead."""
    name = (meta.get("configuration") or {}).get(
        "delta.rowTracking.materializedRowIdColumnName", "_row_id"
    )
    if name != "_row_id":
        raise NotImplementedError(
            f"delta row tracking: this table materializes row ids "
            f"under {name!r}; this engine reads/writes the fixed "
            "column '_row_id' — re-materialize or read through an "
            "engine that honors the configured name"
        )


def delta_enable_row_tracking(
    spark: SparkSession, table_path: str
) -> int | None:
    """Enable Delta ROW TRACKING (the protocol's ``rowTracking``
    writer feature): every live file gets a ``baseRowId`` (assigned
    in add-path order — the deterministic retrofit) and the table
    records its high watermark in the spec's
    ``delta.rowTracking`` domainMetadata. A row's durable identity is
    then ``baseRowId + ordinal``: :func:`read_delta` exposes it as
    ``_row_id``, appends keep assigning fresh id blocks, and
    deletion-vector deletes never renumber survivors (the DV
    delete path re-adds files wholesale, baseRowId riding along).
    One commit: protocol upgrade + domainMetadata + dataChange=false
    re-adds. Returns the committed version, or None when already
    enabled.

    Every file-rewriting operation composes (r12): OPTIMIZE and MERGE
    preserve ids by materializing a physical ``_row_id`` column in
    rewritten files (the spec's row-id materialization — explicit ids
    beat baseRowId + ordinal on read; MERGE updates inherit the
    matched row's id), and RESTORE re-references files with their
    original id assignment (fresh blocks only for pre-enablement
    files). Single-writer assumption for id assignment: the
    blind-append retry rebases the version, not the id block."""
    latest = _latest_version(table_path)
    if latest is None:
        raise FileNotFoundError(f"empty Delta log: {table_path}")
    if _row_tracking_watermark(spark, table_path, latest) is not None:
        return None
    adds, meta = _replay(spark, table_path, latest)
    table_abs = _table_abs(table_path)
    cur = 0
    actions = [
        {
            "protocol": _merged_protocol(
                _current_protocol(table_path, latest),
                {
                    "minReaderVersion": 1,
                    "minWriterVersion": 7,
                    "writerFeatures": ["domainMetadata", "rowTracking"],
                },
            )
        }
    ]
    for rel in sorted(adds):
        a = dict(adds[rel])
        st = json.loads(a.get("stats") or "{}")
        n = st.get("numRecords")
        if n is None:
            from dataset_grouper_spark.sources.convert import (
                _parquet_row_count,
            )

            n = _parquet_row_count(os.path.join(table_abs, rel))
        a["baseRowId"] = cur
        a["dataChange"] = False
        cur += int(n)
        actions.append({"add": a})
    actions.insert(
        1,
        {
            "domainMetadata": {
                "domain": ROW_TRACKING_DOMAIN,
                "configuration": json.dumps(
                    {"rowIdHighWaterMark": cur - 1}
                ),
                "removed": False,
            }
        },
    )
    # record the materialized-column choice in table config (the
    # spec's delta.rowTracking.materializedRowIdColumnName) so other
    # engines resolve this table's rewritten files correctly — and
    # _check_materialized_row_id_col gates the reverse direction
    new_meta = {k: v for k, v in meta.items() if not k.startswith("__")}
    conf = dict(new_meta.get("configuration") or {})
    conf["delta.rowTracking.materializedRowIdColumnName"] = "_row_id"
    new_meta["configuration"] = conf
    actions.insert(2, {"metaData": new_meta})
    version = latest + 1
    _write_commit(_log_path(table_path), version, actions)
    return version


def _physical_names(meta: dict) -> dict[str, str]:
    """logical -> physical column names. Tables with column mapping
    (``delta.columnMapping.mode`` = name/id — mandatory once a column
    has ever been renamed/dropped) store data under stable physical
    names (``col-<uuid>``) recorded in each schema field's
    ``delta.columnMapping.physicalName`` metadata; partitionValues
    keys are physical too. Identity when mapping is off."""
    fields = json.loads(meta["schemaString"]).get("fields", [])
    out = {}
    for f in fields:
        md = f.get("metadata") or {}
        out[f["name"]] = md.get(
            "delta.columnMapping.physicalName", f["name"]
        )
    return out


def read_delta(
    spark: SparkSession,
    table_path: str,
    version: int | None = None,
    timestamp: float | None = None,
    skip_filters=None,
    bloom_point=None,
    row_ids: bool = False,
) -> DataFrame:
    """Read a Delta table at ``version`` (default: latest) — the pinned
    snapshot a Delta reader contract guarantees: exactly the files the
    chosen commit considered live, regardless of later writes.
    ``timestamp`` (unix seconds, exclusive with ``version``) is
    ``timestampAsOf``: the newest commit at or before that instant
    (:func:`resolve_delta_version`).

    ``skip_filters`` — a conjunction of ``(column, op, literal)``
    triples — is DATA SKIPPING: files whose log stats envelope
    (``add.stats`` min/max, written by this module's writers) or
    partition values PROVE no row can match are never planned, so a
    selective read on a huge table opens only candidate files. It is
    file-level pruning, NOT a row filter: pair it with the matching
    ``.filter()`` for exact results (same contract as Iceberg's
    ``partition_filter``).

    ``bloom_point=(col, value)`` prunes through the per-file Bloom
    point-lookup index when one was built
    (:func:`dataset_grouper_spark.sources.delta_bloom.
    delta_build_bloom_index`) — the point-predicate complement to the
    envelope skipping above; same file-level-only contract.

    Partitioned tables come back with their partition columns restored
    from the log's ``partitionValues`` and cast to the schema's types;
    an empty active set returns an empty frame with the table schema.
    Column-mapped tables (name/id modes) scan under their physical
    names and come back with logical ones.
    """
    if version is not None and timestamp is not None:
        raise ValueError("read_delta: version and timestamp are exclusive")
    if timestamp is not None:
        version = resolve_delta_version(table_path, timestamp)
    versions = delta_versions(table_path)
    ckpt = _latest_checkpoint(table_path, 1 << 60)
    if not versions and ckpt is None:
        raise FileNotFoundError(f"empty Delta log: {table_path}")
    if version is None:
        # a fully-cleaned log may hold ONLY a checkpoint — the table's
        # latest state is then the checkpoint's version
        target = max(versions) if versions else ckpt[0]
    else:
        target = version
    adds, meta = _replay(spark, table_path, target)
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    part_cols = list(meta.get("partitionColumns") or [])
    if skip_filters:
        phys_map = _physical_names(meta)
        adds = {
            rel: a
            for rel, a in adds.items()
            if _add_may_match(a, skip_filters, part_cols, phys_map)
        }
    if bloom_point is not None:
        # per-file Bloom point-lookup index (sources/delta_bloom.py):
        # a sidecar miss PROVES the file holds no matching row; files
        # without a sidecar stay (advisory index, never wrong). Pair
        # with the matching .filter() — file pruning, not a row filter.
        from dataset_grouper_spark.sources.delta_bloom import (
            delta_bloom_prune,
        )

        ptype = next(
            (
                f.dataType.simpleString()
                for f in schema.fields
                if f.name == bloom_point[0]
            ),
            None,
        )
        adds = delta_bloom_prune(
            spark, table_path, adds, bloom_point[0], bloom_point[1],
            probe_type=ptype,
        )
    if not adds:
        if row_ids:
            # schema contract: _row_id is present even when pruning
            # (or emptiness) planned zero files
            schema = StructType(
                list(schema.fields) + [StructField("_row_id", LongType())]
            )
        return spark.createDataFrame([], schema)
    table_abs = _table_abs(table_path)
    dv_adds = [
        (os.path.join(table_abs, a["path"]), a["deletionVector"])
        for a in adds.values()
        if a.get("deletionVector")
    ]
    out_cols = [f.name for f in schema.fields]
    phys = _physical_names(meta)

    want_tags = bool(dv_adds) or row_ids

    def tag(df: DataFrame) -> DataFrame:
        # DV application (and row-id materialization) key off the
        # scan's own file/row-ordinal metadata — attach them at scan
        # time, before any projection
        if not want_tags:
            return df
        return df.withColumns(
            {
                "__fp": norm_path(F.col("_metadata.file_path")),
                "__pos": F.col("_metadata.row_index"),
            }
        )

    tags = ["__fp", "__pos"] if want_tags else []
    if row_ids:
        # compacted files MATERIALIZE _row_id physically (the spec's
        # row-id materialization on rewrite); older files lack the
        # column and read null, falling back to baseRowId + ordinal
        _check_materialized_row_id_col(meta)
        tags = tags + ["_row_id"]
    sel_cols = out_cols + tags

    def unmap(df: DataFrame, logical_names: list[str]) -> DataFrame:
        # physical -> logical rename, AFTER tag() (the metadata struct
        # must be referenced on the raw scan, before projections)
        return df.select(
            *[F.col(phys[n]).alias(n) for n in logical_names],
            *[F.col(t) for t in tags],
        )

    rid_field = (
        [StructField("_row_id", LongType(), True)] if row_ids else []
    )
    if not part_cols:
        paths = [os.path.join(table_abs, a["path"]) for a in adds.values()]
        scan_schema = StructType(
            [
                StructField(phys[f.name], f.dataType, True)
                for f in schema.fields
            ]
            + rid_field
        )
        result = unmap(
            tag(spark.read.schema(scan_schema).parquet(*paths)), out_cols
        )
    else:
        # group files by partition values; each group is one scan with
        # its partition literals attached (typed via the table schema)
        data_fields = [f for f in schema.fields if f.name not in part_cols]
        data_schema = StructType(
            [StructField(phys[f.name], f.dataType, True) for f in data_fields]
            + rid_field
        )
        types = {f.name: f.dataType for f in schema.fields}
        groups: dict[tuple, list[str]] = {}
        for a in adds.values():
            pv = a.get("partitionValues") or {}
            key = tuple(pv.get(phys[c], pv.get(c)) for c in part_cols)
            groups.setdefault(key, []).append(
                os.path.join(table_abs, a["path"])
            )
        frames = []
        # None-safe ordering: a null partition value must sort, not crash
        for key, paths in sorted(
            groups.items(),
            key=lambda kv: tuple((v is None, v or "") for v in kv[0]),
        ):
            df = unmap(
                tag(spark.read.schema(data_schema).parquet(*paths)),
                [f.name for f in data_fields],
            )
            for c, raw in zip(part_cols, key):
                lit = (
                    F.lit(None).cast(types[c])
                    if raw is None
                    else F.lit(raw).cast(types[c])
                )
                df = df.withColumn(c, lit)
            frames.append(df.select(sel_cols))
        result = reduce(DataFrame.unionByName, frames)
    if row_ids:
        # ROW TRACKING: _row_id = the file's materialized _row_id
        # column when present (OPTIMIZE-compacted files), else
        # baseRowId + the row's ordinal; deletes compose (dead rows
        # vanish, survivors keep their ids). Computed BEFORE DV
        # application — identity does not depend on what else died.
        missing = [rel for rel, a in adds.items() if "baseRowId" not in a]
        if missing:
            raise ValueError(
                "read_delta(row_ids=True): row tracking is not enabled "
                f"(first file without baseRowId: {missing[0]!r}) — run "
                "delta_enable_row_tracking first"
            )
        fmap = local_frame(spark, 
            [
                (
                    norm_path_py(os.path.join(table_abs, rel)),
                    int(a["baseRowId"]),
                )
                for rel, a in adds.items()
            ],
            "`__fp` string, `__brid` long",
        )
        result = (
            result.join(F.broadcast(fmap), "__fp", "left")
            .withColumn(
                "_row_id",
                F.coalesce(
                    F.col("_row_id"), F.col("__brid") + F.col("__pos")
                ),
            )
            .drop("__brid")
        )
        out_cols = out_cols + ["_row_id"]
    if dv_adds:
        dv_frame, total = _dv_positions_frame(spark, table_path, dv_adds)
        result = _apply_dvs(result, dv_frame, total, out_cols)
    elif row_ids:
        result = result.select(*out_cols)
    return result


def delta_append(
    spark: SparkSession,
    df: DataFrame,
    table_path: str,
    partition_by: list[str] | None = None,
    max_retries: int = 10,
    extra_actions: list[dict] | None = None,
    merge_schema: bool = False,
) -> int:
    """APPEND ``df`` to a Delta table as one atomic commit; creates the
    table (protocol + metaData at version 0) when the log is absent.
    Returns the committed version.

    Commit protocol per the spec: data files land first (invisible
    until committed), then the ``<version>.json`` log entry is claimed
    with an EXCLUSIVE create (``open(..., 'x')`` — put-if-absent); a
    concurrent writer losing the race retries at the next version,
    which is safe for blind appends (no remove actions to rebase).
    Partitioned writes stage through ``partitionBy`` so partition
    columns live OUTSIDE the data files, Delta-style, and land in
    ``add.partitionValues``.

    Scope (honest): append-only — no update/merge/remove actions,
    writerVersion 2 semantics without invariants/CDC.
    ``merge_schema=True`` is ``mergeSchema`` for NEW columns: the frame
    must still carry every existing column (same types), extra columns
    are appended to the table schema in one metaData action riding the
    same commit, and older files backfill them as NULL on read (the
    schema-superset parquet scan does this for free). Gated off for
    changes to existing columns (type changes, drops — those are not
    append-safe).

    COLUMN-MAPPED tables (``delta.columnMapping.mode`` name/id) write
    correctly: data files are staged under the stable PHYSICAL
    ``col-<n>`` names from the field metadata (a logical-named file in
    a mapped table reads back as all-NULL — the exact failure mapping
    exists to prevent), partitionValues keys are physical, and
    ``merge_schema`` assigns each NEW column the next
    ``delta.columnMapping.maxColumnId`` field id + a fresh
    ``col-<uuid>`` physical name in the same metaData action.

    ``extra_actions`` (internal) are appended verbatim to every commit
    attempt — the hook ``delta_append_txn`` uses to ride a ``txn``
    action in the same atomic commit as the data.
    """
    import glob
    import shutil
    import tempfile
    import uuid

    part_cols = list(partition_by or [])
    log = _log_path(table_path)
    latest = _latest_version(table_path) if _fs.is_dir(log) else None
    exists = latest is not None
    evolved_meta = None
    phys: dict[str, str] = {}
    if exists:
        _adds, meta = _replay(spark, table_path, latest)
        existing_schema = StructType.fromJson(json.loads(meta["schemaString"]))
        existing_names = [f.name for f in existing_schema.fields]
        phys = {
            k: v for k, v in _physical_names(meta).items() if k != v
        }
        if existing_names != df.columns:
            new_names = [c for c in df.columns if c not in existing_names]
            missing = [n for n in existing_names if n not in df.columns]
            conf = dict(meta.get("configuration") or {})
            if not (merge_schema and new_names and not missing):
                raise ValueError(
                    f"delta_append: schema mismatch — table has "
                    f"{existing_names}, frame has {df.columns}"
                    + (
                        " (merge_schema adds new columns only; the frame "
                        f"is missing {missing})"
                        if merge_schema and missing
                        else ""
                    )
                )
            frame_types = {f.name: f.dataType for f in df.schema.fields}
            for f in existing_schema.fields:
                if frame_types[f.name] != f.dataType:
                    raise ValueError(
                        f"delta_append: merge_schema cannot change column "
                        f"{f.name!r} from {f.dataType} to "
                        f"{frame_types[f.name]}"
                    )
            df = df.select(*existing_names, *new_names)
            mapped = conf.get("delta.columnMapping.mode") in ("name", "id")
            new_fields = []
            if mapped:
                # each NEW column gets the next field id and a fresh
                # stable physical name, spec-style; maxColumnId rides
                # the same metaData action
                next_id = int(conf.get("delta.columnMapping.maxColumnId", 0))
                for f in df.schema.fields:
                    if f.name not in new_names:
                        continue
                    next_id += 1
                    pname = f"col-{uuid.uuid4().hex[:12]}"
                    md = dict(f.metadata or {})
                    md["delta.columnMapping.id"] = next_id
                    md["delta.columnMapping.physicalName"] = pname
                    new_fields.append(
                        StructField(f.name, f.dataType, True, md)
                    )
                    phys[f.name] = pname
                conf["delta.columnMapping.maxColumnId"] = str(next_id)
            else:
                new_fields = [
                    StructField(f.name, f.dataType, True, f.metadata)
                    for f in df.schema.fields
                    if f.name in new_names
                ]
            # new fields are FORCED nullable: every pre-evolution file
            # backfills them as NULL on read, whatever the frame says
            merged = StructType(list(existing_schema.fields) + new_fields)
            evolved_meta = dict(meta)
            evolved_meta["schemaString"] = merged.json()
            evolved_meta["configuration"] = conf
        if list(meta.get("partitionColumns") or []) != part_cols:
            raise ValueError("delta_append: partition columns mismatch")
    _fs.makedirs(log)
    stage = tempfile.mkdtemp(prefix="_delta_stage_")
    stage_df = df
    stage_parts = part_cols
    if phys:
        # column-mapped table: files carry PHYSICAL names (a
        # logical-named file would read back all-NULL), partition dirs
        # and pv keys physical too
        stage_df = df.select(
            *[F.col(c).alias(phys.get(c, c)) for c in df.columns]
        )
        stage_parts = [phys.get(c, c) for c in part_cols]
    writer = stage_df.write.mode("overwrite")
    if stage_parts:
        writer = writer.partitionBy(*stage_parts)
    writer.parquet(stage)
    adds = []
    if part_cols:
        pattern = os.path.join(stage, *["*"] * len(part_cols), "part-*.parquet")
    else:
        pattern = os.path.join(stage, "part-*.parquet")
    for src in sorted(glob.glob(pattern)):
        rel_dir = os.path.relpath(os.path.dirname(src), stage)
        pv = {}
        if part_cols:
            for piece in rel_dir.split(os.sep):
                k, _, v = piece.partition("=")
                pv[k] = None if v == "__HIVE_DEFAULT_PARTITION__" else v
        name = f"part-{uuid.uuid4().hex}.parquet"
        rel = os.path.join(rel_dir, name) if rel_dir != "." else name
        _fs.makedirs(
            os.path.dirname(os.path.join(table_path, rel)) or table_path
        )
        _fs.move(src, os.path.join(table_path, rel))
        adds.append(
            {
                "add": {
                    "path": rel.replace(os.sep, "/"),
                    "partitionValues": pv,
                    "size": _fs.file_size(os.path.join(table_path, rel)),
                    "modificationTime": 0,
                    "dataChange": True,
                    # footer-derived stats JSON: what data skipping
                    # (delta_skip_plan / read_delta skip_filters) prunes
                    # on — under column mapping the footer carries
                    # PHYSICAL names, so stats keys are physical too
                    # (exactly what the skip planner resolves)
                    "stats": _file_stats(
                        os.path.join(table_path, rel),
                        [
                            StructField(
                                phys.get(f.name, f.name), f.dataType
                            )
                            for f in df.schema.fields
                            if f.name not in part_cols
                        ],
                    ),
                }
            }
        )
    shutil.rmtree(stage, ignore_errors=True)
    rt_hwm = (
        _row_tracking_watermark(spark, table_path, latest)
        if exists
        else None
    )
    if rt_hwm is not None:
        # row tracking: each new file takes the next baseRowId block;
        # the advanced watermark rides the SAME commit (atomic)
        cur = rt_hwm + 1
        for a in adds:
            st = json.loads(a["add"].get("stats") or "{}")
            n = st.get("numRecords")
            if n is None:
                # a stats-less add MUST NOT take a zero-width block —
                # the next file's row ids would overlap it, corrupting
                # the _row_id identity contract; mirror the
                # enable-row-tracking path: count from the footer
                from dataset_grouper_spark.sources.convert import (
                    _parquet_row_count,
                )

                n = _parquet_row_count(
                    os.path.join(table_path, a["add"]["path"])
                )
            a["add"]["baseRowId"] = cur
            cur += int(n)
    actions = []
    if not exists:
        actions.append(
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
        )
        actions.append(
            {
                "metaData": {
                    "id": str(uuid.uuid4()),
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": df.schema.json(),
                    "partitionColumns": part_cols,
                    "configuration": {},
                    "createdTime": 0,
                }
            }
        )
    if evolved_meta is not None:
        actions.append({"metaData": evolved_meta})
    actions.extend(adds)
    if rt_hwm is not None:
        actions.append(
            {
                "domainMetadata": {
                    "domain": ROW_TRACKING_DOMAIN,
                    "configuration": json.dumps(
                        {"rowIdHighWaterMark": cur - 1}
                    ),
                    "removed": False,
                }
            }
        )
    actions.extend(extra_actions or [])
    version = (latest + 1) if exists else 0
    for _ in range(max_retries):
        try:
            _write_commit(log, version, actions)
            return version
        except FileExistsError:
            if not exists:
                # lost the TABLE-CREATION race: the winner's
                # protocol/metaData govern now — validate against them
                # and strip ours, or a second metaData (new table id,
                # unchecked schema) would silently override the
                # winner's in every later replay
                exists = True
                _a, meta = _replay(
                    spark, table_path, _latest_version(table_path)
                )
                won_schema = StructType.fromJson(
                    json.loads(meta["schemaString"])
                )
                if [f.name for f in won_schema.fields] != df.columns:
                    raise ValueError(
                        "delta_append: schema mismatch with concurrently "
                        "created table"
                    )
                if list(meta.get("partitionColumns") or []) != part_cols:
                    raise ValueError(
                        "delta_append: partition columns mismatch with "
                        "concurrently created table"
                    )
                actions = adds + list(extra_actions or [])
            version += 1  # blind appends rebase trivially
    raise RuntimeError(
        f"delta_append: could not claim a commit after {max_retries} retries"
    )


def delta_delete_where(
    spark: SparkSession, table_path: str, condition
) -> int:
    """Merge-on-read DELETE via deletion vectors: commit a new version
    in which every current row matching ``condition`` is tombstoned in
    its file's roaring bitmap — no data file is rewritten, so the
    write cost is O(deleted rows) while a copy-on-write delete pays
    O(touched files). Readers (ours, delta-spark, Trino, delta-rs)
    drop the positions on scan.

    Fully distributed: matching rows reduce to (file, row-ordinal)
    pairs from the scan's own ``_metadata`` columns; each affected
    file's positions group to ONE executor task which unions them with
    the file's existing DV (descriptors ride the broadcast path map),
    serializes the bitmap (``sources.roaring``), and writes the
    ``.bin`` sidecar — positions never pass through the driver; the
    driver commits only descriptor rows (planning-scale).

    Files whose tombstone set does not change keep their existing add
    action untouched; if NO file changes, no version is committed and
    the current version is returned. A file whose every row ends up
    deleted keeps an all-rows DV (valid per protocol; readers return
    nothing from it). The commit claims ``<version>.json`` with an
    exclusive create and RAISES on a lost race rather than rebasing —
    remove/re-add pairs do not rebase blindly the way appends do.

    Honest scope: single delete commit per call, no DV packing across
    files (one ``.bin`` per affected file), protocol upgraded to
    reader 3 / writer 7 with the deletionVectors feature flags."""
    cond = F.expr(condition) if isinstance(condition, str) else condition
    target = _latest_version(table_path)
    if target is None:
        raise FileNotFoundError(f"empty Delta log: {table_path}")
    adds, meta = _replay(spark, table_path, target)
    if not adds:
        return target
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    part_cols = list(meta.get("partitionColumns") or [])
    table_abs = _table_abs(table_path)

    # raw current-state scan with (__fp, __pos); existing tombstones
    # need not be subtracted before matching — a re-matched deleted
    # row unions into the same position set (idempotent by algebra)
    phys = _physical_names(meta)

    def tagged(df: DataFrame) -> DataFrame:
        return df.withColumns(
            {
                "__fp": norm_path(F.col("_metadata.file_path")),
                "__pos": F.col("_metadata.row_index"),
            }
        )

    def unmap(df: DataFrame, logical_names: list[str]) -> DataFrame:
        return df.select(
            *[F.col(phys[n]).alias(n) for n in logical_names],
            F.col("__fp"),
            F.col("__pos"),
        )

    if not part_cols:
        paths = [os.path.join(table_abs, a["path"]) for a in adds.values()]
        scan_schema = StructType(
            [
                StructField(phys[f.name], f.dataType, True)
                for f in schema.fields
            ]
        )
        state = unmap(
            tagged(spark.read.schema(scan_schema).parquet(*paths)),
            [f.name for f in schema.fields],
        )
    else:
        data_fields = [f for f in schema.fields if f.name not in part_cols]
        data_schema = StructType(
            [StructField(phys[f.name], f.dataType, True) for f in data_fields]
        )
        types = {f.name: f.dataType for f in schema.fields}
        groups: dict[tuple, list[str]] = {}
        for a in adds.values():
            pv = a.get("partitionValues") or {}
            key = tuple(pv.get(phys[c], pv.get(c)) for c in part_cols)
            groups.setdefault(key, []).append(
                os.path.join(table_abs, a["path"])
            )
        frames = []
        for key, paths in sorted(
            groups.items(),
            key=lambda kv: tuple((v is None, v or "") for v in kv[0]),
        ):
            df = unmap(
                tagged(spark.read.schema(data_schema).parquet(*paths)),
                [f.name for f in data_fields],
            )
            for c, raw in zip(part_cols, key):
                lit = (
                    F.lit(None).cast(types[c])
                    if raw is None
                    else F.lit(raw).cast(types[c])
                )
                df = df.withColumn(c, lit)
            frames.append(
                df.select(
                    [f.name for f in schema.fields] + ["__fp", "__pos"]
                )
            )
        state = reduce(DataFrame.unionByName, frames)

    # planning-scale map: scanned path -> rel path + current descriptor
    map_rows = []
    for rel, a in adds.items():
        dv = a.get("deletionVector") or {}
        map_rows.append(
            (
                norm_path_py(os.path.join(table_abs, rel)),
                rel,
                dv.get("storageType"),
                dv.get("pathOrInlineDv"),
                int(dv.get("offset") or 0),
                int(dv.get("sizeInBytes") or 0),
            )
        )
    path_map = local_frame(spark, 
        map_rows,
        "`__fp` string, `rel` string, `dv_storage` string, "
        "`dv_payload` string, `dv_offset` int, `dv_size` int",
    )
    hits = (
        state.filter(cond)
        .select("__fp", "__pos")
        .join(F.broadcast(path_map), "__fp")
    )

    out_schema = (
        "`rel` string, `payload` string, `offset` long, `size` long, "
        "`card` long, `changed` boolean"
    )

    def write_dv(key, pdf):
        import uuid as _uuid

        import pandas as pd

        from dataset_grouper_spark.sources import roaring as R

        rel = key[0]
        r0 = pdf.iloc[0]
        if r0["dv_storage"] == "i":
            raw = R.z85_decode(r0["dv_payload"])
            if int(r0["dv_size"]):
                raw = raw[: int(r0["dv_size"])]
            old = R.dv_data_decode(raw)
        elif r0["dv_storage"]:
            old = R.dv_file_read(
                _resolve_dv_path(
                    table_abs, r0["dv_storage"], r0["dv_payload"]
                ),
                int(r0["dv_offset"]),
                int(r0["dv_size"]),
            )
        else:
            old = []
        newpos = sorted(set(old) | set(int(p) for p in pdf["__pos"]))
        if len(newpos) == len(old):
            return pd.DataFrame(
                [{"rel": rel, "payload": "", "offset": 0, "size": 0,
                  "card": 0, "changed": False}]
            )
        u = _uuid.uuid4()
        dv_path = os.path.join(table_abs, f"deletion_vector_{u}.bin")
        offset, size, card = R.dv_file_write(dv_path, newpos)
        return pd.DataFrame(
            [{"rel": rel, "payload": R.z85_encode(u.bytes),
              "offset": offset, "size": size, "card": card,
              "changed": True}]
        )

    descriptors = [
        r.asDict()
        for r in hits.groupBy("rel").applyInPandas(
            write_dv, out_schema
        ).collect()
    ]
    changed = [d for d in descriptors if d["changed"]]
    if not changed:
        return target
    actions = [
        {
            "protocol": _merged_protocol(
                _current_protocol(table_path, target),
                {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["deletionVectors"],
                    "writerFeatures": ["deletionVectors"],
                },
            )
        }
    ]
    for d in changed:
        old_add = adds[d["rel"]]
        actions.append(
            {
                "remove": {
                    "path": d["rel"],
                    "dataChange": True,
                    "deletionTimestamp": 0,
                    "partitionValues": old_add.get("partitionValues") or {},
                }
            }
        )
        # carry the old add wholesale (stats envelopes, partition
        # values) — only the DV descriptor and dataChange change;
        # stats stay VALID per protocol (they describe the physical
        # file; tombstoned rows are dropped at scan, envelopes only
        # ever over-approximate, which skipping is safe under)
        re_add = dict(old_add)
        re_add["dataChange"] = True
        re_add["deletionVector"] = {
            "storageType": "u",
            "pathOrInlineDv": d["payload"],
            "offset": d["offset"],
            "sizeInBytes": d["size"],
            "cardinality": d["card"],
        }
        actions.append({"add": re_add})
    log = _log_path(table_path)
    version = target + 1
    try:
        _write_commit(log, version, actions)
    except FileExistsError:
        raise RuntimeError(
            "delta_delete_where: lost the commit race at version "
            f"{version} — re-run against the new table state (deletes "
            "do not rebase blindly)"
        )
    return version


def _all_txns(table_path: str) -> dict[str, int]:
    """Latest committed ``txn`` version per appId: the latest
    checkpoint's ``txn`` rows plus the JSON tail. Sessionless — the
    checkpoint is read with pyarrow, so stream writer commit hooks
    (which run where no SparkSession is guaranteed) can call it."""
    log = _log_path(table_path)
    if not _fs.is_dir(log):
        raise FileNotFoundError(f"not a Delta table: {table_path}")
    best: dict[str, int] = {}

    def fold(t: dict | None) -> None:
        if t and t.get("appId") is not None and t.get("version") is not None:
            a, v = t["appId"], int(t["version"])
            best[a] = max(best.get(a, v), v)

    ckpt = _latest_checkpoint(table_path, 1 << 60)
    start = 0
    if ckpt is not None:
        import pyarrow.parquet as pq

        cp_version, cp_file = ckpt
        start = cp_version + 1
        with _fs.open_random(cp_file) as f:
            pf = pq.ParquetFile(f)
            if "txn" in pf.schema_arrow.names:
                for t in pf.read(columns=["txn"]).column("txn").to_pylist():
                    fold(t)
    for v in delta_versions(table_path):
        if v < start:
            continue
        for line in _read_commit_lines(log, v):
            fold(json.loads(line).get("txn"))
    return best


def delta_last_txn_version(
    spark: SparkSession, table_path: str, app_id: str
) -> int | None:
    """Highest committed ``txn`` version for ``app_id`` — the Delta
    protocol's idempotent-writer primitive. None if the app has never
    committed. ``spark`` is unused (the log walk is sessionless); it
    stays for the public signature."""
    return _all_txns(table_path).get(app_id)


def delta_checkpoint(spark: SparkSession, table_path: str) -> int:
    """Write a ``<version>.checkpoint.parquet`` snapshotting the
    CURRENT table state (protocol, metaData, live adds — deletion
    vectors included — and per-app txn high-water marks), plus the
    ``_last_checkpoint`` pointer. Replay after this reads ONE parquet
    file + the JSON tail instead of the whole log — the protocol's
    bounded-replay contract; pair with :func:`delta_truncate_log` to
    drop the replaced JSON commits. Returns the checkpointed version.

    The row count is O(live files) — planning-scale, written in one
    task."""
    import glob as _glob
    import shutil
    import tempfile

    versions = delta_versions(table_path)
    ckpt = _latest_checkpoint(table_path, 1 << 60)
    if not versions:
        raise ValueError(
            "delta_checkpoint: no JSON commits to checkpoint"
            + (" beyond the existing checkpoint" if ckpt else "")
        )
    target = max(versions)
    adds, meta = _replay(spark, table_path, target)
    # latest protocol action — checkpoint-aware (_current_protocol):
    # after a truncate the JSON tail may hold NO protocol action, and
    # defaulting would falsify an upgraded table's protocol (row
    # tracking / deletion vectors) in the new checkpoint
    protocol = _current_protocol(table_path, target)
    log = _log_path(table_path)
    rows = [{"protocol": protocol}, {"metaData": meta}]
    rows += [{"add": a} for a in adds.values()]
    rows += [
        {"txn": {"appId": app, "version": v, "lastUpdated": 0}}
        for app, v in sorted(_all_txns(table_path).items())
    ]
    # spec: checkpoints must carry live domainMetadata — the row-
    # tracking watermark (and any other domain) survives log truncation
    rows += [
        {"domainMetadata": dm}
        for _d, dm in sorted(
            _domain_metadata(spark, table_path, target).items()
        )
    ]
    cp = spark.read.json(
        spark.sparkContext.parallelize([json.dumps(r) for r in rows], 1)
    )
    stage = tempfile.mkdtemp(prefix="_delta_ckpt_")
    cp.coalesce(1).write.mode("overwrite").parquet(stage)
    src = _glob.glob(os.path.join(stage, "part-*.parquet"))[0]
    _fs.move(src, os.path.join(log, f"{target:020d}.checkpoint.parquet"))
    shutil.rmtree(stage, ignore_errors=True)
    _fs.write_text(
        os.path.join(log, "_last_checkpoint"),
        json.dumps({"version": target, "size": len(rows)}),
    )
    return target


def delta_truncate_log(table_path: str) -> list[int]:
    """Delete the JSON commits a checkpoint has replaced (versions at
    or below the newest checkpoint). Latest-state reads are unaffected
    (replay starts at the checkpoint); TIME TRAVEL to the truncated
    versions becomes unavailable and raises its existing
    missing-commits error — the standard log-retention trade-off,
    applied explicitly rather than on a clock. Returns the versions
    removed."""
    ckpt = _latest_checkpoint(table_path, 1 << 60)
    if ckpt is None:
        return []
    cp_version = ckpt[0]
    log = _log_path(table_path)
    removed = []
    for v in delta_versions(table_path):
        if v <= cp_version:
            _fs.remove(os.path.join(log, f"{v:020d}.json"))
            removed.append(v)
    return removed


def delta_append_txn(
    spark: SparkSession,
    df: DataFrame,
    table_path: str,
    app_id: str,
    txn_version: int,
    partition_by: list[str] | None = None,
) -> int | None:
    """Idempotent append: the data AND a ``txn`` action
    ``{appId, version}`` land in ONE atomic commit — the Delta
    protocol's exactly-once contract for streaming writers. A replay
    (``txn_version`` at or below the app's last committed version) is
    a NO-OP returning None, so a foreachBatch crash between commit and
    stream-checkpoint cannot duplicate an epoch.

    Assumes one live writer per app_id (the stream checkpoint's own
    guarantee); concurrent DIFFERENT app_ids interleave safely via the
    put-if-absent version claim."""
    last = None
    if (
        _fs.is_dir(_log_path(table_path))
        and _latest_version(table_path) is not None
    ):
        last = delta_last_txn_version(spark, table_path, app_id)
    if last is not None and txn_version <= last:
        return None
    return delta_append(
        spark,
        df,
        table_path,
        partition_by=partition_by,
        extra_actions=[
            {
                "txn": {
                    "appId": app_id,
                    "version": int(txn_version),
                    "lastUpdated": 0,
                }
            }
        ],
    )


def _appended_adds(
    table_path: str, versions: list[int], context: str
) -> dict[str, dict]:
    """path -> add action for every ``dataChange`` add the commits
    ``versions`` made. Raises when one of them removes data with
    ``dataChange=true`` (update/delete): its net change is not an
    append row-set. OPTIMIZE commits (``dataChange=false``) add
    nothing."""
    log = _log_path(table_path)
    adds: dict[str, dict] = {}
    for v in versions:
        for line in _read_commit_lines(log, v):
            action = json.loads(line)
            if "add" in action and action["add"].get("dataChange", True):
                adds[action["add"]["path"]] = action["add"]
            elif "remove" in action and action["remove"].get(
                "dataChange", True
            ):
                raise ValueError(
                    f"{context}: commit {v} removes data (update/delete) "
                    "— the change set is not append-only"
                )
    return adds


def read_delta_changes(
    spark: SparkSession,
    table_path: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """CDC-lite: the rows APPENDED between ``from_version``
    (exclusive) and ``to_version`` (inclusive; default latest) — the
    union of every ``dataChange`` add action's file in that commit
    range. This is the incremental-consumption contract append-only
    pipelines need (feed new Delta commits into an incremental dedup
    screen or a matview fold without rescanning the table); commits
    containing REMOVE actions with dataChange=true (updates/deletes)
    raise — their net change is not expressible as a row set without
    a CDF, and silently returning the adds would over-count.

    Scale shape: reads ONLY the files the selected commits added —
    O(new data), never O(table)."""
    versions = delta_versions(table_path)
    latest = _latest_version(table_path)
    if latest is None:
        raise FileNotFoundError(f"empty Delta log: {table_path}")
    hi = latest if to_version is None else to_version
    want = [v for v in versions if from_version < v <= hi]
    expect = list(range(from_version + 1, hi + 1))
    if want != expect:
        raise ValueError(
            f"read_delta_changes: missing commits "
            f"{sorted(set(expect) - set(want))} (vacuumed past retention?)"
        )
    # schema/partitioning from the table state at `hi`
    _adds, meta = _replay(spark, table_path, hi)
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    part_cols = list(meta.get("partitionColumns") or [])
    adds = _appended_adds(table_path, want, "read_delta_changes")
    if not adds:
        return spark.createDataFrame([], schema)
    phys = _physical_names(meta)
    if not part_cols:
        paths = [os.path.join(table_path, a["path"]) for a in adds.values()]
        scan_schema = StructType(
            [
                StructField(phys[f.name], f.dataType, True)
                for f in schema.fields
            ]
        )
        return spark.read.schema(scan_schema).parquet(*paths).select(
            *[F.col(phys[f.name]).alias(f.name) for f in schema.fields]
        )
    data_fields = [f for f in schema.fields if f.name not in part_cols]
    data_schema = StructType(
        [StructField(phys[f.name], f.dataType, True) for f in data_fields]
    )
    types = {f.name: f.dataType for f in schema.fields}
    groups: dict[tuple, list[str]] = {}
    for a in adds.values():
        pv = a.get("partitionValues") or {}
        key = tuple(pv.get(phys[c], pv.get(c)) for c in part_cols)
        groups.setdefault(key, []).append(os.path.join(table_path, a["path"]))
    frames = []
    for key, paths in sorted(
        groups.items(),
        key=lambda kv: tuple((v is None, v or "") for v in kv[0]),
    ):
        df = spark.read.schema(data_schema).parquet(*paths).select(
            *[F.col(phys[f.name]).alias(f.name) for f in data_fields]
        )
        for c, raw in zip(part_cols, key):
            lit = (
                F.lit(None).cast(types[c])
                if raw is None
                else F.lit(raw).cast(types[c])
            )
            df = df.withColumn(c, lit)
        frames.append(df.select([f.name for f in schema.fields]))
    return reduce(DataFrame.unionByName, frames)


def resolve_delta_version(table_path: str, timestamp: float) -> int:
    """TIMESTAMP-based version resolution, the Delta contract: the
    NEWEST commit whose timestamp is at or below ``timestamp`` (unix
    seconds). Commit times come from the commit files' modification
    times, exactly as delta-spark resolves ``timestampAsOf`` (the log
    entry is created atomically at commit, so its mtime IS the commit
    time); after :func:`delta_truncate_log` the checkpoint file stands
    in for its version. Raises when ``timestamp`` predates the oldest
    retained commit (delta-spark's TimestampEarlierThanCommitRetention
    shape)."""
    log = _log_path(table_path)
    stamped: list[tuple[float, int]] = []
    for v in delta_versions(table_path):
        stamped.append((os.path.getmtime(os.path.join(log, f"{v:020d}.json")), v))
    ckpt = _latest_checkpoint(table_path, 1 << 60)
    if ckpt is not None and all(v != ckpt[0] for _, v in stamped):
        stamped.append((os.path.getmtime(ckpt[1]), ckpt[0]))
    if not stamped:
        raise FileNotFoundError(f"empty Delta log: {table_path}")
    eligible = [v for ts, v in stamped if ts <= timestamp]
    if not eligible:
        earliest = min(stamped)
        raise ValueError(
            f"read_delta: timestamp {timestamp} predates the earliest "
            f"retained commit (version {earliest[1]} at {earliest[0]})"
        )
    return max(eligible)


def delta_optimize(
    spark: SparkSession,
    table_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    small_file_bytes: int | None = None,
    zorder_by: tuple[str, str] | None = None,
) -> int | None:
    """OPTIMIZE (bin-packing compaction): rewrite each partition's
    small files (< ``small_file_bytes``, default = target) into
    ~``target_file_bytes`` files, and MATERIALIZE deletion vectors
    while at it (a file carrying a DV is always rewritten, its
    tombstoned rows dropped for good — the DV purge OPTIMIZE performs
    in Delta). Each partition's small and DV'd files are packed
    greedily, in path order, into bins of up to ``target_file_bytes``
    (``rewrite.pack_bins``); a bin is rewritten into one file when it
    holds two or more files or a DV'd file. Commits one version of
    paired remove/add actions with ``dataChange: false`` — the logical
    table is bit-identical, so change-feed readers correctly skip the
    commit (:func:`read_delta_changes` ignores dataChange=false
    actions) and streams see nothing. Returns the committed version,
    or None when no partition had anything worth rewriting.

    ``zorder_by=(colA, colB)`` (two numeric columns) is OPTIMIZE
    ZORDER BY: rewritten files cluster along the Morton curve of the
    two columns (``sinks.zorder`` bit interleave — pure Catalyst, one
    range exchange), ALL the partition's files are rewritten as one
    bin (layout changes, not just packing), and the refreshed
    ``add.stats`` envelopes stay narrow on BOTH dimensions — which is
    what lets ``skip_filters`` on EITHER column prune files. Each
    bin's grid bounds come from one min/max aggregate over all bins.

    Scale shape: ONE distributed read+exchange+write job rewrites every
    bin of every partition (``rewrite.rewrite_bins``), over ONLY the
    binned files — O(small data), never O(table), and the job count
    does not grow with the partition count; big clean files are
    untouched. Planning (grouping adds by partitionValues) is
    driver-side metadata of the same order as any table format's
    manifest walk. The commit claims ``<version>.json`` with an
    exclusive create and RAISES on a lost race — remove/add pairs must
    not rebase blindly past a concurrent delete of the same files."""
    import uuid

    if small_file_bytes is None:
        small_file_bytes = target_file_bytes
    target = _latest_version(table_path)
    if target is None:
        raise FileNotFoundError(f"empty Delta log: {table_path}")
    # ROW-TRACKED tables compact id-preservingly (the spec's row-id
    # materialization on rewrite): every surviving row's id is
    # resolved (materialized column if present, else baseRowId +
    # ordinal) and written into the output files as a physical
    # _row_id column; new adds still take fresh baseRowId blocks
    # (every add on a tracked table carries one — the materialized
    # column wins on read) and the advanced watermark rides the same
    # commit.
    rt_hwm = _row_tracking_watermark(spark, table_path, target)
    tracked = rt_hwm is not None
    adds, meta = _replay(spark, table_path, target)
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    part_cols = list(meta.get("partitionColumns") or [])
    phys = _physical_names(meta)
    table_abs = _table_abs(table_path)
    if tracked:
        _check_materialized_row_id_col(meta)

    groups: dict[tuple, list[dict]] = {}
    for a in adds.values():
        pv = a.get("partitionValues") or {}
        key = tuple(pv.get(phys[c], pv.get(c)) for c in part_cols)
        groups.setdefault(key, []).append(a)
    partitions = [
        sorted(groups[key], key=lambda a: a["path"])
        for key in sorted(
            groups, key=lambda k: tuple((v is None, v or "") for v in k)
        )
    ]

    def size(a: dict) -> int:
        return int(a.get("size") or 0)

    if zorder_by:
        # re-layout: every file of a partition is one bin
        bins = partitions
    else:
        bins = [
            b
            for b in pack_bins(
                (
                    [
                        a
                        for a in members
                        if a.get("deletionVector") or size(a) < small_file_bytes
                    ]
                    for members in partitions
                ),
                size,
                target_file_bytes,
            )
            if len(b) >= 2 or any(a.get("deletionVector") for a in b)
        ]
    if not bins:
        return None

    data_fields = [f for f in schema.fields if f.name not in part_cols]
    # rewrite under PHYSICAL names: compacted files must look exactly
    # like the files they replace (column mapping preserved)
    scan_schema = StructType(
        [StructField(phys[f.name], f.dataType, True) for f in data_fields]
    )
    read_schema = (
        StructType(
            list(scan_schema.fields)
            + [StructField("_row_id", LongType(), True)]
        )
        if tracked
        else scan_schema
    )
    binned = [
        [(os.path.join(table_abs, a["path"]), size(a)) for a in b] for b in bins
    ]
    scan = file_scan(spark, read_schema, [p for b in binned for p, _s in b])
    dv_adds = [
        (os.path.join(table_abs, a["path"]), a["deletionVector"])
        for b in bins
        for a in b
        if a.get("deletionVector")
    ]
    if dv_adds:
        dv_frame, total = _dv_positions_frame(spark, table_path, dv_adds)
        scan = _apply_dvs(scan, dv_frame, total, scan.columns)
    row_id_bases = (
        {
            os.path.join(table_abs, a["path"]): int(a["baseRowId"])
            for b in bins
            for a in b
        }
        if tracked
        else None
    )
    actions: list[dict] = []
    with rewrite_bins(
        spark,
        scan,
        binned,
        target_file_bytes,
        zorder_by=tuple(phys.get(c, c) for c in zorder_by) if zorder_by else None,
        row_id_bases=row_id_bases,
    ) as staged:
        for b, files in zip(bins, staged):
            pv = b[0].get("partitionValues") or {}
            for src in files:
                rel = f"part-{uuid.uuid4().hex}.parquet"
                dst = os.path.join(table_abs, rel)
                _fs.move(src, dst)
                actions.append(
                    {
                        "add": {
                            "path": rel,
                            "partitionValues": pv,
                            "size": _fs.file_size(dst),
                            "modificationTime": 0,
                            "dataChange": False,
                            # refreshed envelopes: the whole point of a
                            # z-ordered rewrite is narrow per-file stats
                            # (scan_schema fields = the files' PHYSICAL
                            # names, which is also how stats are keyed
                            # on column-mapped tables)
                            "stats": _file_stats(dst, scan_schema.fields),
                        }
                    }
                )
            actions.extend(
                {
                    "remove": {
                        "path": a["path"],
                        "dataChange": False,
                        "deletionTimestamp": 0,
                        "partitionValues": a.get("partitionValues") or {},
                    }
                }
                for a in b
            )
    if tracked:
        # every add on a row-tracked table carries a baseRowId (the
        # spec invariant the reader checks); compacted files' rows
        # answer from their materialized column, so these fresh
        # blocks are never observed — but the watermark advances
        # atomically with them all the same
        cur = rt_hwm + 1
        for act in actions:
            a = act.get("add")
            if a is None:
                continue
            st = json.loads(a.get("stats") or "{}")
            n = st.get("numRecords")
            if n is None:
                from dataset_grouper_spark.sources.convert import (
                    _parquet_row_count,
                )

                n = _parquet_row_count(os.path.join(table_abs, a["path"]))
            a["baseRowId"] = cur
            cur += int(n)
        actions.append(
            {
                "domainMetadata": {
                    "domain": ROW_TRACKING_DOMAIN,
                    "configuration": json.dumps(
                        {"rowIdHighWaterMark": cur - 1}
                    ),
                    "removed": False,
                }
            }
        )
    version = target + 1
    try:
        _write_commit(_log_path(table_path), version, actions)
    except FileExistsError:
        raise RuntimeError(
            f"delta_optimize: lost the commit race at version {version} — "
            "re-run against the new table state (remove/add pairs do not "
            "rebase blindly)"
        )
    return version


def delta_vacuum(
    spark: SparkSession, table_path: str, dry_run: bool = False
) -> list[str]:
    """VACUUM: physically delete data files and deletion-vector bins
    that NO retained version references — the files only remove
    actions (or pre-checkpoint history the log has truncated) still
    point at. Referenced = every add path (and its DV sidecar) in the
    newest checkpoint plus every retained JSON commit, whether or not
    a later commit removed it — any retained version can still time-
    travel to it. Returns the table-relative paths removed (or that
    WOULD be removed, with ``dry_run``).

    Retention here is the log's own horizon (pair with
    :func:`delta_checkpoint` + :func:`delta_truncate_log` to advance
    it) rather than a wall-clock window — the same trade as
    ``delta_truncate_log``, applied to data files."""
    log = _log_path(table_path)
    if not _fs.is_dir(log):
        raise FileNotFoundError(f"not a Delta table: {table_path}")
    table_abs = _table_abs(table_path)
    referenced: set[str] = set()

    def note_add(a: dict) -> None:
        referenced.add(a["path"])
        dv = a.get("deletionVector")
        if dv and dv.get("storageType") in ("u", "p"):
            p = _resolve_dv_path(
                table_abs, dv["storageType"], dv["pathOrInlineDv"]
            )
            referenced.add(os.path.relpath(p, table_abs))

    ckpt = _latest_checkpoint(table_path, 1 << 60)
    if ckpt is not None:
        for row in spark.read.parquet(ckpt[1]).collect():
            d = row.asDict(recursive=True)
            if d.get("add"):
                note_add(d["add"])
    for v in delta_versions(table_path):
        for line in _read_commit_lines(log, v):
            if line.strip():
                action = json.loads(line)
                if "add" in action:
                    note_add(action["add"])
    doomed: list[str] = []
    for rel in _fs.walk_files(table_abs):
        if rel.startswith(_LOG_DIR + "/"):
            continue
        name = rel.rsplit("/", 1)[-1]
        if not (
            name.endswith(".parquet")
            or (name.startswith("deletion_vector_") and name.endswith(".bin"))
        ):
            continue
        if rel not in referenced:
            doomed.append(rel)
    doomed.sort()
    if not dry_run:
        for rel in doomed:
            _fs.remove(os.path.join(table_abs, rel))
    return doomed


def delta_restore(
    spark: SparkSession, table_path: str, version: int
) -> int:
    """RESTORE TABLE ... TO VERSION AS OF: commit a NEW version whose
    active-file set (and metaData, if schema evolved in between) is
    exactly that of ``version`` — the standard rollback that keeps
    history linear instead of rewriting it (the bad commits stay
    time-travelable; vacuum reaps their files once the log horizon
    passes them). Emits only the DIFF: removes for current files the
    target lacks, adds for target files the current state lacks —
    O(changed files), zero data movement (restored files are
    re-referenced, not copied). Raises if the target version's files
    were already vacuumed away.

    ROW-TRACKED tables restore id-stably (r12): restore moves no data
    — re-added files carry whatever baseRowId (and materialized
    _row_id columns) they had at the target version, so ids are
    exactly the target version's. Files from BEFORE row tracking was
    enabled lack a baseRowId; those get a fresh block from the
    never-regressing watermark in the same commit (the reader's
    every-add-has-one invariant)."""
    latest = _latest_version(table_path)
    if latest is None:
        raise FileNotFoundError(f"empty Delta log: {table_path}")
    rt_hwm = _row_tracking_watermark(spark, table_path, latest)
    want_adds, want_meta = _replay(spark, table_path, version)
    cur_adds, cur_meta = _replay(spark, table_path, latest)
    if rt_hwm is not None:
        _check_materialized_row_id_col(cur_meta)
    table_abs = _table_abs(table_path)
    missing = [
        rel
        for rel in want_adds
        if not _fs.exists(os.path.join(table_abs, rel))
    ]
    if missing:
        raise FileNotFoundError(
            f"delta_restore: version {version} references vacuumed files "
            f"{missing[:3]}{'...' if len(missing) > 3 else ''}"
        )
    actions: list[dict] = []
    if want_meta.get("schemaString") != cur_meta.get("schemaString") or list(
        want_meta.get("partitionColumns") or []
    ) != list(cur_meta.get("partitionColumns") or []):
        actions.append({"metaData": want_meta})
    for rel, a in sorted(cur_adds.items()):
        if rel not in want_adds:
            actions.append(
                {
                    "remove": {
                        "path": rel,
                        "dataChange": True,
                        "deletionTimestamp": 0,
                        "partitionValues": a.get("partitionValues") or {},
                    }
                }
            )
    for rel, a in sorted(want_adds.items()):
        cur = cur_adds.get(rel)
        # re-add when absent OR present with different content (a DV
        # materialized/added since the target version changes the add)
        if cur is None or cur != a:
            re_add = dict(a)
            re_add["dataChange"] = True
            actions.append({"add": re_add})
    if not actions:
        return latest
    if rt_hwm is not None:
        # pre-enablement files restored onto a tracked table need a
        # fresh block; everything else keeps the target version's id
        # assignment — the watermark only ever advances
        cur = rt_hwm + 1
        bumped = False
        for act in actions:
            a = act.get("add")
            if a is None or "baseRowId" in a:
                continue
            st = json.loads(a.get("stats") or "{}")
            n = st.get("numRecords")
            if n is None:
                from dataset_grouper_spark.sources.convert import (
                    _parquet_row_count,
                )

                n = _parquet_row_count(
                    os.path.join(_table_abs(table_path), a["path"])
                )
            a["baseRowId"] = cur
            cur += int(n)
            bumped = True
        if bumped:
            actions.append(
                {
                    "domainMetadata": {
                        "domain": ROW_TRACKING_DOMAIN,
                        "configuration": json.dumps(
                            {"rowIdHighWaterMark": cur - 1}
                        ),
                        "removed": False,
                    }
                }
            )
    new_version = latest + 1
    try:
        _write_commit(_log_path(table_path), new_version, actions)
    except FileExistsError:
        raise RuntimeError(
            f"delta_restore: lost the commit race at version {new_version} — "
            "re-run against the new table state"
        )
    return new_version


# columns eligible for add.stats min/max (footer stats are exact and
# JSON-serializable for these; timestamps/binary/nested are skipped)
_STATS_TYPES = {
    "int", "bigint", "smallint", "tinyint", "double", "float",
    "string", "boolean", "date",
}


def _file_stats(path: str, fields) -> str:
    """Delta ``add.stats`` JSON from the parquet FOOTER (numRecords,
    minValues, maxValues, nullCount for eligible primitive columns) —
    the metadata data-skipping feeds on. Footer reads are
    planning-scale metadata, O(row groups), no data pages touched."""
    import datetime

    import pyarrow.parquet as pq

    with _fs.open_random(path) as f:
        md = pq.ParquetFile(f).metadata
    want = {
        f.name
        for f in fields
        if f.dataType.simpleString() in _STATS_TYPES
    }
    mins: dict = {}
    maxs: dict = {}
    nulls: dict = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if name not in want:
                continue
            st = col.statistics
            if st is None or not st.has_null_count:
                nulls[name] = None
            else:
                nulls[name] = (nulls.get(name) or 0) + st.null_count
            if st is None or not st.has_min_max:
                continue
            lo, hi = st.min, st.max
            if isinstance(lo, bytes):
                try:
                    lo, hi = lo.decode(), hi.decode()
                except UnicodeDecodeError:
                    continue
            if isinstance(lo, (datetime.date, datetime.datetime)):
                lo, hi = lo.isoformat(), hi.isoformat()
            mins[name] = lo if name not in mins else min(mins[name], lo)
            maxs[name] = hi if name not in maxs else max(maxs[name], hi)
    return json.dumps(
        {
            "numRecords": md.num_rows,
            "minValues": mins,
            "maxValues": maxs,
            "nullCount": {k: v for k, v in nulls.items() if v is not None},
        }
    )


_SKIP_OPS = {"=", "<", "<=", ">", ">="}


def _add_may_match(
    add: dict, filters, part_cols: list[str], phys: dict
) -> bool:
    """Can any row of this file satisfy EVERY ``(col, op, value)``
    conjunct? Conservative: missing stats / partition values keep the
    file. Partition columns compare on ``partitionValues`` (exact);
    data columns on the stats envelope [min, max]."""
    stats = json.loads(add.get("stats") or "{}")
    mins = stats.get("minValues") or {}
    maxs = stats.get("maxValues") or {}
    pv = add.get("partitionValues") or {}
    for col, op, value in filters:
        if op not in _SKIP_OPS:
            raise ValueError(
                f"skip_filters: unsupported op {op!r} (use {_SKIP_OPS})"
            )
        p = phys.get(col, col)
        if col in part_cols:
            raw = pv.get(p, pv.get(col))
            if raw is None:
                continue  # null partition value: only = could judge it
            try:
                point = (
                    type(value)(raw) if not isinstance(value, str) else raw
                )
            except (TypeError, ValueError):
                continue  # un-coercible: conservative, keep the file
            lo = hi = point
        else:
            if p not in mins or p not in maxs:
                continue  # no envelope: must keep
            lo, hi = mins[p], maxs[p]
        if op == "=" and not (lo <= value <= hi):
            return False
        if op == "<" and not (lo < value):
            return False
        if op == "<=" and not (lo <= value):
            return False
        if op == ">" and not (hi > value):
            return False
        if op == ">=" and not (hi >= value):
            return False
    return True


def delta_skip_plan(
    spark: SparkSession | None,
    table_path: str,
    skip_filters,
    version: int | None = None,
) -> tuple[list[str], int]:
    """Data-skipping planning: ``(surviving add paths, total adds)``
    for a conjunction of ``(column, op, literal)`` filters, judged
    purely from the LOG (partitionValues + stats envelopes) — zero
    file opens. This is the planning step that makes a selective read
    on a 100 TB table touch only the files that can matter; pair with
    z-ordered layout (``delta_optimize(zorder_by=...)``) to make the
    envelopes narrow on two dimensions at once."""
    if version is None:
        version = _latest_version(table_path)
        if version is None:
            raise FileNotFoundError(f"empty Delta log: {table_path}")
    adds, meta = _replay(spark, table_path, version)
    part_cols = list(meta.get("partitionColumns") or [])
    phys = _physical_names(meta)
    kept = [
        rel
        for rel, a in sorted(adds.items())
        if _add_may_match(a, skip_filters, part_cols, phys)
    ]
    return kept, len(adds)


def delta_merge(
    spark: SparkSession,
    source: DataFrame,
    table_path: str,
    on: list[str],
) -> int:
    """MERGE (upsert) with copy-on-write file granularity: rows of
    ``source`` REPLACE current rows sharing their ``on`` key, the rest
    INSERT — and only the data files that actually contain a matched
    key are rewritten. The probe is one join of the scan against the
    source keys reduced to DISTINCT FILE PATHS (planning-scale
    collect, bounded by file count, never row count), so a point
    upsert into a 100 TB table rewrites a handful of files while the
    rest of the table is untouched — the CoW economics
    ``snapshot_upsert`` already proves on the engine's own store,
    here speaking the Delta protocol so any Delta reader sees it.

    Touched files are re-read WITH their deletion vectors applied
    (already-deleted rows stay deleted, and the rewritten files carry
    no DV — a merge materializes them, like OPTIMIZE); unmatched
    source keys land in fresh insert files. One atomic commit of
    removes + adds with ``dataChange: true`` (this IS a data change —
    the change feed correctly refuses the range). Raises on a lost
    commit race (remove/add pairs never rebase blindly).

    COLUMN-MAPPED tables merge correctly: touched files are scanned
    under their stable PHYSICAL ``col-<n>`` names and returned
    logical, rewritten/insert files are staged back under physical
    names with physical partitionValues keys and physical stats keys
    — the rename-without-rewrite feature keeps working across
    merges.

    PARTITIONED tables merge at the same file granularity: the probe
    scan restores partition columns from ``add.partitionValues`` as
    typed literals per file group, rewritten rows stage through
    ``partitionBy`` (hash-routed so each partition dir gets one
    file), and every remove/add carries its partition values —
    inserts may open brand-new partitions.

    ROW-TRACKED tables merge id-preservingly (r12, the spec's stable
    row ids under DML): surviving rows in rewritten files keep their
    resolved id materialized; an UPDATE (source row matching a key)
    inherits the matched row's id — the smallest matched id when the
    key was not unique in the target, deterministic; pure inserts get
    fresh ids via the new file's baseRowId block.

    Last-writer-wins within ``source`` is NOT resolved here: source
    must be key-unique (enforced with one cheap count, fails loudly
    otherwise)."""
    import glob as _glob
    import shutil
    import tempfile
    import uuid

    target = _latest_version(table_path)
    if target is None:
        raise FileNotFoundError(f"empty Delta log: {table_path}")
    rt_hwm = _row_tracking_watermark(spark, table_path, target)
    tracked = rt_hwm is not None
    adds, meta = _replay(spark, table_path, target)
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    part_cols = list(meta.get("partitionColumns") or [])
    phys = _physical_names(meta)
    mapped = any(phys[f.name] != f.name for f in schema.fields)
    if tracked:
        _check_materialized_row_id_col(meta)
    names = [f.name for f in schema.fields]
    if source.columns != names:
        raise ValueError(
            f"delta_merge: source columns {source.columns} != table "
            f"schema {names}"
        )
    for k in on:
        if k not in names:
            raise ValueError(f"delta_merge: key column {k!r} not in schema")
    dup = source.groupBy(*on).count().filter(F.col("count") > 1).limit(1)
    if dup.count() > 0:
        raise ValueError("delta_merge: source has duplicate keys")

    table_abs = _table_abs(table_path)
    paths = [os.path.join(table_abs, rel) for rel in adds]
    tag_cols = {
        "__fp": norm_path(F.col("_metadata.file_path")),
        "__pos": F.col("_metadata.row_index"),
    }
    def unmap(df: DataFrame) -> DataFrame:
        # physical file columns -> logical names (tags pass through)
        if not mapped:
            return df
        logical = {phys[n]: n for n in names}
        return df.select(
            *[
                F.col(c).alias(logical.get(c, c))
                for c in df.columns
            ]
        )

    rid_field = (
        [StructField("_row_id", LongType(), True)] if tracked else []
    )
    if not paths:
        # empty active set: a merge is a pure insert
        scan = spark.createDataFrame([], schema).withColumns(
            {
                "__fp": F.lit(None).cast("string"),
                "__pos": F.lit(None).cast("long"),
                **(
                    {"_row_id": F.lit(None).cast("long")}
                    if tracked
                    else {}
                ),
            }
        )
    elif not part_cols:
        read_schema = StructType(
            [
                StructField(
                    phys[f.name] if mapped else f.name, f.dataType, True
                )
                for f in schema.fields
            ]
            + rid_field
        )
        scan = unmap(
            spark.read.schema(read_schema)
            .parquet(*paths)
            .withColumns(tag_cols)
        )
    else:
        # partitioned: partition columns live OUTSIDE the data files —
        # group files by partitionValues (PHYSICAL keys under column
        # mapping), restore the columns as typed literals per group
        # (same shape as read_delta_changes), keep the _metadata tags
        # for file/DV attribution
        data_fields = [f for f in schema.fields if f.name not in part_cols]
        data_schema = StructType(
            [
                StructField(
                    phys[f.name] if mapped else f.name, f.dataType, True
                )
                for f in data_fields
            ]
            + rid_field
        )
        types = {f.name: f.dataType for f in schema.fields}
        groups: dict[tuple, list[str]] = {}
        for rel, a in adds.items():
            pv = a.get("partitionValues") or {}
            key = tuple(
                pv.get(phys[c], pv.get(c)) for c in part_cols
            )
            groups.setdefault(key, []).append(
                os.path.join(table_abs, rel)
            )
        frames = []
        for key, gpaths in sorted(
            groups.items(),
            key=lambda kv: tuple((v is None, v or "") for v in kv[0]),
        ):
            gdf = unmap(
                spark.read.schema(data_schema)
                .parquet(*gpaths)
                .withColumns(tag_cols)
            )
            for c, raw in zip(part_cols, key):
                lit = (
                    F.lit(None).cast(types[c])
                    if raw is None
                    else F.lit(raw).cast(types[c])
                )
                gdf = gdf.withColumn(c, lit)
            frames.append(
                gdf.select(
                    *names,
                    "__fp",
                    "__pos",
                    *(["_row_id"] if tracked else []),
                )
            )
        scan = reduce(DataFrame.unionByName, frames)
    rid_tail = ["_row_id"] if tracked else []
    if tracked:
        # resolve every current row's durable id BEFORE the merge
        # loses file/ordinal identity (materialized column wins,
        # else baseRowId + ordinal — the read path's law)
        missing_b = [
            rel for rel, a in adds.items() if "baseRowId" not in a
        ]
        if missing_b:
            raise ValueError(
                "delta_merge: row tracking enabled but file lacks "
                f"baseRowId: {missing_b[0]!r}"
            )
        bmap = local_frame(spark, 
            [
                (
                    norm_path_py(os.path.join(table_abs, rel)),
                    int(a["baseRowId"]),
                )
                for rel, a in adds.items()
            ],
            "`__fp` string, `__brid` long",
        )
        scan = (
            scan.join(F.broadcast(bmap), "__fp", "left")
            .withColumn(
                "_row_id",
                F.coalesce(
                    F.col("_row_id"), F.col("__brid") + F.col("__pos")
                ),
            )
            .drop("__brid")
        )
    dv_adds = [
        (os.path.join(table_abs, a["path"]), a["deletionVector"])
        for a in adds.values()
        if a.get("deletionVector")
    ]
    if dv_adds:
        dv_frame, total = _dv_positions_frame(spark, table_path, dv_adds)
        scan = _apply_dvs(
            scan, dv_frame, total, [*names, "__fp", "__pos", *rid_tail]
        )

    keys = source.select(*on)
    # touched files: planning-scale collect (bounded by file count)
    touched = [
        r["__fp"]
        for r in scan.join(keys, on, "left_semi")
        .select("__fp")
        .distinct()
        .collect()
    ]
    abs_to_rel = {
        norm_path_py(os.path.join(table_abs, rel)): rel for rel in adds
    }
    touched_rel = sorted(abs_to_rel[p] for p in touched)

    stage = tempfile.mkdtemp(prefix="_delta_merge_")
    src_out = source
    if tracked:
        # an UPDATE inherits the matched row's id (smallest matched id
        # when the target key was not unique — deterministic); pure
        # inserts stay null and inherit the new file's baseRowId +
        # ordinal on read
        touched_scan = (
            scan.filter(F.col("__fp").isin(touched)) if touched else scan
        )
        old_ids = (
            touched_scan.join(keys, on, "left_semi")
            .groupBy(*on)
            .agg(F.min("_row_id").alias("_row_id"))
        )
        src_out = source.join(old_ids, on, "left")
    if touched:
        survivors = (
            scan.filter(F.col("__fp").isin(touched))
            .join(keys, on, "left_anti")
            .select(*names, *rid_tail)
        )
        rewritten = survivors.unionByName(src_out)
        n_out = max(1, len(touched_rel))
    else:
        rewritten = src_out
        n_out = 1
    if mapped:
        # rewritten/insert files carry PHYSICAL names, like every
        # other file in a column-mapped table (_row_id is a reserved
        # physical name, never mapped)
        rewritten = rewritten.select(
            *[F.col(n).alias(phys[n]) for n in names], *rid_tail
        )
    stage_parts = [phys[c] for c in part_cols] if mapped else part_cols
    writer = (
        # hash-route on partition columns so each partition dir is
        # written by one task (one file per touched/inserted partition)
        rewritten.repartition(n_out, *stage_parts)
        if part_cols
        else rewritten.repartition(n_out)
    ).write.mode("overwrite")
    if part_cols:
        writer = writer.partitionBy(*stage_parts)
    writer.parquet(stage)

    actions: list[dict] = []
    for rel in touched_rel:
        actions.append(
            {
                "remove": {
                    "path": rel,
                    "dataChange": True,
                    "deletionTimestamp": 0,
                    "partitionValues": (
                        adds[rel].get("partitionValues") or {}
                    ),
                }
            }
        )
    if part_cols:
        pattern = os.path.join(
            stage, *["*"] * len(part_cols), "part-*.parquet"
        )
    else:
        pattern = os.path.join(stage, "part-*.parquet")
    data_fields_out = [
        StructField(phys[f.name] if mapped else f.name, f.dataType)
        for f in schema.fields
        if f.name not in part_cols
    ]
    for src in sorted(_glob.glob(pattern)):
        rel_dir = os.path.relpath(os.path.dirname(src), stage)
        pv = {}
        if part_cols:
            for piece in rel_dir.split(os.sep):
                k, _, v = piece.partition("=")
                pv[k] = None if v == "__HIVE_DEFAULT_PARTITION__" else v
        name = f"part-{uuid.uuid4().hex}.parquet"
        rel = (
            os.path.join(rel_dir, name).replace(os.sep, "/")
            if rel_dir != "."
            else name
        )
        dst = os.path.join(table_abs, rel)
        _fs.makedirs(os.path.dirname(dst) or table_abs)
        _fs.move(src, dst)
        actions.append(
            {
                "add": {
                    "path": rel,
                    "partitionValues": pv,
                    "size": _fs.file_size(dst),
                    "modificationTime": 0,
                    "dataChange": True,
                    "stats": _file_stats(dst, data_fields_out),
                }
            }
        )
    shutil.rmtree(stage, ignore_errors=True)
    if tracked:
        # every add carries a fresh baseRowId block (the reader's
        # invariant); survivors/updates answer from their materialized
        # column, inserts inherit from the block — and the advanced
        # watermark rides the same commit
        cur = rt_hwm + 1
        for act in actions:
            a = act.get("add")
            if a is None:
                continue
            st = json.loads(a.get("stats") or "{}")
            n = st.get("numRecords")
            if n is None:
                from dataset_grouper_spark.sources.convert import (
                    _parquet_row_count,
                )

                n = _parquet_row_count(os.path.join(table_abs, a["path"]))
            a["baseRowId"] = cur
            cur += int(n)
        actions.append(
            {
                "domainMetadata": {
                    "domain": ROW_TRACKING_DOMAIN,
                    "configuration": json.dumps(
                        {"rowIdHighWaterMark": cur - 1}
                    ),
                    "removed": False,
                }
            }
        )
    version = target + 1
    try:
        _write_commit(_log_path(table_path), version, actions)
    except FileExistsError:
        raise RuntimeError(
            f"delta_merge: lost the commit race at version {version} — "
            "re-run against the new table state"
        )
    return version


def delta_partitions(
    spark: SparkSession, table_path: str, version: int | None = None
) -> DataFrame:
    """Per-partition summary of the live file set at ``version``
    (default latest): file count, row count (from ``add.stats``
    numRecords when every file carries it, else NULL) and total bytes
    — the planning view maintenance jobs size OPTIMIZE with, the
    Delta twin of ``iceberg_partitions``. Partition values render as a
    sorted-key JSON string (their fields vary per table);
    unpartitioned tables yield one row with NULL. Pure log read."""
    target = _latest_version(table_path) if version is None else version
    if target is None:
        raise FileNotFoundError(f"empty Delta log: {table_path}")
    adds, meta = _replay(spark, table_path, target)
    part_cols = list(meta.get("partitionColumns") or [])
    agg: dict[str, list] = {}
    for a in adds.values():
        pv = a.get("partitionValues") or {}
        key = (
            json.dumps(
                {c: pv.get(c) for c in part_cols}, sort_keys=True
            )
            if part_cols
            else None
        )
        n_rows = None
        stats = a.get("stats")
        if stats:
            try:
                n_rows = int(json.loads(stats).get("numRecords"))
            except (ValueError, TypeError):
                n_rows = None
        agg.setdefault(key, []).append(
            (n_rows, int(a.get("size") or 0))
        )
    rows = []
    for key in sorted(agg, key=lambda k: (k is None, k or "")):
        members = agg[key]
        counts = [n for n, _ in members]
        rows.append(
            (
                key,
                len(members),
                sum(counts) if all(c is not None for c in counts) else None,
                sum(b for _, b in members),
            )
        )
    return local_frame(spark, 
        rows,
        "`partition` string, `n_files` long, `n_rows` long, "
        "`total_bytes` long",
    )


def delta_history(spark: SparkSession, table_path: str) -> DataFrame:
    """DESCRIBE HISTORY: one row per retained commit — version, action
    counts, whether it changed data (OPTIMIZE commits show
    data_change=false), DV/txn markers, and bytes added. Entirely a
    log read (planning-scale); versions replaced by a checkpoint and
    truncated away are summarized by the checkpoint row itself."""
    rows = []
    ckpt = _latest_checkpoint(table_path, 1 << 60)
    json_versions = set(delta_versions(table_path))
    if ckpt is not None and ckpt[0] not in json_versions:
        rows.append(
            {
                "version": ckpt[0],
                "n_adds": None,
                "n_removes": None,
                "data_change": None,
                "has_dv": None,
                "has_txn": None,
                "bytes_added": None,
                "checkpoint": True,
            }
        )
    log = _log_path(table_path)
    for v in sorted(json_versions):
        n_adds = n_removes = bytes_added = 0
        data_change = False
        has_dv = has_txn = False
        for line in _read_commit_lines(log, v):
            if not line.strip():
                continue
            a = json.loads(line)
            if "add" in a:
                n_adds += 1
                bytes_added += int(a["add"].get("size") or 0)
                if a["add"].get("dataChange", True):
                    data_change = True
                if a["add"].get("deletionVector"):
                    has_dv = True
            elif "remove" in a:
                n_removes += 1
                if a["remove"].get("dataChange", True):
                    data_change = True
            elif "txn" in a:
                has_txn = True
        rows.append(
            {
                "version": v,
                "n_adds": n_adds,
                "n_removes": n_removes,
                "data_change": data_change,
                "has_dv": has_dv,
                "has_txn": has_txn,
                "bytes_added": bytes_added,
                "checkpoint": ckpt is not None and ckpt[0] == v,
            }
        )
    schema = (
        "`version` long, `n_adds` long, `n_removes` long, "
        "`data_change` boolean, `has_dv` boolean, `has_txn` boolean, "
        "`bytes_added` long, `checkpoint` boolean"
    )
    return local_frame(spark, 
        [tuple(r[k] for k in (
            "version", "n_adds", "n_removes", "data_change", "has_dv",
            "has_txn", "bytes_added", "checkpoint",
        )) for r in rows],
        schema,
    )
