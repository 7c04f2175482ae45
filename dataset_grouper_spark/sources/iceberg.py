"""Apache Iceberg table READER — metadata walk over the public spec,
no iceberg-spark runtime jar.

The Iceberg format (iceberg.apache.org/spec) is: a ``metadata/``
directory of ``*.metadata.json`` files (each listing snapshots and the
current snapshot id), each snapshot pointing at a MANIFEST LIST (an
Avro object container; decoded by our pure-stdlib ``sources.avro``),
each manifest list row pointing at a MANIFEST (Avro again) whose
entries carry ``status`` (0 existing / 1 added / 2 deleted) and a
``data_file`` struct with the parquet path. A snapshot's live file set
is every non-deleted entry across its manifests. Unlike Delta/Hive,
Iceberg keeps identity-partition source columns INSIDE the data
files, so no partition-value restoration is needed — live parquet
paths + the table schema are the whole read.

Because Avro containers are self-describing, the reader decodes
whatever manifest schema the files declare and consumes only the
spec-named fields — real tables' extra stats columns ride along
harmlessly.

v2 merge-on-read POSITION deletes are REAL both ways: delete
manifests (``content=1``) contribute parquet delete files of
``(file_path, pos)`` rows, applied on read as a left-anti join
against the scan's own ``_metadata.file_path`` / ``row_index``
columns (Spark's native per-file row ordinal — exactly the spec's
``pos``); ``iceberg_delete_where`` WRITES them — a DELETE that
commits O(deleted-rows) position files and never rewrites a data
file, the merge-on-read economics the v2 spec exists for.

v2 EQUALITY deletes (``data_file.content=2``) are real both ways too:
the reader tracks DATA SEQUENCE NUMBERS (manifest-entry level,
inherited from the manifest-list entry per the spec, 0 for pre-v2
metadata) and anti-joins each delete file's key rows against data
rows from files with a STRICTLY SMALLER sequence — so delete-then-
reinsert converges exactly as the spec orders it.
``iceberg_delete_values`` WRITES them: an O(keys) DELETE BY KEY that
never reads the table — the Flink-CDC upsert-stream shape.

Honest gates: non-parquet data files raise; nested Iceberg types
beyond primitives/decimals raise at schema mapping;
``iceberg_delete_where`` (position deletes) refuses to stack on top
of existing equality deletes.

Scale shape: like the Delta reader, the metadata walk is the driver's
planning step (Avro manifests are KB-scale); data moves only through
``spark.read.parquet`` over the live files with full pushdown. The
delete-apply join broadcasts only when MANIFEST stats bound the
delete-row count (plan-time decision, no probe job); unknown or large
delete sets take a plain shuffle join keyed on (file, pos).
"""

from __future__ import annotations

import json
import os
import re
from struct import error as struct_error

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from dataset_grouper_spark.localrel import local_frame
from dataset_grouper_spark.sources.rewrite import (
    file_scan,
    norm_path,
    norm_path_py,
    pack_bins,
    rewrite_bins,
)

from dataset_grouper_spark.compat import fs as _fs
from dataset_grouper_spark.sources.avro import read_avro_file, write_avro_file

# broadcast the delete set only when manifest stats prove it small
# (~24 B/row keyed struct → ≤1M rows is a tens-of-MB build side)
_DELETE_BROADCAST_ROWS = 1_000_000

_PRIM = {
    "boolean": "boolean",
    "int": "int",
    "long": "long",
    "float": "float",
    "double": "double",
    "date": "date",
    "timestamp": "timestamp",
    "timestamptz": "timestamp",
    "string": "string",
    "uuid": "string",
    "binary": "binary",
}


def _spark_type(t) -> str:
    if isinstance(t, str):
        if t in _PRIM:
            return _PRIM[t]
        m = re.fullmatch(r"decimal\((\d+),\s*(\d+)\)", t)
        if m:
            return f"decimal({m.group(1)},{m.group(2)})"
        m = re.fullmatch(r"fixed\[\d+\]", t)
        if m:
            return "binary"
        raise ValueError(f"iceberg: unsupported type {t!r}")
    raise ValueError(
        f"iceberg: nested type {t.get('type')!r} not supported by this reader"
    )


def _localize(path: str) -> str:
    if path.startswith("file://"):
        return path[len("file://") :]
    return path


def _is_abs(path: str) -> bool:
    """Stored manifest paths are absolute when POSIX-absolute OR a
    full URI (s3://, gs://, ...) — never join those onto the table."""
    return os.path.isabs(path) or _fs.is_uri(path)


def _metadata_files(table_path: str) -> list[str]:
    mdir = os.path.join(table_path, "metadata")
    if not _fs.is_dir(mdir):
        raise FileNotFoundError(
            f"not an Iceberg table (no metadata/): {table_path}"
        )
    out = [
        os.path.join(mdir, n)
        for n in _fs.listdir(mdir)
        if n.endswith(".metadata.json")
    ]
    if not out:
        raise FileNotFoundError(f"no *.metadata.json under {mdir}")
    return sorted(out)


def _load_metadata(table_path: str) -> dict:
    """Latest table metadata: honor ``version-hint.text`` when present
    (the HadoopCatalog convention), else the lexically-last file."""
    mdir = os.path.join(table_path, "metadata")
    hint = os.path.join(mdir, "version-hint.text")
    if _fs.exists(hint):
        v = _fs.read_text(hint).strip()
        cand = os.path.join(mdir, f"v{v}.metadata.json")
        if _fs.exists(cand):
            return json.loads(_fs.read_text(cand))
    return json.loads(_fs.read_text(_metadata_files(table_path)[-1]))


def iceberg_snapshots(table_path: str) -> list[dict]:
    """(snapshot-id, timestamp, manifest-list) of every retained
    snapshot, oldest first."""
    meta = _load_metadata(table_path)
    snaps = meta.get("snapshots") or []
    return sorted(snaps, key=lambda s: s.get("timestamp-ms", 0))


def _partition_match(df: dict, expected: dict) -> bool:
    """Partition-value file pruning: keep the file unless its
    ``data_file.partition`` struct names an expected field with a
    DIFFERENT value. Files without partition info (older writers,
    minimal manifests) are conservatively kept — pruning must never
    drop data it cannot prove excluded."""
    part = df.get("partition")
    if not isinstance(part, dict):
        return True
    for k, want in expected.items():
        if k in part and part[k] != want:
            return False
    return True


def _murmur3_32(data: bytes, seed: int = 0) -> int:
    """murmur3_x86_32 — the hash the Iceberg spec mandates for bucket
    transforms (Appendix B). Pure stdlib; returns a SIGNED int32 like
    the Java reference."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed & 0xFFFFFFFF
    n = len(data)
    rounds = n // 4
    for i in range(rounds):
        k = int.from_bytes(data[4 * i : 4 * i + 4], "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    tail = data[4 * rounds :]
    if tail:
        k = int.from_bytes(tail, "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
    h ^= n
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h - (1 << 32) if h >= (1 << 31) else h


def _to_days(value) -> int:
    import datetime

    if isinstance(value, datetime.datetime):
        return _to_micros(value) // 86_400_000_000
    if isinstance(value, datetime.date):
        return (value - datetime.date(1970, 1, 1)).days
    return int(value)  # already days since epoch


def _to_micros(value) -> int:
    import datetime

    if isinstance(value, datetime.datetime):
        if value.tzinfo is not None:
            value = value.astimezone(datetime.timezone.utc).replace(
                tzinfo=None
            )
        delta = value - datetime.datetime(1970, 1, 1)
        return (delta.days * 86_400 + delta.seconds) * 1_000_000 + (
            delta.microseconds
        )
    return int(value)  # already micros since epoch


def _transform_value(transform: str, value, src_type: str):
    """The partition value a file with this transform would carry for
    a row equal to ``value`` — per the spec's transform table. Returns
    None when the transform cannot be computed (void/unknown): the
    caller must then NOT prune on this field."""
    import datetime
    import struct
    import re as _re

    if value is None:
        return None  # null partitions: never prune
    if transform == "identity":
        return value
    m = _re.fullmatch(r"bucket\[(\d+)\]", transform)
    if m:
        n = int(m.group(1))
        if src_type in ("int", "long"):
            data = struct.pack("<q", int(value))
        elif src_type == "date":
            data = struct.pack("<q", _to_days(value))
        elif src_type in ("timestamp", "timestamptz"):
            data = struct.pack("<q", _to_micros(value))
        elif src_type == "string":
            data = str(value).encode("utf-8")
        else:
            return None  # unhashable here: stay conservative
        return (_murmur3_32(data) & 0x7FFFFFFF) % n
    m = _re.fullmatch(r"truncate\[(\d+)\]", transform)
    if m:
        w = int(m.group(1))
        if src_type in ("int", "long"):
            return int(value) - (int(value) % w)  # Python % is floor-mod
        if src_type == "string":
            return str(value)[:w]
        return None
    if transform == "year":
        if isinstance(value, (datetime.date, datetime.datetime)):
            return value.year - 1970
        return None
    if transform == "month":
        if isinstance(value, (datetime.date, datetime.datetime)):
            return (value.year - 1970) * 12 + value.month - 1
        return None
    if transform == "day":
        if src_type == "date" or isinstance(
            value, (datetime.date, datetime.datetime)
        ):
            return _to_days(value)
        return None
    if transform == "hour":
        if isinstance(value, datetime.datetime):
            return _to_micros(value) // 3_600_000_000
        return None
    return None  # void / unknown transforms never prune


def _schema_fields_by_id(meta: dict) -> dict:
    """field id -> (name, type) across every schema entry (singular
    legacy ``schema`` included) — the shared resolver for partition
    spec interpretation."""
    schemas = meta.get("schemas") or (
        [meta["schema"]] if meta.get("schema") else []
    )
    by_id: dict = {}
    for s in schemas:
        for f in s.get("fields", []):
            by_id[f["id"]] = (f["name"], f["type"])
    return by_id


def _default_spec(meta: dict) -> tuple[int, dict]:
    """(default spec id, spec dict) — shared by filter translation and
    manifest-summary interpretation so the two can never drift."""
    specs = meta.get("partition-specs") or []
    want_spec = meta.get("default-spec-id", 0)
    spec = next(
        (s for s in specs if s.get("spec-id") == want_spec),
        specs[0] if specs else {"fields": []},
    )
    return want_spec, spec


def _expected_partition(meta: dict, partition_filter: dict) -> dict:
    """Translate a {column: raw value} filter into the {partition
    field name: transformed value} pairs a matching file must carry,
    via the table's default partition spec. Columns the spec does not
    cover fall back to identity matching on the raw column name (the
    minimal-metadata path older tables use)."""
    by_id = _schema_fields_by_id(meta)
    _spec_id, spec = _default_spec(meta)
    expected: dict = {}
    covered: set[str] = set()
    for f in spec.get("fields", []):
        src = by_id.get(f.get("source-id"))
        if src is None:
            continue
        src_name, src_type = src
        if src_name not in partition_filter:
            continue
        covered.add(src_name)
        t = _transform_value(
            f.get("transform", "identity"),
            partition_filter[src_name],
            src_type if isinstance(src_type, str) else "",
        )
        if t is not None:
            expected[f["name"]] = t
    for col, v in partition_filter.items():
        if col not in covered:
            expected[col] = v
    return expected


def _transform_result_type(transform: str, src_type: str) -> str | None:
    """Iceberg type of a partition field's VALUE under ``transform`` —
    what the manifest-list field summaries' bound bytes encode. None
    when unknown (no summary pruning on that field)."""
    if transform == "identity" or transform.startswith("truncate["):
        return src_type if isinstance(src_type, str) else None
    if (
        transform.startswith("bucket[")
        or transform in ("year", "month", "day", "hour")
    ):
        return "int"
    return None


def _spec_summary_fields(
    meta: dict,
) -> tuple[int, list[tuple[str, str | None]]]:
    """(default spec id, ordered (partition field name, result type))
    of the default partition spec — the order the manifest-list
    ``partitions`` field summaries are laid out in (spec: one summary
    per spec field, in spec order). The spec ID rides along because a
    manifest written under a DIFFERENT spec lays its summaries out in
    THAT spec's order/types — interpreting them under the default spec
    would prune wrongly, so callers only prune same-spec manifests."""
    by_id = _schema_fields_by_id(meta)
    spec_id, spec = _default_spec(meta)
    out = []
    for f in spec.get("fields", []):
        src = by_id.get(f.get("source-id"), (None, None))[1]
        out.append(
            (
                f["name"],
                _transform_result_type(
                    f.get("transform", "identity"),
                    src if isinstance(src, str) else "",
                ),
            )
        )
    return spec_id, out


def _summaries_allow(
    summaries: list, expected: dict, spec_summary: list
) -> bool:
    """MANIFEST-level pruning from the manifest-list ``partitions``
    field summaries: skip a manifest (never even open its Avro) when a
    filtered partition field's expected value falls outside the
    summary's [lower_bound, upper_bound]. Conservative on every
    unknown: missing summaries, undecodable types, or absent bounds
    keep the manifest. At planning scale this is the difference
    between opening thousands of manifest files and opening the
    handful whose envelope admits the filter."""
    for i, (fname, rtype) in enumerate(spec_summary):
        if fname not in expected or rtype is None or i >= len(summaries):
            continue
        s = summaries[i] or {}
        want = expected[fname]
        try:
            lo_raw, hi_raw = s.get("lower_bound"), s.get("upper_bound")
            if lo_raw is not None:
                lo = _bound_deser(bytes(lo_raw), rtype)
                if lo is not None and want < lo:
                    return False
            if hi_raw is not None:
                hi = _bound_deser(bytes(hi_raw), rtype)
                if hi is not None and want > hi:
                    return False
        except (TypeError, ValueError, struct_error):
            continue  # undecodable summary: stay conservative
    return True


def _live_files(
    table_path: str,
    snapshot: dict,
    partition_filter: dict | None = None,
    skip: list | None = None,
    field_types: dict | None = None,
    spec_summary: tuple[int, list] | None = None,
) -> tuple[
    list[tuple[str, int]], list[str], int | None, list[tuple[str, int, list]]
]:
    """Walk a snapshot's manifests into ``(data, position_delete_files,
    position_delete_rows, equality_deletes)``. ``data`` pairs each data
    file with its DATA SEQUENCE NUMBER (entry-level, inheriting the
    manifest-list entry's when null, 0 for pre-v2 metadata) — the
    ordering equality deletes apply against. ``equality_deletes`` is
    ``(path, sequence_number, equality_field_ids)`` per delete file.
    ``position_delete_rows`` is the manifest record_count sum when
    every position-delete entry declares one (the plan-time broadcast
    decision input), else None (unknown)."""
    ml_path = _localize(snapshot["manifest-list"])
    if not _is_abs(ml_path):
        ml_path = os.path.join(table_path, ml_path)
    _schema, manifests = read_avro_file(ml_path)
    files: list[tuple[str, int]] = []
    delete_files: list[str] = []
    delete_rows: int | None = 0
    eq_deletes: list[tuple[str, int, list]] = []
    for m in manifests:
        if partition_filter and spec_summary:
            spec_id, summary_fields = spec_summary
            summaries = m.get("partitions")
            # summaries are laid out in the WRITING spec's field
            # order/types: only interpret (and prune on) manifests
            # written under the default spec we translated the filter
            # through — older-spec manifests stay conservatively kept
            if (
                summaries
                and m.get("partition_spec_id", 0) == spec_id
                and not _summaries_allow(
                    summaries, partition_filter, summary_fields
                )
            ):
                continue  # whole manifest excluded by its envelope
        is_delete_manifest = m.get("content", 0) == 1
        mseq = m.get("sequence_number") or 0
        mp = _localize(m["manifest_path"])
        if not _is_abs(mp):
            mp = os.path.join(table_path, mp)
        _s, entries = read_avro_file(mp)
        for e in entries:
            if e.get("status", 0) == 2:  # DELETED
                continue
            df = e["data_file"]
            if partition_filter and not _partition_match(df, partition_filter):
                continue  # manifest-level file pruning: never scanned
            if (
                skip
                and df.get("content", 1 if is_delete_manifest else 0) == 0
                and not _bounds_allow(df, skip, field_types or {})
            ):
                continue  # column-bound skipping: envelopes disprove
            content = df.get("content", 1 if is_delete_manifest else 0)
            fmt = (df.get("file_format") or "PARQUET").upper()
            p = _localize(df["file_path"])
            if not _is_abs(p):
                p = os.path.join(table_path, p)
            if fmt == "PUFFIN" and content == 1:
                # v3 deletion vector: one Puffin blob of deleted row
                # ordinals for ONE data file; the manifest entry
                # carries the ranged-read coordinates so the scan
                # never parses the Puffin footer (spec fast path)
                ref = df.get("referenced_data_file")
                if not ref:
                    raise ValueError(
                        "iceberg: PUFFIN delete entry without "
                        "referenced_data_file"
                    )
                delete_files.append(
                    {
                        "puffin": p,
                        "offset": int(df.get("content_offset") or 0),
                        "size": int(
                            df.get("content_size_in_bytes") or 0
                        ),
                        "referenced": ref,
                    }
                )
                rc = df.get("record_count") or 0
                if rc > 0 and delete_rows is not None:
                    delete_rows += rc
                else:
                    delete_rows = None
                continue
            if fmt != "PARQUET":
                raise NotImplementedError(
                    f"iceberg: file format {fmt} not supported"
                )
            eseq = e.get("sequence_number")
            seq = mseq if eseq is None else eseq  # spec: ADDED inherits
            if content == 0:
                if is_delete_manifest:
                    raise ValueError(
                        "iceberg: data file listed in a delete manifest"
                    )
                files.append((p, seq))
            elif content == 1:  # position deletes
                delete_files.append(p)
                rc = df.get("record_count") or 0
                if rc > 0 and delete_rows is not None:
                    delete_rows += rc
                else:
                    delete_rows = None  # any unknown poisons the bound
            else:  # content == 2: equality deletes
                ids = df.get("equality_ids")
                if not ids:
                    raise ValueError(
                        "iceberg: equality-delete file without "
                        "equality_ids"
                    )
                eq_deletes.append((p, seq, list(ids)))
    return files, delete_files, delete_rows, eq_deletes


def _apply_position_deletes(
    spark: SparkSession,
    keyed: DataFrame,
    delete_files: list[str],
    delete_rows: int | None,
) -> DataFrame:
    """Anti-join the scan against its position-delete set. ``keyed``
    must carry ``__fp``/``__pos`` tags (attached on the raw scan —
    they come from the hidden ``_metadata`` struct); tags are kept so
    the equality-delete pass can compose after this one. Broadcasts
    only when manifest stats BOUND the delete rows (no probe job —
    stats are free at plan time).

    ``delete_files`` mixes two delete shapes: plain strings are v2
    parquet position-delete files (scanned as data); dicts are v3
    DELETION VECTORS — Puffin-stored roaring bitmaps, decoded by one
    ranged executor-side read per vector in a ``mapInPandas`` fan-out
    (one task per DV, never a driver loop) and exploded into the same
    ``(__fp, __pos)`` shape, so the two generations compose in one
    anti-join."""
    parquet_dels = [d for d in delete_files if isinstance(d, str)]
    dvs = [d for d in delete_files if isinstance(d, dict)]
    parts = []
    if parquet_dels:
        parts.append(
            spark.read.parquet(*parquet_dels).select(
                norm_path(F.col("file_path")).alias("__fp"),
                F.col("pos").cast("long").alias("__pos"),
            )
        )
    if dvs:
        desc = local_frame(spark, 
            [
                (d["puffin"], d["offset"], d["size"], d["referenced"])
                for d in dvs
            ],
            "`puffin` string, `offset` long, `size` long, "
            "`referenced` string",
        ).repartition(min(len(dvs), 64))

        def _decode(it):
            import pandas as pd

            from dataset_grouper_spark.sources import puffin as _pf

            for pdf in it:
                for pth, off, sz, ref in zip(
                    pdf["puffin"], pdf["offset"], pdf["size"],
                    pdf["referenced"],
                ):
                    pos = _pf.read_dv(pth, int(off), int(sz))
                    yield pd.DataFrame(
                        {
                            "__fp": [norm_path_py(ref)] * len(pos),
                            "__pos": pd.Series(pos, dtype="int64"),
                        }
                    )

        parts.append(
            desc.mapInPandas(_decode, "`__fp` string, `__pos` long")
        )
    dels = parts[0]
    for extra in parts[1:]:
        dels = dels.unionByName(extra)
    if delete_rows is not None and delete_rows <= _DELETE_BROADCAST_ROWS:
        dels = F.broadcast(dels)
    return keyed.join(dels, ["__fp", "__pos"], "left_anti")


def _apply_equality_deletes(
    spark: SparkSession,
    keyed: DataFrame,
    data_files: list[tuple[str, int]],
    eq_deletes: list[tuple[str, int, list]],
    schema: dict,
) -> DataFrame:
    """Apply v2 EQUALITY deletes (Flink-CDC-shape upsert streams write
    these): a delete file's rows remove every data row whose equality
    columns match (NULL = NULL, per spec) AND whose data file has a
    STRICTLY SMALLER data sequence number than the delete — rows
    (re)written at or after the delete survive, which is exactly what
    makes "delete key, then re-insert key" converge.

    ``keyed`` must carry the ``__fp`` tag (attached on the raw scan
    from ``_metadata.file_path``); tags are kept for composition.
    Shape: one planning-scale broadcast map (file → sequence number)
    tags each row with its file's sequence, then one anti-join per
    distinct equality-column set (usually exactly one — the CDC key);
    delete frames of one set union together with per-file sequence
    literals. Nothing driver-side touches data rows."""
    by_id = {f["id"]: f["name"] for f in schema["fields"]}
    types = {f["name"]: _spark_type(f["type"]) for f in schema["fields"]}
    seq_map = local_frame(spark, 
        [(norm_path_py(p), s) for p, s in data_files],
        "`__fp` string, `__seq` long",
    )
    keyed = keyed.join(F.broadcast(seq_map), "__fp", "left")
    groups: dict[tuple, list[tuple[str, int]]] = {}
    for p, seq, ids in eq_deletes:
        try:
            names = tuple(by_id[i] for i in ids)
        except KeyError as exc:
            raise ValueError(
                f"iceberg: equality_ids {ids} not in schema "
                f"(fields {sorted(by_id)})"
            ) from exc
        groups.setdefault(names, []).append((p, seq))
    for names, members in sorted(groups.items()):
        ddl = ", ".join(f"`{n}` {types[n]}" for n in names)
        frames = []
        for p, seq in members:
            frames.append(
                spark.read.schema(ddl)
                .parquet(p)
                .withColumn("__dseq", F.lit(seq).cast("long"))
            )
        dels = frames[0]
        for fr in frames[1:]:
            dels = dels.unionByName(fr)
        dels = dels.select(
            *[F.col(n).alias(f"__d_{n}") for n in names], "__dseq"
        )
        # plan-time broadcast decision from parquet footers (one local
        # metadata read per delete file — planning-scale)
        import pyarrow.parquet as pq

        total = 0
        for p, _ in members:
            with _fs.open_random(p) as fh:
                total += pq.ParquetFile(fh).metadata.num_rows
        if total <= _DELETE_BROADCAST_ROWS:
            dels = F.broadcast(dels)
        cond = F.col("__seq") < F.col("__dseq")
        for n in names:
            cond = cond & F.col(n).eqNullSafe(F.col(f"__d_{n}"))
        keyed = keyed.join(dels, cond, "left_anti")
    return keyed.drop("__seq")


def resolve_iceberg_snapshot(table_path: str, timestamp_ms: int) -> int:
    """Snapshot id current AT ``timestamp_ms`` (epoch millis) — the
    newest snapshot whose commit time is <= the instant (Spark's
    ``TIMESTAMP AS OF`` / Iceberg's ``snapshot-log`` resolution).
    Resolves through the metadata's ``snapshot-log`` when present
    (the spec's authoritative (timestamp, snapshot) history — it
    survives rewrites of the snapshots list), else falls back to the
    retained snapshots' own ``timestamp-ms``. Raises when the instant
    predates all retained history."""
    meta = _load_metadata(table_path)
    log = meta.get("snapshot-log") or [
        {"timestamp-ms": s.get("timestamp-ms", 0),
         "snapshot-id": s["snapshot-id"]}
        for s in meta.get("snapshots") or []
    ]
    retained = {s["snapshot-id"] for s in meta.get("snapshots") or []}
    best = None
    for entry in sorted(log, key=lambda e: e.get("timestamp-ms", 0)):
        if entry.get("timestamp-ms", 0) <= timestamp_ms:
            best = entry
        else:
            break
    if best is None:
        raise ValueError(
            f"iceberg: no snapshot at or before {timestamp_ms} "
            "(instant predates the table's history)"
        )
    if best["snapshot-id"] not in retained:
        # the snapshot CURRENT at that instant was expired — serving an
        # older retained one would silently misrepresent the time
        raise ValueError(
            f"iceberg: snapshot {best['snapshot-id']} (current at "
            f"{timestamp_ms}) has been expired — its state is "
            "unrecoverable"
        )
    return best["snapshot-id"]


def _name_mapping_extras(meta: dict, schema: dict) -> dict[str, str]:
    """logical field name -> ALTERNATE physical parquet column name
    from the table's ``schema.name-mapping.default`` property — the
    Iceberg spec's "Column Projection" rule for data files written
    without field ids (here: files shared from a COLUMN-MAPPED Delta
    table by ``convert_delta_to_iceberg``, which store ``col-<n>``
    physical names). Only names that differ from the schema name are
    returned; absent/invalid mappings resolve to {} (no behavior
    change for ordinary tables)."""
    raw = (meta.get("properties") or {}).get(
        "schema.name-mapping.default"
    )
    if not raw:
        return {}
    try:
        mapping = json.loads(raw)
    except (TypeError, ValueError):
        return {}
    by_id = {f["id"]: f["name"] for f in schema["fields"]}
    out: dict[str, str] = {}
    for m in mapping:
        logical = by_id.get(m.get("field-id"))
        if logical is None:
            continue
        alt = next(
            (n for n in (m.get("names") or []) if n != logical), None
        )
        if alt:
            out[logical] = alt
    return out


def read_iceberg(
    spark: SparkSession,
    table_path: str,
    snapshot_id: int | None = None,
    partition_filter: dict | None = None,
    skip_filters: list | None = None,
    ref: str | None = None,
    timestamp_ms: int | None = None,
    row_ids: bool = False,
) -> DataFrame:
    """Read an Iceberg table at ``snapshot_id`` (default: current) —
    the pinned file set that snapshot's manifests declare live.
    ``ref`` reads at a named tag/branch from the ``refs`` map
    (:func:`iceberg_set_ref`); ``timestamp_ms`` is TIMESTAMP AS OF
    (resolved via :func:`resolve_iceberg_snapshot`); the three pins
    are mutually exclusive. Data
    files carry every column (identity partitions included), so the
    result is one parquet scan with the table schema.

    ``partition_filter`` ({column: RAW value}) prunes FILES at the
    manifest level — the planning-step win Iceberg's metadata exists
    for: at 100 TB a partition-scoped read touches only matching
    files' footers, never the rest of the table. The table's default
    partition spec translates raw values through their TRANSFORMS
    (identity, bucket[N] via the spec's murmur3_x86_32, truncate[W],
    year/month/day/hour on date/datetime values); columns the spec
    does not cover match identity on the raw name, and transforms that
    cannot be computed for the given value never prune.
    Pruning is conservative (files without partition metadata are
    kept) and composes with Spark's own row-group pruning; the same
    predicate should normally also be applied as a .filter() for
    exactness when partition metadata is partial.

    v2 position deletes in the snapshot are applied automatically
    (anti-join on the scan's own file/row-ordinal metadata columns);
    file pruning composes safely with them because delete rows are
    keyed by exact data-file path."""
    meta = _load_metadata(table_path)
    snaps = {s["snapshot-id"]: s for s in meta.get("snapshots") or []}
    if timestamp_ms is not None:
        if snapshot_id is not None or ref is not None:
            raise ValueError(
                "iceberg: timestamp_ms is exclusive with "
                "snapshot_id/ref"
            )
        snapshot_id = resolve_iceberg_snapshot(table_path, timestamp_ms)
    if ref is not None:
        if snapshot_id is not None:
            raise ValueError(
                "iceberg: pass snapshot_id OR ref, not both"
            )
        entry = (meta.get("refs") or {}).get(ref)
        if entry is None:
            raise ValueError(
                f"iceberg: no ref named {ref!r} "
                f"(have {sorted(meta.get('refs') or {})})"
            )
        snapshot_id = entry.get("snapshot-id")
    explicit_pin = snapshot_id is not None  # time travel / tag read
    if snapshot_id is None:
        snapshot_id = meta.get("current-snapshot-id")
    if snapshot_id is None or snapshot_id not in snaps:
        raise ValueError(
            f"iceberg: snapshot {snapshot_id!r} not in table "
            f"(have {sorted(snaps)})"
        )
    schemas = meta.get("schemas") or (
        [meta["schema"]] if meta.get("schema") else []
    )
    # TIME TRAVEL (explicit snapshot/tag) reads with the SNAPSHOT's
    # schema (evolution otherwise silently nulls renamed/added columns
    # in old snapshots). A LATEST read uses the table's CURRENT schema
    # — metadata-only evolution (ALTER TABLE ADD COLUMN bumps
    # current-schema-id with NO new snapshot, the foreign-engine norm)
    # must widen the next read, with old files NULL-backfilled. Each
    # path falls back to the other when its id is untracked.
    if explicit_pin:
        want_id = snaps[snapshot_id].get("schema-id")
        if want_id is None:
            want_id = meta.get("current-schema-id")
    else:
        want_id = meta.get("current-schema-id")
        if want_id is None:
            want_id = snaps[snapshot_id].get("schema-id")
    schema = next(
        (s for s in schemas if s.get("schema-id") == want_id), schemas[-1]
    )
    ddl = ", ".join(
        f"`{f['name']}` {_spark_type(f['type'])}" for f in schema["fields"]
    )
    expected = (
        _expected_partition(meta, partition_filter)
        if partition_filter
        else None
    )
    skip = None
    field_types: dict = {}
    if skip_filters:
        by_name = {f["name"]: f for f in schema["fields"]}
        skip = []
        for col, op, value in skip_filters:
            if op not in ("=", "<", "<=", ">", ">="):
                raise ValueError(
                    f"skip_filters: unsupported op {op!r}"
                )
            f = by_name.get(col)
            if f is None:
                raise ValueError(
                    f"skip_filters: column {col!r} not in schema"
                )
            skip.append((f["id"], op, value))
            field_types[f["id"]] = f["type"]
    data_seqs, delete_files, delete_rows, eq_deletes = _live_files(
        table_path,
        snaps[snapshot_id],
        expected,
        skip,
        field_types,
        spec_summary=_spec_summary_fields(meta) if expected else None,
    )
    if not data_seqs:
        if row_ids:
            # schema contract: _row_id present even on an empty plan
            ddl = ddl + ", `_row_id` bigint"
        return spark.createDataFrame([], ddl)
    files = [p for p, _ in data_seqs]
    # name mapping (converted column-mapped Delta files): scan BOTH
    # the logical and the mapped physical names — each file populates
    # whichever it has (parquet by-name resolution nulls the other) —
    # then coalesce per column, so mixed tables (shared physical-name
    # files + later logical-name appends) read in ONE scan
    nm = _name_mapping_extras(meta, schema)
    type_of = {
        f["name"]: _spark_type(f["type"]) for f in schema["fields"]
    }
    scan_ddl = ddl
    if nm:
        scan_ddl = scan_ddl + ", " + ", ".join(
            f"`{p}` {type_of[l]}" for l, p in nm.items()
        )
    if row_ids:
        # compacted files MATERIALIZE _row_id as a physical column
        # (spec "Row Lineage": rewritten rows must carry explicit ids
        # — position inheritance no longer holds); files that never
        # went through a rewrite lack the column and read as null,
        # falling back to first_row_id + ordinal below
        scan_ddl = scan_ddl + ", `_row_id` bigint"
    data = spark.read.schema(scan_ddl).parquet(*files)
    if not (delete_files or eq_deletes or row_ids):
        if nm:
            return data.select(
                *[
                    F.coalesce(F.col(n), F.col(nm[n])).alias(n)
                    if n in nm
                    else F.col(n)
                    for n in (f["name"] for f in schema["fields"])
                ]
            )
        return data
    # tag ONCE on the raw scan (the hidden _metadata struct is only
    # addressable there), then compose both delete passes on the tags
    cols = [f["name"] for f in schema["fields"]]
    keyed = data.withColumns(
        {
            "__fp": norm_path(F.col("_metadata.file_path")),
            "__pos": F.col("_metadata.row_index"),
        }
    )
    if nm:
        # resolve mapped columns BEFORE delete application so
        # equality deletes compare real values, not nulls
        keyed = keyed.withColumns(
            {
                logical: F.coalesce(F.col(logical), F.col(p))
                for logical, p in nm.items()
            }
        ).drop(*nm.values())
    if delete_files:
        keyed = _apply_position_deletes(
            spark, keyed, delete_files, delete_rows
        )
    if eq_deletes:
        keyed = _apply_equality_deletes(
            spark, keyed, data_seqs, eq_deletes, schema
        )
    if row_ids:
        # v3 ROW LINEAGE: _row_id = the file's materialized _row_id
        # column when present (compacted files), else first_row_id +
        # the row's ordinal (spec "Row Lineage" inheritance). Deletes
        # compose for free — dead rows vanish, survivors keep their
        # ids, which is the stability contract lineage exists for.
        # The per-file map is planning-scale and broadcasts.
        if "next-row-id" not in meta:
            raise ValueError(
                "read_iceberg(row_ids=True): row lineage is not "
                "enabled on this table — run "
                "iceberg_enable_row_lineage first"
            )
        frids = _first_row_ids(table_path, snaps[snapshot_id])
        fmap = local_frame(spark, 
            [(norm_path_py(p), fid) for p, fid in frids.items()],
            "`__fp` string, `__frid` long",
        )
        keyed = keyed.join(F.broadcast(fmap), "__fp", "left")
        return keyed.select(
            *cols,
            F.coalesce(
                F.col("_row_id"), F.col("__frid") + F.col("__pos")
            ).alias("_row_id"),
        )
    return keyed.select(*cols)


_MANIFEST_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": ["null", "long"]},
        # null = inherit the manifest-list entry's sequence number
        # (spec behavior for ADDED entries)
        {"name": "sequence_number", "type": ["null", "long"]},
        {
            "name": "data_file",
            "type": {
                "type": "record",
                "name": "r2",
                "fields": [
                    {"name": "content", "type": "int"},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                    {
                        "name": "equality_ids",
                        "type": ["null", {"type": "array", "items": "int"}],
                    },
                    # spec: map<field id, single-value binary>; Avro
                    # maps key on strings, so the k_v array form
                    {
                        "name": "lower_bounds",
                        "type": [
                            "null",
                            {
                                "type": "array",
                                "items": {
                                    "type": "record",
                                    "name": "k_v_lower",
                                    "fields": [
                                        {"name": "key", "type": "int"},
                                        {"name": "value", "type": "bytes"},
                                    ],
                                },
                            },
                        ],
                    },
                    {
                        "name": "upper_bounds",
                        "type": [
                            "null",
                            {
                                "type": "array",
                                "items": {
                                    "type": "record",
                                    "name": "k_v_upper",
                                    "fields": [
                                        {"name": "key", "type": "int"},
                                        {"name": "value", "type": "bytes"},
                                    ],
                                },
                            },
                        ],
                    },
                ],
            },
        },
    ],
}


# v3 row lineage: data entries gain first_row_id; a file's row N has
# _row_id = first_row_id + N (spec "Row Lineage"). Same separate-
# schema pattern as the DV manifests below.
_MANIFEST_SCHEMA_LINEAGE = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": ["null", "long"]},
        {"name": "sequence_number", "type": ["null", "long"]},
        {
            "name": "data_file",
            "type": {
                "type": "record",
                "name": "r2rl",
                "fields": [
                    {"name": "content", "type": "int"},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                    {"name": "first_row_id", "type": ["null", "long"]},
                    {
                        "name": "equality_ids",
                        "type": ["null", {"type": "array", "items": "int"}],
                    },
                    {
                        "name": "lower_bounds",
                        "type": [
                            "null",
                            {
                                "type": "array",
                                "items": {
                                    "type": "record",
                                    "name": "k_v_lower_rl",
                                    "fields": [
                                        {"name": "key", "type": "int"},
                                        {"name": "value", "type": "bytes"},
                                    ],
                                },
                            },
                        ],
                    },
                    {
                        "name": "upper_bounds",
                        "type": [
                            "null",
                            {
                                "type": "array",
                                "items": {
                                    "type": "record",
                                    "name": "k_v_upper_rl",
                                    "fields": [
                                        {"name": "key", "type": "int"},
                                        {"name": "value", "type": "bytes"},
                                    ],
                                },
                            },
                        ],
                    },
                ],
            },
        },
    ],
}


# v3 deletion-vector manifest entries add three data_file fields
# (referenced_data_file, content_offset, content_size_in_bytes — spec
# "Deletion vectors"). A SEPARATE schema, not new fields on
# _MANIFEST_SCHEMA: Avro manifests are self-describing (readers decode
# by the file-embedded schema), so DV manifests can carry the wider
# record while every other writer keeps the v2 shape untouched.
_MANIFEST_SCHEMA_DV = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": ["null", "long"]},
        {"name": "sequence_number", "type": ["null", "long"]},
        {
            "name": "data_file",
            "type": {
                "type": "record",
                "name": "r2dv",
                "fields": [
                    {"name": "content", "type": "int"},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                    {
                        "name": "referenced_data_file",
                        "type": ["null", "string"],
                    },
                    {"name": "content_offset", "type": ["null", "long"]},
                    {
                        "name": "content_size_in_bytes",
                        "type": ["null", "long"],
                    },
                ],
            },
        },
    ],
}


def _bound_ser(value, ice_type: str) -> bytes | None:
    """Iceberg Appendix D single-value binary serialization for the
    bound types this writer records."""
    import struct

    if ice_type == "int":
        return struct.pack("<i", int(value))
    if ice_type == "long":
        return struct.pack("<q", int(value))
    if ice_type == "float":
        return struct.pack("<f", float(value))
    if ice_type == "double":
        return struct.pack("<d", float(value))
    if ice_type == "string":
        return str(value).encode("utf-8")
    return None


def _bound_deser(raw: bytes, ice_type: str):
    import struct

    if ice_type == "int":
        return struct.unpack("<i", raw)[0]
    if ice_type == "long":
        return struct.unpack("<q", raw)[0]
    if ice_type == "float":
        return struct.unpack("<f", raw)[0]
    if ice_type == "double":
        return struct.unpack("<d", raw)[0]
    if ice_type == "string":
        return raw.decode("utf-8", errors="replace")
    return None


_BOUND_TYPES = {"int", "long", "float", "double", "string"}


def _footer_bounds(path: str, fields: list[dict]):
    """(lower_bounds, upper_bounds) k_v lists from the parquet footer
    for bound-eligible schema fields — the stats envelopes manifest
    entries carry for scan planning. None when nothing is eligible."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    eligible = {
        f["name"]: (f["id"], f["type"])
        for f in fields
        if isinstance(f["type"], str) and f["type"] in _BOUND_TYPES
    }
    mins: dict = {}
    maxs: dict = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if name not in eligible:
                continue
            st = col.statistics
            if st is None or not st.has_min_max:
                continue
            lo, hi = st.min, st.max
            if isinstance(lo, bytes):
                try:
                    lo, hi = lo.decode(), hi.decode()
                except UnicodeDecodeError:
                    continue
            mins[name] = lo if name not in mins else min(mins[name], lo)
            maxs[name] = hi if name not in maxs else max(maxs[name], hi)
    lower, upper = [], []
    for name in mins:
        fid, ice_type = eligible[name]
        lo_b = _bound_ser(mins[name], ice_type)
        hi_b = _bound_ser(maxs[name], ice_type)
        if lo_b is not None and hi_b is not None:
            lower.append({"key": fid, "value": lo_b})
            upper.append({"key": fid, "value": hi_b})
    return (lower or None, upper or None)


def _bounds_allow(df: dict, skip, field_types: dict) -> bool:
    """Can any row of this data file satisfy every ``(field_id, op,
    value)`` conjunct, judged from its manifest bound envelopes?
    Conservative: missing bounds keep the file."""
    lowers = {
        e["key"]: e["value"] for e in (df.get("lower_bounds") or [])
    }
    uppers = {
        e["key"]: e["value"] for e in (df.get("upper_bounds") or [])
    }
    for fid, op, value in skip:
        if fid not in lowers or fid not in uppers:
            continue
        ice_type = field_types.get(fid)
        if ice_type not in _BOUND_TYPES:
            continue
        lo = _bound_deser(bytes(lowers[fid]), ice_type)
        hi = _bound_deser(bytes(uppers[fid]), ice_type)
        if lo is None or hi is None:
            continue
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

_MLIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "content", "type": "int"},
        {"name": "sequence_number", "type": "long"},
        {"name": "added_snapshot_id", "type": "long"},
    ],
}


def _iceberg_type(spark_type: str) -> str:
    m = {
        "bigint": "long", "long": "long", "int": "int", "integer": "int",
        "double": "double", "float": "float", "boolean": "boolean",
        "string": "string", "binary": "binary", "date": "date",
        "timestamp": "timestamp",
    }
    t = m.get(spark_type)
    if t is None:
        raise ValueError(
            f"iceberg_append: cannot map Spark type {spark_type!r}"
        )
    return t


def _spec_field_name(col: str, transform: str) -> str:
    """Default partition field names, Iceberg convention."""
    if transform == "identity":
        return col
    m = re.fullmatch(r"bucket\[\d+\]", transform)
    if m:
        return f"{col}_bucket"
    m = re.fullmatch(r"truncate\[\d+\]", transform)
    if m:
        return f"{col}_trunc"
    if transform in ("year", "month", "day", "hour"):
        return f"{col}_{transform}"
    raise ValueError(f"iceberg_append: unknown transform {transform!r}")


def _transform_column(col: str, transform: str, src_type: str):
    """The Spark Column computing a transform's partition value for
    every row — the WRITE side of the spec's transform table
    (:func:`_transform_value` is the read/prune side; tests pin the
    two to agree value-for-value)."""
    c = F.col(col)
    if transform == "identity":
        return c
    m = re.fullmatch(r"bucket\[(\d+)\]", transform)
    if m:
        n = int(m.group(1))

        def _bucket_fn(vals):
            import struct as _struct

            def one(v):
                if v is None:
                    return None
                if src_type in ("int", "long"):
                    data = _struct.pack("<q", int(v))
                elif src_type == "string":
                    data = str(v).encode("utf-8")
                else:
                    raise ValueError(
                        f"iceberg_append: bucket[] on {src_type} "
                        "not supported by this writer"
                    )
                return (_murmur3_32(data) & 0x7FFFFFFF) % n

            return vals.map(one).astype("object")

        return F.pandas_udf(_bucket_fn, "int")(col)
    m = re.fullmatch(r"truncate\[(\d+)\]", transform)
    if m:
        w = int(m.group(1))
        if src_type in ("int", "long"):
            return c - F.pmod(c, F.lit(w))
        if src_type == "string":
            return F.substring(c, 1, w)
        raise ValueError(
            f"iceberg_append: truncate[] on {src_type} not supported"
        )
    if transform == "year":
        return F.year(c) - F.lit(1970)
    if transform == "month":
        return (F.year(c) - F.lit(1970)) * 12 + F.month(c) - F.lit(1)
    if transform == "day":
        return F.datediff(F.to_date(c), F.lit("1970-01-01"))
    if transform == "hour":
        return F.floor(
            F.unix_timestamp(c).cast("long") / F.lit(3600)
        ).cast("int")
    raise ValueError(f"iceberg_append: unknown transform {transform!r}")


def _default_spec_value_types(meta: dict, schema: dict):
    """(spec_entry, value_types) for the table's default partition
    spec — the Avro value type per partition field, derived from the
    source column type and the transform. Shared by every writer that
    re-declares partitioned manifest entries."""
    spec_entry = next(
        (
            s
            for s in meta.get("partition-specs") or []
            if s.get("spec-id") == meta.get("default-spec-id", 0)
        ),
        {"fields": []},
    )
    by_id = {f["id"]: f["name"] for f in schema["fields"]}
    src_types = {f["name"]: f["type"] for f in schema["fields"]}
    value_types = {}
    for f in spec_entry["fields"]:
        src_t = src_types.get(by_id.get(f.get("source-id")), "string")
        t = f.get("transform", "identity")
        if t == "identity":
            value_types[f["name"]] = (
                "string" if src_t == "string" else "long"
            )
        elif t.startswith("truncate[") and src_t == "string":
            value_types[f["name"]] = "string"
        else:
            value_types[f["name"]] = "long"
    return spec_entry, value_types


def _partition_manifest_schema(
    spec_fields, value_types, lineage: bool = False
) -> dict:
    """_MANIFEST_SCHEMA with a typed ``partition`` record spliced into
    data_file — Avro needs concrete field types, and they vary per
    table; readers are fine because Avro containers are
    self-describing. ``lineage=True`` splices into the row-lineage
    variant (entries carry ``first_row_id``)."""
    import copy

    schema = copy.deepcopy(
        _MANIFEST_SCHEMA_LINEAGE if lineage else _MANIFEST_SCHEMA
    )
    part_record = {
        "type": "record",
        "name": "r_partition",
        "fields": [
            {"name": f["name"], "type": ["null", value_types[f["name"]]]}
            for f in spec_fields
        ],
    }
    for fld in schema["fields"]:
        if fld["name"] == "data_file":
            fld["type"]["fields"].append(
                {"name": "partition", "type": ["null", part_record]}
            )
    return schema


def iceberg_append(
    spark: SparkSession,
    df: DataFrame,
    table_path: str,
    partition_spec: list[tuple[str, str]] | None = None,
    summary: dict | None = None,
    merge_schema: bool = False,
) -> int:
    """APPEND ``df`` to an Iceberg table as one new snapshot; creates
    the table when absent. Returns the snapshot id.

    Per the spec's commit model: data files land first, then a NEW
    manifest (Avro) listing them, a NEW manifest list = previous
    snapshot's manifests + the new one, and a new ``v<N>.metadata.json``
    claimed with an exclusive create (put-if-absent on the version
    file — HadoopCatalog-style optimistic concurrency); the
    version-hint is updated last.

    ``partition_spec`` — ``[(column, transform), ...]`` with transforms
    ``identity``, ``bucket[N]`` (spec murmur3), ``truncate[W]``,
    ``year/month/day/hour`` — declares the table's partition layout at
    creation: per-row partition values are computed Catalyst-side
    (bucket via a vectorized pandas_udf over the spec hash), files
    land grouped by them, and each ``data_file.partition`` struct in
    the manifest carries the typed values — which is exactly what
    ``read_iceberg(partition_filter=...)`` prunes on. Source columns
    stay INSIDE the data files (Iceberg semantics), so the helper
    grouping columns never hit disk. Appends to an existing
    partitioned table must pass the SAME spec (or None to reuse it).

    Append-only scope: schema must match an existing table."""
    import glob
    import shutil
    import tempfile
    import urllib.parse
    import uuid

    mdir = os.path.join(table_path, "metadata")
    exists = _fs.is_dir(mdir) and any(
        n.endswith(".metadata.json") for n in _fs.listdir(mdir)
    )
    if exists:
        meta = _load_metadata(table_path)
        cur_schema = next(
            (
                s
                for s in meta.get("schemas") or []
                if s.get("schema-id") == meta.get("current-schema-id")
            ),
            None,
        )
        have = [f["name"] for f in (cur_schema or {}).get("fields", [])]
        # overlapping columns must keep their types in EVERY append
        # path (a retyped column would otherwise corrupt bounds and
        # data silently — parquet happily stores the new type)
        df_types = {f.name: f.dataType.simpleString() for f in df.schema}
        for f in (cur_schema or {}).get("fields", []):
            if f["name"] in df_types:
                want_t = _iceberg_type(df_types[f["name"]])
                if want_t != f["type"]:
                    raise ValueError(
                        f"iceberg_append: column {f['name']!r} type "
                        f"changed ({f['type']} -> {want_t}); only "
                        "ADDING columns (merge_schema=True) is "
                        "supported"
                    )
        if have != df.columns and merge_schema:
            # SCHEMA EVOLUTION (additive, the spec's add-column case):
            # the frame must carry every existing column (same order,
            # same types); extra columns append to a NEW schema entry
            # with CONTINUING field ids (ids are never reused — the
            # invariant equality-delete ids and partition source-ids
            # depend on). Old data files simply lack the new columns
            # and backfill NULL at read (schema-on-read).
            if df.columns[: len(have)] != have:
                raise ValueError(
                    f"iceberg_append(merge_schema): existing columns "
                    f"must lead the frame — table has {have}, frame "
                    f"has {df.columns}"
                )
            next_id = (
                max(
                    (
                        f["id"]
                        for s in meta.get("schemas") or []
                        for f in s.get("fields", [])
                    ),
                    default=0,
                )
                + 1
            )
            new_fields = [dict(f) for f in cur_schema["fields"]]
            for name in df.columns[len(have):]:
                new_fields.append(
                    {
                        "id": next_id,
                        "name": name,
                        "required": False,
                        "type": _iceberg_type(df_types[name]),
                    }
                )
                next_id += 1
            new_sid = (
                max(
                    s.get("schema-id", 0)
                    for s in meta.get("schemas") or []
                )
                + 1
            )
            cur_schema = {
                "type": "struct",
                "schema-id": new_sid,
                "fields": new_fields,
            }
            meta["schemas"].append(cur_schema)
            meta["current-schema-id"] = new_sid
        elif have != df.columns:
            raise ValueError(
                f"iceberg_append: schema mismatch — table has {have}, "
                f"frame has {df.columns}"
            )
        by_id = {
            f["id"]: f["name"] for f in (cur_schema or {}).get("fields", [])
        }
        specs = meta.get("partition-specs") or []
        want = meta.get("default-spec-id", 0)
        spec = next(
            (s for s in specs if s.get("spec-id") == want),
            specs[0] if specs else {"fields": []},
        )
        table_spec = [
            (by_id.get(f.get("source-id")), f.get("transform", "identity"))
            for f in spec.get("fields", [])
        ]
        if partition_spec is None:
            partition_spec = table_spec or None
        elif list(partition_spec) != table_spec:
            raise ValueError(
                f"iceberg_append: partition spec mismatch — table has "
                f"{table_spec}, call passed {list(partition_spec)}"
            )
    else:
        _fs.makedirs(mdir)
        schema_fields = [
            {
                "id": i + 1,
                "name": f.name,
                "required": False,
                "type": _iceberg_type(f.dataType.simpleString()),
            }
            for i, f in enumerate(df.schema.fields)
        ]
        ids = {f["name"]: f["id"] for f in schema_fields}
        spec_fields = []
        for i, (col, transform) in enumerate(partition_spec or []):
            if col not in ids:
                raise ValueError(
                    f"iceberg_append: partition column {col!r} not in frame"
                )
            spec_fields.append(
                {
                    "name": _spec_field_name(col, transform),
                    "transform": transform,
                    "source-id": ids[col],
                    "field-id": 1000 + i,
                }
            )
        meta = {
            "format-version": 2,
            "table-uuid": str(uuid.uuid4()),
            "location": table_path,
            "current-snapshot-id": None,
            "schemas": [
                {
                    "type": "struct",
                    "schema-id": 0,
                    "fields": schema_fields,
                }
            ],
            "current-schema-id": 0,
            "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
            "default-spec-id": 0,
            "snapshots": [],
        }
    _fs.makedirs(os.path.join(table_path, "data"))
    stage = tempfile.mkdtemp(prefix="_ice_stage_")
    snap_id = (
        max((s["snapshot-id"] for s in meta["snapshots"]), default=0) + 1
    )
    entries = []
    manifest_schema = _MANIFEST_SCHEMA
    if partition_spec:
        cur_schema = meta["schemas"][
            [s.get("schema-id") for s in meta["schemas"]].index(
                meta.get("current-schema-id", 0)
            )
        ]
        src_types = {f["name"]: f["type"] for f in cur_schema["fields"]}
        spec_entry = next(
            s
            for s in meta["partition-specs"]
            if s.get("spec-id") == meta.get("default-spec-id", 0)
        )
        field_names = [f["name"] for f in spec_entry["fields"]]
        helpers = {
            f"__p_{f['name']}": _transform_column(
                col, transform, src_types[col]
            )
            for f, (col, transform) in zip(
                spec_entry["fields"], partition_spec
            )
        }
        (
            df.withColumns(helpers)
            .write.mode("overwrite")
            .partitionBy(*helpers.keys())
            .parquet(stage)
        )
        # typed read-back of hive dir values, by transform result kind
        def parse_val(fname, raw):
            if raw == "__HIVE_DEFAULT_PARTITION__":
                return None
            raw = urllib.parse.unquote(raw)
            spec_f = next(
                f for f in spec_entry["fields"] if f["name"] == fname
            )
            t = spec_f["transform"]
            src = src_types[
                next(
                    c
                    for c, tr in partition_spec
                    if _spec_field_name(c, tr) == fname
                )
            ]
            if t == "identity":
                return int(raw) if src in ("int", "long") else raw
            if t.startswith("truncate[") and src == "string":
                return raw
            return int(raw)
        value_types = {}
        for f, (col, transform) in zip(spec_entry["fields"], partition_spec):
            src = src_types[col]
            if transform == "identity":
                value_types[f["name"]] = (
                    "string" if src == "string" else "long"
                )
            elif transform.startswith("truncate[") and src == "string":
                value_types[f["name"]] = "string"
            else:
                value_types[f["name"]] = "long"
        manifest_schema = _partition_manifest_schema(
            spec_entry["fields"], value_types
        )
        pattern = os.path.join(
            stage, *["*"] * len(field_names), "part-*.parquet"
        )
        import pyarrow.parquet as _pq

        for src in sorted(glob.glob(pattern)):
            rel_dir = os.path.relpath(os.path.dirname(src), stage)
            partition = {}
            for piece in rel_dir.split(os.sep):
                k, _, v = piece.partition("=")
                partition[k[len("__p_"):]] = parse_val(
                    k[len("__p_"):], v
                )
            dst = os.path.join(
                table_path, "data", f"s{snap_id}-{uuid.uuid4().hex}.parquet"
            )
            # stat the LOCAL staged file before the (possibly remote)
            # move — footer reads must not re-fetch from object store
            lo_b, hi_b = _footer_bounds(src, cur_schema["fields"])
            nrows = _pq.ParquetFile(src).metadata.num_rows
            nbytes = os.path.getsize(src)
            _fs.move(src, dst)
            entries.append(
                {
                    "status": 1,
                    "snapshot_id": None,
                    "sequence_number": None,
                    "data_file": {
                        "content": 0,
                        "file_path": dst,
                        "file_format": "PARQUET",
                        "record_count": nrows,
                        "file_size_in_bytes": nbytes,
                        "equality_ids": None,
                        "lower_bounds": lo_b,
                        "upper_bounds": hi_b,
                        "partition": partition,
                    },
                }
            )
    else:
        df.write.mode("overwrite").parquet(stage)
        import pyarrow.parquet as _pq2

        sch = meta["schemas"][
            [x.get("schema-id") for x in meta["schemas"]].index(
                meta.get("current-schema-id", 0)
            )
        ]
        for src in sorted(glob.glob(os.path.join(stage, "part-*.parquet"))):
            dst = os.path.join(
                table_path, "data", f"s{snap_id}-{uuid.uuid4().hex}.parquet"
            )
            lo_b, hi_b = _footer_bounds(src, sch["fields"])
            nrows = _pq2.ParquetFile(src).metadata.num_rows
            nbytes = os.path.getsize(src)
            _fs.move(src, dst)
            entries.append(
                {
                    "status": 1,
                    "snapshot_id": None,
                    "sequence_number": None,  # inherit from the manifest list
                    "data_file": {
                        "content": 0,
                        "file_path": dst,
                        "file_format": "PARQUET",
                        "record_count": nrows,
                        "file_size_in_bytes": nbytes,
                        "equality_ids": None,
                        "lower_bounds": lo_b,
                        "upper_bounds": hi_b,
                    },
                }
            )
    shutil.rmtree(stage, ignore_errors=True)
    if "next-row-id" in meta:
        # v3 row lineage: every new file takes the next id block in
        # the (deterministic, sorted-stage) order entries were built;
        # partitioned manifests splice first_row_id next to their
        # typed partition record (r12 — the gate is gone)
        cur = int(meta["next-row-id"])
        for e in entries:
            e["data_file"]["first_row_id"] = cur
            cur += int(e["data_file"]["record_count"])
        meta["next-row-id"] = cur
        manifest_schema = (
            _partition_manifest_schema(
                spec_entry["fields"], value_types, lineage=True
            )
            if partition_spec
            else _MANIFEST_SCHEMA_LINEAGE
        )
    mpath = os.path.join(mdir, f"m-{snap_id}-{uuid.uuid4().hex}.avro")
    write_avro_file(mpath, manifest_schema, entries)
    return _commit_snapshot(
        table_path, meta, snap_id, mpath, content=0, summary=summary
    )


def _commit_snapshot(
    table_path: str,
    meta: dict,
    snap_id: int,
    manifest_path: str,
    content: int,
    summary: dict | None = None,
    carry_content: set[int] | None = None,
) -> int:
    """Shared commit tail: new manifest list = previous snapshot's
    manifests (data AND delete, content preserved, each KEEPING its
    original sequence number — spec carry-over) + the new manifest
    stamped with the table's next sequence number; append the snapshot
    to metadata (advancing ``last-sequence-number``); claim the next
    metadata version with an exclusive create (put-if-absent
    optimistic commit).

    ``carry_content`` restricts WHICH previous manifests carry over
    (by their manifest-list ``content`` code: 0 = data, 1 = deletes);
    None carries all. REPLACE commits (compaction) pass ``{1}`` — the
    new manifest re-declares the full live data-file set itself, so
    previous data manifests must drop out of the manifest list."""
    import uuid

    mdir = os.path.join(table_path, "metadata")
    sequence = int(meta.get("last-sequence-number") or 0) + 1
    prev_manifests = []
    if meta.get("current-snapshot-id") is not None:
        cur = next(
            s
            for s in meta["snapshots"]
            if s["snapshot-id"] == meta["current-snapshot-id"]
        )
        ml = _localize(cur["manifest-list"])
        if not _is_abs(ml):
            ml = os.path.join(table_path, ml)
        _s, prev = read_avro_file(ml)
        # .get with defaults: manifest lists written before sequence
        # tracking carry-over at sequence 0 (pre-v2 semantics)
        prev_manifests = [
            {
                k: (
                    m.get("sequence_number", 0)
                    if k == "sequence_number"
                    else m[k]
                )
                for k in (f["name"] for f in _MLIST_SCHEMA["fields"])
            }
            for m in prev
            if carry_content is None
            or m.get("content", 0) in carry_content
        ]
    mlpath = os.path.join(mdir, f"snap-{snap_id}-{uuid.uuid4().hex}.avro")
    write_avro_file(
        mlpath,
        _MLIST_SCHEMA,
        prev_manifests
        + [
            {
                "manifest_path": manifest_path,
                "manifest_length": _fs.file_size(manifest_path),
                "partition_spec_id": 0,
                "content": content,
                "sequence_number": sequence,
                "added_snapshot_id": snap_id,
            }
        ],
    )
    snap_record = {
        "snapshot-id": snap_id,
        "sequence-number": sequence,
        "timestamp-ms": snap_id,  # deterministic, monotone
        "schema-id": meta.get("current-schema-id", 0),
        "manifest-list": mlpath,
    }
    if summary:
        snap_record["summary"] = dict(summary)
    meta["snapshots"].append(snap_record)
    meta["last-sequence-number"] = sequence
    meta["current-snapshot-id"] = snap_id
    # claim the next metadata version exclusively (optimistic commit)
    versions = [
        int(n[1:].split(".")[0])
        for n in _fs.listdir(mdir)
        if n.endswith(".metadata.json")
        and n.startswith("v")
        and n[1:].split(".")[0].isdigit()
    ]
    v = max(versions, default=0) + 1
    try:
        with _fs.open_create(os.path.join(mdir, f"v{v}.metadata.json")) as f:
            f.write(json.dumps(meta).encode())
    except FileExistsError:
        raise RuntimeError(
            "iceberg: lost the metadata-version race — re-run the "
            "commit (snapshot state must be re-derived from the "
            "winner's metadata)"
        )
    _fs.write_text(os.path.join(mdir, "version-hint.text"), str(v))
    return snap_id


def iceberg_delete_where(
    spark: SparkSession, table_path: str, condition: Column | str
) -> int:
    """Merge-on-read DELETE: commit a new snapshot whose POSITION
    DELETE files (parquet ``(file_path, pos)`` rows, spec-ordered by
    file then position) mark every current row matching ``condition``
    — no data file is rewritten, so the write cost is O(deleted rows)
    while copy-on-write pays O(touched files). This is the v2
    merge-on-read economics: at 100 TB a point delete commits in
    seconds regardless of table size, and readers pay one anti-join.

    Rows already deleted — by earlier POSITION deletes or by EQUALITY
    deletes (sequence-ordered: an equality delete only kills rows in
    data files with a strictly smaller data sequence number) — are
    excluded from matching, because the predicate runs on the same
    composed scan :func:`read_iceberg` serves. So repeated deletes
    compose, a re-run of the same predicate is a no-op, and the
    Flink-CDC + GDPR composition (equality-delete a key, then
    position-delete by predicate) is first-class. Returns the new
    snapshot id, or the CURRENT snapshot id unchanged when nothing
    matches."""
    import glob
    import shutil
    import tempfile
    import uuid

    meta = _load_metadata(table_path)
    cur_id = meta.get("current-snapshot-id")
    if cur_id is None:
        raise ValueError("iceberg_delete_where: table has no snapshots")
    snaps = {s["snapshot-id"]: s for s in meta["snapshots"]}
    data_seqs, delete_files, delete_rows, eq_deletes = _live_files(
        table_path, snaps[cur_id]
    )
    data_files = [p for p, _ in data_seqs]
    if not data_files:
        return cur_id
    schemas = meta.get("schemas") or []
    schema = next(
        (
            s
            for s in schemas
            if s.get("schema-id") == meta.get("current-schema-id")
        ),
        schemas[-1] if schemas else None,
    )
    ddl = ", ".join(
        f"`{f['name']}` {_spark_type(f['type'])}" for f in schema["fields"]
    )
    # match against the CURRENT-VIEW scan: tag the raw scan with its
    # file/row-ordinal metadata, then compose BOTH delete passes on the
    # tags exactly as read_iceberg does — already-dead rows (position-
    # or equality-deleted) can never match, keeping delete files
    # disjoint and re-runs no-ops
    keyed = file_scan(spark, ddl, data_files)
    if delete_files:
        keyed = _apply_position_deletes(
            spark, keyed, delete_files, delete_rows
        )
    if eq_deletes:
        keyed = _apply_equality_deletes(
            spark, keyed, data_seqs, eq_deletes, schema
        )
    cond = F.expr(condition) if isinstance(condition, str) else condition
    # manifest-declared path for each scanned file (broadcast map:
    # one row per live data file — planning-scale, not data-scale);
    # scheme-aware keys, or URI-backed tables silently no-op
    path_map = local_frame(spark, 
        [(norm_path_py(p), p) for p in data_files],
        "`__fp` string, `file_path` string",
    )
    hits = (
        keyed.filter(cond)
        .select(F.col("__fp"), F.col("__pos").alias("pos"))
        .join(F.broadcast(path_map), "__fp")
        .select("file_path", "pos")
    )
    stage = tempfile.mkdtemp(prefix="_ice_del_stage_")
    (
        hits.repartition("file_path")
        .sortWithinPartitions("file_path", "pos")
        .write.mode("overwrite")
        .parquet(stage)
    )
    import pyarrow.parquet as pq

    snap_id = max(snaps) + 1
    entries = []
    _fs.makedirs(os.path.join(table_path, "data"))  # converted tables
    for src in sorted(glob.glob(os.path.join(stage, "part-*.parquet"))):
        nrows = pq.ParquetFile(src).metadata.num_rows
        if nrows == 0:
            continue  # empty shard: nothing to declare
        dst = os.path.join(
            table_path,
            "data",
            f"delete-{snap_id}-{uuid.uuid4().hex}.parquet",
        )
        nbytes = os.path.getsize(src)
        _fs.move(src, dst)
        entries.append(
            {
                "status": 1,
                "snapshot_id": None,
                "sequence_number": None,  # inherit from the manifest list
                "data_file": {
                    "content": 1,  # position deletes
                    "file_path": dst,
                    "file_format": "PARQUET",
                    "record_count": nrows,
                    "file_size_in_bytes": nbytes,
                    "equality_ids": None,
                    "lower_bounds": None,
                    "upper_bounds": None,
                },
            }
        )
    shutil.rmtree(stage, ignore_errors=True)
    if not entries:
        return cur_id  # nothing matched: no snapshot, table unchanged
    mdir = os.path.join(table_path, "metadata")
    mpath = os.path.join(mdir, f"d-{snap_id}-{uuid.uuid4().hex}.avro")
    write_avro_file(mpath, _MANIFEST_SCHEMA, entries)
    return _commit_snapshot(table_path, meta, snap_id, mpath, content=1)


def iceberg_dv_delete(
    spark: SparkSession, table_path: str, condition
) -> int:
    """Merge-on-read DELETE via v3 DELETION VECTORS: every current row
    matching ``condition`` is marked in a Puffin-stored roaring bitmap
    — ONE vector per touched data file, written executor-side by the
    task that owns the file's positions (an ``applyInPandas`` group
    per file: at 100 TB thousands of touched files emit their vectors
    in parallel, the driver only collects one descriptor row each).
    Against parquet position-delete files (v2, :func:`iceberg_delete_
    where`) the economics shift from O(deleted rows) parquet to a
    bitmap that stores a million dense ordinals in a few KB, and the
    read side replaces a delete-file scan with one ranged read per
    vector.

    Spec fidelity: blobs are ``deletion-vector-v1`` in real Puffin
    files (framing, magic ``D1D33964``, portable 64-bit roaring, BE
    CRC-32 — sources/puffin.py); manifest entries carry
    ``referenced_data_file`` + ``content_offset`` /
    ``content_size_in_bytes`` matching the Puffin footer exactly, and
    the commit advances the table to ``format-version`` 3 (DVs are a
    v3 feature). The spec's one-DV-per-file invariant is enforced as
    an honest gate: deleting from a file that already carries a DV
    raises (the merge/maintenance path) rather than silently stacking
    a second vector a real reader would not apply. Composes with v2
    position deletes and equality deletes already on the table — the
    predicate runs on the same composed scan reads serve, so
    already-dead rows never re-mark and re-runs are no-ops. Returns
    the new snapshot id (current id unchanged when nothing matches).
    """
    import uuid as _uuid

    import pandas as pd

    meta = _load_metadata(table_path)
    cur_id = meta.get("current-snapshot-id")
    if cur_id is None:
        raise ValueError("iceberg_dv_delete: table has no snapshots")
    snaps = {s["snapshot-id"]: s for s in meta["snapshots"]}
    data_seqs, delete_files, delete_rows, eq_deletes = _live_files(
        table_path, snaps[cur_id]
    )
    data_files = [p for p, _ in data_seqs]
    if not data_files:
        return cur_id
    schemas = meta.get("schemas") or []
    schema = next(
        (
            s
            for s in schemas
            if s.get("schema-id") == meta.get("current-schema-id")
        ),
        schemas[-1] if schemas else None,
    )
    ddl = ", ".join(
        f"`{f['name']}` {_spark_type(f['type'])}"
        for f in schema["fields"]
    )
    keyed = file_scan(spark, ddl, data_files)
    if delete_files:
        keyed = _apply_position_deletes(
            spark, keyed, delete_files, delete_rows
        )
    if eq_deletes:
        keyed = _apply_equality_deletes(
            spark, keyed, data_seqs, eq_deletes, schema
        )
    cond = F.expr(condition) if isinstance(condition, str) else condition
    # scheme-aware keys (_norm_path_py): on a URI-backed table a
    # naive '/'+p key would never match the scan's normalized
    # _metadata path and the delete would silently no-op
    path_map = local_frame(spark, 
        [(norm_path_py(p), p) for p in data_files],
        "`__fp` string, `file_path` string",
    )
    hits = (
        keyed.filter(cond)
        .select(F.col("__fp"), F.col("__pos").alias("pos"))
        .join(F.broadcast(path_map), "__fp")
        .select("file_path", "pos")
    )
    snap_id = max(snaps) + 1
    ddir = os.path.join(table_path, "data")
    _fs.makedirs(ddir)  # converted tables may have metadata/ only

    def _write_dv(pdf: pd.DataFrame) -> pd.DataFrame:
        from dataset_grouper_spark.sources import puffin as _pf

        fp = pdf["file_path"].iloc[0]
        pos = sorted(set(int(x) for x in pdf["pos"]))
        dst = os.path.join(
            ddir, f"dv-{snap_id}-{_uuid.uuid4().hex}.puffin"
        )
        spans = _pf.write_puffin(
            dst,
            [
                (
                    _pf.DV_BLOB_TYPE,
                    _pf.dv_blob_encode(pos),
                    {
                        "referenced-data-file": fp,
                        "cardinality": str(len(pos)),
                    },
                )
            ],
        )
        off, ln = spans[0]
        return pd.DataFrame(
            {
                "file_path": [fp],
                "puffin_path": [dst],
                "content_offset": [off],
                "content_size": [ln],
                "cardinality": [len(pos)],
                "file_size": [_fs.file_size(dst)],
            }
        )

    descs = (
        hits.groupBy("file_path")
        .applyInPandas(
            _write_dv,
            schema=(
                "file_path string, puffin_path string, "
                "content_offset long, content_size long, "
                "cardinality long, file_size long"
            ),
        )
        .collect()  # bounded: one row per TOUCHED file (planning scale)
    )
    if not descs:
        return cur_id
    # manifests often store referenced_data_file as a file:// URI (or
    # table-relative path) while data_files are localized absolutes —
    # normalize BOTH sides or the one-DV-per-file gate silently misses
    # and a second vector stacks on an already-vectored file
    def _ref_key(p: str) -> str:
        p = _localize(p)
        if not _is_abs(p):
            p = os.path.join(table_path, p)
        return norm_path_py(p)

    already = {
        _ref_key(d["referenced"])
        for d in delete_files
        if isinstance(d, dict)
    }
    clash = sorted(
        r.file_path for r in descs if _ref_key(r.file_path) in already
    )
    if clash:
        # written-but-uncommitted puffin files are invisible orphans
        # (snapshot never formed); remove them eagerly anyway
        for r in descs:
            _fs.remove(r.puffin_path)
        raise NotImplementedError(
            f"iceberg_dv_delete: {len(clash)} touched file(s) already "
            f"carry a deletion vector (first: {clash[0]!r}) — the "
            "spec allows ONE DV per data file; run compaction "
            "(iceberg_rewrite_data_files) first"
        )
    entries = []
    for r in descs:
        entries.append(
            {
                "status": 1,
                "snapshot_id": None,
                "sequence_number": None,
                "data_file": {
                    "content": 1,
                    "file_path": r.puffin_path,
                    "file_format": "PUFFIN",
                    "record_count": r.cardinality,
                    "file_size_in_bytes": r.file_size,
                    "referenced_data_file": r.file_path,
                    "content_offset": r.content_offset,
                    "content_size_in_bytes": r.content_size,
                },
            }
        )
    mdir = os.path.join(table_path, "metadata")
    mpath = os.path.join(mdir, f"d-{snap_id}-{_uuid.uuid4().hex}.avro")
    write_avro_file(mpath, _MANIFEST_SCHEMA_DV, entries)
    meta["format-version"] = 3  # DVs are an Iceberg v3 feature
    return _commit_snapshot(
        table_path,
        meta,
        snap_id,
        mpath,
        content=1,
        summary={"operation": "delete", "deletion-vectors": "true"},
    )


def iceberg_delete_values(
    spark: SparkSession, keys_df: DataFrame, table_path: str
) -> int:
    """Merge-on-read DELETE BY KEY via v2 EQUALITY delete files — the
    write path CDC/upsert streams use (Flink writes exactly this
    shape): commit a new snapshot whose delete files hold the KEY
    VALUES to remove, stamped with the table's next sequence number.
    The cost is O(keys) regardless of where (or whether) matching rows
    live — no scan of the table at all, which is what makes a 100 TB
    upsert stream cheap: the reconciliation happens lazily at read
    time (``_apply_equality_deletes``), and rows appended AFTER this
    delete carry a larger sequence number so they survive — delete-
    then-reinsert converges without read-modify-write.

    ``keys_df`` columns must be a subset of the table schema (same
    names); their field ids become the delete files' equality_ids.
    Returns the new snapshot id."""
    import glob
    import shutil
    import tempfile
    import uuid

    meta = _load_metadata(table_path)
    if meta.get("current-snapshot-id") is None:
        raise ValueError("iceberg_delete_values: table has no snapshots")
    schemas = meta.get("schemas") or []
    schema = next(
        (
            s
            for s in schemas
            if s.get("schema-id") == meta.get("current-schema-id")
        ),
        schemas[-1] if schemas else None,
    )
    by_name = {f["name"]: f for f in schema["fields"]}
    missing = [c for c in keys_df.columns if c not in by_name]
    if missing:
        raise ValueError(
            f"iceberg_delete_values: key columns {missing} not in the "
            f"table schema ({sorted(by_name)})"
        )
    equality_ids = [by_name[c]["id"] for c in keys_df.columns]
    stage = tempfile.mkdtemp(prefix="_ice_eqdel_stage_")
    keys_df.distinct().write.mode("overwrite").parquet(stage)
    import pyarrow.parquet as pq

    snap_id = (
        max((s["snapshot-id"] for s in meta["snapshots"]), default=0) + 1
    )
    entries = []
    for src in sorted(glob.glob(os.path.join(stage, "part-*.parquet"))):
        nrows = pq.ParquetFile(src).metadata.num_rows
        if nrows == 0:
            continue
        dst = os.path.join(
            table_path,
            "data",
            f"eqdelete-{snap_id}-{uuid.uuid4().hex}.parquet",
        )
        nbytes = os.path.getsize(src)
        _fs.move(src, dst)
        entries.append(
            {
                "status": 1,
                "snapshot_id": None,
                "sequence_number": None,  # inherit from the manifest list
                "data_file": {
                    "content": 2,  # equality deletes
                    "file_path": dst,
                    "file_format": "PARQUET",
                    "record_count": nrows,
                    "file_size_in_bytes": nbytes,
                    "equality_ids": equality_ids,
                    "lower_bounds": None,
                    "upper_bounds": None,
                },
            }
        )
    shutil.rmtree(stage, ignore_errors=True)
    if not entries:
        return meta["current-snapshot-id"]  # empty key set: no snapshot
    mdir = os.path.join(table_path, "metadata")
    mpath = os.path.join(mdir, f"ed-{snap_id}-{uuid.uuid4().hex}.avro")
    write_avro_file(mpath, _MANIFEST_SCHEMA, entries)
    return _commit_snapshot(table_path, meta, snap_id, mpath, content=1)


def iceberg_expire_snapshots(
    table_path: str, keep_last: int = 1
) -> list[int]:
    """EXPIRE SNAPSHOTS: drop all but the newest ``keep_last``
    snapshots from table metadata (the current snapshot is always
    kept) — a METADATA-ONLY commit, claimed like any other with an
    exclusive metadata-version create. Time travel to an expired
    snapshot then raises; data files only become deletable afterwards
    (:func:`iceberg_remove_orphans` — the spec's two-step retention,
    expireSnapshots + removeOrphanFiles). Returns the expired
    snapshot ids."""
    meta = _load_metadata(table_path)
    snaps = sorted(
        meta.get("snapshots") or [], key=lambda s: s["snapshot-id"]
    )
    if keep_last < 1:
        raise ValueError("iceberg_expire_snapshots: keep_last must be >= 1")
    keep = {s["snapshot-id"] for s in snaps[-keep_last:]}
    cur = meta.get("current-snapshot-id")
    if cur is not None:
        keep.add(cur)
    # spec retention: snapshots referenced by a tag/branch ref never
    # expire by count-based retention (release pinning)
    for ref in (meta.get("refs") or {}).values():
        sid = ref.get("snapshot-id")
        if sid is not None:
            keep.add(sid)
    expired = [s["snapshot-id"] for s in snaps if s["snapshot-id"] not in keep]
    if not expired:
        return []
    meta["snapshots"] = [s for s in snaps if s["snapshot-id"] in keep]
    mdir = os.path.join(table_path, "metadata")
    versions = [
        int(n[1:].split(".")[0])
        for n in _fs.listdir(mdir)
        if n.endswith(".metadata.json")
        and n.startswith("v")
        and n[1:].split(".")[0].isdigit()
    ]
    v = max(versions, default=0) + 1
    try:
        with _fs.open_create(os.path.join(mdir, f"v{v}.metadata.json")) as f:
            f.write(json.dumps(meta).encode())
    except FileExistsError:
        raise RuntimeError(
            "iceberg_expire_snapshots: lost the metadata-version race — "
            "re-run against the winner's metadata"
        )
    _fs.write_text(os.path.join(mdir, "version-hint.text"), str(v))
    return expired


def iceberg_remove_orphans(
    table_path: str, dry_run: bool = False
) -> list[str]:
    """REMOVE ORPHAN FILES: physically delete every data/delete
    parquet and every manifest/manifest-list Avro that NO retained
    snapshot references — the file-reaping half of Iceberg retention,
    safe only because :func:`iceberg_expire_snapshots` already removed
    the snapshots that pointed at them. Metadata JSONs and the
    version hint are never touched (old metadata versions are the
    catalog's own history). Returns table-relative paths removed (or
    that WOULD be, with ``dry_run``).

    Planning-scale: walks manifests of retained snapshots only (KB
    Avro files, driver-side) and lists the two table directories."""
    meta = _load_metadata(table_path)
    referenced: set[str] = set()
    table_abs = _localize(table_path)
    if not _fs.is_uri(table_abs):
        table_abs = os.path.abspath(table_abs)

    def _norm(p: str) -> str:
        p = _localize(p)
        if not _is_abs(p):
            p = os.path.join(table_abs, p)
        return p if _fs.is_uri(p) else os.path.abspath(p)

    for snap in meta.get("snapshots") or []:
        ml = _norm(snap["manifest-list"])
        referenced.add(ml)
        _s, manifests = read_avro_file(ml)
        for m in manifests:
            mp = _norm(m["manifest_path"])
            referenced.add(mp)
            _s2, entries = read_avro_file(mp)
            for e in entries:
                # DELETED entries still name the file they tombstone;
                # keep it — only files NO manifest mentions are orphans
                referenced.add(_norm(e["data_file"]["file_path"]))
    doomed: list[str] = []
    data_dir = os.path.join(table_abs, "data")
    if _fs.is_dir(data_dir):
        for name in _fs.listdir(data_dir):
            p = os.path.join(data_dir, name)
            if name.endswith(".parquet") and p not in referenced:
                doomed.append(os.path.relpath(p, table_abs))
    mdir = os.path.join(table_abs, "metadata")
    for name in _fs.listdir(mdir):
        if name.endswith(".avro"):
            p = os.path.join(mdir, name)
            if p not in referenced:
                doomed.append(os.path.relpath(p, table_abs))
    doomed.sort()
    if not dry_run:
        for rel in doomed:
            _fs.remove(os.path.join(table_abs, rel))
    return doomed


def iceberg_upsert(
    spark: SparkSession,
    df: DataFrame,
    table_path: str,
    on: list[str],
) -> int:
    """UPSERT, the Flink-CDC way: one EQUALITY-DELETE snapshot for the
    incoming keys (O(keys), never reads the table) followed by one
    APPEND snapshot of the rows — sequence-number ordering makes the
    appended rows survive their own delete while every OLDER copy of
    the keys dies at read time. Two snapshots, zero data-file
    rewrites, O(batch) total write cost regardless of table size: the
    merge-on-read upsert economics v2 exists for (a CoW engine would
    rewrite every touched file instead). Returns the append snapshot
    id."""
    for k in on:
        if k not in df.columns:
            raise ValueError(f"iceberg_upsert: key column {k!r} not in frame")
    iceberg_delete_values(spark, df.select(*on), table_path)
    return iceberg_append(spark, df, table_path)


def _commit_metadata(table_path: str, meta: dict, context: str) -> int:
    """Claim the next metadata version exclusively (put-if-absent
    optimistic commit) and move the version hint; returns the claimed
    version number."""
    mdir = os.path.join(table_path, "metadata")
    versions = [
        int(n[1:].split(".")[0])
        for n in _fs.listdir(mdir)
        if n.endswith(".metadata.json")
        and n.startswith("v")
        and n[1:].split(".")[0].isdigit()
    ]
    v = max(versions, default=0) + 1
    try:
        with _fs.open_create(os.path.join(mdir, f"v{v}.metadata.json")) as f:
            f.write(json.dumps(meta).encode())
    except FileExistsError:
        raise RuntimeError(
            f"{context}: lost the metadata-version race — re-run "
            "against the winner's metadata"
        )
    _fs.write_text(os.path.join(mdir, "version-hint.text"), str(v))
    return v


def iceberg_set_ref(
    table_path: str,
    name: str,
    snapshot_id: int | None = None,
    ref_type: str = "tag",
) -> int:
    """Create or move a named REF (the spec's ``refs`` map): a ``tag``
    pins a snapshot for releases/audits — count-based snapshot expiry
    never drops a ref'd snapshot — and a ``branch`` names a movable
    head. Metadata-only commit; returns the referenced snapshot id
    (default: current)."""
    if ref_type not in ("tag", "branch"):
        raise ValueError(
            f"iceberg_set_ref: ref_type must be 'tag' or 'branch', "
            f"got {ref_type!r}"
        )
    meta = _load_metadata(table_path)
    snaps = {s["snapshot-id"] for s in meta.get("snapshots") or []}
    if snapshot_id is None:
        snapshot_id = meta.get("current-snapshot-id")
    if snapshot_id not in snaps:
        raise ValueError(
            f"iceberg_set_ref: snapshot {snapshot_id!r} not in table"
        )
    refs = dict(meta.get("refs") or {})
    refs[name] = {"snapshot-id": snapshot_id, "type": ref_type}
    meta["refs"] = refs
    _commit_metadata(table_path, meta, "iceberg_set_ref")
    return snapshot_id


def iceberg_drop_ref(table_path: str, name: str) -> None:
    """Remove a named ref; its snapshot becomes expirable again."""
    meta = _load_metadata(table_path)
    refs = dict(meta.get("refs") or {})
    if name not in refs:
        raise ValueError(f"iceberg_drop_ref: no ref named {name!r}")
    del refs[name]
    meta["refs"] = refs
    _commit_metadata(table_path, meta, "iceberg_drop_ref")


def iceberg_rewrite_data_files(
    spark: SparkSession,
    table_path: str,
    target_file_bytes: int = 128 << 20,
    small_file_bytes: int | None = None,
    min_input_files: int = 2,
    zorder_by: tuple[str, str] | None = None,
) -> int:
    """Bin-packing compaction (the ``rewrite_data_files`` maintenance
    action): coalesce small live data files into ~``target_file_bytes``
    files and commit the result as a REPLACE snapshot — the Iceberg
    answer to streaming ingestion's many-tiny-files problem, and the
    parity twin of the Delta side's ``delta_optimize``.

    Files smaller than ``small_file_bytes`` (default ``target/2``) are
    greedily packed, in path order, into bins PER PARTITION
    (``rewrite.pack_bins``; files from different partitions never
    merge — each output file must carry one partition struct); bins
    with fewer than ``min_input_files`` members are left alone. The
    rewrite is ONE distributed job for all bins, shared with
    ``delta_optimize`` (``rewrite.rewrite_bins``): one scan of the
    binned files with deletes applied, tagged by a broadcast path→bin
    map (a literal for a single bin) and written ``partitionBy(bin)``
    — hash routing puts each bin in exactly one task, so each bin
    yields one output file. At 100 TB the cost is O(bytes in small
    files), never O(table).

    Correctness under merge-on-read deletes:

    - POSITION deletes referencing binned files are applied during the
      rewrite (the same ``_metadata`` anti-join the read path uses) —
      their rows are dead after compaction, so the surviving delete
      files merely carry inert entries for the old paths (reaped with
      their snapshots at expiry).
    - EQUALITY deletes are applied ROW-CORRECTLY during the rewrite
      (each row's own data sequence number decides, via the shared
      read-path helper), and each output file takes the MAX data
      sequence number of its bin: deletes at or below that sequence
      were already applied to exactly the rows they governed; deletes
      above it still apply at read time (``seq < dseq`` holds). A
      delete-then-reinsert pair compacts without resurrecting or
      re-deleting the key.

    Untouched files carry over as EXISTING (status 0) entries with
    their resolved sequence numbers in the new manifest; previous DATA
    manifests drop out of the manifest list (the new manifest is the
    complete live set), DELETE manifests carry over. Old files stay on
    disk for time travel until ``iceberg_expire_snapshots`` +
    ``iceberg_remove_orphans`` reap them.

    ``zorder_by=(colA, colB)`` (two numeric columns) is the SORT
    strategy rewrite (Iceberg's ``rewrite_data_files`` with a z-order
    sort, the twin of ``delta_optimize(zorder_by=)``): EVERY live data
    file participates (layout changes, not just packing — one bin per
    partition), rewritten rows cluster along the Morton curve of the
    two columns (``sinks.zorder`` bit interleave — pure Catalyst, each
    bin gridded against its own bounds, one range exchange for all
    bins in the same single job), and the refreshed manifest bounds
    stay narrow on BOTH dimensions, which is what lets
    ``read_iceberg(skip_filters=...)`` prune on either column.

    Rewritten files are materialized under the table's CURRENT schema.
    Returns the new snapshot id, or the current snapshot id unchanged
    when no bin qualifies."""
    import uuid

    import pyarrow.parquet as pq

    if small_file_bytes is None:
        small_file_bytes = target_file_bytes // 2
    meta = _load_metadata(table_path)
    # v3 ROW LINEAGE tables compact id-preservingly (spec "Row
    # Lineage"): every input row's id is resolved (materialized
    # column if present, else first_row_id + ordinal) and WRITTEN
    # into the output files as a physical _row_id column; new manifest
    # entries carry first_row_id = null (explicit ids win over
    # inheritance on read), kept entries keep theirs, and next-row-id
    # does not advance — a rewrite mints no identities.
    lineage = "next-row-id" in meta
    cur_id = meta.get("current-snapshot-id")
    if cur_id is None:
        raise ValueError("iceberg_rewrite_data_files: table has no snapshots")
    snaps = {s["snapshot-id"]: s for s in meta["snapshots"]}
    snap = snaps[cur_id]
    data_seqs, delete_files, delete_rows, eq_deletes = _live_files(
        table_path, snap
    )

    # full entry walk (paths + partition structs + stats) — the
    # planning-scale read _live_files does, but keeping the records
    ml = _localize(snap["manifest-list"])
    if not _is_abs(ml):
        ml = os.path.join(table_path, ml)
    _s, manifests = read_avro_file(ml)
    live: list[dict] = []  # data entries only, resolved seq attached
    for m in manifests:
        if m.get("content", 0) == 1:
            continue  # delete manifests carry over untouched
        mseq = m.get("sequence_number") or 0
        mp = _localize(m["manifest_path"])
        if not _is_abs(mp):
            mp = os.path.join(table_path, mp)
        _s2, entries = read_avro_file(mp)
        for e in entries:
            if e.get("status", 0) == 2:
                continue
            df_rec = e["data_file"]
            if df_rec.get("content", 0) != 0:
                continue  # deletes listed in a data manifest: keep as-is
            eseq = e.get("sequence_number")
            p = _localize(df_rec["file_path"])
            if not _is_abs(p):
                p = os.path.join(table_path, p)
            live.append(
                {
                    "path": p,
                    "seq": mseq if eseq is None else eseq,
                    "data_file": df_rec,
                }
            )

    def part_key(rec: dict) -> str:
        part = rec.get("partition")
        return (
            json.dumps(part, sort_keys=True)
            if isinstance(part, dict)
            else ""
        )

    def size(rec: dict) -> int:
        return int(rec["data_file"].get("file_size_in_bytes") or 0)

    groups: dict[str, list[dict]] = {}
    for rec in live:
        groups.setdefault(part_key(rec["data_file"]), []).append(rec)
    partitions = [
        sorted(members, key=lambda r: r["path"])
        for _k, members in sorted(groups.items())
    ]
    if zorder_by is not None:
        # re-layout: every live data file participates, one bin per
        # partition (the whole partition re-clusters along the curve)
        bins = partitions
    else:
        bins = [
            b
            for b in pack_bins(
                (
                    [r for r in members if size(r) < small_file_bytes]
                    for members in partitions
                ),
                size,
                target_file_bytes,
            )
            if len(b) >= min_input_files
        ]
    if not bins:
        return cur_id

    schemas = meta.get("schemas") or []
    schema = next(
        (
            s
            for s in schemas
            if s.get("schema-id") == meta.get("current-schema-id")
        ),
        schemas[-1],
    )
    ddl = ", ".join(
        f"`{f['name']}` {_spark_type(f['type'])}" for f in schema["fields"]
    )
    binned_paths = [r["path"] for b in bins for r in b]
    binned = set(binned_paths)

    scan = file_scan(
        spark, ddl + ", `_row_id` bigint" if lineage else ddl, binned_paths
    )
    if delete_files:
        scan = _apply_position_deletes(spark, scan, delete_files, delete_rows)
    if eq_deletes:
        scan = _apply_equality_deletes(
            spark,
            scan,
            [(p, sq) for p, sq in data_seqs if p in binned],
            eq_deletes,
            schema,
        )
    row_id_bases = None
    if lineage:
        frids = _first_row_ids(table_path, snap)
        row_id_bases = {p: frids.get(p) for p in binned_paths}

    snap_id = max(snaps) + 1
    new_entries = []
    with rewrite_bins(
        spark,
        scan,
        [[(r["path"], size(r)) for r in b] for b in bins],
        target_file_bytes,
        zorder_by=zorder_by,
        row_id_bases=row_id_bases,
    ) as staged:
        for b, files in zip(bins, staged):
            seq_new = max(r["seq"] for r in b)
            partition = b[0]["data_file"].get("partition")
            for src in files:
                nrows = pq.ParquetFile(src).metadata.num_rows
                dst = os.path.join(
                    table_path,
                    "data",
                    f"rw-{snap_id}-{uuid.uuid4().hex}.parquet",
                )
                lo_b, hi_b = _footer_bounds(src, schema["fields"])
                nbytes = os.path.getsize(src)
                _fs.move(src, dst)
                rec = {
                    "content": 0,
                    "file_path": dst,
                    "file_format": "PARQUET",
                    "record_count": nrows,
                    "file_size_in_bytes": nbytes,
                    "equality_ids": None,
                    "lower_bounds": lo_b,
                    "upper_bounds": hi_b,
                }
                if lineage:
                    # null = "this file materializes its own _row_id
                    # column"; explicit ids beat inheritance on read
                    rec["first_row_id"] = None
                if isinstance(partition, dict):
                    rec["partition"] = partition
                new_entries.append(
                    {
                        "status": 1,
                        "snapshot_id": None,
                        "sequence_number": seq_new,
                        "data_file": rec,
                    }
                )

    # kept files ride along as EXISTING with their resolved sequences
    any_partition = any(
        isinstance(r["data_file"].get("partition"), dict) for r in live
    )
    df_fields = [
        "content",
        "file_path",
        "file_format",
        "record_count",
        "file_size_in_bytes",
        "equality_ids",
        "lower_bounds",
        "upper_bounds",
    ]
    if lineage:
        df_fields.append("first_row_id")
    kept_entries = []
    for rec in live:
        if rec["path"] in binned:
            continue
        src = rec["data_file"]
        norm = {k: src.get(k) for k in df_fields}
        if any_partition:
            norm["partition"] = src.get("partition")
        kept_entries.append(
            {
                "status": 0,
                "snapshot_id": None,
                "sequence_number": rec["seq"],
                "data_file": norm,
            }
        )

    manifest_schema = (
        _MANIFEST_SCHEMA_LINEAGE if lineage else _MANIFEST_SCHEMA
    )
    if any_partition:
        spec_entry, value_types = _default_spec_value_types(meta, schema)
        manifest_schema = _partition_manifest_schema(
            spec_entry["fields"], value_types, lineage=lineage
        )

    mdir = os.path.join(table_path, "metadata")
    mpath = os.path.join(mdir, f"rw-{snap_id}-{uuid.uuid4().hex}.avro")
    write_avro_file(mpath, manifest_schema, kept_entries + new_entries)
    return _commit_snapshot(
        table_path,
        meta,
        snap_id,
        mpath,
        content=0,
        summary={
            "operation": "replace",
            "compacted-data-files": str(len(binned_paths)),
            "added-data-files": str(len(new_entries)),
        },
        carry_content={1},
    )


def _first_row_ids(table_path: str, snap: dict) -> dict:
    """Per-live-data-file ``first_row_id`` from the snapshot's data
    manifests (a planning-scale walk). A None value means the file
    MATERIALIZES its own ``_row_id`` column (it was produced by a
    lineage-preserving rewrite) — the reader falls back to the
    physical column for such files. Callers gate "lineage enabled at
    all" on the table metadata's ``next-row-id``, not on this map."""
    ml = _localize(snap["manifest-list"])
    if not _is_abs(ml):
        ml = os.path.join(table_path, ml)
    _s, manifests = read_avro_file(ml)
    out: dict[str, int | None] = {}
    for m in manifests:
        if m.get("content", 0) != 0:
            continue
        mp = _localize(m["manifest_path"])
        if not _is_abs(mp):
            mp = os.path.join(table_path, mp)
        _s2, entries = read_avro_file(mp)
        for e in entries:
            if e.get("status", 0) == 2:
                continue
            df_rec = e["data_file"]
            if df_rec.get("content", 0) != 0:
                continue
            fid = df_rec.get("first_row_id")
            p = _localize(df_rec["file_path"])
            if not _is_abs(p):
                p = os.path.join(table_path, p)
            out[p] = None if fid is None else int(fid)
    return out


def iceberg_enable_row_lineage(table_path: str) -> int | None:
    """Enable v3 ROW LINEAGE on an existing table: every live data
    file gets a ``first_row_id`` (assigned in file_path order — the
    deterministic retrofit), the table records ``next-row-id`` for
    future appends, and format-version advances to 3. After this, a
    row's durable identity is ``first_row_id + ordinal``:
    :func:`read_iceberg` exposes it as ``_row_id``, appends keep
    assigning from ``next-row-id``, and deletes never renumber
    survivors — the property CDC and training-data provenance need.
    One metadata commit: a combined data manifest re-declaring the
    live set with ids (original sequence numbers pinned), delete
    manifests carried untouched. Returns the new snapshot id, or None
    when lineage is already enabled.

    Partitioned tables retrofit too (r12): the rewritten manifest
    keeps each entry's typed partition struct, spliced next to
    first_row_id. Compaction composes: ``iceberg_rewrite_data_files``
    preserves ids by materializing a physical ``_row_id`` column in
    rewritten files (spec lineage inheritance — explicit ids beat
    first_row_id + ordinal on read)."""
    import uuid as _uuid

    meta = _load_metadata(table_path)
    if "next-row-id" in meta:
        return None
    cur_id = meta.get("current-snapshot-id")
    if cur_id is None:
        # empty table: enabling is pure metadata (appends assign ids)
        meta["next-row-id"] = 0
        meta["format-version"] = 3
        _bump_metadata(table_path, meta, "iceberg_enable_row_lineage")
        return None
    schemas = meta.get("schemas") or (
        [meta["schema"]] if meta.get("schema") else []
    )
    schema = next(
        (
            s
            for s in schemas
            if s.get("schema-id") == meta.get("current-schema-id")
        ),
        schemas[-1] if schemas else {"fields": []},
    )
    spec, value_types = _default_spec_value_types(meta, schema)
    partitioned = bool(spec.get("fields"))
    snap = next(
        s for s in meta["snapshots"] if s["snapshot-id"] == cur_id
    )
    ml = _localize(snap["manifest-list"])
    if not _is_abs(ml):
        ml = os.path.join(table_path, ml)
    _s, manifests = read_avro_file(ml)
    live = []
    for m in manifests:
        if m.get("content", 0) != 0:
            continue
        mseq = m.get("sequence_number") or 0
        mp = _localize(m["manifest_path"])
        if not _is_abs(mp):
            mp = os.path.join(table_path, mp)
        _s2, entries = read_avro_file(mp)
        for e in entries:
            if e.get("status", 0) == 2:
                continue
            df_rec = e["data_file"]
            if df_rec.get("content", 0) != 0:
                continue
            eseq = e.get("sequence_number")
            live.append((mseq if eseq is None else eseq, df_rec))
    live.sort(key=lambda t: t[1]["file_path"])
    next_id = 0
    out_entries = []
    for seq, df_rec in live:
        rec = {
            "content": 0,
            "file_path": df_rec["file_path"],
            "file_format": df_rec.get("file_format") or "PARQUET",
            "record_count": df_rec.get("record_count") or 0,
            "file_size_in_bytes": df_rec.get("file_size_in_bytes")
            or 0,
            "first_row_id": next_id,
            "equality_ids": df_rec.get("equality_ids"),
            "lower_bounds": df_rec.get("lower_bounds"),
            "upper_bounds": df_rec.get("upper_bounds"),
        }
        if partitioned:
            # the retrofit keeps each entry's partition struct — the
            # reason partitioned tables used to gate here (r12)
            rec["partition"] = df_rec.get("partition")
        out_entries.append(
            {
                "status": 0,  # EXISTING
                "snapshot_id": None,
                "sequence_number": seq,
                "data_file": rec,
            }
        )
        next_id += int(df_rec.get("record_count") or 0)
    snap_id = max(s["snapshot-id"] for s in meta["snapshots"]) + 1
    mdir = os.path.join(table_path, "metadata")
    mpath = os.path.join(mdir, f"rl-{snap_id}-{_uuid.uuid4().hex}.avro")
    write_avro_file(
        mpath,
        _partition_manifest_schema(
            spec["fields"], value_types, lineage=True
        )
        if partitioned
        else _MANIFEST_SCHEMA_LINEAGE,
        out_entries,
    )
    meta["next-row-id"] = next_id
    meta["format-version"] = 3
    return _commit_snapshot(
        table_path,
        meta,
        snap_id,
        mpath,
        content=0,
        summary={"operation": "replace", "row-lineage": "enabled"},
        carry_content={1},
    )


def _bump_metadata(table_path: str, meta: dict, who: str) -> None:
    """Claim the next metadata version for a metadata-only change
    (the expire-snapshots idiom, shared)."""
    mdir = os.path.join(table_path, "metadata")
    versions = [
        int(n[1:].split(".")[0])
        for n in _fs.listdir(mdir)
        if n.endswith(".metadata.json")
        and n.startswith("v")
        and n[1:].split(".")[0].isdigit()
    ]
    v = max(versions, default=0) + 1
    try:
        with _fs.open_create(
            os.path.join(mdir, f"v{v}.metadata.json")
        ) as f:
            f.write(json.dumps(meta).encode())
    except FileExistsError:
        raise RuntimeError(
            f"{who}: lost the metadata-version race — re-run against "
            "the winner's metadata"
        )
    _fs.write_text(os.path.join(mdir, "version-hint.text"), str(v))


def iceberg_remove_dangling_deletes(
    spark: SparkSession, table_path: str
) -> int | None:
    """REMOVE DANGLING DELETES (the maintenance half Iceberg's
    rewrite action runs after compaction): drop every delete entry
    that can no longer affect any live data file — position-delete
    parquet whose referenced paths are all dead, v3 deletion vectors
    whose referenced file is dead, and equality deletes whose sequence
    number no live data file precedes (``seq < dseq`` can never hold
    again). Compaction leaves exactly these behind by design (its
    docstring says so): they are CORRECTNESS-inert, but every future
    scan still decodes them, ``delete_rows`` planning bounds stay
    inflated, and conservative delete gates (the ``*_lite`` sources,
    the conversion syncs) stay raised forever on a table whose deletes
    are actually all applied. Cost: one planning-scale metadata walk
    plus one read of each delete parquet's ``file_path`` column
    (KB-scale files by construction). Commits ONE combined delete
    manifest carrying the surviving entries with their original
    sequence numbers pinned explicitly (carry-over keeps data
    manifests untouched). Returns the new snapshot id, or None when
    nothing dangles."""
    import uuid as _uuid

    meta = _load_metadata(table_path)
    cur_id = meta.get("current-snapshot-id")
    if cur_id is None:
        raise ValueError(
            "iceberg_remove_dangling_deletes: table has no snapshots"
        )
    snap = next(
        s for s in meta["snapshots"] if s["snapshot-id"] == cur_id
    )
    data_seqs, _dfs, _dr, _eq = _live_files(table_path, snap)
    live_paths = {norm_path_py(p) for p, _ in data_seqs}
    min_live_seq = min((s for _, s in data_seqs), default=None)
    ml = _localize(snap["manifest-list"])
    if not _is_abs(ml):
        ml = os.path.join(table_path, ml)
    _s, manifests = read_avro_file(ml)
    survivors: list[dict] = []
    dropped = 0
    for m in manifests:
        if m.get("content", 0) != 1:
            continue
        mseq = m.get("sequence_number") or 0
        mp = _localize(m["manifest_path"])
        if not _is_abs(mp):
            mp = os.path.join(table_path, mp)
        _s2, entries = read_avro_file(mp)
        for e in entries:
            if e.get("status", 0) == 2:
                continue
            df_rec = e["data_file"]
            eseq = e.get("sequence_number")
            seq = mseq if eseq is None else eseq
            p = _localize(df_rec["file_path"])
            if not _is_abs(p):
                p = os.path.join(table_path, p)
            fmt = (df_rec.get("file_format") or "PARQUET").upper()
            content = df_rec.get("content", 1)
            alive = True
            if fmt == "PUFFIN":
                ref = df_rec.get("referenced_data_file") or ""
                alive = norm_path_py(ref) in live_paths
            elif content == 1:  # position-delete parquet: read refs
                import pyarrow.parquet as pq

                with _fs.open_random(p) as f:
                    refs = (
                        pq.read_table(f, columns=["file_path"])
                        .column("file_path")
                        .to_pylist()
                    )
                alive = any(
                    norm_path_py(r) in live_paths for r in set(refs)
                )
            else:  # equality delete: inert once no live file precedes
                alive = min_live_seq is not None and min_live_seq < seq
            if alive:
                survivors.append(
                    {
                        "status": 0,  # EXISTING carry-over
                        "snapshot_id": e.get("snapshot_id"),
                        "sequence_number": seq,  # pin explicitly
                        "data_file": {
                            "content": content,
                            "file_path": df_rec["file_path"],
                            "file_format": df_rec.get("file_format")
                            or "PARQUET",
                            "record_count": df_rec.get("record_count")
                            or 0,
                            "file_size_in_bytes": df_rec.get(
                                "file_size_in_bytes"
                            )
                            or 0,
                            "referenced_data_file": df_rec.get(
                                "referenced_data_file"
                            ),
                            "content_offset": df_rec.get(
                                "content_offset"
                            ),
                            "content_size_in_bytes": df_rec.get(
                                "content_size_in_bytes"
                            ),
                        },
                    }
                )
            else:
                dropped += 1
    if not dropped:
        return None
    snap_id = max(s["snapshot-id"] for s in meta["snapshots"]) + 1
    mdir = os.path.join(table_path, "metadata")
    mpath = os.path.join(mdir, f"dd-{snap_id}-{_uuid.uuid4().hex}.avro")
    # DV-wide schema covers both shapes (extra fields null for parquet
    # delete entries); equality_ids are not carried because equality
    # entries only survive with their ids — re-read them
    dv_schema = _MANIFEST_SCHEMA_DV
    if any(
        s["data_file"]["content"] == 2 for s in survivors
    ):
        # equality entries need their equality_ids preserved: widen
        dv_schema = {
            "type": "record",
            "name": "manifest_entry",
            "fields": _MANIFEST_SCHEMA_DV["fields"][:-1]
            + [
                {
                    "name": "data_file",
                    "type": {
                        "type": "record",
                        "name": "r2dd",
                        "fields": _MANIFEST_SCHEMA_DV["fields"][-1][
                            "type"
                        ]["fields"]
                        + [
                            {
                                "name": "equality_ids",
                                "type": [
                                    "null",
                                    {"type": "array", "items": "int"},
                                ],
                            }
                        ],
                    },
                }
            ],
        }
    # re-attach equality ids (and default them null otherwise)
    if dv_schema is not _MANIFEST_SCHEMA_DV:
        by_path = {}
        for m in manifests:
            if m.get("content", 0) != 1:
                continue
            mp = _localize(m["manifest_path"])
            if not _is_abs(mp):
                mp = os.path.join(table_path, mp)
            _s3, entries = read_avro_file(mp)
            for e in entries:
                by_path[e["data_file"]["file_path"]] = e[
                    "data_file"
                ].get("equality_ids")
        for s in survivors:
            s["data_file"]["equality_ids"] = by_path.get(
                s["data_file"]["file_path"]
            )
    write_avro_file(mpath, dv_schema, survivors)
    return _commit_snapshot(
        table_path,
        meta,
        snap_id,
        mpath,
        content=1,
        summary={
            "operation": "replace",
            "removed-dangling-deletes": str(dropped),
        },
        carry_content={0},
    )


def _snapshots_by_sequence(meta: dict) -> list[dict]:
    """Retained snapshots sorted by data sequence number (monotone per
    spec v2; 0 for pre-v2 entries)."""
    return sorted(
        meta.get("snapshots") or [],
        key=lambda s: int(s.get("sequence-number") or 0),
    )


def _added_data_files(
    table_path: str, snap: dict, context: str
) -> list[str]:
    """Data files ADDED by ``snap`` — status-1 entries in the manifests
    the snapshot itself contributed (``added_snapshot_id`` match).
    Raises when the snapshot adds DELETE manifests: its net change
    removes rows and is not expressible as an append row-set."""
    sid = snap["snapshot-id"]
    ml = _localize(snap["manifest-list"])
    if not _is_abs(ml):
        ml = os.path.join(table_path, ml)
    _s, manifests = read_avro_file(ml)
    out: list[str] = []
    for m in manifests:
        if m.get("added_snapshot_id") != sid:
            continue
        if m.get("content", 0) == 1:
            raise ValueError(
                f"{context}: snapshot {sid} commits DELETE files "
                "(update/delete/upsert) — the change set is not "
                "append-only"
            )
        mp = _localize(m["manifest_path"])
        if not _is_abs(mp):
            mp = os.path.join(table_path, mp)
        _s2, entries = read_avro_file(mp)
        for e in entries:
            if e.get("status", 0) != 1:
                continue  # EXISTING carry-over (compaction), DELETED
            df_rec = e["data_file"]
            if df_rec.get("content", 0) != 0:
                raise ValueError(
                    f"{context}: snapshot {sid} commits DELETE files "
                    "(update/delete/upsert) — the change set is not "
                    "append-only"
                )
            p = _localize(df_rec["file_path"])
            if not _is_abs(p):
                p = os.path.join(table_path, p)
            out.append(p)
    return out


def read_iceberg_changes(
    spark: SparkSession,
    table_path: str,
    from_sequence: int,
    to_sequence: int | None = None,
) -> DataFrame:
    """Incremental append scan (the changelog read CDC-lite pipelines
    tail): the rows APPENDED by snapshots with data sequence number in
    ``(from_sequence, to_sequence]`` (default latest) — the Iceberg
    twin of the Delta side's :func:`read_delta_changes`, with the same
    honest contract: REPLACE snapshots (compaction — no logical
    change) are skipped, and a snapshot in range that commits DELETE
    files (position or equality — update/delete/upsert) raises, since
    its net effect is not expressible as an append row-set.

    Sequence numbers are the spec's monotone per-commit counter
    (``last-sequence-number``) — the natural streaming offset. A range
    that reaches past the retained snapshot set (expired history)
    raises rather than silently skipping commits.

    Scale shape: reads ONLY the files the selected snapshots added —
    O(new data), never O(table); discovery is a planning-scale
    manifest walk."""
    meta = _load_metadata(table_path)
    snaps = _snapshots_by_sequence(meta)
    if not snaps:
        raise ValueError(f"iceberg_changes: no snapshots in {table_path}")
    latest_seq = int(meta.get("last-sequence-number") or 0)
    hi = latest_seq if to_sequence is None else to_sequence
    want = [
        s
        for s in snaps
        if from_sequence < int(s.get("sequence-number") or 0) <= hi
    ]
    have_seqs = [int(s.get("sequence-number") or 0) for s in want]
    expect = list(range(from_sequence + 1, hi + 1))
    if have_seqs != expect:
        raise ValueError(
            f"iceberg_changes: sequence range ({from_sequence}, {hi}] "
            f"not fully retained (have {have_seqs}; expired history?)"
        )
    paths: list[str] = []
    for s in want:
        op = (s.get("summary") or {}).get("operation")
        if op == "replace":
            continue  # compaction: no logical data change
        paths.extend(_added_data_files(table_path, s, "iceberg_changes"))
    schemas = meta.get("schemas") or []
    want_id = (
        want[-1].get("schema-id")
        if want
        else meta.get("current-schema-id")
    )
    if want_id is None:
        want_id = meta.get("current-schema-id")
    schema = next(
        (s for s in schemas if s.get("schema-id") == want_id),
        schemas[-1],
    )
    ddl = ", ".join(
        f"`{f['name']}` {_spark_type(f['type'])}" for f in schema["fields"]
    )
    if not paths:
        return spark.createDataFrame([], ddl)
    return spark.read.schema(ddl).parquet(*paths)


def iceberg_history(spark: SparkSession, table_path: str) -> DataFrame:
    """The ``history``/``snapshots`` metadata table: one row per
    retained snapshot (id, sequence number, schema id, whether it is
    current). Pure metadata read."""
    meta = _load_metadata(table_path)
    cur = meta.get("current-snapshot-id")
    rows = [
        (
            int(s["snapshot-id"]),
            int(s.get("sequence-number") or 0),
            int(s.get("schema-id") or 0),
            s["snapshot-id"] == cur,
        )
        for s in sorted(
            meta.get("snapshots") or [], key=lambda s: s["snapshot-id"]
        )
    ]
    return local_frame(spark, 
        rows,
        "`snapshot_id` long, `sequence_number` long, `schema_id` long, "
        "`is_current` boolean",
    )


def iceberg_files(
    spark: SparkSession, table_path: str, snapshot_id: int | None = None
) -> DataFrame:
    """The ``files`` metadata table: every live file a snapshot's
    manifests declare — data files (content=0), position deletes (1),
    equality deletes (2) — with sequence numbers, manifest stats and
    the partition struct (as a JSON string: its fields vary per
    table). Planning-scale manifest walk, no data opened."""
    meta = _load_metadata(table_path)
    snaps = {s["snapshot-id"]: s for s in meta.get("snapshots") or []}
    if snapshot_id is None:
        snapshot_id = meta.get("current-snapshot-id")
    if snapshot_id is None or snapshot_id not in snaps:
        raise ValueError(
            f"iceberg_files: snapshot {snapshot_id!r} not in table"
        )
    snap = snaps[snapshot_id]
    ml = _localize(snap["manifest-list"])
    if not _is_abs(ml):
        ml = os.path.join(table_path, ml)
    _s, manifests = read_avro_file(ml)
    rows = []
    for m in manifests:
        mseq = m.get("sequence_number") or 0
        mp = _localize(m["manifest_path"])
        if not _is_abs(mp):
            mp = os.path.join(table_path, mp)
        _s2, entries = read_avro_file(mp)
        for e in entries:
            if e.get("status", 0) == 2:
                continue
            df = e["data_file"]
            eseq = e.get("sequence_number")
            part = df.get("partition")
            rows.append(
                (
                    df["file_path"],
                    int(df.get("content", 0)),
                    int(mseq if eseq is None else eseq),
                    int(df.get("record_count") or 0),
                    int(df.get("file_size_in_bytes") or 0),
                    json.dumps(part, sort_keys=True)
                    if isinstance(part, dict)
                    else None,
                )
            )
    return local_frame(spark, 
        rows,
        "`file_path` string, `content` int, `sequence_number` long, "
        "`record_count` long, `file_size_in_bytes` long, "
        "`partition` string",
    )


def iceberg_partitions(
    spark: SparkSession, table_path: str, snapshot_id: int | None = None
) -> DataFrame:
    """The ``partitions`` metadata table: one row per live partition
    with its data-file count, record count and total bytes — the
    planning view a maintenance job sizes compaction with. Derived
    from the same manifest walk as :func:`iceberg_files` (data files
    only, content=0); unpartitioned tables yield one row with a NULL
    partition. Planning-scale; no data files opened."""
    files = iceberg_files(spark, table_path, snapshot_id)
    return (
        files.filter(F.col("content") == 0)
        .groupBy("partition")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("record_count").alias("n_rows"),
            F.sum("file_size_in_bytes").alias("total_bytes"),
        )
    )


def _epoch_ledger_path(table_path: str, app_id: str) -> str:
    safe = re.sub(r"[^A-Za-z0-9_.-]", "_", app_id)
    return os.path.join(table_path, "metadata", f"epochs-{safe}.log")


def _record_epoch(table_path: str, app_id: str, epoch: int) -> None:
    """Append ``epoch`` to the app's ledger after its snapshot
    committed. Read-modify-write: object stores can't append, and one
    live writer per app_id is the epoch writers' contract."""
    ledger = _epoch_ledger_path(table_path, app_id)
    prior = _fs.read_text(ledger) if _fs.exists(ledger) else ""
    _fs.write_text(ledger, prior + f"{int(epoch)}\n")


def iceberg_last_epoch(table_path: str, app_id: str) -> int | None:
    """Highest committed epoch for ``app_id``: max over snapshot
    SUMMARIES (the atomic record — it rides the snapshot's own
    metadata commit) and the append-only per-app ledger (which
    survives snapshot EXPIRY, the same two-layer scheme the snapshot
    store's tags use)."""
    best: int | None = None
    meta = _load_metadata(table_path)
    for s in meta.get("snapshots") or []:
        summ = s.get("summary") or {}
        if summ.get("app-id") == app_id and "epoch" in summ:
            e = int(summ["epoch"])
            best = e if best is None else max(best, e)
    ledger = _epoch_ledger_path(table_path, app_id)
    if _fs.exists(ledger):
        for line in _fs.read_text(ledger).splitlines():
            line = line.strip()
            if line:
                e = int(line)
                best = e if best is None else max(best, e)
    return best


def iceberg_append_epoch(
    spark: SparkSession,
    df: DataFrame,
    table_path: str,
    app_id: str,
    epoch: int,
    partition_spec: list[tuple[str, str]] | None = None,
) -> int | None:
    """Idempotent epoch-stamped append — the exactly-once hook for
    streaming writers (the Iceberg twin of ``delta_append_txn``): the
    snapshot's summary carries ``{app-id, epoch}`` atomically with the
    commit, and a replay (``epoch`` at or below the app's high-water
    mark) is a NO-OP returning None, so a foreachBatch crash between
    commit and stream checkpoint cannot duplicate an epoch. The
    per-app ledger keeps the mark past snapshot expiry. Assumes one
    live writer per app_id (the stream checkpoint's own guarantee)."""
    exists = _fs.is_dir(os.path.join(table_path, "metadata")) and any(
        n.endswith(".metadata.json")
        for n in _fs.listdir(os.path.join(table_path, "metadata"))
    )
    if exists:
        last = iceberg_last_epoch(table_path, app_id)
        if last is not None and epoch <= last:
            return None
    snap = iceberg_append(
        spark,
        df,
        table_path,
        partition_spec=partition_spec,
        summary={"app-id": app_id, "epoch": int(epoch)},
    )
    _record_epoch(table_path, app_id, epoch)
    return snap
