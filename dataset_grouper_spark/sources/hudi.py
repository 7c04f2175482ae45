"""Apache Hudi COPY-ON-WRITE tables — pure timeline walk, no Hudi jar.

Completes the lakehouse trio next to ``sources.delta`` and
``sources.iceberg``: the third major open table format a training-data
pipeline meets in the wild. Everything here derives from the PUBLIC
Hudi storage spec (timeline + file-group layout):

- ``.hoodie/`` holds the TIMELINE: one ``<instantTime>.commit`` JSON
  per completed write (plus ``.requested`` / ``.inflight`` markers for
  the in-progress states, and ``hoodie.properties`` for table config).
  Only COMPLETED instants are readable state.
- Data lives in base parquet files named
  ``<fileId>_<writeToken>_<instantTime>.parquet`` inside (optionally
  hive-style partitioned) directories. A FILE GROUP is all files
  sharing a fileId; each write that touches a group lays a new FILE
  SLICE (a newer base file, same fileId). Snapshot read = for every
  group, the latest completed slice at or before the as-of instant —
  which is exactly how Hudi gets time travel for free.
- Copy-on-write UPSERT rewrites only the file groups containing a
  matched record key (new slice, same fileId); inserts open new file
  groups. Every row carries the five ``_hoodie_*`` meta columns in
  the parquet itself (dropped on read by default).
- ``replacecommit`` instants (clustering / insert_overwrite) list the
  file groups they logically replace in ``partitionToReplaceFileIds``;
  reads at or past that instant exclude them.

Scale: planning is a driver-side timeline walk + file listing bounded
by file count (the same planning-scale budget as the Delta log and
Iceberg manifest walks); data moves only through ``spark.read.parquet``
(full pushdown/pruning). Upsert cost is O(touched file groups), never
O(table) — the CoW economics the Delta merge path already proves.

MERGE_ON_READ is supported: upserts/deletes append per-file-group LOG
FILES (deltacommit instants, spec slice model) merged at read,
compaction folds them into new base slices. TWO log dialects are
read, distinguished by a magic sniff: this module's own Avro object
containers, and Hudi's HoodieLogFormat binary block framing
(``sources/hudi_log.py`` — AVRO_DATA / v3 DELETE / rollback COMMAND
blocks, corrupt-block recovery), so MoR tables written by Hudi's own
writers merge through the same path. Remaining honest gates live in
``hudi_log``: HFILE/PARQUET/CDC data blocks and pre-v3 (Kryo) delete
payloads raise by name. Merge semantics (r12): tables declaring
``hoodie.table.precombine.field`` resolve same-key rows by EVENT-TIME
ordering — largest orderingVal wins (upsert rows read it from their
precombine column, delete blocks from their payload's numeric
``orderingVal``), (instant, block seq) breaking ties; without the
property the law stays this engine's original commit-time ordering.
Instant times are a monotonic counter in the Hudi timestamp shape,
not wall clock (deterministic replays).
"""

from __future__ import annotations

import glob
import json
import os
import re
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataset_grouper_spark.localrel import local_frame

from dataset_grouper_spark.compat import fs as _fs
from dataset_grouper_spark.sources import hudi_log

HOODIE_DIR = ".hoodie"
META_COLS = [
    "_hoodie_commit_time",
    "_hoodie_commit_seqno",
    "_hoodie_record_key",
    "_hoodie_partition_path",
    "_hoodie_file_name",
]
_BASE_RE = re.compile(
    r"^(?P<fid>[^_]+)_(?P<token>[^_]+)_(?P<instant>\d+)\.parquet$"
)
_FIRST_INSTANT = 20240101000000000  # yyyyMMddHHmmssSSS shape, counter


def _hoodie_path(table_path: str) -> str:
    return os.path.join(table_path, HOODIE_DIR)


def hudi_timeline(table_path: str) -> list[tuple[str, str, str]]:
    """Every timeline instant as (instantTime, action, state) with
    state in requested/inflight/completed — the DESCRIBE-TIMELINE
    introspection. Hudi 1.x (table version 8) names completed markers
    ``<requestedTime>_<completionTime>.<action>``; the instant time
    reported (and matched against base-file names, which carry the
    REQUESTED time) is the first token."""
    hp = _hoodie_path(table_path)
    if not _fs.is_dir(hp):
        raise FileNotFoundError(f"not a Hudi table (no .hoodie): {table_path}")
    out = []
    for name in sorted(_fs.listdir(hp)):
        if name == "hoodie.properties" or name.startswith("."):
            continue
        parts = name.split(".")
        if len(parts) == 2:  # <ts>[_<completionTs>].commit -> completed
            out.append((parts[0].split("_")[0], parts[1], "completed"))
        elif len(parts) == 3 and parts[2] in ("requested", "inflight"):
            out.append((parts[0], parts[1], parts[2]))
    return out


def _completed_marker(hp: str, ts: str, action: str) -> str:
    """Path of the completed marker for instant ``ts`` — either this
    engine's / Hudi 0.x's ``<ts>.<action>`` or Hudi 1.x's
    ``<ts>_<completionTime>.<action>``."""
    p = os.path.join(hp, f"{ts}.{action}")
    if _fs.exists(p):
        return p
    for name in _fs.listdir(hp):
        if name.startswith(f"{ts}_") and name.endswith(f".{action}"):
            return os.path.join(hp, name)
    raise FileNotFoundError(f"no completed {action} marker for {ts}")


def _completed(table_path: str, as_of: str | None = None) -> dict[str, dict]:
    """instantTime -> commit JSON for completed commit/replacecommit/
    deltacommit instants at or before ``as_of``."""
    hp = _hoodie_path(table_path)
    out: dict[str, dict] = {}
    for ts, action, state in hudi_timeline(table_path):
        if state != "completed" or action not in (
            "commit",
            "replacecommit",
            "deltacommit",
        ):
            continue
        if as_of is not None and ts > str(as_of):
            continue
        raw = _fs.read_text(_completed_marker(hp, ts, action))
        try:
            meta = json.loads(raw) if raw.strip() else {}
        except json.JSONDecodeError as exc:
            raise NotImplementedError(
                f"hudi: completed {action} metadata at instant {ts} is "
                "not JSON (Hudi 1.x serializes some completed metadata "
                "as Avro) — this reader decodes the JSON dialect"
            ) from exc
        meta["__action"] = action
        out[ts] = meta
    return out


def _table_props(table_path: str) -> dict[str, str]:
    props = {}
    text = _fs.read_text(
        os.path.join(_hoodie_path(table_path), "hoodie.properties")
    )
    for line in text.splitlines():
        line = line.strip()
        if line and not line.startswith("#") and "=" in line:
            k, _, v = line.partition("=")
            props[k] = v
    return props


def _partition_fields(props: dict[str, str]) -> list[str]:
    """The table's partition columns from ``hoodie.properties``."""
    fields = props.get("hoodie.table.partition.fields")
    return fields.split(",") if fields else []


def _next_instant(table_path: str) -> str:
    hp = _hoodie_path(table_path)
    best = _FIRST_INSTANT - 1
    if _fs.is_dir(hp):
        for ts, _a, _s in hudi_timeline(table_path):
            best = max(best, int(ts))
    return str(best + 1)


def _base_files(table_path: str) -> list[tuple[str, str, str, str]]:
    """(partition_rel, fileId, instantTime, abs_path) for every base
    parquet under the table (any state — filtered by the caller
    against the completed timeline)."""
    out = []
    for rel in _fs.walk_files(table_path):
        if rel.split("/")[0] == HOODIE_DIR or not rel.endswith(".parquet"):
            continue
        m = _BASE_RE.match(rel.rsplit("/", 1)[-1])
        if not m:
            continue
        part = rel.rsplit("/", 1)[0] if "/" in rel else ""
        out.append(
            (
                part,
                m.group("fid"),
                m.group("instant"),
                os.path.join(table_path, rel),
            )
        )
    return out


def hudi_file_slices(
    table_path: str, as_of: str | None = None
) -> list[tuple[str, str, str, str]]:
    """The LIVE file slice per file group at ``as_of`` (default: the
    latest completed instant): (partition, fileId, instant, path).
    Uncommitted/newer slices are invisible; groups replaced by a
    completed ``replacecommit`` at or before ``as_of`` are excluded."""
    commits = _completed(table_path, as_of)
    if not commits:
        return []
    replaced: set[tuple[str, str]] = set()
    for _ts, meta in commits.items():
        if meta.get("__action") == "replacecommit":
            for part, fids in (
                meta.get("partitionToReplaceFileIds") or {}
            ).items():
                for fid in fids:
                    replaced.add((part, fid))
    best: dict[tuple[str, str], tuple[str, str]] = {}
    for part, fid, instant, path in _base_files(table_path):
        if instant not in commits or (part, fid) in replaced:
            continue
        cur = best.get((part, fid))
        if cur is None or instant > cur[0]:
            best[(part, fid)] = (instant, path)
    if as_of is not None:
        # Time travel must not silently SHRINK: a clean that reaped a
        # group's only base slice at/before as_of used to just drop
        # that group from the snapshot (listing-based discovery skips
        # missing files). The commit metadata itself says which file
        # groups the as_of snapshot should serve — any of them with no
        # surviving base file means the slice was cleaned, so raise
        # like the hudi_clean docstring promises.
        expected: set[tuple[str, str]] = set()
        for _ts, meta in commits.items():
            for part, wstats in (
                meta.get("partitionToWriteStats") or {}
            ).items():
                for w in wstats:
                    expected.add((part, w["fileId"]))
        missing = expected - replaced - set(best)
        if missing:
            raise ValueError(
                f"read_hudi: time travel to as_of={as_of!r} needs file "
                f"slices a clean has removed — file groups with no "
                f"surviving base file at that instant: "
                f"{sorted(missing)[:5]}"
            )
    return sorted(
        (part, fid, instant, path)
        for (part, fid), (instant, path) in best.items()
    )


def read_hudi(
    spark: SparkSession,
    table_path: str,
    as_of: str | None = None,
    keep_meta: bool = False,
) -> DataFrame:
    """Snapshot read of a Hudi CoW table, optionally TIME-TRAVELED to
    the completed instant ``as_of``. Base files carry every user
    column (partition columns included — Hudi writes full rows), so
    the result is one parquet scan; ``keep_meta`` keeps the five
    ``_hoodie_*`` columns instead of dropping them."""
    props = _table_props(table_path)
    ttype = props.get("hoodie.table.type", "COPY_ON_WRITE")
    if ttype == "MERGE_ON_READ":
        # merged base+log snapshot — both log dialects (this module's
        # Avro containers and real HoodieLogFormat block framing);
        # unrecognizable log files raise inside _log_files
        return _read_mor(spark, table_path, as_of, keep_meta)
    if ttype != "COPY_ON_WRITE":
        raise NotImplementedError(
            f"read_hudi: table type {ttype} not supported"
        )
    slices = hudi_file_slices(table_path, as_of)
    paths = [p for _part, _fid, _i, p in slices]
    if not paths:
        raise ValueError(
            f"read_hudi: no completed file slices at as_of={as_of!r}"
        )
    df = spark.read.parquet(*paths)
    if not keep_meta:
        df = df.drop(*META_COLS)
    return df


def _write_properties(
    table_path: str,
    record_key: str,
    partition_by,
    table_type: str = "COPY_ON_WRITE",
    precombine: str | None = None,
):
    hp = _hoodie_path(table_path)
    _fs.makedirs(hp)
    dst = os.path.join(hp, "hoodie.properties")
    if _fs.exists(dst):
        return
    lines = [
        "hoodie.table.name=" + os.path.basename(table_path.rstrip("/")),
        "hoodie.table.type=" + table_type,
        "hoodie.table.version=6",
        "hoodie.table.recordkey.fields=" + record_key,
        "hoodie.datasource.write.hive_style_partitioning=true",
    ]
    if precombine:
        lines.append("hoodie.table.precombine.field=" + precombine)
    if partition_by:
        lines.append(
            "hoodie.table.partition.fields=" + ",".join(partition_by)
        )
    _fs.write_text(dst, "\n".join(lines) + "\n")


def _with_meta(
    df: DataFrame, record_key: str, part_cols: list[str], instant: str
) -> DataFrame:
    part_path = (
        F.concat_ws(
            "/",
            *[
                F.concat(F.lit(f"{c}="), F.col(c).cast("string"))
                for c in part_cols
            ],
        )
        if part_cols
        else F.lit("")
    )
    return df.select(
        F.lit(instant).alias("_hoodie_commit_time"),
        F.concat(F.lit(instant), F.lit("_0")).alias("_hoodie_commit_seqno"),
        F.col(record_key).cast("string").alias("_hoodie_record_key"),
        part_path.alias("_hoodie_partition_path"),
        F.lit("").alias("_hoodie_file_name"),  # filled at placement
        *df.columns,
    )


def _stage_and_place(
    df_meta: DataFrame,
    table_path: str,
    part_cols: list[str],
    instant: str,
    fid_for_dir=None,
    fid_col: str | None = None,
) -> dict[str, list[dict]]:
    """Stage ``df_meta`` (meta columns attached) through partitionBy
    and move each staged file into the table as a base file. Returns
    partitionToWriteStats. ``fid_for_dir`` maps a partition rel-dir to
    a FIXED fileId (rewrites keep their file group); new groups get
    fresh ids. ``fid_col`` (r13) names a column carrying each row's
    fileId: it joins the staged partitionBy (so it never lands in the
    data files) and each staged ``fid_col=<fid>`` directory places as
    that file group — the single-job alternative to one
    ``fid_for_dir`` write per group."""
    import shutil
    import tempfile

    import pyarrow.parquet as pq

    stage = tempfile.mkdtemp(prefix="_hudi_stage_")
    # Hudi data files carry FULL rows (partition columns included) —
    # route the directory layout through helper copies so partitionBy
    # does not strip the real columns from the files
    helpers = {f"__hp_{c}": F.col(c).cast("string") for c in part_cols}
    writer = df_meta.withColumns(helpers).write.mode("overwrite")
    stage_parts = list(helpers.keys()) + ([fid_col] if fid_col else [])
    if stage_parts:
        writer = writer.partitionBy(*stage_parts)
    writer.parquet(stage)
    pattern = (
        os.path.join(stage, *["*"] * len(stage_parts), "part-*.parquet")
        if stage_parts
        else os.path.join(stage, "part-*.parquet")
    )
    stats: dict[str, list[dict]] = {}
    for src in sorted(glob.glob(pattern)):
        rel_dir = os.path.relpath(os.path.dirname(src), stage)
        rel_dir = "" if rel_dir == "." else rel_dir.replace(os.sep, "/")
        fid = None
        if fid_col:
            head, _sep, leaf = rel_dir.rpartition("/")
            fid = leaf.split("=", 1)[1]
            rel_dir = head
        rel_dir = rel_dir.replace("__hp_", "")
        if fid is None and fid_for_dir is not None:
            fid = fid_for_dir(rel_dir)
        if fid is None:
            fid = uuid.uuid4().hex[:20]
        name = f"{fid}_0-0-0_{instant}.parquet"
        dst_dir = os.path.join(table_path, rel_dir) if rel_dir else table_path
        _fs.makedirs(dst_dir)
        # partition metadata marker, Hudi layout fidelity
        pmeta = os.path.join(dst_dir, ".hoodie_partition_metadata")
        if rel_dir and not _fs.exists(pmeta):
            _fs.write_text(
                pmeta,
                f"#partition metadata\ncommitTime={instant}\n"
                f"partitionDepth={len(part_cols)}\n",
            )
        dst = os.path.join(dst_dir, name)
        # stat the LOCAL staged file before the (possibly remote) move
        nrows = pq.ParquetFile(src).metadata.num_rows
        nbytes = os.path.getsize(src)
        _fs.move(src, dst)
        stats.setdefault(rel_dir, []).append(
            {
                "fileId": fid,
                "path": os.path.join(rel_dir, name) if rel_dir else name,
                "numWrites": nrows,
                "fileSizeInBytes": nbytes,
            }
        )
    shutil.rmtree(stage, ignore_errors=True)
    return stats


def _claim_instant(table_path: str, instant: str, action: str) -> None:
    """Exclusive, action-agnostic claim of ``instant``: the single
    serialization point for every completed-marker write (commits,
    deltacommits, cleans). Raises FileExistsError when another writer
    already owns the instant, whatever its action."""
    claim = os.path.join(_hoodie_path(table_path), f".{instant}.claim")
    with _fs.open_create(claim) as f:
        f.write(action.encode())


def _commit(
    table_path: str,
    instant: str,
    operation: str,
    stats: dict,
    action: str = "commit",
    extra: dict | None = None,
) -> str:
    """Complete ``instant`` with a commit body of ``stats``, the
    ``operation`` and any ``extra`` top-level keys (e.g.
    ``partitionToReplaceFileIds``, ``extraMetadata``)."""
    hp = _hoodie_path(table_path)
    # requested -> inflight -> completed, the timeline's three states
    for suffix in (f"{action}.requested", f"{action}.inflight"):
        _fs.write_text(os.path.join(hp, f"{instant}.{suffix}"), "{}")
    body = {
        "partitionToWriteStats": stats,
        "operationType": operation,
        **(extra or {}),
    }
    # The atomic claim is an exclusive create of an ACTION-AGNOSTIC
    # marker (.{instant}.claim): two writers racing on the same instant
    # with DIFFERENT actions (hudi_upsert's 'commit' vs
    # hudi_mor_upsert's 'deltacommit', compaction vs a streaming
    # insert) would both win an action-NAMED exclusive create, leaving
    # two completed commits sharing one instant time and each other's
    # files cross-attributed on later reads. Losing the claim means
    # ANOTHER writer owns this instant — our already-placed base files
    # carry the same instant time and would be attributed to the
    # winner's commit on every later read, so delete them before
    # surfacing the conflict. The dotfile name keeps the claim
    # invisible to hudi_timeline's introspection.
    try:
        _claim_instant(table_path, instant, action)
    except FileExistsError:
        for wstats in stats.values():
            for w in wstats:
                try:
                    _fs.remove(os.path.join(table_path, w["path"]))
                except FileNotFoundError:
                    pass
        raise RuntimeError(
            f"hudi: lost the commit race at instant {instant} — placed "
            "files were removed; re-run against the new table state"
        )
    # claim won: the completed-marker write is race-free by construction
    _fs.write_text(os.path.join(hp, f"{instant}.{action}"), json.dumps(body))
    return instant


def hudi_insert(
    spark: SparkSession,
    df: DataFrame,
    table_path: str,
    record_key: str,
    partition_by: list[str] | None = None,
    table_type: str = "COPY_ON_WRITE",
    precombine_field: str | None = None,
) -> str:
    """INSERT (bulk) into a Hudi CoW table, creating it (timeline +
    hoodie.properties) when absent. New rows open NEW file groups;
    existing groups are untouched — use :func:`hudi_upsert` for
    update semantics. ``precombine_field`` declares the table's
    event-time ordering column (hoodie.table.precombine.field): MoR
    merge then resolves same-key rows by LARGEST orderingVal first,
    commit order only as tiebreak. Returns the completed instant
    time."""
    part_cols = list(partition_by or [])
    if record_key not in df.columns:
        raise ValueError(f"hudi_insert: record key {record_key!r} not in frame")
    if precombine_field and precombine_field not in df.columns:
        raise ValueError(
            f"hudi_insert: precombine field {precombine_field!r} not in frame"
        )
    if _fs.is_dir(_hoodie_path(table_path)):
        props = _table_props(table_path)
        want = props.get("hoodie.table.recordkey.fields")
        if want and want != record_key:
            raise ValueError(
                f"hudi_insert: record key mismatch — table has {want!r}"
            )
        have_parts = _partition_fields(props)
        if have_parts != part_cols:
            raise ValueError(
                f"hudi_insert: partition fields mismatch — table has "
                f"{have_parts}, call passed {part_cols}"
            )
    _fs.makedirs(table_path)
    _write_properties(
        table_path, record_key, part_cols, table_type, precombine_field
    )
    instant = _next_instant(table_path)
    stats = _stage_and_place(
        _with_meta(df, record_key, part_cols, instant),
        table_path,
        part_cols,
        instant,
    )
    return _commit(table_path, instant, "INSERT", stats)


def _fid_expr():
    """fileId of each scanned row, parsed in-frame from its base file
    name (``<fid>_<token>_<instant>.parquet``; fid is hex, no ``_``) —
    lets one distributed job group rows by their file group without a
    per-group driver loop."""
    return F.regexp_extract(
        F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1),
        r"^([^_]+)_",
        1,
    )


def _part_path_col(part_cols: list[str]):
    if not part_cols:
        return F.lit("")
    return F.concat_ws(
        "/",
        *[
            F.concat(F.lit(f"{c}="), F.col(c).cast("string"))
            for c in part_cols
        ],
    )


def hudi_upsert(
    spark: SparkSession, df: DataFrame, table_path: str
) -> str:
    """Copy-on-write UPSERT: rows of ``df`` REPLACE current rows
    sharing their (record key, partition) identity — Hudi's default
    NON-GLOBAL index semantics, where the same key in a different
    partition is a different record — and the rest INSERT into new
    file groups. Only file groups containing a matched identity are
    rewritten; each gets ONE new slice under its EXISTING fileId, so
    time travel to any earlier instant still sees the old slices.
    O(touched groups), never O(table). ``df`` must be identity-unique
    (enforced with one cheap count, fails loudly otherwise)."""
    props = _table_props(table_path)
    record_key = props["hoodie.table.recordkey.fields"]
    part_cols = _partition_fields(props)
    if record_key not in df.columns:
        raise ValueError(f"hudi_upsert: record key {record_key!r} not in frame")
    user_cols = list(df.columns)
    tagged = df.withColumns(
        {
            "__k": F.col(record_key).cast("string"),
            "__p": _part_path_col(part_cols),
        }
    )
    if (
        tagged.groupBy("__k", "__p")
        .count()
        .filter(F.col("count") > 1)
        .limit(1)
        .count()
        > 0
    ):
        raise ValueError("hudi_upsert: source has duplicate identities")
    slices = hudi_file_slices(table_path)
    by_group: dict[tuple[str, str], list[str]] = {}
    for part, fid, _i, p in slices:
        by_group.setdefault((part, fid), []).append(p)
    instant = _next_instant(table_path)
    stats: dict[str, list[dict]] = {}
    if not by_group:
        # no completed file slices (fresh table, or the first insert
        # lost its commit): nothing can match, the whole batch inserts
        stats = _stage_and_place(
            _with_meta(df, record_key, part_cols, instant),
            table_path,
            part_cols,
            instant,
        )
        return _commit(table_path, instant, "UPSERT", stats)
    # touched groups: one planning-scale pass — which slices hold a
    # matched (key, partition) identity (the same O(touched files)
    # collect budget as delta_merge's probe). Each row's fileId comes
    # straight off its file name, in-frame.
    current = spark.read.parquet(*[p for ps in by_group.values() for p in ps])
    idents = tagged.select("__k", "__p").distinct()
    cur_fid = current.withColumn("__fid", _fid_expr())
    touched_groups = {
        (r["_hoodie_partition_path"], r["__fid"])
        for r in cur_fid.join(
            idents,
            (F.col("_hoodie_record_key") == idents["__k"])
            & (F.col("_hoodie_partition_path") == idents["__p"]),
            "left_semi",
        )
        .select("_hoodie_partition_path", "__fid")
        .distinct()
        .collect()
    }
    if touched_groups:
        # ONE distributed rewrite of every touched group (r13; the old
        # per-group driver loop launched ~3 jobs per group, serialized):
        # survivors anti-join the upsert identities, updates attach
        # their group's fileId from the key -> group map, and a hash
        # repartition on the fileId keeps each group whole in one task
        # so the staged fid_col partitionBy emits exactly ONE base file
        # per group under its EXISTING fileId.
        # membership via a BROADCAST LEFT SEMI join, not an isin
        # literal: a single upsert can touch 10^4-10^6 file groups at
        # production scale, and a million-element In() predicate blows
        # up analysis/codegen, while the broadcast relation keeps the
        # plan O(1) in the touched-group count (r14; the driver
        # already holds the set from the planning-scale collect).
        # built via pandas so the local relation ships as ARROW and
        # evaluates JVM-side: a plain createDataFrame(list) makes a
        # pickled-row RDD whose every materialization (once per
        # broadcast build) pays serial Python-worker round-trips —
        # measured ~4 s per upsert vs ~0.3 s through Arrow (r14).
        import pandas as _pd

        touched_fids = sorted({f for _p, f in touched_groups})
        fid_frame = spark.createDataFrame(
            _pd.DataFrame({"__fid": touched_fids})
        )
        cur_t = cur_fid.join(F.broadcast(fid_frame), "__fid", "left_semi")
        gold = cur_t.join(
            idents,
            (F.col("_hoodie_record_key") == idents["__k"])
            & (F.col("_hoodie_partition_path") == idents["__p"]),
            "left_anti",
        ).select(*user_cols, "__fid")
        gkeys = cur_t.select(
            F.col("_hoodie_record_key").alias("__k"),
            F.col("_hoodie_partition_path").alias("__p"),
            "__fid",
        ).distinct()
        upd = tagged.join(gkeys, ["__k", "__p"]).select(*user_cols, "__fid")
        # explicit rewrite width (r14): one base file per touched
        # group, so parallelism tracks the GROUP count, capped at the
        # session's scale-derived shuffle width — a bare
        # repartition(col) lets AQE byte-size the exchange and
        # serialize a many-small-groups rewrite onto a few tasks.
        ups_width = max(
            1,
            min(
                len(touched_fids),
                int(spark.conf.get("spark.sql.shuffle.partitions")),
            ),
        )
        merged = gold.unionByName(upd).repartition(
            ups_width, F.col("__fid")
        )
        gstats = _stage_and_place(
            _with_meta(merged, record_key, part_cols, instant),
            table_path,
            part_cols,
            instant,
            fid_col="__fid",
        )
        for k, v in gstats.items():
            stats.setdefault(k, []).extend(v)
    # inserts: identities matching NO current record open new groups
    cur_idents = current.select(
        F.col("_hoodie_record_key").alias("__k"),
        F.col("_hoodie_partition_path").alias("__p"),
    ).distinct()
    inserts = tagged.join(cur_idents, ["__k", "__p"], "left_anti").select(
        *user_cols
    )
    if inserts.limit(1).count() > 0:
        istats = _stage_and_place(
            _with_meta(inserts, record_key, part_cols, instant),
            table_path,
            part_cols,
            instant,
        )
        for k, v in istats.items():
            stats.setdefault(k, []).extend(v)
    return _commit(table_path, instant, "UPSERT", stats)


def hudi_partitions(
    spark: SparkSession, table_path: str, as_of: str | None = None
) -> DataFrame:
    """Per-partition summary of the LIVE file slices at ``as_of``
    (default latest): slice count, row count (from the commits'
    ``partitionToWriteStats.numWrites`` — exact for CoW, where each
    slice's rows are what its write wrote), and total bytes — the Hudi
    twin of ``delta_partitions`` / ``iceberg_partitions`` maintenance
    jobs size clustering with. Unpartitioned tables yield one row with
    NULL. Pure timeline read — planning-scale, no data touched."""
    commits = _completed(table_path, as_of)
    # path -> (numWrites, fileSizeInBytes) across all completed commits
    by_path: dict[str, tuple[int | None, int | None]] = {}
    for meta in commits.values():
        for _part, wstats in (
            meta.get("partitionToWriteStats") or {}
        ).items():
            for st in wstats:
                by_path[st["path"]] = (
                    st.get("numWrites"),
                    st.get("fileSizeInBytes"),
                )
    agg: dict[str | None, list] = {}
    for part, _fid, _instant, path in hudi_file_slices(table_path, as_of):
        rel = os.path.relpath(path, table_path).replace(os.sep, "/")
        n, b = by_path.get(rel, (None, None))
        agg.setdefault(part or None, []).append((n, b))
    rows = []
    for key in sorted(agg, key=lambda k: (k is None, k or "")):
        members = agg[key]
        counts = [n for n, _ in members]
        sizes = [b for _, b in members]
        rows.append(
            (
                key,
                len(members),
                sum(counts) if all(c is not None for c in counts) else None,
                sum(sizes) if all(s is not None for s in sizes) else None,
            )
        )
    return local_frame(spark, 
        rows,
        "`partition` string, `n_slices` long, `n_rows` long, "
        "`total_bytes` long",
    )


# ------------------------------------------------------- merge-on-read
#
# MERGE_ON_READ completes the trio's MoR story next to Delta's deletion
# vectors and Iceberg's position/equality deletes: an upsert appends a
# small LOG FILE to each touched file group instead of rewriting its
# base parquet — O(delta) write cost — and readers merge base + logs by
# record key, latest instant wins. Log files follow the spec's SLICE
# MODEL (named into their file group + base instant, visible only when
# their deltacommit completes) but their payload is a standard Avro
# OBJECT CONTAINER written by this repo's pure-stdlib codec
# (sources/avro.py), NOT Hudi's HoodieLogFormat binary block framing —
# tables written by Apache Hudi's own MoR writer are detected and
# raise rather than mis-read (the honest interop boundary; CoW tables
# remain fully readable either way).

_LOG_RE = re.compile(
    r"^\.(?P<fid>[^_]+)_(?P<base>\d+)\.log\.(?P<ver>\d+)_(?P<instant>\d+)$"
)
# Hudi's own writers: .{fileId}_{baseCommit}.log.{version}_{writeToken}
# (the trailing writeToken is task-attempt bookkeeping and optional)
_FOREIGN_LOG_RE = re.compile(
    r"^\.(?P<fid>.+)_(?P<base>\d+)\.log\.(?P<ver>\d+)(_(?P<token>.+))?$"
)
_MOR_OP = "_hudi_op"  # log-record column: 'u' upsert, 'd' delete
_MOR_INSTANT = "_hudi_instant"

_SPARK_TO_AVRO = {
    "long": "long",
    "bigint": "long",
    "int": "int",
    "integer": "int",
    "smallint": "int",
    "tinyint": "int",
    "double": "double",
    "float": "float",
    "string": "string",
    "boolean": "boolean",
    "binary": "bytes",
}


def _mor_avro_schema(schema) -> dict:
    """Avro record schema for log rows: every user field as a
    [null, T] union plus the op/instant bookkeeping fields."""
    fields = [
        {"name": _MOR_OP, "type": "string"},
        {"name": _MOR_INSTANT, "type": "string"},
    ]
    for f in schema.fields:
        t = _SPARK_TO_AVRO.get(f.dataType.simpleString())
        if t is None:
            raise NotImplementedError(
                f"hudi_mor: column {f.name!r} has type "
                f"{f.dataType.simpleString()!r} — log rows support "
                f"{sorted(set(_SPARK_TO_AVRO))}"
            )
        fields.append({"name": f.name, "type": ["null", t]})
    return {"type": "record", "name": "hudi_log_row", "fields": fields}


def _log_files(
    table_path: str, as_of: str | None = None
) -> dict[tuple[str, str, str], list[tuple[str, str]]]:
    """(partition, fileId, baseInstant) -> [(instant, abs_path)] for
    every log file visible at ``as_of``. Two dialects are read
    (distinguished by a 6-byte magic sniff, a metadata-scale touch):

    * this module's Avro-container logs — the filename carries the
      deltacommit instant, which gates visibility here;
    * Hudi's own HoodieLogFormat binary block framing
      (``sources.hudi_log``) — instants ride in BLOCK headers, so the
      file lists with instant ``""`` and the block scanner filters
      against the completed timeline at decode time.

    A ``.log.`` file matching neither raises rather than mis-reads."""
    commits = _completed(table_path, as_of)
    out: dict[tuple[str, str, str], list[tuple[str, str]]] = {}
    for rel in _fs.walk_files(table_path):
        name = rel.rsplit("/", 1)[-1]
        if ".log." not in name:
            continue
        if rel.split("/")[0] == HOODIE_DIR:
            continue
        path = os.path.join(table_path, rel)
        part = rel.rsplit("/", 1)[0] if "/" in rel else ""
        m = _LOG_RE.match(name)
        if m is not None and not hudi_log.is_hoodie_log(path):
            if m.group("instant") not in commits:
                continue  # uncommitted/raced log: invisible
            key = (part, m.group("fid"), m.group("base"))
            out.setdefault(key, []).append((m.group("instant"), path))
            continue
        fm = _FOREIGN_LOG_RE.match(name)
        if fm is not None and hudi_log.is_hoodie_log(path):
            key = (part, fm.group("fid"), fm.group("base"))
            out.setdefault(key, []).append(("", path))
            continue
        raise NotImplementedError(
            f"hudi_mor: log file {name!r} is neither this module's "
            "Avro-container dialect nor HoodieLogFormat block framing"
        )
    for v in out.values():
        v.sort()
    return out


_MOR_SEQ = "_hudi_seq"  # block position: later blocks of one instant win
_MOR_ORD = "_hudi_ord"  # event-time orderingVal (precombine) — when the
# table declares hoodie.table.precombine.field, the LARGEST value wins
# per key and (instant, seq) only break ties. Deletes with NO
# orderingVal (or the DeleteRecord default 0) are NATURAL-ORDER
# deletes: Hudi's merged-log scanner applies them unconditionally by
# commit order, so they kill every earlier version of the key and
# event-time competition restarts after them (_mor_winners).


def _mor_order(precombine_active: bool) -> list:
    """The per-identity supersedence order of the MoR merge window,
    shared by the snapshot read and compaction so both resolve the
    same winners: EVENT_TIME ordering (orderingVal desc, nulls last)
    when the table declares a precombine field, then commit-time
    (instant desc, block seq desc) as tiebreak — COMMIT_TIME only is
    the law when no precombine is declared (byte-identical to the
    pre-r12 behavior). Natural-order deletes are handled BEFORE this
    sort by ``_mor_winners``'s pre-filter."""
    order = [F.desc(_MOR_INSTANT), F.desc(_MOR_SEQ)]
    if precombine_active:
        order.insert(0, F.desc_nulls_last(_MOR_ORD))
    return order


def _mor_winners(df: DataFrame, key_cols: list[str],
                 precombine_active: bool) -> DataFrame:
    """Resolve the MoR merge window to its per-identity WINNER rows
    (op 'u' only) — one shared law for the snapshot read, compaction,
    and the streaming source. ``df`` carries ``key_cols`` +
    ``_MOR_OP/_MOR_INSTANT/_MOR_SEQ/_MOR_ORD`` + payload columns.

    Event-time tables get Hudi's two-tier delete semantics: a delete
    whose orderingVal is NULL or exactly 0 (the DeleteRecord default)
    is a NATURAL-ORDER delete — the merged-log scanner applies it
    unconditionally in commit/seq order, so every strictly-earlier
    version of the key dies and only rows written after it (which it
    then loses to, carrying null event time) can resurrect the key.
    Event-timed deletes (orderingVal != 0) compete in the ordinary
    orderingVal-desc sort: they kill only winners with a smaller
    event time. Reference parity: dataset_grouper has no lakehouse
    formats; semantics follow Hudi's HoodieMergedLogRecordScanner /
    DeleteRecord (orderingVal 0 == natural order)."""
    from pyspark.sql import Window

    if precombine_active:
        is_nat_del = (F.col(_MOR_OP) == "d") & (
            F.col(_MOR_ORD).isNull() | (F.col(_MOR_ORD) == 0.0)
        )
        pos = F.struct(F.col(_MOR_INSTANT), F.col(_MOR_SEQ))
        nat = F.max(F.when(is_nat_del, pos)).over(
            Window.partitionBy(*key_cols)
        )
        df = (
            df.withColumn("__nat_del", nat)
            .filter(
                F.col("__nat_del").isNull() | (pos >= F.col("__nat_del"))
            )
            # the sentinel itself competes with NULL event time: any
            # later-written row beats it, else the key stays deleted
            .withColumn(
                _MOR_ORD,
                F.when(is_nat_del, F.lit(None).cast("double")).otherwise(
                    F.col(_MOR_ORD)
                ),
            )
            .drop("__nat_del")
        )
    return (
        df.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy(*key_cols).orderBy(
                    *_mor_order(precombine_active)
                )
            ),
        )
        .filter((F.col("_rn") == 1) & (F.col(_MOR_OP) == "u"))
        .drop("_rn")
    )


def _precombine_col(props: dict, user_cols: list[str]) -> str | None:
    """The declared precombine field, when it exists among the user
    columns (a declared-but-absent field degrades to commit-time —
    the honest fallback, not an error, matching a schema that evolved
    the column away)."""
    pc = props.get("hoodie.table.precombine.field")
    return pc if pc and pc in user_cols else None


def _py_str(v):
    """Python-side twin of Spark's cast-to-string, for identity parts
    decoded from log payloads (keys/partitions are strings or ints in
    practice; bool/bytes normalized defensively)."""
    if v is None:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    return str(v)


def _log_version(path: str) -> tuple[int, str]:
    m = re.search(r"\.log\.(\d+)", path.rsplit("/", 1)[-1])
    return (int(m.group(1)) if m else 0, path)


def _group_log_paths(paths: list[str]) -> list[list[str]]:
    """Group log-file paths by FILE GROUP (everything before the
    ``.log.<version>`` suffix) — the unit Hudi's scanner decodes as
    ONE block stream, so a rollback COMMAND_BLOCK in ``.log.2`` can
    invalidate blocks in ``.log.1`` (r9 review). Within-group version
    ORDER is applied in exactly one place — ``_log_rows_df``'s shard
    encoding — so every caller's groups decode identically whether
    pre-sorted or not."""
    groups: dict[str, list[str]] = {}
    for p in paths:
        key = p.rsplit(".log.", 1)[0] if ".log." in p else p
        groups.setdefault(key, []).append(p)
    return [v for _k, v in sorted(groups.items())]


def _log_rows_df(
    spark: SparkSession,
    path_groups: list[list[str]],
    user_schema,
    record_key: str,
    completed: set[str],
    fids: list[str] | None = None,
) -> DataFrame:
    """Distributed decode of MoR log files of EITHER dialect into rows
    ``[_MOR_OP, _MOR_INSTANT, _MOR_SEQ, __mor_key, __mor_part,
    *user_cols]`` — one executor task per FILE GROUP (its ordered
    rollover files decoded as one block stream, Hudi's scanner unit),
    Arrow-batched, the same shards→tasks layout as ``read_avro``.

    ``__mor_key``/``__mor_part`` are set only when the log record is
    itself authoritative about identity (HoodieLogFormat records
    carrying ``_hoodie_*`` meta fields; delete-block keys); otherwise
    null, and the caller derives identity from the user columns in
    Spark exactly as the base side does — so this engine's own logs
    merge byte-identically to before."""
    import pandas as pd

    names = [f.name for f in user_schema.fields]
    cols = [
        _MOR_OP,
        _MOR_INSTANT,
        _MOR_SEQ,
        "__mor_key",
        "__mor_part",
        "__mor_ord",
        "__mor_fid",
    ]
    ddl = ", ".join(
        [
            f"`{_MOR_OP}` string",
            f"`{_MOR_INSTANT}` string",
            f"`{_MOR_SEQ}` int",
            "`__mor_key` string",
            "`__mor_part` string",
            # delete-block orderingVal (numeric members of the spec's
            # union; non-numeric -> null -> commit-time tiebreak)
            "`__mor_ord` double",
            # file group of the log stream, when the caller passes
            # ``fids`` (compaction writes winners back per group)
            "`__mor_fid` string",
        ]
        + [f"`{f.name}` {f.dataType.simpleString()}" for f in user_schema.fields]
    )
    completed = frozenset(completed)
    encoded = [
        (fids[i] if fids else "")
        + "\x01"
        + "\x00".join(sorted(g, key=_log_version))
        for i, g in enumerate(path_groups)
    ]
    shards = spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(s,) for s in encoded], len(encoded)
        ),
        "shard string",
    )

    def decode(pdf_iter):
        from dataset_grouper_spark.sources import hudi_log as hl
        from dataset_grouper_spark.sources.avro import read_avro_file

        for pdf in pdf_iter:
            for shard in pdf["shard"]:
                fid, _sep, joined = shard.partition("\x01")
                fid = fid or None
                paths = joined.split("\x00")
                rows = []
                hoodie = [p for p in paths if hl.is_hoodie_log(p)]
                if hoodie:
                    # one ordered stream per file group: global block
                    # position IS the supersedence order (later
                    # rollover files scan after earlier ones), and
                    # rollback COMMAND_BLOCKs apply across files
                    for op, instant, seq, rec in (
                        hl.read_log_stream_records(hoodie, completed)
                    ):
                        if op == "d":
                            # delete block: identity only, no user
                            # row; its orderingVal (numeric union
                            # members only) joins the event-time
                            # merge when the table declares a
                            # precombine field
                            ov = rec.get("orderingVal")
                            ordv = (
                                float(ov)
                                if isinstance(ov, (int, float))
                                and not isinstance(ov, bool)
                                else None
                            )
                            rows.append(
                                {
                                    _MOR_OP: op,
                                    _MOR_INSTANT: instant,
                                    _MOR_SEQ: seq,
                                    "__mor_key": rec.get("recordKey"),
                                    "__mor_part": rec.get("partitionPath")
                                    or "",
                                    "__mor_ord": ordv,
                                    "__mor_fid": fid,
                                    **{n: None for n in names},
                                }
                            )
                        else:
                            rows.append(
                                {
                                    _MOR_OP: op,
                                    _MOR_INSTANT: instant,
                                    _MOR_SEQ: seq,
                                    "__mor_key": _py_str(
                                        rec.get("_hoodie_record_key")
                                    ),
                                    "__mor_part": rec.get(
                                        "_hoodie_partition_path"
                                    ),
                                    # upsert rows carry the precombine
                                    # column among their user columns
                                    "__mor_ord": None,
                                    "__mor_fid": fid,
                                    **{n: rec.get(n) for n in names},
                                }
                            )
                for path in paths:
                    if path in hoodie:
                        continue
                    _schema, recs = read_avro_file(path)
                    for rec in recs:
                        rows.append(
                            {
                                _MOR_OP: rec[_MOR_OP],
                                _MOR_INSTANT: rec[_MOR_INSTANT],
                                _MOR_SEQ: 0,
                                "__mor_key": None,
                                "__mor_part": None,
                                "__mor_ord": None,
                                "__mor_fid": fid,
                                **{n: rec.get(n) for n in names},
                            }
                        )
                yield pd.DataFrame(rows, columns=cols + names)

    return shards.mapInPandas(decode, ddl)


def _read_mor(
    spark: SparkSession,
    table_path: str,
    as_of: str,
    keep_meta: bool,
) -> DataFrame:
    """Merged snapshot of a MERGE_ON_READ table: base slices overlaid
    with their committed log rows, per-identity latest instant wins,
    deletes drop. Groups WITHOUT logs stream straight through — only
    logged groups pay the merge window (MoR's read economics)."""
    from functools import reduce

    from pyspark.sql import Window

    props = _table_props(table_path)
    record_key = props["hoodie.table.recordkey.fields"]
    part_cols = _partition_fields(props)
    slices = hudi_file_slices(table_path, as_of)
    if not slices:
        raise ValueError(
            f"read_hudi: no completed file slices at as_of={as_of!r}"
        )
    logs = _log_files(table_path, as_of)
    logged_paths, clean_paths, log_groups = [], [], []
    for part, fid, instant, path in slices:
        entries = logs.get((part, fid, instant))
        if entries:
            logged_paths.append(path)
            # one file group's logs = one ordered decode stream
            log_groups.append([p for _i, p in entries])
        else:
            clean_paths.append(path)
    frames = []
    user_cols: list[str] | None = None
    if clean_paths:
        clean = spark.read.parquet(*clean_paths)
        user_cols = [c for c in clean.columns if c not in META_COLS]
        frames.append(clean if keep_meta else clean.drop(*META_COLS))
    if logged_paths:
        base = spark.read.parquet(*logged_paths)
        if user_cols is None:
            user_cols = [c for c in base.columns if c not in META_COLS]
        logdf = _log_rows_df(
            spark,
            log_groups,
            base.select(*user_cols).schema,
            record_key,
            set(_completed(table_path, as_of)),
        )
        pc = _precombine_col(props, user_cols)
        base_ord = (
            F.col(pc).cast("double") if pc else F.lit(None).cast("double")
        )
        log_ord = (
            F.coalesce(F.col("__mor_ord"), F.col(pc).cast("double"))
            if pc
            else F.lit(None).cast("double")
        )
        merged = (
            base.select(
                *META_COLS,
                F.lit("u").alias(_MOR_OP),
                F.col("_hoodie_commit_time").alias(_MOR_INSTANT),
                F.lit(0).alias(_MOR_SEQ),
                base_ord.alias(_MOR_ORD),
                *user_cols,
            )
            .unionByName(
                logdf.select(
                    F.lit("").alias("_hoodie_commit_time"),
                    F.lit("").alias("_hoodie_commit_seqno"),
                    # log-carried identity wins (foreign meta fields /
                    # delete-block keys); else derive from the row's
                    # own columns — identity is NON-GLOBAL (key,
                    # partition), same as the CoW upsert's index
                    F.coalesce(
                        F.col("__mor_key"),
                        F.col(record_key).cast("string"),
                    ).alias("_hoodie_record_key"),
                    F.coalesce(
                        F.col("__mor_part"), _part_path_col(part_cols)
                    ).alias("_hoodie_partition_path"),
                    F.lit("").alias("_hoodie_file_name"),
                    F.col(_MOR_OP),
                    F.col(_MOR_INSTANT),
                    F.col(_MOR_SEQ),
                    log_ord.alias(_MOR_ORD),
                    *user_cols,
                )
            )
        )
        merged = _mor_winners(
            merged,
            ["_hoodie_record_key", "_hoodie_partition_path"],
            pc is not None,
        )
        keep = (META_COLS + user_cols) if keep_meta else user_cols
        frames.append(merged.select(*keep))
    return reduce(DataFrame.unionByName, frames)


def _touched_group_map(spark: SparkSession, table_path: str):
    """(identity -> live file group) probe shared by the MoR writers:
    returns (tagged df with __k, group frame (__k, __part, __fid,
    __base)) using one planning-scale scan of current base slices."""
    slices = hudi_file_slices(table_path)
    if not slices:
        return None, None
    paths = [p for _pt, _f, _i, p in slices]
    fid_of = {}
    for part, fid, instant, p in slices:
        fid_of[os.path.basename(p)] = (part, fid, instant)
    current = spark.read.parquet(*paths).select(
        F.col("_hoodie_record_key").alias("__k"),
        F.element_at(
            F.split(F.col("_metadata.file_path"), "/"),
            -1,
        ).alias("__f"),
    )
    rows = [(f, part, fid, base) for f, (part, fid, base) in fid_of.items()]
    fmap = local_frame(spark, 
        rows, "`__f` string, `__part` string, `__fid` string, `__base` string"
    )
    groups = current.join(F.broadcast(fmap), "__f").select(
        "__k", "__part", "__fid", "__base"
    )
    return groups, slices


def _mor_write_logs(
    rows: DataFrame,
    table_path: str,
    instant: str,
    avro_schema: dict,
    user_cols: list[str],
    record_key: str | None = None,
    log_format: str = "avro_container",
) -> dict[str, list[dict]]:
    """Write one log file per touched file group, executor-side
    (applyInPandas task per group), through compat.fs. Returns
    partitionToWriteStats entries for the deltacommit.

    ``log_format='hoodie'`` emits REAL HoodieLogFormat block framing
    (``sources.hudi_log``): upsert rows as one AVRO_DATA block whose
    records carry the ``_hoodie_record_key``/``_hoodie_partition_path``
    meta fields real Hudi readers expect, delete rows as one v3 Avro
    DELETE block — a table written this way merges in Hudi's own MoR
    readers. The default keeps this engine's Avro-container dialect."""
    import pandas as pd

    if log_format not in ("avro_container", "hoodie"):
        raise ValueError(
            "log_format must be 'avro_container' or 'hoodie', got "
            f"{log_format!r}"
        )
    # hoodie framing: instant rides block headers, op rides block type
    hoodie_schema = {
        "type": "record",
        "name": avro_schema.get("name", "hudi_log_row"),
        "fields": [
            {"name": "_hoodie_record_key", "type": ["null", "string"]},
            {"name": "_hoodie_partition_path", "type": ["null", "string"]},
        ]
        + [
            f
            for f in avro_schema["fields"]
            if f["name"] not in (_MOR_OP, _MOR_INSTANT)
        ],
    }

    def write_group(key, pdf):
        from dataset_grouper_spark.sources import hudi_log
        from dataset_grouper_spark.sources.avro import write_avro_file

        part_rel, fid, base = key
        cols = [_MOR_OP, _MOR_INSTANT] + user_cols
        recs = []
        for row in pdf[cols].to_dict("records"):
            for k, v in list(row.items()):
                if v is not None and hasattr(v, "item"):
                    row[k] = v.item()
                if isinstance(row[k], float) and row[k] != row[k]:
                    row[k] = None
            recs.append(row)
        n = len(pdf)
        ver = 1
        name = f".{fid}_{base}.log.{ver}_{instant}"
        rel = os.path.join(part_rel, name) if part_rel else name
        dst = os.path.join(table_path, rel)
        if log_format == "hoodie":
            ups, dels = [], []
            for row in recs:
                if row[_MOR_OP] == "d":
                    dels.append(
                        {
                            "recordKey": _py_str(row[record_key]),
                            "partitionPath": part_rel,
                        }
                    )
                else:
                    rec = {
                        k: v
                        for k, v in row.items()
                        if k not in (_MOR_OP, _MOR_INSTANT)
                    }
                    rec["_hoodie_record_key"] = _py_str(row[record_key])
                    rec["_hoodie_partition_path"] = part_rel
                    ups.append(rec)
            blocks = []
            if ups:
                blocks.append(
                    hudi_log.encode_avro_data_block(
                        ups, hoodie_schema, instant
                    )
                )
            if dels:
                blocks.append(hudi_log.encode_delete_block(dels, instant))
            hudi_log.write_log_file(dst, blocks)
        else:
            write_avro_file(dst, avro_schema, recs)
        return pd.DataFrame(
            [
                {
                    "part": part_rel,
                    "fileId": fid,
                    "path": rel,
                    "numWrites": n,
                    "size": _fs.file_size(dst),
                }
            ]
        )

    out = rows.groupBy("__part", "__fid", "__base").applyInPandas(
        write_group,
        "`part` string, `fileId` string, `path` string, "
        "`numWrites` long, `size` long",
    )
    stats: dict[str, list[dict]] = {}
    for r in out.collect():  # bounded by touched-group count
        stats.setdefault(r["part"], []).append(
            {
                "fileId": r["fileId"],
                "path": r["path"],
                "numWrites": r["numWrites"],
                "fileSizeInBytes": r["size"],
            }
        )
    return stats


def hudi_mor_upsert(
    spark: SparkSession,
    df: DataFrame,
    table_path: str,
    log_format: str = "avro_container",
) -> str:
    """MERGE_ON_READ upsert: rows matching a live identity land as log
    rows APPENDED to their file group — O(delta) write, no base file
    rewritten (contrast :func:`hudi_upsert`'s CoW group rewrite);
    unmatched rows open new base file groups. One deltacommit instant
    covers both. ``df`` must be identity-unique, like the CoW path.
    ``log_format='hoodie'`` writes the logs in real HoodieLogFormat
    block framing (readable by Hudi's own MoR readers)."""
    props = _table_props(table_path)
    if props.get("hoodie.table.type") != "MERGE_ON_READ":
        raise ValueError(
            "hudi_mor_upsert: table is not MERGE_ON_READ (create it "
            "with hudi_insert(..., table_type='MERGE_ON_READ'))"
        )
    record_key = props["hoodie.table.recordkey.fields"]
    part_cols = _partition_fields(props)
    if record_key not in df.columns:
        raise ValueError(
            f"hudi_mor_upsert: record key {record_key!r} not in frame"
        )
    user_cols = list(df.columns)
    tagged = df.withColumns(
        {
            "__k": F.col(record_key).cast("string"),
            "__p": _part_path_col(part_cols),
        }
    )
    if (
        tagged.groupBy("__k", "__p").count().filter(F.col("count") > 1)
        .limit(1).count() > 0
    ):
        raise ValueError("hudi_mor_upsert: source has duplicate identities")
    instant = _next_instant(table_path)
    groups, slices = _touched_group_map(spark, table_path)
    stats: dict[str, list[dict]] = {}
    if groups is not None:
        # non-global index: (key, partition) identity, CoW-parity
        groups = groups.withColumnRenamed("__part", "__p")
        matched = tagged.join(groups, ["__k", "__p"])
        log_rows = matched.select(
            F.lit("u").alias(_MOR_OP),
            F.lit(instant).alias(_MOR_INSTANT),
            F.col("__p").alias("__part"),
            "__fid",
            "__base",
            *user_cols,
        )
        stats = _mor_write_logs(
            log_rows,
            table_path,
            instant,
            _mor_avro_schema(df.schema),
            user_cols,
            record_key=record_key,
            log_format=log_format,
        )
        inserts = tagged.join(groups, ["__k", "__p"], "left_anti").select(
            *user_cols
        )
    else:
        inserts = df
    if inserts.limit(1).count() > 0:
        istats = _stage_and_place(
            _with_meta(inserts, record_key, part_cols, instant),
            table_path,
            part_cols,
            instant,
        )
        for k, v in istats.items():
            stats.setdefault(k, []).extend(v)
    return _commit(table_path, instant, "UPSERT", stats, action="deltacommit")


def hudi_mor_delete(
    spark: SparkSession,
    keys_df: DataFrame,
    table_path: str,
    log_format: str = "avro_container",
) -> str:
    """MERGE_ON_READ delete-by-key: a log row with op='d' per matched
    identity — O(deleted keys), no base file touched. Unmatched keys
    are ignored (SQL DELETE semantics). ``log_format='hoodie'`` writes
    a real HoodieLogFormat v3 DELETE block instead of the
    Avro-container dialect."""
    props = _table_props(table_path)
    if props.get("hoodie.table.type") != "MERGE_ON_READ":
        raise ValueError("hudi_mor_delete: table is not MERGE_ON_READ")
    record_key = props["hoodie.table.recordkey.fields"]
    part_cols = _partition_fields(props)
    if record_key not in keys_df.columns:
        raise ValueError(
            f"hudi_mor_delete: record key {record_key!r} not in frame"
        )
    missing = [c for c in part_cols if c not in keys_df.columns]
    if missing:
        raise ValueError(
            f"hudi_mor_delete: non-global index — the key frame must "
            f"carry the partition columns {missing} to name the "
            "(key, partition) identities to delete"
        )
    instant = _next_instant(table_path)
    groups, _slices = _touched_group_map(spark, table_path)
    if groups is None:
        raise ValueError("hudi_mor_delete: table has no completed slices")
    # full schema from the newest base slice so delete rows carry every
    # column (null except the key) under one log schema per table
    sample = read_hudi(spark, table_path, keep_meta=False).limit(0)
    user_cols = list(sample.columns)
    tagged = keys_df.select(
        F.col(record_key).cast("string").alias("__k"),
        _part_path_col(part_cols).alias("__p"),
        F.col(record_key).alias("__key_typed"),
        *[F.col(c).alias(f"__pv_{c}") for c in part_cols],
    ).distinct()
    groups = groups.withColumnRenamed("__part", "__p")
    matched = tagged.join(groups, ["__k", "__p"])
    log_rows = matched.select(
        F.lit("d").alias(_MOR_OP),
        F.lit(instant).alias(_MOR_INSTANT),
        F.col("__p").alias("__part"),
        "__fid",
        "__base",
        *[
            F.col("__key_typed").alias(c)
            if c == record_key
            # partition columns carry their REAL values: the read-side
            # identity (key, partition path) is derived from them
            else F.col(f"__pv_{c}").alias(c)
            if c in part_cols
            else F.lit(None).cast(sample.schema[c].dataType).alias(c)
            for c in user_cols
        ],
    )
    stats = _mor_write_logs(
        log_rows,
        table_path,
        instant,
        _mor_avro_schema(sample.schema),
        user_cols,
        record_key=record_key,
        log_format=log_format,
    )
    return _commit(table_path, instant, "DELETE", stats, action="deltacommit")


def hudi_compact(spark: SparkSession, table_path: str) -> str | None:
    """Compaction: materialize every LOGGED file group's merged rows
    into a new base slice (same fileId, new commit instant), after
    which reads touch no log files — the spec's compaction contract.
    Unlogged groups are untouched; returns None when nothing to do.
    Old logs stay bound to the superseded base instant (time travel to
    pre-compaction instants still merges them) until a cleaner prunes
    them."""
    props = _table_props(table_path)
    record_key = props["hoodie.table.recordkey.fields"]
    part_cols = _partition_fields(props)
    slices = hudi_file_slices(table_path)
    logs = _log_files(table_path)
    logged = [
        (part, fid, base, path, logs[(part, fid, base)])
        for part, fid, base, path in slices
        if (part, fid, base) in logs
    ]
    if not logged:
        return None
    instant = _next_instant(table_path)
    completed = set(_completed(table_path))
    # ONE distributed merge-and-rewrite of every logged group (r13; the
    # old per-group driver loop launched a read+merge+stage job trio
    # per group): bases carry their fileId in-frame off the file name,
    # log rows carry their stream's fileId from the shard encoding,
    # winners resolve per (fileId, key) — identical to the per-group
    # merge because rows never cross groups — and a hash repartition on
    # the fileId lets the staged fid_col partitionBy emit each group's
    # new base slice under its EXISTING fileId in one write.
    basedf = spark.read.parquet(*[p for _pt, _f, _b, p, _e in logged])
    user_cols = [c for c in basedf.columns if c not in META_COLS]
    logdf = _log_rows_df(
        spark,
        [[p for _i, p in entries] for *_ids, entries in logged],
        basedf.select(*user_cols).schema,
        record_key,
        completed,
        fids=[fid for _pt, fid, _b, _p, _e in logged],
    )
    pc = _precombine_col(props, user_cols)
    base_ord = (
        F.col(pc).cast("double") if pc else F.lit(None).cast("double")
    )
    log_ord = (
        F.coalesce(F.col("__mor_ord"), F.col(pc).cast("double"))
        if pc
        else F.lit(None).cast("double")
    )
    merged = (
        basedf.select(
            F.col("_hoodie_record_key").alias("__k"),
            F.col("_hoodie_commit_time").alias(_MOR_INSTANT),
            F.lit(0).alias(_MOR_SEQ),
            F.lit("u").alias(_MOR_OP),
            base_ord.alias(_MOR_ORD),
            _fid_expr().alias("__fid"),
            *user_cols,
        )
        .unionByName(
            logdf.select(
                F.coalesce(
                    F.col("__mor_key"),
                    F.col(record_key).cast("string"),
                ).alias("__k"),
                F.col(_MOR_INSTANT),
                F.col(_MOR_SEQ),
                F.col(_MOR_OP),
                log_ord.alias(_MOR_ORD),
                F.col("__mor_fid").alias("__fid"),
                *user_cols,
            )
        )
    )
    # explicit rewrite width (r14, same fix as compact_partitioned):
    # the rewrite emits one base file per logged group, so its
    # parallelism must track the GROUP count — a bare repartition(col)
    # lets AQE size the exchange by bytes and serialize a
    # many-small-groups compaction onto a few tasks. Capped by the
    # session's scale-derived shuffle width (AQE could never exceed it
    # anyway — it only coalesces below the initial width).
    cmp_width = max(
        1,
        min(
            len(logged),
            int(spark.conf.get("spark.sql.shuffle.partitions")),
        ),
    )
    merged = (
        _mor_winners(merged, ["__fid", "__k"], pc is not None)
        .select(*user_cols, "__fid")
        .repartition(cmp_width, F.col("__fid"))
    )
    stats = _stage_and_place(
        _with_meta(merged, record_key, part_cols, instant),
        table_path,
        part_cols,
        instant,
        fid_col="__fid",
    )
    return _commit(table_path, instant, "COMPACT", stats)


def read_hudi_changes(
    spark: SparkSession,
    table_path: str,
    starting_instant: str,
    ending_instant: str | None = None,
) -> DataFrame:
    """Incremental (CDC) read — the Hudi member of the trio next to
    ``read_delta_changes`` / ``read_iceberg_changes``: every row-level
    change committed by instants in ``(starting, ending]``, as user
    columns plus ``_change_type`` ('insert' / 'update_postimage' /
    'delete'), ``_change_key`` (the record identity, present on every
    row including deletes) and ``_commit_instant``.

    Per-commit semantics:

    * CoW ``commit`` with operation INSERT: the base files it wrote
      are the change set (op 'insert').
    * ``deltacommit`` (MERGE_ON_READ): the LOG rows it appended ARE
      the row-level change set — upserts surface as
      'update_postimage', delete markers as 'delete' (user columns
      null beyond the identity); new-group base files it opened
      surface as 'insert'. This is where Hudi's MoR design pays off:
      CDC falls out of the log, no snapshot diffing.
    * compaction commits (operation COMPACT) are logically no change
      and are skipped, like Iceberg REPLACE snapshots.
    * CoW UPSERT commits and ``replacecommit`` rewrite whole file
      slices — their row-level delta is not recorded anywhere, so
      they RAISE (append-only honesty, the same contract as the Delta
      and Iceberg incremental readers) rather than re-emitting whole
      rewritten groups as phantom changes.

    Cost: O(changed files), never O(table) — only the files the
    in-range commits name in partitionToWriteStats are read."""
    commits = _completed(table_path, ending_instant)
    in_range = {
        ts: meta
        for ts, meta in commits.items()
        if ts > str(starting_instant)
    }
    if not in_range:
        # empty range: zero rows with the right shape
        sample = read_hudi(spark, table_path).limit(0)
        return sample.select(
            F.lit("insert").alias("_change_type"),
            F.lit("").alias("_change_key"),
            F.lit("").alias("_commit_instant"),
            *sample.columns,
        ).limit(0)
    props = _table_props(table_path)
    record_key = props["hoodie.table.recordkey.fields"]
    slices = hudi_file_slices(table_path, ending_instant)
    if not slices:
        raise ValueError(f"read_hudi_changes: no completed slices: {table_path}")
    sample = spark.read.parquet(slices[0][3]).limit(0)
    user_cols = [c for c in sample.columns if c not in META_COLS]
    user_schema = sample.select(*user_cols).schema
    frames: list[DataFrame] = []
    for ts in sorted(in_range):
        meta = in_range[ts]
        action = meta["__action"]
        op = meta.get("operationType")
        if action == "replacecommit":
            raise ValueError(
                f"read_hudi_changes: replacecommit {ts} rewrites file "
                "groups — not expressible as row-level changes; read "
                "snapshots and diff, or narrow the range"
            )
        if op == "COMPACT":
            continue  # logical no-op: logs folded into base
        base_paths, log_paths = [], []
        for _part, wstats in (
            meta.get("partitionToWriteStats") or {}
        ).items():
            for w in wstats:
                (log_paths if ".log." in w["path"] else base_paths).append(
                    os.path.join(table_path, w["path"])
                )
        if action == "commit":
            if op not in (None, "INSERT"):
                raise ValueError(
                    f"read_hudi_changes: CoW {op} commit {ts} rewrites "
                    "file slices — its row-level delta is not recorded; "
                    "use MERGE_ON_READ writes for CDC, or diff snapshots"
                )
        if base_paths:
            b = spark.read.parquet(*base_paths)
            frames.append(
                b.select(
                    F.lit("insert").alias("_change_type"),
                    F.col("_hoodie_record_key").alias("_change_key"),
                    F.lit(ts).alias("_commit_instant"),
                    *user_cols,
                )
            )
        if log_paths:
            logdf = _log_rows_df(
                spark,
                _group_log_paths(log_paths),
                user_schema,
                record_key,
                {ts},
            )
            frames.append(
                logdf.select(
                    F.when(F.col(_MOR_OP) == "d", F.lit("delete"))
                    .otherwise(F.lit("update_postimage"))
                    .alias("_change_type"),
                    F.coalesce(
                        F.col("__mor_key"),
                        F.col(record_key).cast("string"),
                    ).alias("_change_key"),
                    F.col(_MOR_INSTANT).alias("_commit_instant"),
                    *user_cols,
                )
            )
    if not frames:  # e.g. only compaction commits in range
        return sample.select(
            F.lit("insert").alias("_change_type"),
            F.lit("").alias("_change_key"),
            F.lit("").alias("_commit_instant"),
            *user_cols,
        ).limit(0)
    from functools import reduce

    return reduce(DataFrame.unionByName, frames)


def hudi_rollback(table_path: str, instant: str | None = None) -> list[str]:
    """ROLLBACK the LATEST completed write instant (Hudi's rollback
    action): claim a fresh rollback instant, drop the target's
    completed marker and record the ``<ts>.rollback`` timeline marker,
    THEN physically delete the base/log files its partitionToWriteStats
    recorded (invalidate-before-delete: a crash mid-deletion degrades
    to invisible orphan files, never a completed instant with files
    partially missing) — after which reads serve the previous
    snapshot. Only the latest
    completed commit/deltacommit/replacecommit may roll back: undoing
    a middle instant would corrupt later slices built on top of it
    (pass ``instant`` to assert which one you expect to undo).

    Refuses when a CLEAN has already reaped the previous snapshot's
    slices (rolling back would leave file groups with no base file) —
    the same detection the as_of read path uses. Returns the
    table-relative paths removed."""
    commits = _completed(table_path)
    if not commits:
        raise ValueError(f"hudi_rollback: no completed instants: {table_path}")
    latest = max(commits)
    if instant is not None and str(instant) != latest:
        raise ValueError(
            f"hudi_rollback: only the latest completed instant "
            f"({latest}) may roll back, got {instant!r}"
        )
    if len(commits) > 1:
        # raises loudly when cleaned slices make the previous snapshot
        # unservable (hudi_file_slices' expected-group check)
        hudi_file_slices(table_path, as_of=str(int(latest) - 1))
    meta = commits[latest]
    action = meta["__action"]
    doomed = sorted(
        w["path"]
        for _part, wstats in (meta.get("partitionToWriteStats") or {}).items()
        for w in wstats
    )
    hp = _hoodie_path(table_path)
    # Claim the rollback instant BEFORE the destructive phase, then
    # re-verify under it: a writer that COMPLETED between the
    # latest=max(commits) read above and here would turn this into a
    # rollback of a MIDDLE instant — exactly what the only-latest
    # guard forbids. Claims are per-instant exclusive creates, NOT a
    # table lock, so additionally refuse when the timeline shows a
    # not-yet-completed NEWER instant: that is a writer mid-commit
    # (its markers land before its data), and deleting the base files
    # its slices build on would corrupt the snapshot it is about to
    # complete. (A writer that has not yet written its .requested
    # marker remains invisible — like Hudi itself, true multi-writer
    # tables need an external lock provider; this check closes every
    # window a marker makes visible. Stale crash leftovers trip it
    # too: remove them, or wait, then re-run.)

    def _abort_markers(ri_: str) -> None:
        for name in (
            f"{ri_}.rollback.requested",
            f"{ri_}.rollback.inflight",
            f".{ri_}.claim",
        ):
            try:
                _fs.remove(os.path.join(hp, name))
            except FileNotFoundError:
                pass

    ri = _next_instant(table_path)
    for suffix in ("rollback.requested", "rollback.inflight"):
        _fs.write_text(os.path.join(hp, f"{ri}.{suffix}"), "{}")
    try:
        _claim_instant(table_path, ri, "rollback")
    except FileExistsError:
        _abort_markers(ri)
        raise RuntimeError(
            f"hudi_rollback: lost the claim race at instant {ri} "
            "(another writer owns it); re-run against the new table "
            "state"
        ) from None
    completed_now = _completed(table_path)
    if max(completed_now) != latest:
        _abort_markers(ri)
        raise RuntimeError(
            f"hudi_rollback: instant {latest} is no longer the latest "
            "completed instant (a writer committed concurrently); only "
            "the latest instant may roll back — re-run against the new "
            "table state"
        )
    inflight = [
        ts
        for ts, _a, state in hudi_timeline(table_path)
        if state != "completed"
        and ts not in completed_now
        and ts != ri
        and ts > latest
    ]
    if inflight:
        _abort_markers(ri)
        raise RuntimeError(
            f"hudi_rollback: in-flight writer markers at instant(s) "
            f"{sorted(set(inflight))} — a concurrent commit may build "
            "on the files this rollback would delete; wait for it (or "
            "remove stale crash leftovers) and re-run"
        )
    # Invalidate BEFORE deleting: drop the completed marker and record
    # the .rollback marker first, so a crash mid-deletion degrades to
    # invisible orphan files (the instant is already off the completed
    # timeline) rather than a completed instant whose files are
    # partially gone — a silently inconsistent mixed snapshot.
    _fs.remove(_completed_marker(hp, latest, action))
    _fs.write_text(
        os.path.join(hp, f"{ri}.rollback"),
        json.dumps(
            {"rolledBackInstant": latest, "action": action,
             "deleted": doomed}
        ),
    )
    removed: list[str] = []
    for path in doomed:
        try:
            _fs.remove(os.path.join(table_path, path))
            removed.append(path)
        except FileNotFoundError:
            pass
    return removed


def hudi_clean(table_path: str, dry_run: bool = False) -> list[str]:
    """CLEAN: physically delete files the LATEST snapshot does not
    serve — superseded base slices (older slices of rewritten or
    compacted file groups), every file of replacecommit-replaced
    groups, and MoR log files whose base slice is superseded. The
    retention twin of ``delta_vacuum`` / ``iceberg_remove_orphans``,
    applied on the explicit call rather than a clock. Time travel to
    cleaned instants then raises (their files are gone) — the standard
    retention trade, stated like ``delta_truncate_log``'s.

    Files of UNCOMMITTED instants are never touched: they belong to an
    in-flight writer (the commit-race loser already cleans its own).
    Completed timeline markers stay (planning metadata, kilobytes).
    A ``<instant>.clean`` marker records what was removed. Returns the
    table-relative paths removed (or that WOULD be, with ``dry_run``)."""
    commits = _completed(table_path)
    live = {
        path: (part, fid, instant)
        for part, fid, instant, path in hudi_file_slices(table_path)
    }
    live_keys = {(part, fid, base) for part, fid, base in live.values()}
    doomed: list[str] = []
    for part, fid, instant, path in _base_files(table_path):
        if instant not in commits:
            continue  # in-flight or raced: not ours to reap
        if path not in live:
            doomed.append(
                os.path.relpath(path, table_path).replace(os.sep, "/")
            )
    for (part, fid, base), entries in _log_files(table_path).items():
        if (part, fid, base) in live_keys:
            continue  # logs still serving the live slice
        for instant, path in entries:
            if instant == "":
                # HoodieLogFormat file: visibility is PER BLOCK, so
                # the filename gate that keeps this loop away from
                # our dialect's uncommitted logs does not apply — a
                # file carrying ANY block of a not-yet-completed
                # instant belongs to an in-flight writer and is not
                # ours to reap (r9 review; the in-flight-writer
                # protection this docstring promises)
                insts = {
                    b.get("header", {}).get("INSTANT_TIME")
                    for b in hudi_log.read_log_blocks(path)
                    if b["type"] != "CORRUPT_BLOCK"
                }
                if any(i not in commits for i in insts if i):
                    continue
            doomed.append(
                os.path.relpath(path, table_path).replace(os.sep, "/")
            )
    doomed.sort()
    if dry_run or not doomed:
        return doomed
    # claim an instant BEFORE deleting anything: losing the claim race
    # must never leave deletions recorded in no timeline marker (r9
    # review — the old order deleted first and let a raced claim
    # escape as a raw FileExistsError)
    hp = _hoodie_path(table_path)
    instant = _next_instant(table_path)
    while True:
        try:
            _claim_instant(table_path, instant, "clean")
            break
        except FileExistsError:
            instant = str(int(instant) + 1)
    for suffix in ("clean.requested", "clean.inflight"):
        _fs.write_text(os.path.join(hp, f"{instant}.{suffix}"), "{}")
    for rel in doomed:
        _fs.remove(os.path.join(table_path, rel))
    _fs.write_text(
        os.path.join(hp, f"{instant}.clean"),
        json.dumps({"deleted": doomed}),
    )
    return doomed
