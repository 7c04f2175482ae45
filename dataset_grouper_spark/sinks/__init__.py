"""Partitioned-dataset sinks — the reference's TFRecord write path,
re-expressed as governed Parquet layouts (SURVEY §7 step 3).

Reference (tfds_pipelines.py:25-78): pack each group into one
SequenceExample, write proto TFRecord shards. Our native layout keeps
rows relational and chooses between two physical layouts by group
cardinality:

- ``partitioned``: one ``group_id=<id>`` directory per group, named as
  Spark's ``partitionBy`` names it. Ideal when groups are few (<~10k):
  readers prune to exactly one group's files from directory metadata.
- ``bucketed``: for high cardinality (C4 has millions of domains — a
  directory per group is pathological at 100 TB). Each group lives in
  the ``bucket_id=<crc32 bucket>`` directory a reader recomputes from
  the group id; a bucket directory holds one or more files with
  disjoint group ranges, each group one contiguous run in exactly one
  file, and the file count follows the data rather than the bucket
  count.

Both layouts are written by one writer, :mod:`.bucket_writer`: a
``mapInArrow`` pass over rows partitioned on the directory column
(``group_id`` or ``bucket_id``) and sorted by it, ``group_id`` and the
order column within each task. It writes each task's directory runs as
pyarrow Parquet files and counts its group runs into its slice of the
sidecar group index (group_id -> row count, plus the layout
descriptor), so no op rescans its output. Every op writes into a stage
(``compat.fs.staging_dir``) that the driver swaps in once the job has
succeeded, so a failed op leaves the previous dataset. Every Spark read
of ``data/`` declares the directory column's type (:func:`read_data`):
"007" and "7" are two groups.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dataset_grouper_spark import keys
from dataset_grouper_spark.compat import fs as _cfs
from dataset_grouper_spark.functions import textstats
from dataset_grouper_spark.operators.packing import BYTES_LIMIT, cap_prefix

if TYPE_CHECKING:
    import pyarrow.dataset as pads

GROUP_INDEX_DIR = "_group_index"
DATA_DIR = "data"
BUCKET_COL = "bucket_id"


def _local_serving_path(path: str) -> str:
    """The partitioned/bucketed serving layouts stage rewrites in
    sibling dirs and SWAP them with directory renames — the same
    atomic-rename primitive Spark streaming checkpoints require.
    ``file://`` URIs resolve to their local path; rename-incapable
    backends (s3://, gs://) raise up front instead of failing halfway
    through a rename deep inside a rewrite. Keep serving layouts on a
    local/HDFS-style mount; the lakehouse formats (Delta/Iceberg/Hudi)
    are the object-store-native storage tier."""
    if not _cfs.is_uri(path):
        return path
    if path.startswith("file://"):
        from urllib.parse import urlparse

        return urlparse(path).path
    raise NotImplementedError(
        f"serving layout at {path!r}: backend has no atomic directory "
        "rename (the swap primitive) — use a local or HDFS-style path"
    )


def dir_column(num_buckets: int) -> str:
    """The layout's directory column: ``bucket_id`` for the bucketed
    layout, ``group_id`` for the partitioned one (``num_buckets`` 0, as
    in the index's layout descriptor)."""
    return BUCKET_COL if num_buckets else keys.GROUP_COL


def bucket_of(group_id: str | None, num_buckets: int) -> int | None:
    """Python twin of :func:`bucket_expr` (zlib.crc32 == Spark crc32);
    the NULL group's bucket is NULL."""
    import zlib

    if group_id is None:
        return None
    return zlib.crc32(group_id.encode()) % num_buckets


def bucket_expr(num_buckets: int) -> Column:
    """Deterministic bucket of a group id — engine-portable (crc32 of
    the utf-8 bytes, mod buckets), so ANY reader can recompute the
    bucket from the group id without Spark internals."""
    return F.pmod(F.crc32(F.encode(F.col(keys.GROUP_COL), "utf-8")), F.lit(num_buckets)).cast(
        "int"
    )


def _layout_sort(num_buckets: int, order_col: str | Column | None) -> list[str | Column]:
    """Sort columns for the layout writer, which cuts a file per
    directory run and an index row per group run."""
    cols = [BUCKET_COL, keys.GROUP_COL] if num_buckets else [keys.GROUP_COL]
    return cols + ([order_col] if order_col is not None else [])


def _keyed(df: DataFrame, key: Column, num_buckets: int) -> DataFrame:
    """``df`` with its string ``group_id``, plus ``bucket_id`` in the
    bucketed layout. In the partitioned layout NULL and "" share one
    directory, which reads back as NULL, so "" is NULL there: one group
    and one index row."""
    keyed = keys.with_group_key(df, key)
    if num_buckets:
        return keyed.withColumn(BUCKET_COL, bucket_expr(num_buckets))
    return keyed.withColumn(keys.GROUP_COL, F.nullif(keys.GROUP_COL, F.lit("")))


def _isin_null_safe(col: str, values: list) -> Column:
    """``col`` in ``values``, matching NULL too when ``values`` holds
    None: ``isin`` never matches a NULL key (the
    ``__HIVE_DEFAULT_PARTITION__`` group or bucket)."""
    hit = F.col(col).isin(sorted(v for v in values if v is not None))
    if None in values:
        hit = hit | F.col(col).isNull()
    return hit


def read_layout(path: str) -> tuple[str, int] | None:
    """``(layout, num_buckets)`` from the ``_group_index`` descriptor,
    read with pyarrow (no Spark job). None when there is no index dir,
    when the index predates the descriptor (no ``layout`` column) —
    both mean the legacy partitioned layout — or when the index has no
    rows (an empty dataset). Any other read error raises: a transient
    failure must not be taken for the legacy layout, which would
    disable bucket pruning."""
    import pyarrow.dataset as pads

    idx = f"{path}/{GROUP_INDEX_DIR}"
    if not _cfs.is_dir(idx):
        return None
    fs, root = _cfs.pyarrow_target(idx)
    index = pads.dataset(root, format="parquet", filesystem=fs)
    if "layout" not in index.schema.names:
        return None
    head = index.head(1, columns=["layout", "num_buckets"]).to_pylist()
    if not head:
        return None
    return head[0]["layout"], int(head[0]["num_buckets"])


def _require_layout(path: str, op: str, expected: str = "partitioned") -> None:
    """Refuse to run a partitioned-layout lifecycle op on a dataset
    written with another layout: appending group_id= dirs into a
    bucket_id= tree makes the dataset UNREADABLE (conflicting
    partition columns) and the rewritten index would clobber the
    layout descriptor, silently breaking bucket pruning. Missing/
    legacy index -> assume the legacy partitioned layout."""
    meta = read_layout(path)
    if meta is not None and meta[0] != expected:
        raise ValueError(
            f"{op} requires the '{expected}' layout; dataset at {path} "
            f"was written with layout='{meta[0]}' (use the "
            "bucketed-layout ops instead)"
        )


def _index_rows(path: str) -> list[tuple[str | None, int]]:
    """``(group_id, num_examples)`` rows of the ``_group_index`` under
    ``path``, read with pyarrow; none when there is no index."""
    import pyarrow as pa
    import pyarrow.dataset as pads

    if not _cfs.is_dir(f"{path}/{GROUP_INDEX_DIR}"):
        return []
    fs, root = _cfs.pyarrow_target(f"{path}/{GROUP_INDEX_DIR}")
    index = pads.dataset(root, format="parquet", filesystem=fs).to_table(
        columns=[keys.GROUP_COL, "num_examples"]
    )
    return list(
        zip(
            index[keys.GROUP_COL].cast(pa.string()).to_pylist(),
            index["num_examples"].to_pylist(),
        )
    )


def data_files(path: str, num_buckets: int) -> pads.Dataset:
    """The layout's data files as one pyarrow dataset, hive-partitioned
    on the directory column with its declared type (``bucket_id`` int32,
    ``group_id`` string)."""
    import pyarrow as pa
    import pyarrow.dataset as pads

    col = dir_column(num_buckets)
    field = pa.field(col, pa.int32() if num_buckets else pa.string())
    fs, root = _cfs.pyarrow_target(f"{path}/{DATA_DIR}")
    return pads.dataset(
        root,
        format="parquet",
        filesystem=fs,
        partitioning=pads.HivePartitioning(pa.schema([field])),
    )


def read_data(
    spark, path: str, num_buckets: int, files: pads.Dataset | None = None
) -> DataFrame:
    """``data/`` as one Spark relation, with the directory column
    declared (``bucket_id`` int, ``group_id`` string) rather than
    inferred, so a numeric-looking group id reads back as written. The
    data columns are the Spark schema stored in a footer of ``files``
    (:func:`data_files`), so the read runs no schema-inference job."""
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    from dataset_grouper_spark.sinks import bucket_writer

    if files is None:
        files = data_files(path, num_buckets)
    col = dir_column(num_buckets)
    fields = [f for f in bucket_writer.spark_schema(files.schema) if f.name != col]
    fields.append(StructField(col, IntegerType() if num_buckets else StringType()))
    return spark.read.schema(StructType(fields)).parquet(f"{path}/{DATA_DIR}")


def _fold_index(spark, stage: str, rows: list, num_buckets: int) -> None:
    """Replace the index slices staged under ``stage`` with one part
    holding their rows and ``rows``, summed per group."""
    from dataset_grouper_spark.sinks import bucket_writer

    totals: dict[str | None, int] = {}
    for g, n in [*rows, *_index_rows(stage)]:
        totals[g] = totals.get(g, 0) + n
    _cfs.rmtree(f"{stage}/{GROUP_INDEX_DIR}")
    bucket_writer.write_index(
        spark,
        f"{stage}/{GROUP_INDEX_DIR}/part-00000.parquet",
        list(totals),
        list(totals.values()),
        num_buckets,
    )


def _swap_index(path: str, new_index: str) -> None:
    _cfs.rmtree(f"{path}/{GROUP_INDEX_DIR}")
    _cfs.move(new_index, f"{path}/{GROUP_INDEX_DIR}")


def _replace_data(path: str, new_data: str) -> None:
    """Swap ``new_data`` in as ``data/`` by renaming the old one aside
    first: a crash at any point leaves ``data/`` or ``data_retiring/``
    intact, and :func:`vacuum_partitioned` restores the latter (a plain
    rmtree(data) -> move would leave the only copy in a directory
    vacuum deletes)."""
    data_path = f"{path}/{DATA_DIR}"
    retiring = f"{data_path}_retiring"
    _cfs.rmtree(retiring)
    if _cfs.is_dir(data_path):
        _cfs.move(data_path, retiring)
    _cfs.move(new_data, data_path)
    _cfs.rmtree(retiring)


def _rewrite(
    spark,
    path: str,
    out: DataFrame,
    num_buckets: int,
    drop: list | tuple | None = None,
    max_rows: int | None = None,
) -> list[str]:
    """Write ``out``, partitioned on the directory column and sorted by
    :func:`_layout_sort`, through the layout writer into a stage, then
    swap it in. Returns the staged data files, relative to ``data/``.

    With ``drop`` None, ``out`` is the whole dataset: it replaces
    ``data/`` and the index. Otherwise ``out`` holds the rows of the
    directories it touches: each staged directory replaces its old one,
    the directories of the ``drop`` values (directory column values a
    delete may have emptied) go when nothing was staged for them, and
    the index keeps the old rows of every other directory.

    ``max_rows`` caps the rows of a data file. It comes with a frame
    partitioned on (group, chunk), whose groups span tasks, so the
    writer's index slices are then summed per group."""
    from dataset_grouper_spark.sinks import bucket_writer

    def directory_of(group_id):
        unit = bucket_of(group_id, num_buckets) if num_buckets else group_id
        return bucket_writer.directory(num_buckets, unit)

    with _cfs.staging_dir(path, DATA_DIR) as stage:
        new_data, new_index = f"{stage}/{DATA_DIR}", f"{stage}/{GROUP_INDEX_DIR}"
        staged = [
            p[len(new_data) + 1 :]
            for p in bucket_writer.write(out, stage, num_buckets, max_rows)
            if p.startswith(new_data + "/")
        ]
        if drop is None:
            if not staged:
                # empty input: one empty footer with the post-layout
                # schema (directory column inline) and a zero-row index,
                # so an everything-filtered-out pipeline still yields a
                # loadable, listable, zero-group dataset
                bucket_writer.write_empty(spark, out.schema, f"{new_data}/part-00000.parquet")
                bucket_writer.write_index(
                    spark, f"{new_index}/part-00000.parquet", [], [], num_buckets
                )
            if max_rows is not None:
                _fold_index(spark, stage, [], num_buckets)
            _replace_data(path, new_data)
        else:
            dirs = {f.split("/")[0] for f in staged}
            gone = dirs | {bucket_writer.directory(num_buckets, v) for v in drop}
            kept = [(g, n) for g, n in _index_rows(path) if directory_of(g) not in gone]
            bucket_writer.write_index(
                spark,
                f"{new_index}/part-kept.parquet",
                [g for g, _ in kept],
                [n for _, n in kept],
                num_buckets,
            )
            for d in sorted(gone):
                _cfs.rmtree(f"{path}/{DATA_DIR}/{d}")
                if d in dirs:
                    _cfs.move(f"{new_data}/{d}", f"{path}/{DATA_DIR}/{d}")
        _swap_index(path, new_index)
    return staged


def append_partitioned(
    df: DataFrame,
    key: Column,
    path: str,
    order_col: str | Column | None = None,
) -> None:
    """Incrementally add rows to an existing partitioned dataset
    (directory layout): add the new rows' files under their group
    directories and MERGE their counts into the sidecar index.
    Existing data files are untouched and never overwritten (staged
    file names carry a token unique to the call), and the index update
    merges the writer's counts for the new rows into the old (tiny)
    index with pyarrow on the driver, so the whole operation is
    O(new data): appending an hour of events to a year of corpus never
    rescans the year. Every append adds at least one file per touched
    group, so periodically run :func:`compact_partitioned` to restore
    bounded file counts.

    One hash exchange on ``group_id`` and one writer job stage the new
    files; the driver then moves them into ``data/`` and swaps the
    merged index in last. A failed job leaves the dataset as it was.
    Without a prior index (a fresh path), the new rows, plus any rows
    already in ``data/``, are written as by :func:`write_partitioned`.
    """
    from dataset_grouper_spark.sinks import bucket_writer

    path = _local_serving_path(path)
    _require_layout(path, "append_partitioned")
    keyed = _keyed(df, key, 0)
    spark = keyed.sparkSession
    fresh = not _cfs.is_dir(f"{path}/{GROUP_INDEX_DIR}")
    if fresh and _cfs.is_dir(f"{path}/{DATA_DIR}"):
        keyed = read_data(spark, path, 0).unionByName(keyed, allowMissingColumns=True)
    out = keyed.repartition(keys.GROUP_COL).sortWithinPartitions(*_layout_sort(0, order_col))
    if fresh:
        _rewrite(spark, path, out, 0)
        return
    with _cfs.staging_dir(path, DATA_DIR) as stage:
        staged = bucket_writer.write(out, stage, 0)
        if not staged:
            return
        _fold_index(spark, stage, _index_rows(path), 0)
        new_data = f"{stage}/{DATA_DIR}/"
        for f in staged:
            if f.startswith(new_data):
                dst = f"{path}/{DATA_DIR}/{f[len(new_data):]}"
                _cfs.makedirs(_cfs.parent_dir(dst))
                _cfs.move(f, dst)
        _swap_index(path, f"{stage}/{GROUP_INDEX_DIR}")


def compact_partitioned(
    spark,
    path: str,
    target_rows_per_file: int = 1_000_000,
    order_col: str | None = None,
) -> dict:
    """Rewrite a ``partitioned``-layout dataset so every group holds
    ``ceil(rows / target_rows_per_file)`` right-sized files — the
    small-files remedy after many :func:`append_partitioned` rounds
    (each append adds >= 1 file per touched group; a year of hourly
    appends is ~9k files per group, and at 100 TB the NameNode/object
    listing and per-file open costs dominate the actual read).

    One writer job (after the row-number window's and the rewrite's
    exchanges): per-group contiguous file ranges come from a
    row-number window over ``order_col`` (arbitrary-but-valid order
    when None), so the rewrite both merges small files AND restores
    row-group stat locality. The rewrite is staged and then swapped in
    whole, with the index the writer counted, so a failure before the
    swap leaves the dataset untouched. Returns
    ``{"files_before", "files_after", "groups", "rows"}``.
    """
    from pyspark.sql import Window

    path = _local_serving_path(path)
    meta = read_layout(path)
    if meta is not None and meta[0] != "partitioned":
        raise ValueError(
            "compact_partitioned handles layout='partitioned'; the "
            "bucketed layout is already file-bounded by construction — "
            "rewrite it with write_partitioned(layout='bucketed')"
        )
    target = max(1, int(target_rows_per_file))
    rows = _index_rows(path)
    # a listing, not a data scan: counting files is the one question
    # the storage layer answers for free
    files_before = sum(
        1 for f in _cfs.walk_files(f"{path}/{DATA_DIR}") if f.endswith(".parquet")
    )
    # EXPLICIT rewrite width (r14): a bare repartition(cols) lets AQE
    # size the exchange by BYTES, which on a file-count-bound rewrite
    # collapses to one task writing every output file sequentially.
    # Write parallelism tracks the planned FILE count from the index,
    # capped by the session's shuffle width
    planned = sum(-(-n // target) for _, n in rows)
    width = max(1, min(planned, int(spark.conf.get("spark.sql.shuffle.partitions"))))
    ordc = F.col(order_col) if order_col else F.monotonically_increasing_id()
    w = Window.partitionBy(keys.GROUP_COL).orderBy(ordc)
    # _subfile spreads a giant group's rewrite over tasks, each chunk
    # whole in one task; the writer rolls a file every `target` rows,
    # so a task holding k full chunks and maybe the last partial one
    # writes exactly that many files, and every group lands exactly
    # ceil(rows / target) files
    out = (
        read_data(spark, path, 0)
        .withColumn(
            "_subfile",
            ((F.row_number().over(w) - F.lit(1)) / F.lit(target)).cast("int"),
        )
        .repartition(width, F.col(keys.GROUP_COL), F.col("_subfile"))
        .sortWithinPartitions(*_layout_sort(0, order_col))
        .drop("_subfile")
    )
    staged = _rewrite(spark, path, out, 0, max_rows=target)
    return {
        "files_before": files_before,
        "files_after": len(staged),
        "groups": len(rows),
        "rows": sum(n for _, n in rows),
    }


UPSERT_PRUNE_CAP = 10_000


def _upsert(
    spark,
    keyed_new: DataFrame,
    path: str,
    id_col: str,
    order_col: str | None,
    num_buckets: int,
) -> tuple[int, int]:
    """The upsert both layouts share: the touched units (bucket ids or
    group ids, the values of the directory column) are read from
    ``keyed_new``, and every touched directory is rewritten with its
    old rows minus the replaced ids plus the new rows. Returns
    ``(upserted rows, directories rewritten)``."""
    from pyspark.sql import Window

    unit = dir_column(num_buckets)
    if order_col is not None:
        w = Window.partitionBy(keys.GROUP_COL, id_col).orderBy(F.col(order_col).desc())
        keyed_new = (
            keyed_new.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
    keyed_new = keyed_new.persist()
    try:
        touched = [
            r[0]
            for r in keyed_new.select(unit).distinct().limit(UPSERT_PRUNE_CAP + 1).collect()
        ]
        if not touched:
            # empty batch (an hour with no events): a no-op, not a crash
            return 0, 0
        old = read_data(spark, path, num_buckets)
        # no index to merge into: rewrite every directory, which
        # rebuilds the index from the writer's counts
        whole = not _cfs.is_dir(f"{path}/{GROUP_INDEX_DIR}")
        if whole:
            old_touched = old
        elif len(touched) <= UPSERT_PRUNE_CAP:
            # NULL-safe: the NULL group's (or bucket's) directory is
            # __HIVE_DEFAULT_PARTITION__, rewritten like any other
            old_touched = old.filter(_isin_null_safe(unit, touched))
        else:  # beyond the prune cap: semi join, no collect
            new_units = keyed_new.select(F.col(unit).alias("_new_unit")).distinct()
            old_touched = old.join(
                new_units, old[unit].eqNullSafe(F.col("_new_unit")), "left_semi"
            )
        new_ids = keyed_new.select(
            F.col(keys.GROUP_COL).alias("_new_gid"), F.col(id_col).alias("_new_id")
        )
        survivors = old_touched.join(
            new_ids,
            old_touched[keys.GROUP_COL].eqNullSafe(F.col("_new_gid"))
            & (old_touched[id_col] == F.col("_new_id")),
            "left_anti",
        )
        merged = survivors.select(old.columns).unionByName(keyed_new.select(old.columns))
        # order_col may be a version column living only in df_new (used
        # for last-wins above): sort by it only when the stored schema
        # carries it
        sort = _layout_sort(num_buckets, order_col if order_col in merged.columns else None)
        out = merged.repartition(F.col(unit)).sortWithinPartitions(*sort)
        # every touched directory keeps >= 1 row, so the staged ones are
        # exactly the touched ones and the old index rows of all other
        # directories carry over, also past the prune cap
        staged = _rewrite(spark, path, out, num_buckets, drop=None if whole else ())
        return keyed_new.count(), len({f.split("/")[0] for f in staged})
    finally:
        keyed_new.unpersist()


def upsert_partitioned(
    spark,
    df_new: DataFrame,
    key: Column,
    path: str,
    id_col: str,
    order_col: str | None = None,
) -> dict:
    """Row-level upsert into a ``partitioned``-layout dataset with
    GROUP-DIRECTORY rewrite granularity — the MERGE a table format
    gives you, built from the layout's own pruning: rows in ``df_new``
    replace existing rows with the same ``id_col`` in the same group,
    new ids insert, and ONLY the group directories ``df_new`` touches
    are rewritten (untouched groups' files are never opened or moved —
    asserted by mtime in tests).

    Contract: ``id_col`` is unique within a group; a row whose group
    ASSIGNMENT changed must be handled as delete+insert by the caller
    (this op would otherwise leave the old group's copy in place).
    Duplicate ids inside ``df_new`` keep the highest ``order_col``
    (last-wins) when given, else are an error the within-batch window
    surfaces as nondeterminism — pass order_col.

    Scale shape: one distinct-groups probe (collect capped at
    ``UPSERT_PRUNE_CAP`` — beyond it the read falls back to a
    left-semi join: correct everywhere, partition-pruned when small),
    one anti-join of O(touched groups' rows) against the new ids, and
    one writer job that stages the touched groups' directories and
    counts their index rows; the new index adds the old rows of the
    untouched groups, read with pyarrow. A failure before the swap
    leaves the dataset untouched; a crash MID-swap can leave some
    groups updated and others not (each group dir is individually
    consistent). A table format seals that last gap with a
    metadata-pointer commit; on a filesystem layout the honest
    contract is per-group atomicity, whole-upsert resumability.
    """
    path = _local_serving_path(path)
    _require_layout(path, "upsert_partitioned")
    n_new, rewritten = _upsert(
        spark, _keyed(df_new, key, 0), path, id_col, order_col, 0
    )
    return {"upserted_rows": n_new, "groups_rewritten": rewritten}


def upsert_bucketed(
    spark,
    df_new: DataFrame,
    key: Column,
    path: str,
    id_col: str,
    order_col: str | None = None,
) -> dict:
    """MERGE for the HIGH-cardinality layout: same-id rows replaced,
    new ids inserted, with BUCKET-DIRECTORY rewrite granularity — the
    bucketed layout's whole point is that millions of groups collapse
    into ``num_buckets`` directories, so the upsert's touched-unit is
    a bucket (recomputable from the group id, so the probe is a cheap
    distinct over df_new; at most ``num_buckets`` of them, bounded by
    construction). It runs the same upsert as
    :func:`upsert_partitioned` with the bucket as the unit. Untouched
    bucket directories are never opened; rewritten buckets are
    re-sorted by (bucket, group, order), one file per bucket, and
    written by the layouts' one writer (:mod:`.bucket_writer`), which
    also counts the rewritten groups. The new index is those counts
    plus the old index rows whose bucket was not touched, read and
    filtered with pyarrow on the driver — no rescan of the written
    data. Buckets and the index swap in once the write has succeeded;
    a failed write leaves the dataset as it was.
    """
    path = _local_serving_path(path)
    meta = read_layout(path)
    if meta is None or meta[0] != "bucketed":
        raise ValueError(
            "upsert_bucketed requires layout='bucketed'; use "
            "upsert_partitioned for the directory-per-group layout"
        )
    n_new, rewritten = _upsert(
        spark, _keyed(df_new, key, meta[1]), path, id_col, order_col, meta[1]
    )
    return {"upserted_rows": n_new, "buckets_rewritten": rewritten}


def delete_partitioned(
    spark,
    path: str,
    condition: str,
    order_col: str | None = None,
) -> dict:
    """Row-level DELETE on a ``partitioned``-layout dataset with the
    same group-directory rewrite granularity as
    :func:`upsert_partitioned`: one scan finds the groups that contain
    matching rows (collect capped at ``UPSERT_PRUNE_CAP`` — beyond it
    every group rewrites, the honest fallback), only those directories
    are rewritten without the matching rows by one writer job into a
    stage, and the index merges the writer's counts with the old rows
    of untouched groups. A group whose rows are ALL deleted has its
    directory, named as the writer names it, removed outright. A
    failure before the swap leaves the dataset untouched.
    GDPR-style erasure ("delete user X everywhere") is this op with a
    key predicate; retention TTL is this op with a time predicate."""
    path = _local_serving_path(path)
    _require_layout(path, "delete_partitioned")
    df = read_data(spark, path, 0)
    cond = F.expr(condition)
    touched = [
        r[0]
        for r in df.filter(cond)
        .select(keys.GROUP_COL)
        .distinct()
        .limit(UPSERT_PRUNE_CAP + 1)
        .collect()
    ]
    if not touched:
        return {"deleted_rows": 0, "groups_rewritten": 0}
    within_cap = len(touched) <= UPSERT_PRUNE_CAP
    # without an index to merge into, every group rewrites, which
    # rebuilds the index from the writer's counts
    pruned = within_cap and _cfs.is_dir(f"{path}/{GROUP_INDEX_DIR}")
    scope = df.filter(_isin_null_safe(keys.GROUP_COL, touched)) if pruned else df
    # past the cap only the COUNT is needed; collecting every group id
    # would pull exactly the driver-memory load the cap exists to bound
    n_groups = len(touched) if within_cap else df.select(keys.GROUP_COL).distinct().count()
    n_del = scope.filter(cond).count()
    # SQL DELETE semantics: only predicate-TRUE rows go — a NULL
    # predicate keeps the row (~NULL is NULL and a bare filter(~cond)
    # would silently drop it, uncounted)
    keep = scope.filter(~F.coalesce(cond, F.lit(False)))
    sort = _layout_sort(0, order_col if order_col in keep.columns else None)
    out = keep.repartition(keys.GROUP_COL).sortWithinPartitions(*sort)
    _rewrite(spark, path, out, 0, drop=touched if pruned else None)
    return {"deleted_rows": n_del, "groups_rewritten": n_groups}


# the stage names of older versions' rewrites, which vacuum still
# removes
_TEMP_SUFFIXES = ("_compacting", "_upserting", "_deleting")


def vacuum_partitioned(path: str) -> dict:
    """Remove crash leftovers of the layout ops: a driver that dies
    between an op's writer job and its commit leaves its
    ``.data-<uuid>.staging`` directory, and older versions' rewrites
    could strand ``data_compacting``/``data_upserting``/
    ``data_deleting`` or ``_group_index_new``. Run this before
    retrying a failed rewrite. Returns the removed directory names.

    Crash recovery first: if ``data/`` is MISSING, the crash happened
    mid-swap and ``data_retiring`` (from the rename-aside swap) is the
    only copy — it is RESTORED to ``data/``, never deleted.  Only after
    data/ exists are leftovers removed; ``data/`` itself is never
    touched."""
    path = _local_serving_path(path)
    data_path = f"{path}/{DATA_DIR}"
    retiring = f"{data_path}_retiring"
    restored = None
    if not _cfs.is_dir(data_path) and _cfs.is_dir(retiring):
        _cfs.move(retiring, data_path)
        restored = f"{DATA_DIR}_retiring"
    removed = []
    candidates = [DATA_DIR + s for s in _TEMP_SUFFIXES]
    candidates += [f"{DATA_DIR}_retiring", f"{GROUP_INDEX_DIR}_new"]
    candidates += _cfs.leftover_staging_dirs(path, DATA_DIR)
    for name in candidates:
        # no data/ and nothing restored: a leftover may be the only
        # copy, so nothing is deleted
        if _cfs.is_dir(f"{path}/{name}") and _cfs.is_dir(data_path):
            _cfs.rmtree(f"{path}/{name}")
            removed.append(name)
    return {"removed": removed, "restored": restored}


def write_partitioned(
    df: DataFrame,
    key: Column,
    path: str,
    order_col: str | Column | None = None,
    limit: int | None = None,
    layout: str = "partitioned",
    num_buckets: int = 64,
    size_cols: list[str] | None = None,
) -> None:
    """Write a partitioned dataset (== tfds_to_tfrecords,
    tfds_pipelines.py:25-78), optionally byte-capped per group.

    ``layout='partitioned'`` -> directory per group (low cardinality);
    ``layout='bucketed'`` -> group-major sorted files + group index
    (high cardinality). Both write a ``_group_index`` summary so
    the loader lists groups without scanning data.

    The write range-partitions on the directory column and group_id
    ((bucket_id, group_id) or group_id) without a fixed count: its
    width is ``spark.sql.shuffle.partitions`` and AQE coalesces it to
    the data's size, so the writer tasks (and files per bucket) grow
    with the input, not with ``num_buckets``. The range bounds come
    from a sampling pass over the input: three jobs in all. Each task
    sorts by (directory column, group_id[, order_col]) and then, in one
    ``mapInArrow`` pass (:mod:`.bucket_writer`), writes one pyarrow
    Parquet file per directory run and its slice of ``_group_index``
    from the group runs; no group spans two files. The tasks write into
    a stage; the driver swaps its ``data/`` and ``_group_index`` in
    (the old ``data/`` renamed aside first), so a failed write leaves
    the previous dataset readable. A column type Arrow cannot carry
    raises ``TypeError`` before any job runs.
    """
    from dataset_grouper_spark.sinks import bucket_writer

    path = _local_serving_path(path)
    if layout not in ("partitioned", "bucketed"):
        raise ValueError(f"unknown layout: {layout}")
    num_buckets = num_buckets if layout == "bucketed" else 0
    keyed = _keyed(df, key, num_buckets)
    bucket_writer.arrow_schema(keyed.schema)
    if limit is not None:
        if order_col is None:
            raise ValueError("byte-capped write requires a stable order_col")
        keyed = cap_prefix(
            keyed, order_col, textstats.row_bytes_expr(df, size_cols), limit
        )
    out = keyed.repartitionByRange(*_layout_sort(num_buckets, None))
    out = out.sortWithinPartitions(*_layout_sort(num_buckets, order_col))
    _rewrite(keyed.sparkSession, path, out, num_buckets)
