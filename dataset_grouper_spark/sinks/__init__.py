"""Partitioned-dataset sinks — the reference's TFRecord write path,
re-expressed as governed Parquet layouts (SURVEY §7 step 3).

Reference (tfds_pipelines.py:25-78): pack each group into one
SequenceExample, write proto TFRecord shards. Our native layout keeps
rows relational and chooses between two physical layouts by group
cardinality:

- ``partitioned``: ``write.partitionBy(group_id)`` — one directory per
  group. Ideal when groups are few (<~10k): readers prune to exactly
  one group's files from directory metadata.
- ``bucketed``: for high cardinality (C4 has millions of domains — a
  directory per group is pathological at 100 TB). Rows are
  range-partitioned on (bucket_id, group_id) at the session's shuffle
  width, which AQE coalesces to the data's size, and sorted by
  (bucket_id, group_id[, ord]) within each task. One ``mapInArrow``
  pass (:mod:`.bucket_writer`) then writes each task's bucket runs as
  pyarrow Parquet files and counts its group runs into its slice of
  the sidecar group index (group_id -> row count, plus the layout
  descriptor), so the index needs no rescan. A bucket directory holds
  one or more files with disjoint group ranges: each group is one
  contiguous run in exactly one file, and the file count follows the
  data rather than the bucket count. The tasks write into a stage the
  driver swaps in, so a failed write leaves the previous dataset.

A ``partitionBy`` write's ``sortWithinPartitions`` must lead with the
partition columns: otherwise Spark's planned write adds its own sort on
them and the optimizer drops ours, so the files are not group-major.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dataset_grouper_spark import keys
from dataset_grouper_spark.compat import fs as _cfs
from dataset_grouper_spark.functions import textstats
from dataset_grouper_spark.operators.packing import BYTES_LIMIT, cap_prefix

GROUP_INDEX_DIR = "_group_index"
DATA_DIR = "data"
BUCKET_COL = "bucket_id"


def _local_serving_path(path: str) -> str:
    """The partitioned/bucketed serving layouts stage rewrites in
    sibling dirs and SWAP them with directory renames — the same
    atomic-rename primitive Spark streaming checkpoints require.
    ``file://`` URIs resolve to their local path; rename-incapable
    backends (s3://, gs://) raise up front instead of failing halfway
    through a shutil deep inside a rewrite. Keep serving layouts on a
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


def _bucketed_sort(order_col: str | Column | None) -> list[str | Column]:
    """Sort columns for a bucketed write: the writer cuts a file per
    bucket run and an index row per group run."""
    return [BUCKET_COL, keys.GROUP_COL] + ([order_col] if order_col is not None else [])


def _has_part_files(path: str) -> bool:
    """Whether a Parquet write left any ``part-`` file under ``path``.
    A zero-row ``partitionBy`` write leaves none, so the directory has
    no schema footer and Spark cannot read it."""
    return any(f.startswith("part-") for _, _, files in os.walk(path) for f in files)


def _isin_null_safe(col: str, values: list) -> Column:
    """``col`` in ``values``, matching NULL too when ``values`` holds
    None: ``isin`` never matches a NULL key (the
    ``__HIVE_DEFAULT_PARTITION__`` group or bucket)."""
    hit = F.col(col).isin(sorted(v for v in values if v is not None))
    if None in values:
        hit = hit | F.col(col).isNull()
    return hit


def _write_index(written: DataFrame, path: str) -> None:
    """The partitioned layout's sidecar group index (group listing +
    sizes + layout descriptor), computed from the written data in one
    pass."""
    written = written.withColumn(
        keys.GROUP_COL, F.col(keys.GROUP_COL).cast("string")
    )
    (
        written.groupBy(keys.GROUP_COL)
        .agg(F.count(F.lit(1)).alias("num_examples"))
        .withColumn("layout", F.lit("partitioned"))
        .withColumn("num_buckets", F.lit(0))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{path}/{GROUP_INDEX_DIR}")
    )


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


def append_partitioned(
    df: DataFrame,
    key: Column,
    path: str,
    order_col: str | Column | None = None,
) -> None:
    """Incrementally add rows to an existing partitioned dataset
    (directory layout): append the new rows under their group
    directories and MERGE their counts into the sidecar index.
    Existing data files are untouched and — since the index update
    joins the new batch's counts against the old (tiny) index frame —
    the whole operation is O(new data): appending an hour of events to
    a year of corpus never rescans the year. Every append adds at
    least one file per touched group, so periodically run
    :func:`compact_partitioned` to restore bounded file counts.
    """
    path = _local_serving_path(path)
    keyed = keys.with_group_key(df, key)
    _require_layout(path, "append_partitioned")
    data_path = f"{path}/{DATA_DIR}"
    out = keyed.repartition(keys.GROUP_COL)
    if order_col is not None:
        out = out.sortWithinPartitions(keys.GROUP_COL, order_col)
    out.write.mode("append").partitionBy(keys.GROUP_COL).parquet(data_path)
    spark = keyed.sparkSession
    new_counts = (
        keyed.withColumn(keys.GROUP_COL, F.col(keys.GROUP_COL).cast("string"))
        .groupBy(keys.GROUP_COL)
        .agg(F.count(F.lit(1)).alias("num_examples"))
    )
    if os.path.isdir(f"{path}/{GROUP_INDEX_DIR}"):
        old = spark.read.parquet(f"{path}/{GROUP_INDEX_DIR}").select(
            keys.GROUP_COL, "num_examples"
        )
        # union + groupBy, not a join: a NULL group key must merge with
        # its old index row (an equi-join never matches NULL = NULL)
        merged = (
            new_counts.unionByName(old)
            .groupBy(keys.GROUP_COL)
            .agg(F.sum("num_examples").alias("num_examples"))
        )
        # stage-and-swap: the merged frame READS the old index, so an
        # in-place overwrite would delete its own input
        tmp_idx = f"{path}/{GROUP_INDEX_DIR}_new"
        (
            merged.withColumn("layout", F.lit("partitioned"))
            .withColumn("num_buckets", F.lit(0))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(tmp_idx)
        )
        _swap_index(path, tmp_idx)
    else:
        # no prior index (a fresh dataset): full rebuild, leaving a
        # schema footer if even the data dir has no part file (a
        # zero-row first append; see write_partitioned)
        if not _has_part_files(data_path):
            keyed.limit(0).write.mode("overwrite").parquet(data_path)
        _write_index(spark.read.parquet(data_path), path)


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

    One distributed job: per-group contiguous file ranges come from a
    row-number window over ``order_col`` (arbitrary-but-valid order
    when None), so the rewrite both merges small files AND restores
    row-group stat locality. The rewrite lands in a sibling temp dir,
    then swaps in (delete + rename) — crash before the swap leaves the
    dataset untouched; production object stores would commit the swap
    via a metastore pointer instead. Returns
    ``{"files_before", "files_after", "groups", "rows"}``.
    """
    path = _local_serving_path(path)
    from pyspark.sql import Window

    data_path = f"{path}/{DATA_DIR}"
    meta = read_layout(path)
    if meta is not None and meta[0] != "partitioned":
        raise ValueError(
            "compact_partitioned handles layout='partitioned'; the "
            "bucketed layout is already file-bounded by construction — "
            "rewrite it with write_partitioned(layout='bucketed')"
        )
    idx_df = spark.read.parquet(f"{path}/{GROUP_INDEX_DIR}")
    df = spark.read.parquet(data_path).withColumn(
        keys.GROUP_COL, F.col(keys.GROUP_COL).cast("string")
    )
    # filesystem listing, not a data scan: counting files is the one
    # question the storage layer answers for free (object stores list;
    # this is what their manifest IS) — the old distinct(input_file_
    # name) job read every footer just to count names
    files_before = sum(
        1
        for _, _, fs in os.walk(data_path)
        for f in fs
        if f.endswith(".parquet")
    )
    ordc = F.col(order_col) if order_col else F.monotonically_increasing_id()
    w = Window.partitionBy(keys.GROUP_COL).orderBy(ordc)
    target = max(1, int(target_rows_per_file))
    # planned output-file count, from the maintained index (tiny agg;
    # compaction never moves rows between groups, so the index is
    # authoritative): every group lands exactly ceil(rows/target)
    # files — reused below as files_after
    plan = idx_df.agg(
        F.count(F.lit(1)).alias("ng"),
        F.sum("num_examples").alias("nr"),
        F.sum(F.ceil(F.col("num_examples") / F.lit(target))).alias("nf"),
    ).first()
    files_planned = int(plan.nf or 0)
    # EXPLICIT rewrite width (r14): a bare repartition(cols) lets AQE
    # size the exchange by BYTES, which on a file-count-bound rewrite
    # collapses to one task writing every output file sequentially
    # (measured: 1 task x 7.2s writing all 500 files at bench scale).
    # Write parallelism must track the FILE count: one task per
    # planned file, capped by the session's scale-derived shuffle
    # width (the 100 TB cap — at cluster scale AQE could never exceed
    # that width anyway, it only coalesces below it).
    width = max(
        1,
        min(
            files_planned or 1,
            int(df.sparkSession.conf.get("spark.sql.shuffle.partitions")),
        ),
    )
    out = (
        df.withColumn(
            "_subfile",
            ((F.row_number().over(w) - F.lit(1)) / F.lit(target)).cast(
                "int"
            ),
        )
        .repartition(width, F.col(keys.GROUP_COL), F.col("_subfile"))
        .drop("_subfile")
    )
    if order_col:
        out = out.sortWithinPartitions(keys.GROUP_COL, order_col)
    tmp_path = f"{path}/{DATA_DIR}_compacting"
    # _subfile parallelizes a giant group's rewrite across tasks;
    # maxRecordsPerFile enforces the per-file bound even when several
    # subfile chunks of one group hash into the same task (the writer
    # rolls files at the target, so files-per-group stays exactly
    # ceil(rows/target) either way)
    (
        out.write.mode("overwrite")
        .option("maxRecordsPerFile", target)
        .partitionBy(keys.GROUP_COL)
        .parquet(tmp_path)
    )
    _replace_data(path, tmp_path)
    # compaction moves rows between FILES, never between groups: the
    # sidecar index (group -> num_examples) is invariant, so it carries
    # over untouched — no post-rewrite data scan, no index rewrite (the
    # old code re-read every rewritten row just to recount what the
    # maintained index already says; r13). files_after comes from the
    # write contract itself, not a post-rewrite filesystem walk (r14:
    # a driver-side os.walk is O(files) single-threaded — millions of
    # entries at 100 TB): the repartition on (group, _subfile) keeps
    # each target-row chunk whole in one task and maxRecordsPerFile
    # rolls at the target, so every group lands exactly
    # ceil(rows / target) files — the `plan` agg above (pinned against
    # a physical walk in
    # tests/test_loader.py::test_compact_files_after_matches_walk).
    return {
        "files_before": files_before,
        "files_after": files_planned,
        "groups": int(plan.ng),
        "rows": int(plan.nr or 0),
    }


UPSERT_PRUNE_CAP = 10_000


def _stage_merged_index(
    spark, path: str, touched: list, tmp_data_path: str | None
) -> str:
    """Stage the post-rewrite index for a group-pruned op BEFORE the
    data swap: untouched groups keep their old index rows, touched
    groups take their counts from the staged rewrite directory (read
    lazily here, while its files still exist; fully-deleted groups
    simply don't appear). All distributed — no collect, no local
    frame (a LocalTableScan write costs ~4s of fixed overhead per
    call; measured in PERF.md). Returns the staged index path for the
    caller to swap in after the data swap."""
    old = spark.read.parquet(f"{path}/{GROUP_INDEX_DIR}").select(
        keys.GROUP_COL, "num_examples"
    )
    # NULL-safe: the NULL group's row (__HIVE_DEFAULT_PARTITION__
    # rows from a keyer that yields NULL) goes only when the NULL group
    # was touched; coalesce, because ~NULL would filter it every time
    kept = old.filter(
        ~F.coalesce(_isin_null_safe(keys.GROUP_COL, touched), F.lit(False))
    )
    if tmp_data_path is not None:
        staged = (
            spark.read.parquet(tmp_data_path)
            .withColumn(
                keys.GROUP_COL, F.col(keys.GROUP_COL).cast("string")
            )
            .groupBy(keys.GROUP_COL)
            .agg(F.count(F.lit(1)).alias("num_examples"))
        )
        merged = kept.unionByName(staged)
    else:  # every touched group fully deleted: nothing staged
        merged = kept
    tmp_idx = f"{path}/{GROUP_INDEX_DIR}_new"
    (
        merged.withColumn("layout", F.lit("partitioned"))
        .withColumn("num_buckets", F.lit(0))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(tmp_idx)
    )
    return tmp_idx


def _swap_index(path: str, tmp_idx: str) -> None:
    _cfs.rmtree(f"{path}/{GROUP_INDEX_DIR}")
    _cfs.move(tmp_idx, f"{path}/{GROUP_INDEX_DIR}")


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
    one anti-join of O(touched groups' rows) against the new ids, one
    partitioned write of the merged rows to a sibling dir, then a
    per-directory swap. Crash before the swap leaves the dataset
    untouched; a crash MID-swap can leave some groups updated and
    others not (each group dir is individually consistent — the
    sibling dir still holds the rest). A table format seals that last
    gap with a metadata-pointer commit; on a filesystem layout the
    honest contract is per-group atomicity, whole-upsert resumability.
    """
    path = _local_serving_path(path)
    import os
    import shutil

    from pyspark.sql import Window

    data_path = f"{path}/{DATA_DIR}"
    keyed_new = keys.with_group_key(df_new, key).withColumn(
        keys.GROUP_COL, F.col(keys.GROUP_COL).cast("string")
    )
    if order_col is not None:
        w = Window.partitionBy(keys.GROUP_COL, id_col).orderBy(
            F.col(order_col).desc()
        )
        keyed_new = (
            keyed_new.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
    keyed_new = keyed_new.persist()

    probe = (
        keyed_new.select(keys.GROUP_COL)
        .distinct()
        .limit(UPSERT_PRUNE_CAP + 1)
        .collect()
    )
    touched = [r[0] for r in probe]
    old = spark.read.parquet(data_path).withColumn(
        keys.GROUP_COL, F.col(keys.GROUP_COL).cast("string")
    )
    # NULL-safe throughout: NULL-key rows are one group (the
    # __HIVE_DEFAULT_PARTITION__ directory), rewritten like any other
    if len(touched) <= UPSERT_PRUNE_CAP:
        old_touched = old.filter(_isin_null_safe(keys.GROUP_COL, touched))
    else:  # beyond the prune cap: semi join, no collect
        new_gids = keyed_new.select(F.col(keys.GROUP_COL).alias("_new_gid"))
        old_touched = old.join(
            new_gids.distinct(),
            old[keys.GROUP_COL].eqNullSafe(F.col("_new_gid")),
            "left_semi",
        )
    cols = [keys.GROUP_COL] + [
        c for c in old.columns if c != keys.GROUP_COL
    ]
    new_ids = keyed_new.select(
        F.col(keys.GROUP_COL).alias("_new_gid"), F.col(id_col).alias("_new_id")
    )
    survivors = old_touched.join(
        new_ids,
        old_touched[keys.GROUP_COL].eqNullSafe(F.col("_new_gid"))
        & (old_touched[id_col] == F.col("_new_id")),
        "left_anti",
    )
    merged = survivors.select(cols).unionByName(keyed_new.select(cols))

    tmp_path = f"{path}/{DATA_DIR}_upserting"
    out = merged.repartition(keys.GROUP_COL)
    # order_col may be a version column living only in df_new (used for
    # last-wins above) — sort the rewrite only when the stored schema
    # carries it
    if order_col is not None and order_col in merged.columns:
        out = out.sortWithinPartitions(keys.GROUP_COL, order_col)
    (
        out.write.mode("overwrite")
        .partitionBy(keys.GROUP_COL)
        .parquet(tmp_path)
    )
    n_new = keyed_new.count()
    keyed_new.unpersist()
    # stage the merged index BEFORE the swap (it reads tmp's files)
    tmp_idx = None
    if len(touched) <= UPSERT_PRUNE_CAP and os.path.isdir(
        f"{path}/{GROUP_INDEX_DIR}"
    ):
        tmp_idx = _stage_merged_index(
            spark, path, touched, tmp_path if _has_part_files(tmp_path) else None
        )
    swapped = 0
    for entry in os.listdir(tmp_path):
        if not entry.startswith(f"{keys.GROUP_COL}="):
            continue
        dst = os.path.join(data_path, entry)
        if os.path.isdir(dst):
            shutil.rmtree(dst)
        shutil.move(os.path.join(tmp_path, entry), dst)
        swapped += 1
    shutil.rmtree(tmp_path)
    if tmp_idx is not None:
        _swap_index(path, tmp_idx)
    else:  # past the prune cap or no readable index: full rebuild
        _write_index(spark.read.parquet(data_path), path)
    return {"upserted_rows": n_new, "groups_rewritten": swapped}


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
    construction).  Untouched bucket directories are never opened;
    rewritten buckets are re-sorted by (bucket, group, order), one file
    per bucket, and written by the layout's one writer
    (:mod:`.bucket_writer`), which also counts the rewritten groups.
    The new index is those counts plus the old index rows whose bucket
    was not touched, read and filtered with pyarrow on the driver — no
    rescan of the written data. Buckets and the index swap in once the
    write has succeeded; a failed write leaves the dataset as it was.
    """
    path = _local_serving_path(path)
    import pyarrow as pa
    import pyarrow.dataset as pads
    from pyspark.sql import Window

    from dataset_grouper_spark.sinks import bucket_writer

    data_path = f"{path}/{DATA_DIR}"
    meta = read_layout(path)
    if meta is None or meta[0] != "bucketed":
        raise ValueError(
            "upsert_bucketed requires layout='bucketed'; use "
            "upsert_partitioned for the directory-per-group layout"
        )
    num_buckets = meta[1]
    keyed_new = keys.with_group_key(df_new, key).withColumn(
        keys.GROUP_COL, F.col(keys.GROUP_COL).cast("string")
    )
    if order_col is not None:
        w = Window.partitionBy(keys.GROUP_COL, id_col).orderBy(
            F.col(order_col).desc()
        )
        keyed_new = (
            keyed_new.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
    keyed_new = keyed_new.withColumn(
        BUCKET_COL, bucket_expr(num_buckets)
    ).persist()
    touched = [
        r[0] for r in keyed_new.select(BUCKET_COL).distinct().collect()
    ]  # bounded by num_buckets
    if not touched:
        # empty batch (an hour with no events): a no-op, not a crash —
        # repartition(0, ...) raises on zero partitions
        keyed_new.unpersist()
        return {"upserted_rows": 0, "buckets_rewritten": 0}
    # NULL-key rows have a NULL bucket (the __HIVE_DEFAULT_PARTITION__
    # directory), which isin() never matches: select it with IS NULL
    old = spark.read.parquet(data_path).withColumn(
        keys.GROUP_COL, F.col(keys.GROUP_COL).cast("string")
    )
    old_touched = old.filter(_isin_null_safe(BUCKET_COL, touched))
    cols = [c for c in old.columns]
    # NULL-safe on the group: a NULL-key row replaces its old twin too
    new_ids = keyed_new.select(
        F.col(keys.GROUP_COL).alias("_new_gid"), F.col(id_col).alias("_new_id")
    )
    survivors = old_touched.join(
        new_ids,
        old_touched[keys.GROUP_COL].eqNullSafe(F.col("_new_gid"))
        & (old_touched[id_col] == F.col("_new_id")),
        "left_anti",
    )
    merged = survivors.select(cols).unionByName(keyed_new.select(cols))
    out = merged.repartition(len(touched), F.col(BUCKET_COL))
    out = out.sortWithinPartitions(*_bucketed_sort(order_col))

    with _cfs.staging_dir(path, DATA_DIR) as stage:
        bucket_writer.write(out, stage, num_buckets)
        n_new = keyed_new.count()
        keyed_new.unpersist()
        # the old index rows of untouched buckets (the NULL group's row
        # goes only when its NULL bucket was touched)
        fs, root = _cfs.pyarrow_target(f"{path}/{GROUP_INDEX_DIR}")
        old_idx = pads.dataset(root, format="parquet", filesystem=fs).to_table(
            columns=[keys.GROUP_COL, "num_examples"]
        )
        hit = set(touched)
        kept = [
            (g, n)
            for g, n in zip(
                old_idx[keys.GROUP_COL].cast(pa.string()).to_pylist(),
                old_idx["num_examples"].to_pylist(),
            )
            if bucket_of(g, num_buckets) not in hit
        ]
        bucket_writer.write_index(
            spark,
            f"{stage}/{GROUP_INDEX_DIR}/part-kept.parquet",
            [g for g, _ in kept],
            [n for _, n in kept],
            num_buckets,
        )
        buckets = _cfs.listdir(f"{stage}/{DATA_DIR}")
        for entry in buckets:
            dst = f"{data_path}/{entry}"
            _cfs.rmtree(dst)
            _cfs.move(f"{stage}/{DATA_DIR}/{entry}", dst)
        _swap_index(path, f"{stage}/{GROUP_INDEX_DIR}")
    return {"upserted_rows": n_new, "buckets_rewritten": len(buckets)}


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
    are rewritten without the matching rows, and the sidecar index is
    rebuilt.  A group whose rows are ALL deleted has its directory
    removed outright.  GDPR-style erasure ("delete user X everywhere")
    is this op with a key predicate; retention TTL is this op with a
    time predicate."""
    path = _local_serving_path(path)
    import os
    import shutil

    data_path = f"{path}/{DATA_DIR}"
    _require_layout(path, "delete_partitioned")
    df = spark.read.parquet(data_path).withColumn(
        keys.GROUP_COL, F.col(keys.GROUP_COL).cast("string")
    )
    cond = F.expr(condition)
    probe = (
        df.filter(cond)
        .select(keys.GROUP_COL)
        .distinct()
        .limit(UPSERT_PRUNE_CAP + 1)
        .collect()
    )
    touched = [r[0] for r in probe]
    if not touched:
        return {"deleted_rows": 0, "groups_rewritten": 0}
    beyond_cap = len(touched) > UPSERT_PRUNE_CAP
    if not beyond_cap:
        scope = df.filter(_isin_null_safe(keys.GROUP_COL, touched))
    else:
        scope = df  # full rewrite — stated in the docstring
        # only the COUNT is needed past the cap; collecting every
        # group id would pull exactly the driver-memory load the cap
        # exists to bound
        n_groups = df.select(keys.GROUP_COL).distinct().count()
        touched = None
    n_del = scope.filter(cond).count()
    # SQL DELETE semantics: only predicate-TRUE rows go — a NULL
    # predicate keeps the row (~NULL is NULL and a bare filter(~cond)
    # would silently drop it, uncounted)
    keep = scope.filter(~F.coalesce(cond, F.lit(False)))
    # real directory paths per touched group (from the files
    # themselves — no partition-value escaping logic to get wrong).
    # input_file_name() returns URI-ENCODED paths: a group name with a
    # space/%/non-ASCII yields '.../group_id=a%20b/...', which never
    # matches the on-disk name — the full-group delete would silently
    # leave the directory (and its rows) behind. Decode, and strip
    # only a LEADING scheme (replace('file:','') would eat interior
    # occurrences).
    from urllib.parse import unquote, urlparse

    def _local_dir(uri: str) -> str:
        p = urlparse(uri)
        raw = p.path if p.scheme else uri
        return os.path.dirname(unquote(raw))

    # dirs are only needed for groups whose EVERY row is deleted
    # (their directory must be removed outright) — a file-bounded set
    # even on the beyond-cap path, where collecting (group, file) for
    # the whole dataset would OOM the driver
    emptied = (
        scope.groupBy(F.col(keys.GROUP_COL).alias("_g"))
        .agg(
            F.sum(
                F.when(~F.coalesce(cond, F.lit(False)), 1).otherwise(0)
            ).alias("_kept")
        )
        .filter(F.col("_kept") == 0)
        .select(F.col("_g").alias("_e"))
    )
    group_dirs: dict[str, set] = {}
    for r in (
        scope.select(
            F.col(keys.GROUP_COL).alias("_g"),
            F.input_file_name().alias("_f"),
        )
        .join(emptied, F.col("_g").eqNullSafe(F.col("_e")), "left_semi")
        .distinct()
        .collect()
    ):
        group_dirs.setdefault(r["_g"], set()).add(_local_dir(r["_f"]))

    tmp_path = f"{path}/{DATA_DIR}_deleting"
    out = keep.repartition(keys.GROUP_COL)
    if order_col is not None and order_col in keep.columns:
        out = out.sortWithinPartitions(keys.GROUP_COL, order_col)
    (
        out.write.mode("overwrite")
        .partitionBy(keys.GROUP_COL)
        .parquet(tmp_path)
    )
    # stage the merged index BEFORE the swap (it reads tmp's files);
    # tmp holds no part file when every row of every touched group
    # matched
    tmp_idx = None
    if not beyond_cap and os.path.isdir(f"{path}/{GROUP_INDEX_DIR}"):
        tmp_idx = _stage_merged_index(
            spark, path, touched, tmp_path if _has_part_files(tmp_path) else None
        )
    rewritten = set()
    if os.path.isdir(tmp_path):
        for entry in os.listdir(tmp_path):
            if not entry.startswith(f"{keys.GROUP_COL}="):
                continue
            dst = os.path.join(data_path, entry)
            if os.path.isdir(dst):
                shutil.rmtree(dst)
            shutil.move(os.path.join(tmp_path, entry), dst)
            rewritten.add(os.path.realpath(dst))
        shutil.rmtree(tmp_path)
    # groups whose every row matched: nothing came back — remove their
    # recorded directories (realpath on both sides: input_file_name
    # yields absolute URIs, the caller's path may be relative)
    for dirs in group_dirs.values():
        for d in dirs:
            d = os.path.realpath(d)
            if d not in rewritten and os.path.isdir(d):
                shutil.rmtree(d)
    if tmp_idx is not None:
        _swap_index(path, tmp_idx)
    else:  # past the prune cap or no readable index: full rebuild
        _write_index(spark.read.parquet(data_path), path)
    return {
        "deleted_rows": n_del,
        "groups_rewritten": n_groups if beyond_cap else len(touched),
    }


_TEMP_SUFFIXES = ("_compacting", "_upserting", "_deleting")


def vacuum_partitioned(path: str) -> dict:
    """Remove crash leftovers from the rewrite ops: each of
    compact/upsert/delete stages its rewrite in a sibling temp dir and
    swaps at the end — a crash mid-job can strand
    ``data_compacting``/``data_upserting``/``data_deleting``, and a
    driver that dies between a bucketed write's job and its commit
    leaves its ``.data-<uuid>.staging`` directory.  Run this before
    retrying a failed rewrite.  Returns the removed directory names.

    Crash recovery first: if ``data/`` is MISSING, the crash happened
    mid-swap and the surviving sibling (``data_retiring`` from the
    rename-aside swap, or a fully-written temp) is the only copy
    — it is RESTORED to ``data/``, never deleted.  Only after data/
    exists are leftovers removed; ``data/`` itself is never touched."""
    path = _local_serving_path(path)
    import os
    import shutil

    data_path = os.path.join(path, DATA_DIR)
    restored = None
    if not os.path.isdir(data_path):
        retiring = data_path + "_retiring"
        if os.path.isdir(retiring):
            shutil.move(retiring, data_path)
            restored = os.path.basename(retiring)
    removed = []
    candidates = [DATA_DIR + s for s in _TEMP_SUFFIXES]
    candidates.append(DATA_DIR + "_retiring")
    candidates.append(GROUP_INDEX_DIR + "_new")  # append's index stage
    # the bucketed writer's stages (compat.fs.staging_dir(path, DATA_DIR))
    candidates += _cfs.leftover_staging_dirs(path, DATA_DIR)
    for name in candidates:
        d = os.path.join(path, name)
        if os.path.isdir(d):
            if not os.path.isdir(data_path):
                # no data/ and nothing restored: this temp may be the
                # only copy — refuse to delete it
                continue
            shutil.rmtree(d)
            removed.append(os.path.basename(d))
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

    The bucketed write range-partitions on (bucket_id, group_id)
    without a fixed count: its width is ``spark.sql.shuffle.partitions``
    and AQE coalesces it to the data's size, so the writer tasks (and
    files per bucket) grow with the input, not with ``num_buckets``.
    The range bounds come from a sampling pass over the input. Each
    task sorts by (bucket_id, group_id[, order_col]) and then, in one
    ``mapInArrow`` pass (:mod:`.bucket_writer`), writes one pyarrow
    Parquet file per bucket run and its slice of ``_group_index`` from
    the group runs; a bucket directory holds one or more files with
    disjoint group ranges, and no group spans two files. The tasks
    write into a stage; the driver swaps its ``data/`` and
    ``_group_index`` in (the old ``data/`` renamed aside first), so a
    failed write leaves the previous dataset readable. A column type
    Arrow cannot carry raises ``TypeError`` before any job runs.
    """
    path = _local_serving_path(path)
    keyed = keys.with_group_key(df, key)
    if layout == "bucketed":
        from dataset_grouper_spark.sinks import bucket_writer

        bucket_writer.arrow_schema(keyed.schema)
    elif layout != "partitioned":
        raise ValueError(f"unknown layout: {layout}")
    if limit is not None:
        if order_col is None:
            raise ValueError("byte-capped write requires a stable order_col")
        keyed = cap_prefix(
            keyed, order_col, textstats.row_bytes_expr(df, size_cols), limit
        )

    if layout == "bucketed":
        # Explicit computed bucket column, written as a partition dir:
        # millions of groups collapse into `num_buckets` directories,
        # and a single-group read prunes to exactly one directory
        # (bucket is recomputable from the group id) and then to the
        # group's contiguous sorted run via parquet row-group stats on
        # the sorted group_id. Bounded listing + exact pruning at any
        # cardinality.
        out = keyed.withColumn(BUCKET_COL, bucket_expr(num_buckets))
        out = out.repartitionByRange(F.col(BUCKET_COL), F.col(keys.GROUP_COL))
        out = out.sortWithinPartitions(*_bucketed_sort(order_col))
        with _cfs.staging_dir(path, DATA_DIR) as stage:
            if not bucket_writer.write(out, stage, num_buckets):
                # empty input: one empty footer with the post-layout
                # schema (bucket_id inline) and a zero-row index, so an
                # everything-filtered-out pipeline still yields a
                # loadable, listable, zero-group dataset
                spark = keyed.sparkSession
                bucket_writer.write_empty(
                    spark, out.schema, f"{stage}/{DATA_DIR}/part-00000.parquet"
                )
                bucket_writer.write_index(
                    spark, f"{stage}/{GROUP_INDEX_DIR}/part-00000.parquet",
                    [], [], num_buckets,
                )
            _replace_data(path, f"{stage}/{DATA_DIR}")
            _swap_index(path, f"{stage}/{GROUP_INDEX_DIR}")
        return

    data_path = f"{path}/{DATA_DIR}"
    (
        keyed.repartition(keys.GROUP_COL)
        .write.mode("overwrite")
        .partitionBy(keys.GROUP_COL)
        .parquet(data_path)
    )
    if not _has_part_files(data_path):
        # Empty input: a partitionBy write of zero rows leaves NO part
        # files (no schema footer), making the dataset unreadable. Leave
        # one empty footer file with the post-layout schema (partition
        # columns inline) so an everything-filtered-out pipeline still
        # yields a loadable, listable, zero-group dataset.
        keyed.limit(0).write.mode("overwrite").parquet(data_path)

    # Sidecar index: group listing + sizes, computed from the written
    # data in one pass. Readers (loader.py) list groups here instead of
    # scanning the dataset (the reference must scan all shards to find
    # a group — data_loaders.py:98-100; SURVEY §4).
    # The layout descriptor rides along as literal columns — one
    # sidecar write, no separate metadata job.
    _write_index(keyed.sparkSession.read.parquet(data_path), path)
