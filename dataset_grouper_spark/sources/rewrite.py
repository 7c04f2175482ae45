"""Shared bin rewrite under Delta OPTIMIZE and Iceberg
``rewrite_data_files``.

Both compactions plan bins of data files, rewrite every bin's rows,
and commit the new files in place of the old ones. Only the planning
rules, the delete scan and the commit differ per format; this module
owns the rest, once, and never branches on which format called it:

- :func:`norm_path` / :func:`norm_path_py`: the path key every
  ``__fp`` join uses (a Column form and its Python twin)
- :func:`file_scan`: a schema-pinned scan tagged with ``__fp`` /
  ``__pos``
- :func:`pack_bins`: the greedy per-partition packer
- :func:`rewrite_bins`: every bin written in ONE Spark job into a
  stage, bin-pack or z-order, with row-id inheritance

Scale shape: planning is driver-side metadata; data moves through one
scan of the binned files, tagged with its bin by a broadcast
``__fp -> __bin`` map (a literal when there is one bin and no row ids),
one exchange and one ``partitionBy("__bin")`` write. The job count does
not grow with the number of bins or partitions.
"""

from __future__ import annotations

import glob
import os
import re
import shutil
import tempfile
from contextlib import contextmanager
from typing import Callable, Iterable, Iterator, TypeVar

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from dataset_grouper_spark.localrel import local_frame

T = TypeVar("T")

# a URI scheme and its slashes, or the empty prefix of a relative path:
# both become one "/" so ``file:/a``, ``file:///a``, ``hdfs://nn/a`` and
# ``/a`` key as ``/a``, ``/a``, ``/nn/a`` and ``/a``. Java and Python
# regexes read this pattern the same way.
_PATH_PREFIX = r"^(?:[a-zA-Z][a-zA-Z0-9+.\-]*:/+|(?!/))"
_PATH_PREFIX_RE = re.compile(_PATH_PREFIX)

# z-order grid resolution per dimension
_ZORDER_BITS = 8


def norm_path(c: Column) -> Column:
    """Scheme-insensitive path key of a Column (``_metadata.file_path``
    is a URI; logs and manifests carry plain or URI paths)."""
    return F.regexp_replace(c, _PATH_PREFIX, "/")


def norm_path_py(p: str) -> str:
    """Python twin of :func:`norm_path`: every join key built on the
    driver or in a Python worker goes through it."""
    return _PATH_PREFIX_RE.sub("/", p, count=1)


def file_scan(spark: SparkSession, schema, paths: list[str]) -> DataFrame:
    """``paths`` read under ``schema`` (a StructType or DDL string),
    each row tagged with its file's key ``__fp`` and its row index
    ``__pos`` (the hidden ``_metadata`` struct is only addressable on
    the raw scan, so delete anti-joins and row ids compose on these)."""
    return (
        spark.read.schema(schema)
        .parquet(*paths)
        .withColumns(
            {
                "__fp": norm_path(F.col("_metadata.file_path")),
                "__pos": F.col("_metadata.row_index"),
            }
        )
    )


def pack_bins(
    groups: Iterable[list[T]], size: Callable[[T], int], target_file_bytes: int
) -> list[list[T]]:
    """Greedy deterministic bin-pack: each group (one partition's
    candidate files, in the caller's order) is cut into bins, a bin
    closing when the next file would push it past
    ``target_file_bytes``. Files of different groups never share a
    bin, because each output file carries one partition."""
    bins: list[list[T]] = []
    for members in groups:
        cur: list[T] = []
        cur_bytes = 0
        for f in members:
            n = size(f)
            if cur and cur_bytes + n > target_file_bytes:
                bins.append(cur)
                cur, cur_bytes = [], 0
            cur.append(f)
            cur_bytes += n
        if cur:
            bins.append(cur)
    return bins


def _zorder(
    tagged: DataFrame, cols: list[str], zorder_by: tuple[str, str], n_out: int
) -> DataFrame:
    """Rows clustered along the Morton curve of two numeric columns,
    each row gridded against its OWN bin's envelope: one
    ``groupBy("__bin")`` bounds aggregate joined back broadcast, then
    one range exchange on ``(__bin, __z)``."""
    from dataset_grouper_spark.sinks.zorder import (
        interleave_bits,
        to_grid_cols,
    )

    ca, cb = zorder_by
    bounds = tagged.groupBy("__bin").agg(
        F.min(F.col(ca).cast("double")).alias("__alo"),
        F.max(F.col(ca).cast("double")).alias("__ahi"),
        F.min(F.col(cb).cast("double")).alias("__blo"),
        F.max(F.col(cb).cast("double")).alias("__bhi"),
    )

    def grid(c: str, lo: str, hi: str) -> Column:
        return to_grid_cols(
            F.col(c),
            F.coalesce(F.col(lo), F.lit(0.0)),
            F.coalesce(F.col(hi), F.lit(0.0)),
            _ZORDER_BITS,
        )

    z = interleave_bits(
        grid(ca, "__alo", "__ahi"), grid(cb, "__blo", "__bhi"), _ZORDER_BITS
    )
    return (
        tagged.join(F.broadcast(bounds), "__bin")
        .withColumn("__z", z)
        .select(*cols, "__bin", "__z")
        .repartitionByRange(n_out, "__bin", "__z")
        .sortWithinPartitions("__bin", "__z")
        .drop("__z")
    )


@contextmanager
def rewrite_bins(
    spark: SparkSession,
    scan: DataFrame,
    bins: list[list[tuple[str, int]]],
    target_file_bytes: int,
    zorder_by: tuple[str, str] | None = None,
    row_id_bases: dict[str, int | None] | None = None,
) -> Iterator[list[list[str]]]:
    """Write every bin's rows in one Spark job into a stage; yield each
    bin's staged non-empty Parquet files, in bin order.

    ``bins`` holds ``(absolute path, size in bytes)`` per data file;
    ``scan`` reads exactly those files with deletes applied and carries
    the :func:`file_scan` tags. Every column but the tags is written.
    Bin-pack writes one file per bin. ``zorder_by`` instead clusters
    each bin along the Morton curve of two columns into
    ``ceil(bin bytes / target_file_bytes)`` range partitions.
    ``row_id_bases`` (path -> first row id, None for files that carry
    their own) resolves ``_row_id = coalesce(_row_id, base + __pos)``
    before the rewrite loses file and ordinal identity.

    The caller moves the files it keeps out of the stage inside the
    ``with`` block; the stage is removed on exit, also when the job or
    the caller's commit fails."""
    import pyarrow.parquet as pq

    cols = [c for c in scan.columns if c not in ("__fp", "__pos")]
    if len(bins) == 1 and row_id_bases is None:
        tagged = scan.withColumn("__bin", F.lit(0))
    else:
        rows = [
            (norm_path_py(p), i)
            + ((row_id_bases.get(p),) if row_id_bases is not None else ())
            for i, b in enumerate(bins)
            for p, _size in b
        ]
        ddl = "`__fp` string, `__bin` int"
        if row_id_bases is not None:
            ddl += ", `__base` long"
        tagged = scan.join(F.broadcast(local_frame(spark, rows, ddl)), "__fp")
        if row_id_bases is not None:
            tagged = tagged.withColumn(
                "_row_id",
                F.coalesce(F.col("_row_id"), F.col("__base") + F.col("__pos")),
            )
    tagged = tagged.select(*cols, "__bin")
    if zorder_by is None:
        out = tagged.repartition(len(bins), "__bin")
    else:
        n_out = sum(
            max(1, -(-sum(s for _p, s in b) // target_file_bytes)) for b in bins
        )
        out = _zorder(tagged, cols, zorder_by, n_out)
    stage = tempfile.mkdtemp(prefix="_rewrite_stage_")
    try:
        out.write.mode("overwrite").partitionBy("__bin").parquet(stage)
        yield [
            [
                f
                for f in sorted(
                    glob.glob(os.path.join(stage, f"__bin={i}", "part-*.parquet"))
                )
                if pq.ParquetFile(f).metadata.num_rows
            ]
            for i in range(len(bins))
        ]
    finally:
        shutil.rmtree(stage, ignore_errors=True)
