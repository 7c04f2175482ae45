"""TFRecord file framing — pure Python, no TF dependency.

Public on-disk format (tensorflow/core/lib/io/record_writer.h):

    uint64 length (LE) | uint32 masked_crc32c(length) |
    data[length]       | uint32 masked_crc32c(data)

CRC32C is the Castagnoli CRC (reflected poly 0x82F63B78); the mask is
((crc >> 15) | (crc << 17)) + 0xa282ead8 mod 2^32. This gives
byte-compatible shards with the reference's WriteToTFRecord output
(tfds_pipelines.py:67-76), shard-named ``prefix-SSSSS-of-NNNNN[suffix]``.
"""

from __future__ import annotations

import os
import struct
from collections.abc import Callable, Iterable, Iterator

from pyspark.sql import Column, DataFrame

_CRC_TABLE: list[int] = []


def _build_table() -> None:
    poly = 0x82F63B78
    for i in range(256):
        crc = i
        for _ in range(8):
            crc = (crc >> 1) ^ poly if crc & 1 else crc >> 1
        _CRC_TABLE.append(crc)


_build_table()


def _crc32c_py(data: bytes, state: int = 0xFFFFFFFF) -> int:
    """Raw byte-at-a-time register update (no final xor)."""
    crc = state
    for b in data:
        crc = _CRC_TABLE[(crc ^ b) & 0xFF] ^ (crc >> 8)
    return crc


# ---- numpy-vectorized CRC for large buffers --------------------------
# The CRC register update for a zero byte, s' = (s >> 8) ^ T[s & 0xFF],
# is linear over GF(2), so "advance by n zero bytes" is a 32x32 bit
# matrix Z^n (stored as 32 uint32 columns) and
#   raw(s, A || B) = Z^{|B|}(raw(s, A)) ^ raw(0, B).
# A large buffer is split into K equal chunks whose raw CRCs are
# computed in lockstep (one numpy table-lookup step per chunk byte,
# vectorized K-wide), then tree-combined with precomputed Z operators —
# the same combine algebra as zlib's crc32_combine, for the Castagnoli
# polynomial. ~10x over the pure-Python loop on MB-scale records.

import numpy as np

_TABLE_NP = np.array(_CRC_TABLE, dtype=np.uint32)


def _apply_op(op: np.ndarray, s: int) -> int:
    r = 0
    j = 0
    while s:
        if s & 1:
            r ^= int(op[j])
        s >>= 1
        j += 1
    return r


def _square_op(op: np.ndarray) -> np.ndarray:
    return np.array([_apply_op(op, int(op[j])) for j in range(32)], dtype=np.uint32)


def _z1_op() -> np.ndarray:
    cols = []
    for j in range(32):
        s = 1 << j
        cols.append(_CRC_TABLE[s & 0xFF] ^ (s >> 8))
    return np.array(cols, dtype=np.uint32)


_OP_CACHE: dict[int, np.ndarray] = {}


def _zero_advance_op(n_bytes: int) -> np.ndarray:
    """Z^n operator (advance register by n zero bytes), cached."""
    if n_bytes in _OP_CACHE:
        return _OP_CACHE[n_bytes]
    op = None
    sq = _OP_CACHE.get(1)
    if sq is None:
        sq = _z1_op()
        _OP_CACHE[1] = sq
    n = n_bytes
    while n:
        if n & 1:
            op = sq if op is None else np.array(
                [_apply_op(sq, int(op[j])) for j in range(32)], dtype=np.uint32
            )
        n >>= 1
        if n:
            sq = _square_op(sq)
    if op is None:
        op = np.array([1 << j for j in range(32)], dtype=np.uint32)
    _OP_CACHE[n_bytes] = op
    return op


_TBL_CACHE: dict[int, np.ndarray] = {}


def _advance_tables(n_bytes: int) -> np.ndarray:
    """Z^n as four 256-entry lookup tables (one per state byte):
    applying the operator to a whole array is then 4 fancy-index
    gathers + 3 XORs instead of a 32-bit expansion. Cached per n."""
    tbl = _TBL_CACHE.get(n_bytes)
    if tbl is None:
        op = _zero_advance_op(n_bytes)
        tbl = np.zeros((4, 256), dtype=np.uint32)
        for byte_idx in range(4):
            t_ = tbl[byte_idx]
            for k in range(8):
                t_[1 << k] = op[8 * byte_idx + k]
            for b in range(1, 256):
                t_[b] = t_[b & (b - 1)] ^ t_[b & -b]
        _TBL_CACHE[n_bytes] = tbl
    return tbl


def _advance_vec(n_bytes: int, states: np.ndarray) -> np.ndarray:
    """states := Z^n(states), elementwise over any shape."""
    tbl = _advance_tables(n_bytes)
    return (
        tbl[0][states & 0xFF]
        ^ tbl[1][(states >> 8) & 0xFF]
        ^ tbl[2][(states >> 16) & 0xFF]
        ^ tbl[3][states >> 24]
    )


def _chunk_m(n: int) -> int:
    """Chunk-size ladder: small records want few lockstep iterations
    (numpy call overhead dominates), big buffers want wide chunks. A
    tiny set of M values keeps the Z^(M<<level) operator cache shared
    across every record length."""
    if n < 16384:
        return 16
    if n < 262144:
        return 64
    return 256


def crc32c(data: bytes) -> int:
    n = len(data)
    if n < 1024:
        return _crc32c_py(data) ^ 0xFFFFFFFF
    # K chunks of M bytes in lockstep + pure-python tail. M comes from
    # a fixed ladder so every tree-combine operator (Z^(M<<level)) is
    # computed once per process, whatever the record length — no
    # per-distinct-length operator builds. The CRC init register rides
    # the first chunk (raw(s, A||B) = Z^|B|(raw(s,A)) ^ raw(0,B) holds
    # for any init), so no final Z^n fixup is needed either.
    M = _chunk_m(n)
    K = n // M
    body = K * M
    cols = np.ascontiguousarray(
        np.frombuffer(data, dtype=np.uint8, count=body).reshape(K, M).T
    )
    P = 1 << (K - 1).bit_length()  # front-pad with zero states: a zero
    states = np.zeros(P, dtype=np.uint32)  # register over no bytes stays 0
    states[P - K] = 0xFFFFFFFF
    st = states[P - K :]
    T = _TABLE_NP
    for i in range(M):
        st[:] = T[(st ^ cols[i]) & 0xFF] ^ (st >> 8)
    level = 0
    while len(states) > 1:
        states = _advance_vec(M << level, states[0::2]) ^ states[1::2]
        level += 1
    r = int(states[0])  # raw(0xFFFFFFFF, body)
    tail = data[body:]
    if tail:
        r = _crc32c_py(tail, r)
    return r ^ 0xFFFFFFFF


_BATCH_M = 16  # lockstep chunk size for cross-record batching
_BATCH_MAX_LEN = 65536  # longer records CRC individually (padding cost)


def crc32c_batch(bufs: list[bytes]) -> np.ndarray:
    """CRC32C of many buffers at once — the shard-IO hot path.

    All records' chunks run ONE numpy lockstep per power-of-two group
    (a (records x padded_chunks) 2-D register array), then each level
    of the tree combine is a single vectorized op across the whole
    group. Per-record Python work is O(1); the per-batch work is
    _BATCH_M numpy passes over every byte. ~10x over per-record
    ``crc32c`` on KB-scale records.
    """
    out = np.zeros(len(bufs), dtype=np.uint32)
    groups: dict[int, list[tuple[int, bytes, int]]] = {}
    for i, b in enumerate(bufs):
        n = len(b)
        if n < _BATCH_M:  # no whole chunk to lockstep
            out[i] = _crc32c_py(b) ^ 0xFFFFFFFF
        elif n > _BATCH_MAX_LEN:
            out[i] = crc32c(b)
        else:
            K = n // _BATCH_M
            P = 1 << (K - 1).bit_length()
            groups.setdefault(P, []).append((i, b, K))
    T = _TABLE_NP
    for P, items in groups.items():
        G = len(items)
        cols = np.zeros((_BATCH_M, G, P), dtype=np.uint8)
        states = np.zeros((G, P), dtype=np.uint32)
        for g, (_, b, K) in enumerate(items):
            cols[:, g, P - K :] = np.frombuffer(
                b, dtype=np.uint8, count=K * _BATCH_M
            ).reshape(K, _BATCH_M).T
            states[g, P - K] = 0xFFFFFFFF
        for j in range(_BATCH_M):
            states = T[(states ^ cols[j]) & 0xFF] ^ (states >> 8)
        level = 0
        while states.shape[1] > 1:
            states = (
                _advance_vec(_BATCH_M << level, states[:, 0::2])
                ^ states[:, 1::2]
            )
            level += 1
        for g, (i, b, K) in enumerate(items):
            r = int(states[g, 0])
            tail = b[K * _BATCH_M :]
            if tail:
                r = _crc32c_py(tail, r)
            out[i] = r ^ 0xFFFFFFFF
    return out


def _mask(crc: int) -> int:
    return (((crc >> 15) | (crc << 17)) + 0xA282EAD8) & 0xFFFFFFFF


def _masked_crc(data: bytes) -> int:
    return _mask(crc32c(data))


def _frame_records(recs: list[bytes]) -> bytes:
    """Frame a batch of records (batched data CRCs, headers are 8-byte
    pure-python CRCs) into one writable buffer."""
    dcrcs = crc32c_batch(recs)
    parts = []
    for rec, dc in zip(recs, dcrcs):
        header = struct.pack("<Q", len(rec))
        parts.append(header)
        parts.append(struct.pack("<I", _mask(_crc32c_py(header) ^ 0xFFFFFFFF)))
        parts.append(rec)
        parts.append(struct.pack("<I", _mask(int(dc))))
    return b"".join(parts)


_IO_BATCH = 512  # records per CRC batch on the shard IO paths


def _infer_gzip(path: str, compression: str | None) -> bool:
    """TFRecord compression contract: ``"auto"`` (default everywhere)
    infers whole-file gzip from a ``.gz`` suffix — the convention TFDS
    shards ship under (``*.tfrecord.gz``); ``"gzip"``/``"none"``
    override. The stream format matches TF's ``TFRecordOptions('GZIP')``:
    one gzip member wrapping the ordinary CRC-framed record stream."""
    if compression in (None, "none"):
        return False
    if compression == "gzip":
        return True
    if compression == "auto":
        return path.endswith(".gz")
    raise ValueError(f"unknown compression: {compression!r}")


class _GzipWriter:
    """Deterministic gzip wrapper (mtime=0, no name) over a compat.fs
    stream — identical input bytes produce identical shard bytes, so
    compressed shards stay content-addressable/diffable."""

    def __init__(self, raw):
        import gzip

        self._raw = raw
        self._gz = gzip.GzipFile(
            filename="", fileobj=raw, mode="wb", mtime=0
        )

    def write(self, b: bytes) -> None:
        self._gz.write(b)

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self._gz.close()
        return self._raw.__exit__(*exc)


def write_records(
    path: str, records: Iterable[bytes], compression: str | None = "auto"
) -> int:
    """Write one TFRecord file (any ``compat.fs`` scheme); returns
    record count. Records are framed in batches so the data CRCs ride
    the vectorized ``crc32c_batch`` kernel. A ``.gz`` path (or
    ``compression="gzip"``) writes TF-standard whole-file gzip."""
    from dataset_grouper_spark.compat import fs

    n = 0
    batch: list[bytes] = []
    gz = _infer_gzip(path, compression)  # validate BEFORE opening
    raw = fs.open_write(path)
    with (_GzipWriter(raw) if gz else raw) as f:
        for rec in records:
            batch.append(rec)
            n += 1
            if len(batch) >= _IO_BATCH:
                f.write(_frame_records(batch))
                batch = []
        if batch:
            f.write(_frame_records(batch))
    return n


def read_records(
    path: str, verify: bool = True, compression: str | None = "auto"
) -> Iterator[bytes]:
    """Iterate records from one TFRecord file, checking CRCs (data CRCs
    verified in vectorized batches). ``.gz`` paths (or
    ``compression="gzip"``) stream through stdlib gzip — decompression
    is incremental, never a whole-file buffer."""
    import contextlib
    import gzip

    from dataset_grouper_spark.compat import fs

    with contextlib.ExitStack() as stack:
        f = stack.enter_context(fs.open_read(path))
        if _infer_gzip(path, compression):
            f = stack.enter_context(gzip.GzipFile(fileobj=f, mode="rb"))
        done = False
        while not done:
            frames: list[tuple[bytes, bytes, int, int]] = []
            while len(frames) < _IO_BATCH:
                header = f.read(8)
                if not header:
                    done = True
                    break
                # every short read is a TRUNCATED file: report it as
                # the same IOError family as a corrupt CRC (a raw
                # struct.error carries no path and escapes callers
                # that handle corruption via IOError)
                if len(header) < 8:
                    raise IOError(
                        f"truncated record header in {path} "
                        f"({len(header)} trailing bytes)"
                    )
                (length,) = struct.unpack("<Q", header)
                hcrc_b = f.read(4)
                data = f.read(length)
                dcrc_b = f.read(4)
                if len(hcrc_b) < 4 or len(data) < length or len(dcrc_b) < 4:
                    raise IOError(
                        f"truncated record body in {path} "
                        f"(declared {length} data bytes)"
                    )
                (hcrc,) = struct.unpack("<I", hcrc_b)
                (dcrc,) = struct.unpack("<I", dcrc_b)
                frames.append((header, data, hcrc, dcrc))
            if verify and frames:
                dcrcs = crc32c_batch([fr[1] for fr in frames])
                for (header, data, hcrc, dcrc), dc in zip(frames, dcrcs):
                    if _mask(_crc32c_py(header) ^ 0xFFFFFFFF) != hcrc:
                        raise IOError(f"corrupt length crc in {path}")
                    if _mask(int(dc)) != dcrc:
                        raise IOError(f"corrupt data crc in {path}")
            for fr in frames:
                yield fr[1]


def shard_name(prefix: str, shard: int, num_shards: int, suffix: str = "") -> str:
    """The reference's shard naming: prefix-SSSSS-of-NNNNN[suffix]
    (verified by integration_test.py:46: mnist_test.tfrecord-00000-of-00001)."""
    return f"{prefix}-{shard:05d}-of-{num_shards:05d}{suffix}"


def write_shards(
    frame: DataFrame,
    records: Callable[[Iterator], Iterator[bytes]],
    file_path_prefix: str,
    num_shards: int = 0,
    file_name_suffix: str = "",
) -> list[str]:
    """Write one TFRecord shard per partition of ``frame``: staged in
    the tasks, committed by the driver.

    Each task streams ``records(pdf_iter)`` (its partition's Arrow
    batches as pandas frames in, record bytes out) into a file of its
    own under a staging directory beside the shards, named per task
    attempt, and reports ``(partition, path)`` unless it had no
    records. The driver renames only the files ``collect()`` returned,
    so a failed, retried or speculative attempt leaves nothing behind
    once the staging directory is removed, on success and on failure.

    ``num_shards > 0`` must equal ``frame``'s partition count: partition
    ``i`` becomes shard ``i`` of exactly ``num_shards``, and a partition
    with no records gets an empty shard. ``num_shards == 0`` renumbers
    the non-empty files in partition order, so no shard is empty; with
    no records at all it writes one empty ``-00000-of-00001`` shard.
    A ``.gz`` suffix gzips every shard (see :func:`write_records`).
    """
    import itertools

    import pandas as pd

    from dataset_grouper_spark.compat import fs

    def write_task(pdf_iter):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        it = iter(records(pdf_iter))
        first = next(it, None)
        if first is None:
            return
        path = fs.join(
            stage,
            f"part-{ctx.partitionId():05d}-{ctx.taskAttemptId()}{file_name_suffix}",
        )
        write_records(path, itertools.chain([first], it))
        yield pd.DataFrame({"partition": [ctx.partitionId()], "path": [path]})

    parent = fs.parent_dir(file_path_prefix) or "."
    with fs.staging_dir(parent, os.path.basename(file_path_prefix)) as stage:
        staged = {
            r.partition: r.path
            for r in frame.mapInPandas(write_task, "partition int, path string").collect()
        }
        if num_shards:
            sources = [staged.get(i) for i in range(num_shards)]
        else:
            sources = [staged[i] for i in sorted(staged)] or [None]
        out = []
        for i, src in enumerate(sources):
            dst = shard_name(file_path_prefix, i, len(sources), file_name_suffix)
            if src is None:
                write_records(dst, [])
            else:
                fs.move(src, dst)
            out.append(dst)
        return out


def write_grouped_tfrecords(
    packed: DataFrame,
    group_col: str,
    payload_col: str,
    file_path_prefix: str,
    num_shards: int = 1,
    file_name_suffix: str = "",
) -> list[str]:
    """Distributed sharded write of packed groups as SequenceExamples —
    the tfds_to_tfrecords sink (tfds_pipelines.py:25-78).

    ``packed`` must have one row per group with ``payload_col`` =
    array of serialized example blobs (e.g. from
    operators.packing.pack_groups with a binary payload). Rows are
    spread round-robin over ``num_shards`` partitions and each writes
    one shard via an Arrow-batched mapInPandas (no row pickling) —
    fully parallel, no driver collect of data. Exactly ``num_shards``
    files result; shards are staged and committed by
    :func:`write_shards`, so a failed job leaves none behind.

    Shards go through ``compat.fs`` (pyarrow.fs under any URI scheme),
    so ``file_path_prefix`` may be a local path, ``file://``, or an
    object-store URI (``s3://``, ``gs://``, ``hdfs://``) — no shared
    POSIX mount required across executors.
    """
    from dataset_grouper_spark.compat.tfexample import create_sequence_example

    def records(pdf_iter):
        for pdf in pdf_iter:
            for payloads in pdf[payload_col]:
                yield create_sequence_example([bytes(b) for b in payloads])

    return write_shards(
        packed.select(group_col, payload_col).repartition(num_shards),
        records,
        file_path_prefix,
        num_shards=num_shards,
        file_name_suffix=file_name_suffix,
    )


def read_tfrecord_dataframe(
    spark,
    paths: list[str],
    key: str | None = None,
) -> DataFrame:
    """Distributed read of TFRecord shards into a DataFrame of packed
    groups: one row per SequenceExample record, (shard string, record_idx
    long, payloads array<binary>). The native replacement for the
    spark-tensorflow connector — shards are parallelized across tasks,
    each task streams its file (data_loaders.py:116-122's parallel
    interleaved read, as Spark task parallelism)."""
    from dataset_grouper_spark.compat.tfexample import (
        SERIALIZED_BYTES_KEY,
        parse_sequence_example,
    )

    import pandas as pd

    k = key or SERIALIZED_BYTES_KEY
    # one slice per shard up front — no repartition shuffle, no
    # defaultParallelism-wide stage of empty tasks for a tiny path list
    shards = spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(p,) for p in paths], max(len(paths), 1)
        ),
        "shard string",
    )

    def read_shards(pdf_iter):
        for pdf in pdf_iter:
            for path in pdf["shard"]:
                rows = [
                    (path, i, parse_sequence_example(rec, k))
                    for i, rec in enumerate(read_records(path))
                ]
                yield pd.DataFrame(
                    rows, columns=["shard", "record_idx", "payloads"]
                )

    return shards.mapInPandas(
        read_shards, "shard string, record_idx long, payloads array<binary>"
    )


def decode_examples_dataframe(packed: DataFrame, schema: str) -> DataFrame:
    """Explode packed groups and decode each Example blob into typed
    columns (the features_dict.deserialize_example step,
    data_loaders.py:110-113). ``schema`` names the output columns, e.g.
    ``"id long, text string"``; scalar features are unwrapped from
    their single-element lists."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import _parse_datatype_string

    out_schema = _parse_datatype_string(schema)

    from dataset_grouper_spark.compat.tfexample import decode_example

    def decode_rows(pdf_iter):
        import pandas as pd

        for pdf in pdf_iter:
            rows = []
            for blobs in pdf["payloads"]:
                for blob in blobs:
                    feats = decode_example(bytes(blob))
                    row = {}
                    for f in out_schema.fields:
                        vals = feats.get(f.name, [])
                        is_array = f.dataType.typeName() == "array"
                        if is_array:
                            v = list(vals)
                        elif len(vals) == 1:
                            v = vals[0]
                        else:
                            # missing or multi-valued feature into a
                            # SCALAR column: NULL, not a list — a list
                            # would crash the pandas->Arrow conversion
                            # on the first imperfect record
                            v = None
                        if isinstance(v, (bytes, bytearray)) and (
                            f.dataType.typeName() == "string"
                        ):
                            v = bytes(v).decode()
                        row[f.name] = v
                    rows.append(row)
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema.fields])

    return packed.select("payloads").mapInPandas(decode_rows, schema=out_schema)


def read_grouped_tfrecords(pattern_paths: list[str]) -> Iterator[list[bytes]]:
    """Read back shard files, yielding each group's packed example
    blobs (the load path, data_loaders.py:102-114)."""
    from dataset_grouper_spark.compat.tfexample import parse_sequence_example

    for path in pattern_paths:
        for rec in read_records(path):
            yield parse_sequence_example(rec)
