"""Pure-Python tf.train.Example / SequenceExample codec.

Byte-level interop with the reference's storage format
(serialization.py:23-62 builds tf.train.Example and SequenceExample
protos; data_loaders.py:62-68 parses them back) WITHOUT a TensorFlow
dependency: the messages are encoded directly against the public
protobuf wire format (proto3 encoding spec) and the public
tensorflow/core/example/{example,feature}.proto schemas:

    Example         { Features features = 1; }
    Features        { map<string, Feature> feature = 1; }
    Feature         { oneof: BytesList bytes_list = 1;
                             FloatList float_list = 2;
                             Int64List int64_list = 3; }
    BytesList       { repeated bytes value = 1; }
    FloatList       { repeated float value = 1 [packed]; }
    Int64List       { repeated int64 value = 1 [packed]; }
    SequenceExample { Features context = 1; FeatureLists feature_lists = 2; }
    FeatureLists    { map<string, FeatureList> feature_list = 1; }
    FeatureList     { repeated Feature feature = 1; }

The packed-group record matches the reference: a SequenceExample whose
feature_lists carry one list named ``serialized_bytes`` (the feature
key used by serialization.py:20), each element a serialized Example.
"""

from __future__ import annotations

import struct
from collections.abc import Iterable
from typing import Any

SERIALIZED_BYTES_KEY = "serialized_bytes"

_WIRE_VARINT = 0
_WIRE_I32 = 5
_WIRE_LEN = 2


def _varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zigzagless_int64(n: int) -> int:
    # proto int64 negative values encode as 10-byte two's complement
    if not (-(1 << 63) <= n < (1 << 63)):
        # a bare mask would silently WRAP out-of-range Python ints —
        # 2**63 round-trips as -2**63 with no error (data corruption)
        raise ValueError(f"int64 feature out of range: {n}")
    return n & 0xFFFFFFFFFFFFFFFF


def _tag(field: int, wire: int) -> bytes:
    return _varint((field << 3) | wire)


def _len_delim(field: int, payload: bytes) -> bytes:
    return _tag(field, _WIRE_LEN) + _varint(len(payload)) + payload


def encode_bytes_list(values: list[bytes]) -> bytes:
    return b"".join(_len_delim(1, v) for v in values)


def encode_float_list(values: list[float]) -> bytes:
    packed = struct.pack(f"<{len(values)}f", *values)
    return _len_delim(1, packed) if values else b""


def encode_int64_list(values: list[int]) -> bytes:
    packed = b"".join(_varint(_zigzagless_int64(v)) for v in values)
    return _len_delim(1, packed) if values else b""


def encode_feature(value: Any) -> bytes:
    """One Feature message from a python value.

    bytes/str -> bytes_list; int/bool -> int64_list; float ->
    float_list; homogeneous lists of those likewise (mirrors the
    feature coercion the reference delegates to TFDS serialization).
    """
    if isinstance(value, (bytes, str, int, float, bool)):
        value = [value]
    if not isinstance(value, (list, tuple)):
        raise TypeError(f"unsupported feature value: {type(value)}")
    vals = list(value)
    if not vals:
        return _len_delim(3, encode_int64_list([]))
    first = vals[0]
    if isinstance(first, (bytes, str)):
        bs = [v.encode() if isinstance(v, str) else bytes(v) for v in vals]
        return _len_delim(1, encode_bytes_list(bs))
    if isinstance(first, bool) or isinstance(first, int):
        if not all(isinstance(v, (bool, int)) for v in vals):
            raise TypeError("heterogeneous feature list")
        return _len_delim(3, encode_int64_list([int(v) for v in vals]))
    if isinstance(first, float):
        if not all(isinstance(v, (int, float)) for v in vals):
            raise TypeError("heterogeneous feature list")
        return _len_delim(2, encode_float_list([float(v) for v in vals]))
    raise TypeError(f"unsupported feature element: {type(first)}")


def _map_entry(key: str, msg: bytes) -> bytes:
    entry = _len_delim(1, key.encode()) + _len_delim(2, msg)
    return _len_delim(1, entry)


def encode_example(features: dict[str, Any]) -> bytes:
    """Serialize an Example — the relational twin of
    serialize_tfds_example (serialization.py:23-48). Keys are emitted
    in sorted order for deterministic bytes."""
    feats = b"".join(
        _map_entry(k, encode_feature(features[k])) for k in sorted(features)
    )
    return _len_delim(1, feats)


def encode_example_checked(
    features: dict[str, Any], schema_keys: "set[str] | frozenset[str]"
) -> bytes:
    """encode_example with the reference's schema-mismatch behavior:
    raises KeyError when the example's keys do not exactly match the
    declared feature schema (serialize_tfds_example,
    serialization.py:40-48; tested at serialization_test.py:33-43)."""
    check_feature_keys(features, schema_keys)
    return encode_example(features)


def check_feature_keys(
    got: Iterable[str], schema_keys: set[str] | frozenset[str]
) -> None:
    """Raise the reference's KeyError when the feature names ``got``
    differ from the declared ``schema_keys``."""
    got = set(got)
    if got != set(schema_keys):
        raise KeyError(
            "Found a mismatch between the provided features_dict and an"
            " example. Please make sure that features_dict matches the"
            f" structure of *all* examples being serialized."
            f" (example keys={sorted(got)}, schema keys={sorted(schema_keys)})"
        )


def create_sequence_example(
    serialized: list[bytes], key: str = SERIALIZED_BYTES_KEY
) -> bytes:
    """Pack serialized Example blobs into one SequenceExample — the
    packed-group record (serialization.py:51-62)."""
    feature_list = b"".join(
        _len_delim(1, _len_delim(1, encode_bytes_list([s]))) for s in serialized
    )
    entry = _len_delim(1, key.encode()) + _len_delim(2, feature_list)
    feature_lists = _len_delim(1, entry)
    return _len_delim(2, feature_lists)


# ------------------------------------------------------------- decoding

def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    out = 0
    shift = 0
    while True:
        b = buf[pos]
        pos += 1
        out |= (b & 0x7F) << shift
        if not b & 0x80:
            return out, pos
        shift += 7


def _iter_fields(buf: bytes):
    pos = 0
    while pos < len(buf):
        key, pos = _read_varint(buf, pos)
        field, wire = key >> 3, key & 7
        if wire == _WIRE_VARINT:
            val, pos = _read_varint(buf, pos)
        elif wire == _WIRE_LEN:
            ln, pos = _read_varint(buf, pos)
            val = buf[pos : pos + ln]
            pos += ln
        elif wire == _WIRE_I32:
            val = buf[pos : pos + 4]
            pos += 4
        else:  # wire type 1: 64-bit
            val = buf[pos : pos + 8]
            pos += 8
        yield field, wire, val


def decode_feature(buf: bytes) -> list:
    """Parse one Feature message. Repeated numeric fields accept BOTH
    proto encodings — packed (one length-delimited blob) and unpacked
    (one wire element per value): the protobuf spec REQUIRES parsers
    to accept either, and a writer emitting unpacked repeated int64
    used to crash len() on an int (floats silently dropped all but the
    first element). Elements accumulate across forms."""
    for field, wt0, val in _iter_fields(buf):
        if field == 1:  # BytesList
            return [v for f, _, v in _iter_fields(val) if f == 1]
        if field == 2:  # FloatList
            out: list = []
            for f, wt, v in _iter_fields(val):
                if f != 1:
                    continue
                if isinstance(v, (bytes, bytearray)):  # packed blob
                    n = len(v) // 4
                    out.extend(struct.unpack(f"<{n}f", v))
                else:  # unpacked fixed32 element
                    out.append(struct.unpack("<f", struct.pack("<I", v))[0])
            return out
        if field == 3:  # Int64List
            out = []
            for f, wt, v in _iter_fields(val):
                if f != 1:
                    continue
                if isinstance(v, (bytes, bytearray)):  # packed blob
                    pos = 0
                    while pos < len(v):
                        x, pos = _read_varint(v, pos)
                        if x >= 1 << 63:
                            x -= 1 << 64
                        out.append(x)
                else:  # unpacked varint element
                    x = int(v)
                    if x >= 1 << 63:
                        x -= 1 << 64
                    out.append(x)
            return out
    return []


def decode_example(buf: bytes) -> dict[str, list]:
    """Parse a serialized Example back to {name: list-of-values}."""
    out: dict[str, list] = {}
    for field, _, feats in _iter_fields(buf):
        if field != 1:
            continue
        for f, _, entry in _iter_fields(feats):
            if f != 1:
                continue
            name, feat = None, b""
            for ef, _, ev in _iter_fields(entry):
                if ef == 1:
                    name = ev.decode()
                elif ef == 2:
                    feat = ev
            if name is not None:
                out[name] = decode_feature(feat)
    return out


def parse_sequence_example(
    buf: bytes, key: str = SERIALIZED_BYTES_KEY
) -> list[bytes]:
    """SequenceExample bytes -> the packed example blobs (the
    decode_bytes path, data_loaders.py:62-68)."""
    for field, _, flists in _iter_fields(buf):
        if field != 2:
            continue
        for f, _, entry in _iter_fields(flists):
            if f != 1:
                continue
            name, flist = None, b""
            for ef, _, ev in _iter_fields(entry):
                if ef == 1:
                    name = ev.decode()
                elif ef == 2:
                    flist = ev
            if name == key:
                out: list[bytes] = []
                for ff, _, feat in _iter_fields(flist):
                    if ff == 1:
                        vals = decode_feature(feat)
                        out.extend(bytes(v) for v in vals)
                return out
    return []
