"""Property-based codec tests (hypothesis): arbitrary feature dicts
survive encode->decode; TFRecord framing survives arbitrary payloads."""

from hypothesis import given, settings
from hypothesis import strategies as st

from dataset_grouper_spark.compat import tfexample, tfrecord

feature_values = st.one_of(
    st.binary(max_size=200),
    st.text(max_size=100),
    st.integers(min_value=-(2**63), max_value=2**63 - 1),
    st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1), max_size=20),
    st.lists(st.binary(max_size=50), min_size=1, max_size=10),
)

names = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd"), max_codepoint=127),
    min_size=1,
    max_size=20,
)


@given(st.dictionaries(names, feature_values, max_size=8))
@settings(max_examples=200, deadline=None)
def test_example_roundtrip(feats):
    decoded = tfexample.decode_example(tfexample.encode_example(feats))
    for k, v in feats.items():
        got = decoded[k]
        if isinstance(v, bytes):
            assert got == [v]
        elif isinstance(v, str):
            assert got == [v.encode()]
        elif isinstance(v, int):
            assert got == [v]
        elif isinstance(v, list) and v and isinstance(v[0], bytes):
            assert got == v
        else:  # int list (possibly empty)
            assert got == v


@given(st.lists(st.binary(max_size=500), max_size=20))
@settings(max_examples=100, deadline=None)
def test_sequence_example_roundtrip(blobs):
    seq = tfexample.create_sequence_example(blobs)
    assert tfexample.parse_sequence_example(seq) == blobs


@given(st.lists(st.binary(max_size=1000), max_size=10))
@settings(max_examples=50, deadline=None)
def test_tfrecord_roundtrip(tmp_path_factory, recs):
    path = str(tmp_path_factory.mktemp("tfr") / "f.tfrecord")
    tfrecord.write_records(path, recs)
    assert list(tfrecord.read_records(path)) == recs


@given(st.binary(min_size=0, max_size=10_000))
@settings(max_examples=100, deadline=None)
def test_crc32c_numpy_matches_bytewise(data):
    # the vectorized chunk+GF(2)-combine path must agree with the
    # byte-at-a-time register on any input (both sides of the 2048
    # fast-path threshold)
    assert tfrecord.crc32c(data) == tfrecord._crc32c_py(data) ^ 0xFFFFFFFF


def test_crc32c_known_vectors():
    # RFC 3720 B.4 test vectors for CRC32C (Castagnoli)
    assert tfrecord.crc32c(b"") == 0
    assert tfrecord.crc32c(b"123456789") == 0xE3069283
    assert tfrecord.crc32c(bytes(32)) == 0x8A9136AA
    assert tfrecord.crc32c(bytes([0xFF] * 32)) == 0x62A8AB43


def test_crc32c_large_buffer_paths():
    import random

    rng = random.Random(7)
    for n in (2048, 2049, 65537, (1 << 20) + 123):
        data = rng.randbytes(n)
        assert tfrecord.crc32c(data) == tfrecord._crc32c_py(data) ^ 0xFFFFFFFF


def test_crc32c_batch_matches_bytewise_every_length():
    # one batch over every length 0..2100: the byte loop below 16 B,
    # the lockstep groups (P = 1..256 chunks) and their tails above
    import random

    rng = random.Random(11)
    recs = [rng.randbytes(n) for n in range(2101)]
    got = tfrecord.crc32c_batch(recs)
    want = [tfrecord._crc32c_py(r) ^ 0xFFFFFFFF for r in recs]
    assert [int(c) for c in got] == want


# ---- pixel codecs (operators.multimodal): arbitrary rasters roundtrip


@given(
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=0, max_value=2**32 - 1),
)
@settings(max_examples=100, deadline=None)
def test_bmp_ppm_roundtrip_property(w, h, seed):
    import numpy as np

    from dataset_grouper_spark.operators import multimodal

    arr = np.random.RandomState(seed % 2**31).randint(
        0, 256, size=(h, w, 3), dtype=np.uint8
    )
    for enc in (multimodal.encode_bmp_pixels, multimodal.encode_ppm_pixels):
        b = enc(arr)
        got = multimodal.decode_pixels(b)
        assert got is not None and np.array_equal(got, arr), enc.__name__
        # header parser agrees on dimensions
        fmt, pw, ph = multimodal.parse_image_header(b)
        assert (pw, ph) == (w, h)


@given(
    st.integers(min_value=1, max_value=30),
    st.integers(min_value=1, max_value=30),
    st.integers(min_value=1, max_value=30),
    st.integers(min_value=1, max_value=30),
)
@settings(max_examples=100, deadline=None)
def test_nn_resize_property(src_w, src_h, out_w, out_h):
    import numpy as np

    from dataset_grouper_spark.operators import multimodal

    arr = np.arange(src_h * src_w * 3, dtype=np.int64).reshape(
        src_h, src_w, 3
    ) % 256
    out = multimodal.nn_resize(arr.astype(np.uint8), out_w, out_h)
    assert out.shape == (out_h, out_w, 3)
    # every output pixel is the exact source pixel of the index map
    for y in (0, out_h - 1):
        for x in (0, out_w - 1):
            sy, sx = (y * src_h) // out_h, (x * src_w) // out_w
            assert (out[y, x] == arr[sy, sx]).all()
