"""Round-trip property tests for the pure NumPy/Arrow codec library.

Mirrors the round-trip discipline of the reference's golden tests
(reference src/Test/ChoParquetWriterTest/Program.cs:33-66 QuickTest etc.)
at the per-codec unit level the reference never had.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as hst

from choetl_spark.codecs import decode_array, encode_array
from choetl_spark.codecs.fsst import (
    build_symbol_table,
    compress_blob,
    decompress_blob,
)
from choetl_spark.selector import choose_codec
from choetl_spark.stats import compute_stats


def roundtrip(arr: pa.Array, codec: str, **kw) -> pa.Array:
    payload, meta = encode_array(arr, codec=codec, **kw)
    out = decode_array(payload, meta)
    assert out.type.equals(arr.type), (out.type, arr.type)
    assert out.equals(arr), f"{codec}: {arr.to_pylist()[:5]} != {out.to_pylist()[:5]}"
    return out


# ---------------------------------------------------------------------------
# fixed-width codecs
# ---------------------------------------------------------------------------

INT_CODECS = ["plain", "foref", "rle", "dict", "delta"]


@pytest.mark.parametrize("codec", INT_CODECS + ["bitpack"])
def test_int_roundtrip_simple(codec):
    arr = pa.array([0, 1, 1, 2, 5, 5, 5, 1000, 0, 7], type=pa.int64())
    roundtrip(arr, codec)


@pytest.mark.parametrize("codec", INT_CODECS)
def test_int_roundtrip_negative(codec):
    arr = pa.array([-5, -5, 0, 3, -1000000, 2**40, -(2**40)], type=pa.int64())
    roundtrip(arr, codec)


@pytest.mark.parametrize("codec", INT_CODECS + ["bitpack"])
def test_int_roundtrip_nulls(codec):
    arr = pa.array([1, None, 3, None, None, 3, 3, 0], type=pa.int64())
    roundtrip(arr, codec)


@pytest.mark.parametrize("codec", INT_CODECS + ["bitpack"])
@pytest.mark.parametrize("t", [pa.int8(), pa.int16(), pa.int32(), pa.int64()])
def test_int_types(codec, t):
    arr = pa.array([0, 1, 2, 2, 2, 100, 100], type=t)
    roundtrip(arr, codec)


@given(
    hst.lists(
        hst.one_of(hst.none(), hst.integers(-(2**62), 2**62 - 1)), max_size=300
    )
)
@settings(max_examples=60, deadline=None)
def test_int64_property(vals):
    arr = pa.array(vals, type=pa.int64())
    for codec in INT_CODECS:
        roundtrip(arr, codec)


def test_empty_arrays():
    for t, codecs in [
        (pa.int64(), INT_CODECS + ["bitpack"]),
        (pa.string(), ["plain", "dict", "fsst"]),
        (pa.float64(), ["plain", "rle", "dict"]),
    ]:
        arr = pa.array([], type=t)
        for codec in codecs:
            roundtrip(arr, codec)


def test_timestamp_roundtrip():
    arr = pa.array(
        [0, 1_600_000_000_000_000, None, 1_600_000_001_000_000, -(10**15)],
        type=pa.timestamp("us"),
    )
    for codec in ["plain", "foref", "rle", "dict", "delta"]:
        roundtrip(arr, codec)


def test_timestamp_tz_roundtrip():
    arr = pa.array([1, 2, 2, None], type=pa.timestamp("us", tz="UTC"))
    roundtrip(arr, "foref")


def test_bool_roundtrip():
    arr = pa.array([True, False, None, True, True, True, False])
    for codec in ["plain", "rle", "bitpack", "dict"]:
        roundtrip(arr, codec)


@given(hst.lists(hst.one_of(hst.none(), hst.floats(allow_nan=False)), max_size=200))
@settings(max_examples=40, deadline=None)
def test_float64_property(vals):
    arr = pa.array(vals, type=pa.float64())
    for codec in ["plain", "rle", "dict"]:
        roundtrip(arr, codec)


def test_float32_roundtrip():
    arr = pa.array([1.5, 1.5, 1.5, -0.25, None], type=pa.float32())
    for codec in ["plain", "rle", "dict"]:
        roundtrip(arr, codec)


# ---------------------------------------------------------------------------
# string/binary codecs
# ---------------------------------------------------------------------------

STR_CODECS = ["plain", "dict", "fsst"]


@pytest.mark.parametrize("codec", STR_CODECS)
def test_string_roundtrip_simple(codec):
    arr = pa.array(
        ["the quick brown fox", "the quick", "", "the the the", None, "zzz"] * 5
    )
    roundtrip(arr, codec)


@pytest.mark.parametrize("codec", STR_CODECS)
def test_string_unicode(codec):
    arr = pa.array(["héllo wörld", "日本語テキスト", "", None, "mixed ascii 日本"])
    roundtrip(arr, codec)


@pytest.mark.parametrize("codec", STR_CODECS)
def test_binary_roundtrip(codec):
    vals = [b"\x00\x01\x02", b"", None, b"\xff\xff\xfe binary", b"ascii bytes"]
    arr = pa.array(vals, type=pa.binary())
    roundtrip(arr, codec)


@given(
    hst.lists(
        hst.one_of(hst.none(), hst.text(max_size=60)), max_size=120
    )
)
@settings(max_examples=50, deadline=None)
def test_string_property(vals):
    arr = pa.array(vals, type=pa.string())
    for codec in STR_CODECS:
        roundtrip(arr, codec)


@given(
    hst.lists(
        hst.one_of(hst.none(), hst.binary(max_size=80)), max_size=100
    )
)
@settings(max_examples=50, deadline=None)
def test_binary_property(vals):
    """Arbitrary bytes incl. 0xFF escapes must round-trip through fsst."""
    arr = pa.array(vals, type=pa.binary())
    for codec in STR_CODECS:
        roundtrip(arr, codec)


def test_fsst_blob_escape_edge_cases():
    # runs of 0xFF of odd/even length, high bytes, empty
    for blob in [
        b"",
        b"\xff",
        b"\xff\xff",
        b"\xff\xff\xff",
        b"\xff" * 7 + b"\x80",
        b"abc\xffdef\xfe\x80\x81",
        bytes(range(256)) * 3,
    ]:
        symbols = build_symbol_table(b"abcabcabcabc" * 10)
        enc = compress_blob(blob, symbols)
        assert decompress_blob(enc, symbols) == blob


def test_fsst_compresses_text():
    text = ("the quick brown fox jumps over the lazy dog " * 200).encode()
    arr = pa.array([text.decode()] )
    payload, meta = encode_array(arr, codec="fsst")
    assert len(payload) < len(text) * 0.7, len(payload) / len(text)
    assert decode_array(payload, meta).equals(arr)


def test_zstd_pass_roundtrip():
    arr = pa.array(["abcdef" * 50] * 100)
    payload, meta = encode_array(arr, codec="plain", zstd="auto")
    assert meta["codec"] == "zstd"
    assert decode_array(payload, meta).equals(arr)


def test_zstd_parts_path_multi_frame_roundtrip():
    """The plain+zstd hot path compresses the lengths header and the
    Arrow value-bytes view as SEPARATE zstd frames (no blob-sized
    assembly memcpy); one-shot decompress consumes the concatenated
    frames, so the format is indistinguishable from a single frame."""
    import pyarrow as _pa

    from choetl_spark.codecs.core import encode_plain, encode_plain_parts
    from choetl_spark.codecs.zstd import wrap_parts

    arr = pa.array(["hello world, repetitive text " * 40] * 200)
    parts, meta = encode_plain_parts(arr)
    assert len(parts) == 2  # lengths header + value-bytes view
    z, zmeta = wrap_parts(parts, meta, level=3)
    assert zmeta["codec"] == "zstd"
    # same raw_len as the single-payload path would record
    single, _ = encode_plain(arr)
    assert zmeta["raw_len"] == len(single)
    assert decode_array(z, zmeta).equals(arr)
    # frame count is an implementation detail: a fresh decompress of
    # the concatenated frames yields exactly the assembled payload
    raw = _pa.Codec("zstd").decompress(
        z, decompressed_size=zmeta["raw_len"], asbytes=True
    )
    assert raw == bytes(single)


def test_zstd_parts_path_incompressible_falls_back_assembled():
    import numpy as _np

    from choetl_spark.codecs.zstd import wrap_parts

    rng = _np.random.default_rng(7)
    # truly incompressible parts: wrap_parts must return them assembled
    parts = [memoryview(rng.bytes(4096)), memoryview(rng.bytes(4096))]
    child = {"codec": "plain"}
    payload, meta = wrap_parts(list(parts), dict(child), level=3)
    assert meta == child  # no zstd layer added
    assert bytes(payload) == bytes(parts[0]) + bytes(parts[1])
    # end-to-end: random binary column still round-trips (zstd may or
    # may not win once the compressible lengths header is in the mix)
    blobs = [rng.bytes(512) for _ in range(64)]
    arr = pa.array(blobs, type=pa.binary())
    payload, meta = encode_array(arr, codec="plain", zstd="auto")
    assert decode_array(bytes(payload), meta).equals(arr)


def test_zstd_parts_path_nulls_and_types():
    cases = [
        pa.array(["a" * 100, None, "b" * 300, None, "c"]),
        pa.array([1, None, 2**40, -5] * 64, type=pa.int64()),
        pa.array([1.5, None, -2.25] * 64, type=pa.float64()),
        pa.array([True, None, False] * 64),
        pa.array([], type=pa.string()),
    ]
    for arr in cases:
        payload, meta = encode_array(arr, codec="plain", zstd="auto")
        assert decode_array(bytes(payload), meta).equals(arr), arr.type


# ---------------------------------------------------------------------------
# selector
# ---------------------------------------------------------------------------


def test_selector_low_ndv_string_picks_dict():
    arr = pa.array(["en", "de", "en", "en", "fr"] * 500)
    codec, _ = choose_codec(arr)
    assert codec == "dict"


def test_selector_sorted_ints_picks_narrow():
    # consecutive values: zigzag deltas are all 2 (width 2) vs a 12-bit
    # foref span — delta is the strictly-narrower pick
    arr = pa.array(list(range(100000, 104000)), type=pa.int64())
    codec, _ = choose_codec(arr)
    assert codec == "delta"
    # random wide-range ints: no local structure, delta loses to the
    # frame-of-reference/bitpack family
    rng = np.random.default_rng(7)
    wide = pa.array(rng.integers(0, 2**40, 4000))
    codec, _ = choose_codec(wide)
    assert codec in ("foref", "bitpack")


def test_selector_runs_picks_rle():
    arr = pa.array([7] * 3000 + [9] * 3000, type=pa.int64())
    codec, _ = choose_codec(arr)
    assert codec == "rle"


def test_selector_wordy_text_picks_worddict():
    words = "the of and to in is was he for it with as his on be at by".split()
    rng = np.random.default_rng(42)
    vals = [" ".join(rng.choice(words, 30)) for _ in range(300)]
    arr = pa.array(vals)
    codec, _ = choose_codec(arr)
    assert codec == "worddict"


def test_selector_spaceless_text_fsst_vs_measured_backstop():
    # url-like: dense ascii, no separators -> worddict inapplicable.
    # The size estimate picks fsst; the measured sample trial then
    # compares it against plain+zstd. On urls the fsst win over zstd is
    # ~2% at ~1/15th the encode speed, so the balanced profile demotes
    # to plain while the ratio profile keeps fsst (strictly smaller).
    from choetl_spark.selector import estimate_sizes
    from choetl_spark.stats import compute_stats

    vals = [f"https://www.host{i % 7:03d}.example.com/en/page/{i}" for i in range(3000)]
    arr = pa.array(vals)
    # the size model still nominates fsst (cheapest estimate) ...
    st = compute_stats(arr)
    est = estimate_sizes(arr, st)
    assert min(est, key=est.get) == "fsst"
    # ... and the measured trial demotes it: plain+zstd is within a few
    # percent at >10x the encode speed on url-like text
    codec, _ = choose_codec(arr, optimize_for="balanced")
    assert codec == "plain"
    # trial cache memoizes the verdict for subsequent chunks
    cache: dict = {}
    choose_codec(arr, optimize_for="balanced", trial_cache=cache)
    assert list(cache.values()) == ["plain"]


def test_selector_override():
    arr = pa.array([1, 2, 3], type=pa.int64())
    codec, _ = choose_codec(arr, override="rle")
    assert codec == "rle"


def test_stats_fields():
    arr = pa.array(["aa", "aa", "bb", None])
    st = compute_stats(arr)
    assert st.n == 4 and st.n_nulls == 1
    assert st.ndv == 2
    assert 0 < st.ascii_frac <= 1.0


def test_auto_roundtrip_everything():
    cols = {
        "ints": pa.array([1, 1, 2, None, 5] * 100, type=pa.int64()),
        "sorted": pa.array(range(500), type=pa.int64()),
        "lang": pa.array(["en", "de", "fr", None, "en"] * 100),
        "text": pa.array(["the cat sat on the mat " * 4, None] * 250),
        "blob": pa.array([b"\x00\xff" * 20, None, b""] * 100, type=pa.binary()),
        "ts": pa.array([10**15 + i for i in range(500)], type=pa.timestamp("us")),
        "f": pa.array([0.5, None, 0.5, 1.5] * 125, type=pa.float64()),
    }
    for name, arr in cols.items():
        payload, meta = encode_array(arr, codec="auto", zstd="auto")
        out = decode_array(payload, meta)
        assert out.equals(arr), name


# ---------------------------------------------------------------------------
# worddict
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "vals,typ",
    [
        ([], pa.string()),
        (["", " ", "  ", "a  b", "a b c", "no-space", " lead", "trail "], pa.string()),
        ([None, "a b", None, ""], pa.string()),
        ([b"ab cd", b"\xff\xfe x", None, b""], pa.binary()),
        (["one two", None], pa.large_string()),
        ([b"a b", b""], pa.large_binary()),
    ],
)
def test_worddict_roundtrip_edges(vals, typ):
    roundtrip(pa.array(vals, type=typ), "worddict")


def test_worddict_roundtrip_zstd_and_ratio():
    words = "the of and to in is was he for it with as".split()
    rng = np.random.default_rng(7)
    vals = [" ".join(rng.choice(words, 50)) for _ in range(2000)]
    arr = pa.array(vals)
    payload, meta = encode_array(arr, codec="worddict", zstd="auto")
    assert decode_array(payload, meta).equals(arr)
    # word-level dictionary must beat whole-value plain by a wide margin
    assert len(payload) < 0.35 * arr.nbytes


def test_worddict_values_codec_plain():
    arr = pa.array(["x y z"] * 10)
    payload, meta = encode_array(arr, codec="worddict", values_codec="plain")
    top = meta["child"] if meta["codec"] == "zstd" else meta
    assert top["values"]["codec"] == "plain"
    assert decode_array(payload, meta).equals(arr)


def test_worddict_aligned_layout_and_legacy_decode():
    """New payloads carry byte-aligned indices (idx_layout=aligned);
    tables encoded before the layout change (bit-packed indices, no
    idx_layout key) must keep decoding — storage compatibility is part
    of the ledger's resume contract."""
    from choetl_spark.codecs.base import bit_width, pack_uints
    from choetl_spark.codecs.worddict import _split_tokens, decode_worddict

    vals = ["red green blue", "green green", "", "blue red"] * 50
    arr = pa.array(vals)
    payload, meta = encode_array(arr, codec="worddict")
    assert meta["idx_layout"] == "aligned"
    assert meta["idx_width"] in (8, 16, 32)
    assert decode_array(payload, meta).equals(arr)

    # hand-build a LEGACY bit-packed payload for the same data
    import pyarrow.compute as pc

    flat, ntoks = _split_tokens(arr)
    d = pc.dictionary_encode(flat)
    idx = np.asarray(d.indices.cast(pa.int64()))
    w = max(bit_width(int(idx.max())), 1)
    idx_payload = pack_uints(idx, w)
    val_payload, val_meta = encode_array(d.dictionary, codec="plain")
    tw = max(bit_width(int(ntoks.max())), 1)
    row_payload = pack_uints(ntoks, tw)
    legacy_meta = {
        "codec": "worddict", "dtype": "string", "n": len(arr),
        "n_tokens": int(len(idx)), "idx_width": w,
        "idx_bytes": len(idx_payload), "row_width": tw,
        "row_bytes": len(row_payload), "values": val_meta,
    }  # note: no idx_layout key — the pre-change on-disk form
    out = decode_worddict(
        row_payload + idx_payload + val_payload, legacy_meta
    )
    assert out.equals(arr)


@settings(max_examples=40, deadline=None)
@given(
    hst.lists(
        hst.one_of(
            hst.none(),
            hst.text(
                alphabet=hst.characters(min_codepoint=32, max_codepoint=126),
                max_size=40,
            ),
        ),
        max_size=60,
    )
)
def test_worddict_roundtrip_property(vals):
    roundtrip(pa.array(vals, type=pa.string()), "worddict")


def test_selector_speed_profile_skips_tokenizer_codecs():
    words = "the of and to in is was he for it with as".split()
    rng = np.random.default_rng(5)
    vals = [" ".join(rng.choice(words, 40)) for _ in range(400)]
    arr = pa.array(vals)
    assert choose_codec(arr, optimize_for="balanced")[0] == "worddict"
    assert choose_codec(arr, optimize_for="speed")[0] == "plain"
    # low-NDV strings still dictionary-encode under speed
    lo = pa.array(["en", "de"] * 500)
    assert choose_codec(lo, optimize_for="speed")[0] == "dict"


def test_delta_wraparound_extremes():
    """Differences that overflow int64 (min<->max jumps) round-trip:
    numpy diff/cumsum wrap in two's complement and zigzag is a bijection
    on the wrapped domain."""
    arr = pa.array(
        [-(2**63), 2**63 - 1, 0, -1, 2**63 - 1, -(2**63)], type=pa.int64()
    )
    roundtrip(arr, "delta")


@given(
    hst.lists(
        hst.one_of(hst.none(), hst.integers(-(2**63), 2**63 - 1)),
        max_size=300,
    )
)
@settings(max_examples=60, deadline=None)
def test_delta_full_int64_property(vals):
    roundtrip(pa.array(vals, type=pa.int64()), "delta")


def test_delta_sorted_timestamps_collapse():
    """A constant-stride timestamp column packs to (near) nothing, and
    the auto selector actually chooses delta for it."""
    import numpy as np

    ts = pa.array(
        (np.arange(20000) * 60_000_000 + 1_700_000_000_000_000).astype(
            np.int64
        )
    ).cast(pa.timestamp("us"))
    payload, meta = encode_array(ts, codec="delta")
    assert len(payload) < 64  # constant stride -> width-0 pack + first
    assert decode_array(payload, meta).equals(ts)
    codec, _ = choose_codec(ts)
    assert codec == "delta"


# ---------------------------------------------------------------------------
# bloom filters (pure NumPy; engine wiring tested in test_chunk_skipping)
# ---------------------------------------------------------------------------


def test_bloom_no_false_negatives_and_scalar_vector_hash_agree():
    from choetl_spark.bloom import (
        _hash_value,
        _row_hashes,
        bloom_build,
        bloom_maybe_contains,
    )

    vals = [f"https://h{i}.example.com/p/{i}" for i in range(3000)] + [
        "", "x", "日本語/パス"
    ]
    arr = pa.array(vals)
    h1, h2 = _row_hashes(arr)
    for i in (0, 1, 2999, 3000, 3001, 3002):
        s1, s2 = _hash_value(vals[i])
        assert (s1, s2) == (int(h1[i]), int(h2[i])), vals[i]
    b = bloom_build(arr)
    assert all(bloom_maybe_contains(b, v) for v in vals)
    fp = sum(
        bloom_maybe_contains(b, f"absent-key-{i}") for i in range(5000)
    )
    assert fp / 5000 < 0.05
    # missing bloom answers True (never over-skip); all-null builds None
    assert bloom_maybe_contains(None, "z")
    assert bloom_build(pa.array([None], type=pa.string())) is None


@given(hst.lists(hst.binary(max_size=40), min_size=1, max_size=200))
@settings(max_examples=40, deadline=None)
def test_bloom_membership_property(vals):
    from choetl_spark.bloom import bloom_build, bloom_maybe_contains

    b = bloom_build(pa.array(vals, type=pa.binary()))
    assert all(bloom_maybe_contains(b, v) for v in vals)


def test_veclist_codec_roundtrip_bit_identical():
    """Vector codec: ragged lists, empty lists, top-level AND inner
    nulls, NaN/Inf float payloads, int lists — all bit-identical; the
    byte-plane shuffle beats the unshuffled layout after zstd on
    embedding-like data."""
    import numpy as np
    import pyarrow as pa

    from choetl_spark.codecs import decode_array, encode_array

    rng = np.random.default_rng(0)
    vals = [rng.normal(size=64).astype(np.float32).tolist()
            for _ in range(200)]
    vals[3] = []
    vals[5] = None
    vals[7] = [1.0, None, 3.0]
    vals[9] = [float("nan"), float("inf"), float("-inf")]
    arr = pa.array(vals, type=pa.list_(pa.float32()))
    payload, meta = encode_array(arr, codec="auto", zstd="auto")
    top = meta["child"] if meta["codec"] == "zstd" else meta
    assert top["codec"] == "veclist"
    out = decode_array(payload, meta)
    # bit identity including NaN payloads: compare raw value bits
    a_np = np.asarray(arr.flatten().fill_null(0)).view(np.uint32)
    o_np = np.asarray(out.flatten().fill_null(0)).view(np.uint32)
    assert (a_np == o_np).all()
    assert out.is_valid().equals(arr.is_valid())
    assert pa.compute.list_value_length(out).equals(
        pa.compute.list_value_length(arr)
    )

    ints = pa.array([[1, 2], [], [2**62, -5]], type=pa.list_(pa.int64()))
    p2, m2 = encode_array(ints, codec="auto", zstd="auto")
    assert decode_array(p2, m2).equals(ints)

    # shuffle helps on unit-norm float32 embeddings
    emb = pa.array(
        [
            (lambda v: (v / np.linalg.norm(v)).tolist())(
                rng.normal(size=64).astype(np.float32)
            )
            for _ in range(2000)
        ],
        type=pa.list_(pa.float32()),
    )
    pz, _ = encode_array(emb, codec="veclist", zstd="on")
    pn, _ = encode_array(emb, codec="veclist", zstd="on", shuffle=False)
    assert len(pz) < len(pn) < emb.nbytes


@pytest.mark.parametrize(
    "codec,values",
    [
        ("bitpack", lambda r: r.integers(0, 1000, 1000)),
        ("foref", lambda r: r.integers(10**6, 10**6 + 1000, 1000)),
        ("delta", lambda r: np.cumsum(r.integers(1, 50, 1000))),
        ("rle", lambda r: np.repeat(r.integers(0, 1000, 100), 10)),
    ],
)
def test_truncated_bitpacked_payload_raises(codec, values):
    """A bit-packed payload one byte short must raise, never decode
    to zero-padded values at the right length."""
    arr = pa.array(values(np.random.default_rng(7)))
    payload, meta = encode_array(arr, codec=codec, zstd="off")
    assert meta["codec"] == codec
    assert decode_array(payload, meta).equals(arr)
    with pytest.raises(ValueError, match="truncated"):
        decode_array(payload[:-1], meta)
