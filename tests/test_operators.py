"""Operator tests over the driver testdata (documents/embeddings/tpch)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from choetl_spark.operators import (
    compare_tables,
    connected_components,
    cosine_topk,
    cosine_topk_lsh,
    dedup_exact,
    dedup_exact_normalized,
    dedup_minhash,
    except_keys,
    left_join,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_near_pairs,
    simhash_signatures,
    top_k,
    with_fingerprint,
    with_lang_id,
    with_quality_score,
    with_seq_no,
    with_token_count,
)
from choetl_spark.operators.multimodal import (
    extract_features,
    fake_features,
    sample_frames,
    with_media_meta,
)
from choetl_spark.plans import assert_broadcast_join, assert_no_cartesian


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


# --- relational ------------------------------------------------------------


def test_compare_tables(spark):
    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id int, v string"
    )
    new = spark.createDataFrame(
        [(2, "b"), (3, "x"), (4, "d")], "id int, v string"
    )
    res = {r["id"]: r["status"] for r in compare_tables(old, new, ["id"]).collect()}
    assert res == {1: "Deleted", 2: "Unchanged", 3: "Changed", 4: "New"}


def test_left_join_broadcasts(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    j = left_join(orders, cust, "o_custkey")
    assert_broadcast_join(j)
    assert j.count() == orders.count()


def test_top_k_and_seq(spark, docs):
    t = top_k(docs, "n_chars", 5)
    rows = t.collect()
    assert len(rows) == 5
    assert rows[0]["n_chars"] >= rows[-1]["n_chars"]
    s = with_seq_no(docs.limit(10), ["doc_id"])
    assert [r["seq_no"] for r in s.orderBy("doc_id").collect()] == list(
        range(1, 11)
    )


def test_except_keys(spark):
    a = spark.createDataFrame([(1,), (2,), (3,)], "id int")
    b = spark.createDataFrame([(2,)], "id int")
    assert {r["id"] for r in except_keys(a, b, "id").collect()} == {1, 3}


# --- dedup -------------------------------------------------------------------


@pytest.fixture(scope="module")
def docs_with_dups(spark, docs):
    dups = docs.limit(20).withColumn("doc_id", F.col("doc_id") + 100000)
    return docs.unionByName(dups).cache()


def test_dedup_exact(docs_with_dups, docs):
    out = dedup_exact(docs_with_dups, ["text"], "doc_id")
    assert out.count() == docs.count()
    # kept ids are the original (lowest) ones
    assert out.filter(F.col("doc_id") >= 100000).count() == 0


def test_dedup_exact_normalized(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "other")],
        "doc_id long, text string",
    )
    out = dedup_exact_normalized(df, "text", "doc_id")
    assert {r["doc_id"] for r in out.collect()} == {1, 3}


def test_minhash_finds_exact_dups(spark, docs_with_dups, docs):
    sigs = minhash_signatures(docs_with_dups, "text", "doc_id", n_hashes=32)
    pairs = minhash_lsh_pairs(sigs, "doc_id", n_hashes=32, bands=8, threshold=0.9)
    found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    expect = {(i, i + 100000) for i in range(20)}
    assert expect <= found  # exact dups always collide in every band


def test_dedup_minhash_removes_dups(spark, docs_with_dups, docs):
    out = dedup_minhash(
        docs_with_dups, "text", "doc_id", n_hashes=32, bands=8, threshold=0.9
    )
    assert out.count() <= docs.count()
    assert out.filter(F.col("doc_id") >= 100000).count() == 0


def test_html_text_extraction(spark):
    from choetl_spark.operators import with_html_text

    rows = [
        (1, b"<html><head><title>T</title><script>var x=1; a<b;</script>"
            b"<style>p { color: red }</style></head>"
            b"<body><p>Hello  world</p><div>A &amp; B &lt;tag&gt;</div>"
            b"</body></html>"),
        (2, b"plain no tags"),
        (3, None),
    ]
    df = spark.createDataFrame(rows, "id int, html binary")
    got = {
        r["id"]: r["extracted"]
        for r in with_html_text(df, "html").collect()
    }
    assert got[1] == 'T Hello world A & B <tag>'
    assert got[2] == "plain no tags"
    assert got[3] is None
    # invariant vs the synthetic corpus: extraction recovers the source
    # text (plus the title token) for every page
    from choetl_spark.synth import webpages

    pages = webpages(spark, 50, partitions=2)
    bad = (
        with_html_text(pages, "html")
        .filter(
            ~F.col("extracted").endswith(F.col("text"))
        )
        .count()
    )
    assert bad == 0


def test_repetition_stats(spark):
    from choetl_spark.operators import with_repetition_stats

    rows = [
        (1, "a a b"),
        (2, "x"),
        (3, "p q p q p q"),
        (4, "all words unique here now"),
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    got = {
        r["id"]: (r["dup_word_frac"], r["dup_2gram_frac"])
        for r in with_repetition_stats(df, "text").collect()
    }
    assert got[1] == (round(1 - 2 / 3, 6), 0.0)
    assert got[2] == (0.0, 0.0)
    assert got[3] == (round(1 - 2 / 6, 6), round(1 - 2 / 5, 6))
    assert got[4] == (0.0, 0.0)


def test_pii_redaction(spark):
    from choetl_spark.operators import with_pii_redacted

    rows = [
        (1, "mail me at jo.doe+x@mail.example.org today"),
        (2, "call +44-207 555 0199 or 555 123 4567"),
        (3, "server at 192.168.1.17 port 80"),
        (4, "card 4111 1111 1111 1111 exp 11/29"),
        (5, "clean text, no pii at all"),
        (6, None),
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    got = {
        r["id"]: (r["redacted"], r["pii_hits"])
        for r in with_pii_redacted(df, "text").collect()
    }
    assert got[1] == ("mail me at <EMAIL> today", 1)
    assert got[2] == ("call <PHONE> or <PHONE>", 2)
    assert got[3] == ("server at <IP> port 80", 1)
    assert got[4] == ("card <CARD> exp 11/29", 1)
    assert got[5] == ("clean text, no pii at all", 0)
    assert got[6] == (None, None)


def _union_find_labels(n_nodes, edges):
    """Ground-truth component min-labels via a plain union-find."""
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in range(n_nodes)}


def test_connected_components_vs_union_find(spark):
    """large-star/small-star labels == union-find ground truth on a
    seeded random graph PLUS a 64-node path (the high-diameter shape
    that defeats fixed-round min-propagation)."""
    rng = np.random.default_rng(11)
    n = 200
    edges = [
        tuple(sorted(map(int, rng.integers(0, n, 2)))) for _ in range(250)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    chain_base = 1000
    edges += [(chain_base + i, chain_base + i + 1) for i in range(63)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["root"] for r in connected_components(df).collect()}
    truth = _union_find_labels(chain_base + 64, edges)
    nodes_with_edges = {x for e in edges for x in e}
    for node in nodes_with_edges:
        assert got.get(node, node) == truth[node], node
    for node, root in got.items():
        assert truth[node] == root


def test_simhash_near_pairs(spark, docs_with_dups):
    sigs = simhash_signatures(docs_with_dups, "text", "doc_id")
    pairs = simhash_near_pairs(sigs, "doc_id", max_hamming=0)
    found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    expect = {(i, i + 100000) for i in range(20)}
    assert expect <= found


def test_ngram_jaccard_on_pairs(spark, docs_with_dups):
    pairs = spark.createDataFrame(
        [(i, i + 100000) for i in range(5)], "id_a long, id_b long"
    )
    out = ngram_jaccard_pairs(docs_with_dups, pairs, "text", "doc_id")
    for r in out.collect():
        assert r["jaccard"] == 1.0  # exact dups


# --- similarity --------------------------------------------------------------


def test_cosine_topk_matches_numpy(spark, embs):
    rows = embs.orderBy("vec_id").collect()
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    q = mat[0]
    sims = mat @ q / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q) + 1e-12)
    order = np.argsort(-sims)[:10]
    expect = [int(rows[i]["vec_id"]) for i in order]
    got = [r["vec_id"] for r in cosine_topk(embs, list(map(float, q)), 10).collect()]
    assert got == expect


def test_cosine_topk_lsh_recall(spark, embs):
    rows = embs.orderBy("vec_id").limit(1).collect()
    q = list(map(float, rows[0]["embedding"]))
    exact = {r["vec_id"] for r in cosine_topk(embs, q, 10).collect()}
    approx = {
        r["vec_id"]
        for r in cosine_topk_lsh(
            embs, q, 10, n_planes=6, probe_hamming=2
        ).collect()
    }
    # ANN: decent recall on the easy self-query case
    assert len(exact & approx) >= 5
    assert rows[0]["vec_id"] in approx


# --- textstats ----------------------------------------------------------------


def test_token_count(spark):
    df = spark.createDataFrame([(1, "the cat sat, and sat!")], "id int, text string")
    r = with_token_count(df, "text").collect()[0]
    assert r["ws_tokens"] == 5
    assert r["re_tokens"] == 5


def test_quality_and_lang(docs):
    out = with_quality_score(with_lang_id(docs), "text")
    rows = out.select("quality", "lang_pred").collect()
    assert all(0.0 <= r["quality"] <= 1.0 for r in rows)
    assert all(r["lang_pred"] in {"en", "de", "fr", "es"} for r in rows)


def test_fingerprint_stable(spark):
    df = spark.createDataFrame(
        [(1, "A  b\tC"), (2, "a b c")], "id int, text string"
    )
    fps = [r["fingerprint"] for r in with_fingerprint(df, "text").collect()]
    assert fps[0] == fps[1]


# --- multimodal -----------------------------------------------------------------


def test_multimodal_plumbing(spark, docs):
    df = docs.limit(20).withColumn("payload", F.encode("text", "utf-8"))
    feats = extract_features(df, "payload", "doc_id", dim=8)
    rows = feats.collect()
    assert len(rows) == 20
    assert all(len(r["features"]) == 8 for r in rows)
    # deterministic: same payload → same features
    one = df.limit(1).collect()[0]
    f1 = fake_features(one["payload"], 8)
    f2 = fake_features(one["payload"], 8)
    assert np.allclose(f1, f2)

    frames = sample_frames(df, "payload", "doc_id", every_n=5)
    assert frames.count() > 0
    assert frames.columns == ["doc_id", "frame_idx", "frame"]

    meta = with_media_meta(df, "payload")
    m = meta.select("media_meta").limit(1).collect()[0]["media_meta"]
    assert m["media_type"] == "text/html"


def _make_ppm(img: np.ndarray, comment: bool = False) -> bytes:
    h, w, _ = img.shape
    head = b"P6\n" + (b"# a comment\n" if comment else b"")
    return head + f"{w} {h}\n255\n".encode() + img.tobytes()


def _make_bmp24(img: np.ndarray, top_down: bool = False) -> bytes:
    h, w, _ = img.shape
    stride = (w * 3 + 3) & ~3
    rows = np.zeros((h, stride), dtype=np.uint8)
    bgr = img[:, :, ::-1]
    data = bgr if top_down else bgr[::-1]
    rows[:, : w * 3] = data.reshape(h, w * 3)
    pix = rows.tobytes()
    dib = (
        (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + (h if not top_down else -h).to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")  # BI_RGB
        + len(pix).to_bytes(4, "little")
        + b"\x00" * 16
    )
    off = 14 + len(dib)
    head = (
        b"BM"
        + (off + len(pix)).to_bytes(4, "little")
        + b"\x00" * 4
        + off.to_bytes(4, "little")
    )
    return head + dib + pix


def _make_png(px: np.ndarray, ctype: int = 2, filters=None) -> bytes:
    """Minimal PNG encoder for the test: 8-bit, non-interlaced, one IDAT,
    per-row filter types as given (default cycles through all five so the
    decoder's every unfilter path is exercised). ``px`` is HxWxC uint8
    matching ``ctype`` (0 gray, 2 RGB, 4 gray+alpha, 6 RGBA)."""
    import struct
    import zlib

    h, w = px.shape[:2]
    ch = px.shape[2] if px.ndim == 3 else 1
    flat = px.reshape(h, w * ch).astype(np.int64)
    filters = filters if filters is not None else [
        y % 5 for y in range(h)
    ]
    raw = bytearray()
    prior = np.zeros(w * ch, np.int64)
    for y in range(h):
        f = filters[y]
        rec = flat[y]
        if f == 0:
            filt = rec
        elif f == 1:
            a = np.concatenate([np.zeros(ch, np.int64), rec[:-ch]])
            filt = (rec - a) & 0xFF
        elif f == 2:
            filt = (rec - prior) & 0xFF
        elif f == 3:
            a = np.concatenate([np.zeros(ch, np.int64), rec[:-ch]])
            filt = (rec - ((a + prior) >> 1)) & 0xFF
        else:  # Paeth
            filt = np.empty(w * ch, np.int64)
            for x in range(w * ch):
                a = rec[x - ch] if x >= ch else 0
                b = prior[x]
                c = prior[x - ch] if x >= ch else 0
                p = a + b - c
                pa_, pb, pc_ = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa_ <= pb and pa_ <= pc_) else (
                    b if pb <= pc_ else c
                )
                filt[x] = (rec[x] - pred) & 0xFF
        raw.append(f)
        raw.extend(filt.astype(np.uint8).tobytes())
        prior = rec

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_decode_image_real_for_uncompressed_formats():
    """PPM(P6), 24-bit BMP and 8-bit PNG decode to exact pixels with
    numpy/stdlib alone — odd width exercises BMP row padding, both BMP
    row orders covered, PNG rows cycle through all five scanline
    filters; WebP stays gated behind NotImplementedError."""
    from choetl_spark.operators.multimodal import decode_image

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, size=(5, 7, 3), dtype=np.uint8)  # odd width
    assert np.array_equal(decode_image(_make_ppm(img)), img)
    assert np.array_equal(decode_image(_make_ppm(img, comment=True)), img)
    assert np.array_equal(decode_image(_make_bmp24(img)), img)
    assert np.array_equal(decode_image(_make_bmp24(img, top_down=True)), img)
    with pytest.raises(NotImplementedError):
        decode_image(b"RIFF\x00\x00\x00\x00WEBP")  # WebP magic


def test_decode_image_png_all_filters_and_color_types():
    """The stdlib PNG path: every scanline filter (0-4) and the four
    non-palette color types round-trip bit-exact; gray expands to RGB
    and alpha is dropped, so the output contract stays HxWx3."""
    from choetl_spark.operators.multimodal import decode_image

    rng = np.random.default_rng(7)
    rgb = rng.integers(0, 256, size=(7, 5, 3), dtype=np.uint8)
    assert np.array_equal(decode_image(_make_png(rgb, ctype=2)), rgb)
    # each filter type alone (uniform-filter images catch a filter whose
    # bug cancels out in the mixed cycle)
    for f in range(5):
        assert np.array_equal(
            decode_image(_make_png(rgb, ctype=2, filters=[f] * 7)), rgb
        )
    gray = rng.integers(0, 256, size=(4, 6, 1), dtype=np.uint8)
    out = decode_image(_make_png(gray, ctype=0))
    assert np.array_equal(out, np.repeat(gray, 3, axis=2))
    rgba = rng.integers(0, 256, size=(4, 6, 4), dtype=np.uint8)
    assert np.array_equal(
        decode_image(_make_png(rgba, ctype=6)), rgba[:, :, :3]
    )
    ga = rng.integers(0, 256, size=(4, 6, 2), dtype=np.uint8)
    assert np.array_equal(
        decode_image(_make_png(ga, ctype=4)),
        np.repeat(ga[:, :, :1], 3, axis=2),
    )


def _handmade_dc_only_jpeg(dc: int = 5, q00: int = 5) -> bytes:
    """A single-8x8-block grayscale baseline JPEG built BY HAND from the
    T.81 spec (markers + manually packed bit stream), independent of
    our encoder: DC category 3 (Annex K luma code '100'), magnitude
    bits '101' (diff=+5), then EOB ('1010'). Decoded block is the
    closed form clip(round(dc*q00/8 + 128)) — for (5,5): 131."""
    import struct as _s

    from choetl_spark.operators.jpeg_py import (
        K3_AC_LUMA,
        K3_DC_LUMA,
        _ZZ,
    )

    assert (dc, q00) == (5, 5), "bit stream below is packed for (5,5)"
    q = np.full((8, 8), 13, dtype=np.uint8)
    q[0, 0] = q00
    zz = q.reshape(-1)[_ZZ].tobytes()
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + _s.pack(">H", 67) + b"\x00" + zz
    out += b"\xff\xc0" + _s.pack(">H", 11) + _s.pack(
        ">BHHB", 8, 8, 8, 1
    ) + bytes([1, 0x11, 0])
    for tc, (bits, vals) in ((0, K3_DC_LUMA), (1, K3_AC_LUMA)):
        body = bytes([tc << 4]) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + _s.pack(">H", 2 + len(body)) + body
    out += b"\xff\xda" + _s.pack(">H", 8) + bytes([1, 1, 0x00, 0, 63, 0])
    # bits: 100 101 1010 + six 1-padding bits = 0x96 0xBF
    out += bytes([0x96, 0xBF])
    out += b"\xff\xd9"
    return bytes(out)


def test_decode_image_jpeg_baseline():
    """Baseline JPEG decode (numpy Huffman+IDCT, operators/jpeg_py.py):
    a hand-packed DC-only stream matches the T.81 closed form exactly;
    flat-per-block images with Q[0,0]=8 round-trip LOSSLESSLY through
    our encoder (DC quantizes exactly, IDCT of DC-only is flat); smooth
    gradients survive the default Annex K tables within tight bounds;
    4:2:0/4:2:2 subsampling, odd dimensions, and restart markers all
    decode; progressive (SOF2) raises the honest gate."""
    from choetl_spark.operators.jpeg_py import (
        K1_LUMA,
        decode_jpeg,
        encode_jpeg,
    )
    from choetl_spark.operators.multimodal import decode_image

    # 1. hand-built spec anchor: every pixel == round(5*5/8 + 128) = 131
    out = decode_image(_handmade_dc_only_jpeg())
    assert out.shape == (8, 8, 3)
    assert np.array_equal(out, np.full((8, 8, 3), 131, dtype=np.uint8))

    # 2. flat-per-block grayscale, Q[0,0]=8: lossless round trip
    q = K1_LUMA.copy()
    q[0, 0] = 8
    img = np.zeros((16, 24), dtype=np.uint8)
    for i, v in enumerate([10, 130, 250, 99, 7, 201]):
        by, bx = divmod(i, 3)
        img[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8] = v
    got = decode_image(encode_jpeg(img, qtable_luma=q))
    assert np.array_equal(got[..., 0], img)
    assert np.array_equal(got[..., 1], img)  # gray replicates to RGB

    # 3. smooth grayscale gradient, default tables: small bounded loss
    g = np.add.outer(np.arange(32) * 3, np.arange(48) * 2).astype(
        np.uint8
    )
    err = np.abs(
        decode_jpeg(encode_jpeg(g))[..., 0].astype(int) - g.astype(int)
    )
    assert err.max() <= 6

    # 4. color: neutral gradient as RGB (chroma flat) stays tight
    rgb = np.stack([g, g, g], axis=-1)
    err = np.abs(
        decode_jpeg(encode_jpeg(rgb, subsampling="444")).astype(int)
        - rgb.astype(int)
    )
    assert err.max() <= 4

    # 5. 4:2:0 + odd dims + restart markers, and 4:2:2
    rgb2 = np.zeros((19, 21, 3), dtype=np.uint8)
    for c in range(3):
        rgb2[..., c] = (
            np.add.outer(np.arange(19) * 4, np.arange(21) * 3) + 30 * c
        ) % 200 + 20
    for sub, rst in (("420", 2), ("422", 0)):
        dec = decode_jpeg(
            encode_jpeg(rgb2, subsampling=sub, restart_interval=rst)
        )
        assert dec.shape == rgb2.shape
        assert np.abs(dec.astype(int) - rgb2.astype(int)).max() <= 12

    # 6. progressive stays honestly gated
    prog = bytearray(encode_jpeg(g))
    idx = bytes(prog).find(b"\xff\xc0")
    prog[idx + 1] = 0xC2  # rewrite SOF0 -> SOF2
    with pytest.raises(NotImplementedError, match="progressive"):
        decode_jpeg(bytes(prog))


def test_jpeg_fill_bytes_and_non_interleaved_scan():
    """Streams derived from the in-repo encoder: 0xFF fill bytes before
    any marker (T.81 B.1.1.2) decode equal to the original, and a scan
    rewritten to cover one of three components (the non-interleaved
    layout, one scan per component) raises instead of decoding the
    interleaved data as garbage."""
    import struct

    from choetl_spark.operators.jpeg_py import decode_jpeg, encode_jpeg

    g = np.add.outer(np.arange(19) * 4, np.arange(21) * 3).astype(np.uint8)
    rgb = np.stack([g, g // 2, 255 - g], axis=-1)
    jpg = encode_jpeg(rgb, subsampling="420", restart_interval=2)
    ref = decode_jpeg(jpg)
    for marker in (b"\xff\xdb", b"\xff\xc0", b"\xff\xc4", b"\xff\xdd",
                   b"\xff\xda", b"\xff\xd9"):
        i = jpg.find(marker)
        filled = jpg[:i] + b"\xff\xff" + jpg[i:]
        assert np.array_equal(decode_jpeg(filled), ref), marker

    i = jpg.find(b"\xff\xda")
    (seglen,) = struct.unpack(">H", jpg[i + 2:i + 4])
    ns = jpg[i + 4]
    assert ns == 3
    seg = jpg[i + 4:i + 2 + seglen]
    one = (
        b"\xff\xda" + struct.pack(">H", 8) + bytes([1]) + seg[1:3]
        + seg[1 + 2 * ns:]
    )
    with pytest.raises(NotImplementedError, match="non-interleaved"):
        decode_jpeg(jpg[:i] + one + jpg[i + 2 + seglen:])


def test_decode_image_png_16bit_and_adam7():
    """16-bit PNG (high-byte scaling) and Adam7-interlaced PNG decode
    — fixtures built BY HAND from the RFC 2083 pass layout with numpy
    slicing, independent of our (non-interlaced, 8-bit) encoder."""
    import struct
    import zlib

    from choetl_spark.operators.multimodal import decode_image

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data))
        )

    def png(w, h, depth, ctype, raw, interlace=0):
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(
                b"IHDR",
                struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0,
                            interlace),
            )
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b"")
        )

    rng = np.random.default_rng(11)
    # --- 16-bit RGB, filter 0 rows: decode keeps the high byte
    h16, w16 = 5, 7
    hi = rng.integers(0, 256, size=(h16, w16, 3), dtype=np.uint16)
    lo = rng.integers(0, 256, size=(h16, w16, 3), dtype=np.uint16)
    samples = (hi << 8) | lo
    raw = b"".join(
        b"\x00" + samples[y].astype(">u2").tobytes() for y in range(h16)
    )
    out = decode_image(png(w16, h16, 16, 2, raw))
    assert np.array_equal(out, hi.astype(np.uint8))

    # --- Adam7 RGB: serialize the 7 passes (filter 0) from a known
    # image using the spec layout, decode must reassemble it exactly;
    # odd dims exercise empty/ragged passes
    for hh, ww in ((9, 11), (3, 2), (1, 1), (8, 8)):
        img = rng.integers(0, 256, size=(hh, ww, 3), dtype=np.uint8)
        passes = []
        for x0, y0, dx, dy in [
            (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
            (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
        ]:
            sub = img[y0::dy, x0::dx]
            if sub.size == 0:
                continue
            for y in range(sub.shape[0]):
                passes.append(b"\x00" + sub[y].tobytes())
        out = decode_image(png(ww, hh, 8, 2, b"".join(passes), 1))
        assert np.array_equal(out, img), (hh, ww)

    # --- Adam7 grayscale with non-zero filters inside a pass: Sub(1)
    # and Up(2) per-pass unfiltering
    img = rng.integers(0, 256, size=(10, 10, 1), dtype=np.uint8)
    passes = []
    for x0, y0, dx, dy in [
        (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
        (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
    ]:
        sub = img[y0::dy, x0::dx, 0].astype(np.int64)
        if sub.size == 0:
            continue
        prior = np.zeros(sub.shape[1], np.int64)
        for y in range(sub.shape[0]):
            row = sub[y]
            if y % 2 == 0:  # Sub
                filt = (row - np.concatenate(([0], row[:-1]))) & 0xFF
                passes.append(b"\x01" + filt.astype(np.uint8).tobytes())
            else:  # Up
                filt = (row - prior) & 0xFF
                passes.append(b"\x02" + filt.astype(np.uint8).tobytes())
            prior = row
    out = decode_image(png(10, 10, 8, 0, b"".join(passes), 1))
    assert np.array_equal(out, np.repeat(img, 3, axis=2))


def test_jpeg_roundtrip_property():
    """Property sweep of the baseline JPEG codec: arbitrary small
    dimensions (including 1-pixel edges and non-multiple-of-8/16
    sizes), gray + RGB, every subsampling mode, with/without restart
    markers — decode never crashes, shapes are exact, and smooth
    content stays within JPEG-loss bounds."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from choetl_spark.operators.jpeg_py import decode_jpeg, encode_jpeg

    @settings(max_examples=25, deadline=None)
    @given(
        h=st.integers(min_value=1, max_value=40),
        w=st.integers(min_value=1, max_value=40),
        color=st.booleans(),
        sub=st.sampled_from(["444", "422", "420"]),
        rst=st.sampled_from([0, 1, 3]),
        seed=st.integers(min_value=0, max_value=2**31 - 1),
    )
    def roundtrip(h, w, color, sub, rst, seed):
        rng = np.random.default_rng(seed)
        ramp = np.add.outer(
            np.arange(h, dtype=float), np.arange(w, dtype=float)
        )
        # genuinely smooth content (no value wraps: a modulo sawtooth
        # is a 200-level step edge, and JPEG legitimately rings ~70
        # levels there — verified q=1 decodes it exactly)
        base = 20 + ramp * (160.0 / max(ramp.max(), 1.0)) + float(
            rng.integers(0, 40)
        )
        if color:
            px = np.stack(
                [np.clip(base + 15 * c, 0, 255) for c in range(3)],
                axis=-1,
            ).astype(np.uint8)
        else:
            px = np.clip(base, 0, 255).astype(np.uint8)
        out = decode_jpeg(
            encode_jpeg(px, subsampling=sub, restart_interval=rst)
        )
        assert out.shape == (h, w, 3)
        ref = px if color else np.stack([px] * 3, axis=-1)
        err = np.abs(out.astype(int) - ref.astype(int)).max()
        # smooth gradients under the Annex K tables: generous but
        # real bound (chroma subsampling + edge padding included)
        assert err <= 40

    roundtrip()


def _make_wav(
    freq: float = 440.0,
    rate: int = 8000,
    sec: float = 0.5,
    channels: int = 1,
    width: int = 2,
) -> bytes:
    import io
    import wave

    n = int(rate * sec)
    t = np.arange(n) / rate
    x = np.sin(2 * np.pi * freq * t)
    if width == 2:
        pcm = (x * 32000).astype("<i2")
    elif width == 1:
        pcm = (x * 120 + 128).astype(np.uint8)
    else:
        pcm = (x * 2e9).astype("<i4")
    if channels == 2:
        pcm = np.repeat(pcm, 2)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(channels)
        wf.setsampwidth(width)
        wf.setframerate(rate)
        wf.writeframes(pcm.tobytes())
    return buf.getvalue()


def test_decode_audio_wav_pcm():
    """RIFF/WAVE PCM decodes exactly (16/8-bit, mono/stereo) with the
    stdlib alone; compressed audio stays gated."""
    from choetl_spark.operators.multimodal import decode_audio

    x, rate = decode_audio(_make_wav(rate=8000, sec=0.25))
    assert rate == 8000 and x.shape == (2000, 1)
    assert x.dtype == np.float32 and np.abs(x).max() <= 1.0
    x2, _ = decode_audio(_make_wav(channels=2))
    assert x2.shape[1] == 2
    assert np.allclose(x2[:, 0], x2[:, 1])  # duplicated channels
    x8, _ = decode_audio(_make_wav(width=1))
    assert np.abs(x8).max() <= 1.0
    with pytest.raises(NotImplementedError):
        decode_audio(b"ID3\x04\x00\x00")  # MP3 magic
    with pytest.raises(NotImplementedError):
        decode_audio(b"OggS\x00")
    # non-PCM RIFF/WAVE (IEEE float, fmt code 3) must hit the SAME gate,
    # not leak a bare wave.Error into the Spark task
    float_wav = (
        b"RIFF" + (36).to_bytes(4, "little") + b"WAVEfmt "
        + (16).to_bytes(4, "little")
        + (3).to_bytes(2, "little")   # WAVE_FORMAT_IEEE_FLOAT
        + (1).to_bytes(2, "little")
        + (8000).to_bytes(4, "little")
        + (32000).to_bytes(4, "little")
        + (4).to_bytes(2, "little")
        + (32).to_bytes(2, "little")
        + b"data" + (0).to_bytes(4, "little")
    )
    with pytest.raises(NotImplementedError, match="non-PCM"):
        decode_audio(float_wav)


def test_audio_features_spectral():
    """The rFFT features recover the planted tone: centroid ~= the sine
    frequency, ZCR ~= 2f/rate, duration exact."""
    from choetl_spark.operators.multimodal import audio_features

    f = audio_features(_make_wav(freq=440.0, rate=8000, sec=0.5))
    assert f["sample_rate"] == 8000
    assert f["n_samples"] == 4000
    assert abs(f["duration_sec"] - 0.5) < 1e-9
    assert abs(f["centroid_hz"] - 440.0) < 15.0
    assert abs(f["zcr"] - 2 * 440.0 / 8000) < 0.01
    assert abs(f["rms"] - (32000 / 32768) / np.sqrt(2)) < 0.01
    # the band containing 440 Hz dominates
    assert np.argmax(f["bands"]) == int(
        np.searchsorted(np.geomspace(20.0, 4000.0, 9), 440.0) - 1
    )


def test_extract_audio_features_spark(spark):
    from choetl_spark.operators.multimodal import extract_audio_features

    rows = [
        (1, _make_wav(freq=200.0)), (2, _make_wav(freq=1000.0)), (3, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {
        r["doc_id"]: r
        for r in extract_audio_features(df, "payload", "doc_id").collect()
    }
    assert set(out) == {1, 2}  # null payloads drop
    assert out[1]["centroid_hz"] < out[2]["centroid_hz"]
    assert all(len(out[k]["bands"]) == 8 for k in out)


def test_no_cartesian_in_lsh(spark, embs):
    q = [0.1] * len(embs.limit(1).collect()[0]["embedding"])
    df = cosine_topk_lsh(embs, q, 5)
    assert_no_cartesian(df)


def test_embedding_neardup_and_dedup(spark):
    import numpy as np

    rng = np.random.default_rng(3)
    base = rng.standard_normal(16)
    rows = []
    for i in range(20):
        v = base + rng.standard_normal(16) * (0.01 if i < 5 else 10.0)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    from choetl_spark.operators import (
        dedup_embedding_cosine,
        embedding_neardup_pairs,
    )

    pairs = embedding_neardup_pairs(df, threshold=0.95).collect()
    near_ids = {r["id_a"] for r in pairs} | {r["id_b"] for r in pairs}
    assert near_ids == {0, 1, 2, 3, 4}  # the 5 jittered copies of base
    kept = dedup_embedding_cosine(df, threshold=0.95)
    ids = {r["vec_id"] for r in kept.collect()}
    assert 0 in ids and len(ids) == 16  # one survivor of the clone group
    # LSH-bucketed variant finds the same tight cluster
    pairs_lsh = embedding_neardup_pairs(
        df, threshold=0.95, use_lsh=True, n_planes=4
    ).collect()
    assert {r["id_a"] for r in pairs_lsh} | {r["id_b"] for r in pairs_lsh} == {
        0, 1, 2, 3, 4,
    }


def test_ivf_ann_recall(spark):
    import numpy as np

    rng = np.random.default_rng(11)
    centers = rng.standard_normal((4, 12)) * 5
    rows = []
    for i in range(200):
        c = i % 4
        rows.append((i, [float(x) for x in centers[c] + rng.standard_normal(12) * 0.3]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    from choetl_spark.operators import (
        cosine_topk,
        cosine_topk_ivf,
        ivf_train_centroids,
        with_ivf_cluster,
    )

    cents = ivf_train_centroids(df, n_clusters=4, sample_rows=200, seed=7)
    assert cents.shape == (4, 12)
    # cluster assignment is total and in range
    cl = with_ivf_cluster(df, cents)
    assert cl.filter("ivf_cluster < 0 OR ivf_cluster > 3").count() == 0
    q = rows[0][1]
    exact = [r["vec_id"] for r in cosine_topk(df, q, k=10).collect()]
    approx = [
        r["vec_id"]
        for r in cosine_topk_ivf(df, q, cents, k=10, n_probe=2).collect()
    ]
    # probing half the clusters on well-separated data: high recall
    assert len(set(exact) & set(approx)) >= 8


def test_winnowing_fingerprints(spark):
    from choetl_spark.operators import winnowing_fingerprints

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "a completely different sentence altogether here"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: set(r["fingerprints"]) for r in
           winnowing_fingerprints(df, "text", "doc_id").collect()}
    assert out[1] == out[2]  # identical docs -> identical fingerprint sets
    assert out[1] != out[3]
    # overlap-based containment: shared substring -> shared fingerprints
    df2 = spark.createDataFrame(
        [(4, "prefix junk THEN the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    out4 = {r["doc_id"]: set(r["fingerprints"]) for r in
            winnowing_fingerprints(df2, "text", "doc_id").collect()}
    assert len(out[1] & out4[4]) > 0


# ---------------------------------------------------------------------------
# golden pins: the vectorized batch kernels must stay byte-identical to the
# scalar reference formulations (independent re-implementations kept in
# dedup._rolling_hashes/_shingle_hashes)
# ---------------------------------------------------------------------------

_GOLD_TEXTS = [
    "the quick brown fox jumps over the lazy dog",
    "a",
    "",
    "hello hello hello hello",
    "pack my box with five dozen liquor jugs 0123456789",
    "élève naïve résumé 中文 русский",
]
# first doc's 16-hash minhash signature (seed 42, k=5), captured from the
# round-1 scalar implementation before vectorizing
_GOLD_MINHASH_ROW0 = [
    115985141483318692, 28114043922200551, 143217876424581067,
    15654985555661377, 21292975623694428, 89868645266859749,
    69539902612416219, 4936609761954424, 13776647838817355,
    32882885793618512, 8124221233169224, 2297319517202105,
    111516490091747288, 34079570494005312, 30030462393813102,
    10961104791629489,
]
_GOLD_SIMHASH = [
    -7599173451206567146, 5234443914831993451, 1557189942547607808,
    -9157723495791066573, -7580029862846887742, -7474224949283946368,
]
_GOLD_WINNOW_ROW0 = [
    50041765723224016, 272267430380485925, 272267430380485930,
    1448106193143926670, 1938890019404177682, 3020893739071947619,
    3789139491201631974, 3797467378296745833,
]


def _gold_df(spark):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(_GOLD_TEXTS)], "doc_id long, text string"
    )


def test_minhash_signature_golden(spark):
    rows = {
        r["doc_id"]: r["signature"]
        for r in minhash_signatures(
            _gold_df(spark), "text", "doc_id", n_hashes=16
        ).collect()
    }
    assert rows[0] == _GOLD_MINHASH_ROW0
    # scalar cross-check for every doc
    from choetl_spark.operators.dedup import (
        _MERSENNE, _minhash_params, _shingle_hashes,
    )

    a_p, b_p = _minhash_params(16, 42)
    for i, t in enumerate(_GOLD_TEXTS):
        sh = (_shingle_hashes(t, 5).astype(np.int64) % _MERSENNE).astype(
            np.int64
        )
        vals = (
            sh[None, :].astype(np.uint64) * a_p[:, None].astype(np.uint64)
            + b_p[:, None].astype(np.uint64)
        ) % np.uint64(_MERSENNE)
        assert rows[i] == vals.min(axis=1).astype(np.int64).tolist()


def test_simhash_signature_golden(spark):
    rows = {
        r["doc_id"]: r["simhash"]
        for r in simhash_signatures(_gold_df(spark), "text", "doc_id").collect()
    }
    assert [rows[i] for i in range(len(_GOLD_TEXTS))] == _GOLD_SIMHASH


def test_winnowing_golden(spark):
    from choetl_spark.operators import winnowing_fingerprints
    from choetl_spark.operators.dedup import _rolling_hashes

    rows = {
        r["doc_id"]: r["fingerprints"]
        for r in winnowing_fingerprints(
            _gold_df(spark), "text", "doc_id"
        ).collect()
    }
    assert rows[0] == _GOLD_WINNOW_ROW0
    # scalar cross-check (independent sliding-window-min formulation)
    for i, t in enumerate(_GOLD_TEXTS):
        hs = _rolling_hashes(t, 5)
        if len(hs) >= 8:
            mins = np.lib.stride_tricks.sliding_window_view(hs, 8).min(axis=1)
        else:
            mins = hs
        assert rows[i] == np.unique(mins).astype(np.int64).tolist()


def test_kernel_byte_budget_slicing_identical():
    """The per-slice memory cap must not change window hashes: slicing
    a batch at a tiny byte budget and concatenating per-slice results
    must equal the unsliced computation (kernel-level check — the
    Spark kernels consume _iter_batch_slices verbatim)."""
    import pyarrow as pa

    import choetl_spark.operators.dedup as dd

    texts = [("word%d " % i) * (5 + i % 37) for i in range(200)]
    batch = pa.RecordBatch.from_arrays(
        [pa.array(list(range(200)), type=pa.int64()), pa.array(texts)],
        names=["doc_id", "text"],
    )
    h_all, seg_all = dd._batch_window_hashes(batch.column(1), 5)
    pieces = list(dd._iter_batch_slices(batch, budget=1024))
    assert len(pieces) > 5  # the budget really split the batch
    hs = []
    for p in pieces:
        h, _ = dd._batch_window_hashes(p.column(1), 5)
        hs.append(h)
    assert np.array_equal(np.concatenate(hs), h_all)
    # row alignment preserved across slices
    ids = [i for p in pieces for i in p.column(0).to_pylist()]
    assert ids == list(range(200))


# --- web-URL ops -----------------------------------------------------------


def test_url_parts_and_canonical(spark):
    from choetl_spark.operators import with_url_canonical, with_url_parts

    urls = [
        "HTTPS://u:pw@WWW.News.Example.COM:443/a/b/?id=7&utm_source=f#top",
        "http://example.org:8080/path",
        "https://blog.example.net/x/y?utm_campaign=z&gclid=123",
        "https://example.com",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    parts = {
        r["url"]: r.asDict() for r in with_url_parts(df).collect()
    }
    p0 = parts[urls[0]]
    assert p0["scheme"] == "https"
    assert p0["host"] == "www.news.example.com"  # userinfo+port gone
    assert p0["port"] == "443"
    assert p0["path"] == "/a/b/"
    assert p0["query"] == "id=7&utm_source=f"
    assert p0["registered_domain"] == "example.com"
    p3 = parts[urls[3]]
    assert p3["path"] == "" and p3["port"] == "" and p3["query"] == ""

    canon = {
        r["url"]: r["url_canon"]
        for r in with_url_canonical(df).collect()
    }
    # default port + userinfo + fragment + utm param + trailing slash gone
    assert canon[urls[0]] == "https://www.news.example.com/a/b?id=7"
    assert canon[urls[1]] == "http://example.org:8080/path"  # non-default kept
    assert canon[urls[2]] == "https://blog.example.net/x/y"  # query emptied
    assert canon[urls[3]] == "https://example.com/"  # empty path -> /


def test_domain_stats(spark):
    from choetl_spark.operators import domain_stats

    df = spark.createDataFrame(
        [
            ("https://a.example.com/1", "xx"),
            ("https://b.example.com/2", "yyyy"),
            ("https://other.org/3", "zzz"),
        ],
        "url string, text string",
    )
    rows = {
        r["registered_domain"]: r.asDict()
        for r in domain_stats(df).collect()
    }
    assert rows["example.com"]["n_pages"] == 2
    assert rows["example.com"]["n_hosts"] == 2
    assert rows["example.com"]["total_chars"] == 6
    assert rows["other.org"]["n_pages"] == 1


# --- corpus curation ops ---------------------------------------------------


def test_dedup_lines_removes_boilerplate(spark):
    from choetl_spark.operators import dedup_lines

    # 8 docs share header/footer; each has one unique middle line;
    # doc 7 is ALL boilerplate
    rows = []
    for i in range(8):
        mid = f"unique line {i}" if i < 7 else "HEADER"
        rows.append((i, f"HEADER\n{mid}\nFOOTER"))
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: r.asDict() for r in dedup_lines(df, max_docs=5).collect()}
    assert len(out) == 8  # every input doc present
    for i in range(7):
        assert out[i]["text_clean"] == f"unique line {i}"
        assert out[i]["n_lines"] == 3 and out[i]["n_removed"] == 2
    assert out[7]["text_clean"] == "" and out[7]["n_removed"] == 3
    # nothing removed when threshold exceeds corpus size
    untouched = dedup_lines(df, max_docs=100).collect()
    assert all(r["n_removed"] == 0 for r in untouched)
    assert all(
        r["text_clean"].count("\n") == 2 for r in untouched
    )  # byte-identical rebuild


def test_dedup_lines_preserves_blank_lines_and_literal_sep(spark):
    """Review-finding pins: (a) blank lines ('' from paragraph breaks)
    are never boilerplate even when every doc has them — stripping them
    corpus-wide would merge paragraphs; (b) a regex-metachar separator
    is treated literally in both split and rebuild."""
    from choetl_spark.operators import dedup_lines

    rows = [(i, f"para a {i}\n\npara b {i}") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: r.asDict() for r in dedup_lines(df, max_docs=3).collect()}
    for i in range(10):
        assert out[i]["text_clean"] == f"para a {i}\n\npara b {i}"
        assert out[i]["n_removed"] == 0  # the shared '' line survived

    # '|' would split between every character if treated as a regex
    df2 = spark.createDataFrame(
        [(0, "a|b|c"), (1, "a|x|c"), (2, "a|y|c")],
        "doc_id int, text string",
    )
    out2 = {
        r["doc_id"]: r.asDict()
        for r in dedup_lines(df2, max_docs=2, sep="|").collect()
    }
    assert out2[0]["n_lines"] == 3
    assert out2[0]["text_clean"] == "b"  # shared 'a'/'c' removed
    assert out2[1]["text_clean"] == "x"


def test_decontaminate_flags_eval_overlap(spark):
    from choetl_spark.operators import decontaminate
    from choetl_spark.plans import assert_broadcast_join

    words = lambda k, n: " ".join(f"w{k}_{j}" for j in range(n))  # noqa: E731
    train = spark.createDataFrame(
        [
            (0, words(0, 20)),                      # clean
            (1, words(9, 10) + " " + words(1, 8)),  # contains eval 9 prefix
            (2, words(2, 6)),                       # shorter than n -> clean
        ],
        "doc_id int, text string",
    )
    evals = spark.createDataFrame(
        [(words(9, 12),)], "text string"
    )
    out = {r["doc_id"]: r.asDict() for r in decontaminate(train, evals).collect()}
    assert not out[0]["contaminated"]
    assert out[1]["contaminated"] and out[1]["n_matched"] == 3
    assert not out[2]["contaminated"] and out[2]["n_matched"] == 0
    assert_broadcast_join(decontaminate(train, evals))
    # the corpus-gram side must reach the broadcast join WITHOUT an
    # exchange (review-finding pin: no corpus-wide distinct pre-join).
    # In the plan tree the streamed subtree prints between the
    # BroadcastHashJoin line and its BroadcastExchange sibling.
    plan = (
        decontaminate(train, evals)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    lines = plan.splitlines()
    start = next(i for i, l in enumerate(lines) if "BroadcastHashJoin" in l)
    end = next(
        i for i, l in enumerate(lines) if "BroadcastExchange" in l
    )
    assert start < end
    streamed = lines[start + 1 : end]
    assert not any("Exchange" in l for l in streamed), plan


def test_pack_shards_next_fit(spark):
    from choetl_spark.operators import pack_shards

    df = spark.createDataFrame(
        [(i, 60) for i in range(20)], "doc_id int, tokens int"
    )
    out = pack_shards(df, "tokens", budget=100, n_writers=4).collect()
    assert len(out) == 20
    by_doc = {r["doc_id"]: r for r in out}
    # writer = doc_id % 4; within writer 0: docs 0,4,8,12,16 with
    # cum_before 0,60,120,180,240 -> shards 0,0,1,1,2
    for doc, shard in [(0, 0), (4, 0), (8, 1), (12, 1), (16, 2)]:
        assert by_doc[doc]["writer"] == 0
        assert by_doc[doc]["shard"] == shard
    # every (writer, shard) holds at most ceil-ish budget: next-fit can
    # straddle once, so the sum before the last doc is < budget
    import collections

    groups = collections.defaultdict(list)
    for r in out:
        groups[(r["writer"], r["shard"])].append(r["tokens"])
    for toks in groups.values():
        assert sum(toks[:-1]) < 100


def test_pack_shards_dense_ids_with_overweight_doc(spark):
    """A document heavier than the budget must not leave gaps in the
    per-writer shard numbering (review-finding pin): weights 250,10,10
    at budget 100 give raw buckets 0,2,2 — dense ids must be 0,1,1."""
    from choetl_spark.operators import pack_shards

    df = spark.createDataFrame(
        [(0, 250), (4, 10), (8, 10)], "doc_id int, tokens int"
    )
    out = sorted(
        pack_shards(df, "tokens", budget=100, n_writers=4).collect(),
        key=lambda r: r["doc_id"],
    )
    assert [r["writer"] for r in out] == [0, 0, 0]
    assert [r["shard"] for r in out] == [0, 1, 1]


def test_url_canonical_edge_cases(spark):
    """Regression pins for three review findings: a '?' inside an
    SPA-style fragment must not resurrect as a query; tracking-param
    removal must not match substrings of legit param names; scheme-less
    input passes through verbatim instead of collapsing to ':///'."""
    from choetl_spark.operators import with_url_canonical, with_url_parts

    urls = [
        "https://e.com/p#/route?tab=2",       # '?' only inside fragment
        "https://e.com/p?a=1#x?b=2",          # real query + '?' in frag
        "https://e.com/x?myfbclid=1&a=2",     # substring of fbclid
        "https://e.com/x?camgclid=xyz",       # substring of gclid
        "https://e.com/x?xutm_foo=1&b=2",     # substring of utm_
        "example.com/a",                      # scheme-less
        "other.org/b",                        # scheme-less, distinct
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    canon = {
        r["url"]: r["url_canon"] for r in with_url_canonical(df).collect()
    }
    assert canon[urls[0]] == "https://e.com/p"  # fragment fully dropped
    assert canon[urls[1]] == "https://e.com/p?a=1"
    assert canon[urls[2]] == "https://e.com/x?myfbclid=1&a=2"
    assert canon[urls[3]] == "https://e.com/x?camgclid=xyz"
    assert canon[urls[4]] == "https://e.com/x?xutm_foo=1&b=2"
    assert canon[urls[5]] == "example.com/a"  # verbatim pass-through
    assert canon[urls[6]] == "other.org/b"    # ...so no key collision
    parts = {r["url"]: r.asDict() for r in with_url_parts(df).collect()}
    assert parts[urls[0]]["query"] == ""  # fragment '?' not a query
    assert parts[urls[1]]["query"] == "a=1"


def test_url_canonical_idempotent(spark):
    """canon(canon(u)) == canon(u) over adversarial URLs, and the canon
    output re-parses to the same host/domain — the property that makes
    canonical URLs safe as exact-dedup keys."""
    from choetl_spark.operators import with_url_canonical, with_url_parts

    urls = [
        "https://example.com",
        "https://example.com/",
        "https://example.com//",
        "HTTP://EXAMPLE.COM:80/#frag",
        "https://a.b.example.com:443/x//y/?utm_source=a&utm_medium=b",
        "https://e.com/x?utm_source=a",
        "https://e.com/x?a=1&utm_source=b&c=2",
        "https://e.com/x?utm_a=1&utm_b=2&gclid=3",
        "http://u@h.example.net:8080/p?q=1#f",
        "ftp://files.example.org/pub/",
        "https://xn--bcher-kva.example/pfad",
        "https://e.com/%7Euser/?fbclid=abc123",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    once = with_url_canonical(df, "url", "c1")
    twice = with_url_canonical(once, "c1", "c2")
    rows = twice.collect()
    for r in rows:
        assert r["c2"] == r["c1"], (r["url"], r["c1"], r["c2"])
    # host/domain survive canonicalization
    p_raw = with_url_parts(df).select("url", "host", "registered_domain")
    p_canon = with_url_parts(once.select("url", F.col("c1").alias("u2")), "u2")
    joined = p_raw.join(
        p_canon.select(
            "url",
            F.col("host").alias("h2"),
            F.col("registered_domain").alias("d2"),
        ),
        "url",
    )
    for r in joined.collect():
        assert r["h2"] == r["host"] and r["d2"] == r["registered_domain"], r


# --- deterministic sampling / mixing ---------------------------------------


def test_sample_mixture_deterministic_and_monotone(spark):
    from choetl_spark.operators import sample_mixture

    df = spark.createDataFrame(
        [(i, "web" if i % 2 == 0 else "wiki") for i in range(4000)],
        "doc_id long, source string",
    )
    rates = {"web": 0.3, "wiki": 1.0}
    kept = sample_mixture(df, rates).collect()
    kept_ids = sorted(r["doc_id"] for r in kept)
    # deterministic: identical run -> identical rows
    again = sorted(r["doc_id"] for r in sample_mixture(df, rates).collect())
    assert kept_ids == again
    by_src = {"web": 0, "wiki": 0}
    for r in kept:
        by_src[r["source"]] += 1
    assert by_src["wiki"] == 2000  # rate 1.0 keeps everything
    assert 0.2 < by_src["web"] / 2000 < 0.4  # ~30% realized
    # raising a rate keeps a SUPERSET (iterative mixture search)
    more = {
        r["doc_id"]
        for r in sample_mixture(df, {"web": 0.6, "wiki": 1.0}).collect()
    }
    assert set(kept_ids) <= more
    # unknown source -> default_rate 0 drops it
    df2 = spark.createDataFrame([(1, "logs")], "doc_id long, source string")
    assert sample_mixture(df2, rates).count() == 0
    import pytest as _pytest

    with _pytest.raises(ValueError):
        sample_mixture(df, {"web": 1.5})


def test_with_split_stable_under_growth(spark):
    from choetl_spark.operators import with_split

    small = spark.createDataFrame(
        [(i,) for i in range(1000)], "doc_id long"
    )
    big = spark.createDataFrame([(i,) for i in range(3000)], "doc_id long")
    s1 = {r["doc_id"]: r["split"] for r in with_split(small, val_frac=0.1).collect()}
    s2 = {r["doc_id"]: r["split"] for r in with_split(big, val_frac=0.1).collect()}
    # membership is a pure function of id: growing the corpus never
    # migrates an existing doc between splits
    assert all(s2[i] == s1[i] for i in s1)
    frac_val = sum(v == "val" for v in s2.values()) / 3000
    assert 0.06 < frac_val < 0.14
    three = with_split(big, val_frac=0.1, test_frac=0.1).collect()
    assert {r["split"] for r in three} == {"train", "val", "test"}


def test_cap_per_domain_quota_and_ordering(spark):
    from choetl_spark.operators import cap_per_domain

    rows = []
    for i in range(30):  # hot domain: 30 pages, quality = doc_id
        rows.append((i, f"https://h{i % 3}.example.com/p/{i}", float(i)))
    rows.append((100, "https://one.other.org/x", 5.0))  # 1-page domain
    df = spark.createDataFrame(rows, "doc_id long, url string, q double")
    out = cap_per_domain(df, k=4, order_col="q").collect()
    by_dom = {}
    for r in out:
        by_dom.setdefault(r["registered_domain"], []).append(r)
    assert len(by_dom["example.com"]) == 4
    # prefers highest quality, deterministic
    assert sorted(r["doc_id"] for r in by_dom["example.com"]) == [26, 27, 28, 29]
    assert len(by_dom["other.org"]) == 1


def test_dedup_against_reference_store(spark):
    from choetl_spark.operators import dedup_against

    ref = spark.createDataFrame(
        [(1, "Hello  World"), (2, "old news")], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [
            (10, "hello world"),   # normalized dup of ref 1
            (11, "fresh page"),
            (12, "OLD NEWS"),      # normalized dup of ref 2
            (13, "another fresh"),
        ],
        "doc_id long, text string",
    )
    out = sorted(r["doc_id"] for r in dedup_against(batch, ref).collect())
    assert out == [11, 13]
    # exact (non-normalized) mode keeps the case-different ones
    raw = sorted(
        r["doc_id"]
        for r in dedup_against(batch, ref, normalized=False).collect()
    )
    assert raw == [10, 11, 12, 13]


def test_top_ngrams_counts_and_ordering(spark):
    from choetl_spark.operators import top_ngrams

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox"),
            (2, "the quick red fox"),
            (3, "the quick brown dog"),
            (4, "one"),  # shorter than n -> contributes nothing
            (5, "  the quick   brown fox "),  # messy whitespace
        ],
        "doc_id long, text string",
    )
    out = top_ngrams(df, n=2, k=3).collect()
    assert [(r["gram"], r["cnt"]) for r in out] == [
        ("the quick", 4),
        ("quick brown", 3),
        ("brown fox", 2),
    ]
    # min_count prunes the tail before the top-k
    pruned = top_ngrams(df, n=2, k=100, min_count=3).collect()
    assert {r["gram"] for r in pruned} == {"the quick", "quick brown"}
    # ties broken by gram ascending (deterministic)
    tie = spark.createDataFrame(
        [(1, "b b"), (2, "a a")], "doc_id long, text string"
    )
    t = top_ngrams(tie, n=2, k=2).collect()
    assert [r["gram"] for r in t] == ["a a", "b b"]


def test_dedup_semantic_drops_planted_near_dups(spark):
    import numpy as np

    from choetl_spark.operators import dedup_semantic, semantic_neardup_pairs
    from choetl_spark.operators.similarity import ivf_anchor_centroids

    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((40, 16)).astype(float)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(40)]
    # plant near-identical copies of vecs 0..4 under ids 100..104
    for i in range(5):
        noisy = vecs[i] + 1e-6 * rng.standard_normal(16)
        rows.append((100 + i, [float(x) for x in noisy]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = ivf_anchor_centroids(16, n_clusters=4, seed=42)

    pairs = semantic_neardup_pairs(df, 0.999, cents).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert {(i, 100 + i) for i in range(5)} <= found
    # same-cluster invariant: every pair's members share an assignment
    assert all(r["cosine"] >= 0.999 for r in pairs)

    out = dedup_semantic(df, 0.999, centroids=cents)
    kept = sorted(r["vec_id"] for r in out.collect())
    # lowest id of each planted pair survives, the copy does not
    assert set(range(40)) <= set(kept)
    assert not ({100 + i for i in range(5)} & set(kept))
    # k-means-trained default path (centroids=None) also kills them
    out2 = dedup_semantic(df, 0.999, n_clusters=4)
    kept2 = {r["vec_id"] for r in out2.collect()}
    assert not ({100 + i for i in range(5)} & kept2)


def test_sampling_hash_handles_negative_ids(spark):
    """ids are often signed 64-bit hashes (xxhash64(url)): the bucket
    must be non-negative for them, rates must bind, and the operator
    must agree with the pure-Python floor-mod recompute."""
    from choetl_spark.operators import sample_mixture, with_split

    ids = [-(2**62) - 7, -1000003, -12345, -1, 0, 1, 12345, 2**62 + 7]
    df = spark.createDataFrame(
        [(i, "web") for i in ids], "doc_id long, source string"
    )
    # rate 0 drops EVERYTHING, negative ids included (the truncating-%
    # bug kept 100% of negative ids at any rate)
    assert sample_mixture(df, {"web": 0.0}).count() == 0
    assert sample_mixture(df, {"web": 1.0}).count() == len(ids)

    MOD, K = 1000003, 2654435761
    kept = {
        r["doc_id"] for r in sample_mixture(df, {"web": 0.5}).collect()
    }
    expect = {i for i in ids if ((i % MOD) * K) % MOD < 0.5 * MOD}
    assert kept == expect  # Python % is floor-mod, same as F.pmod

    splits = {
        r["doc_id"]: r["split"]
        for r in with_split(df, val_frac=0.25).collect()
    }
    for i in ids:
        b = ((i % MOD) * K + 17) % MOD
        assert splits[i] == ("val" if b < 0.25 * MOD else "train"), i


def test_cap_per_domain_preserves_metadata_columns(spark):
    """An input carrying its own host/path metadata columns must pass
    through untouched (cap_per_domain adds only registered_domain)."""
    from choetl_spark.operators import cap_per_domain

    df = spark.createDataFrame(
        [(1, "https://a.example.com/x", "my-host", "my-path", 1.0),
         (2, "https://b.other.org/y", "h2", "p2", 2.0)],
        "doc_id long, url string, host string, path string, q double",
    )
    out = cap_per_domain(df, k=5, order_col="q")
    assert set(out.columns) == {
        "doc_id", "url", "host", "path", "q", "registered_domain"
    }
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[1]["host"] == "my-host" and rows[1]["path"] == "my-path"
    assert rows[1]["registered_domain"] == "example.com"


def test_dedup_against_precomputed_fingerprints_and_passthrough(spark):
    """Key-only store join: the reference side can be just fingerprint
    keys (no text), and a user 'fingerprint' column on the batch rides
    through untouched."""
    from pyspark.sql import functions as F

    from choetl_spark.operators import dedup_against
    from choetl_spark.operators.textstats import fingerprint_expr

    batch = spark.createDataFrame(
        [(10, "hello  world", "user-fp-a"), (11, "fresh page", "user-fp-b")],
        "doc_id long, text string, fingerprint string",
    )
    store = spark.createDataFrame(
        [("Hello World",)], "text string"
    ).select(fingerprint_expr("text").alias("fp"))
    out = dedup_against(batch, store, ref_fingerprint_col="fp").collect()
    assert [r["doc_id"] for r in out] == [11]
    assert out[0]["fingerprint"] == "user-fp-b"  # untouched passthrough


def test_bm25_ranking_and_postings(spark):
    """BM25 prefers rare query terms and shorter documents; a hand-check
    of the formula on a 4-doc corpus pins the math, and a persisted
    postings table gives the same answer as the inline build."""
    import math

    from choetl_spark.operators import bm25_topk, build_postings

    df = spark.createDataFrame(
        [
            (1, "spark spark spark engine"),       # tf=3, short
            (2, "spark engine engine engine engine engine engine"),
            (3, "engine engine engine engine"),    # no query term
            (4, "   "),                            # empty after trim
        ],
        "doc_id long, text string",
    )
    post = build_postings(df)
    rows = {(r["term"], r["doc_id"]): (r["tf"], r["dl"]) for r in post.collect()}
    assert rows[("spark", 1)] == (3, 4)
    assert rows[("engine", 2)] == (6, 7)
    assert not any(d == 4 for (_, d) in rows)  # empty doc absent

    out = bm25_topk(df, "spark", k=10).collect()
    assert [r["doc_id"] for r in out] == [1, 2]  # doc 3 never scores
    # hand BM25: N=3 token-bearing docs, df(spark)=2, avgdl=(4+7+4)/3=5
    k1, b = 1.2, 0.75
    idf = math.log(1 + (3 - 2 + 0.5) / (2 + 0.5))
    exp1 = idf * (3 * (k1 + 1)) / (3 + k1 * (1 - b + b * 4 / 5))
    assert abs(out[0]["score"] - exp1) < 1e-12

    # precomputed postings path is identical
    out2 = bm25_topk(df, "spark", k=10, postings=post).collect()
    assert [(r["doc_id"], r["score"]) for r in out2] == [
        (r["doc_id"], r["score"]) for r in out
    ]
    # empty query -> empty result, stable schema
    empty = bm25_topk(df, "   ", k=5)
    assert empty.columns == ["doc_id", "score"]
    assert empty.count() == 0


def test_quantized_embedding_roundtrip_and_recall(spark):
    """int8 quantization: dequantize error bounded by qscale/2 per
    component, all-zero vectors survive exactly, and quantized cosine
    top-k recalls the exact float top-k on clustered vectors."""
    import numpy as np

    from choetl_spark.operators import (
        cosine_topk,
        cosine_topk_quantized,
        with_dequantized_embedding,
        with_quantized_embedding,
    )

    rng = np.random.default_rng(7)
    base = rng.normal(size=(4, 16))
    vecs = [
        (i, (base[i % 4] + rng.normal(scale=0.05, size=16)).tolist())
        for i in range(60)
    ]
    vecs.append((60, [0.0] * 16))  # all-zero edge case
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")

    qdf = with_quantized_embedding(df)
    deq = with_dequantized_embedding(qdf).collect()
    for r in deq:
        err = np.abs(np.array(r["embedding"]) - np.array(r["embedding_dq"]))
        assert err.max() <= r["qscale"] / 2 + 1e-12
        assert max(abs(v) for v in r["qvec"]) <= 127
    zero = next(r for r in deq if r["vec_id"] == 60)
    assert zero["embedding_dq"] == [0.0] * 16

    query = base[0].tolist()
    exact = {r["vec_id"] for r in cosine_topk(df, query, k=10).collect()}
    quant = cosine_topk_quantized(df, query, k=10)
    assert quant.columns == ["vec_id", "cosine_q"]
    got = {r["vec_id"] for r in quant.collect()}
    # int8 on 16 dims: expect near-perfect agreement on clustered data
    assert len(exact & got) >= 8
    # zero vector never ranks (cosine undefined)
    assert 60 not in got

    # int4 still reconstructs within its (coarser) bound
    q4 = with_quantized_embedding(df, bits=4)
    r4 = with_dequantized_embedding(q4).collect()[0]
    err4 = np.abs(np.array(r4["embedding"]) - np.array(r4["embedding_dq"]))
    assert err4.max() <= r4["qscale"] / 2 + 1e-12
    assert max(abs(v) for v in r4["qvec"]) <= 7


def test_bigram_lm_perplexity_hand_check(spark):
    """Hand-verified add-one bigram LM: trained counts, smoothing of
    unseen pairs/words, short-doc NULLs, and the fluent-text-scores-
    better property on a cross-corpus score."""
    import math

    from choetl_spark.operators import (
        score_lm,
        train_bigram_lm,
        with_lm_perplexity,
    )

    train = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c")],
        "doc_id long, text string",
    )
    lm = train_bigram_lm(train)
    # vocab = {a, b, c}; bigrams: ab x2 (doc1) + ab (doc2), ba (doc1), bc (doc2)
    assert lm["vocab_size"] == 3
    counts = {(r["w1"], r["w2"]): r["c12"] for r in lm["bigrams"].collect()}
    assert counts == {("a", "b"): 3, ("b", "a"): 1, ("b", "c"): 1}
    uni = {r["w1"]: r["c1"] for r in lm["unigrams"].collect()}
    assert uni == {"a": 3, "b": 3, "c": 1}

    test = spark.createDataFrame(
        [(10, "a b"), (11, "a z"), (12, "a"), (13, "")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in score_lm(test, lm).collect()}
    # seen bigram: ln((3+1)/(3+3))
    assert abs(got[10]["avg_logp"] - math.log(4 / 6)) < 1e-12
    assert abs(got[10]["ppl"] - math.exp(-math.log(4 / 6))) < 1e-9
    # unseen bigram, seen w1: ln((0+1)/(3+3))
    assert abs(got[11]["avg_logp"] - math.log(1 / 6)) < 1e-12
    # <2 tokens: null score, zero bigrams
    assert got[12]["n_bigrams"] == 0 and got[12]["avg_logp"] is None
    assert got[13]["avg_logp"] is None

    # self-trained ranking: repeated fluent text beats token soup
    corpus = spark.createDataFrame(
        [(i, "the cat sat on the mat") for i in range(8)]
        + [(99, "zq xv bn mk lp qw")],
        "doc_id long, text string",
    )
    ranked = {r["doc_id"]: r["ppl"] for r in
              with_lm_perplexity(corpus).collect()}
    assert all(ranked[i] < ranked[99] for i in range(8))


def test_bpe_train_and_apply_hand_check(spark):
    """Hand-traced BPE: merge order, tie-breaks, saturation stop,
    consecutive-run application, and doc-level tokenization."""
    from choetl_spark.operators.bpe import bpe_train, with_bpe_tokens

    df = spark.createDataFrame(
        [(1, "ab ab abc")], "doc_id long, text string"
    )
    merges = bpe_train(df, n_merges=10)
    # pairs round 1: (a,b)x3 beats (b,c)x1 -> merge (a,b); round 2 only
    # (ab,c) remains; round 3 saturates (every word one symbol)
    assert merges == [("a", "b"), ("ab", "c")]

    out = with_bpe_tokens(df, merges).collect()[0]
    assert out["bpe_tokens"] == ["ab", "ab", "abc"]
    assert out["n_bpe_tokens"] == 3

    # consecutive identical pairs apply left-to-right like true BPE
    runs = spark.createDataFrame(
        [(1, "aaaa aaa")], "doc_id long, text string"
    )
    m2 = bpe_train(runs, n_merges=1)
    assert m2 == [("a", "a")]
    t = with_bpe_tokens(runs, m2).collect()[0]["bpe_tokens"]
    assert t == ["aa", "aa", "aa", "a"]

    # deterministic tie-break: equal counts pick lexicographically
    tie = spark.createDataFrame(
        [(1, "xy"), (2, "ab")], "doc_id long, text string"
    )
    assert bpe_train(tie, n_merges=1) == [("a", "b")]

    # empty corpus -> no merges
    assert bpe_train(
        spark.createDataFrame([(1, "  ")], "doc_id long, text string"),
        n_merges=3,
    ) == []


def test_bpe_fast_apply_matches_expression_path(spark):
    """The mapInPandas production tokenizer and the codegen expression
    chain produce identical tokens for a trained merge table (rank-
    priority == train-order application on self-consistent tables)."""
    from choetl_spark.operators.bpe import (
        bpe_train,
        with_bpe_tokens,
        with_bpe_tokens_fast,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the the the quick quick brown"),
            (3, "aaaa abab banana bandana"),
            (4, ""),
            (5, "singleword"),
        ],
        "doc_id long, text string",
    )
    merges = bpe_train(docs, n_merges=12)
    assert len(merges) == 12
    slow = {r["doc_id"]: (r["bpe_tokens"], r["n_bpe_tokens"])
            for r in with_bpe_tokens(docs, merges).collect()}
    fast = {r["doc_id"]: (r["bpe_tokens"], r["n_bpe_tokens"])
            for r in with_bpe_tokens_fast(docs, merges).collect()}
    assert slow == fast
    assert fast[4] == ([], 0)


def test_chunk_documents_windows_and_overlap(spark):
    from choetl_spark.operators import chunk_documents

    words = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame(
        [(1, words), (2, "one"), (3, "   "), (4, None)],
        "doc_id long, text string",
    )
    rows = sorted(
        (r["doc_id"], r["chunk_idx"], r["chunk_text"], r["n_tokens"])
        for r in chunk_documents(
            df, "text", "doc_id", max_tokens=4, overlap=1
        ).collect()
    )
    # doc 1: stride 3 over 10 tokens -> starts 0,3,6 (a start at 9
    # would emit only 'w9', already fully inside the previous window)
    assert rows == [
        (1, 0, "w0 w1 w2 w3", 4),
        (1, 1, "w3 w4 w5 w6", 4),
        (1, 2, "w6 w7 w8 w9", 4),
        (2, 0, "one", 1),
    ]
    # whitespace-only and NULL docs emit nothing; every token covered,
    # consecutive chunks share exactly `overlap` tokens
    with pytest.raises(ValueError):
        chunk_documents(df, "text", "doc_id", max_tokens=4, overlap=4)


def test_chunk_documents_zero_shuffle_plan(spark, docs):
    from choetl_spark.operators import chunk_documents

    plan = (
        chunk_documents(docs, "text", "doc_id", max_tokens=32)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


# ---------------------------------------------------------------------------
# exact-substring span dedup
# ---------------------------------------------------------------------------


def test_dedup_spans_removes_cross_doc_spans(spark):
    from choetl_spark.operators import dedup_spans

    shared = " ".join(f"w{i}" for i in range(25))
    rows = [
        (1, "alpha beta " + shared + " one uniq1"),
        (2, "gamma delta " + shared + " one uniq2"),
        (3, "entirely unique content with nothing shared anywhere at all"),
        (4, "short doc"),  # < k words: untouched
        (5, "line1\nline2  doublespace survives byte identical"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {
        r.doc_id: r
        for r in dedup_spans(df, "doc_id", "text", k=20).collect()
    }
    # docs 1+2 share "<25 words> one" (the trailing 'one' rides inside a
    # duplicated 20-gram) -> a single merged span of 26 words each
    for d in (1, 2):
        assert out[d].n_dup_spans == 1
        assert out[d].words_removed == 26
    assert out[1].text_clean == "alpha beta uniq1"
    assert out[2].text_clean == "gamma delta uniq2"
    # untouched docs round-trip byte-identical (incl. \n and double space)
    for d in (3, 4, 5):
        assert out[d].n_dup_spans == 0 and out[d].words_removed == 0
        assert out[d].text_clean == rows[d - 1][1]


def test_dedup_spans_merges_overlapping_islands_and_key_modes(spark):
    from choetl_spark.operators import dedup_spans

    # two duplicated regions separated by > k unique words -> 2 spans
    a = " ".join(f"a{i}" for i in range(22))
    b = " ".join(f"b{i}" for i in range(22))
    gap = " ".join(f"u{i}" for i in range(30))
    gap2 = " ".join(f"v{i}" for i in range(30))
    rows = [
        (1, a + " " + gap + " " + b),
        (2, a + " " + gap2 + " " + b),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    for use_hash in (True, False):
        out = {
            r.doc_id: r
            for r in dedup_spans(
                df, "doc_id", "text", k=20, use_hash_keys=use_hash
            ).collect()
        }
        assert out[1].n_dup_spans == 2
        assert out[1].words_removed == 44
        assert out[1].text_clean == gap
        assert out[2].text_clean == gap2


def test_dedup_spans_rejects_tiny_k(spark):
    import pytest as _pytest

    from choetl_spark.operators import dedup_spans

    df = spark.createDataFrame([(1, "x")], "doc_id int, text string")
    with _pytest.raises(ValueError):
        dedup_spans(df, k=1)


# ---------------------------------------------------------------------------
# unicode normalization
# ---------------------------------------------------------------------------


def test_text_normalized_forms_nulls_and_controls(spark):
    from choetl_spark.operators import with_text_normalized

    decomposed = "cafe\u0301"  # e + combining acute (5 code points)
    rows = [
        (1, decomposed),
        (2, "ﬁne"),  # ligature: NFC keeps, NFKC folds
        (3, None),
        (4, "tab\there\x07bell"),
        (5, "plain ascii"),
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    nfc = {
        r.id: r.text_norm
        for r in with_text_normalized(df, "text", "NFC").collect()
    }
    assert nfc[1] == "café" and len(nfc[1]) == 4
    assert nfc[2] == "ﬁne"
    assert nfc[3] is None
    assert nfc[5] == "plain ascii"  # identity on ASCII
    nfkc = {
        r.id: r.text_norm
        for r in with_text_normalized(
            df, "text", "NFKC", strip_control=True
        ).collect()
    }
    assert nfkc[2] == "fine"
    assert nfkc[4] == "tab\therebell"  # bell stripped, tab kept
    import pytest as _pytest

    with _pytest.raises(ValueError):
        with_text_normalized(df, "text", "NFX")


def test_html_charset_decode(spark):
    """WHATWG-order charset resolution: BOM > Content-Type header >
    <meta charset> prescan > utf-8; undecodable bytes -> U+FFFD, null
    payloads stay null. The WARC reader's http_content_type feeds
    ctype_col directly."""
    from choetl_spark.operators import with_html_decoded

    rows = [
        ("utf8", "héllo ✓".encode("utf-8"), "text/html; charset=utf-8"),
        ("latin_hdr", "café".encode("latin-1"),
         "text/html; charset=ISO-8859-1"),
        ("meta_1252", '<meta charset="windows-1252">–dash'.encode(
            "windows-1252"), None),
        ("sjis_hdr", "テスト".encode("shift_jis"),
         "text/html; charset=Shift_JIS"),
        ("bom16", "héllo".encode("utf-16"), None),  # BOM beats everything
        ("bogus_hdr", "plain ascii".encode(), "text/html; charset=bogus"),
        ("broken", b"\xff\xfa bad utf8", None),  # replacement, no crash
        ("nullp", None, None),
    ]
    df = spark.createDataFrame(
        rows, "id string, html binary, ctype string"
    )
    out = {
        r.id: r.html_text
        for r in with_html_decoded(df, "html", ctype_col="ctype").collect()
    }
    assert out["utf8"] == "héllo ✓"
    assert out["latin_hdr"] == "café"
    assert out["meta_1252"] == '<meta charset="windows-1252">–dash'
    assert out["sjis_hdr"] == "テスト"
    assert out["bom16"] == "héllo"
    assert out["bogus_hdr"] == "plain ascii"
    assert "�" in out["broken"]
    assert out["nullp"] is None
    # no-ctype variant sniffs meta alone
    one = with_html_decoded(
        df.filter("id = 'meta_1252'").select("html")
    ).collect()[0].html_text
    assert one == '<meta charset="windows-1252">–dash'


def test_with_outlinks(spark):
    """Link extraction: quote styles, scheme-/root-relative resolution
    against the page url, fragment stripping, pseudo-scheme drops,
    binary html decode."""
    from choetl_spark.operators import with_outlinks

    html = (
        '<a href="https://a.example.org/x">abs</a>'
        "<a href='//cdn.example.org/lib.js'>scheme-rel</a>"
        '<link href="/css/site.css">'
        '<a href="page2.html">rel</a>'
        '<a href="#top">frag-only</a>'
        '<a href="/p#sec">frag-strip</a>'
        '<a href="javascript:void(0)">js</a>'
        '<a href="mailto:x@example.org">mail</a>'
    )
    df = spark.createDataFrame(
        [("https://www.example.com:443/dir/page", html.encode())],
        "url string, html binary",
    )
    [row] = with_outlinks(df).collect()
    assert row.outlinks == [
        "https://a.example.org/x",
        "https://cdn.example.org/lib.js",
        "https://www.example.com:443/css/site.css",
        "page2.html",
        "https://www.example.com:443/p",
    ]
    # no base url: relative links stay verbatim
    [row2] = with_outlinks(df, base_url_col=None).collect()
    assert row2.outlinks == [
        "https://a.example.org/x",
        "//cdn.example.org/lib.js",
        "/css/site.css",
        "page2.html",
        "/p",
    ]


def _no_driver_collect():
    """Context manager asserting pagerank/hits build their iterations
    without ANY driver-side collect (round-3 advice: normalization
    scalars must ride as broadcast 1-row frames, not per-round driver
    barriers). ``count``/``localCheckpoint`` stay allowed — they are the
    setup cardinality and the per-round lineage truncation."""
    import contextlib

    from pyspark.sql import DataFrame

    @contextlib.contextmanager
    def guard():
        orig = DataFrame.collect

        def banned(self, *a, **k):
            raise AssertionError(
                "driver-side collect() inside the graph iteration loop"
            )

        DataFrame.collect = banned
        try:
            yield
        finally:
            DataFrame.collect = orig

    return guard()


def test_pagerank_matches_numpy_power_iteration(spark):
    """PageRank vs a dense numpy replay of the same update rule
    (uniform dangling redistribution, damping 0.85), incl. a dangling
    node and a duplicate edge that must collapse. Mass stays 1.0."""
    import numpy as np

    from choetl_spark.operators import pagerank

    # 0->1, 0->2, 1->2, 2->0, 3->2 ; 4 dangling; dup edge 0->1 repeated
    edges = [(0, 1), (0, 2), (0, 1), (1, 2), (2, 0), (3, 2), (3, 4)]
    df = spark.createDataFrame(edges, "src long, dst long")
    n_iter, d = 7, 0.85
    with _no_driver_collect():
        out = pagerank(df, n_iter=n_iter)
    got = {r.node: r.rank for r in out.collect()}

    uniq = sorted(set(edges))
    nodes = sorted({x for e in uniq for x in e})
    n = len(nodes)
    deg = {u: sum(1 for s, _ in uniq if s == u) for u in nodes}
    r = np.full(n, 1.0 / n)
    for _ in range(n_iter):
        dangling = sum(r[i] for i, u in enumerate(nodes) if deg[u] == 0)
        recv = np.zeros(n)
        for s, t in uniq:
            recv[nodes.index(t)] += r[nodes.index(s)] / deg[s]
        r = (1 - d) / n + d * dangling / n + d * recv
    for i, u in enumerate(nodes):
        assert abs(got[u] - r[i]) < 1e-12, (u, got[u], r[i])
    assert abs(sum(got.values()) - 1.0) < 1e-9  # mass conserved
    # the hub target (2) outranks everything; dangling sink (4) is low
    assert got[2] == max(got.values())


def test_with_anchor_texts(spark):
    """Anchor-text pairs: quote styles, inner-tag stripping, whitespace
    collapse, multiline anchors, href-less <a name=> ignored, binary
    html decode."""
    from choetl_spark.operators import with_anchor_texts

    html = (
        '<a href="https://a.example.org/x">Plain  link</a>'
        "<a class='b' href='/rel'>with <b>bold</b>\n inner</a>"
        '<a name="target">no href</a>'
        '<a href="/img"><img src="i.png"></a>'
    )
    df = spark.createDataFrame(
        [(html.encode(),)], "html binary"
    )
    [row] = with_anchor_texts(df).collect()
    got = [(p["href"], p["text"]) for p in row.anchors]
    assert got == [
        ("https://a.example.org/x", "Plain link"),
        ("/rel", "with bold inner"),
        ("/img", ""),  # image-only anchor: empty visible text
    ]


def test_hits_matches_numpy_power_iteration(spark):
    """HITS vs a dense numpy replay of the same L1-normalized update
    rule, incl. a source-only node (auth 0), a sink-only node (hub 0),
    and a duplicate edge that must collapse."""
    import numpy as np

    from choetl_spark.operators import hits

    edges = [(0, 1), (0, 2), (1, 2), (2, 3), (3, 2), (0, 1), (4, 2)]
    df = spark.createDataFrame(edges, "src long, dst long")
    n_iter = 6
    with _no_driver_collect():
        out = hits(df, n_iter=n_iter)
    got = {r.node: (r.hub, r.auth) for r in out.collect()}

    uniq = sorted(set(edges))
    nodes = sorted({x for e in uniq for x in e})
    idx = {u: i for i, u in enumerate(nodes)}
    n = len(nodes)
    A = np.zeros((n, n))
    for s, t in uniq:
        A[idx[s], idx[t]] = 1.0
    h = np.full(n, 1.0 / n)
    a = np.full(n, 1.0 / n)
    for _ in range(n_iter):
        a = A.T @ h
        a = a / a.sum()
        h = A @ a
        h = h / h.sum()
    for u in nodes:
        assert abs(got[u][0] - h[idx[u]]) < 1e-12, ("hub", u)
        assert abs(got[u][1] - a[idx[u]]) < 1e-12, ("auth", u)
    # node 2 is the authority (most pointed-at); node 0 the top hub
    assert max(got, key=lambda u: got[u][1]) == 2
    assert max(got, key=lambda u: got[u][0]) == 0
    # source-only node 4: auth 0; L1 mass = 1 on both scores
    assert got[4][1] == 0.0
    assert abs(sum(v[0] for v in got.values()) - 1.0) < 1e-9
    assert abs(sum(v[1] for v in got.values()) - 1.0) < 1e-9


def test_with_outlinks_edge_cases(spark):
    """Uppercase HREF attributes, whitespace-padded values, NULL base
    url, and a scheme-less base: all must degrade safely (verbatim or
    dropped), never emit NULL/':// '-corrupt edges."""
    from choetl_spark.operators import with_outlinks

    html = (
        '<A HREF="https://up.example.org/x">legacy</A>'
        '<a href=" https://pad.example.org/y ">padded-abs</a>'
        '<a href=" javascript:alert(1)">padded-pseudo</a>'
        '<a href="/root-rel">r</a>'
        "<a href='//cdn.example.org/z'>scheme-rel</a>"
    )
    rows = [
        ("https://base.example.com/p", html),  # usable base
        (None, html),                          # NULL base (no target-URI)
        ("base.example.com/p", html),          # scheme-less base
    ]
    df = spark.createDataFrame(rows, "url string, html string")
    got = [r.outlinks for r in with_outlinks(df).collect()]
    # usable base: everything resolves
    assert got[0] == [
        "https://up.example.org/x",
        "https://pad.example.org/y",
        "https://base.example.com/p/root-rel".replace("/p/", "/"),
        "https://cdn.example.org/z",
    ] or got[0] == [
        "https://up.example.org/x",
        "https://pad.example.org/y",
        "https://base.example.com/root-rel",
        "https://cdn.example.org/z",
    ]
    # NULL / scheme-less base: relative links stay verbatim, no NULLs,
    # no '://'-prefixed garbage
    for links in got[1:]:
        assert None not in links
        assert links == [
            "https://up.example.org/x",
            "https://pad.example.org/y",
            "/root-rel",
            "//cdn.example.org/z",
        ]


def test_with_anchor_texts_uppercase_and_padding(spark):
    from choetl_spark.operators import with_anchor_texts

    html = '<A HREF=" /P ">Shouty <I>link</I></A>'
    [row] = with_anchor_texts(
        spark.createDataFrame([(html,)], "html string")
    ).collect()
    assert [(p["href"], p["text"]) for p in row.anchors] == [
        ("/P", "Shouty link")
    ]


def test_graph_rejects_string_node_ids(spark):
    """A string edge list must raise (silent long-cast would null every
    URL and return an empty graph), pointing at the xxhash64 recipe."""
    import pytest

    from choetl_spark.operators import hits, pagerank

    e = spark.createDataFrame(
        [("https://a.example.org", "https://b.example.org")],
        "src string, dst string",
    )
    with pytest.raises(TypeError, match="xxhash64"):
        pagerank(e)
    with pytest.raises(TypeError, match="xxhash64"):
        hits(e)
    # the documented recipe works end to end
    hashed = e.select(
        F.xxhash64("src").alias("src"), F.xxhash64("dst").alias("dst")
    )
    assert pagerank(hashed, n_iter=1).count() == 2


def _dsir_replay(raw, target, buckets=64, n_max=2):
    """Pure-Python replay of the DSIR pipeline (same md5-slice bucket
    hash, add-one smoothing, 6-decimal model rounding, 4-decimal
    length-normalized weight)."""
    import hashlib
    import math

    def grams(text):
        w = text.strip().lower().split()
        out = list(w)
        for n in range(2, n_max + 1):
            out += [" ".join(w[i:i + n]) for i in range(len(w) - n + 1)]
        return out

    def bucket(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % buckets

    def counts(docs):
        c = {}
        for _, t in docs:
            for g in grams(t):
                b = bucket(g)
                c[b] = c.get(b, 0) + 1
        return c

    ct, cr = counts(target), counts(raw)
    tot_t, tot_r = sum(ct.values()), sum(cr.values())
    ratio = {
        b: round(
            math.log((ct.get(b, 0) + 1.0) / (tot_t + buckets))
            - math.log((cr.get(b, 0) + 1.0) / (tot_r + buckets)),
            6,
        )
        for b in range(buckets)
    }
    out = {}
    for did, t in raw:
        gs = grams(t)
        if not gs:
            out[did] = 0.0
            continue
        out[did] = round(sum(ratio[bucket(g)] for g in gs) / len(gs), 4)
    return out


def test_dsir_weights_match_python_replay(spark):
    """DSIR hashed-n-gram importance weights vs an independent pure-
    Python replay (hashlib md5 buckets, add-one smoothing): weights
    match exactly under the cross-engine rounding discipline, and the
    target-like documents out-rank the off-distribution ones."""
    from choetl_spark.operators import dsir_model, dsir_select, dsir_weights

    target_rows = [
        (100, "spark table scan join table scan"),
        (101, "table scan join group table"),
        (102, "join table scan spark query"),
    ]
    raw_rows = [
        (1, "table scan join spark"),          # target-like
        (2, "llama otter badger weasel stoat"),  # off-distribution
        (3, "join table scan group query"),    # target-like
        (4, "zebra yak xerus wombat vole"),    # off-distribution
        (5, ""),                               # empty -> weight 0
    ]
    target = spark.createDataFrame(target_rows, "doc_id long, text string")
    raw = spark.createDataFrame(raw_rows, "doc_id long, text string")

    model = dsir_model(target, raw, buckets=64)
    got = {
        r["doc_id"]: r["log_weight"]
        for r in dsir_weights(raw, model, buckets=64).collect()
    }
    want = _dsir_replay(raw_rows, target_rows, buckets=64)
    # empty doc: the replay normalizes 0 grams to 0.0; split('') in
    # Spark yields [''] (one empty gram) — both land on weight of the
    # '' bucket or 0; assert the non-degenerate docs exactly and the
    # ranking overall
    for did in (1, 2, 3, 4):
        assert got[did] == pytest.approx(want[did], abs=1e-9), did
    assert min(got[1], got[3]) > max(got[2], got[4])

    top = dsir_select(raw, target, k=2, buckets=64)
    assert sorted(r["doc_id"] for r in top.collect()) == [1, 3]
