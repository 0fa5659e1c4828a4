"""Baseline JPEG (JFIF) codec with numpy + stdlib only.

Public-spec implementation of ITU-T T.81 baseline sequential DCT:
8-bit samples, Huffman entropy coding, grayscale or YCbCr with 4:4:4 /
4:2:2 / 4:2:0 sampling, restart markers. Progressive (SOF2),
arithmetic coding, 12-bit, and hierarchical modes stay behind loud
``NotImplementedError`` — a deployment with PIL/libjpeg plugs in at
:func:`choetl_spark.operators.multimodal.decode_image` exactly as
before; this module removes the gate for the single most common web
image format so the multimodal column is real without codec libraries.

The encoder exists for the same reason the PNG writer does: planting
deterministic payloads for tests and the correctness gate. With the
flat-per-block + Q[0,0]=8 construction the whole pipeline is LOSSLESS
(DC = 8*(v-128) quantizes exactly, IDCT of a DC-only block is flat),
which is what lets a DuckDB oracle pin the decoded pixel sum in closed
form — the same golden-roundtrip discipline as the PNG leg (reference
pattern: ChoParquetWriterTest Program.cs:33-66 round-trip tests).

Quantization and Huffman defaults are the T.81 Annex K example tables
(public spec text).
"""

from __future__ import annotations

import struct

import numpy as np

# zigzag scan order: ZIGZAG[i] = (row, col) flat index of the i-th
# coefficient in scan order (T.81 Figure 5)
_ZZ = np.array([
     0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# T.81 Annex K.1 example quantization tables (luminance, chrominance)
K1_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64).reshape(8, 8)

K1_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64).reshape(8, 8)

# T.81 Annex K.3 example Huffman tables: (bits[1..16], huffval)
K3_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
K3_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
K3_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
        0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
        0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
        0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
        0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
        0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
        0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
        0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
        0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
        0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
        0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
        0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
        0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)
K3_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
        0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
        0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
        0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
        0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
        0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
        0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
        0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
        0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
        0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)


def _dct_matrix() -> np.ndarray:
    """Orthogonal 8x8 DCT-II matrix T (T @ T.T == I): forward 2-D DCT
    is ``T @ block @ T.T`` and matches T.81's normalization (a flat
    block of value a has S(0,0) == 8a)."""
    n = np.arange(8)
    k = n.reshape(8, 1)
    t = 0.5 * np.cos((2 * n + 1) * k * np.pi / 16.0)
    t[0, :] = 0.5 / np.sqrt(2.0)
    return t


_T = _dct_matrix()


def _build_huffman(bits: list[int], vals: list[int]):
    """Canonical Huffman code assignment (T.81 Annex C): returns
    ``{(length, code): symbol}`` for decoding and
    ``{symbol: (code, length)}`` for encoding."""
    decode: dict[tuple[int, int], int] = {}
    encode: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            sym = vals[k]
            decode[(length, code)] = sym
            encode[sym] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return decode, encode


class _BitReader:
    """Entropy-coded-segment bit reader: un-stuffs FF00, stops at
    markers, and supports restart-boundary realignment."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.buf = 0
        self.nbits = 0

    def _fill(self) -> None:
        d = self.data
        while self.nbits <= 24:
            if self.pos >= len(d):
                # past the segment: pad with 1-bits (T.81 F.2.2.5 allows
                # the final byte's padding bits to be 1s)
                self.buf = (self.buf << 8) | 0xFF
                self.nbits += 8
                continue
            b = d[self.pos]
            if b == 0xFF:
                nxt = d[self.pos + 1] if self.pos + 1 < len(d) else 0xD9
                if nxt == 0x00:
                    self.pos += 2
                    self.buf = (self.buf << 8) | 0xFF
                    self.nbits += 8
                    continue
                # a real marker (RSTn / EOI / next segment): don't
                # consume; pad so in-flight decodes can finish
                self.buf = (self.buf << 8) | 0xFF
                self.nbits += 8
                continue
            self.pos += 1
            self.buf = (self.buf << 8) | b
            self.nbits += 8

    def bits(self, n: int) -> int:
        if n == 0:
            return 0
        if self.nbits < n:
            self._fill()
        self.nbits -= n
        out = (self.buf >> self.nbits) & ((1 << n) - 1)
        self.buf &= (1 << self.nbits) - 1
        return out

    def huff(self, table: dict[tuple[int, int], int]) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.bits(1)
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid JPEG Huffman code")

    def restart(self) -> None:
        """Align to the next RSTn marker and consume it."""
        # drop buffered bits (they are padding before the marker)
        self.buf = 0
        self.nbits = 0
        d = self.data
        while self.pos + 1 < len(d):
            if d[self.pos] == 0xFF and 0xD0 <= d[self.pos + 1] <= 0xD7:
                self.pos += 2
                return
            self.pos += 1
        raise ValueError("JPEG restart marker missing")


def _extend(v: int, t: int) -> int:
    """T.81 F.12 EXTEND: map a t-bit magnitude to its signed value."""
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def decode_jpeg(payload: bytes) -> np.ndarray:
    """Decode a baseline sequential JFIF/JPEG payload to HxWx3 uint8
    (grayscale replicates into 3 channels, matching decode_image's
    contract). Raises NotImplementedError for progressive /
    arithmetic / 12-bit streams and for baseline streams coded as one
    scan per component (non-interleaved)."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    dc_tabs: dict[int, dict] = {}
    ac_tabs: dict[int, dict] = {}
    frame = None
    restart_interval = 0
    n = len(payload)
    while pos < n:
        if payload[pos] != 0xFF:
            raise ValueError("JPEG marker expected")
        # any number of 0xFF fill bytes may precede a marker (T.81 B.1.1.2)
        while pos + 1 < n and payload[pos + 1] == 0xFF:
            pos += 1
        if pos + 1 >= n:
            raise ValueError("truncated JPEG: marker id missing")
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            continue  # parameterless
        (seglen,) = struct.unpack(">H", payload[pos:pos + 2])
        seg = payload[pos + 2:pos + seglen]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 15
                p += 1
                if pq == 0:
                    vals = np.frombuffer(
                        seg[p:p + 64], dtype=np.uint8
                    ).astype(np.int64)
                    p += 64
                else:
                    vals = np.frombuffer(
                        seg[p:p + 128], dtype=">u2"
                    ).astype(np.int64)
                    p += 128
                q = np.zeros(64, dtype=np.int64)
                q[_ZZ] = vals
                qtables[tq] = q.reshape(8, 8)
        elif marker in (0xC0, 0xC1):  # SOF0/SOF1 baseline(+ext seq)
            prec = seg[0]
            if prec != 8:
                raise NotImplementedError(f"JPEG precision {prec}")
            h, w = struct.unpack(">HH", seg[1:5])
            nf = seg[5]
            comps = []
            for i in range(nf):
                cid = seg[6 + 3 * i]
                hv = seg[7 + 3 * i]
                tq = seg[8 + 3 * i]
                comps.append(
                    {"id": cid, "h": hv >> 4, "v": hv & 15, "tq": tq}
                )
            frame = {"h": h, "w": w, "comps": comps}
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"non-baseline JPEG (SOF marker 0x{marker:02X}: "
                "progressive/arithmetic/hierarchical) needs PIL/libjpeg"
            )
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 15
                bits = list(seg[p + 1:p + 17])
                cnt = sum(bits)
                vals = list(seg[p + 17:p + 17 + cnt])
                p += 17 + cnt
                dec, _enc = _build_huffman(bits, vals)
                (dc_tabs if tc == 0 else ac_tabs)[th] = dec
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            ns = seg[0]
            if ns != len(frame["comps"]):
                # one scan per component (non-interleaved): the decoder
                # reads one interleaved scan only
                raise NotImplementedError(
                    f"non-interleaved JPEG scan ({ns} of "
                    f"{len(frame['comps'])} components) needs PIL/libjpeg"
                )
            scan = []
            for i in range(ns):
                cs = seg[1 + 2 * i]
                tt = seg[2 + 2 * i]
                comp = next(
                    c for c in frame["comps"] if c["id"] == cs
                )
                scan.append((comp, tt >> 4, tt & 15))
            data_start = pos + seglen
            return _decode_scan(
                payload, data_start, frame, scan, qtables,
                dc_tabs, ac_tabs, restart_interval,
            )
        pos += seglen
    raise ValueError("JPEG without SOS scan")


def _decode_scan(payload, pos, frame, scan, qtables, dc_tabs, ac_tabs,
                 restart_interval):
    h, w = frame["h"], frame["w"]
    comps = frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    preds = {c["id"]: 0 for c in comps}
    rd = _BitReader(payload, pos)
    # Huffman entropy decode is inherently serial (per-symbol bit
    # reads); the IDCT is not — coefficient blocks accumulate per
    # component and one batched einsum replaces per-block matmuls
    # (measured ~2x decode on multi-block images)
    coefs: dict[int, list] = {c["id"]: [] for c in comps}
    spots: dict[int, list] = {c["id"]: [] for c in comps}
    coef = np.zeros(64, dtype=np.int64)
    since_restart = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and since_restart == restart_interval:
                rd.restart()
                for cid in preds:
                    preds[cid] = 0
                since_restart = 0
            for comp, td, ta in scan:
                q = qtables[comp["tq"]]
                dct = dc_tabs[td]
                act = ac_tabs[ta]
                for by in range(comp["v"]):
                    for bx in range(comp["h"]):
                        coef[:] = 0
                        t = rd.huff(dct)
                        diff = _extend(rd.bits(t), t)
                        preds[comp["id"]] += diff
                        coef[0] = preds[comp["id"]]
                        k = 1
                        while k < 64:
                            rs = rd.huff(act)
                            r, s = rs >> 4, rs & 15
                            if s == 0:
                                if r == 15:
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("JPEG AC overflow")
                            coef[_ZZ[k]] = _extend(rd.bits(s), s)
                            k += 1
                        coefs[comp["id"]].append(
                            coef.reshape(8, 8) * q
                        )
                        spots[comp["id"]].append((
                            (my * comp["v"] + by) * 8,
                            (mx * comp["h"] + bx) * 8,
                        ))
            since_restart += 1
    planes = {}
    for c in comps:
        cid = c["id"]
        plane = np.zeros(
            (mcuy * 8 * c["v"], mcux * 8 * c["h"]), dtype=np.float64
        )
        if coefs[cid]:
            blocks = np.stack(coefs[cid]).astype(np.float64)
            px = np.einsum(
                "ij,bjk,kl->bil", _T.T, blocks, _T, optimize=True
            ) + 128.0
            for (y0, x0), b in zip(spots[cid], px):
                plane[y0:y0 + 8, x0:x0 + 8] = b
        planes[cid] = plane
    out_planes = []
    for c in comps:
        p = planes[c["id"]]
        # upsample to full resolution by sample replication, then crop
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:
            p = np.repeat(np.repeat(p, ry, axis=0), rx, axis=1)
        out_planes.append(p[:h, :w])
    if len(out_planes) == 1:
        g = np.clip(np.round(out_planes[0]), 0, 255).astype(np.uint8)
        return np.stack([g, g, g], axis=-1)
    y, cb, cr = out_planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=-1)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.buf = 0
        self.nbits = 0

    def bits(self, code: int, length: int) -> None:
        self.buf = (self.buf << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.buf >> self.nbits) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing
        self.buf &= (1 << self.nbits) - 1

    def pad_to_byte(self) -> None:
        if self.nbits:
            self.bits((1 << (8 - self.nbits)) - 1, 8 - self.nbits)


def _encode_block(wr, block, q, dc_enc, ac_enc, pred):
    s = _T @ (block - 128.0) @ _T.T
    d = np.round(s / q).astype(np.int64)
    zz = d.reshape(-1)[_ZZ]
    diff = int(zz[0]) - pred
    t = int(diff).bit_length() if diff != 0 else 0
    code, length = dc_enc[t]
    wr.bits(code, length)
    if t:
        wr.bits(diff if diff > 0 else diff + (1 << t) - 1, t)
    last_nz = int(np.max(np.nonzero(zz)[0])) if np.any(zz[1:]) else 0
    k = 1
    while k <= last_nz:
        run = 0
        while zz[k] == 0:
            run += 1
            k += 1
        while run > 15:
            c, ln = ac_enc[0xF0]
            wr.bits(c, ln)
            run -= 16
        v = int(zz[k])
        t = abs(v).bit_length()
        c, ln = ac_enc[(run << 4) | t]
        wr.bits(c, ln)
        wr.bits(v if v > 0 else v + (1 << t) - 1, t)
        k += 1
    if last_nz < 63:
        c, ln = ac_enc[0x00]  # EOB
        wr.bits(c, ln)
    return int(zz[0])


def encode_jpeg(
    px: np.ndarray,
    qtable_luma: np.ndarray | None = None,
    qtable_chroma: np.ndarray | None = None,
    subsampling: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """Baseline sequential JFIF encoder (Annex K tables by default).

    ``px`` is HxW uint8 (grayscale, one component) or HxWx3 uint8 RGB
    (three YCbCr components). ``subsampling`` is "444", "422" or "420"
    (ignored for grayscale). ``restart_interval`` > 0 emits DRI + RSTn
    markers every that many MCUs."""
    ql = (K1_LUMA if qtable_luma is None else
          np.asarray(qtable_luma, dtype=np.int64))
    qc = (K1_CHROMA if qtable_chroma is None else
          np.asarray(qtable_chroma, dtype=np.int64))
    gray = px.ndim == 2
    h, w = px.shape[:2]
    if gray:
        planes = [px.astype(np.float64)]
        samp = [(1, 1)]
        qmap = [0]
    else:
        rgb = px.astype(np.float64)
        r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
        cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
        hs, vs = {"444": (1, 1), "422": (2, 1), "420": (2, 2)}[
            subsampling
        ]
        samp = [(hs, vs), (1, 1), (1, 1)]
        qmap = [0, 1, 1]

        def sub(p):
            if hs == 1 and vs == 1:
                return p
            hh = -(-h // vs) * vs
            ww = -(-w // hs) * hs
            pad = np.pad(p, ((0, hh - h), (0, ww - w)), mode="edge")
            return pad.reshape(
                hh // vs, vs, ww // hs, hs
            ).mean(axis=(1, 3))

        planes = [y, sub(cb), sub(cr)]
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    padded = []
    for p, (hs, vs) in zip(planes, samp):
        ph, pw = mcuy * 8 * vs, mcux * 8 * hs
        padded.append(
            np.pad(
                p, ((0, ph - p.shape[0]), (0, pw - p.shape[1])),
                mode="edge",
            )
        )
    _dl, dc_l = _build_huffman(*K3_DC_LUMA)
    _al, ac_l = _build_huffman(*K3_AC_LUMA)
    _dc, dc_c = _build_huffman(*K3_DC_CHROMA)
    _ac, ac_c = _build_huffman(*K3_AC_CHROMA)

    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xe0" + struct.pack(
        ">H", 16
    ) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"

    def dqt(tq, q):
        zz = q.reshape(-1)[_ZZ].astype(np.uint8).tobytes()
        return b"\xff\xdb" + struct.pack(">H", 67) + bytes([tq]) + zz

    out += dqt(0, ql)
    if not gray:
        out += dqt(1, qc)
    nf = 1 if gray else 3
    sof = struct.pack(">BHHB", 8, h, w, nf)
    for i in range(nf):
        sof += bytes([i + 1, (samp[i][0] << 4) | samp[i][1], qmap[i]])
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof

    def dht(tc, th, spec):
        bits, vals = spec
        body = bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals)
        return b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body

    out += dht(0, 0, K3_DC_LUMA) + dht(1, 0, K3_AC_LUMA)
    if not gray:
        out += dht(0, 1, K3_DC_CHROMA) + dht(1, 1, K3_AC_CHROMA)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    sos = bytes([nf])
    for i in range(nf):
        td_ta = 0 if i == 0 else 0x11
        sos += bytes([i + 1, td_ta])
    sos += bytes([0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    wr = _BitWriter()
    preds = [0] * nf
    rst = 0
    since = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and since == restart_interval:
                wr.pad_to_byte()
                out += bytes(wr.out)
                wr = _BitWriter()
                out += bytes([0xFF, 0xD0 + (rst & 7)])
                rst += 1
                preds = [0] * nf
                since = 0
            for i in range(nf):
                hs, vs = samp[i]
                q = ql if qmap[i] == 0 else qc
                dce = dc_l if i == 0 else dc_c
                ace = ac_l if i == 0 else ac_c
                for by in range(vs):
                    for bx in range(hs):
                        y0 = (my * vs + by) * 8
                        x0 = (mx * hs + bx) * 8
                        block = padded[i][y0:y0 + 8, x0:x0 + 8]
                        preds[i] = _encode_block(
                            wr, block, q, dce, ace, preds[i]
                        )
            since += 1
    wr.pad_to_byte()
    out += bytes(wr.out)
    out += b"\xff\xd9"  # EOI
    return bytes(out)
