"""Codec plumbing: dtype (de)serialization, null-bitmap handling, bit packing.

Every codec has the signature

    encode(arr: pa.Array, **opts) -> (payload: bytes, meta: dict)
    decode(payload: bytes, meta: dict) -> pa.Array

``meta`` is JSON-serializable (stored in the encoded-chunk table's
``meta`` string column); ``payload`` goes to the ``payload`` binary
column. Codecs compose: a parent codec embeds child metas plus child
payload lengths and concatenates child payloads.

Null handling: the validity bitmap is split off up front
(:func:`split_nulls`), packed with ``np.packbits``, and carried in the
meta; the value codec then sees a null-free, fill-valued array. This is
the per-chunk analog of ChoETL's nullable-field handling
(reference src/ChoETL.Parquet/ChoParquetRecordWriter.cs:1067-1083).
"""

from __future__ import annotations

import base64

import numpy as np
import pyarrow as pa

# ---------------------------------------------------------------------------
# dtype <-> string
# ---------------------------------------------------------------------------

_SIMPLE_TYPES = {
    "bool": pa.bool_(),
    "int8": pa.int8(),
    "int16": pa.int16(),
    "int32": pa.int32(),
    "int64": pa.int64(),
    "uint8": pa.uint8(),
    "uint16": pa.uint16(),
    "uint32": pa.uint32(),
    "uint64": pa.uint64(),
    "float32": pa.float32(),
    "float64": pa.float64(),
    "string": pa.string(),
    "large_string": pa.large_string(),
    "binary": pa.binary(),
    "large_binary": pa.large_binary(),
    "date32": pa.date32(),
}


def type_to_str(t: pa.DataType) -> str:
    for name, typ in _SIMPLE_TYPES.items():
        if t.equals(typ):
            return name
    if pa.types.is_timestamp(t):
        return f"timestamp[{t.unit}]" + (f"[{t.tz}]" if t.tz else "")
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list[{type_to_str(t.value_type)}]"
    raise TypeError(f"unsupported arrow type for codec: {t}")


def str_to_type(s: str) -> pa.DataType:
    if s in _SIMPLE_TYPES:
        return _SIMPLE_TYPES[s]
    if s.startswith("timestamp["):
        parts = s[len("timestamp[") :].rstrip("]").split("][")
        unit = parts[0]
        tz = parts[1] if len(parts) > 1 else None
        return pa.timestamp(unit, tz=tz)
    if s.startswith("list["):
        return pa.list_(str_to_type(s[len("list[") : -1]))
    raise TypeError(f"unknown serialized type: {s}")


# ---------------------------------------------------------------------------
# nulls
# ---------------------------------------------------------------------------


def split_nulls(arr: pa.Array) -> tuple[dict, pa.Array]:
    """Return (null_meta, null-free filled array).

    null_meta = {"n_nulls": int, "validity_b64": str | None}. The filled
    array substitutes a type-appropriate zero value so value codecs never
    see nulls; decode re-applies the bitmap.
    """
    n = len(arr)
    n_nulls = arr.null_count
    if n_nulls == 0:
        return {"n_nulls": 0, "validity_b64": None}, arr
    valid_mask = np.asarray(arr.is_valid())  # bool array, True = valid
    packed = np.packbits(valid_mask, bitorder="little").tobytes()
    t = arr.type
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        fill = ""
    elif pa.types.is_binary(t) or pa.types.is_large_binary(t):
        fill = b""
    elif pa.types.is_boolean(t):
        fill = False
    elif pa.types.is_timestamp(t) or pa.types.is_date(t):
        fill = 0
    elif pa.types.is_list(t) or pa.types.is_large_list(t):
        fill = None  # sentinel: empty list (see below)
    else:
        fill = 0
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        filled = pa.compute.fill_null(arr, pa.scalar([], type=t))
        meta = {
            "n_nulls": int(n_nulls),
            "validity_b64": base64.b64encode(packed).decode("ascii"),
            "n": n,
        }
        return meta, filled
    if pa.types.is_timestamp(t):
        filled = pa.compute.fill_null(arr, pa.scalar(fill, type=pa.int64()).cast(t))
    else:
        filled = pa.compute.fill_null(arr, fill)
    meta = {
        "n_nulls": int(n_nulls),
        "validity_b64": base64.b64encode(packed).decode("ascii"),
        "n": n,
    }
    return meta, filled


def apply_nulls(arr: pa.Array, null_meta: dict) -> pa.Array:
    if not null_meta or null_meta.get("n_nulls", 0) == 0:
        return arr
    n = len(arr)
    packed = np.frombuffer(
        base64.b64decode(null_meta["validity_b64"]), dtype=np.uint8
    )
    valid = np.unpackbits(packed, count=n, bitorder="little").astype(bool)
    # rebuild with validity: mask invalid entries to null
    invalid_idx = pa.array(~valid)
    return pa.compute.if_else(invalid_idx, pa.nulls(n, arr.type), arr)


# ---------------------------------------------------------------------------
# bit packing (little-endian bit order), vectorized
# ---------------------------------------------------------------------------


def bit_width(max_val: int) -> int:
    return int(max_val).bit_length() if max_val > 0 else 0


def pack_uints(vals: np.ndarray, width: int) -> bytes:
    """Pack non-negative ints into ``width`` bits each (LE bit order).

    Block-vectorized: 8 values span exactly ``width`` output bytes, so the
    whole pack is <= (width + 8) element-wise uint64 ops over n/8-length
    arrays — never an (n x width) intermediate.
    """
    if width == 0 or len(vals) == 0:
        return b""
    n = len(vals)
    if vals.dtype == np.int64:
        # same-width bit reinterpretation; packed values are non-negative
        # by contract, so the view is value-preserving and copy-free
        v = np.ascontiguousarray(vals).view(np.uint64)
    else:
        v = vals.astype(np.uint64, copy=False)
    if width == 64:
        return v.astype("<u8").tobytes()
    if width in (8, 16, 32):
        return v.astype(f"<u{width // 8}").tobytes()
    nb = (n + 7) // 8
    if nb * 8 != n:
        v = np.concatenate([v, np.zeros(nb * 8 - n, dtype=np.uint64)])
    V = v.reshape(nb, 8)
    out = np.zeros((nb, width), dtype=np.uint8)
    for b in range(width):  # output byte index within a block
        lo_bit = 8 * b
        k0 = lo_bit // width
        k1 = min((lo_bit + 7) // width, 7)
        acc = np.zeros(nb, dtype=np.uint64)
        for k in range(k0, k1 + 1):
            s = lo_bit - k * width
            if s >= 0:
                acc |= V[:, k] >> np.uint64(s)
            else:
                acc |= V[:, k] << np.uint64(-s)
        out[:, b] = acc.astype(np.uint8)  # & 0xFF via narrowing cast
    n_bytes = (n * width + 7) // 8
    return out.reshape(-1)[:n_bytes].tobytes()


def unpack_uints(buf: bytes, n: int, width: int) -> np.ndarray:
    """Inverse of :func:`pack_uints`; returns uint64 array of length n.
    A buffer shorter than the ``(n * width + 7) // 8`` bytes
    :func:`pack_uints` writes is truncated: ``ValueError``, never
    zero-padded values."""
    if width == 0 or n == 0:
        return np.zeros(n, dtype=np.uint64)
    if len(buf) < (n * width + 7) // 8:
        raise ValueError(
            f"bit-packed buffer truncated: {len(buf)} bytes, {n} values "
            f"of {width} bits need {(n * width + 7) // 8}"
        )
    if width == 64:
        return np.frombuffer(buf, dtype="<u8", count=n).astype(np.uint64)
    if width in (8, 16, 32):
        return np.frombuffer(buf, dtype=f"<u{width // 8}", count=n).astype(
            np.uint64
        )
    # word-gather unpack: value i spans at most two little-endian uint64
    # words of the packed stream (width < 64). Two gathers + three shifts
    # per value, all n-length uint64 ops — no (n x width) byte
    # intermediate (the previous block-vectorized form expanded the
    # buffer 8x through uint64 and was the decode-path hot spot).
    n_words = (n * width + 63) // 64 + 1  # +1: q+1 gather never OOB
    raw = np.frombuffer(buf, dtype=np.uint8)
    if len(raw) < n_words * 8:
        raw = np.concatenate(
            [raw, np.zeros(n_words * 8 - len(raw), dtype=np.uint8)]
        )
    W = raw[: n_words * 8].view("<u8")
    mask = np.uint64((1 << width) - 1)
    out = np.empty(n, dtype=np.uint64)
    # cache-resident blocks: every temporary below is <= 8 MB, so the
    # ~10 elementwise passes run against L2/L3 instead of DRAM
    blk = 1 << 20
    base = np.arange(min(blk, n), dtype=np.int64)
    for s in range(0, n, blk):
        e = min(s + blk, n)
        bit = base[: e - s] + s
        bit *= width
        q = bit >> 6
        r = bit  # reuse: r = bit & 63, in place
        r &= 63
        ru = r.view(np.uint64)
        lo = W[q]
        lo >>= ru
        q += 1
        hi = W[q]
        # value spans at most two words; shift-by-64 (r==0 lane) is UB,
        # so split it: (x << 1) << (63 - r) == x << (64 - r), and at
        # r==0 the double shift correctly overflows to 0
        hi <<= np.uint64(1)
        ru ^= 63  # 63 - r for r in [0, 63]
        hi <<= ru
        lo |= hi
        lo &= mask
        out[s:e] = lo
    return out


# ---------------------------------------------------------------------------
# arrow array <-> numpy int view (for int-family codecs)
# ---------------------------------------------------------------------------

_INT_NP = {
    pa.int8(): np.int8,
    pa.int16(): np.int16,
    pa.int32(): np.int32,
    pa.int64(): np.int64,
    pa.uint8(): np.uint8,
    pa.uint16(): np.uint16,
    pa.uint32(): np.uint32,
    pa.uint64(): np.uint64,
}


def is_int_like(t: pa.DataType) -> bool:
    return (
        pa.types.is_integer(t)
        or pa.types.is_timestamp(t)
        or pa.types.is_date32(t)
        or pa.types.is_boolean(t)
    )


def int_view(arr: pa.Array) -> np.ndarray:
    """View an int-like null-free array as a numpy int64 array."""
    t = arr.type
    if pa.types.is_boolean(t):
        return np.asarray(arr).astype(np.int64)
    if pa.types.is_timestamp(t):
        return np.asarray(arr.cast(pa.int64()))
    if pa.types.is_date32(t):
        return np.asarray(arr.cast(pa.int32())).astype(np.int64)
    return np.asarray(arr).astype(np.int64, copy=False)


def from_int_view(vals: np.ndarray, dtype_str: str) -> pa.Array:
    t = str_to_type(dtype_str)
    if pa.types.is_boolean(t):
        return pa.array(vals.astype(bool))
    if pa.types.is_timestamp(t):
        return pa.array(vals.astype(np.int64)).cast(t)
    if pa.types.is_date32(t):
        return pa.array(vals.astype(np.int32)).cast(t)
    np_t = _INT_NP[t]
    return pa.array(vals.astype(np_t), type=t)


def data_nbytes(arr: pa.Array) -> int:
    """Logical data size of an array (values + one offset per value,
    excl. validity). Deliberately chunk-invariant: summing chunk sizes of
    any split of a column gives the same total, so per-column raw_bytes
    is a pure function of the data (and DuckDB-recomputable in the
    driver's oracle check: sum(octet_length) + 4*n)."""
    t = arr.type
    n = len(arr)
    if pa.types.is_string(t) or pa.types.is_binary(t):
        off = 4
        payload = arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr
        total = pa.compute.sum(
            pa.compute.binary_length(payload).cast(pa.int64())
        ).as_py()
        return int(total or 0) + off * n
    if pa.types.is_large_string(t) or pa.types.is_large_binary(t):
        total = pa.compute.sum(
            pa.compute.binary_length(arr).cast(pa.int64())
        ).as_py()
        return int(total or 0) + 8 * n
    if pa.types.is_boolean(t):
        return (n + 7) // 8
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        payload = arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr
        nv = len(payload.flatten())
        return nv * payload.type.value_type.bit_width // 8 + 4 * n
    return n * t.bit_width // 8
