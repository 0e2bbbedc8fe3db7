"""Per-column chunk encoder/decoder with codec auto-selection.

Public API (pure pyarrow/numpy; no Spark imports — runs inside Arrow UDFs):

    encode_column(arr: pa.Array, codec='auto') -> (codec_name, payload: bytes)
    decode_column(payload: bytes, typ: pa.DataType) -> pa.Array

The payload is self-describing given the column's Arrow type (which the
chunk stores once in its serialized schema). Block layout (v2):

    <B 0xEC magic> <B block_codec> <I crc32> [<Q raw_len>] payload
    block_codec 0 = raw (payload = body); 1 zstd, 2 snappy, 3 lz4,
    4 gzip, 5 brotli (payload = compressed body, raw_len present)
    body = <B codec_id> <Q n> <B has_validity> [validity bits] codec-body
    (crc32 is of the uncompressed body; verified on every decode)

    Legacy v1 blocks (first byte 0x00 raw / 0x01 zstd, no magic) are
    still readable; any other leading byte fails with an explicit
    format-version error instead of a misleading CRC mismatch.  The
    reference exposes the same codec x level surface through Parquet.Net
    (/root/reference/Parquet.Core/Options.cs:9-10, README.md:15-16).

Codec ids: 1 PLAIN (Arrow IPC, universal fallback), 2 INT (bit-faithful
int64 view -> FOR/DELTA/RLE int stream), 3 BOOL (bit-packed), 4 STR_PLAIN
(lengths int-stream + raw bytes), 5 STR_FSST (lengths + symbol-table
compressed bytes), 6 DICT (int-stream indexes + recursively encoded
dictionary; applied when distinct/count <= 0.8, the reference's gate at
/root/reference/Parquet/ParquetResultListener.cs:45), 7 LIST (lengths
int-stream + recursively encoded child), 8 DEC128 (two int64 lanes),
9 BSS (byte-stream-split for float32/float64: per-byte-plane transpose,
chosen over INT by a sampled size trial — the Parquet-format
BYTE_STREAM_SPLIT analog for full-entropy floats like embeddings),
10 ALP (decimal-float rescale round(v*10^e)/10^f to a small-int stream
with bitwise-verified raw exceptions — the ALP scheme, SIGMOD 2024,
for price/sensor-style decimal doubles; three-way INT/BSS/ALP sampled
trial), 11 PREFIX (incremental string encoding, the Parquet
DELTA_BYTE_ARRAY analog: adjacent-lcp lengths + suffix bytes — wins on
sorted key columns whose prefix sharing outruns the block window;
trialed on a contiguous sample window), 12 STRUCT (Dremel-style
per-field shredding: one recursively auto-encoded body per field).

Null handling is centralized: a bit-packed validity bitmap plus the
codec body over non-null values only; decode scatters through
`values.take(indexes-with-null-mask)` so every type round-trips
bit-identically (north-rule contract, BASELINE.json:6).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from . import fsst
from .ints import decode_uint64, encode_uint64
from .kernels import zigzag_decode, zigzag_encode

(PLAIN, INT, BOOL, STR_PLAIN, STR_FSST, DICT, LIST, DEC128, BSS, ALP,
 PREFIX, STRUCT) = 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12

CODEC_NAMES = {PLAIN: "plain", INT: "int", BOOL: "bool", STR_PLAIN: "str_plain",
               STR_FSST: "fsst", DICT: "dict", LIST: "list",
               DEC128: "dec128", BSS: "bss", ALP: "alp", PREFIX: "prefix",
               STRUCT: "struct"}
CODEC_IDS = {v: k for k, v in CODEC_NAMES.items()}

_ZSTD = pa.Codec("zstd", compression_level=3)
_ZSTD_HI = pa.Codec("zstd", compression_level=9)
_HI_MAX_BYTES = 4 << 20  # zstd-9 for streams up to 4 MB; level 3 above.
# Measured on a 5 MB FSST text stream: level 9 = 44 MB/s for 1.09 MB
# vs level 3 = 246 MB/s for 1.25 MB — 5.6x the block-compression
# throughput for ~14% on that column.  4 MB is the empirical knee:
# the layout-controlled bench chunks (<=3 MB bodies) keep level 9 and
# the exact r2 compressed size (size_vs_parquet 0.8801), while the
# big scan-stage streams (5-12 MB bodies, the 100 TB throughput path)
# drop to level 3 — splits encode 0.26 -> 0.52 GB/s at local[32]
# (together with the shared-histogram fix in _enc_fsst).

_BLOCK_MAGIC = 0xEC
_BLOCK_NAMES = {1: "zstd", 2: "snappy", 3: "lz4", 4: "gzip", 5: "brotli"}
_BLOCK_IDS = {v: k for k, v in _BLOCK_NAMES.items()}


def block_codecs_available() -> list[str]:
    """Block codecs usable in this build ("none"/"auto" always work)."""
    return [n for n in _BLOCK_IDS if pa.Codec.is_available(n)]


def _parse_block_codec(spec: str) -> tuple[int, "pa.Codec"]:
    """'zstd', 'zstd:9', 'snappy', ... -> (codec_id, pyarrow Codec)."""
    name, _, level = spec.partition(":")
    if name not in _BLOCK_IDS:
        raise ValueError(f"unknown block codec {spec!r}; "
                         f"available: {sorted(_BLOCK_IDS)} + none/auto")
    if not pa.Codec.is_available(name):
        raise ValueError(f"block codec {name!r} not available in this "
                         "pyarrow build")
    if level:
        return _BLOCK_IDS[name], pa.Codec(name, compression_level=int(level))
    return _BLOCK_IDS[name], pa.Codec(name)  # snappy/lz4 have no levels

DICT_MAX_DISTINCT_RATIO = 0.8  # reference: ParquetResultListener.cs:45
_SAMPLE_VALUES = 512
_SAMPLE_MAX_BYTES = 1 << 18

_INT_TYPES = {pa.int8(), pa.int16(), pa.int32(), pa.int64(),
              pa.uint8(), pa.uint16(), pa.uint32(), pa.uint64()}


# ---------------------------------------------------------------- helpers

def _v2(block_id: int, crc: bytes, body_or_comp: bytes,
        raw_len: int | None = None) -> bytes:
    head = bytes((_BLOCK_MAGIC, block_id)) + crc
    if raw_len is None:
        return head + body_or_comp
    return head + struct.pack("<Q", raw_len) + body_or_comp


def validate_block_codec(spec: str) -> None:
    """Eagerly validate a block-codec spec ("auto"/"none"/"name[:level]").

    Called by every encode entry point BEFORE any Spark job launches so
    a typo'd spec ('lzo', 'zstd:x') fails immediately — not mid-job once
    some chunk's body finally exceeds the small-body threshold."""
    if spec not in ("auto", "none"):
        _parse_block_codec(spec)


def _block_wrap(body: bytes, block_codec: str = "auto") -> bytes:
    """Wrap a codec body: pluggable block compression + CRC32.

    `block_codec`: "auto" (adaptive zstd — level 9 for small lightweight
    streams, 3 for big bodies, with an incompressibility probe that
    skips the full compress on random data), "none", or an explicit
    "name[:level]" from zstd/snappy/lz4/gzip/brotli.  The CRC is
    verified on every unwrap, so a corrupted chunk payload fails loudly
    instead of decoding to silently wrong data."""
    explicit = (None if block_codec in ("auto", "none")
                else _parse_block_codec(block_codec))  # validate even for
    #                                                    small bodies
    crc = struct.pack("<I", zlib.crc32(body) & 0xFFFFFFFF)
    if block_codec == "none" or len(body) <= 64:
        return _v2(0, crc, body)
    if block_codec == "auto":
        # for big buffers, probe a 64 KiB slice first: skip the full
        # compress when the data is incompressible (e.g. random binary)
        if len(body) > (1 << 20):
            mid = len(body) // 2
            probe = _ZSTD.compress(body[mid:mid + (1 << 16)])
            if len(probe) > 0.97 * (1 << 16):
                return _v2(0, crc, body)
        codec = _ZSTD_HI if len(body) <= _HI_MAX_BYTES else _ZSTD
        bid = _BLOCK_IDS["zstd"]
    else:
        bid, codec = explicit
    comp = codec.compress(body).to_pybytes()
    if len(comp) + 14 < len(body):
        return _v2(bid, crc, comp, raw_len=len(body))
    return _v2(0, crc, body)


def _block_unwrap(payload: bytes) -> bytes:
    lead = payload[0]
    if lead == _BLOCK_MAGIC:
        bid = payload[1]
        (crc,) = struct.unpack_from("<I", payload, 2)
        if bid == 0:
            body = payload[6:]
        else:
            name = _BLOCK_NAMES.get(bid)
            if name is None:
                raise ValueError(
                    f"unknown block codec id {bid}: data written by a "
                    "newer format version than this build supports")
            (raw_len,) = struct.unpack_from("<Q", payload, 6)
            body = pa.Codec(name).decompress(
                payload[14:], raw_len).to_pybytes()
    elif lead in (0, 1):  # legacy v1 (round-1 tables): raw / zstd
        (crc,) = struct.unpack_from("<I", payload, 1)
        if lead == 1:
            (raw_len,) = struct.unpack_from("<Q", payload, 5)
            body = _ZSTD.decompress(payload[13:], raw_len).to_pybytes()
        else:
            body = payload[5:]
    else:
        raise ValueError(
            f"unrecognized block header byte {lead:#04x}: not a "
            "parquet_spark chunk payload (or an incompatible format "
            "version)")
    if zlib.crc32(body) & 0xFFFFFFFF != crc:
        raise ValueError("chunk payload CRC mismatch: corrupted data")
    return body


def _validity_header(arr: pa.Array, codec_id: int) -> tuple[bytes, pa.Array]:
    n = len(arr)
    if arr.null_count == 0:
        return struct.pack("<BQB", codec_id, n, 0), arr
    valid = np.invert(pc.is_null(arr).to_numpy(zero_copy_only=False))
    head = struct.pack("<BQB", codec_id, n, 1) + np.packbits(valid).tobytes()
    return head, arr.drop_null()


def _read_header(body: bytes) -> tuple[int, int, np.ndarray | None, int]:
    codec_id, n, has_valid = struct.unpack_from("<BQB", body, 0)
    off = 10
    valid = None
    if has_valid:
        nbytes = (n + 7) // 8
        valid = np.unpackbits(np.frombuffer(body, np.uint8, nbytes, off),
                              count=n).astype(bool)
        off += nbytes
    return codec_id, n, valid, off


def _scatter(values: pa.Array, n: int, valid: np.ndarray | None) -> pa.Array:
    """Re-insert nulls: take(values, idx) where idx is null at null slots."""
    if valid is None:
        return values
    idx = np.zeros(n, dtype=np.int64)
    idx[valid] = np.arange(len(values), dtype=np.int64)
    return values.take(pa.array(idx, type=pa.int64(), mask=~valid))


def _bytes_and_lengths(a: pa.Array) -> tuple[bytes, np.ndarray]:
    """Concatenated value bytes (zero-copy memoryview) + per-value lengths."""
    a = a.cast(pa.large_binary())
    if len(a) == 0:
        return b"", np.zeros(0, dtype=np.int64)
    offs = np.frombuffer(a.buffers()[1], dtype=np.int64,
                         count=len(a) + 1, offset=a.offset * 8)
    data = memoryview(a.buffers()[2])[offs[0]: offs[-1]]
    return data, offs[1:] - offs[:-1]


def _prefix_u32(b: bytes) -> bytes:
    return struct.pack("<I", len(b)) + b


def _read_u32_block(buf: bytes, off: int) -> tuple[bytes, int]:
    (ln,) = struct.unpack_from("<I", buf, off)
    off += 4
    return buf[off:off + ln], off + ln


# ---------------------------------------------------------------- encoders

def _enc_plain(arr: pa.Array) -> bytes:
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, pa.schema([pa.field("c", arr.type)])) as w:
        w.write_batch(pa.record_batch([arr], names=["c"]))
    return struct.pack("<BQB", PLAIN, len(arr), 0) + sink.getvalue().to_pybytes()


def _dec_plain(body: bytes) -> pa.Array:
    _, _, _, off = _read_header(body)
    with pa.ipc.open_stream(pa.BufferReader(body[off:])) as r:
        tbl = r.read_all()
    return tbl.column(0).combine_chunks()


def _int_view(vals: pa.Array) -> np.ndarray:
    """Bit-faithful int64 view of any int/float/temporal non-null array."""
    t = vals.type
    if pa.types.is_float64(t):
        return vals.to_numpy(zero_copy_only=False).view(np.int64)
    if pa.types.is_float32(t):
        return vals.to_numpy(zero_copy_only=False).view(np.uint32).astype(np.int64)
    if pa.types.is_uint64(t):
        return vals.to_numpy(zero_copy_only=False).view(np.int64)
    return vals.cast(pa.int64()).to_numpy(zero_copy_only=False)


def _int_restore(ints: np.ndarray, t: pa.DataType) -> pa.Array:
    if pa.types.is_float64(t):
        return pa.array(ints.view(np.float64), type=t)
    if pa.types.is_float32(t):
        return pa.array(ints.astype(np.uint32).view(np.float32), type=t)
    if pa.types.is_uint64(t):
        return pa.array(ints.view(np.uint64), type=t)
    a = pa.array(ints, type=pa.int64())
    if pa.types.is_date32(t) or pa.types.is_time32(t):
        return a.cast(pa.int32()).cast(t)
    if t in _INT_TYPES and t != pa.int64():
        return a.cast(t)
    if pa.types.is_int64(t):
        return a
    return a.cast(t)  # timestamp/date64/time64/duration


def _enc_int(arr: pa.Array) -> bytes:
    head, vals = _validity_header(arr, INT)
    return head + encode_uint64(_int_view(vals).view(np.uint64))


def _dec_int(body: bytes, t: pa.DataType) -> pa.Array:
    _, n, valid, off = _read_header(body)
    ints = decode_uint64(body[off:]).view(np.int64)
    return _scatter(_int_restore(ints, t), n, valid)


def _enc_bool(arr: pa.Array) -> bytes:
    head, vals = _validity_header(arr, BOOL)
    npv = vals.to_numpy(zero_copy_only=False)
    return head + struct.pack("<Q", len(npv)) + np.packbits(npv).tobytes()


def _dec_bool(body: bytes, t: pa.DataType) -> pa.Array:
    _, n, valid, off = _read_header(body)
    (nv,) = struct.unpack_from("<Q", body, off)
    bits = np.unpackbits(np.frombuffer(body, np.uint8, (nv + 7) // 8, off + 8),
                         count=nv).astype(bool)
    return _scatter(pa.array(bits, type=pa.bool_()), n, valid)


def _strings_from(data, lengths: np.ndarray, t: pa.DataType) -> pa.Array:
    offs = np.zeros(len(lengths) + 1, dtype=np.int64)
    np.cumsum(lengths, out=offs[1:])
    arr = pa.Array.from_buffers(
        pa.large_binary(), len(lengths),
        [None, pa.py_buffer(offs.tobytes()), pa.py_buffer(data)])
    return arr.cast(t)


def _enc_str_plain(arr: pa.Array) -> bytes:
    head, vals = _validity_header(arr, STR_PLAIN)
    data, lengths = _bytes_and_lengths(vals)
    return b"".join((head, _prefix_u32(encode_uint64(
        np.ascontiguousarray(lengths).view(np.uint64))), data))


def _dec_str_plain(body: bytes, t: pa.DataType) -> pa.Array:
    _, n, valid, off = _read_header(body)
    lens_b, off = _read_u32_block(body, off)
    lengths = decode_uint64(lens_b).view(np.int64)
    return _scatter(_strings_from(body[off:], lengths, t), n, valid)


# Adaptive FSST config: the measured global default (shallow
# count-ranked tables, fsst.py config note) wins under the zstd block
# layer, but the paper-faithful deep gain-ranked config wins when
# payloads ship raw (block_codec="none") or when a chunk's redundancy
# is phrase-shaped.  When the caller passes the block codec actually in
# effect, chunks past this size train BOTH configs on the
# (SAMPLE_BYTES-capped) sample, trial-encode a prefix, block-wrap both,
# and keep the winner — decided once per partition-column (the ctx
# table cache reuses the winning table).
_ADAPT_MIN_BYTES = 64 << 10    # below this the trial noise beats the gain
_ADAPT_TRIAL_BYTES = 128 << 10  # prefix trial-encoded per candidate table
# the paper config measured best on raw FSST size (fsst.py study table)
_ADAPT_ALT = {"rank": "gain", "rounds": 4, "budget": (96, 64, 48, 47)}


def _enc_fsst(arr: pa.Array, table=None, ctx: dict | None = None,
              block_codec: str | None = None) -> bytes | None:
    head, vals = _validity_header(arr, STR_FSST)
    data, lengths = _bytes_and_lengths(vals)
    # LAZILY computed histogram, shared by reuse-validation, training,
    # and the u8-mode encode safety check — these each did their own
    # full-buffer bincount before (profiled: the redundant pass was the
    # largest steady-state encode cost on text columns).  Lazy because
    # the u16 steady state needs NO histogram at all (table_ok is
    # trivially true and the u16 encode never reads one).
    hist = None

    def get_hist():
        nonlocal hist
        if hist is None and len(data) >= 64:
            hist = fsst.byte_hist(data)
        return hist

    if table is None and ctx is not None:
        # per-partition symbol-table reuse: train on the first chunk,
        # apply to the rest (re-validated; u8 codes must stay free)
        cached = ctx.get("fsst_table")
        if cached is not None:
            if cached["mode"] == "u16":
                table = cached  # u16 applies to any buffer, no check
            elif fsst.table_ok(data, cached, hist=get_hist()):
                table = cached
    if table is None:
        table = fsst.train(data, hist=get_hist())
        if (block_codec is not None and table
                and len(data) >= _ADAPT_MIN_BYTES):
            alt = fsst.train(data, hist=get_hist(), **_ADAPT_ALT)
            # the trial prefix inherits data's free-code guarantee
            # (its histogram is a sub-multiset), so all u8 tables
            # apply safely.  Candidates: the shallow default, the
            # paper-gain deep table, and the default applied with a
            # SINGLE substitution pass — measured on web text the
            # one-pass stream both encodes ~25-35% faster AND wraps
            # smaller (the second merge pass hides pair redundancy the
            # outer zstd models better than the 15 round-2 symbols
            # do).  Decode is pass-count-agnostic (codes expand
            # recursively), so this is purely a wrapped-size choice.
            trial = data[:_ADAPT_TRIAL_BYTES]
            cands = [table, dict(table, rounds=1)]
            if alt:
                cands.append(alt)
            table = min(
                cands,
                key=lambda tb: len(_block_wrap(fsst.encode(trial, tb),
                                               block_codec)))
        if ctx is not None and table:
            ctx["fsst_table"] = table
    if not table:
        return None
    return (head + _prefix_u32(encode_uint64(
        np.ascontiguousarray(lengths).view(np.uint64))) +
        fsst.encode(data, table, hist=hist))


def _dec_fsst(body: bytes, t: pa.DataType) -> pa.Array:
    _, n, valid, off = _read_header(body)
    lens_b, off = _read_u32_block(body, off)
    lengths = decode_uint64(lens_b).view(np.int64)
    data = fsst.decode(memoryview(body)[off:])
    return _scatter(_strings_from(data, lengths, t), n, valid)


def _enc_dict(arr: pa.Array) -> bytes:
    head, vals = _validity_header(arr, DICT)
    denc = vals.dictionary_encode()
    idx = denc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    dict_vals = denc.dictionary
    inner = _encode_body(dict_vals, "auto", allow_dict=False)
    return head + _prefix_u32(encode_uint64(idx.view(np.uint64))) + inner


def _dec_dict(body: bytes, t: pa.DataType) -> pa.Array:
    _, n, valid, off = _read_header(body)
    idx_b, off = _read_u32_block(body, off)
    idx = decode_uint64(idx_b).view(np.int64)
    dict_vals = _decode_body(body[off:], t)
    taken = dict_vals.take(pa.array(idx, type=pa.int64()))
    return _scatter(taken, n, valid)


def _enc_list(arr: pa.Array) -> bytes:
    head, vals = _validity_header(arr, LIST)
    flat = vals.flatten()
    if pa.types.is_large_list(vals.type):
        offs = np.frombuffer(vals.buffers()[1], np.int64,
                             count=len(vals) + 1, offset=vals.offset * 8)
    else:
        offs = np.frombuffer(vals.buffers()[1], np.int32,
                             count=len(vals) + 1, offset=vals.offset * 4).astype(np.int64)
    lengths = np.diff(offs)
    inner = _encode_body(flat, "auto")
    return head + _prefix_u32(encode_uint64(lengths.view(np.uint64))) + inner


def _dec_list(body: bytes, t: pa.DataType) -> pa.Array:
    _, n, valid, off = _read_header(body)
    lens_b, off = _read_u32_block(body, off)
    lengths = decode_uint64(lens_b).view(np.int64)
    child = _decode_body(body[off:], t.value_type)
    offs = np.zeros(len(lengths) + 1, dtype=np.int64)
    np.cumsum(lengths, out=offs[1:])
    if pa.types.is_large_list(t):
        lst = pa.LargeListArray.from_arrays(pa.array(offs, type=pa.int64()), child)
    else:
        lst = pa.ListArray.from_arrays(pa.array(offs.astype(np.int32),
                                                type=pa.int32()), child)
    return _scatter(lst.cast(t), n, valid)


def _enc_dec128(arr: pa.Array) -> bytes:
    """Decimal128 via FOR/DELTA/RLE over the unscaled int128, split into
    two int64 lanes (little-endian low quad, then high quad).  The high
    lane is 0/-1 sign fill for every decimal that fits 64 bits — pure
    RLE — so typical money-scale columns cost barely more than int64.
    (Reference type list includes decimal, Doc/Schema/1.0.0.md:20;
    parquet's own encoding falls back to fixed-len plain.)"""
    head, vals = _validity_header(arr, DEC128)
    data = np.frombuffer(vals.buffers()[1], np.uint64,
                         count=len(vals) * 2, offset=vals.offset * 16)
    lo = np.ascontiguousarray(data[0::2])
    hi = np.ascontiguousarray(data[1::2])
    return head + _prefix_u32(encode_uint64(lo)) + encode_uint64(hi)


def _dec_dec128(body: bytes, t: pa.DataType) -> pa.Array:
    _, n, valid, off = _read_header(body)
    lo_b, off = _read_u32_block(body, off)
    lo = decode_uint64(lo_b)
    hi = decode_uint64(body[off:])
    data = np.empty(len(lo) * 2, dtype=np.uint64)
    data[0::2] = lo
    data[1::2] = hi
    vals = pa.Array.from_buffers(
        pa.decimal128(t.precision, t.scale), len(lo),
        [None, pa.py_buffer(data.tobytes())])
    return _scatter(vals, n, valid)


def _enc_bss(arr: pa.Array) -> bytes:
    """Byte-stream-split for float32/float64: transpose the value bytes
    so each byte plane (sign/exponent planes vs mantissa planes) forms a
    contiguous stream.  The transpose itself is size-neutral; the win is
    that the low-entropy exponent planes become long compressible runs
    for the block compressor — the same rationale as Parquet's own
    BYTE_STREAM_SPLIT encoding (format spec, Encodings.md) — where the
    interleaved layout defeats it.  Bit-faithful: NaN payloads, -0.0 and
    inf round-trip exactly (north-rule contract, BASELINE.json:6)."""
    head, vals = _validity_header(arr, BSS)
    npv = np.ascontiguousarray(vals.to_numpy(zero_copy_only=False))
    width = npv.dtype.itemsize
    planes = npv.view(np.uint8).reshape(-1, width).T
    return head + bytes((width,)) + np.ascontiguousarray(planes).tobytes()


def _dec_bss(body: bytes, t: pa.DataType) -> pa.Array:
    _, n, valid, off = _read_header(body)
    width = body[off]
    off += 1
    nv = (len(body) - off) // width
    planes = np.frombuffer(body, np.uint8, nv * width, off)
    flat = np.ascontiguousarray(planes.reshape(width, nv).T).reshape(-1)
    dtype = np.float32 if width == 4 else np.float64
    vals = pa.array(flat.view(dtype), type=t)
    return _scatter(vals, n, valid)


def _enc_struct(arr: pa.Array) -> bytes:
    """Struct columns shred into per-field bodies, each recursively
    auto-encoded — the Dremel-style columnar decomposition Parquet
    applies to nested groups, so a struct<price:double, lang:string>
    gets ALP on one field and dict/FSST on the other.  Field count and
    order come from the Arrow type at decode time; only the bodies are
    stored."""
    head, vals = _validity_header(arr, STRUCT)
    parts = [head]
    for i in range(vals.type.num_fields):
        child = vals.field(i)
        if isinstance(child, pa.ChunkedArray):
            child = child.combine_chunks()
        parts.append(_prefix_u32(_encode_body(child, "auto")))
    return b"".join(parts)


def _dec_struct(body: bytes, t: pa.DataType) -> pa.Array:
    _, n, valid, off = _read_header(body)
    children = []
    for i in range(t.num_fields):
        child_b, off = _read_u32_block(body, off)
        children.append(_decode_body(child_b, t.field(i).type))
    if children:
        vals = pa.StructArray.from_arrays(children, fields=list(t))
    else:  # zero-field struct: only the validity carries information
        nv = n if valid is None else int(valid.sum())
        vals = pa.array([{}] * nv, type=t)
    return _scatter(vals, n, valid)


# Prefix (incremental) string encoding (codec id 11) — the Parquet
# DELTA_BYTE_ARRAY analog: each value stores only the byte count it
# shares with its predecessor plus its suffix.  The engine sorts every
# partition by the layout key, so the key column (urls!) arrives sorted
# and adjacent values share scheme+host+path prefixes the 8-byte-symbol
# FSST table cannot fully capture.
_PREFIX_CAP = 256        # max prefix bytes considered (missed sharing
                         # beyond the cap costs size, never correctness)
_PREFIX_TILE = 8192      # rows per lcp tile: bounds the (tile, CAP)
                         # scratch matrices regardless of chunk size


def _adjacent_lcp(data: bytes, offs: np.ndarray) -> np.ndarray:
    """lcp[i] = common prefix bytes of value i and value i-1 (lcp[0]=0),
    capped at _PREFIX_CAP.  Tiled vectorized compare — no per-row Python."""
    n = len(offs) - 1
    lens = np.diff(offs)
    lcp = np.zeros(n, np.int64)
    if n < 2 or len(data) == 0:
        return lcp
    k = int(min(_PREFIX_CAP, lens.max()))
    if k == 0:
        return lcp
    buf = np.frombuffer(data, np.uint8)
    col = np.arange(k)[None, :]
    for t0 in range(1, n, _PREFIX_TILE):
        t1 = min(t0 + _PREFIX_TILE, n)
        rows = np.arange(t0 - 1, t1)          # include predecessor row
        tl = lens[rows][:, None]
        valid = col < tl
        m = np.zeros((len(rows), k), np.uint8)
        idx = offs[rows][:, None] + col
        m[valid] = buf[idx[valid]]
        neq = m[1:] != m[:-1]
        tile_lcp = np.where(neq.any(axis=1), neq.argmax(axis=1), k)
        minlen = np.minimum(lens[t0 - 1:t1 - 1], lens[t0:t1])
        lcp[t0:t1] = np.minimum(tile_lcp, np.minimum(minlen, k))
    return lcp


def _range_index(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """The positions starts[i] .. starts[i]+lens[i]-1 of every range, in
    order, without a Python loop (cumsum index trick)."""
    total = int(lens.sum())
    if total == 0:
        return np.zeros(0, np.int64)
    nz = lens > 0
    s, l = starts[nz], lens[nz]
    out = np.ones(total, np.int64)
    pos = np.concatenate(([0], np.cumsum(l)[:-1]))
    out[pos] = np.concatenate(([s[0]], s[1:] - (s[:-1] + l[:-1] - 1)))
    np.cumsum(out, out=out)
    return out


def _enc_prefix(arr: pa.Array) -> bytes:
    head, vals = _validity_header(arr, PREFIX)
    data, lengths = _bytes_and_lengths(vals)
    offs = np.zeros(len(lengths) + 1, np.int64)
    np.cumsum(lengths, out=offs[1:])
    lcp = _adjacent_lcp(data, offs)
    suf_lens = lengths - lcp
    suffixes = np.frombuffer(data, np.uint8)[
        _range_index(offs[:-1] + lcp, suf_lens)].tobytes()
    return b"".join((head,
                     _prefix_u32(encode_uint64(lcp.view(np.uint64))),
                     _prefix_u32(encode_uint64(suf_lens.view(np.uint64))),
                     suffixes))


def _dec_prefix(body: bytes, t: pa.DataType) -> pa.Array:
    _, n, valid, off = _read_header(body)
    lcp_b, off = _read_u32_block(body, off)
    lcp = decode_uint64(lcp_b).view(np.int64)
    sl_b, off = _read_u32_block(body, off)
    suf_lens = decode_uint64(sl_b).view(np.int64)
    lengths = lcp + suf_lens
    starts = np.zeros(len(lengths) + 1, np.int64)
    np.cumsum(lengths, out=starts[1:])
    outbuf = np.empty(int(starts[-1]), np.uint8)
    # the suffixes are stored in row order: scatter them all at once
    suf = _range_index(starts[:-1] + lcp, suf_lens)
    outbuf[suf] = np.frombuffer(body, np.uint8, len(suf), off)
    # then the borrowed bytes, one byte position j at a time (j < the
    # cap): byte j of row i (j < lcp[i]) is byte j of the last row
    # r <= i with lcp[r] <= j, which is a suffix byte of r
    rows = np.arange(len(lcp))
    for j in range(int(lcp.max(initial=0))):
        borrow = lcp > j
        last = np.maximum.accumulate(np.where(borrow, 0, rows))
        dst = np.flatnonzero(borrow)
        outbuf[starts[dst] + j] = outbuf[starts[last[dst]] + j]
    return _scatter(_strings_from(outbuf, lengths, t), n, valid)


# ALP-style decimal-float encoding (codec id 10).  Published scheme:
# "ALP: Adaptive Lossless floating-Point compression" (SIGMOD 2024) —
# most real-world doubles are decimals (prices, sensor readings,
# percentages) whose IEEE mantissas look random to every byte-level
# codec, but which become SMALL INTEGERS under the right decimal scale.
_ALP_MAX_E = {4: 10, 8: 16}   # max decimal exponent trialed per width
_ALP_SAFE_INT = float(1 << 51)  # |i| bound: exact in f64 AND int64-safe


def _alp_decode_expr(ints: np.ndarray, e: int, f: int, dtype) -> np.ndarray:
    """THE decode arithmetic — encode verifies against this exact
    expression bitwise, so any value it cannot reproduce is stored as a
    raw exception and correctness never depends on fp subtleties."""
    return ((ints * (10.0 ** f)) / (10.0 ** e)).astype(dtype)


def _enc_alp(arr: pa.Array) -> bytes:
    """v -> round(v * 10^e) / 10^f as a FOR/DELTA/RLE int stream, plus a
    bitwise-verified exception list (positions int-stream + raw IEEE
    bytes) for values the (e, f) transform cannot reproduce exactly —
    NaN payloads, infinities, non-decimal doubles.  Always lossless by
    construction; the auto-selector decides by trial size whether the
    exception rate lets it win."""
    head, vals = _validity_header(arr, ALP)
    npv = np.ascontiguousarray(vals.to_numpy(zero_copy_only=False))
    width = npv.dtype.itemsize
    bits = npv.view(np.uint32 if width == 4 else np.uint64)
    v64 = npv.astype(np.float64)

    # choose the decimal exponent e on a value sample
    step = max(1, len(npv) // _SAMPLE_VALUES)
    sample, sbits = v64[::step], bits[::step]
    sdtype = npv.dtype
    best_e, best_ok = 0, -1
    for e in range(_ALP_MAX_E[width] + 1):
        i = np.round(sample * (10.0 ** e))
        with np.errstate(invalid="ignore", over="ignore"):
            fits = np.abs(i) < _ALP_SAFE_INT
        i = np.where(fits, i, 0.0)
        ok = int((fits & (_alp_decode_expr(i, e, 0, sdtype)
                          .view(sbits.dtype) == sbits)).sum())
        if ok > best_ok:  # ties keep the smaller e (smaller residuals)
            best_e, best_ok = e, ok
    e = best_e

    i = np.round(v64 * (10.0 ** e))
    with np.errstate(invalid="ignore", over="ignore"):
        fits = np.abs(i) < _ALP_SAFE_INT
    i = np.where(fits, i, 0.0)

    # trailing-zero factor f: divide out a common power of ten (exact
    # fmod on integral f64 < 2^52)
    f = 0
    i_ok = i[fits]
    while f < e and len(i_ok) and np.all(i_ok % (10.0 ** (f + 1)) == 0.0):
        f += 1
    idiv = i / (10.0 ** f) if f else i

    # verify against the int64-roundtripped stream — exactly what decode
    # reads — so -0.0 (which int conversion folds to +0) is an exception
    idiv = idiv.astype(np.int64).astype(np.float64)
    exact = fits & (_alp_decode_expr(idiv, e, f, npv.dtype)
                    .view(bits.dtype) == bits)
    exc_pos = np.flatnonzero(~exact).astype(np.uint64)
    if len(exc_pos):
        filled = idiv[exact]
        fill = filled[0] if len(filled) else 0.0  # keep the FOR range tight
        idiv = np.where(exact, idiv, fill)
    ints = encode_uint64(zigzag_encode(idiv.astype(np.int64)))
    return b"".join((head, struct.pack("<BBB", width, e, f),
                     _prefix_u32(ints), _prefix_u32(encode_uint64(exc_pos)),
                     npv[~exact].tobytes()))


def _dec_alp(body: bytes, t: pa.DataType) -> pa.Array:
    _, n, valid, off = _read_header(body)
    width, e, f = struct.unpack_from("<BBB", body, off)
    off += 3
    ints_b, off = _read_u32_block(body, off)
    ints = zigzag_decode(decode_uint64(ints_b)).astype(np.float64)
    dtype = np.float32 if width == 4 else np.float64
    dec = _alp_decode_expr(ints, e, f, dtype)
    pos_b, off = _read_u32_block(body, off)
    pos = decode_uint64(pos_b).astype(np.int64)
    if len(pos):
        dec[pos] = np.frombuffer(body, dtype, len(pos), off)
    return _scatter(pa.array(dec, type=t), n, valid)


# ------------------------------------------------------------- auto-select

def _is_intfamily(t: pa.DataType) -> bool:
    return (pa.types.is_integer(t) or pa.types.is_floating(t)
            or pa.types.is_timestamp(t) or pa.types.is_date(t)
            or pa.types.is_time(t) or pa.types.is_duration(t))


def column_stats(sample: pa.Array) -> dict:
    """Sampled column statistics driving codec auto-selection
    (north-rule contract: cardinality, run length, byte entropy)."""
    nn = max(1, len(sample) - sample.null_count)
    distinct = pc.count_distinct(sample).as_py()
    # mean run length of equal adjacent values
    if len(sample) > 1:
        vals = sample.drop_null()
        neq = pc.sum(pc.not_equal(vals.slice(1), vals.slice(0, len(vals) - 1))
                     ).as_py() or 0
        mean_run = len(vals) / (neq + 1) if len(vals) else 1.0
    else:
        mean_run = 1.0
    # byte entropy of the value bytes (high entropy -> plain/skip trials)
    ent = 0.0
    if (pa.types.is_string(sample.type) or pa.types.is_large_string(sample.type)
            or pa.types.is_binary(sample.type)
            or pa.types.is_large_binary(sample.type)):
        data, _ = _bytes_and_lengths(sample.drop_null())
        if len(data) > 0:
            hist = np.bincount(np.frombuffer(data, np.uint8), minlength=256)
            p = hist[hist > 0] / len(data)
            ent = float(-(p * np.log2(p)).sum())
    return {"distinct_ratio": distinct / nn, "mean_run_len": mean_run,
            "byte_entropy": ent}


_ENTROPY_SKIP_FSST = 7.5  # bits/byte; above this a symbol table can't win


def _pick_string_codec(arr: pa.Array, block_codec: str | None = None) -> int:
    """Stats-driven choice between DICT / FSST / PREFIX / STR_PLAIN."""
    n = len(arr)
    step = max(1, n // _SAMPLE_VALUES)
    sample = arr[::step] if step > 1 else arr
    # cap the trial-encode work by BYTES as well: on small chunks the
    # value-count cap alone would trial-encode the entire column
    if sample.nbytes > _SAMPLE_MAX_BYTES and len(sample) > 64:
        frac = _SAMPLE_MAX_BYTES / sample.nbytes
        sample = sample[:: max(2, int(1 / frac))]
    stats = column_stats(sample)
    if stats["distinct_ratio"] <= DICT_MAX_DISTINCT_RATIO:
        return DICT
    if stats["byte_entropy"] >= _ENTROPY_SKIP_FSST:
        return STR_PLAIN  # near-random bytes: skip the FSST trial entirely
    sp = _enc_str_plain(sample)
    fs = _enc_fsst(sample)
    if fs is None:
        pick = STR_PLAIN
    elif block_codec == "none":
        pick = STR_FSST if len(fs) < len(sp) else STR_PLAIN
    elif arr.nbytes <= (4 << 20):
        # column fits within zstd's match window: the sample-level
        # wrapped sizes are representative of the full chunk
        pick = (STR_FSST if len(_block_wrap(fs)) < len(_block_wrap(sp))
                else STR_PLAIN)
    else:
        # Large column: decide on RAW symbol-table gain, not sample-level
        # zstd sizes — on a small sample zstd's window covers everything
        # and flatters PLAIN, but at chunk scale the window is a fraction
        # of the data and FSST keeps winning (its symbol table is global,
        # so it effectively extends the window by its ratio).  A raw gain
        # >= 1.4x reliably indicates the table bites.
        pick = STR_FSST if len(fs) * 1.4 <= len(sp) else STR_PLAIN
    # Prefix trial needs ADJACENCY, so it samples a CONTIGUOUS window
    # (the strided sample above destroys prefix sharing).  Cheap gate:
    # only trial-encode when adjacent values actually share bytes —
    # true for the sorted layout-key column, false for payload text.
    win = arr.slice(0, min(len(arr), _SAMPLE_VALUES)).drop_null()
    if len(win) >= 8:
        wdata, wlens = _bytes_and_lengths(win)
        woffs = np.zeros(len(wlens) + 1, np.int64)
        np.cumsum(wlens, out=woffs[1:])
        lcp = _adjacent_lcp(wdata, woffs)
        if len(wdata) and lcp.sum() >= 0.25 * len(wdata):
            # compare on the same contiguous window for fairness
            base_enc = (_enc_fsst(win) if pick == STR_FSST
                        else _enc_str_plain(win))
            if base_enc is None:
                base_enc = _enc_str_plain(win)
            pref = _enc_prefix(win)
            if block_codec == "none":
                if len(pref) < len(base_enc):
                    return PREFIX
            elif arr.nbytes <= (4 << 20):
                # small chunk: the block window covers everything, so the
                # wrapped sizes decide (zstd usually eats adjacent-string
                # redundancy by itself here)
                if len(_block_wrap(pref)) < len(_block_wrap(base_enc)):
                    return PREFIX
            elif len(pref) * 1.4 <= len(base_enc):
                # large chunk: the block window is a fraction of the data,
                # so decide on RAW gain (same rationale as the FSST 1.4x
                # rule above) — prefix's sharing is global while zstd's
                # matches are window-bounded
                return PREFIX
    return pick


def _pick_float_codec(arr: pa.Array, block_codec: str | None) -> int:
    """Sampled trial between INT (FOR/DELTA/RLE over bit-faithful views —
    wins on low-cardinality, integral-valued or monotone floats), BSS
    (byte-plane transpose — wins on full-entropy mantissas, e.g.
    embedding vectors, where the int stream degenerates to raw 8-byte
    words the block compressor can't touch) and ALP (decimal rescale to
    small integers — wins on price/sensor-style decimal doubles whose
    mantissas defeat both of the above)."""
    if len(arr) == 0:
        return INT
    n = len(arr)
    step = max(1, n // _SAMPLE_VALUES)
    sample = arr[::step] if step > 1 else arr
    if block_codec == "none":
        # no block layer: BSS is size-neutral by itself, but ALP's int
        # stream shrinks on its own — trial it raw
        return (ALP if len(_enc_alp(sample)) < len(_enc_int(sample))
                else INT)
    bc = block_codec or "auto"
    sizes = [(len(_block_wrap(_enc_int(sample), bc)), INT),
             (len(_block_wrap(_enc_bss(sample), bc)), BSS),
             (len(_block_wrap(_enc_alp(sample), bc)), ALP)]
    return min(sizes)[1]


def _encode_body(arr: pa.Array, codec: str, allow_dict: bool = True,
                 ctx: dict | None = None,
                 block_codec: str | None = None) -> bytes:
    t = arr.type
    if codec != "auto":
        cid = CODEC_IDS[codec]
    elif pa.types.is_boolean(t):
        cid = BOOL
    elif pa.types.is_float32(t) or pa.types.is_float64(t):
        cid = _pick_float_codec(arr, block_codec)
    elif _is_intfamily(t):
        cid = INT
    elif pa.types.is_string(t) or pa.types.is_large_string(t) \
            or pa.types.is_binary(t) or pa.types.is_large_binary(t):
        cid = _pick_string_codec(arr, block_codec) if allow_dict else None
        if cid is None:  # dictionary values: fsst-vs-plain only
            fs = _enc_fsst(arr)
            if fs is not None:
                sp = _enc_str_plain(arr)
                return fs if len(fs) < len(sp) else sp
            cid = STR_PLAIN
    elif pa.types.is_list(t) or pa.types.is_large_list(t):
        cid = LIST
    elif pa.types.is_struct(t):
        cid = STRUCT
    elif pa.types.is_decimal128(t):
        cid = DEC128
    else:
        cid = PLAIN

    if cid == STR_FSST:
        body = _enc_fsst(arr, ctx=ctx, block_codec=block_codec)
        if body is None:
            body = _enc_str_plain(arr)
        return body
    enc = {PLAIN: _enc_plain, INT: _enc_int, BOOL: _enc_bool,
           STR_PLAIN: _enc_str_plain, DICT: _enc_dict, LIST: _enc_list,
           DEC128: _enc_dec128, BSS: _enc_bss, ALP: _enc_alp,
           PREFIX: _enc_prefix, STRUCT: _enc_struct}[cid]
    return enc(arr)


def _decode_body(body: bytes, t: pa.DataType) -> pa.Array:
    cid = body[0]
    dec = {PLAIN: lambda b: _dec_plain(b), INT: _dec_int, BOOL: _dec_bool,
           STR_PLAIN: _dec_str_plain, STR_FSST: _dec_fsst,
           DICT: _dec_dict, LIST: _dec_list, DEC128: _dec_dec128,
           BSS: _dec_bss, ALP: _dec_alp, PREFIX: _dec_prefix,
           STRUCT: _dec_struct}
    if cid == PLAIN:
        return _dec_plain(body)
    return dec[cid](body, t)


# ------------------------------------------------------------------ public

def encode_column(arr: pa.Array, codec: str = "auto",
                  ctx: dict | None = None,
                  block_codec: str = "auto") -> tuple[str, bytes]:
    """Encode one column chunk. Returns (codec_name, payload).

    `ctx` is an optional per-partition, per-column scratch dict: the
    auto-selector's choice and the trained FSST symbol table are cached
    there so later chunks of the same partition skip re-sampling.
    `block_codec` picks the outer block compression (O15 parity:
    "auto" | "none" | "zstd[:lvl]" | "snappy" | "lz4" | "gzip[:lvl]" |
    "brotli[:lvl]")."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    try:
        body = _encode_body(arr, codec, ctx=ctx, block_codec=block_codec)
    except Exception:
        if codec != "auto":
            raise
        body = _enc_plain(arr)  # universal fallback keeps every type working
    return CODEC_NAMES[body[0]], _block_wrap(body, block_codec)


def decode_column(payload: bytes, typ: pa.DataType) -> pa.Array:
    body = _block_unwrap(payload)
    out = _decode_body(body, typ)
    if out.type != typ:
        out = out.cast(typ)
    return out
