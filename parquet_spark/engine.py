"""Spark-side encode/decode engine.

encode_table: DataFrame -> DataFrame of encoded column-chunk rows
decode_table: encoded DataFrame -> original DataFrame (bit-identical)
decode_files: committed part files -> the same, each file read and
              decoded inside one Python task (read_part_file)

Spark-first rendering of the reference's hot path (rows -> columnar
row-group cache -> flush, /root/reference/Parquet.Core/Fragment.cs:129-311):

  * the "row-group" is an Arrow record batch (maxRecordsPerBatch is the
    RowGroupSize knob, reference default 10,000, Options.cs:8);
  * the "fragment" is a Spark partition, placed by deterministic hash
    partitioning on the key (murmur3(key) pmod n — uniform and stable at
    any scale; the north rule's explicit url-hash placement), with the
    manifest layer offering filterable range placement for resume;
  * the "writer thread" is the executor's Python worker running a
    vectorized Arrow UDF (mapInArrow) — no per-row Python anywhere.

Chunks are self-describing: each encoded row carries the serialized
Arrow schema plus one payload per column, so decode needs no driver
state and no shuffle (narrow mapInArrow over encoded rows).
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from .codecs import decode_column, encode_column


def file_digest(path: str) -> str:
    """Streaming blake2b-64 of a file's bytes (integrity lineage)."""
    h = hashlib.blake2b(digest_size=8)
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def write_part_atomic(tbl: pa.Table, final: str) -> str:
    """Write a part file via tmp-name + atomic rename, returning the
    blake2b-64 digest of its bytes.  Every data-file writer funnels
    through here so the manifest can carry a per-part `file_hash`
    that `fsck_table(deep=True)` re-verifies — the bit-rot /
    truncated-upload detector the commit protocol itself cannot be
    (CAS protects the pointer, not the object bytes)."""
    import os
    import uuid

    import pyarrow.parquet as pq
    tmp = final + f".tmp-{uuid.uuid4().hex}"
    pq.write_table(tbl, tmp, compression="none")  # payloads pre-compressed
    digest = file_digest(tmp)
    os.replace(tmp, final)
    return digest


ENCODED_DDL = ("part_id bigint, chunk_id bigint, n_rows bigint, "
               "schema_ipc binary, names array<string>, "
               "codecs array<string>, payloads array<binary>, "
               "bytes_in array<bigint>, bytes_out array<bigint>, "
               "key_name string, key_min string, key_max string, "
               "key_min_num bigint, key_max_num bigint, "
               "zone_cols array<string>, "
               "zone_min_str array<string>, zone_max_str array<string>, "
               "zone_min_num array<bigint>, zone_max_num array<bigint>, "
               "zone_min_dbl array<double>, zone_max_dbl array<double>, "
               "bloom_cols array<string>, blooms array<array<bigint>>, "
               "zone_nulls array<bigint>, zone_sum_num array<bigint>")

DEFAULT_ROWS_PER_CHUNK = 10_000  # reference RowGroupSize default (Options.cs:8)

_ZONE_STR_MAX = 64  # stored string zone bounds are truncated to this


def _zone_lo(s: str | None) -> str | None:
    """Conservative lower bound: a prefix is always <= the value."""
    if s is None or len(s) <= _ZONE_STR_MAX:
        return s
    return s[:_ZONE_STR_MAX]


def _zone_hi(s: str | None) -> str | None:
    """Conservative upper bound for a truncated max: increment the last
    character of the prefix so the bound is >= every string sharing it.
    Without this, chunk rows would carry two FULL values (entire
    documents for a text column) per string column — real bloat at
    100 TB.  Only ASCII prefixes are incremented (Spark compares
    UTF-8 bytes; incrementing non-ASCII code points can cross encoding
    boundaries); rare non-ASCII-prefix values keep the exact max."""
    if s is None or len(s) <= _ZONE_STR_MAX:
        return s
    p = s[:_ZONE_STR_MAX]
    if not p.isascii():
        return s
    i = len(p) - 1
    while i >= 0 and ord(p[i]) >= 0x7F:
        i -= 1
    if i < 0:
        return None  # all-DEL prefix: no finite bound — disables pruning
    return p[:i] + chr(ord(p[i]) + 1)


# ------------------------------------------------------------ pure pieces

_ZONE_AUTO_MAX_AVG_LEN = 256  # auto mode skips fat string columns

# Bloom filter shape: ~10 bits/value, 4 probes -> ~1-2% false-positive
# rate; md5-derived double hashing (h1 + i*h2) so the DRIVER can compute
# the exact same bit positions for a probe value (and so can any other
# engine — md5 is everywhere; xxhash64 is not).
_BLOOM_BITS_PER_VALUE = 10
_BLOOM_K = 4
_BLOOM_MIN_BITS = 256
_BLOOM_MAX_BITS = 1 << 20  # 128 KiB cap per (chunk, column)


def _bloom_m_bits(n_values: int) -> int:
    m = _BLOOM_MIN_BITS
    target = min(max(n_values, 1) * _BLOOM_BITS_PER_VALUE, _BLOOM_MAX_BITS)
    while m < target:
        m <<= 1
    return m


def _bloom_hash_lanes(value_bytes: bytes) -> tuple[int, int]:
    """Two 31-bit md5 lanes (h2 forced odd) — 31 bits so the probe-side
    Spark expression pmod(h1 + i*h2, m) stays far from int64 overflow
    while m (<= 2^20) divides evenly into the lane space."""
    d = hashlib.md5(value_bytes).digest()
    h1 = int.from_bytes(d[:8], "little") & 0x7FFFFFFF
    h2 = (int.from_bytes(d[8:16], "little") & 0x7FFFFFFF) | 1
    return h1, h2


def _bloom_bit_positions(value_bytes: bytes, m_bits: int) -> list[int]:
    """The k bit positions of one value — identical on worker (build,
    m known) and driver (probe, m resolved per chunk inside the Spark
    expression): double hashing h1 + i*h2 mod m."""
    h1, h2 = _bloom_hash_lanes(value_bytes)
    return [(h1 + i * h2) % m_bits for i in range(_BLOOM_K)]


def _build_bloom(col: pa.Array) -> list[int] | None:
    """Per-chunk Bloom filter over the non-null string values, as a
    list of int64 words (bit j lives in word j//64, bit j%64).  Stored
    as array<bigint> so the prune side tests bits with plain Spark
    shiftright/& expressions — no UDF, no binary slicing."""
    vals = col.drop_null()
    if len(vals) == 0:
        return None
    vals = vals.cast(pa.large_binary())
    offs = np.frombuffer(vals.buffers()[1], dtype=np.int64,
                         count=len(vals) + 1,
                         offset=vals.offset * 8).tolist()
    data = memoryview(vals.buffers()[2])
    # _bloom_hash_lanes for every value at once: one md5 per value, both
    # little-endian 64-bit lanes of each digest read in one view
    digests = b"".join([hashlib.md5(data[a:b]).digest()
                        for a, b in zip(offs[:-1], offs[1:])])
    lanes = (np.frombuffer(digests, "<u8").reshape(-1, 2)
             & np.uint64(0x7FFFFFFF)).astype(np.int64)
    lanes[:, 1] |= 1
    m = _bloom_m_bits(len(vals))
    # _bloom_bit_positions for every value at once: (n, k) positions
    pos = (lanes[:, :1] + np.arange(_BLOOM_K) * lanes[:, 1:]) % m
    bits = np.zeros(m, dtype=bool)
    bits[pos] = True
    # little-endian bit order: bit j lands in word j//64, bit j%64
    return np.packbits(bits, bitorder="little").view("<i8").tolist()


def encode_chunk(batch: pa.RecordBatch, part_id: int, chunk_id: int,
                 codec: str = "auto", plan: dict[str, dict] | None = None,
                 zone_key: str | None = None,
                 block_codec: str = "auto",
                 zone_cols: list[str] | None = None,
                 bloom_cols: list[str] | None = None) -> dict:
    """Encode one Arrow batch into a chunk row (pure, Spark-free).

    `plan` is the per-partition codec memo: the auto-selector and FSST
    trainer run on a partition's first chunk only, later chunks reuse
    the choice and symbol table (the "per-partition codec auto-selector"
    of the north rule without re-sampling every row group).  `zone_key`
    names the sort-key column for the dedicated key_* zone fields;
    `block_codec` picks the outer block compression (O15).  `zone_cols`
    explicitly selects the columns to zone-map; None = auto (the sort
    key, every numeric/timestamp column, and string columns whose mean
    value length is <= 256 bytes — a min/max pass over multi-KB
    text/html bodies would cost real encode time for bounds no
    realistic predicate ranges over).  `bloom_cols` names STRING
    columns to index with a per-chunk Bloom filter (the Parquet-format
    BloomFilter analog): equality/IN predicates on high-cardinality
    columns that are NOT the sort key (url in a doc-keyed layout, a
    digest column) can then skip chunks that zone ranges can't — a
    hash-placed layout gives every chunk near-identical string zones,
    so min/max never prunes point lookups there."""
    names, codecs, payloads, b_in, b_out = [], [], [], [], []
    for i, field in enumerate(batch.schema):
        arr = batch.column(i)
        colctx = plan.setdefault(field.name, {}) if plan is not None else None
        cname, payload = encode_column(
            arr, colctx.get("codec", codec) if colctx is not None else codec,
            ctx=colctx, block_codec=block_codec)
        if colctx is not None and "codec" not in colctx:
            colctx["codec"] = cname
        names.append(field.name)
        codecs.append(cname)
        payloads.append(payload)
        b_in.append(arr.nbytes)
        b_out.append(len(payload))
    # Zone maps — enable chunk pruning without decode.  The sort key's
    # [min,max] lands in the dedicated key_* fields (fast single-range
    # path); every OTHER string/int/timestamp column gets an entry in the
    # zone_* arrays so composite predicates (AND/OR over several
    # columns) can prune too.  String zones record string min/max;
    # int/timestamp zones record int64 (timestamps as epoch-us).
    key_name = key_min = key_max = key_min_num = key_max_num = None
    z_cols: list[str] = []
    z_min_s: list[str | None] = []
    z_max_s: list[str | None] = []
    z_min_n: list[int | None] = []
    z_max_n: list[int | None] = []
    z_min_d: list[float | None] = []
    z_max_d: list[float | None] = []
    z_nulls: list[int] = []
    z_sums: list[int | None] = []  # exact non-null sum (int cols only)
    if batch.num_rows:
        for i, field in enumerate(batch.schema):
            t = field.type
            is_str = pa.types.is_string(t) or pa.types.is_large_string(t)
            is_num = pa.types.is_integer(t) or pa.types.is_timestamp(t)
            is_flt = pa.types.is_floating(t)
            if not (is_str or is_num or is_flt):
                continue
            col = batch.column(i)
            if zone_cols is not None:
                if field.name not in zone_cols and field.name != zone_key:
                    continue
            elif (is_str and field.name != zone_key
                  and col.nbytes > _ZONE_AUTO_MAX_AVG_LEN * len(col)):
                continue  # fat text/html body: not worth a min/max pass
            lo_s = hi_s = lo_n = hi_n = lo_d = hi_d = None
            if col.null_count == len(col):
                # no value bounds, but the null COUNT itself prunes:
                # an IS NOT NULL predicate skips an all-null chunk
                z_cols.append(field.name)
                z_min_s.append(None)
                z_max_s.append(None)
                z_min_n.append(None)
                z_max_n.append(None)
                z_min_d.append(None)
                z_max_d.append(None)
                z_nulls.append(col.null_count)
                # SUM over zero non-null values contributes nothing;
                # 0 (not None) keeps the chunk metadata-eligible for
                # sum pushdown (the nulls entry carries the NULL-vs-0
                # distinction)
                z_sums.append(0 if pa.types.is_integer(t) else None)
                continue
            if is_str:
                mm = pc.min_max(col)
                lo_s = _zone_lo(mm["min"].as_py())
                hi_s = _zone_hi(mm["max"].as_py())
            elif is_flt:
                # nanmin/nanmax skip NaNs: NaN never satisfies a range
                # predicate (SQL semantics), so zones over the non-NaN
                # values prune exactly; an all-NaN chunk keeps null
                # zones (conservative keep)
                v = col.drop_null().to_numpy(zero_copy_only=False) \
                    .astype(np.float64, copy=False)
                if not np.all(np.isnan(v)):
                    lo_d, hi_d = float(np.nanmin(v)), float(np.nanmax(v))
                if lo_d is None:
                    continue
            else:
                mm = pc.min_max(col.cast(pa.int64()))
                lo_n, hi_n = mm["min"].as_py(), mm["max"].as_py()
            # exact per-chunk SUM for integer columns (O16 SUM/AVG
            # pushdown): stored only when the bounds PROVE the int64
            # accumulator cannot overflow (n * max|v| < 2^62); chunks
            # without a stored sum simply decode on the boundary path,
            # so the pushdown stays exact.  Timestamps/floats: None
            # (SUM(ts) isn't SQL; float sums are order-dependent).
            z_sum = None
            if pa.types.is_integer(t) and lo_n is not None:
                mabs = max(abs(lo_n), abs(hi_n))
                if mabs == 0 or len(col) <= (1 << 62) // mabs:
                    z_sum = int(pc.sum(col.cast(pa.int64())).as_py())
            z_sums.append(z_sum)
            if field.name == zone_key:
                key_name = zone_key
                key_min, key_max = lo_s, hi_s
                key_min_num, key_max_num = lo_n, hi_n
            z_cols.append(field.name)
            z_min_s.append(lo_s)
            z_max_s.append(hi_s)
            z_min_n.append(lo_n)
            z_max_n.append(hi_n)
            z_min_d.append(lo_d)
            z_max_d.append(hi_d)
            z_nulls.append(col.null_count)
    b_cols: list[str] = []
    b_words: list[list[int]] = []
    if bloom_cols and batch.num_rows:
        for name in bloom_cols:
            idx = batch.schema.get_field_index(name)
            if idx < 0:
                continue
            t = batch.schema.field(idx).type
            if not (pa.types.is_string(t) or pa.types.is_large_string(t)
                    or pa.types.is_binary(t) or pa.types.is_large_binary(t)):
                raise TypeError(
                    f"bloom_cols supports string/binary columns; {name!r} "
                    f"is {t} (numeric point lookups already prune via the "
                    "numeric zone maps on a sorted layout)")
            words = _build_bloom(batch.column(idx))
            if words is not None:
                b_cols.append(name)
                b_words.append(words)
    return {
        "part_id": part_id, "chunk_id": chunk_id, "n_rows": batch.num_rows,
        "schema_ipc": batch.schema.serialize().to_pybytes(),
        "names": names, "codecs": codecs, "payloads": payloads,
        "bytes_in": b_in, "bytes_out": b_out,
        "key_name": key_name, "key_min": key_min, "key_max": key_max,
        "key_min_num": key_min_num, "key_max_num": key_max_num,
        "zone_cols": z_cols, "zone_min_str": z_min_s, "zone_max_str": z_max_s,
        "zone_min_num": z_min_n, "zone_max_num": z_max_n,
        "zone_min_dbl": z_min_d, "zone_max_dbl": z_max_d,
        "bloom_cols": b_cols, "blooms": b_words,
        "zone_nulls": z_nulls, "zone_sum_num": z_sums,
    }


def decode_chunk(schema_ipc: bytes, names: list[str],
                 payloads: list[bytes],
                 columns: list[str] | None = None) -> pa.RecordBatch:
    """Inverse of encode_chunk (pure, Spark-free). `columns` projects to
    a subset without touching the other columns' payloads."""
    schema = pa.ipc.read_schema(pa.BufferReader(schema_ipc))
    out = schema if columns is None else \
        pa.schema([schema.field(c) for c in columns])
    # every projected column is in the chunk: no null-fill, no n_rows
    return _decode_chunk_to(out, schema, names, payloads, None, {}, {})


def _decode_chunk_to(out: pa.Schema, chunk: pa.Schema, names: list[str],
                     payloads, n_rows: int | None, renames: dict,
                     dicts: dict[str, pa.Array],
                     part_id: int | None = None) -> pa.RecordBatch:
    """THE chunk decoder: every read path (decode_chunk, decode_table,
    the DataSource V2 batch and streaming readers) ends here, so they
    cannot diverge.  Builds exactly the `out` batch from one chunk:

      * chunk-physical `names` map to logical names through `renames`
        (None = dropped column); columns outside `out`, dropped or
        projected away, are never decompressed;
      * each column decodes at the type of the chunk's OWN schema
        `chunk` (alter_table `widen`: BSS and friends parse payloads
        width-sensitively);
      * logical columns the chunk lacks (metadata-only add_column)
        are all-null; `_part_id` is filled with `part_id`;
      * global-dict columns (`dicts`: name -> value array) restore by
        pc.take, so a null id stays null;
      * one safe cast per column to `out`'s type does both the exact
        widening (int32->int64, float->double; anything lossy raises)
        and the conform to the Arrow types Spark expects: a tz-naive
        timestamp would be localized by spark.sql.session.timeZone on
        ingestion, while naive -> timestamp[us, tz=UTC] is
        metadata-only, so decode is session-timezone-independent."""
    stored = {}
    for n, p in zip(names, payloads):
        ln = renames.get(n, n)
        if ln is not None:
            stored[ln] = (chunk.field(n).type, p)
    arrs = []
    for f in out:
        if f.name in stored:
            typ, p = stored[f.name]
            # cast('B'): byte-indexed header parsing needs unsigned
            arr = decode_column(memoryview(p).cast("B"), typ)
            if f.name in dicts:
                arr = pc.take(dicts[f.name], arr)
        elif f.name == "_part_id" and part_id is not None:
            arr = pa.array(np.full(n_rows, part_id, dtype=np.int64))
        else:
            arr = pa.nulls(n_rows, f.type)
        arrs.append(arr if arr.type == f.type else arr.cast(f.type))
    return pa.RecordBatch.from_arrays(arrs, schema=out)


def decode_chunk_rows(batches: Iterator[pa.RecordBatch], out: pa.Schema,
                      renames: dict, gdicts: dict[str, list]
                      ) -> Iterator[pa.RecordBatch]:
    """Decode a stream of chunk-row batches (ENCODED_DDL columns
    schema_ipc/names/payloads/n_rows, plus part_id when `out` has
    `_part_id`) into one `out` batch per chunk.  Payloads are viewed
    as zero-copy Arrow buffers, never copied into python `bytes`."""
    dicts = {c: pa.array(v, pa.string()) for c, v in gdicts.items()
             if c in out.names}
    with_pid = "_part_id" in out.names
    for batch in batches:
        ipcs, names, pays, n_rows = (batch.column(c) for c in (
            "schema_ipc", "names", "payloads", "n_rows"))
        pids = batch.column("part_id") if with_pid else None
        for i in range(batch.num_rows):
            yield _decode_chunk_to(
                out, pa.ipc.read_schema(pa.BufferReader(
                    ipcs[i].as_buffer())),
                names[i].as_py(),
                [p.as_buffer() for p in pays[i].values],
                n_rows[i].as_py(), renames, dicts,
                pids[i].as_py() if with_pid else None)


# the per-chunk zone arrays, in the order of a part zone summary's
# first seven slots (see part_zone_summary)
_ZONE_ARRAYS = ("zone_min_str", "zone_max_str", "zone_min_num",
                "zone_max_num", "zone_min_dbl", "zone_max_dbl",
                "zone_nulls")


def read_part_file(file: str, out: pa.Schema, renames: dict,
                   gdicts: dict[str, list], zpred=None
                   ) -> Iterator[pa.RecordBatch]:
    """THE part reader: decode ONE part file to `out` batches inside the
    Python worker — every snapshot read (decode_files, the DataSource
    V2 batch reader and streaming source) runs it, so chunk rows never
    cross the JVM.

    With a zone predicate `zpred` (manifest._translate_pred's output),
    a metadata-only read of the zone (and, for string =/IN terms,
    Bloom) columns decides which chunks survive: every chunk is tested
    with _part_keep_term at chunk granularity, plus _bloom_keep.  Only
    columns the file has are requested — a part written before some
    zone/Bloom column existed reads it as absent, which keeps.  The
    payload columns then stream one chunk row at a time, single-
    threaded, so worker memory is bounded by one chunk; surviving
    chunks decode through decode_chunk_rows."""
    import pyarrow.parquet as pq

    with pq.ParquetFile(file, memory_map=True) as pf:
        have = set(pf.schema_arrow.names)
        keep = None
        if zpred is not None:
            branches = [[(t, _bloom_term(t)) for t in ts] for ts in
                        (zpred["any"] if isinstance(zpred, dict)
                         else [zpred])]
            cols = ["zone_cols", *_ZONE_ARRAYS]
            if any(b for ts in branches for _, b in ts):
                cols += ["bloom_cols", "blooms"]
            rows = pf.read(columns=["n_rows"] + [c for c in cols
                                                 if c in have],
                           use_threads=False).to_pylist()

            def chunk_keep(row):
                n_rows = row["n_rows"]
                zc = row.get("zone_cols") or []
                arrs = [row.get(a) or [None] * len(zc)
                        for a in _ZONE_ARRAYS]
                zones = {c: (*(a[j] for a in arrs), n_rows)
                         for j, c in enumerate(zc)}
                blooms = dict(zip(row.get("bloom_cols") or [],
                                  row.get("blooms") or []))
                return any(all(_part_keep_term(zones, n_rows, t)
                               and (b is None
                                    or _bloom_keep(blooms.get(b[0]), b[1]))
                               for t, b in ts) for ts in branches)

            keep = [chunk_keep(r) for r in rows]
            if not any(keep):
                return
        cols = ["schema_ipc", "names", "payloads", "n_rows"]
        if "_part_id" in out.names:
            cols.append("part_id")
        batches = pf.iter_batches(batch_size=1, columns=cols,
                                  use_threads=False)
        if keep is not None:
            batches = (b for b, k in zip(batches, keep) if k)
        yield from decode_chunk_rows(batches, out, renames, gdicts)


def decoded_spark_schema(schema: pa.Schema, gdicts: dict):
    """The Spark schema a decode of `schema` produces: global-dict
    columns surface as their VALUE type (string), not the stored ids.
    `to_arrow_schema` of it is the `out` schema decode_chunk_rows
    conforms to."""
    from pyspark.sql.pandas.types import from_arrow_schema
    return from_arrow_schema(pa.schema([
        pa.field(f.name, pa.string()) if f.name in gdicts else f
        for f in schema]))


def _chunk_rows_to_batch(chunks: list[dict]) -> pa.RecordBatch:
    return pa.RecordBatch.from_pylist(chunks, schema=pa.schema([
        pa.field("part_id", pa.int64()),
        pa.field("chunk_id", pa.int64()),
        pa.field("n_rows", pa.int64()),
        pa.field("schema_ipc", pa.binary()),
        pa.field("names", pa.list_(pa.string())),
        pa.field("codecs", pa.list_(pa.string())),
        pa.field("payloads", pa.list_(pa.binary())),
        pa.field("bytes_in", pa.list_(pa.int64())),
        pa.field("bytes_out", pa.list_(pa.int64())),
        pa.field("key_name", pa.string()),
        pa.field("key_min", pa.string()),
        pa.field("key_max", pa.string()),
        pa.field("key_min_num", pa.int64()),
        pa.field("key_max_num", pa.int64()),
        pa.field("zone_cols", pa.list_(pa.string())),
        pa.field("zone_min_str", pa.list_(pa.string())),
        pa.field("zone_max_str", pa.list_(pa.string())),
        pa.field("zone_min_num", pa.list_(pa.int64())),
        pa.field("zone_max_num", pa.list_(pa.int64())),
        pa.field("zone_min_dbl", pa.list_(pa.float64())),
        pa.field("zone_max_dbl", pa.list_(pa.float64())),
        pa.field("bloom_cols", pa.list_(pa.string())),
        pa.field("blooms", pa.list_(pa.list_(pa.int64()))),
        pa.field("zone_nulls", pa.list_(pa.int64())),
        pa.field("zone_sum_num", pa.list_(pa.int64())),
    ]))


# ------------------------------------------------------------- Spark side

def part_zone_summary(chunks: list[dict]) -> str:
    """Fold per-chunk zone stats into ONE per-part summary (JSON) for
    the snapshot manifest — the Iceberg per-data-file column-bounds
    analog.  The driver prunes whole part FILES against it before any
    Spark job reads a footer (manifest._prune_parts); chunk-level zone
    pruning still applies within surviving files.

    Shape: {col: [min_str, max_str, min_num, max_num, min_dbl,
    max_dbl, nulls, covered_rows]} — bounds are min/max over the
    chunks that carry the column (None-safe), nulls summed,
    covered_rows = Σ n_rows of those chunks (covered < part rows ⇒
    readers must treat the bounds as partial and keep the file)."""
    import json as _json

    def at(ch, arr, i):
        vals = ch.get(arr)
        return vals[i] if vals is not None and i < len(vals) else None

    summary: dict[str, list] = {}
    for ch in chunks:
        for i, col in enumerate(ch.get("zone_cols") or ()):
            s = summary.setdefault(col, [None, None, None, None,
                                         None, None, 0, 0])
            for slot, arr in ((0, "zone_min_str"), (2, "zone_min_num"),
                              (4, "zone_min_dbl")):
                v = at(ch, arr, i)
                if v is not None and (s[slot] is None or v < s[slot]):
                    s[slot] = v
            for slot, arr in ((1, "zone_max_str"), (3, "zone_max_num"),
                              (5, "zone_max_dbl")):
                v = at(ch, arr, i)
                if v is not None and (s[slot] is None or v > s[slot]):
                    s[slot] = v
            s[6] += int(at(ch, "zone_nulls", i) or 0)
            s[7] += int(ch.get("n_rows") or 0)
    return _json.dumps(summary)


_ZONE_ROW_FIELDS = ("zone_cols", "zone_min_str", "zone_max_str",
                    "zone_min_num", "zone_max_num", "zone_min_dbl",
                    "zone_max_dbl", "zone_nulls", "n_rows")


def part_zone_summary_from_chunkrows(tbl: pa.Table) -> str:
    """part_zone_summary over a CHUNK-ROW table (the encoded relation)
    — the lifecycle writers (compaction, rewrite, relocation) rebuild
    parts from committed chunk rows rather than encode_chunk dicts.
    Legacy v1 chunk rows (null zone arrays) contribute nothing."""
    cols = {f: tbl.column(f).to_pylist() for f in _ZONE_ROW_FIELDS
            if f in tbl.schema.names}
    n = tbl.num_rows
    chunks = [{f: cols[f][i] for f in cols} for i in range(n)]
    return part_zone_summary(chunks)


def partition_for_encode(df: DataFrame, key: list[str] | None = None,
                         n_parts: int | None = None) -> tuple[DataFrame, list[str]]:
    """Deterministic placement: partition = murmur3(key) pmod n_parts.

    Hashing a (near-)unique key is uniform even when raw values (lang,
    domain) are Zipf-skewed; sortWithinPartitions makes chunk contents
    reproducible run-to-run at any parallelism (tested: identical chunk
    digests under arbitrary input partitioning).
    """
    key = key or [df.columns[0]]
    n_parts = n_parts or df.sparkSession.sparkContext.defaultParallelism
    # Spark's native HashPartitioning on the key columns: deterministic
    # (murmur3(key) pmod n), uniform even when lang/domain values are
    # Zipf-skewed (the key is near-unique), and — unlike a computed
    # group-id column — needs no extra range-boundary sampling stage and
    # no run-edge splitting in the worker.  The physical partition id IS
    # the chunk group (TaskContext.partitionId()).
    out = df.repartition(n_parts, *key).sortWithinPartitions(*key)
    return out, key


def zorder_stats(df: DataFrame, cols: list[str]) -> list[list]:
    """Per-column [min, max] driving the Morton cells (one tiny driver
    agg).  JSON-safe (timestamps surface as epoch-us ints) so a layout
    can FREEZE them for reproducible resume placement."""
    numeric = _zorder_numeric_exprs(df, cols)
    stats = df.agg(*[f(n).alias(f"{i}_{k}")
                     for i, n in enumerate(numeric)
                     for k, f in (("mn", F.min), ("mx", F.max))]).first()
    return [[stats[f"{i}_mn"], stats[f"{i}_mx"]] for i in range(len(cols))]


def _zorder_numeric_exprs(df: DataFrame, cols: list[str]) -> list[Column]:
    numeric = []
    for c in cols:
        t = dict(df.dtypes)[c]
        if t.startswith("timestamp"):
            # NTZ casts through TIMESTAMP (session tz pinned to UTC in
            # this engine's jobs); only MONOTONICITY matters for cells
            numeric.append(F.unix_micros(F.col(c).cast("timestamp")))
        elif t in ("bigint", "int", "smallint", "tinyint", "double",
                   "float", "date"):
            numeric.append(F.col(c).cast("double"))
        else:
            raise TypeError(f"zorder supports numeric/timestamp/date "
                            f"columns; {c!r} is {t} (range-bucket a "
                            "string column to ints first)")
    return numeric


def zorder_value(df: DataFrame, cols: list[str],
                 bits: int | None = None,
                 stats: list[list] | None = None) -> Column:
    """Morton (Z-order) key over 2-4 numeric/timestamp columns as a pure
    codegen expression: each column is linearly bucketed into 2^bits
    cells between its min and max (one tiny driver-side agg), and the
    bucket bits are interleaved so a range box on ANY subset of the
    columns maps to few contiguous z-ranges — the Delta/Iceberg
    OPTIMIZE ZORDER BY analog.  Skewed data makes cells uneven (pruning
    loses efficiency, never correctness: zone maps stay exact).  Nulls
    bucket to cell 0 (cluster at the origin)."""
    if not 2 <= len(cols) <= 4:
        raise ValueError(f"zorder interleaves 2-4 columns, got {cols}")
    bits = bits or (62 // len(cols))
    if bits * len(cols) > 62:
        raise ValueError(f"{bits} bits x {len(cols)} columns overflows "
                         "the 63-bit z-value")
    numeric = _zorder_numeric_exprs(df, cols)
    if stats is None:
        stats = zorder_stats(df, cols)
    nb = (1 << bits) - 1
    z = F.lit(0).cast("long")
    for i, n in enumerate(numeric):
        mn, mx = stats[i]
        if mn is None or mx is None or float(mx) == float(mn):
            continue  # constant/all-null column contributes nothing
        span = float(mx) - float(mn)
        cell = F.least(F.lit(nb), F.floor(
            (n.cast("double") - F.lit(float(mn))) / F.lit(span)
            * F.lit(nb + 1)).cast("long"))
        cell = F.coalesce(F.greatest(cell, F.lit(0)), F.lit(0))
        for j in range(bits):
            bit = F.shiftright(cell, j).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, j * len(cols) + i))
    return z


def zorder_table(df: DataFrame, zorder_by: list[str],
                 n_parts: int | None = None, bits: int | None = None,
                 **encode_kw) -> DataFrame:
    """Encode with a Z-order clustered layout: rows are range-
    partitioned and sorted by the Morton key of `zorder_by`, so the
    per-chunk zone maps become tight on EVERY interleaved column and a
    predicate box on any of them prunes chunks — the multi-dimensional
    counterpart of the single-key sorted layout.  One extra exchange
    vs hash layout (range partitioning samples boundaries); the
    z-value itself is a transient sort key, never stored."""
    n_parts = n_parts or df.sparkSession.sparkContext.defaultParallelism
    dfz = df.withColumn("_zval", zorder_value(df, zorder_by, bits))
    dfp = (dfz.repartitionByRange(n_parts, "_zval")
           .sortWithinPartitions("_zval").drop("_zval"))
    return encode_table(dfp, key=zorder_by, n_parts=n_parts,
                        _prepartitioned=True, **encode_kw)


def take_full_batches(buf: list[pa.RecordBatch], buffered: int, n: int,
                      final: bool) -> tuple[list[pa.RecordBatch],
                                            list[pa.RecordBatch], int]:
    """Slice exactly-n-row batches off an accumulated batch list.

    Returns (full_batches, remaining_buf, remaining_count).  The single
    source of truth for the rows_per_chunk invariant — used by the
    streaming _rebatch here and by write_encoded's per-partition drain
    (one implementation, one set of edge cases)."""
    out: list[pa.RecordBatch] = []
    while buffered >= n or (final and buffered):
        tbl = pa.Table.from_batches(buf)
        take = min(n, buffered)
        head = tbl.slice(0, take).combine_chunks()
        out.append(head.to_batches()[0])
        rest = tbl.slice(take)
        buffered = rest.num_rows
        buf = rest.to_batches() if buffered else []
    return out, buf, buffered


def _rebatch(batches: Iterator[pa.RecordBatch],
             n: int) -> Iterator[pa.RecordBatch]:
    """Re-slice an Arrow batch stream into exactly-n-row batches (the
    row-group size knob).  Worker-side and session-conf-free: chunk
    boundaries no longer depend on spark.sql.execution.arrow.
    maxRecordsPerBatch, so encode_table never mutates session state and
    chunk layout is identical under any Arrow batch configuration."""
    buf: list[pa.RecordBatch] = []
    have = 0
    for b in batches:
        if b.num_rows == 0:
            continue
        buf.append(b)
        have += b.num_rows
        full, buf, have = take_full_batches(buf, have, n, final=False)
        yield from full
    if have:
        full, _, _ = take_full_batches(buf, have, n, final=True)
        yield from full


def encode_table(df: DataFrame, key: list[str] | None = None,
                 n_parts: int | None = None, codec: str = "auto",
                 rows_per_chunk: int = DEFAULT_ROWS_PER_CHUNK,
                 block_codec: str = "auto",
                 zone_cols: list[str] | None = None,
                 bloom_cols: list[str] | None = None,
                 _prepartitioned: bool = False) -> DataFrame:
    """Encode a DataFrame into column-chunk rows (one row per chunk).

    `_prepartitioned` (internal; zorder_table) skips the hash layout:
    the caller already placed and sorted the rows, and `key` only names
    the column whose bounds fill the key_min/key_max chunk fields."""
    from .codecs.column import validate_block_codec
    validate_block_codec(block_codec)  # typos fail before the job launches
    if bloom_cols:
        missing = [c for c in bloom_cols if c not in df.columns]
        if missing:
            raise KeyError(f"bloom_cols not in the DataFrame: {missing}")
    if _prepartitioned:
        dfp, key = df, (key or [df.columns[0]])
    else:
        dfp, key = partition_for_encode(df, key, n_parts)
    zone_key = key[0]

    def encoder(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        plan: dict[str, dict] = {}  # per-partition codec + symbol-table memo
        cid = 0
        for batch in _rebatch(batches, rows_per_chunk):
            # one rebatched slice (= the row-group knob, reference
            # default 10,000, Options.cs:8) is one chunk; the partition
            # is the fragment (SURVEY §1.5)
            chunk = encode_chunk(batch, pid, cid, codec,
                                 plan if codec == "auto" else None,
                                 zone_key=zone_key, block_codec=block_codec,
                                 zone_cols=zone_cols, bloom_cols=bloom_cols)
            cid += 1
            yield _chunk_rows_to_batch([chunk])

    return dfp.mapInArrow(encoder, ENCODED_DDL)


def read_encoded_schema(enc_df: DataFrame) -> pa.Schema:
    row = enc_df.select("schema_ipc").head()
    if row is None:
        raise ValueError("empty encoded table")
    return pa.ipc.read_schema(pa.BufferReader(row[0]))


def decode_table(enc_df: DataFrame, schema: pa.Schema | None = None,
                 columns: list[str] | None = None,
                 with_part_id: bool = False,
                 renames: dict | None = None,
                 gdicts: dict | None = None) -> DataFrame:
    """Decode chunk rows back to the original table. Narrow (no shuffle).

    `with_part_id=True` appends a `_part_id` bigint column carrying
    each row's owning part — the commit-order scope the equality-delete
    reader needs (deletes apply only to parts older than the delete).

    `columns` is column pruning THROUGH the encoded format: payloads are
    stored per column, so unselected columns are never decompressed or
    decoded — the projection reaches the "scan", like parquet column
    pruning (a 2-column projection must not pay for `html`).

    `schema` (default: the first chunk's) names the logical columns and
    types; on an evolved table (manifest.alter_table) it is the
    snapshot's evolved schema, and `renames` maps chunk-physical names
    to it (value None = dropped; empty = identity).  `gdicts` is the
    snapshot's global dictionaries (column -> values by id): those
    columns come back as their string values, restored executor-side
    inside the same decode (null ids stay null).  Every chunk goes
    through _decode_chunk_to."""
    spark_schema, out, gdicts = _decode_target(
        schema or read_encoded_schema(enc_df), columns, with_part_id,
        gdicts)
    ren = dict(renames or {})
    return enc_df.mapInArrow(
        lambda batches: decode_chunk_rows(batches, out, ren, gdicts),
        spark_schema)


def decode_files(spark: SparkSession, files: list[str], schema: pa.Schema,
                 columns: list[str] | None = None,
                 with_part_id: bool = False,
                 renames: dict | None = None,
                 gdicts: dict | None = None,
                 zpred: list[tuple] | dict | None = None) -> DataFrame:
    """decode_table over committed part FILES (same arguments and
    result): the plan is Range -> MapInArrow with one task per file —
    the DataSource V2 reader's partition unit — and each task reads its
    file in the Python worker through read_part_file, so no chunk row
    or payload crosses the JVM.  `zpred` (manifest._translate_pred's
    zone predicate) prunes chunks by zone maps and Bloom filters
    before any payload is read."""
    spark_schema, out, gdicts = _decode_target(schema, columns,
                                               with_part_id, gdicts)
    ren = dict(renames or {})

    def read(batches):
        for batch in batches:
            for i in batch.column(0).to_pylist():
                yield from read_part_file(files[i], out, ren, gdicts, zpred)

    return (spark.range(len(files), numPartitions=len(files))
            .mapInArrow(read, spark_schema))


def _decode_target(schema: pa.Schema, columns: list[str] | None,
                   with_part_id: bool, gdicts: dict | None):
    """(Spark schema, Arrow `out` schema, gdicts restricted to it) of a
    decode of `schema` projected to `columns`."""
    from pyspark.sql.pandas.types import to_arrow_schema
    if columns is not None:
        missing = [c for c in columns if schema.get_field_index(c) < 0]
        if missing:
            raise KeyError(f"columns not in encoded schema: {missing}")
        schema = pa.schema([schema.field(c) for c in columns])
    if with_part_id:
        schema = schema.append(pa.field("_part_id", pa.int64()))
    gdicts = {c: v for c, v in (gdicts or {}).items() if c in schema.names}
    spark_schema = decoded_spark_schema(schema, gdicts)
    return spark_schema, to_arrow_schema(spark_schema), gdicts


def _is_numeric_bound(v) -> bool:
    """True for numeric-family bounds (python/numpy ints and floats,
    NOT bool) — these prune via the numeric zone maps.  A numeric
    bound is checked against BOTH the int zone arrays (int/timestamp
    columns) and the double zone arrays (float columns): whichever the
    column actually populated prunes, the other is null and keeps —
    so no type knowledge is needed at prune time and a float bound on
    an int column (or vice versa) compares numerically instead of
    silently disabling pruning.  Comparisons happen in each array's
    own type (Spark widens int64 vs double per SQL rules; exact-int
    edge cases above 2^53 stay conservative only if the caller rounds
    bounds outward, as with any float arithmetic)."""
    import numbers
    if isinstance(v, bool) or isinstance(v, np.bool_):
        raise TypeError("boolean is not a valid zone-prune bound")
    if isinstance(v, float) or isinstance(v, np.floating):
        if np.isnan(v):
            raise TypeError("NaN is not a valid zone-prune bound (NaN "
                            "never matches a range; filter on the "
                            "decoded frame instead)")
        return True
    return isinstance(v, numbers.Integral) or isinstance(v, np.datetime64)


def _as_num_bound(v):
    if isinstance(v, np.datetime64):
        return int(v.astype("datetime64[us]").astype(np.int64))
    if isinstance(v, (float, np.floating)):
        return float(v)
    return int(v)


def prune_chunks(enc_df: DataFrame, lo=None, hi=None,
                 column: str | None = None) -> DataFrame:
    """Zone-map chunk pruning: keep only chunks whose sort-key [min,max]
    range can contain values in [lo, hi].  Runs as a plain filter on the
    chunk-row metadata — pruned chunks are never decompressed (the
    partition-pruning analog for the encoded format).

    `column` names the column the bounds refer to; it is validated
    against the stored zone-map key (`key_name`) so bounds meant for a
    different column can never silently prune by the wrong ranges.  With
    column=None the (single) stored key is used unchecked — legacy mode.

    String bounds prune via the string zone map; integer bounds (python
    or numpy ints — timestamps as epoch-us, np.datetime64 accepted;
    bool rejected) via the numeric one."""
    if column is not None:
        keys = [r[0] for r in
                enc_df.select("key_name").where(
                    F.col("key_name").isNotNull()).distinct().collect()]
        if keys and column not in keys:
            raise KeyError(
                f"no zone map for column {column!r}; zone-mapped: {keys} "
                "(re-encode with this column as the sort key, or use "
                "prune_chunks_pred with multi-column zones)")
    numeric = ((lo is not None and _is_numeric_bound(lo))
               or (hi is not None and _is_numeric_bound(hi)))
    if numeric:
        lo = _as_num_bound(lo) if lo is not None else None
        hi = _as_num_bound(hi) if hi is not None else None
    out = enc_df
    cmin = F.col("key_min_num") if numeric else F.col("key_min")
    cmax = F.col("key_max_num") if numeric else F.col("key_max")
    if lo is not None:
        out = out.where(cmax.isNull() | (cmax >= F.lit(lo)))
    if hi is not None:
        out = out.where(cmin.isNull() | (cmin <= F.lit(hi)))
    return out


def _norm_term(term: tuple) -> tuple:
    """Normalize a predicate term to ("range", col, lo, hi) or
    ("in", col, values).

    Accepted shapes:
      (col, lo, hi)        inclusive range; None = half-open
      (col, "=", v)        equality (a point range that also prunes)
      (col, "in", [v...])  IN-list (prunes per VALUE, not by the list's
                           min/max span — sparse lists skip mid-chunks)
      (col, "isnull", None)   IS NULL — prunes via the per-chunk null
                              COUNT (zone_nulls): chunks with zero
                              nulls in `col` are skipped
      (col, "notnull", None)  IS NOT NULL — skips all-null chunks
      (col, "prefix", p)   LIKE 'p%' — prunes via the string zone
                           range [p, prefix_upper(p)); the residual is
                           an exact startswith (no wildcard escaping
                           concerns: `p` is a literal, not a pattern)

    The markers "=" / "in" / "prefix" are reserved: a genuine string
    range whose lo bound is literally one of them is not expressible
    with the tuple sugar — filter it on the decoded frame instead.  NULL values fail
    loudly: (col, "=", None) raises (zone maps track no null counts, so
    IS NULL can never prune — silently treating it as a string range
    with lo "=" returned unrelated rows), and NULLs inside an IN-list
    are dropped (SQL: NULL never matches IN)."""
    col, a, b = term
    if a in ("isnull", "notnull"):
        if b is not None:
            raise TypeError(f"({col!r}, {a!r}, …): the third element "
                            "must be None")
        return (a, col)
    if a == "=" and not isinstance(b, (list, tuple, set)):
        if b is None:
            raise TypeError(
                f"({col!r}, '=', None): SQL equality to NULL is never "
                f"true; use ({col!r}, 'isnull', None) for IS NULL "
                "(prunes via the per-chunk null counts)")
        return ("in", col, [b])
    if a == "in":
        vals = list(b) if isinstance(b, (list, tuple, set)) else None
        if not vals:
            raise ValueError(f"IN-list for {col!r} must be a non-empty "
                             "list/tuple/set")
        nn = [v for v in vals if v is not None]
        if not nn:
            raise ValueError(
                f"IN-list for {col!r} contains only NULLs; NULL never "
                "matches IN — filter with .where(col.isNull()) instead")
        kinds = {_is_numeric_bound(v) for v in nn}
        if len(kinds) > 1:
            raise TypeError(f"IN-list for {col!r} mixes numeric and "
                            "string values")
        return ("in", col, nn)
    if a == "prefix":
        if not isinstance(b, str) or not b:
            raise TypeError(f"({col!r}, 'prefix', …): the prefix must "
                            "be a non-empty string (an empty prefix "
                            "matches everything — drop the term)")
        return ("prefix", col, b)
    return ("range", col, a, b)


def _prefix_upper(p: str) -> str | None:
    """Smallest string greater than EVERY string with prefix `p`:
    increment the last incrementable code point and drop the tail
    (b"ab\\xff..." analog in code-point space).  None when every char
    is U+10FFFF — no finite upper bound exists (vanishingly rare; the
    caller falls back to a half-open range).  Valid for both Python
    (code-point) and Spark/UTF-8 (byte-wise) comparisons: UTF-8 byte
    order equals code-point order, and surrogates (U+D800-DFFF) are
    skipped when incrementing so the bound stays encodable."""
    cps = [ord(c) for c in p]
    for i in range(len(cps) - 1, -1, -1):
        nxt = cps[i] + 1
        if nxt == 0xD800:       # skip the surrogate block
            nxt = 0xE000
        if nxt <= 0x10FFFF:
            return p[:i] + chr(nxt)
    return None


# numeric bounds check both numeric zone families: int/timestamp
# columns populate the _num arrays, float columns the _dbl arrays;
# the unpopulated family is null and keeps (no false pruning)
_NUM_ZONE_PAIRS = (("zone_min_num", "zone_max_num"),
                   ("zone_min_dbl", "zone_max_dbl"))


def _zone_keep_cond(col: str, lo, hi):
    """Chunk-keep condition for one (col, lo, hi) range against the
    multi-column zone arrays.  Conservative: chunks with no zone entry
    for `col` (absent, all-null, or untracked type) are always kept."""
    numeric = ((lo is not None and _is_numeric_bound(lo))
               or (hi is not None and _is_numeric_bound(hi)))
    idx = F.array_position(F.col("zone_cols"), col).cast("int")
    safe_idx = F.when(idx >= 1, idx)  # 0 = "absent": NULL, never index 0
    pairs = (_NUM_ZONE_PAIRS if numeric
             else (("zone_min_str", "zone_max_str"),))
    cond = F.lit(True)
    for mn_a, mx_a in pairs:
        cmin = F.try_element_at(F.col(mn_a), safe_idx)
        cmax = F.try_element_at(F.col(mx_a), safe_idx)
        if lo is not None:
            b = _as_num_bound(lo) if numeric else lo
            cond = cond & (cmax.isNull() | (cmax >= F.lit(b)))
        if hi is not None:
            b = _as_num_bound(hi) if numeric else hi
            cond = cond & (cmin.isNull() | (cmin <= F.lit(b)))
    return (idx.isNull() | (idx == 0)) | cond


def _zone_keep_term(term: tuple):
    """Chunk-keep condition for one normalized predicate term."""
    t = _norm_term(term)
    if t[0] == "range":
        _, col, lo, hi = t
        return _zone_keep_cond(col, lo, hi)
    if t[0] == "prefix":
        # LIKE 'p%' ⊂ [p, _prefix_upper(p)): the inclusive zone test
        # over-keeps at most the single boundary value — the residual
        # startswith is exact
        _, col, p = t
        return _zone_keep_cond(col, p, _prefix_upper(p))
    if t[0] in ("isnull", "notnull"):
        _, col = t
        idx = F.array_position(F.col("zone_cols"), col).cast("int")
        nulls = F.try_element_at(F.col("zone_nulls"),
                                 F.when(idx >= 1, idx))
        if t[0] == "isnull":
            # no-null chunk can't contain IS NULL rows; unknown keeps
            return nulls.isNull() | (nulls > 0)
        return nulls.isNull() | (nulls < F.col("n_rows"))
    _, col, vals = t
    # IN prunes per value: the chunk survives iff SOME value could be
    # inside its zone range — sparse lists skip chunks a min/max span
    # of the list would have kept.  The zone lookup (array_position +
    # element_at) is hoisted ONCE per term via a higher-order exists()
    # over a literal value array: the old per-value OR expansion grew
    # the Filter expression (and re-searched zone_cols) O(K) per term.
    numeric = _is_numeric_bound(vals[0])
    idx = F.array_position(F.col("zone_cols"), col).cast("int")
    safe_idx = F.when(idx >= 1, idx)  # 0 = "absent": NULL, never index 0
    pairs = (_NUM_ZONE_PAIRS if numeric
             else (("zone_min_str", "zone_max_str"),))
    if numeric:
        nvals = [_as_num_bound(v) for v in vals]
    else:
        nvals = vals
    varr = F.array(*[F.lit(v) for v in nvals])
    # a value must fit EVERY populated zone family (null family = no
    # information = fits); the chunk survives iff SOME value fits all
    vcond = F.exists(varr, lambda v: _fits_all(v, pairs, safe_idx))
    keep = (idx.isNull() | (idx == 0)) | vcond
    b = _bloom_term(term)
    if b is not None:
        # Bloom filters prune equality/IN on columns where zone ranges
        # can't (hash-placed high-cardinality strings): the chunk
        # survives the bloom test iff SOME value has all k bits set.
        # Chunks without a bloom for this column (legacy files, column
        # not indexed) keep unconditionally.
        keep = keep & _bloom_keep_cond(*b)
    return keep


def _bloom_term(term: tuple) -> tuple[str, list] | None:
    """(col, values) of a string/binary =/IN term — the only terms a
    chunk's Bloom filter prunes (_build_bloom indexes string and binary
    columns only); None for any other term.  The one rule both chunk
    tests apply: _zone_keep_term (Spark) and the DataSource V2 reader
    (_bloom_keep).  Never raises on a term _norm_term accepts (a bool
    or NaN equality just has no Bloom term)."""
    t = _norm_term(term)
    if t[0] == "in" and all(isinstance(v, (str, bytes)) for v in t[2]):
        return t[1], t[2]
    return None


def _bloom_keep_cond(col: str, vals: list):
    """Per-chunk Bloom test for string IN/equality values.  Bit
    positions adapt to each chunk's filter size (m = 64*len(words)):
    the driver sends the two md5 lanes per value as literals and the
    expression resolves pmod(h1 + i*h2, m) per chunk — pure codegen,
    no UDF."""
    bidx = F.array_position(F.col("bloom_cols"), col).cast("int")
    # array_position yields 0 for "not present" and element_at treats a
    # LITERAL-or-computed 0 as an error, not out-of-bounds; the OR
    # short-circuit is not a guarantee once Catalyst reorders, so nil
    # the index instead (try_element_at(arr, NULL) is a clean NULL)
    words = F.try_element_at(F.col("blooms"), F.when(bidx >= 1, bidx))
    m = F.size(words).cast("long") * 64
    any_v = F.lit(False)
    for v in vals:
        h1, h2 = _bloom_hash_lanes(str(v).encode("utf-8")
                                   if not isinstance(v, bytes) else v)
        all_bits = F.lit(True)
        for i in range(_BLOOM_K):
            pos = F.pmod(F.lit(h1 + i * h2), m)
            word = F.element_at(
                words, (F.shiftright(pos, 6) + 1).cast("int"))
            all_bits = all_bits & (
                F.getbit(word, pos.bitwiseAND(F.lit(63))) == 1)
        any_v = any_v | all_bits
    return bidx.isNull() | (bidx == 0) | words.isNull() | any_v


def _bloom_keep(words: list[int] | None, vals: list) -> bool:
    """_bloom_keep_cond for one chunk in pure Python (the DataSource V2
    reader): no filter for the column keeps; otherwise some value must
    have all k bits set in its `words`."""
    if not words:
        return True
    m = 64 * len(words)
    return any(
        all(words[p >> 6] >> (p & 63) & 1
            for p in _bloom_bit_positions(
                v.encode("utf-8") if isinstance(v, str) else v, m))
        for v in vals)


def _part_keep_term(zones: dict, n_rows: int, term: tuple) -> bool:
    """Keep test for ONE predicate term against a zone summary
    {col: (min_str, max_str, min_num, max_num, min_dbl, max_dbl, nulls,
    covered_rows)} of `n_rows` rows: THE chunk rule of every snapshot
    read (read_part_file, per chunk row) and the file rule of
    manifest._prune_parts (per part summary).  A null bound or null
    count is no information and keeps; a column whose summary covers
    fewer rows than the part holds (schema evolution, fat-text
    auto-skip, all-NaN chunks) keeps unconditionally."""
    t = _norm_term(term)
    if t[0] in ("isnull", "notnull"):
        z = zones.get(t[1])
        if not z or z[7] != n_rows or z[6] is None:
            return True
        return z[6] > 0 if t[0] == "isnull" else z[6] < n_rows
    col = t[1]
    z = zones.get(col)
    if not z or z[7] != n_rows:
        return True
    mn_s, mx_s, mn_n, mx_n, mn_d, mx_d = z[:6]

    def fits(lo, hi, numeric):
        fams = (((mn_n, mx_n), (mn_d, mx_d)) if numeric
                else ((mn_s, mx_s),))
        for mn, mx in fams:
            if lo is not None and mx is not None and mx < lo:
                return False
            if hi is not None and mn is not None and mn > hi:
                return False
        return True

    if t[0] == "range":
        _, _, lo, hi = t
        numeric = ((lo is not None and _is_numeric_bound(lo))
                   or (hi is not None and _is_numeric_bound(hi)))
        if numeric:
            lo = _as_num_bound(lo) if lo is not None else None
            hi = _as_num_bound(hi) if hi is not None else None
        return fits(lo, hi, numeric)
    if t[0] == "prefix":
        # same [p, _prefix_upper(p)) box the chunk-level prune uses;
        # the inclusive fits() over-keeps only the boundary value
        return fits(t[2], _prefix_upper(t[2]), False)
    vals = t[2]
    numeric = _is_numeric_bound(vals[0])
    nvals = [_as_num_bound(v) for v in vals] if numeric else vals
    return any(fits(v, v, numeric) for v in nvals)


def _fits_all(v, pairs, idx):
    cond = F.lit(True)
    for mn_a, mx_a in pairs:
        cmin = F.try_element_at(F.col(mn_a), idx)
        cmax = F.try_element_at(F.col(mx_a), idx)
        cond = cond & (cmax.isNull() | (cmax >= v)) \
            & (cmin.isNull() | (cmin <= v))
    return cond


def prune_chunks_pred(enc_df: DataFrame,
                      pred: list[tuple] | dict) -> DataFrame:
    """Composite-predicate chunk pruning over the multi-column zone maps.

    `pred` is either an AND-list of terms, or {"any": [and_list, ...]}
    for a disjunction of conjunctions — the normal form a
    predicate->prune compiler bottoms out in.  Term shapes (see
    _norm_term): (col, lo, hi) inclusive range (None = half-open),
    (col, "=", v) equality, (col, "in", [v...]) IN-list — the IN form
    prunes per VALUE, so a sparse list skips chunks between its values —
    and (col, "prefix", p) LIKE-'p%' pruning via the string zone range.
    A chunk is kept iff its zone ranges could satisfy the predicate.
    Pure metadata filter (codegen, no decode), so it composes with
    prune_chunks and column pruning.

        prune_chunks_pred(enc, [("url", lo, hi), ("doc_id", 0, 99)])
        prune_chunks_pred(enc, [("lang", "=", "de")])
        prune_chunks_pred(enc, [("doc_id", "in", [5, 900, 44000])])
        prune_chunks_pred(enc, {"any": [[("lang", "de", "de")],
                                        [("doc_id", 500, None)]]})
    """
    def and_cond(terms):
        cond = F.lit(True)
        for term in terms:
            cond = cond & _zone_keep_term(term)
        return cond

    if isinstance(pred, dict):
        branches = pred["any"]
        cond = F.lit(False)
        for terms in branches:
            cond = cond | and_cond(terms)
    else:
        cond = and_cond(pred)
    return enc_df.where(cond)


def _residual_col(col: str, types: dict[str, str], numeric: bool):
    """The comparison column for a residual term: timestamps addressed
    with numeric (epoch-us) bounds compare in UTC micros.  TIMESTAMP
    (LTZ) must use unix_micros — the NTZ timestampdiff formula shifts
    by the session timezone and would drop/keep the wrong rows under a
    non-UTC session; TIMESTAMP_NTZ wall-clock == UTC micros by
    definition."""
    if col not in types:
        raise KeyError(f"predicate column {col!r} not in decoded "
                       f"projection {sorted(types)}")
    if numeric and types[col].startswith("timestamp"):
        if types[col] == "timestamp":
            return F.unix_micros(F.col(col))
        return F.expr(f"timestampdiff(MICROSECOND, "
                      f"TIMESTAMP_NTZ'1970-01-01 00:00:00', {col})")
    return F.col(col)


def _residual_cond(dec: DataFrame, terms) -> "F.Column":
    """The exact filter for a predicate on decoded rows: an AND-list of
    terms, or {"any": [and_list, ...]} (OR of the branches)."""
    if isinstance(terms, dict):
        cond = F.lit(False)
        for branch in terms["any"]:
            cond = cond | _residual_cond(dec, branch)
        return cond
    cond = F.lit(True)
    types = {f.name: f.dataType.simpleString() for f in dec.schema.fields}
    for term in terms:
        t = _norm_term(term)
        if t[0] in ("isnull", "notnull"):
            _, col = t
            c = _residual_col(col, types, False)
            cond = cond & (c.isNull() if t[0] == "isnull"
                           else c.isNotNull())
            continue
        if t[0] == "in":
            _, col, vals = t
            numeric = _is_numeric_bound(vals[0])
            c = _residual_col(col, types, numeric)
            vals = [_as_num_bound(v) for v in vals] if numeric else vals
            cond = cond & c.isin(vals)
            continue
        if t[0] == "prefix":
            _, col, p = t
            cond = cond & _residual_col(col, types, False).startswith(p)
            continue
        _, col, lo, hi = t
        numeric = ((lo is not None and _is_numeric_bound(lo))
                   or (hi is not None and _is_numeric_bound(hi)))
        c = _residual_col(col, types, numeric)
        if lo is not None:
            cond = cond & (c >= F.lit(_as_num_bound(lo) if numeric else lo))
        if hi is not None:
            cond = cond & (c <= F.lit(_as_num_bound(hi) if numeric else hi))
    return cond


def _zone_full_term(term: tuple):
    """Definite-INCLUSION test for one predicate term: TRUE only when
    zone metadata alone proves EVERY row of the chunk satisfies it —
    the dual of _zone_keep_term's maybe-test, and the half that turns
    COUNT(*) into metadata arithmetic (count_filtered).  Anything
    unknowable is False (the chunk just decodes): absent zone entries,
    null-bearing chunks (NULL satisfies no comparison), and the DOUBLE
    zone family entirely — its min/max are NaN-safe (nanmin/nanmax),
    so a chunk can hide NaN rows inside a covering range and no stored
    statistic can prove it doesn't."""
    t = _norm_term(term)
    if t[0] in ("isnull", "notnull"):
        _, col = t
        idx = F.array_position(F.col("zone_cols"), col).cast("int")
        nulls = F.try_element_at(F.col("zone_nulls"),
                                 F.when(idx >= 1, idx))
        want = F.col("n_rows") if t[0] == "isnull" else F.lit(0)
        return nulls.isNotNull() & (nulls == want)
    col = t[1]
    idx = F.array_position(F.col("zone_cols"), col).cast("int")
    safe_idx = F.when(idx >= 1, idx)
    nulls = F.try_element_at(F.col("zone_nulls"), safe_idx)
    no_nulls = nulls.isNotNull() & (nulls == 0)
    smin = F.try_element_at(F.col("zone_min_str"), safe_idx)
    smax = F.try_element_at(F.col("zone_max_str"), safe_idx)
    nmin = F.try_element_at(F.col("zone_min_num"), safe_idx)
    nmax = F.try_element_at(F.col("zone_max_num"), safe_idx)
    if t[0] == "prefix":
        # both stored bounds sharing the prefix proves every value in
        # [min, max] shares it (truncation is directional: stored_min
        # <= real_min and real_max <= stored_max, so the stored box
        # covers the real one)
        _, _, p = t
        return (no_nulls & smin.isNotNull() & smax.isNotNull()
                & smin.startswith(p) & smax.startswith(p))
    if t[0] == "range":
        _, _, lo, hi = t
        numeric = ((lo is not None and _is_numeric_bound(lo))
                   or (hi is not None and _is_numeric_bound(hi)))
        if numeric:
            mn, mx = nmin, nmax
            lo = _as_num_bound(lo) if lo is not None else None
            hi = _as_num_bound(hi) if hi is not None else None
            if isinstance(lo, float) or isinstance(hi, float):
                return F.lit(False)  # double family: NaN-unsafe
        else:
            mn, mx = smin, smax
        cond = no_nulls & mn.isNotNull() & mx.isNotNull()
        if lo is not None:
            cond = cond & (mn >= F.lit(lo))
        if hi is not None:
            cond = cond & (mx <= F.lit(hi))
        return cond
    # IN / equality: definite only for a constant chunk whose single
    # value is in the list (stored min == max implies untruncated —
    # a truncated max is incremented past the truncated min)
    _, _, vals = t
    numeric = _is_numeric_bound(vals[0])
    if numeric:
        nvals = [_as_num_bound(v) for v in vals]
        if any(isinstance(v, float) for v in nvals):
            return F.lit(False)
        mn, mx = nmin, nmax
        varr = F.array(*[F.lit(v) for v in nvals])
    else:
        mn, mx = smin, smax
        varr = F.array(*[F.lit(v) for v in vals])
    return (no_nulls & mn.isNotNull() & (mn == mx)
            & F.array_contains(varr, mn))


def count_filtered(enc_df: DataFrame, pred: list[tuple] | dict,
                   schema: pa.Schema | None = None) -> int:
    """COUNT(*) WHERE pred with aggregate pushdown into the zone maps:
    chunks the metadata PROVES fully matching contribute their stored
    n_rows without any decompression; only boundary chunks (maybe
    matching but not provably all-matching) decode and run the exact
    residual.  On a clustered layout a wide key-range count touches
    ~2 boundary chunks per part regardless of table size — the same
    O(metadata) shape as metadata_stats, but for arbitrary predicates.
    `pred` shapes are scan_filtered's (AND-list or {"any": [...]}).
    Exactness: the definite test is conservative (unknown = decode),
    so the result equals scan_filtered(...).count() always."""
    keep, full = _pred_zone_conds(pred)
    # one metadata-only job: provably-full rows + boundary-chunk count
    # (payloads untouched); the decode job launches only when some
    # chunk is actually boundary
    st = enc_df.agg(
        F.coalesce(F.sum(F.when(full, F.col("n_rows"))), F.lit(0)),
        F.coalesce(F.sum(F.when(keep & ~full, 1)), F.lit(0))).head()
    meta_n, n_boundary = int(st[0]), int(st[1])
    if n_boundary == 0:
        return meta_n
    if schema is None:
        # resolve from the UNFILTERED frame: an empty boundary frame
        # has no chunk to read a schema from
        try:
            schema = read_encoded_schema(enc_df)
        except ValueError:
            return 0  # empty table
    partial = enc_df.where(keep & ~full)
    return meta_n + scan_filtered(partial, pred, schema=schema).count()


def _pred_zone_conds(pred):
    """(maybe-keep, definitely-full) chunk conditions for a predicate —
    the two halves count pushdown needs (shared by count_filtered and
    manifest.count_where)."""
    def and_cond(terms, f):
        cond = F.lit(True)
        for term in terms:
            cond = cond & f(term)
        return cond

    if isinstance(pred, dict):
        full = F.lit(False)
        keep = F.lit(False)
        for terms in pred["any"]:
            full = full | and_cond(terms, _zone_full_term)
            keep = keep | and_cond(terms, _zone_keep_term)
    else:
        full = and_cond(pred, _zone_full_term)
        keep = and_cond(pred, _zone_keep_term)
    return keep, full


def scan_filtered(enc_df: DataFrame, pred: list[tuple] | dict,
                  columns: list[str] | None = None,
                  schema: pa.Schema | None = None) -> DataFrame:
    """Predicate-pushdown scan over the encoded format in one call:
    zone-map chunk pruning (prune_chunks_pred) + decode of surviving
    chunks + the exact residual filter — the encoded analog of a
    parquet scan with PushedFilters.  `pred` uses prune_chunks_pred's
    shape: an AND-list of terms — (col, lo, hi) range, (col, "=", v)
    equality, (col, "in", [v...]) — or {"any": [and_list, ...]}.
    With `columns`, every predicate column must be in the projection.

    NOTE: this operates on raw chunk rows and knows nothing about
    table-level metadata — for a table written with `global_dict_cols`
    the stored columns are int ids, so a value-space predicate here
    would silently match nothing.  Use manifest.scan_table for
    dict-aware scans (it translates predicates to id space for pruning
    and hands the snapshot's dictionaries to the same decode kernel,
    which restores values before the residual)."""
    kept = prune_chunks_pred(enc_df, pred)
    dec = decode_table(kept, schema=schema, columns=columns)
    return dec.where(_residual_cond(dec, pred))


def read_row(enc_df: DataFrame, row_idx: int,
             columns: list[str] | None = None) -> dict:
    """Random access to one logical row by global index (reference
    test-reader parity: Reader.ReadRow walks row groups maintaining a
    (group, offset) cursor, /root/reference/Parquet.Tests/Reader.cs:
    39-53).  Row order is (part_id, chunk_id, in-chunk position).

    Driver-frugal at ANY table size: the driver collects one row per
    PART (per-part row totals — thousands of rows for a 100 B-row
    table), picks the owning part, and the within-part chunk cursor is
    a window cumulative-sum computed Spark-side over that part's chunk
    metadata; only the single located chunk's payload row ever reaches
    the driver.  (The previous design collected the full chunk
    directory — one driver row per 10k table rows.)"""
    if row_idx < 0:
        raise IndexError(f"row index must be >= 0, got {row_idx}")
    from pyspark.sql import Window
    part_totals = (enc_df.groupBy("part_id")
                   .agg(F.sum("n_rows").alias("part_rows"))
                   .orderBy("part_id").collect())
    at = 0
    pid = None
    for p in part_totals:
        if at + p.part_rows > row_idx:
            pid = p.part_id
            part_off = row_idx - at
            break
        at += p.part_rows
    if pid is None:
        raise IndexError(f"row {row_idx} out of range ({at} rows)")
    w = (Window.partitionBy("part_id").orderBy("chunk_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cursor = (enc_df.where(F.col("part_id") == pid)
              .select("chunk_id", "n_rows",
                      F.sum("n_rows").over(w).alias("end"))
              .where((F.col("end") > part_off)
                     & (F.col("end") - F.col("n_rows") <= part_off))
              .head())
    offset = part_off - (cursor.end - cursor.n_rows)
    sel = ["schema_ipc", "names", "payloads"]
    row = (enc_df.where((F.col("part_id") == pid)
                        & (F.col("chunk_id") == cursor.chunk_id))
           .select(*sel).head())
    batch = decode_chunk(row.schema_ipc, row.names, row.payloads,
                         columns=columns)
    return {n: batch.column(i)[offset].as_py()
            for i, n in enumerate(batch.schema.names)}


def read_cell(enc_df: DataFrame, row_idx: int, column: str):
    """Single-cell random access (Reader.ReadCell, Reader.cs:34-37):
    only the one column's payload of the one chunk is decoded."""
    return read_row(enc_df, row_idx, columns=[column])[column]


def encoding_stats(enc_df: DataFrame) -> DataFrame:
    """Per-column codec + size stats (the lineage/metrics facet)."""
    z = enc_df.select(
        "part_id", "chunk_id", "n_rows",
        F.explode(F.arrays_zip("names", "codecs", "bytes_in", "bytes_out"))
        .alias("c"))
    return (z.select("part_id", "chunk_id", "n_rows",
                     F.col("c.names").alias("column"),
                     F.col("c.codecs").alias("codec"),
                     F.col("c.bytes_in").alias("bytes_in"),
                     F.col("c.bytes_out").alias("bytes_out"))
            .groupBy("column", "codec")
            .agg(F.sum("n_rows").alias("rows"),
                 F.sum("bytes_in").alias("bytes_in"),
                 F.sum("bytes_out").alias("bytes_out"))
            .withColumn("ratio", F.round(F.col("bytes_in") /
                                         F.col("bytes_out"), 3)))
