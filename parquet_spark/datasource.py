"""Catalyst-visible read surface for encoded tables: the Python
DataSource V2 API (``pyspark.sql.datasource``, PySpark 4.x), so any
Spark consumer — SQL, DataFrame, another language binding going through
the session — can read an encoded table without touching this package's
Python API:

    from parquet_spark.datasource import register
    register(spark)
    df = (spark.read.format("parquet_spark")
          .option("columns", "doc_id,lang")       # optional projection
          .option("snapshot_id", "3")             # optional time travel
          .load("/path/to/table"))
    df.where(df.doc_id < 100).show()

This closes the read-side gap the reference itself left open: the C#
library is write-only ("Reading Parquet files ... is yet to be
implemented", /root/reference/README.md:29-30; its only reader is the
test-scoped /root/reference/Parquet.Tests/Reader.cs:6-66).

Execution shape (scale notes):

* ``partitions()`` — one input partition per committed PART FILE, the
  same unit the encode job parallelizes over, after DRIVER-SIDE
  file-level pruning against the manifest's per-part zone summaries
  (manifest._prune_parts — O(parts) metadata, zero Spark jobs, skipped
  files are never listed, exactly like the scan_table path).
* ``pushFilters()`` — Catalyst hands down the WHERE clause; supported
  terms (=, IN, </<=/>/>=, IS [NOT] NULL, startswith) are translated
  to the engine's predicate tuples and drive BOTH file-level and
  chunk-level zone pruning.  Every filter is also returned as
  "unsupported", so Spark re-applies the exact predicate on the decoded
  rows — pruning only has to be conservative, never exact, and
  semantics like null-handling and collation stay Spark's.
* ``read(partition)`` — executor-side: the engine's part reader
  (``engine.read_part_file``), the same kernel every snapshot read of
  the Python API runs (read_decoded, scan_table, read_increment) — one
  implementation, not a mirror.  pyarrow reads ONLY the needed
  top-level columns of the chunk container: a metadata-only read of
  the zone arrays (plus the Bloom filters when a string =/IN filter
  was pushed) tests each chunk row (engine._part_keep_term at chunk
  granularity, engine._bloom_keep for string =/IN terms), then the
  surviving chunks stream one row at a time through the chunk-decode
  kernel (``engine.decode_chunk_rows``).  That kernel does all of:
  column projection (unselected payloads are never decompressed),
  schema evolution (renames/drops through the physical->logical map,
  widened columns decoded at their chunk width then upcast,
  metadata-only added columns as nulls), global-dict restore (one
  ``pa.compute.take`` over the snapshot's dictionary, null ids stay
  null), and the conform to the Arrow types Spark expects.

Not supported here (use read_decoded, which routes through Spark-side
joins): tables with pending equality deletes — the reader raises
rather than silently resurrecting deleted rows.
"""

from __future__ import annotations

import pyarrow as pa

from pyspark.sql.datasource import (DataSource, DataSourceArrowWriter,
                                    DataSourceReader,
                                    DataSourceStreamArrowWriter,
                                    DataSourceStreamReader, EqualTo,
                                    GreaterThan, GreaterThanOrEqual, In,
                                    InputPartition, IsNotNull, IsNull,
                                    LessThan, LessThanOrEqual,
                                    StringStartsWith, WriterCommitMessage)

_FORMAT_NAME = "parquet_spark"


def _load_table_state(options) -> dict:
    """Driver-side: resolve the snapshot once and flatten everything the
    (picklable) reader needs into plain dicts/bytes."""
    from .manifest import EncodedTable, _resolve_snap
    path = options.get("path")
    if not path:
        raise ValueError("parquet_spark datasource needs a path: "
                         ".load('/path/to/encoded/table')")
    sid = options.get("snapshot_id")
    table = EncodedTable(path)
    snap = _resolve_snap(table, int(sid) if sid is not None else None,
                         options.get("ref"))
    if snap is None:
        raise ValueError(f"no committed snapshot at {path}")
    meta = table.meta(snap)
    if meta.get("delete_files"):
        raise ValueError(
            "table has pending equality deletes; the datasource reader "
            "is a per-file decoder and cannot apply the delete "
            "anti-join — read it via parquet_spark.manifest.read_decoded "
            "or compact with rewrite_table first")
    schema = table.schema(snap)
    cols_opt = options.get("columns")
    columns = ([c.strip() for c in cols_opt.split(",") if c.strip()]
               if cols_opt else None)
    if columns:
        missing = [c for c in columns if schema.get_field_index(c) < 0]
        if missing:
            raise KeyError(f"columns not in table schema: {missing}")
        schema = pa.schema([schema.field(c) for c in columns])
    return {
        "parts": table.committed_parts(snap),
        "schema_ipc": schema.serialize().to_pybytes(),
        "gdicts": meta.get("global_dicts") or {},
        "renames": meta.get("renames") or {},
    }


def _spark_schema(state: dict):
    """The reader-facing Spark schema: global-dict columns surface as
    their VALUE type (string), not the stored int ids."""
    from .engine import decoded_spark_schema
    return decoded_spark_schema(
        pa.ipc.read_schema(pa.BufferReader(state["schema_ipc"])),
        state["gdicts"])


def _translate_filter(f):
    """One supported V2 filter -> one engine predicate tuple, or None.
    Bounds are INCLUSIVE supersets where the filter is strict — legal,
    because pruning is conservative and Spark re-applies the exact
    filter post-scan."""
    attr = getattr(f, "attribute", None)
    if not attr or len(attr) != 1:
        return None  # nested column paths carry no zone summaries
    col = attr[0]

    def bound(v):
        # zone maps store timestamps as epoch-us ints; Catalyst hands
        # datetime literals for timestamp comparisons
        import datetime

        from .engine import _is_numeric_bound
        if isinstance(v, datetime.datetime):
            epoch = datetime.datetime(
                1970, 1, 1, tzinfo=v.tzinfo if v.tzinfo else None)
            return int((v - epoch).total_seconds() * 1_000_000)
        # a bool (where(flag)) or NaN raises: no zone map can prune by
        # it, so pushFilters drops the filter
        _is_numeric_bound(v)
        return v

    if isinstance(f, EqualTo):
        return (col, "=", bound(f.value))
    if isinstance(f, In):
        vals = [bound(v) for v in f.value if v is not None]
        return (col, "in", vals) if vals else None
    if isinstance(f, (GreaterThan, GreaterThanOrEqual)):
        return (col, bound(f.value), None)
    if isinstance(f, (LessThan, LessThanOrEqual)):
        return (col, None, bound(f.value))
    if isinstance(f, IsNull):
        return (col, "isnull", None)
    if isinstance(f, IsNotNull):
        return (col, "notnull", None)
    if isinstance(f, StringStartsWith):
        return (col, "prefix", f.value)
    return None


class _EncodedTableReader(DataSourceReader):
    def __init__(self, state: dict):
        self._state = state
        self._pred: list[tuple] = []

    # ---- planning (driver) -------------------------------------------
    def pushFilters(self, filters):
        for f in filters:
            try:
                t = _translate_filter(f)
            except Exception:
                t = None  # unexpected literal shape: just don't prune
            if t is not None:
                self._pred.append(t)
        # hand every filter back: Spark applies the exact residual on
        # decoded rows, we only use them to prune files and chunks
        return iter(filters)

    def _zpred(self):
        from .manifest import _translate_pred
        if not self._pred:
            return None
        try:
            return _translate_pred(self._pred, self._state["gdicts"],
                                   self._state["renames"])
        except Exception:
            return None  # e.g. a mixed-type IN-list: prune nothing

    def partitions(self):
        from .manifest import _prune_parts
        parts = self._state["parts"]
        zpred = self._zpred()
        if zpred is not None:
            files = _prune_parts(parts, zpred)
        else:
            files = [info["file"] for _, info in
                     sorted(parts.items(), key=lambda kv: int(kv[0]))]
        # keep the executor pickle O(columns), not O(parts): the part
        # manifest was only needed for driver-side file pruning
        self._state = {k: v for k, v in self._state.items()
                       if k != "parts"}
        self._zone_pred = zpred
        return [InputPartition(f) for f in files]

    # ---- execution (executor) ----------------------------------------
    def read(self, partition):
        if partition is None or partition.value is None:
            # Spark invokes read(None) when partitions() pruned to zero
            # files — nothing to produce
            return
        zpred = getattr(self, "_zone_pred", None) or self._zpred()
        yield from _read_part_file(partition.value, self._state, zpred)


def _read_part_file(file: str, state: dict, zpred):
    """Decode ONE part file through the engine's part reader
    (engine.read_part_file) — shared by the batch reader and the
    streaming source."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from .engine import read_part_file
    return read_part_file(file, to_arrow_schema(_spark_schema(state)),
                          state["renames"], state["gdicts"], zpred)


class _PartMessage(WriterCommitMessage):
    """Picklable per-task lineage: one written part (or an empty
    task)."""

    def __init__(self, part_id=None, file=None, n_chunks=0, n_rows=0,
                 bytes_in=0, bytes_out=0, wall_ms=0.0, codecs="",
                 zones="{}", file_hash=None):
        self.part_id = part_id
        self.file = file
        self.n_chunks = n_chunks
        self.n_rows = n_rows
        self.bytes_in = bytes_in
        self.bytes_out = bytes_out
        self.wall_ms = wall_ms
        self.codecs = codecs
        self.zones = zones
        self.file_hash = file_hash


def _encode_batches_to_part(iterator, pid: int, fname: str, path: str,
                            key: list[str], rows_per_chunk: int,
                            codec: str, block_codec: str,
                            bloom_cols: list[str] | None) -> _PartMessage:
    """Task-side encode kernel shared by the batch and streaming
    writers: rebatch the partition's Arrow stream to rows_per_chunk
    chunks through engine.encode_chunk (per-partition codec memo, zone
    summaries, optional blooms) and write ONE part file atomically.
    `pid` is embedded in the chunk rows (`part_id` — it must equal the
    manifest key the commit assigns: the equality-delete reader scopes
    by it)."""
    import os as _os
    import time as _time

    from .engine import (_chunk_rows_to_batch, encode_chunk,
                         part_zone_summary, take_full_batches,
                         write_part_atomic)
    t0 = _time.monotonic()
    chunks: list[dict] = []
    buf: list[pa.RecordBatch] = []
    buffered = 0
    plan: dict = {}

    def drain(final: bool):
        nonlocal buf, buffered
        full, buf, buffered = take_full_batches(
            buf, buffered, rows_per_chunk, final)
        for head in full:
            chunks.append(encode_chunk(
                head, pid, len(chunks), codec,
                plan if codec == "auto" else None,
                zone_key=key[0], block_codec=block_codec,
                bloom_cols=bloom_cols))

    for batch in iterator:
        if batch.num_rows == 0:
            continue
        buf.append(batch)
        buffered += batch.num_rows
        drain(final=False)
    drain(final=True)
    if not chunks:
        return _PartMessage()  # empty partition: no part file
    data_dir = _os.path.join(path, "data")
    _os.makedirs(data_dir, exist_ok=True)
    tbl = pa.Table.from_batches([_chunk_rows_to_batch(chunks)])
    final = _os.path.join(data_dir, fname)
    fhash = write_part_atomic(tbl, final)
    return _PartMessage(
        part_id=pid, file=final, n_chunks=len(chunks),
        n_rows=int(sum(c["n_rows"] for c in chunks)),
        bytes_in=int(sum(sum(c["bytes_in"]) for c in chunks)),
        bytes_out=int(sum(sum(c["bytes_out"]) for c in chunks)),
        wall_ms=(_time.monotonic() - t0) * 1000.0,
        codecs=",".join(sorted({c for ch in chunks
                                for c in ch["codecs"]})),
        zones=part_zone_summary(chunks), file_hash=fhash)


def _parse_write_options(options, schema):
    """Shared option parsing for the batch and streaming writers:
    (path, key, rows_per_chunk, codec, block_codec, bloom_cols,
    arrow_schema)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from .codecs.column import validate_block_codec
    from .manifest import DEFAULT_ROWS_PER_CHUNK
    path = options.get("path")
    if not path:
        raise ValueError("parquet_spark writer needs a path: "
                         ".save('/path/to/encoded/table')")
    arrow_schema = to_arrow_schema(schema)
    cols = [f.name for f in arrow_schema]
    key_opt = options.get("key")
    key = ([c.strip() for c in key_opt.split(",") if c.strip()]
           if key_opt else [cols[0]])
    missing = [c for c in key if c not in cols]
    if missing:
        raise KeyError(f"key columns not in schema: {missing}")
    rows_per_chunk = int(options.get("rows_per_chunk")
                         or DEFAULT_ROWS_PER_CHUNK)
    codec = options.get("codec") or "auto"
    block_codec = options.get("block_codec") or "auto"
    validate_block_codec(block_codec)
    bc = options.get("bloom_cols")
    bloom_cols = ([c.strip() for c in bc.split(",") if c.strip()]
                  if bc else None)
    return path, key, rows_per_chunk, codec, block_codec, \
        bloom_cols, arrow_schema


class _EncodedTableWriter(DataSourceArrowWriter):
    """``df.write.format("parquet_spark").save(path)`` — the write half
    of the Catalyst surface.

    Execution shape: each Spark input partition encodes into exactly
    ONE part file through the same chunk kernels as ``write_encoded``
    (`engine.encode_chunk`: rows_per_chunk rebatch, per-column codec
    auto-selection, zone summaries, optional blooms, atomic
    write+hash); the driver's ``commit()`` then performs the manifest's
    single CAS snapshot commit — all-or-nothing exactly like the Python
    API, and a failed/aborted job leaves only unreferenced temp-named
    files (``abort`` also deletes them eagerly).

    The committed layout mode is ``"external"``: part placement is
    whatever the upstream plan's partitioning was (the caller owns
    `repartition`/`sortWithinPartitions`).  Zone/bloom/file pruning
    works unchanged — min/max pruning never assumed disjoint placement
    — but the key-addressed part-id namespaces (write_encoded resume,
    streaming epochs, upsert) refuse external tables, and DS appends
    are only accepted onto external tables, so the two id namespaces
    can never interleave.

    Options: ``key`` (comma list: zone/sort key recorded in the
    layout; default first column), ``rows_per_chunk``, ``codec``,
    ``block_codec``, ``bloom_cols`` (comma list).  ``mode("append")``
    appends (or creates); ``mode("overwrite")`` commits df as the
    table's entire new contents (replace epoch, parent kept readable
    for time travel until vacuum)."""

    def __init__(self, options, schema, overwrite: bool):
        import uuid as _uuid

        from .manifest import EncodedTable
        (self._path, self._key, self._rows_per_chunk, self._codec,
         self._block_codec, self._bloom_cols, arrow_schema) = \
            _parse_write_options(options, schema)
        self._overwrite = overwrite
        self._schema_ipc = arrow_schema.serialize().to_pybytes()
        cols = [f.name for f in arrow_schema]
        self._token = _uuid.uuid4().hex[:12]

        # plan against the CURRENT snapshot; commit() CASes on it, so a
        # concurrent commit in between fails the job cleanly (retry)
        table = EncodedTable(self._path)
        self._parent = table.current_snapshot()
        self._part_base = 0
        if self._parent is not None and not overwrite:
            meta = self._parent.get("meta") or {}
            layout = meta.get("layout") or {}
            if layout.get("mode") != "external":
                raise ValueError(
                    f"append via the datasource writer needs an "
                    f"'external'-layout table; {self._path} has layout "
                    f"{layout.get('mode')!r} (its part-id namespace is "
                    "key-addressed — append with "
                    "parquet_spark.write_encoded, or overwrite)")
            committed = table.schema(self._parent)
            if committed is not None and \
                    [f.name for f in committed] != cols:
                raise ValueError(
                    f"append schema {cols} does not match table schema "
                    f"{[f.name for f in committed]}")
            if committed is not None:
                # a stricter-nullability batch must not flip the
                # table schema non-nullable (old chunks carry nulls)
                unified = pa.schema([
                    f.with_nullable(f.nullable
                                    or committed.field(i).nullable)
                    for i, f in enumerate(arrow_schema)])
                self._schema_ipc = unified.serialize().to_pybytes()
            self._part_base = 1 + max(
                (int(p) for p in self._parent["parts"]), default=-1)

    # ---- executor ----------------------------------------------------
    def write(self, iterator):
        from pyspark import TaskContext
        pid = self._part_base + TaskContext.get().partitionId()
        return _encode_batches_to_part(
            iterator, pid, f"part-{pid:05d}-{self._token}.parquet",
            self._path, self._key, self._rows_per_chunk,
            self._codec, self._block_codec, self._bloom_cols)

    # ---- driver ------------------------------------------------------
    def commit(self, messages):
        import json as _json

        from .manifest import EncodedTable
        written = [m for m in messages
                   if m is not None and m.part_id is not None]
        table = EncodedTable(self._path)
        parent = self._parent
        pmeta = ({} if self._overwrite or parent is None
                 else (parent.get("meta") or {}))
        parts = ({} if self._overwrite or parent is None
                 else dict(parent["parts"]))
        for m in written:
            parts[str(m.part_id)] = {
                "file": m.file, "n_chunks": m.n_chunks,
                "n_rows": m.n_rows, "bytes_in": m.bytes_in,
                "bytes_out": m.bytes_out, "wall_ms": m.wall_ms,
                "codecs": m.codecs,
                "zones": _json.loads(m.zones) if m.zones else {},
                "file_hash": m.file_hash,
            }
        meta = {"key": self._key, "n_parts": len(parts),
                "codec": self._codec, "block_codec": self._block_codec,
                "rows_per_chunk": self._rows_per_chunk,
                "layout": {"mode": "external", "key": self._key,
                           "rows_per_chunk": self._rows_per_chunk,
                           **({"bloom_cols": sorted(self._bloom_cols)}
                              if self._bloom_cols else {})},
                "new_parts": sorted(m.part_id for m in written)}
        # append commits carry forward evolution/dict/delete state
        # exactly like write_encoded (deletes are part-id scoped, and
        # every new part postdates them)
        for carry in ("mappings", "global_dicts", "global_dict_fallback",
                      "delete_files", "n_deleted"):
            if pmeta.get(carry):
                meta[carry] = pmeta[carry]
        if pmeta.get("renames") is not None:
            meta["renames"] = pmeta["renames"]
        # the streaming sink's exactly-once fence must survive a batch
        # append landing between a stream's commit and Spark's offset
        # commit (batch id 0 is valid — no truthiness test); an
        # overwrite deliberately resets it (new table contents)
        if not self._overwrite and \
                pmeta.get("stream_last_batch") is not None:
            meta["stream_last_batch"] = pmeta["stream_last_batch"]
        if self._overwrite and parent is not None:
            meta["replaced_snapshot"] = parent["snapshot_id"]
        table.commit(parts, self._schema_ipc, parent, meta)

    def abort(self, messages):
        import os as _os
        for m in messages or []:
            if m is not None and getattr(m, "file", None):
                try:
                    _os.remove(m.file)
                except OSError:
                    pass


class _EncodedTableStreamWriter(DataSourceStreamArrowWriter):
    """``df.writeStream.format("parquet_spark").start(path)`` — the
    Structured Streaming sink through the same manifest, EXACTLY-ONCE.

    Per microbatch: each task reads the table's CURRENT snapshot
    (committed by the previous batch — batches of one query are
    sequential, so every task of a batch sees the same parent), claims
    part id ``max+1+partitionId``, and encodes its partition with the
    shared :func:`_encode_batches_to_part` kernel; the driver's
    ``commit(messages, batchId)`` is ONE manifest CAS chained on that
    same parent.  Exactly-once comes from two fences:

      * the snapshot meta records ``stream_last_batch``; a re-delivered
        batch (checkpoint replay after a crash between sink commit and
        Spark's own offset commit) sees ``batchId <= stream_last_batch``
        and discards its files instead of double-appending — the same
        idempotency contract as streaming.write_stream_encoded's
        part_offset epochs, carried by the snapshot itself;
      * the CAS refuses a commit whose parent moved (an external writer
        raced the query) — the stream fails loudly rather than
        interleaving part ids; one writer per external table.

    Layout mode is ``"external"`` (like the batch writer): appends-only
    onto a fresh path or an external-layout table; hash/range tables
    refuse (their part-id namespace is key-addressed).  Options are the
    batch writer's (key / rows_per_chunk / codec / block_codec /
    bloom_cols).  Output mode must be append."""

    def __init__(self, options, schema, overwrite: bool):
        if overwrite:
            raise ValueError(
                "parquet_spark streaming sink supports append output "
                "mode only (complete/update rewrite history; use "
                "foreachBatch + write_encoded(replace=True) for that)")
        (self._path, self._key, self._rows_per_chunk, self._codec,
         self._block_codec, self._bloom_cols, arrow_schema) = \
            _parse_write_options(options, schema)
        self._schema_ipc = arrow_schema.serialize().to_pybytes()
        self._cols = [f.name for f in arrow_schema]

    # ---- executor (per microbatch task) ------------------------------
    def write(self, iterator):
        import uuid as _uuid

        from pyspark import TaskContext

        from .manifest import EncodedTable
        table = EncodedTable(self._path)
        snap = table.current_snapshot()
        if snap is not None:
            meta = snap.get("meta") or {}
            layout = meta.get("layout") or {}
            # "compacted" with a stream fence present = THIS stream's
            # own table after a maintenance pass (compact_table /
            # compact_small_parts carry stream_last_batch precisely so
            # the stream can continue across maintenance); part ids
            # keep claiming past max, so carried/binpacked ids and new
            # epochs never collide
            ok = layout.get("mode") == "external" or (
                layout.get("mode") == "compacted"
                and meta.get("stream_last_batch") is not None)
            if not ok:
                raise ValueError(
                    f"streaming sink needs a fresh path or an "
                    f"'external'-layout table; {self._path} has layout "
                    f"{layout.get('mode')!r}")
            base = 1 + max((int(p) for p in snap["parts"]), default=-1)
        else:
            base = 0
        pid = base + TaskContext.get().partitionId()
        return _encode_batches_to_part(
            iterator, pid,
            f"part-{pid:05d}-s{_uuid.uuid4().hex[:12]}.parquet",
            self._path, self._key, self._rows_per_chunk,
            self._codec, self._block_codec, self._bloom_cols)

    # ---- driver ------------------------------------------------------
    def commit(self, messages, batchId):
        import json as _json

        from .manifest import EncodedTable
        written = [m for m in messages
                   if m is not None and m.part_id is not None]
        table = EncodedTable(self._path)
        parent = table.current_snapshot()
        pmeta = (parent.get("meta") or {}) if parent else {}
        # layout acceptance re-checked DRIVER-side: an empty first
        # microbatch runs zero write() tasks, so without this a stream
        # pointed at a hash/range table would flip its layout to
        # 'external' here and corrupt the key-addressed id namespace
        if parent is not None:
            layout = pmeta.get("layout") or {}
            if not (layout.get("mode") == "external"
                    or (layout.get("mode") == "compacted"
                        and pmeta.get("stream_last_batch") is not None)):
                self.abort(messages, batchId)
                raise ValueError(
                    f"streaming sink needs a fresh path or an "
                    f"'external'-layout table; {self._path} has layout "
                    f"{layout.get('mode')!r}")
        last = pmeta.get("stream_last_batch")
        if last is not None and batchId <= int(last):
            # re-delivered batch (checkpoint replay): the data is
            # already committed — discard this attempt's files.  LOUD:
            # a NEW query (fresh checkpoint, batch ids restarting at 0)
            # against a table another query streamed into hits this
            # path too and would lose its early batches — that setup
            # needs a fresh table path.
            import warnings
            warnings.warn(
                f"discarding replayed batch {batchId} <= committed "
                f"fence {last} at {self._path}; if this is a NEW "
                "streaming query (fresh checkpoint) rather than a "
                "checkpoint replay, its early batches are being "
                "dropped — stream to a fresh table path instead")
            self.abort(messages, batchId)
            return
        parts = dict(parent["parts"]) if parent else {}
        for m in written:
            if str(m.part_id) in parts:
                # an external writer committed between our tasks'
                # planning read and now — refuse rather than clobber
                self.abort(messages, batchId)
                from .manifest import ConcurrentCommitError
                raise ConcurrentCommitError(
                    f"part id {m.part_id} already committed at "
                    f"{self._path}: another writer raced this "
                    "streaming query (one writer per external table)")
            parts[str(m.part_id)] = {
                "file": m.file, "n_chunks": m.n_chunks,
                "n_rows": m.n_rows, "bytes_in": m.bytes_in,
                "bytes_out": m.bytes_out, "wall_ms": m.wall_ms,
                "codecs": m.codecs,
                "zones": _json.loads(m.zones) if m.zones else {},
                "file_hash": m.file_hash,
            }
        schema_ipc = self._schema_ipc
        committed = table.schema(parent) if parent else None
        if committed is not None:
            if [f.name for f in committed] != self._cols:
                self.abort(messages, batchId)
                raise ValueError(
                    f"stream schema {self._cols} does not match table "
                    f"schema {[f.name for f in committed]}")
            mine = pa.ipc.read_schema(pa.BufferReader(schema_ipc))
            unified = pa.schema([
                f.with_nullable(f.nullable or committed.field(i).nullable)
                for i, f in enumerate(mine)])
            schema_ipc = unified.serialize().to_pybytes()
        meta = {"key": self._key, "n_parts": len(parts),
                "codec": self._codec, "block_codec": self._block_codec,
                "rows_per_chunk": self._rows_per_chunk,
                "layout": {"mode": "external", "key": self._key,
                           "rows_per_chunk": self._rows_per_chunk,
                           **({"bloom_cols": sorted(self._bloom_cols)}
                              if self._bloom_cols else {})},
                "new_parts": sorted(m.part_id for m in written),
                "stream_last_batch": int(batchId)}
        for carry in ("mappings", "global_dicts", "global_dict_fallback",
                      "delete_files", "n_deleted"):
            if pmeta.get(carry):
                meta[carry] = pmeta[carry]
        if pmeta.get("renames") is not None:
            meta["renames"] = pmeta["renames"]
        table.commit(parts, schema_ipc, parent, meta)

    def abort(self, messages, batchId):
        import os as _os
        for m in messages or []:
            if m is not None and getattr(m, "file", None):
                try:
                    _os.remove(m.file)
                except OSError:
                    pass


class _EncodedTableStreamReader(DataSourceStreamReader):
    """``spark.readStream.format("parquet_spark").load(path)`` — the
    table as a STREAMING SOURCE: each microbatch is the set of part
    files APPENDED between two snapshot ids, i.e. the Iceberg
    incremental-append-scan (`manifest.read_increment`) driven by
    Structured Streaming's offset tracking.

    Offsets are ``{"snapshot_id": N}`` (-1 = nothing consumed yet).
    ``latestOffset`` re-reads CURRENT; ``partitions(start, end)``
    diffs the two snapshots' part manifests on the driver (O(parts)
    metadata, zero jobs) and returns one InputPartition per NEW part
    file, enforcing the same append-only contract as read_increment —
    a compaction/rewrite or a changed pending-delete set between the
    offsets raises rather than emitting a lying diff.  Executors
    decode through the shared part reader (``engine.read_part_file``).
    Option ``starting`` = "earliest" (default: first batch replays the
    whole table) | "latest" (only appends after query start)."""

    def __init__(self, options, state: dict):
        from .manifest import EncodedTable
        self._path = options.get("path")
        self._state = {k: v for k, v in state.items() if k != "parts"}
        table = EncodedTable(self._path)
        snap = table.current_snapshot()
        starting = (options.get("starting") or "earliest").lower()
        if starting not in ("earliest", "latest"):
            raise ValueError(f"starting must be 'earliest' or "
                             f"'latest', got {starting!r}")
        self._initial = (int(snap["snapshot_id"])
                         if starting == "latest" and snap is not None
                         else -1)

    # ---- offsets (driver) --------------------------------------------
    def initialOffset(self) -> dict:
        return {"snapshot_id": self._initial}

    def latestOffset(self) -> dict:
        from .manifest import EncodedTable
        snap = EncodedTable(self._path).current_snapshot()
        return {"snapshot_id": int(snap["snapshot_id"])
                if snap is not None else self._initial}

    def _snap_by_id(self, sid: int):
        from .manifest import EncodedTable
        table = EncodedTable(self._path)
        snap = table.current_snapshot()
        while snap is not None and int(snap["snapshot_id"]) != sid:
            snap = table._parent_of(snap)
        if snap is None:
            raise ValueError(
                f"snapshot {sid} is not on the current ancestry of "
                f"{self._path} (expired by vacuum, or a replaced "
                "branch) — restart the query from a fresh checkpoint")
        return snap

    def partitions(self, start: dict, end: dict):
        s, e = int(start["snapshot_id"]), int(end["snapshot_id"])
        if s == e:
            return []
        end_snap = self._snap_by_id(e)
        to_parts = end_snap["parts"]
        if s == -1:
            from_parts: set = set()
            dels_from: list = []
        else:
            from_snap = self._snap_by_id(s)
            from_parts = set(from_snap["parts"])
            removed = sorted(from_parts - set(to_parts))
            if removed:
                raise ValueError(
                    f"streaming source requires an append-only "
                    f"history: parts {removed[:8]} of snapshot {s} "
                    f"were rewritten before snapshot {e} (compaction/"
                    "rewrite/relocation) — re-stream from a fresh "
                    "checkpoint")
            dels_from = ((from_snap.get("meta") or {})
                         .get("delete_files") or [])
        dels_to = (end_snap.get("meta") or {}).get("delete_files") or []
        if dels_from != dels_to:
            raise ValueError(
                "streaming source requires an append-only history: "
                f"the pending row-level delete set changed between "
                f"snapshots {s} and {e} (delete_rows/upsert_rows)")
        return [InputPartition(info["file"])
                for pid, info in sorted(to_parts.items(),
                                        key=lambda kv: int(kv[0]))
                if pid not in from_parts]

    # ---- executor ----------------------------------------------------
    def read(self, partition):
        if partition is None or partition.value is None:
            return
        yield from _read_part_file(partition.value, self._state, None)

    def commit(self, end: dict) -> None:
        pass  # nothing to reclaim: offsets are snapshot ids


class EncodedTableDataSource(DataSource):
    """``spark.read.format("parquet_spark").load(path)`` /
    ``spark.readStream.format("parquet_spark").load(path)`` /
    ``df.write.format("parquet_spark").save(path)`` /
    ``df.writeStream.format("parquet_spark").start(path)``.  Read
    options: ``columns`` (comma list, projection), ``snapshot_id``
    (time travel), ``ref`` (named tag/branch); streaming read adds
    ``starting`` (earliest|latest).  Write options: see
    :class:`_EncodedTableWriter`; streaming write: see
    :class:`_EncodedTableStreamWriter`."""

    def __init__(self, options):
        super().__init__(options)
        self._state = None  # read-side state, resolved lazily: a write
        #                     target may not exist yet

    def _read_state(self):
        if self._state is None:
            self._state = _load_table_state(self.options)
        return self._state

    @classmethod
    def name(cls):
        return _FORMAT_NAME

    def schema(self):
        return _spark_schema(self._read_state())

    def reader(self, schema):
        return _EncodedTableReader(self._read_state())

    def writer(self, schema, overwrite):
        return _EncodedTableWriter(self.options, schema, overwrite)

    def streamWriter(self, schema, overwrite):
        return _EncodedTableStreamWriter(self.options, schema, overwrite)

    def streamReader(self, schema):
        return _EncodedTableStreamReader(self.options, self._read_state())


def register(spark) -> None:
    """Register the format with a session (idempotent).  Also enables
    Python-datasource filter pushdown (off by default in Spark 4.1;
    runtime-settable): without it the planner REFUSES any reader that
    implements pushFilters, and with it Catalyst feeds the WHERE clause
    to the file/chunk pruners."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(EncodedTableDataSource)


# package-root export name (`parquet_spark.register_datasource`):
# unambiguous where bare `register` would not be
register_datasource = register
