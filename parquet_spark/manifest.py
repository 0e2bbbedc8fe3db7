"""Iceberg-style table layer: snapshot commits, per-partition lineage, resume.

Spark-first rendering of the reference's atomic finalize (tmp-file write +
rename onto the target path, /root/reference/Parquet.Core/ParquetFile.cs:
37-47,106-125) and artifact-publish lifecycle (ParquetResultListener.cs:
65-81), extended to the north-rule checkpoint contract (BASELINE.json:6):
encoded column chunks are checkpointed with per-partition lineage rows
(snapshot id, codec mix, bytes in/out, wall time) so a killed run resumes
from the last committed partition.

Layout (no Iceberg jars in this sandbox; manifest-last commit gives the
same atomicity):

    <table>/data/part-<id>.parquet     one file per logical partition
    <table>/snapshots/snap-<n>.json    immutable snapshot manifests
    <table>/CURRENT                    name of live snapshot (tmp+rename)

Data files for partitions not referenced by CURRENT are invisible —
exactly the crash-consistency the reference gets from its tmp files.

Multi-writer safety: `commit` is a compare-and-swap — under a lock file
it re-reads CURRENT and refuses (ConcurrentCommitError) when another
writer committed since this writer read its parent snapshot, exactly
Iceberg's optimistic-concurrency protocol.  Callers retry by re-reading
the new CURRENT and re-planning (for write_encoded that is simply
calling it again: resume skips the parts the other writer landed).
"""

from __future__ import annotations

import base64
import json
import os
import time
import uuid
import warnings
from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F

from .engine import (DEFAULT_ROWS_PER_CHUNK, ENCODED_DDL,
                     write_part_atomic,
                     _chunk_rows_to_batch, _norm_term, _part_keep_term,
                     _residual_cond,
                     decode_chunk, decode_files, decode_table,
                     encode_chunk, part_zone_summary,
                     part_zone_summary_from_chunkrows, take_full_batches)

LINEAGE_DDL = ("part_id bigint, file string, n_chunks bigint, n_rows bigint, "
               "bytes_in bigint, bytes_out bigint, wall_ms double, "
               "codecs string, zones string, file_hash string")

# Snapshot manifest format version.  v1: round-1 snapshots (no version
# field, no layout fingerprint).  v2 adds format_version, a layout
# fingerprint that gates resume, and optional mappings metadata.  Data
# files are forward-compatible (v1 block payloads still decode), so
# readers accept both; writers always stamp the current version.
FORMAT_VERSION = 2
_SUPPORTED_VERSIONS = (1, 2)

_LOCK_STALE_S = 300.0  # a crashed committer's lock is stolen after this


class ConcurrentCommitError(RuntimeError):
    """CURRENT moved between reading the parent snapshot and committing
    — another writer won the race.  Re-read and retry."""


class CommitBackend:
    """Atomic commit primitive for the snapshot chain — the ONE piece
    of the table layer that must change per storage system.

    Contract an implementation must guarantee:

      * ``current()`` -> name of the live snapshot, or None.
      * ``read(name)`` -> the committed snapshot JSON string.
      * ``commit(name, payload, expected)`` atomically: verify the live
        pointer equals ``expected``, persist ``payload`` under ``name``,
        flip the pointer to ``name``.  All-or-nothing; on a pointer
        mismatch raise ConcurrentCommitError having changed nothing.
        Two racing commits with the same ``expected`` => exactly one
        wins, the other raises (optimistic concurrency, Iceberg-style).

    Implementations:
      * PosixCommitBackend (default): lock file + O_EXCL + atomic
        rename — single node or a coherent shared filesystem.
      * An object store (where rename is not atomic) implements
        ``commit`` as a conditional PUT on the pointer object (S3
        ``If-Match`` on the ETag / ``If-None-Match: *`` for the first
        commit; GCS ``x-goog-if-generation-match``) or a catalog CAS
        (Iceberg REST / Glue optimistic locking).  No lock object is
        needed and there is no stolen-lock window at all: the
        conditional PUT IS the compare-and-swap.
    """

    def current(self) -> str | None:
        raise NotImplementedError

    def read(self, name: str) -> str:
        raise NotImplementedError

    def commit(self, name: str, payload: str,
               expected: str | None) -> None:
        raise NotImplementedError

    # -- optional WAP (write-audit-publish) extensions ----------------
    def stage(self, name: str, payload: str) -> None:
        """Persist a snapshot object WITHOUT touching the published
        pointer (branch staging).  Names are unique per attempt, so no
        CAS is needed — object stores render this as a plain
        PUT-IF-ABSENT.  Backends that don't implement it simply can't
        host WAP branches; everything else works."""
        raise NotImplementedError(
            f"{type(self).__name__} does not support WAP staging")

    def publish(self, name: str, expected: str | None) -> None:
        """Atomically flip the published pointer to an ALREADY-STAGED
        snapshot object: verify the pointer equals ``expected``, then
        point it at ``name`` (which must exist).  The fast-forward half
        of write-audit-publish; same CAS guarantees as ``commit``."""
        raise NotImplementedError(
            f"{type(self).__name__} does not support WAP publish")


class PosixCommitBackend(CommitBackend):
    """Lock-file + rename backend for POSIX filesystems.

    Crash-recovery steals locks older than ``lock_stale_s`` — but
    atomically, via ``os.rename`` to a unique name, so two waiters can
    never both "remove" the lock and both enter the critical section
    (the race a naive unlink-steal has: the second unlink removes the
    FIRST stealer's freshly created lock).  Exactly one concurrent
    stealer's rename succeeds; the loser's raises and it re-queues.

    Residual hazard on POSIX only: an owner that stalls longer than the
    stale window mid-commit can have its lock legitimately stolen.  The
    owner therefore RE-VERIFIES ownership (uuid token in the lock file)
    immediately before the pointer flip and aborts with
    ConcurrentCommitError if the lock is no longer its own."""

    def __init__(self, path: str, lock_stale_s: float = _LOCK_STALE_S):
        self.path = path
        self.snap_dir = os.path.join(path, "snapshots")
        self._stale_s = lock_stale_s
        self._acq_at: dict[str, float] = {}  # token -> monotonic acquire time

    # -- reads
    def current(self) -> str | None:
        cur = os.path.join(self.path, "CURRENT")
        if not os.path.exists(cur):
            return None
        with open(cur) as f:
            return f.read().strip()

    def read(self, name: str) -> str:
        with open(os.path.join(self.snap_dir, name)) as f:
            return f.read()

    # -- lock internals
    def _lock(self) -> str:
        return os.path.join(self.path, "COMMIT_LOCK")

    def _acquire(self) -> str:
        """Create the lock file with O_EXCL; returns the ownership
        token written into it."""
        lock = self._lock()
        token = uuid.uuid4().hex
        deadline = time.monotonic() + 30.0
        while True:
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, f"{token} {os.getpid()} {time.time()}".encode())
                os.close(fd)
                self._acq_at[token] = time.monotonic()
                return token
            except FileExistsError:
                try:
                    st = os.stat(lock)
                except OSError:
                    continue  # released between open and stat: retry now
                if time.time() - st.st_mtime > self._stale_s:
                    # presumed-crashed owner: steal ATOMICALLY by rename
                    # to a unique name — of N racing stealers exactly one
                    # rename succeeds, so exactly one proceeds to retry
                    # the O_EXCL create (the old unlink-steal let a
                    # second stealer unlink the first's fresh lock)
                    grave = lock + f".stale-{uuid.uuid4().hex}"
                    try:
                        os.rename(lock, grave)
                    except OSError:
                        continue  # another stealer won the rename
                    try:
                        os.remove(grave)
                    except OSError:
                        pass
                    continue
                if time.monotonic() > deadline:
                    raise TimeoutError(f"commit lock at {lock} held for >30s")
                time.sleep(0.05)

    def _owns(self, token: str) -> bool:
        try:
            with open(self._lock()) as f:
                return f.read().split(" ", 1)[0] == token
        except OSError:
            return False

    def _release(self, token: str) -> None:
        # Never remove a lock stolen from us.  The ownership read alone
        # is check-then-remove: an owner that reads "ours", then stalls
        # past the stale window before the os.remove, can unlink a
        # STEALER's freshly created lock and let a third writer in.  So
        # remove only while the hold time is safely inside the stale
        # window (a steal requires mtime age > _stale_s, so at < 1/2 the
        # window the lock provably cannot have been stolen yet unless we
        # stall another _stale_s/2 in the next few instructions).  A
        # long-held lock is left in place for the atomic rename-steal
        # path to reap — liveness is preserved, and we never risk
        # unlinking another writer's live lock.
        held = time.monotonic() - self._acq_at.pop(token, float("-inf"))
        if held < self._stale_s * 0.5 and self._owns(token):
            try:
                os.remove(self._lock())
            except OSError:
                pass

    # -- the commit point
    def _flip_pointer(self, name: str, expected: str | None,
                      payload: str | None) -> None:
        """Shared CAS tail of commit (payload given: persist it first)
        and publish (payload None: the object must already be staged):
        verify CURRENT == expected under the lock, optionally write the
        snapshot object, re-verify lock ownership, flip the pointer."""
        token = self._acquire()
        try:
            actual = self.current()
            if actual != expected:
                raise ConcurrentCommitError(
                    f"CURRENT at {self.path} is {actual!r}, expected "
                    f"{expected!r}: another writer committed; re-read "
                    "and retry")
            if payload is not None:
                tmp = os.path.join(self.snap_dir,
                                   name + f".tmp-{uuid.uuid4().hex}")
                with open(tmp, "w") as f:
                    f.write(payload)
                # Snapshot names are unique per attempt
                # (EncodedTable.commit appends a random token), so even
                # a stalled loser's replace below can only create an
                # ORPHAN file — never overwrite a winner's committed
                # snapshot.  The ownership re-verify before the pointer
                # flip is what keeps a stolen-lock loser from flipping
                # CURRENT itself; a stall in the microseconds between
                # the check and the replace remains the documented
                # POSIX residual (object-store backends have none: the
                # conditional PUT is the whole CAS).
                os.replace(tmp, os.path.join(self.snap_dir, name))
            cur_tmp = os.path.join(self.path,
                                   f"CURRENT.tmp-{uuid.uuid4().hex}")
            with open(cur_tmp, "w") as f:
                f.write(name)
            if not self._owns(token):
                try:
                    os.remove(cur_tmp)
                except OSError:
                    pass
                raise ConcurrentCommitError(
                    f"commit lock at {self.path} was stolen (writer "
                    "stalled past the stale window); re-read and retry")
            os.replace(cur_tmp, os.path.join(self.path, "CURRENT"))
        finally:
            self._release(token)

    def commit(self, name: str, payload: str,
               expected: str | None) -> None:
        os.makedirs(self.snap_dir, exist_ok=True)
        self._flip_pointer(name, expected, payload)

    def stage(self, name: str, payload: str) -> None:
        # unique-per-attempt names need no lock: a stage can only
        # create a new object, never clobber a committed one
        os.makedirs(self.snap_dir, exist_ok=True)
        tmp = os.path.join(self.snap_dir, name + f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            f.write(payload)
        os.replace(tmp, os.path.join(self.snap_dir, name))

    def publish(self, name: str, expected: str | None) -> None:
        # the staged object must exist before the pointer can name it
        if not os.path.exists(os.path.join(self.snap_dir, name)):
            raise ValueError(f"cannot publish {name!r}: not staged")
        self._flip_pointer(name, expected, None)


class ConditionalPutCommitBackend(CommitBackend):
    """The documented object-store contract, exercised locally: every
    write is a PUT-IF-ABSENT of an immutable object, emulated with
    os.link of a fully-written unique temp onto the target name — the
    POSIX rendering of S3 ``If-None-Match: *`` / GCS
    ``x-goog-if-generation-match: 0``.

    The pointer is not a mutated file but a chain of immutable
    GENERATION objects ``ptr/gen-%016d`` whose content is the snapshot
    name; ``current()`` reads the highest generation.  ``commit``
    verifies the head value equals ``expected`` and then attempts to
    create generation ``head+1`` — of N racing writers with the same
    expected head exactly one link() succeeds, the rest get
    FileExistsError => ConcurrentCommitError.  There is NO lock object,
    hence no stale-lock state and no steal window: a writer killed at
    ANY instruction leaves at most an orphan temp/payload, never a
    half-flipped pointer, and blocks nobody (kill-schedule
    stress-tested).  This is the semantics an S3/GCS/catalog backend
    inherits by swapping the link() for the real conditional PUT."""

    def __init__(self, path: str):
        self.path = path
        self.snap_dir = os.path.join(path, "snapshots")
        self.ptr_dir = os.path.join(path, "ptr")

    def _head(self) -> tuple[int, str | None]:
        try:
            gens = [n for n in os.listdir(self.ptr_dir)
                    if n.startswith("gen-")]
        except FileNotFoundError:
            return 0, None
        if not gens:
            return 0, None
        top = max(gens)
        with open(os.path.join(self.ptr_dir, top)) as f:
            return int(top[4:]), f.read().strip()

    def current(self) -> str | None:
        return self._head()[1]

    def read(self, name: str) -> str:
        with open(os.path.join(self.snap_dir, name)) as f:
            return f.read()

    def _put_if_absent(self, directory: str, name: str,
                       payload: str) -> bool:
        """Atomically create directory/name with payload; False if the
        object already exists (the conditional-PUT failure)."""
        os.makedirs(directory, exist_ok=True)
        tmp = os.path.join(directory, f".put-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            f.write(payload)
        try:
            os.link(tmp, os.path.join(directory, name))
            return True
        except FileExistsError:
            return False
        finally:
            try:
                os.remove(tmp)
            except OSError:
                pass

    def commit(self, name: str, payload: str,
               expected: str | None) -> None:
        gen, actual = self._head()
        if actual != expected:
            raise ConcurrentCommitError(
                f"pointer head at {self.path} is {actual!r}, expected "
                f"{expected!r}: another writer committed; re-read and "
                "retry")
        # snapshot names are unique per attempt, so a collision here
        # means a duplicated name, not a race — surface it
        if not self._put_if_absent(self.snap_dir, name, payload):
            raise ConcurrentCommitError(
                f"snapshot object {name!r} already exists")
        if not self._put_if_absent(self.ptr_dir, f"gen-{gen + 1:016d}",
                                   name):
            raise ConcurrentCommitError(
                f"generation {gen + 1} at {self.path} was taken by a "
                "concurrent writer; re-read and retry")

    def stage(self, name: str, payload: str) -> None:
        # the object-store rendering is literally a conditional PUT of
        # the immutable snapshot object — no pointer involved at all
        if not self._put_if_absent(self.snap_dir, name, payload):
            raise ConcurrentCommitError(
                f"snapshot object {name!r} already exists")

    def publish(self, name: str, expected: str | None) -> None:
        if not os.path.exists(os.path.join(self.snap_dir, name)):
            raise ValueError(f"cannot publish {name!r}: not staged")
        gen, actual = self._head()
        if actual != expected:
            raise ConcurrentCommitError(
                f"pointer head at {self.path} is {actual!r}, expected "
                f"{expected!r}: another writer committed; re-read and "
                "retry")
        if not self._put_if_absent(self.ptr_dir, f"gen-{gen + 1:016d}",
                                   name):
            raise ConcurrentCommitError(
                f"generation {gen + 1} at {self.path} was taken by a "
                "concurrent writer; re-read and retry")


class EncodedTable:
    """Driver-side handle to a committed encoded table."""

    def __init__(self, path: str, backend: CommitBackend | None = None):
        self.path = path
        self.data_dir = os.path.join(path, "data")
        self.snap_dir = os.path.join(path, "snapshots")
        self.backend = backend or PosixCommitBackend(path)

    def _load_snapshot(self, name: str) -> dict:
        snap = json.loads(self.backend.read(name))
        # the ACTUAL stored name rides along (underscore key, never
        # serialized) so a later commit can CAS against it — snapshot
        # file names are unique per attempt, not derivable from the id
        snap["_snap_name"] = name
        ver = snap.get("format_version", 1)
        if ver not in _SUPPORTED_VERSIONS:
            raise ValueError(
                f"table {self.path} was written with manifest format "
                f"version {ver}; this build supports {_SUPPORTED_VERSIONS} "
                "— upgrade the library to read it")
        return snap

    def current_snapshot(self) -> dict | None:
        name = self.backend.current()
        if name is None:
            return None
        return self._load_snapshot(name)

    def _expired_names(self) -> set[str]:
        """Union of snapshot names recorded by `expire_snapshots`
        tombstones (snapshots/expired-*.json) — the marker that lets
        chain walks distinguish 'history legitimately truncated here'
        from 'snapshot object lost' (which stays a loud error).
        Cached per handle; tombstones are append-only."""
        cached = getattr(self, "_expired_cache", None)
        if cached is not None:
            return cached
        names: set[str] = set()
        try:
            entries = sorted(os.listdir(self.snap_dir))
        except OSError:
            entries = []
        for name in entries:
            if not (name.startswith("expired-") and name.endswith(".json")):
                continue
            try:
                with open(os.path.join(self.snap_dir, name)) as f:
                    names.update(json.load(f).get("expired", []))
            except (OSError, ValueError):
                continue
        self._expired_cache = names
        return names

    def _parent_of(self, snap: dict) -> dict | None:
        """The committed parent of `snap`, or None at the chain root —
        or at the EXPIRY FLOOR: a parent whose object is gone but whose
        name is recorded by an `expire_snapshots` tombstone reads as
        end-of-history, not corruption.

        New snapshots record `parent_name` (the exact stored file of
        the snapshot they CAS'd against), which disambiguates the true
        ancestor from any same-id orphan a losing racer left behind.
        Legacy snapshots fall back to the old deterministic name, then
        to a UNIQUE id match in the snapshots dir — ambiguity fails
        loudly rather than guessing a lineage."""
        pid = snap.get("parent_id")
        if pid is None:
            return None
        pname = snap.get("parent_name")
        if pname:
            try:
                return self._load_snapshot(pname)
            except (OSError, ValueError):
                if pname in self._expired_names():
                    return None
                raise
        det = f"snap-{pid:06d}.json"
        try:
            return self._load_snapshot(det)
        except (OSError, ValueError, KeyError):
            pass
        # tombstones outrank the unique-candidate shortcut: when the
        # TRUE parent was expired, a same-id file that survived can
        # only be a losing racer's orphan (on-chain names are deleted
        # at tombstone time) — adopting it would silently graft a
        # never-published lineage onto history
        if any(n.startswith(f"snap-{pid:06d}") for n in
               self._expired_names()):
            return None
        try:
            cands = [n for n in sorted(os.listdir(self.snap_dir))
                     if n.startswith(f"snap-{pid:06d}-")]
        except OSError:
            cands = []
        if len(cands) == 1:
            return self._load_snapshot(cands[0])
        raise ValueError(
            f"cannot resolve parent snapshot {pid} of "
            f"{snap['snapshot_id']} at {self.path}: "
            f"{'ambiguous candidates ' + str(cands) if cands else 'not found'}"
            " (legacy snapshot without parent_name)")

    def snapshot_at(self, snapshot_id: int) -> dict:
        """Time travel: resolve `snapshot_id` by walking CURRENT's
        ancestor chain (Iceberg-style snapshot isolation — every commit
        keeps the full part manifest, and compaction/relocation never
        mutate or delete parent data files).  Readable until
        `vacuum_table` reclaims files the CURRENT snapshot no longer
        references.  Raises if the id is not an ancestor of CURRENT
        (e.g. a lost racer's orphan)."""
        snap = self.current_snapshot()
        if snap is None:
            raise ValueError(f"no committed snapshot at {self.path}")
        while snap is not None and snap["snapshot_id"] != snapshot_id:
            snap = self._parent_of(snap)
        if snap is None:
            raise ValueError(
                f"snapshot {snapshot_id} is not an ancestor of CURRENT "
                f"at {self.path}")
        return snap

    def history(self) -> list[dict]:
        """CURRENT's ancestor chain, oldest → newest.  Driver-sized:
        one manifest dict per commit (snapshot count, not data size)."""
        out = []
        snap = self.current_snapshot()
        while snap is not None:
            out.append(snap)
            snap = self._parent_of(snap)
        out.reverse()
        return out

    def committed_parts(self, snap: dict | None = None) -> dict[str, dict]:
        snap = snap or self.current_snapshot()
        return snap["parts"] if snap else {}

    def schema(self, snap: dict | None = None) -> pa.Schema | None:
        snap = snap or self.current_snapshot()
        if not snap or not snap.get("schema_ipc_b64"):
            return None
        return pa.ipc.read_schema(
            pa.BufferReader(base64.b64decode(snap["schema_ipc_b64"])))

    def _current_name(self) -> str | None:
        return self.backend.current()

    def commit(self, parts: dict[str, dict], schema_ipc: bytes | None,
               parent: dict | None, meta: dict | None = None) -> dict:
        """Write snapshot json, then flip CURRENT atomically (commit
        point).  Compare-and-swap through the pluggable CommitBackend:
        refuses with ConcurrentCommitError when CURRENT no longer names
        `parent` (another writer committed since this writer planned
        against it).

        Snapshot file names are UNIQUE PER ATTEMPT (snapshot id + a
        random token): two racing commits with the same parent can
        never write the same file, so even a pathologically stalled
        loser can only leave an orphan json behind — it cannot
        overwrite the winner's committed snapshot content (the same
        rationale as unique data-file names; the CAS identity is
        carried solely by the CURRENT pointer's value)."""
        snap, name, expected = self._build_snapshot(parts, schema_ipc,
                                                    parent, meta)
        self.backend.commit(name, json.dumps(snap), expected)
        snap["_snap_name"] = name  # chained commits CAS against this
        return snap

    def _build_snapshot(self, parts: dict[str, dict],
                        schema_ipc: bytes | None, parent: dict | None,
                        meta: dict | None):
        os.makedirs(self.path, exist_ok=True)
        sid = (parent["snapshot_id"] + 1) if parent else 0
        snap = {
            "snapshot_id": sid,
            "format_version": FORMAT_VERSION,
            "parent_id": parent["snapshot_id"] if parent else None,
            # the parent's exact stored name: time travel walks this,
            # never the ambiguous id (losers' orphans share the id)
            "parent_name": (parent.get("_snap_name") if parent else None),
            "committed_at": time.time(),
            "schema_ipc_b64": base64.b64encode(schema_ipc).decode()
            if schema_ipc else (parent or {}).get("schema_ipc_b64"),
            "meta": meta or {},
            "parts": parts,
        }
        name = f"snap-{sid:06d}-{uuid.uuid4().hex[:8]}.json"
        if parent is None:
            expected = None
        else:
            # parent carries its actual stored name; legacy snapshots
            # (read by an older build or hand-constructed) fall back to
            # the old deterministic naming
            expected = parent.get("_snap_name") or \
                f"snap-{parent['snapshot_id']:06d}.json"
        return snap, name, expected

    def stage_commit(self, parts: dict[str, dict],
                     schema_ipc: bytes | None, parent: dict | None,
                     meta: dict | None = None) -> dict:
        """Persist a snapshot WITHOUT publishing it (the staged half of
        write-audit-publish): the object lands in the snapshot store,
        CURRENT never moves, and only a branch ref makes it reachable.
        No CAS — unique names cannot conflict; the race is resolved at
        publish time instead."""
        snap, name, _ = self._build_snapshot(parts, schema_ipc,
                                             parent, meta)
        self.backend.stage(name, json.dumps(snap))
        snap["_snap_name"] = name
        return snap

    def data_files(self, snap: dict | None = None) -> list[str]:
        return [p["file"] for p in self.committed_parts(snap).values()]

    def meta(self, snap: dict | None = None) -> dict:
        snap = snap or self.current_snapshot()
        return snap.get("meta", {}) if snap else {}

    def mappings(self) -> dict[str, str]:
        """Physical->logical column names from type-collision splits
        (reference: the `Mappings` JSON in file custom metadata,
        /root/reference/Parquet.Core/Fragment.cs:117-125,
        Doc/Schema/1.0.0.md:8).  Persisted in the snapshot so a cold
        reader of a merged table can recover logical names."""
        return self.meta().get("mappings", {})


def _layout_of(snap: dict | None) -> dict | None:
    """The resume-identity fingerprint of a committed snapshot: which
    writer mode produced the part-id namespace and with what key."""
    if snap is None:
        return None
    meta = snap.get("meta", {})
    if "layout" in meta:
        return meta["layout"]
    # legacy v1 snapshots: reconstruct what we can from the old meta
    if meta.get("mode") == "splits":
        return {"mode": "splits", "rows_per_chunk": meta.get("rows_per_chunk")}
    if "compacted_from" in meta:
        return {"mode": "compacted"}
    if "key" in meta:
        return {"mode": "hash", "key": meta.get("key"),
                "n_parts": meta.get("n_parts"),
                "rows_per_chunk": meta.get("rows_per_chunk")}
    return None


def _check_resume_layout(snap: dict | None, want: dict, table_path: str):
    """Refuse to resume onto a snapshot whose part-id namespace was
    produced by a different writer mode/key — resuming across layouts
    silently skips or duplicates rows (the part ids mean different
    things).  Compaction also renumbers ids, so compacted tables are
    terminal for resume."""
    have = _layout_of(snap)
    if have is None:
        return
    if have.get("mode") == "compacted" or have != want:
        raise ValueError(
            f"cannot resume onto {table_path}: committed layout {have} != "
            f"requested {want}; part ids are not comparable across layouts "
            "(write to a fresh table, or decode+re-encode)")


_GDICT_MAX_META = 65_536  # a global dict lives in the snapshot manifest


_RANGE_SAMPLE_MAX = 100_000  # boundary-sample rows collected to driver


def _range_boundaries(df: DataFrame, col: str, n_parts: int) -> list:
    """n_parts-1 split points for explicit range partitioning on `col`
    (north rule: "explicit range partitioning on url-hash").  A capped
    sample is rank-sliced on the driver; the boundaries are then FROZEN
    in the layout, so resume and later append epochs re-derive the
    exact same part for every row no matter how the input grew."""
    t = dict(df.dtypes)[col]
    if not (t == "string" or t in ("bigint", "int", "smallint", "tinyint",
                                   "double", "float")):
        raise TypeError(
            f"range layout needs a string or numeric key; {col!r} is {t} "
            "(range-partition on a derived numeric — e.g. a url hash — "
            "instead)")
    src = df.select(F.col(col).alias("k")).where(F.col("k").isNotNull())
    n = src.count()
    if n == 0:
        return []
    frac = min(1.0, _RANGE_SAMPLE_MAX / n)
    sample = sorted(r.k for r in src.sample(False, frac, seed=42).collect())
    if not sample:
        sample = sorted(r.k for r in src.limit(1024).collect())
    return [sample[min(len(sample) - 1, (i * len(sample)) // n_parts)]
            for i in range(1, n_parts)]


def _murmur3_hash_int(i: int, seed: int = 42) -> int:
    """Spark's Murmur3_x86_32.hashInt (the hash behind F.hash and
    HashPartitioning), as a signed 32-bit int."""
    def rotl(x: int, r: int) -> int:
        return ((x << r) | (x >> (32 - r))) & 0xFFFFFFFF
    k = (rotl((i * 0xCC9E2D51) & 0xFFFFFFFF, 15) * 0x1B873593) & 0xFFFFFFFF
    h = rotl(seed ^ k, 13)
    h = ((h * 5 + 0xE6546B64) & 0xFFFFFFFF) ^ 4  # fmix(h, length=4)
    h = ((h ^ (h >> 16)) * 0x85EBCA6B) & 0xFFFFFFFF
    h = ((h ^ (h >> 13)) * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h - (1 << 32) if h >> 31 else h


def _one_part_per_task(df: DataFrame, part_col: str, n_parts: int,
                       part_offset: int = 0) -> DataFrame:
    """Exchange that sends part p (p - part_offset in [0, n_parts)) to
    task p - part_offset: a plain hash exchange on an int tag per part,
    where tag(slot) is the smallest int Spark's HashPartitioning
    (murmur3 seed 42, pmod n_parts) sends to that slot.  Unlike
    repartitionByRange on the part id it runs no sampling job over the
    input and never packs two parts onto one task; AQE leaves it alone
    (repartition by number is never coalesced).  Writers still group
    rows by the part column, so a mismatch could only unbalance tasks,
    never misplace rows."""
    tags: list[int | None] = [None] * n_parts
    left, t = n_parts, 0
    while left:
        slot = _murmur3_hash_int(t) % n_parts
        if tags[slot] is None:
            tags[slot], left = t, left - 1
        t += 1
    idx = (F.col(part_col) - F.lit(part_offset) + 1).cast("int")
    return df.repartition(
        n_parts, F.element_at(F.array(*[F.lit(x) for x in tags]), idx))


def _placed_frame(df: DataFrame, layout: dict,
                  part_offset: int = 0) -> DataFrame:
    """df plus its `_part` column under `layout` (FORMAT.md placement:
    hash, range or zorder), exchanged one part per task and sorted by
    (_part, order key) within each task.  Resume needs a stable,
    FILTERABLE part id, so (unlike the plain encode_table hot path)
    the part is an explicit column."""
    mode, key, n_parts = layout["mode"], layout["key"], layout["n_parts"]
    boundaries = layout.get("boundaries")

    def _boundary_group(order_col):
        if not boundaries:
            return F.lit(0)
        # part = #boundaries below the order value: O(n_parts)
        # comparisons per row inside codegen (nulls land in part 0)
        barr = F.array(*[F.lit(b) for b in boundaries])
        return F.aggregate(
            barr, F.lit(0),
            lambda acc, b: acc + F.when(order_col > b, 1).otherwise(0))

    if mode == "zorder":
        from .engine import zorder_value
        df = df.withColumn("_zval", zorder_value(
            df, key, bits=layout["zorder_bits"],
            stats=layout["zorder_stats"]))
        order, part = ["_zval"], _boundary_group(F.col("_zval"))
    elif mode == "range":
        order, part = key, _boundary_group(F.col(key[0]))
    else:
        order, part = key, F.pmod(F.xxhash64(*key), F.lit(n_parts))
    dfp = (_one_part_per_task(df.withColumn("_part",
                                            part + F.lit(part_offset)),
                              "_part", n_parts, part_offset)
           .sortWithinPartitions("_part", *order))
    # the z-value is a transient sort key, never stored
    return dfp.drop("_zval") if mode == "zorder" else dfp


def write_encoded(df: DataFrame, table_path: str,
                  key: list[str] | None = None, n_parts: int | None = None,
                  codec: str = "auto",
                  rows_per_chunk: int = DEFAULT_ROWS_PER_CHUNK,
                  limit_parts: int | None = None,
                  part_offset: int = 0,
                  mappings: dict[str, str] | None = None,
                  block_codec: str = "auto",
                  global_dict_cols: list[str] | None = None,
                  bloom_cols: list[str] | None = None,
                  mode: str = "hash",
                  replace: bool = False,
                  branch: str | None = None,
                  auto_tune: "bool | int" = False,
                  backend: CommitBackend | None = None) -> dict:
    """Encode df into the table, committing a new snapshot. Resumable.

    `branch="name"` targets a WAP (write-audit-publish) branch instead
    of the published table: the snapshot is STAGED (CURRENT never
    moves), the named branch ref is pointed at it, and readers see it
    only via `ref="name"`.  The branch forks from CURRENT on its first
    staged commit and chains on its own head afterwards; audit the
    staged data through `read_decoded/scan_table(..., ref=...)`, then
    `publish_branch` fast-forwards CURRENT to the audited head
    atomically (or `drop_ref` abandons it — vacuum reclaims the staged
    parts once unreferenced).

    `replace=True` commits df as the table's ENTIRE new contents under
    this call's layout — the atomic overwrite used by layout evolution
    (`recluster_table`): the resume-layout check is skipped, no
    committed part is reused or carried, parent dictionaries / pending
    deletes / frozen boundaries are NOT inherited (the new epoch
    derives its own), and the snapshot chains to the parent so time
    travel to the old layout keeps working until vacuum.  Incompatible
    with `limit_parts`/`part_offset` (a partial replace would commit a
    snapshot missing rows).

    `bloom_cols` builds a per-chunk Bloom filter over the named
    string/binary columns (engine.encode_chunk) so equality/IN scans
    via scan_table/scan_filtered prune chunks zone ranges can't; part
    of the layout fingerprint, so a resume can't silently produce a
    half-bloom-indexed table.

    Parts map to tasks one to one: the layout exchange has n_parts
    tasks and task i encodes and writes part `part_offset + i` as one
    part file (_one_part_per_task), so no task carries two parts and no
    extra job samples the input to place them.

    Partitions already present in the CURRENT snapshot are skipped (the
    filter on `_part` prunes them before any encoding work). `limit_parts`
    caps how many new partitions this run encodes (incremental backfill /
    crash-simulation hook) — the commit is still atomic.  `part_offset`
    shifts this batch's part-id range (streaming: epoch k writes parts
    [k*n_parts, (k+1)*n_parts) — re-delivered epochs become no-ops, so
    the sink is exactly-once under Structured Streaming checkpointing).
    Resume refuses a table whose committed layout (writer mode, key,
    n_parts, chunk size) differs from this call — mismatched part-id
    namespaces would silently skip or duplicate rows.

    `mappings` persists physical->logical names from merge_tables'
    type-collision renames into the snapshot (reference Mappings
    metadata, Fragment.cs:117-125).

    `global_dict_cols` stores the named columns as GLOBAL-dictionary
    int ids inside the encoded chunks: one table-wide dense dictionary
    per column (reference 0.8-uniqueness gate at table scope,
    ParquetResultListener.cs:45), persisted in the snapshot meta and
    transparently restored to strings by `read_decoded`.  The value
    list lives in the manifest, so cardinality is capped at 65536 —
    bigger dictionaries belong to the standalone dictionary API.  The
    application join is an explicit broadcast (the big side never
    shuffles); on RESUME the committed dictionary is reused and new
    values it lacks fail loudly (silently null-ing them would lose
    data).

    `auto_tune` (stats-driven writes): profile a bounded sample of df
    with :func:`stats.analyze_df` and adopt
    :func:`stats.suggest_write_options`'s picks for whichever of
    `key` / `global_dict_cols` the caller left unset — explicit
    arguments always win.  True caps the profiling pass at 65536 rows
    via limit(); pass an int to size the cap yourself (limit() reads
    the plan's head, so feed a bigger cap or pre-shuffled input when
    the head is unrepresentative).  On RESUME/append the committed
    layout governs instead — nothing is re-analyzed, so a sample that
    would disagree with the first commit cannot refuse the append."""
    from .codecs.column import validate_block_codec
    validate_block_codec(block_codec)
    spark = df.sparkSession
    table = EncodedTable(table_path, backend=backend)
    parent = table.current_snapshot()
    if branch is not None:
        refs = list_refs(table_path)
        if branch in refs:
            if refs[branch].get("kind") != "branch":
                raise ValueError(f"ref {branch!r} is a tag; tags are "
                                 "immutable audit pins, not write "
                                 "targets")
            # chain on the branch's own head
            parent = table._load_snapshot(refs[branch]["snap_name"])
        # else: first staged commit forks from CURRENT (parent as read)
    if replace and (limit_parts is not None or part_offset):
        raise ValueError("replace=True commits the full table in one "
                         "snapshot; limit_parts/part_offset would make "
                         "it a silent partial overwrite")
    done = (set() if replace
            else set(map(int, table.committed_parts(parent).keys())))
    # the parent state a REPLACE inherits is lineage only: layout,
    # dictionaries and deletes all restart in the new epoch
    pmeta = {} if replace or parent is None else (parent.get("meta") or {})

    if auto_tune:
        committed_layout = None if replace else _layout_of(parent)
        if committed_layout is None:
            cap = 65536 if auto_tune is True else int(auto_tune)
            from .stats import analyze_df, suggest_write_options
            sug = suggest_write_options(analyze_df(df.limit(cap)))
            if key is None and sug.get("key"):
                key = sug["key"]
            if global_dict_cols is None and sug.get("global_dict_cols"):
                global_dict_cols = sug["global_dict_cols"]
        else:
            # resume: committed choices ARE the tuning; re-deriving
            # from a fresh sample could disagree and refuse the append
            if key is None:
                key = committed_layout.get("key")
            if global_dict_cols is None:
                global_dict_cols = committed_layout.get(
                    "global_dict_cols") or None
    key = key or [df.columns[0]]
    n_parts = n_parts or spark.sparkContext.defaultParallelism
    if mode not in ("hash", "range", "zorder"):
        raise ValueError(
            f"mode must be 'hash', 'range' or 'zorder', got {mode!r}")
    layout = {"mode": mode, "key": key, "n_parts": n_parts,
              "rows_per_chunk": rows_per_chunk}
    playout = None if replace else _layout_of(parent)
    if mode == "range":
        # explicit range partitioning on key[0] (north rule).  Parts
        # own DISJOINT key ranges, so the per-part zone summaries let
        # the driver prune whole files on key predicates.  Boundaries
        # freeze at the FIRST commit: resume and append epochs re-derive
        # the same placement (_range_boundaries docstring).
        if playout and playout.get("mode") == "range" \
                and playout.get("boundaries") is not None:
            boundaries = playout["boundaries"]
        else:
            boundaries = _range_boundaries(df, key[0], n_parts)
        layout["boundaries"] = boundaries
    elif mode == "zorder":
        # Z-order clustered layout: parts own disjoint MORTON-KEY
        # ranges over 2-4 numeric/timestamp key columns, so a box
        # predicate on any subset prunes whole FILES (the engine-level
        # zorder_table gives only chunk-level pruning).  Cell stats and
        # z-value boundaries freeze at the first commit, exactly like
        # range boundaries.
        from .engine import zorder_stats, zorder_value
        if playout and playout.get("mode") == "zorder" \
                and playout.get("boundaries") is not None:
            zo_stats = playout["zorder_stats"]
            zo_bits = playout["zorder_bits"]
            boundaries = playout["boundaries"]
        else:
            zo_bits = 62 // len(key)
            zo_stats = zorder_stats(df, key)
            zv = zorder_value(df, key, bits=zo_bits, stats=zo_stats)
            boundaries = _range_boundaries(
                df.select(zv.alias("_zval")), "_zval", n_parts)
        layout["zorder_stats"] = zo_stats
        layout["zorder_bits"] = zo_bits
        layout["boundaries"] = boundaries
    if global_dict_cols:
        layout["global_dict_cols"] = sorted(global_dict_cols)
    if bloom_cols:
        overlap = sorted(set(bloom_cols) & set(global_dict_cols or []))
        if overlap:
            raise ValueError(
                f"columns {overlap} are in both bloom_cols and "
                "global_dict_cols; dict columns already prune equality "
                "via the id translation in scan_table — drop them from "
                "bloom_cols")
        layout["bloom_cols"] = sorted(bloom_cols)
    if not replace:
        _check_resume_layout(parent, layout, table_path)

    global_dicts: dict[str, list] = {}
    gdict_fallback: dict[str, str] = {}
    if global_dict_cols:
        from .dictionary import apply_global_dict, build_global_dict
        committed_dicts = pmeta.get("global_dicts") or {}
        committed_fb = pmeta.get("global_dict_fallback") or {}
        orig_cols = list(df.columns)
        for c in global_dict_cols:
            if c in committed_fb:
                # resume consistency: committed chunks hold RAW values
                # for this column (earlier run fell back), so later
                # batches must too — even if this batch's cardinality
                # would now fit under the cap
                gdict_fallback[c] = committed_fb[c]
                continue
            if c in committed_dicts:
                # resume: ids must stay consistent with committed chunks
                vals = committed_dicts[c]
                gd = spark.createDataFrame(
                    [(i, v) for i, v in enumerate(vals)],
                    "dict_id int, value string")
                missing = (df.select(F.col(c).alias("value")).where(
                    F.col("value").isNotNull()).distinct()
                    .join(gd, "value", "left_anti").count())
                if missing:
                    raise ValueError(
                        f"resume with global_dict_cols: column {c!r} has "
                        f"{missing} values absent from the committed "
                        "dictionary; decode + re-encode into a fresh "
                        "table (ids are frozen at first commit)")
            else:
                why: dict = {}
                gd = build_global_dict(df, c,
                                       max_cardinality=_GDICT_MAX_META,
                                       reason_out=why)
                if gd is None:
                    reason = why.get("reason", "")
                    if reason.startswith("cardinality"):
                        # graceful over-cap fallback: the caller asked
                        # for compression, not a crash — store the
                        # column raw and let the per-chunk codec
                        # selector dict-encode each chunk locally; the
                        # lineage note below records the downgrade
                        warnings.warn(
                            f"global_dict_cols: column {c!r} exceeds "
                            f"the manifest dictionary cap ({reason}); "
                            "falling back to per-chunk dictionary "
                            "encoding (recorded in snapshot meta "
                            "'global_dict_fallback')", RuntimeWarning,
                            stacklevel=2)
                        gdict_fallback[c] = reason
                        continue
                    raise ValueError(
                        f"column {c!r} fails the global-dict gate "
                        f"({reason}; cap {_GDICT_MAX_META})")
                vals = [r.value for r in gd.orderBy("dict_id").collect()]
            global_dicts[c] = vals
            df = (apply_global_dict(df, c, gd)
                  .withColumnRenamed(c + "_id", c))
        df = df.select(*orig_cols)  # ids sit in the original column slots
    dfp = _placed_frame(df, layout, part_offset)
    todo = [p for p in range(part_offset, part_offset + n_parts)
            if p not in done]
    if limit_parts is not None:
        todo = todo[:limit_parts]
    if done or limit_parts is not None or part_offset:
        dfp = dfp.where(F.col("_part").isin(todo))

    data_dir = os.path.join(table_path, "data")
    os.makedirs(data_dir, exist_ok=True)
    schema_holder: list[bytes] = []
    # unique per write attempt: concurrent writers to one table must not
    # share file names, or the loser of the CAS race can have already
    # os.replace'd bytes under a name the WINNER's snapshot references
    # (Iceberg's optimistic concurrency likewise requires unique data
    # file names; the CAS on CURRENT alone cannot protect shared paths)
    token = uuid.uuid4().hex[:12]

    def writer(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        pending: dict[int, dict] = {}

        def drain(st: dict, pid: int, final: bool):
            """Materialize full rows_per_chunk chunks from the buffer
            (chunk size is a writer-side knob, independent of the Arrow
            batch configuration); `final` flushes the tail too."""
            full, st["buf"], st["buffered"] = take_full_batches(
                st["buf"], st["buffered"], rows_per_chunk, final)
            for head in full:
                st["chunks"].append(
                    encode_chunk(head, pid, len(st["chunks"]), codec,
                                 st["plan"] if codec == "auto" else None,
                                 zone_key=key[0], block_codec=block_codec,
                                 bloom_cols=bloom_cols))

        def flush(pid: int) -> pa.RecordBatch:
            st = pending.pop(pid)
            drain(st, pid, final=True)
            tbl = pa.Table.from_batches(
                [_chunk_rows_to_batch(st["chunks"])])
            final = os.path.join(data_dir,
                                 f"part-{pid:05d}-{token}.parquet")
            fhash = write_part_atomic(tbl, final)
            codec_mix = sorted({c for ch in st["chunks"] for c in ch["codecs"]})
            return pa.RecordBatch.from_pylist([{
                "part_id": pid, "file": final,
                "n_chunks": len(st["chunks"]),
                "n_rows": int(sum(c["n_rows"] for c in st["chunks"])),
                "bytes_in": int(sum(sum(c["bytes_in"]) for c in st["chunks"])),
                "bytes_out": int(sum(sum(c["bytes_out"]) for c in st["chunks"])),
                "wall_ms": (time.monotonic() - st["t0"]) * 1000.0,
                "codecs": ",".join(codec_mix),
                "zones": part_zone_summary(st["chunks"]),
                "file_hash": fhash,
            }])

        for batch in batches:
            parts = batch.column("_part").to_numpy()
            data = batch.drop_columns(["_part"])
            edges = np.flatnonzero(parts[1:] != parts[:-1]) + 1
            bounds = np.concatenate(([0], edges, [len(parts)]))
            for lo, hi in zip(bounds[:-1], bounds[1:]):
                pid = int(parts[lo])
                # input is sorted by _part: any pending pid < pid is complete
                for done_pid in [p for p in pending if p < pid]:
                    yield flush(done_pid)
                st = pending.setdefault(
                    pid, {"chunks": [], "buf": [], "buffered": 0,
                          "plan": {}, "t0": time.monotonic()})
                st["buf"].append(data.slice(lo, hi - lo))
                st["buffered"] += hi - lo
                drain(st, pid, final=False)
        for pid in list(pending):
            yield flush(pid)

    lineage = dfp.mapInArrow(writer, LINEAGE_DDL).collect()

    schema_ipc = None
    if lineage:
        # original data schema from a chunk row of the first written file
        t = pq.read_table(lineage[0].file, columns=["schema_ipc"])
        if t.num_rows:
            schema_ipc = t.column(0)[0].as_py()
    if schema_ipc is not None and parent is not None and not replace:
        prev = table.schema(parent)
        if prev is not None:
            new = pa.ipc.read_schema(pa.BufferReader(schema_ipc))
            if pmeta.get("renames") is not None \
                    and [f.name for f in new] != [f.name for f in prev]:
                # the table's schema was evolved by alter_table:
                # committing an append batch with a DIFFERENT column
                # set would silently revert the evolution
                raise ValueError(
                    "append schema does not match the evolved table "
                    f"schema: batch has {[f.name for f in new]}, table "
                    f"has {[f.name for f in prev]} (alter_table "
                    "evolution applies to appends too — supply every "
                    "current column)")
            # an APPEND batch may carry stricter nullability (e.g. a
            # literal-filled column): committing its schema verbatim
            # would declare old null-bearing chunks non-nullable and
            # crash decode — unify per-field nullability instead
            if [f.name for f in new] == [f.name for f in prev]:
                unified = pa.schema(
                    [f.with_nullable(f.nullable or prev.field(i).nullable)
                     for i, f in enumerate(new)])
                schema_ipc = unified.serialize().to_pybytes()

    parts = {} if replace else dict(table.committed_parts(parent))
    for row in lineage:
        parts[str(row.part_id)] = {
            "file": row.file, "n_chunks": row.n_chunks, "n_rows": row.n_rows,
            "bytes_in": row.bytes_in, "bytes_out": row.bytes_out,
            "wall_ms": row.wall_ms, "codecs": row.codecs,
            "zones": json.loads(row.zones) if row.zones else {},
            "file_hash": row.file_hash,
        }
    meta = {"key": key, "n_parts": n_parts, "codec": codec,
            "block_codec": block_codec,
            "rows_per_chunk": rows_per_chunk, "layout": layout,
            "new_parts": sorted(int(r.part_id) for r in lineage)}
    if mappings is None:
        mappings = pmeta.get("mappings")
    if mappings:
        meta["mappings"] = mappings
    if global_dicts:
        meta["global_dicts"] = global_dicts
    elif pmeta.get("global_dicts"):
        meta["global_dicts"] = pmeta["global_dicts"]
    if gdict_fallback:
        meta["global_dict_fallback"] = gdict_fallback
    # pending equality deletes survive an append commit — dropping the
    # list here would RESURRECT deleted rows on the next read.  A
    # replace does NOT carry them (pmeta is empty): the caller commits
    # the table's entire new contents, deletes included or applied.
    for carry in ("delete_files", "n_deleted"):
        if pmeta.get(carry):
            meta[carry] = pmeta[carry]
    # schema-evolution state survives appends
    if pmeta.get("renames") is not None:
        meta["renames"] = pmeta["renames"]
    # the streaming sink's exactly-once fence survives library appends
    # (batch id 0 is valid — no truthiness test)
    if pmeta.get("stream_last_batch") is not None:
        meta["stream_last_batch"] = pmeta["stream_last_batch"]
    if replace and parent is not None:
        meta["replaced_snapshot"] = parent["snapshot_id"]
    if branch is not None:
        snap = table.stage_commit(parts, schema_ipc, parent, meta)
        _set_branch_ref(table_path, branch, snap)
        return snap
    return table.commit(parts, schema_ipc, parent, meta)


def route_encoded(df: DataFrame, route_col: str, base_path: str,
                  key: list[str] | None = None, n_parts: int | None = None,
                  codec: str = "auto",
                  rows_per_chunk: int = DEFAULT_ROWS_PER_CHUNK,
                  max_routes: int = 64,
                  backend_factory=None) -> dict[str, dict]:
    """One encoded table per distinct `route_col` value (O17: the
    reference's file-per-result-type macro path,
    /root/reference/Parquet/ParquetResultListener.cs:119-144 — "best
    performance" per its README because each route avoids the merge).

    Routes MUST be low-cardinality (result types): the implementation
    runs one filtered pass of the input per route, which is the right
    trade at result-type cardinality (each pass's parquet scan prunes
    on the route predicate) and exactly the wrong one at thousands of
    routes.  `max_routes` (default 64, the guard for that misuse)
    fails loudly with the alternative: encode once with the route
    column as a leading sort key and rely on zone-map pruning, or
    df.write.partitionBy for a raw-parquet layout.  Returns
    {route_value: snapshot}."""
    # limit() bounds the collect itself: on a high-cardinality column —
    # exactly the misuse this guard exists for — an unbounded distinct()
    # .collect() would materialize millions of route values on the
    # driver before the ValueError could fire
    routes = [r[0] for r in df.select(route_col).distinct()
              .limit(max_routes + 1).collect()]
    if len(routes) > max_routes:
        raise ValueError(
            f"route_encoded on {route_col!r} found more than {max_routes} "
            f"distinct routes (max_routes={max_routes}); each route costs one "
            "filtered pass over the input. For high-cardinality routing "
            "encode ONE table keyed on the route column (zone maps prune "
            "per-route scans), or raise max_routes deliberately.")
    out = {}
    for val in sorted(routes, key=str):
        sub = df.where(F.col(route_col).eqNullSafe(F.lit(val)))
        path = os.path.join(base_path, f"{route_col}={val}")
        out[str(val)] = write_encoded(
            sub, path, key=key, n_parts=n_parts, codec=codec,
            rows_per_chunk=rows_per_chunk,
            backend=backend_factory(path) if backend_factory else None)
    return out


def route_encoded_partitioned(df: DataFrame, route_col: str,
                              table_path: str,
                              key: list[str] | None = None,
                              n_parts: int | None = None,
                              codec: str = "auto",
                              rows_per_chunk: int = DEFAULT_ROWS_PER_CHUNK,
                              block_codec: str = "auto",
                              global_dict_cols: list[str] | None = None,
                              backend: CommitBackend | None = None) -> dict:
    """Single-pass routing — the scale path route_encoded's guard
    points at for high-cardinality route columns.

    ONE encode of the whole input with the route column as the LEADING
    sort key: rows of a route form contiguous chunk runs inside each
    part (the hash over the full key spreads routes across parts, so
    one hot route cannot skew a single partition), every chunk
    zone-maps the route column, and per-route access is a pruned scan
    (`read_route`) that touches only that route's chunks.  One shuffle
    total versus route_encoded's one filtered input pass per route —
    at 10k routes over 100 TB that is the difference between a table
    build and 10k table builds.  `relocate_table(by="range")` on the
    route key afterwards clusters whole PARTS by route range when
    part-level pruning matters too.  Returns the snapshot; pass
    `global_dict_cols=[route_col]` to store the route as dict ids
    (scan_table translates read_route's value predicate)."""
    sub_key = [k for k in (key or []) if k != route_col]
    return write_encoded(df, table_path, key=[route_col] + sub_key,
                         n_parts=n_parts, codec=codec,
                         rows_per_chunk=rows_per_chunk,
                         block_codec=block_codec,
                         global_dict_cols=global_dict_cols,
                         backend=backend)


def read_route(spark: SparkSession, table_path: str, route_col: str,
               value, columns: list[str] | None = None,
               backend: CommitBackend | None = None) -> DataFrame:
    """Decode one route from a route_encoded_partitioned table via a
    zone-pruned (and dict-aware) scan — chunks of other routes are
    skipped on metadata alone."""
    return scan_table(spark, table_path, [(route_col, "=", value)],
                      columns=columns, backend=backend)


def _rechunk_part(tbl: pa.Table, rows_per_chunk: int, pid: int,
                  codec: str = "auto",
                  block_codec: str = "auto",
                  bloom_cols: list[str] | None = None) -> pa.Table:
    """Re-chunk one compacted part: runs of consecutive UNDER-SIZED
    chunks (n_rows < rows_per_chunk) are decoded, concatenated, and
    re-encoded into full-size chunks; full chunks pass through with
    their payloads untouched (still compressed).  This is the payload-
    level half of the reference's row-group-rewriting merge
    (/root/reference/Parquet.Core/Fragment.cs:319-332): without it,
    many tiny chunks keep their per-chunk header + zone-map overhead
    forever.  Row order is preserved (runs are consecutive); chunk ids
    are renumbered into the output part's namespace.  Decode memory is
    bounded: a run is flushed once it buffers 4x rows_per_chunk, and
    pass-through chunks move as zero-copy Arrow slices of the input —
    only the under-sized chunks being merged are ever materialized as
    Python objects (the old to_pylist() of the whole part doubled peak
    memory regardless of the flush bound)."""
    n = tbl.num_rows
    n_rows_col = tbl.column("n_rows").to_pylist()
    schema_ipc_col = tbl.column("schema_ipc").to_pylist()
    key_name_col = tbl.column("key_name").to_pylist()
    pieces: list[pa.Table] = []   # in row order: slices + re-encoded runs
    run: list[int] = []           # indices of buffered under-sized chunks
    buffered = 0
    # one codec memo PER CHUNK SCHEMA: the memo keeps codec choice
    # consistent across merged runs of the same schema, but must never
    # leak a choice (e.g. 'fsst' for a string column) into a run whose
    # same-named column has a different type — runs are never merged
    # across schema boundaries, so neither is the plan
    plans: dict[bytes, dict] = {}

    def flush():
        nonlocal run, buffered
        if not run:
            return
        if len(run) == 1:
            pieces.append(tbl.slice(run[0], 1))  # nothing to merge
        else:
            rows = tbl.take(run).to_pylist()
            batches = [decode_chunk(c["schema_ipc"], c["names"],
                                    c["payloads"]) for c in rows]
            merged = pa.Table.from_batches(batches)
            # first NON-NULL key name in the run: a run led by an
            # all-null key slice (key_name None) must not lose the
            # sort-key zone map the later chunks carry
            zone_key = next((key_name_col[i] for i in run
                             if key_name_col[i] is not None), None)
            plan = plans.setdefault(schema_ipc_col[run[0]], {})
            enc_rows = []
            for lo in range(0, merged.num_rows, rows_per_chunk):
                sl = merged.slice(lo, rows_per_chunk).combine_chunks()
                enc_rows.append(encode_chunk(
                    sl.to_batches()[0], pid, 0, codec,
                    plan if codec == "auto" else None,
                    zone_key=zone_key, block_codec=block_codec,
                    bloom_cols=bloom_cols))
            pieces.append(pa.Table.from_batches(
                [_chunk_rows_to_batch(enc_rows)]))
        run, buffered = [], 0

    pt_start: int | None = None   # start of the current pass-through span
    for i in range(n):
        if n_rows_col[i] >= rows_per_chunk:
            flush()
            if pt_start is None:
                pt_start = i
            continue
        if pt_start is not None:
            pieces.append(tbl.slice(pt_start, i - pt_start))
            pt_start = None
        if run and schema_ipc_col[i] != schema_ipc_col[run[0]]:
            flush()  # never merge across schema boundaries
        run.append(i)
        buffered += n_rows_col[i]
        if buffered >= rows_per_chunk * 4:
            flush()
    flush()
    if pt_start is not None:
        pieces.append(tbl.slice(pt_start, n - pt_start))
    if not pieces:
        return tbl
    out = pa.concat_tables(pieces, promote_options="default")
    m = out.num_rows
    out = out.set_column(out.schema.get_field_index("part_id"),
                         pa.field("part_id", pa.int64()),
                         pa.array([pid] * m, pa.int64()))
    out = out.set_column(out.schema.get_field_index("chunk_id"),
                         pa.field("chunk_id", pa.int64()),
                         pa.array(range(m), pa.int64()))
    return out.combine_chunks()


def compact_table(spark: SparkSession, table_path: str,
                  target_parts: int = 1, rechunk: bool = False,
                  backend: CommitBackend | None = None) -> dict:
    """Merge all committed part files into `target_parts` larger ones —
    the reference's final fragment merge (O10/O11, ParquetFile.Dispose,
    /root/reference/Parquet.Core/ParquetFile.cs:106-125) as a table
    operation.  By default chunk payloads are NOT re-encoded (streaming
    row-group merge, Fragment.cs:319-332: bounded memory, no decode);
    part ids are renumbered and a new snapshot commits atomically.

    `rechunk=True` additionally merges runs of under-sized chunks by
    decode + re-encode (full chunks still move compressed), using the
    parent snapshot's rows_per_chunk as the target — the cure for
    fragmented tables (streaming epochs, many tiny resume increments)
    whose per-chunk overhead and zone rows would otherwise persist.

    Crash-safety: compacted file names embed the NEW snapshot id, so a
    commit never mutates a file referenced by any existing snapshot (a
    crash between write and commit leaves the live snapshot untouched;
    a re-run writes fresh files under the next id).  Old data files are
    NOT deleted here — run `vacuum_table` separately once parent
    snapshots are no longer needed."""
    table = EncodedTable(table_path, backend=backend)
    parent = table.current_snapshot()
    if parent is None:
        raise ValueError(f"no committed snapshot at {table_path}")
    if (parent.get("meta") or {}).get("delete_files"):
        # pending equality deletes are scoped by PART ID (<= max_part
        # at delete time) and compaction renumbers part ids — carrying
        # them across would re-delete post-delete appends.  Apply them
        # physically first; the compaction then runs on a clean table.
        parent = rewrite_table(spark, table_path, backend=backend)
    new_sid = parent["snapshot_id"] + 1
    pmeta = parent.get("meta") or {}
    rows_per_chunk = pmeta.get("rows_per_chunk") or DEFAULT_ROWS_PER_CHUNK
    # rechunk re-encodes under the table's COMMITTED encoding policy —
    # a table written codec="dict" or block_codec="none" must not have
    # its rewritten chunks silently auto-selected / zstd-wrapped
    codec = pmeta.get("codec") or "auto"
    block_codec = pmeta.get("block_codec") or "auto"
    # rechunked chunks must keep the committed bloom indexing — a
    # compaction that silently dropped blooms would turn point scans
    # back into full scans
    bloom_cols = (pmeta.get("layout") or {}).get("bloom_cols")
    enc = read_encoded(spark, table_path)
    data_dir = os.path.join(table_path, "data")

    writer = _compaction_writer(data_dir, "compact", new_sid, 0, rechunk,
                                rows_per_chunk, codec, block_codec,
                                bloom_cols)
    lineage = (enc.repartition(target_parts, "part_id")
               .sortWithinPartitions("part_id", "chunk_id")
               .mapInArrow(writer, LINEAGE_DDL).collect())
    parts = _lineage_parts(lineage)
    meta = _compaction_meta(parent, rechunk, rows_per_chunk, codec,
                            block_codec, bloom_cols,
                            {"target_parts": target_parts})
    return table.commit(parts, None, parent, meta=meta)


def _compaction_writer(data_dir: str, prefix: str, new_sid: int,
                       offset: int, rechunk: bool, rows_per_chunk: int,
                       codec: str, block_codec: str,
                       bloom_cols: list[str] | None):
    """The shared per-task part writer for both compaction forms
    (compact_table rewrites everything, compact_small_parts only the
    undersized parts): collect the task's chunk rows, optionally
    rechunk under the committed encoding policy, write one atomic
    hashed part file named <prefix>-<new_sid>-<pid>, emit its lineage
    row.  `offset` shifts the new part ids past any carried ones."""
    def writer(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext
        ctx = TaskContext.get()
        pid = offset + (ctx.partitionId() if ctx is not None else 0)
        t0 = time.monotonic()
        rows: list[pa.RecordBatch] = []
        for batch in batches:
            rows.append(batch)
        if not rows:
            return
        tbl = pa.Table.from_batches(rows)
        if rechunk:
            tbl = _rechunk_part(tbl, rows_per_chunk, pid,
                                codec=codec, block_codec=block_codec,
                                bloom_cols=bloom_cols)
        final = os.path.join(data_dir,
                             f"{prefix}-{new_sid:06d}-{pid:05d}.parquet")
        fhash = write_part_atomic(tbl, final)
        cmix = sorted({c for ch in tbl.column("codecs") for c in ch.as_py()})
        yield pa.RecordBatch.from_pylist([{
            "part_id": pid, "file": final,
            "n_chunks": tbl.num_rows,
            "n_rows": int(pa.compute.sum(tbl.column("n_rows")).as_py()),
            "bytes_in": int(sum(sum(v.as_py()) for v in tbl.column("bytes_in"))),
            "bytes_out": int(sum(sum(v.as_py()) for v in tbl.column("bytes_out"))),
            "wall_ms": (time.monotonic() - t0) * 1000.0,
            "codecs": ",".join(cmix),
            "zones": part_zone_summary_from_chunkrows(tbl),
            "file_hash": fhash,
        }])
    return writer


def _lineage_parts(lineage) -> dict[str, dict]:
    return {str(r.part_id): {
        "file": r.file, "n_chunks": r.n_chunks, "n_rows": r.n_rows,
        "bytes_in": r.bytes_in, "bytes_out": r.bytes_out,
        "wall_ms": r.wall_ms, "codecs": r.codecs,
        "zones": json.loads(r.zones) if r.zones else {},
        "file_hash": r.file_hash} for r in lineage}


def _compaction_meta(parent: dict, rechunk: bool, rows_per_chunk: int,
                     codec: str, block_codec: str,
                     bloom_cols: list[str] | None, extra: dict) -> dict:
    """Snapshot meta shared by both compaction forms: terminal
    'compacted' layout with the parent's key/blooms carried (rows and
    keys are unchanged, so delete_rows keeps working), the committed
    encoding policy preserved (a LATER rechunk must still honor it),
    and the evolution state (mappings/global_dicts/renames) riding
    along — chunks move with their PHYSICAL column names intact."""
    pmeta = parent.get("meta") or {}
    new_layout: dict = {"mode": "compacted"}
    if bloom_cols:
        new_layout["bloom_cols"] = bloom_cols
    parent_key = (pmeta.get("layout") or {}).get("key")
    if parent_key:
        new_layout["key"] = parent_key
    meta = {"compacted_from": parent["snapshot_id"],
            "rechunk": rechunk, "rows_per_chunk": rows_per_chunk,
            "codec": codec, "block_codec": block_codec,
            "layout": new_layout}
    meta.update(extra)
    # stream_last_batch is the streaming sink's exactly-once fence: a
    # maintenance commit landing inside the crash window between a
    # batch commit and Spark's own offset commit must not erase it, or
    # the replayed batch double-appends.  global_dict_fallback likewise
    # records that committed chunks hold RAW values for a column.
    for carry in ("mappings", "global_dicts", "global_dict_fallback",
                  "stream_last_batch"):
        if pmeta.get(carry) is not None and pmeta.get(carry) != {}:
            meta[carry] = pmeta[carry]
    if pmeta.get("renames") is not None:
        meta["renames"] = pmeta["renames"]
    return meta


def compact_small_parts(spark: SparkSession, table_path: str,
                        small_bytes: int = 8 << 20,
                        target_bytes: int = 64 << 20,
                        rechunk: bool = False,
                        backend: CommitBackend | None = None) -> dict:
    """Incremental bin-pack compaction (Iceberg's rewrite_data_files
    binpack): rewrite ONLY parts whose encoded payload is under
    `small_bytes`, packing them into ~`target_bytes` outputs, and carry
    every healthy part by REFERENCE — its file, zones, blooms, and
    hash move into the new snapshot untouched.  This is the form of
    compaction that survives 100 TB: `compact_table` rewrites the
    whole table (cost ∝ table), while the small-file problem that
    streaming epochs / checkpointed increments / frequent appends
    actually create grows with the INGEST pattern — here cost ∝ the
    small files only, so a daily maintenance pass stays O(day's
    fragmentation) forever.

    Same contracts as `compact_table`: pending equality deletes are
    applied physically first (delete scoping is part-id-addressed and
    ids are renumbered); output file names embed the new snapshot id
    so no existing snapshot's file is ever mutated; the committed
    encoding policy, blooms, key, global dicts, and rename maps all
    carry; the result is layout mode "compacted" (terminal for
    key-addressed resume — rewritten ids no longer mean hash buckets).
    Fewer than two small parts = nothing to pack: returns the current
    snapshot unchanged, never an empty commit.  `rechunk=True` also
    merges under-sized chunk runs inside the rewritten parts."""
    if small_bytes > target_bytes:
        raise ValueError(
            f"binpack small_bytes ({small_bytes}) > target_bytes "
            f"({target_bytes}): every packed bin would immediately "
            "re-qualify as small, and a daily maintenance pass would "
            "rewrite the whole packed set forever — pick small_bytes "
            "<= target_bytes")
    table = EncodedTable(table_path, backend=backend)
    parent = table.current_snapshot()
    if parent is None:
        raise ValueError(f"no committed snapshot at {table_path}")
    if (parent.get("meta") or {}).get("delete_files"):
        parent = rewrite_table(spark, table_path, backend=backend)
    all_parts = parent["parts"]
    small = {pid: p for pid, p in all_parts.items()
             if int(p.get("bytes_out") or 0) < small_bytes}
    if len(small) < 2:
        return parent
    carried = {pid: p for pid, p in all_parts.items() if pid not in small}
    new_sid = parent["snapshot_id"] + 1
    pmeta = parent.get("meta") or {}
    rows_per_chunk = pmeta.get("rows_per_chunk") or DEFAULT_ROWS_PER_CHUNK
    codec = pmeta.get("codec") or "auto"
    block_codec = pmeta.get("block_codec") or "auto"
    bloom_cols = (pmeta.get("layout") or {}).get("bloom_cols")
    total = sum(int(p.get("bytes_out") or 0) for p in small.values())
    n_bins = max(1, -(-total // max(target_bytes, 1)))
    offset = max(int(pid) for pid in all_parts) + 1
    data_dir = os.path.join(table_path, "data")
    enc = spark.read.schema(ENCODED_DDL).parquet(
        *[p["file"] for p in small.values()])
    writer = _compaction_writer(data_dir, "binpack", new_sid, offset,
                                rechunk, rows_per_chunk, codec,
                                block_codec, bloom_cols)
    lineage = (enc.repartition(n_bins, "part_id")
               .sortWithinPartitions("part_id", "chunk_id")
               .mapInArrow(writer, LINEAGE_DDL).collect())
    parts = dict(carried)
    parts.update(_lineage_parts(lineage))
    meta = _compaction_meta(parent, rechunk, rows_per_chunk, codec,
                            block_codec, bloom_cols,
                            {"binpack": {"small_bytes": small_bytes,
                                         "target_bytes": target_bytes,
                                         "rewrote": len(small),
                                         "carried": len(carried),
                                         "bins": len(lineage)}})
    return table.commit(parts, None, parent, meta=meta)


def delete_rows(spark: SparkSession, table_path: str,
                pred: list[tuple] | dict,
                backend: CommitBackend | None = None) -> dict:
    """Row-level delete, merge-on-read (the Iceberg equality-delete
    analog): rows matching `pred` are deleted by writing their LAYOUT-
    KEY values to a delete file and committing a snapshot that lists
    it — no data file is rewritten (cost is O(matching keys), not
    O(table)).  Every read (`read_decoded` / `scan_table`) anti-joins
    the accumulated delete keys; `rewrite_table` applies them
    physically.  Zone maps and blooms stay as written — they may keep
    a chunk whose matches are all deleted (wasted decode, never wrong
    rows: the anti-join runs after decode).

    Row-exact when the layout key is row-unique (the hash layout's
    normal contract); duplicate keys delete ALL their rows — standard
    equality-delete semantics.  Time travel to the pre-delete snapshot
    still sees the rows.  NOTE: the engine-level point-access helpers
    (engine.read_row / read_cell) operate on raw chunk rows and do NOT
    apply pending deletes — go through read_decoded/scan_table, or
    rewrite_table first.  Returns the new snapshot dict."""
    table = EncodedTable(table_path, backend=backend)
    parent = table.current_snapshot()
    if parent is None:
        raise ValueError(f"no committed snapshot at {table_path}")
    key = (_layout_of(parent) or {}).get("key")
    if not key:
        raise ValueError(
            "delete_rows needs a layout with a key (hash-written or "
            "compacted-from-hash tables); splits-mode tables have no "
            "row key — decode, filter, re-encode instead")
    keys = (scan_table(spark, table_path, pred, backend=backend)
            .select(*key).distinct())
    return _commit_delete_keys(spark, table, parent, keys)


def _commit_delete_keys(spark: SparkSession, table: "EncodedTable",
                        parent: dict, keys: DataFrame) -> dict:
    """Write a delete-key file and commit a snapshot listing it (the
    shared tail of delete_rows and upsert_rows — the keys frame never
    touches the driver).

    Each entry records `max_part`, the highest part id committed when
    the delete landed: the delete applies ONLY to rows in parts
    <= max_part (Iceberg's sequence-number rule), so rows APPENDED
    later under the same key — an upsert's replacements — survive."""
    sid = parent["snapshot_id"] + 1
    dfile = os.path.join(table.path, "data",
                         f"deletes-{sid:06d}-{uuid.uuid4().hex[:8]}")
    keys.write.parquet(dfile)
    n_deleted = spark.read.parquet(dfile).count()
    max_part = max((int(p) for p in parent["parts"]), default=-1)
    meta = dict(parent.get("meta") or {})
    meta["delete_files"] = list(meta.get("delete_files") or []) + [
        {"path": dfile, "max_part": max_part}]
    meta["n_deleted"] = int(meta.get("n_deleted") or 0) + n_deleted
    return table.commit(dict(parent["parts"]), None, parent, meta=meta)


def upsert_rows(spark: SparkSession, table_path: str, df: DataFrame,
                backend: CommitBackend | None = None) -> dict:
    """MERGE INTO (matched → update, unmatched → insert) by the layout
    key, composed from the two primitives: an equality delete of df's
    keys (merge-on-read — O(df keys), no data rewrite) followed by an
    append of df into a fresh part-id epoch (the same disjoint-range
    mechanism streaming epochs use).  Two commits; the intermediate
    state (rows deleted, replacements not yet in) is never published
    as the final answer only if the caller treats the returned
    snapshot as the publish point — readers between the two commits
    see the delete-only state, exactly like Iceberg's two-step
    delete+append MERGE with serializable snapshots.  Physical
    cleanup: `rewrite_table` folds the delete files away."""
    table = EncodedTable(table_path, backend=backend)
    parent = table.current_snapshot()
    if parent is None:
        raise ValueError(f"no committed snapshot at {table_path}")
    layout = _layout_of(parent) or {}
    key = layout.get("key")
    if layout.get("mode") != "hash" or not key:
        raise ValueError(
            "upsert_rows needs a hash layout (append epochs require "
            "the hash part-id namespace); compact/splits tables: "
            "decode + re-encode")
    missing = [k for k in key if k not in df.columns]
    if missing:
        raise KeyError(f"upsert frame lacks key columns {missing}")
    committed = table.schema(parent)
    if committed is not None:
        want = [f.name for f in committed]
        if sorted(df.columns) != sorted(want):
            raise ValueError(
                f"upsert frame columns {sorted(df.columns)} != table "
                f"columns {sorted(want)}; schema evolution goes through "
                "merge_tables + a fresh write, not upsert")
        df = df.select(*want)  # align column ORDER with the table
        from pyspark.sql.pandas.types import from_arrow_schema
        want_types = {f.name: f.dataType
                      for f in from_arrow_schema(committed).fields}
        bad = [(c, df.schema[c].dataType.simpleString(),
                want_types[c].simpleString())
               for c in want if df.schema[c].dataType != want_types[c]]
        if bad:
            raise TypeError(
                f"upsert frame column types differ from the table: {bad};"
                " cast the frame first (mixed chunk types cannot decode)")
    # delete df's keys DISTRIBUTED (the keys frame never hits the
    # driver — unlike a pred-shaped delete, which would need a literal
    # value list); keys absent from the table are harmless no-ops in
    # the anti-join
    _commit_delete_keys(spark, table, parent,
                        df.select(*key).distinct())
    n_parts = layout["n_parts"]
    cur = EncodedTable(table_path, backend=backend).current_snapshot()
    max_part = max((int(p) for p in cur["parts"]), default=-1)
    offset = ((max_part // n_parts) + 1) * n_parts
    return write_encoded(
        df, table_path, key=key, n_parts=n_parts,
        rows_per_chunk=layout.get("rows_per_chunk")
        or DEFAULT_ROWS_PER_CHUNK,
        codec=(parent.get("meta") or {}).get("codec") or "auto",
        block_codec=(parent.get("meta") or {}).get("block_codec")
        or "auto",
        part_offset=offset,
        bloom_cols=layout.get("bloom_cols"),
        backend=backend)


def _delete_key_frame(spark: SparkSession, entries: list) -> DataFrame:
    """The union of delete-file key frames, each row annotated with
    its file's `_del_max_part` scope (null = legacy string entry,
    applies to every part).  THE single reading of the delete-file
    on-disk contract — _apply_deletes and read_changelog both build
    their joins from this + _delete_match_cond, so the two can never
    disagree about which rows a delete file kills."""
    per_file = []
    for entry in entries:
        if isinstance(entry, str):  # legacy: applies to every part
            path, max_part = entry, None
        else:
            path, max_part = entry["path"], entry.get("max_part")
        k = spark.read.parquet(path)
        per_file.append(k.withColumn(
            "_del_max_part",
            F.lit(max_part).cast("long") if max_part is not None
            else F.lit(None).cast("long")))
    keys = per_file[0]
    for k in per_file[1:]:
        keys = keys.unionByName(k)
    return keys


def _delete_match_cond(dec: DataFrame, keys: DataFrame):
    """Join condition 'this decoded row (carrying `_part_id`) is hit
    by this delete-key row': null-safe equality on every key column
    AND the Iceberg sequence-number scope (part predates the
    delete)."""
    cond = F.lit(True)
    for c in [c for c in keys.columns if c != "_del_max_part"]:
        cond = cond & dec[c].eqNullSafe(keys[c])
    return cond & (keys["_del_max_part"].isNull()
                   | (dec["_part_id"] <= keys["_del_max_part"]))


def _apply_deletes(spark: SparkSession, dec: DataFrame,
                   meta: dict) -> DataFrame:
    """Anti-join the accumulated delete-key files onto a decoded frame
    that carries `_part_id`.  Runs AFTER global-dict restore (delete
    keys are stored as decoded values).  A row is deleted iff some
    delete file holds its key AND the row's part predates the delete
    (part_id <= the file's max_part) — later appends under the same
    key survive.  AQE broadcasts the delete side when small; the
    `_part_id` column is dropped here."""
    dfiles = meta.get("delete_files") or []
    if not dfiles:
        return dec.drop("_part_id")
    keys = _delete_key_frame(spark, dfiles)
    return dec.join(keys, on=_delete_match_cond(dec, keys),
                    how="left_anti").drop("_part_id")


def rewrite_table(spark: SparkSession, table_path: str,
                  backend: CommitBackend | None = None) -> dict:
    """Physically apply pending row deletes (Iceberg
    rewrite_data_files analog): decode the table WITH deletes applied,
    re-encode under the committed layout (key, n_parts,
    rows_per_chunk, codec, block_codec, bloom_cols), and commit a
    snapshot with fresh parts and no delete_files.  Time travel to the
    merge-on-read snapshots keeps working until vacuum."""
    from .engine import encode_table
    table = EncodedTable(table_path, backend=backend)
    parent = table.current_snapshot()
    if parent is None:
        raise ValueError(f"no committed snapshot at {table_path}")
    pmeta = parent.get("meta") or {}
    if not (pmeta.get("delete_files") or []):
        return parent  # nothing pending: no-op, no empty commit
    layout = _layout_of(parent) or {}
    key = layout.get("key")
    if not key:
        raise ValueError("rewrite_table needs a keyed layout")
    if pmeta.get("global_dicts"):
        raise ValueError(
            "rewrite_table on a global-dict table is not supported yet "
            "(re-encoding restored values would desync the frozen id "
            "space); decode with read_decoded and write_encoded into a "
            "fresh table instead")
    n_parts = layout.get("n_parts") or len(parent["parts"]) or 1
    rows_per_chunk = (layout.get("rows_per_chunk")
                      or pmeta.get("rows_per_chunk")
                      or DEFAULT_ROWS_PER_CHUNK)
    dec = read_decoded(spark, table_path, backend=backend)  # deletes applied
    enc = encode_table(dec, key=key, n_parts=n_parts,
                       codec=pmeta.get("codec") or "auto",
                       rows_per_chunk=rows_per_chunk,
                       block_codec=pmeta.get("block_codec") or "auto",
                       bloom_cols=layout.get("bloom_cols"))
    new_sid = parent["snapshot_id"] + 1
    data_dir = os.path.join(table_path, "data")
    os.makedirs(data_dir, exist_ok=True)

    def writer(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        t0 = time.monotonic()
        rows = list(batches)
        if not rows:
            return
        tbl = pa.Table.from_batches(rows)
        pids = tbl.column("part_id").to_numpy()
        # one part per task by construction; grouping by the rows' own
        # part id keeps every file single-part regardless
        for pid in np.unique(pids).tolist():
            sub = tbl.filter(pa.array(pids == pid))
            final = os.path.join(
                data_dir, f"rewrite-{new_sid:06d}-{pid:05d}.parquet")
            fhash = write_part_atomic(sub, final)
            cmix = sorted({c for ch in sub.column("codecs")
                           for c in ch.as_py()})
            yield pa.RecordBatch.from_pylist([{
                "part_id": pid, "file": final,
                "n_chunks": sub.num_rows,
                "n_rows": int(pa.compute.sum(sub.column("n_rows")).as_py()),
                "bytes_in": int(sum(sum(v.as_py())
                                    for v in sub.column("bytes_in"))),
                "bytes_out": int(sum(sum(v.as_py())
                                     for v in sub.column("bytes_out"))),
                "wall_ms": (time.monotonic() - t0) * 1000.0,
                "codecs": ",".join(cmix),
                "zones": part_zone_summary_from_chunkrows(sub),
                "file_hash": fhash,
            }])

    lineage = (_one_part_per_task(enc, "part_id", n_parts)
               .sortWithinPartitions("part_id", "chunk_id")
               .mapInArrow(writer, LINEAGE_DDL).collect())
    parts = {str(r.part_id): {
        "file": r.file, "n_chunks": r.n_chunks, "n_rows": r.n_rows,
        "bytes_in": r.bytes_in, "bytes_out": r.bytes_out,
        "wall_ms": r.wall_ms, "codecs": r.codecs,
        "zones": json.loads(r.zones) if r.zones else {},
        "file_hash": r.file_hash} for r in lineage}
    meta = dict(pmeta)
    meta.pop("delete_files", None)
    meta.pop("n_deleted", None)
    # the rewrite re-encoded the DECODED frame, so new chunks carry the
    # logical (post-alter) names: the evolution is now materialized
    meta.pop("renames", None)
    meta["rewritten_from"] = parent["snapshot_id"]
    meta["layout"] = {"mode": "hash", "key": key, "n_parts": n_parts,
                      "rows_per_chunk": rows_per_chunk,
                      **({"bloom_cols": layout["bloom_cols"]}
                         if layout.get("bloom_cols") else {})}
    return table.commit(parts, None, parent, meta=meta)


_INT_WIDTH = {pa.int8(): 8, pa.int16(): 16, pa.int32(): 32,
              pa.int64(): 64}


def _is_legal_widening(old: pa.DataType, new: pa.DataType) -> bool:
    """Exact (lossless, order-preserving) type promotions only —
    Iceberg's evolution matrix for the types this format encodes."""
    if old.equals(new):
        return False  # no-op "widening" is a caller bug, reject loudly
    if old in _INT_WIDTH and new in _INT_WIDTH:
        return _INT_WIDTH[old] < _INT_WIDTH[new]
    return old.equals(pa.float32()) and new.equals(pa.float64())


def alter_table(table_path: str,
                add: list[tuple] | None = None,
                drop: list[str] | None = None,
                rename: dict[str, str] | None = None,
                widen: dict[str, "pa.DataType | str"] | None = None,
                backend: CommitBackend | None = None) -> dict:
    """Metadata-only schema evolution (the Iceberg ALTER TABLE analog):
    add nullable columns, drop columns, and rename columns by
    committing ONLY a new snapshot — zero data files touched, O(1)
    regardless of table size.

    - `add`: [(name, type)] with type a pyarrow DataType or alias
      string ("int64", "string", ...).  Added columns read as NULL in
      every pre-alter part and are stored physically by later appends.
    - `drop`: [name].  The payload bytes stay on disk (time travel to
      the pre-alter snapshot still sees them) but post-alter reads skip
      them WITHOUT decompression.
    - `rename`: {old: new}.  Old parts keep their physical column
      names; a persisted physical->logical map translates at decode.
    - `widen`: {col: wider_type} — Iceberg-parity type promotion
      (int8/16/32 -> any wider signed int, float32 -> float64), also
      metadata-only: the snapshot schema changes, old chunks keep their
      encoded payloads, and the chunk decoder decodes each chunk at
      its OWN physical width (several codecs — BSS byte-stream-split
      foremost — parse payloads width-sensitively) before an exact
      upcast.  Narrowing or cross-family changes raise.  Appends after
      the widen must supply the widened type.  Layout-key columns
      cannot be widened: part placement hashes the key's BYTES, so the
      same value would land in a different part after promotion,
      breaking the placement invariants upsert/resume rely on —
      recluster first.  Global-dict columns hold dictionary ids
      physically; widening the VALUE type is meaningless there.

    Mechanics: the snapshot's `meta["renames"]` maps chunk-PHYSICAL
    names to current LOGICAL names (value None = tombstoned drop); the
    chunk decoder (engine._decode_chunk_to) maps through it, and scan_table
    expands each logical predicate into an AND over the column's
    physical aliases so zone/bloom/file pruning keeps biting on old
    parts (absent names keep conservatively, so the conjunction is
    exact).  Because chunks are name-addressed (no Iceberg field ids),
    a name that ever existed physically can never be REUSED: re-adding
    a dropped name (or renaming onto one) would resurrect the old
    payload bytes under the new logical column — those alters raise,
    pointing at a fresh name or a full rewrite instead.

    Layout-key columns (hash/range/zorder key, the delete-file
    identity) cannot be dropped or renamed — use recluster_table to
    change the layout first.  Reference analog: the reference rewrites
    the whole file on any schema change (ParquetFile.cs:120-124); this
    is the scale-path replacement."""
    table = EncodedTable(table_path, backend=backend)
    parent = table.current_snapshot()
    if parent is None:
        raise ValueError(f"no committed snapshot at {table_path}")
    schema = table.schema(parent)
    if schema is None:
        raise ValueError(f"{table_path} has no committed schema")
    add = list(add or [])
    drop = list(drop or [])
    rename = dict(rename or {})
    widen = dict(widen or {})
    if not (add or drop or rename or widen):
        raise ValueError("nothing to alter: pass add/drop/rename/widen")
    if set(drop) & set(rename):
        raise ValueError(f"columns {sorted(set(drop) & set(rename))} "
                         "both dropped and renamed in one alter")
    meta = dict(parent.get("meta") or {})
    ren = dict(meta.get("renames") or {})
    keycols = set((_layout_of(parent) or {}).get("key") or [])
    logical = set(schema.names)
    for old in list(rename) + drop:
        if old not in logical:
            raise KeyError(f"column {old!r} not in table schema "
                           f"{sorted(logical)}")
        if old in keycols:
            raise ValueError(
                f"{old!r} is a layout key column (part placement, "
                "resume identity, delete-file keys); recluster_table "
                "to a different key before dropping/renaming it")
    # names that ever existed physically (ren keys) can never be reused
    used = logical | set(ren)
    new_names = [n for n, _ in add] + list(rename.values())
    dups = [n for n in new_names if new_names.count(n) > 1]
    if dups:
        raise ValueError(f"duplicate target names in one alter: "
                         f"{sorted(set(dups))}")
    for name, _ in add:
        if name in used:
            raise ValueError(
                f"column name {name!r} is (or once was) a physical "
                "column of this table; chunks are name-addressed, so "
                "reusing it would resurrect old payload bytes — pick "
                "a fresh name, or materialize the evolution with a "
                "full rewrite (read_decoded -> write_encoded)")
    for old, new in rename.items():
        # renaming a column BACK to a name it once had physically is
        # safe exactly when that physical name currently maps to the
        # column being renamed (it restores the identity mapping)
        if new in used and ren.get(new) != old:
            raise ValueError(
                f"rename target {new!r} is (or once was) a physical "
                "column of this table; chunks are name-addressed, so "
                "reusing it would resurrect old payload bytes — pick "
                "a fresh name, or materialize the evolution with a "
                "full rewrite (read_decoded -> write_encoded)")
    fields = list(schema)
    gd = dict(meta.get("global_dicts") or {})
    lay = dict(meta.get("layout") or {})

    def _relist(key_name, old, new):
        # layout lists (global_dict_cols / bloom_cols) are the RESUME
        # fingerprint future appends are checked against — they must
        # follow the logical name or every later write_encoded would
        # either fail the layout check (new name) or reference a
        # column the evolved batch no longer has (old name)
        vals = lay.get(key_name)
        if not vals or old not in vals:
            return
        if new is None:
            lay[key_name] = sorted(v for v in vals if v != old)
        else:
            lay[key_name] = sorted(new if v == old else v
                                   for v in vals)

    for old, new in rename.items():
        # every physical alias of `old` — including `old` itself:
        # parts appended while `old` was the logical name store it
        # physically, whether or not earlier renames exist
        phys = [p for p, l in ren.items() if l == old] + [old]
        for p in phys:
            if p == new:
                ren.pop(p, None)   # renamed back to its physical name
            else:
                ren[p] = new
        fields = [pa.field(new, f.type, f.nullable, f.metadata)
                  if f.name == old else f for f in fields]
        if old in gd:
            gd[new] = gd.pop(old)
        _relist("global_dict_cols", old, new)
        _relist("bloom_cols", old, new)
    for d in drop:
        phys = [p for p, l in ren.items() if l == d] + [d]
        for p in phys:
            ren[p] = None       # tombstone: skip at decode, forever
        fields = [f for f in fields if f.name != d]
        gd.pop(d, None)
        _relist("global_dict_cols", d, None)
        _relist("bloom_cols", d, None)
    for name, typ in add:
        typ = pa.type_for_alias(typ) if isinstance(typ, str) else typ
        fields.append(pa.field(name, typ, nullable=True))
    if widen:
        current = {f.name: f for f in fields}
        for col, typ in widen.items():
            typ = pa.type_for_alias(typ) if isinstance(typ, str) else typ
            if col not in current:
                raise KeyError(f"column {col!r} not in table schema "
                               f"{sorted(current)}")
            if col in keycols:
                raise ValueError(
                    f"{col!r} is a layout key column: part placement "
                    "hashes its bytes, so widening would re-place the "
                    "same value — recluster_table first")
            if col in gd:
                raise ValueError(
                    f"{col!r} is a global-dict column (stored as "
                    "dictionary ids); its value type has no physical "
                    "width to widen")
            if not _is_legal_widening(current[col].type, typ):
                raise ValueError(
                    f"cannot widen {col!r} from {current[col].type} to "
                    f"{typ}: only exact promotions are allowed "
                    "(int8/16/32 -> wider signed int, float -> double); "
                    "narrowing or cross-family changes need a full "
                    "rewrite (read_decoded -> write_encoded)")
            fields = [pa.field(col, typ, f.nullable, f.metadata)
                      if f.name == col else f for f in fields]
    if not fields:
        raise ValueError("alter would drop every column")
    meta["renames"] = ren
    meta["altered_from"] = parent["snapshot_id"]
    if gd or "global_dicts" in meta:
        meta["global_dicts"] = gd
    if lay:
        meta["layout"] = lay
    return table.commit(dict(parent["parts"]),
                        pa.schema(fields).serialize().to_pybytes(),
                        parent, meta=meta)


def recluster_table(spark: SparkSession, table_path: str, mode: str,
                    key: list[str] | None = None,
                    n_parts: int | None = None,
                    rows_per_chunk: int | None = None,
                    codec: str | None = None,
                    block_codec: str | None = None,
                    global_dict_cols: list[str] | None = None,
                    bloom_cols: list[str] | None = None,
                    backend: CommitBackend | None = None) -> dict:
    """Layout evolution: rewrite the table's CURRENT contents under a
    new physical layout (hash <-> range <-> zorder, new key, new
    n_parts) as one atomic snapshot commit on the SAME table path —
    the Iceberg partition-evolution / replace-sort-order analog
    (Iceberg expresses it as rewrite_data_files with a new spec; the
    reference C# writer has no equivalent, its layout is fixed at
    open, ParquetFile.cs).

    The current snapshot is decoded (pending equality deletes applied,
    global dictionaries restored to values), re-encoded under the new
    layout — fresh range/zorder boundaries, fresh dictionaries, fresh
    blooms, per-part zone summaries — and committed chained to the
    parent, so time travel to the old layout keeps working until
    `vacuum_table` reclaims the old part files.  Typical use at scale:
    ingest fast into the hash layout, then recluster by url range (or
    a (user,ts) z-order) so key scans prune whole files and sorted
    urls hand the PREFIX codec its best case.

    Unspecified knobs inherit from the committed snapshot: key,
    n_parts, rows_per_chunk, codec, block_codec, and the
    global_dict/bloom column lists (pass [] to drop one).  Cost: one
    full decode + encode of live rows (plus a boundary-sampling pass
    for range/zorder); nothing is collected to the driver beyond
    lineage rows and boundaries."""
    table = EncodedTable(table_path, backend=backend)
    parent = table.current_snapshot()
    if parent is None:
        raise ValueError(f"no committed snapshot at {table_path}")
    pmeta = parent.get("meta") or {}
    layout = _layout_of(parent) or {}
    key = key or layout.get("key")
    if not key:
        raise ValueError("recluster_table needs a layout key: the "
                         "committed table is keyless (splits-format); "
                         "pass key=[...] explicitly")
    if global_dict_cols is None:
        global_dict_cols = layout.get("global_dict_cols")
    if bloom_cols is None:
        bloom_cols = layout.get("bloom_cols")
    dec = read_decoded(spark, table_path, backend=backend)
    return write_encoded(
        dec, table_path, key=key,
        n_parts=n_parts or layout.get("n_parts") or len(parent["parts"]) or 1,
        codec=codec or pmeta.get("codec") or "auto",
        rows_per_chunk=(rows_per_chunk or layout.get("rows_per_chunk")
                        or pmeta.get("rows_per_chunk")
                        or DEFAULT_ROWS_PER_CHUNK),
        block_codec=block_codec or pmeta.get("block_codec") or "auto",
        global_dict_cols=global_dict_cols or None,
        bloom_cols=bloom_cols or None,
        mode=mode, replace=True,
        mappings=pmeta.get("mappings"), backend=backend)


def export_parquet(spark: SparkSession, table_path: str, dst_path: str,
                   partition_by: list[str] | None = None,
                   columns: list[str] | None = None,
                   snapshot_id: int | None = None,
                   ref: str | None = None,
                   max_records_per_file: int | None = None,
                   backend: CommitBackend | None = None) -> dict:
    """Export a pinned snapshot's DECODED rows as a plain parquet
    dataset — the leave-the-engine interop step for consumers that
    speak only stock parquet (training jobs, external warehouses,
    pandas).  The export is a pure read of ONE snapshot (id or ref),
    so a concurrent writer cannot tear it: every row the consumer sees
    existed together in that snapshot, and re-running against the same
    snapshot is byte-reproducible.

    `partition_by` hive-partitions the output (lang/domain/day are the
    usual cuts) so downstream engines get directory-level pruning;
    global-dict columns export as their VALUES (the decoder restores
    them), renames/evolution resolve to logical names, and pending
    equality deletes are applied — the consumer sees exactly what a
    reader of this engine sees.  Refuses to overwrite an existing
    non-empty destination (exports are artifacts, not tables; publish
    a new path per snapshot).  Returns {"files", "snapshot_id"}."""
    if os.path.isdir(dst_path) and os.listdir(dst_path):
        raise ValueError(
            f"export destination {dst_path} exists and is not empty; "
            "exports are immutable artifacts — write each snapshot to "
            "a fresh path")
    table = EncodedTable(table_path, backend=backend)
    snap = _resolve_snap(table, snapshot_id, ref)
    if snap is None:
        raise ValueError(f"no committed snapshot at {table_path}")
    # decode THIS resolved snapshot: re-resolving `ref` could read a
    # branch that moved since, and mislabel the rows' snapshot_id
    w = _decode_snapshot(spark, table, snap, columns).write.mode("error")
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", int(max_records_per_file))
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(dst_path)
    n_files = sum(1 for _, _, fs in os.walk(dst_path)
                  for f in fs if f.endswith(".parquet"))
    return {"files": n_files, "snapshot_id": snap["snapshot_id"]}


def relocate_table(spark: SparkSession, src_path: str, dst_path: str,
                   n_parts: int, by: str = "range",
                   src_backend: CommitBackend | None = None,
                   dst_backend: CommitBackend | None = None) -> dict:
    """Re-layout an encoded table by moving COMPRESSED chunk rows —
    no decode, no re-encode.  At 100 TB this is the cheap ownership
    change: the shuffle moves ~1/compression_ratio of the raw bytes and
    burns no codec CPU; only the chunk-row metadata is examined.

    by="range": chunks are range-partitioned on their zone-map key_min
    (string or numeric), giving each new part a contiguous key span —
    the layout that makes later range scans prune whole PARTS.
    by="hash": chunks spread by hash of key_min (uniform ownership).
    Chunks are never split, so part key-spans can overlap at chunk
    granularity; zone maps stay exact per chunk, so pruning is
    unaffected."""
    src = EncodedTable(src_path, backend=src_backend)
    parent_src = src.current_snapshot()
    if parent_src is None:
        raise ValueError(f"no committed snapshot at {src_path}")
    if (parent_src.get("meta") or {}).get("delete_files"):
        # same hazard as compaction: relocation renumbers part ids,
        # which would mis-scope the part-bounded delete files — apply
        # them physically on the source first (one extra src commit)
        parent_src = rewrite_table(spark, src_path, backend=src_backend)
    enc = read_encoded(spark, src_path)
    if by == "range":
        # typed range partitioning: numeric keys order on the int64 zone
        # value (a string cast would sort '10' < '2' and break part
        # contiguity for timestamp/int-keyed tables); string keys on the
        # string zone.  One of the two is NULL per table — NULLS FIRST
        # on the unused column is harmless.
        dfp = (enc.repartitionByRange(n_parts, "key_min_num", "key_min")
               .sortWithinPartitions("key_min_num", "key_min"))
    else:
        dfp = enc.repartition(
            n_parts, F.xxhash64(F.coalesce(
                F.col("key_min"), F.col("key_min_num").cast("string"))))
    data_dir = os.path.join(dst_path, "data")
    os.makedirs(data_dir, exist_ok=True)
    token = uuid.uuid4().hex[:12]

    def writer(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        t0 = time.monotonic()
        rows = [b for b in batches if b.num_rows]
        if not rows:
            return
        tbl = pa.Table.from_batches(rows)
        # renumber (part_id, chunk_id) into the new namespace
        n = tbl.num_rows
        tbl = tbl.set_column(
            tbl.schema.get_field_index("part_id"), "part_id",
            pa.array(np.full(n, pid, dtype=np.int64)))
        tbl = tbl.set_column(
            tbl.schema.get_field_index("chunk_id"), "chunk_id",
            pa.array(np.arange(n, dtype=np.int64)))
        final = os.path.join(data_dir,
                             f"part-{pid:05d}-{token}.parquet")
        fhash = write_part_atomic(tbl, final)
        cmix = sorted({c for ch in tbl.column("codecs") for c in ch.as_py()})
        yield pa.RecordBatch.from_pylist([{
            "part_id": pid, "file": final, "n_chunks": n,
            "n_rows": int(pa.compute.sum(tbl.column("n_rows")).as_py()),
            "bytes_in": int(sum(sum(v.as_py()) for v in tbl.column("bytes_in"))),
            "bytes_out": int(sum(sum(v.as_py()) for v in tbl.column("bytes_out"))),
            "wall_ms": (time.monotonic() - t0) * 1000.0,
            "codecs": ",".join(cmix),
            "zones": part_zone_summary_from_chunkrows(tbl),
            "file_hash": fhash,
        }])

    lineage = dfp.mapInArrow(writer, LINEAGE_DDL).collect()
    parts = {str(r.part_id): {
        "file": r.file, "n_chunks": r.n_chunks, "n_rows": r.n_rows,
        "bytes_in": r.bytes_in, "bytes_out": r.bytes_out,
        "wall_ms": r.wall_ms, "codecs": r.codecs,
        "zones": json.loads(r.zones) if r.zones else {},
        "file_hash": r.file_hash} for r in lineage}
    dst = EncodedTable(dst_path, backend=dst_backend)
    meta = {"relocated_from": src_path,
            "src_snapshot_id": parent_src["snapshot_id"],
            "by": by, "layout": {"mode": "relocated", "by": by,
                                 "n_parts": n_parts}}
    # encoding policy + chunk size survive relocation (a later rechunk
    # compaction of the destination must honor the source's policy)
    for carry in ("mappings", "global_dicts", "codec", "block_codec",
                  "rows_per_chunk"):
        if (parent_src.get("meta") or {}).get(carry):
            meta[carry] = parent_src["meta"][carry]
    if (parent_src.get("meta") or {}).get("renames") is not None:
        meta["renames"] = parent_src["meta"]["renames"]
    schema_ipc = None
    if parent_src.get("schema_ipc_b64"):
        schema_ipc = base64.b64decode(parent_src["schema_ipc_b64"])
    return dst.commit(parts, schema_ipc, dst.current_snapshot(), meta=meta)


def create_ref(table_path: str, name: str,
               snapshot_id: int | None = None, kind: str = "tag",
               backend: CommitBackend | None = None) -> dict:
    """Pin a snapshot under a NAME — the Iceberg tag/branch-ref analog
    (the training-data use case: tag the exact dataset version a run
    trained on, read it back by name forever).

    `kind="tag"` is immutable: creating an existing tag raises (the
    file is O_EXCL-created, so two racers cannot both succeed).
    `kind="branch"` is a movable alias: re-creating it atomically
    moves the pointer (last-writer-wins, documented — branches here
    are read aliases, not divergent write targets; commits always
    target CURRENT).  The ref records the snapshot's exact stored
    manifest file, so resolution is immune to losing racers' same-id
    orphans.  `vacuum_table` keeps every ref-referenced file alive,
    so a tag outlives compactions/reclusters until it is dropped."""
    if kind not in ("tag", "branch"):
        raise ValueError(f"kind must be 'tag' or 'branch', got {kind!r}")
    if not name or "/" in name or name.startswith("."):
        raise ValueError(f"invalid ref name {name!r}")
    table = EncodedTable(table_path, backend=backend)
    snap = (table.snapshot_at(snapshot_id) if snapshot_id is not None
            else table.current_snapshot())
    if snap is None:
        raise ValueError(f"no committed snapshot at {table_path}")
    ref = {"name": name, "kind": kind,
           "snapshot_id": snap["snapshot_id"],
           "snap_name": snap["_snap_name"],
           "created_at": time.time()}
    refs_dir = os.path.join(table_path, "refs")
    os.makedirs(refs_dir, exist_ok=True)
    path = os.path.join(refs_dir, f"{name}.json")
    payload = json.dumps(ref).encode()
    if kind == "tag":
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            raise ValueError(
                f"tag {name!r} already exists at {table_path} (tags are "
                "immutable; drop_ref first, or use kind='branch')")
        with os.fdopen(fd, "wb") as f:
            f.write(payload)
    else:
        if os.path.exists(path):
            old = json.loads(open(path, "rb").read())
            if old.get("kind") == "tag":
                raise ValueError(f"ref {name!r} is a tag; tags are "
                                 "immutable (drop_ref first)")
        tmp = path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "wb") as f:
            f.write(payload)
        os.replace(tmp, path)
    return ref


def _set_branch_ref(table_path: str, name: str, snap: dict) -> dict:
    """Point the named branch ref at a (possibly staged) snapshot —
    atomic replace, tag names refused.  Branch pointer moves are
    last-writer-wins by design (create_ref docstring); the DATA race
    is resolved by publish's CAS, never here."""
    if not name or "/" in name or name.startswith("."):
        raise ValueError(f"invalid ref name {name!r}")
    ref = {"name": name, "kind": "branch",
           "snapshot_id": snap["snapshot_id"],
           "snap_name": snap["_snap_name"],
           "created_at": time.time()}
    refs_dir = os.path.join(table_path, "refs")
    os.makedirs(refs_dir, exist_ok=True)
    path = os.path.join(refs_dir, f"{name}.json")
    if os.path.exists(path):
        old = json.loads(open(path, "rb").read())
        if old.get("kind") == "tag":
            raise ValueError(f"ref {name!r} is a tag; tags are "
                             "immutable (drop_ref first)")
    tmp = path + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        f.write(json.dumps(ref))
    os.replace(tmp, path)
    return ref


def publish_branch(table_path: str, name: str,
                   backend: CommitBackend | None = None) -> dict:
    """Atomically fast-forward the published table to a WAP branch head
    (the publish half of write-audit-publish): verifies CURRENT is an
    ANCESTOR of the branch head — the staged chain must have forked
    from what is published now — then CAS-flips the pointer to the
    audited snapshot.  If another writer committed to CURRENT since the
    branch forked, this raises ConcurrentCommitError instead of
    silently dropping their commit (re-stage on a fresh branch).  The
    branch ref remains, now naming a published snapshot; `drop_ref` it
    when done.  Returns the published snapshot."""
    table = EncodedTable(table_path, backend=backend)
    refs = list_refs(table_path)
    if name not in refs:
        raise ValueError(f"no ref {name!r} at {table_path} "
                         f"(have: {sorted(refs)})")
    if refs[name].get("kind") != "branch":
        raise ValueError(f"ref {name!r} is a tag, not a branch")
    head = table._load_snapshot(refs[name]["snap_name"])
    cur_name = table._current_name()
    if head["_snap_name"] == cur_name:
        return head  # already published: no-op
    # fast-forward check: walk the branch head's parent chain down to
    # the fork; CURRENT must appear on it (None = fork at table birth)
    snap = head
    while True:
        pn = snap.get("parent_name")
        if pn == cur_name:
            break
        if pn is None:
            raise ConcurrentCommitError(
                f"cannot fast-forward: CURRENT ({cur_name!r}) is not "
                f"an ancestor of branch {name!r} head "
                f"({head['_snap_name']!r}) — the published table moved "
                "since the branch forked; re-stage against the new "
                "head")
        snap = table._load_snapshot(pn)
    table.backend.publish(head["_snap_name"], cur_name)
    return head


def list_refs(table_path: str) -> dict[str, dict]:
    """All named refs of the table (name -> ref record)."""
    refs_dir = os.path.join(table_path, "refs")
    out: dict[str, dict] = {}
    try:
        names = sorted(os.listdir(refs_dir))
    except OSError:
        return out
    for n in names:
        if n.endswith(".json"):
            with open(os.path.join(refs_dir, n), "rb") as f:
                ref = json.loads(f.read())
            out[ref["name"]] = ref
    return out


def drop_ref(table_path: str, name: str) -> None:
    """Remove a ref.  Files it alone kept alive become vacuum-eligible
    on the next `vacuum_table`."""
    path = os.path.join(table_path, "refs", f"{name}.json")
    try:
        os.remove(path)
    except FileNotFoundError:
        raise ValueError(f"no ref {name!r} at {table_path}")


def _ref_snapshot(table: "EncodedTable", name: str) -> dict:
    refs = list_refs(table.path)
    if name not in refs:
        raise ValueError(f"no ref {name!r} at {table.path} "
                         f"(have: {sorted(refs)})")
    return table._load_snapshot(refs[name]["snap_name"])


def vacuum_table(table_path: str, grace_s: float = 3600.0,
                 backend: CommitBackend | None = None) -> list[str]:
    """Delete data files not referenced by the CURRENT snapshot or by
    any named ref (tags pin their snapshot's files — Iceberg's
    expire-snapshots-respects-refs rule).

    Separate from compaction by design: deleting eagerly at commit time
    would break time-travel to parent snapshots and, worse, a crash
    window where CURRENT still points at a deleted file.  `grace_s`
    protects IN-FLIGHT writers: their part files exist before their
    commit, so anything younger than the grace window is spared even if
    unreferenced (same idea as Iceberg's orphan-file min age).  Returns
    the removed paths."""
    table = EncodedTable(table_path, backend=backend)
    live = set(os.path.abspath(f) for f in table.data_files())
    for ref in list_refs(table_path).values():
        snap = table._load_snapshot(ref["snap_name"])
        live.update(os.path.abspath(f) for f in table.data_files(snap))
        for df in (snap.get("meta") or {}).get("delete_files") or []:
            live.add(os.path.abspath(df["path"]))
    removed = []
    cutoff = time.time() - grace_s
    data_dir = os.path.join(table_path, "data")
    for name in sorted(os.listdir(data_dir)):
        p = os.path.abspath(os.path.join(data_dir, name))
        if p in live or not name.endswith(".parquet"):
            continue
        try:
            if os.path.getmtime(p) > cutoff:
                continue  # possibly an in-flight writer's file
            os.remove(p)
        except OSError:
            continue
        removed.append(p)
    # ANALYZE sidecars (stats.analyze_table) are advisory but keyed by
    # snapshot id — keep a snapshot's stats exactly as long as the
    # snapshot stays READABLE, i.e. every data file it references
    # survived this vacuum (append-only ancestors keep theirs; a
    # compacted-away ancestor just lost its files, so its stats
    # describe a table nobody can read again).  Same grace window (a
    # racing ANALYZE writes before its snapshot is necessarily visible
    # on this reader's chain walk).  The whole walk is skipped for
    # never-ANALYZEd tables, and shared ancestors are visited once
    # across heads — vacuum must stay a cheap orphan sweep.
    stats_dir = os.path.join(table_path, "stats")
    if os.path.isdir(stats_dir):
        import re
        reachable: set[int] = set()
        seen_snaps: set[str] = set()
        heads = [table.current_snapshot()] + [
            table._load_snapshot(r["snap_name"])
            for r in list_refs(table_path).values()]
        for snap in heads:
            while snap is not None:
                nm = snap.get("_snap_name")
                if nm in seen_snaps:
                    break
                seen_snaps.add(nm)
                files = {os.path.abspath(f)
                         for f in table.data_files(snap)}
                if files <= live:
                    reachable.add(int(snap["snapshot_id"]))
                snap = table._parent_of(snap)
        for name in sorted(os.listdir(stats_dir)):
            m = re.match(r"stats-(\d+)-.*\.json$", name)
            if m and int(m.group(1)) in reachable:
                continue
            if not m and not name.startswith(".tmp-stats-"):
                continue  # keep: a crashed writer's .tmp-stats-* is
                # an orphan (table_stats never reads it) and IS swept;
                # anything else in stats/ is not ours to delete
            p = os.path.join(stats_dir, name)
            try:
                if os.path.getmtime(p) > cutoff:
                    continue
                os.remove(p)
            except OSError:
                continue
            removed.append(os.path.abspath(p))
    return removed


def expire_snapshots(table_path: str, keep_last: int = 1,
                     older_than_s: float = 3600.0,
                     backend: CommitBackend | None = None) -> dict:
    """Truncate table HISTORY: delete ancestor snapshot objects beyond
    the newest `keep_last` on the CURRENT chain (Iceberg's
    expire-snapshots), plus orphan snapshot jsons that losing racers
    left behind.  The complement of `vacuum_table`, which reclaims DATA
    files — run expire first, then vacuum, and the expired snapshots'
    exclusive data files go too.

    Protection rules (all conservative):
      * the newest `keep_last` CURRENT-chain snapshots always survive;
      * every snapshot reachable from ANY named ref survives — tags pin
        their whole ancestor chain here (stronger than Iceberg, which
        ages ref ancestors separately);
      * nothing younger than `older_than_s` is touched (same in-flight
        grace as vacuum — a racer may be about to reference it).

    Expired ON-CHAIN names are recorded in an append-only tombstone
    (snapshots/expired-<uuid>.json) BEFORE any object is deleted, so a
    concurrent or later chain walk resolves the missing parent as
    'history ends here' instead of corruption; `fsck` keeps flagging
    truly lost (untombstoned) snapshots.  Orphans were never on any
    chain, so they are deleted without a tombstone.  Time travel to an
    expired snapshot id raises (it is no longer an ancestor), exactly
    like Iceberg.

    Snapshot objects are files under snapshots/ for both shipped
    backends; an object-store backend maps the removals to DELETE
    calls.  Returns {"expired": [...], "orphans_removed": [...],
    "tombstone": name | None}."""
    table = EncodedTable(table_path, backend=backend)
    cutoff = time.time() - older_than_s

    # reachable set per head, protecting refs' full chains
    protected: set[str] = set()
    chain: list[str] = []  # CURRENT chain newest -> oldest
    snap = table.current_snapshot()
    while snap is not None:
        chain.append(snap["_snap_name"])
        snap = table._parent_of(snap)
    protected.update(chain[:max(keep_last, 1)])
    reachable: set[str] = set(chain)
    for name, ref in list_refs(table_path).items():
        try:
            snap = table._load_snapshot(ref["snap_name"])
        except (OSError, ValueError):
            # a broken ref cannot enumerate the chain it pins, so ANY
            # deletion would risk destroying exactly what the ref was
            # protecting — refuse instead of guessing (fsck reports it;
            # repair or drop_ref, then expire)
            raise ValueError(
                f"ref {name!r} at {table_path} points to unreadable "
                f"snapshot {ref['snap_name']}; expiry cannot prove what "
                "it protects — run fsck, then repair or drop_ref first")
        # chains share ancestors: stop each walk at the first
        # already-protected snapshot (O(total distinct snapshots), not
        # O(refs x chain) — on an object-store backend every load is a
        # GET)
        while snap is not None and snap["_snap_name"] not in protected:
            nm = snap["_snap_name"]
            reachable.add(nm)
            protected.add(nm)
            snap = table._parent_of(snap)

    def _old_enough(name: str) -> bool:
        try:
            return os.path.getmtime(
                os.path.join(table.snap_dir, name)) <= cutoff
        except OSError:
            return False

    expired = [n for n in chain if n not in protected and _old_enough(n)]
    try:
        listing = sorted(os.listdir(table.snap_dir))
    except OSError:
        listing = []
    already = table._expired_names()
    orphans = [n for n in listing
               if n.endswith(".json") and not n.startswith("expired-")
               and n not in reachable and n not in already
               and _old_enough(n)]
    # finish a crashed prior expiry: a name recorded in a tombstone but
    # still present on storage was tombstoned-then-not-deleted (crash
    # between the tombstone write and the removal loop); no other code
    # path reclaims it (the orphan sweep and fsck both skip tombstoned
    # names by design), so sweep it here
    orphans += [n for n in listing
                if n.endswith(".json") and n in already
                and n not in protected and n not in expired]

    tombstone = None
    if expired:
        tombstone = f"expired-{uuid.uuid4().hex}.json"
        tmp = os.path.join(table.snap_dir, f".tmp-{tombstone}")
        with open(tmp, "w") as f:
            json.dump({"expired": expired, "ts": time.time()}, f)
        os.replace(tmp, os.path.join(table.snap_dir, tombstone))
    for name in expired + orphans:
        try:
            os.remove(os.path.join(table.snap_dir, name))
        except OSError:
            pass
    table._expired_cache = None  # this handle must re-read tombstones
    return {"expired": expired, "orphans_removed": orphans,
            "tombstone": tombstone}


def maintain_table(spark: SparkSession, table_path: str, *,
                   binpack_small_bytes: int | None = None,
                   binpack_target_bytes: int = 64 << 20,
                   expire_keep_last: int | None = None,
                   older_than_s: float = 3600.0,
                   vacuum: bool = True,
                   vacuum_grace_s: float = 3600.0,
                   fsck: bool = True,
                   backend: CommitBackend | None = None) -> dict:
    """One maintenance pass in the only order that composes correctly:
    bin-pack small parts FIRST (so the snapshot that expiry/vacuum
    protect is the healthy layout), then expire history, then vacuum —
    the expired snapshots' exclusive data files and the binpacked
    originals are reclaimable only after both metadata steps — then an
    fsck audit of what remains.  Steps whose knob is None are skipped;
    every step is the public verb, so each keeps its own documented
    contract (grace windows, ref pinning, tombstones, carried-by-
    reference parts).  Returns {"binpack", "expire", "vacuumed",
    "fsck"} with each step's own report (or None when skipped).

    Intended as the daily cron body for a streaming-ingested table at
    10^12 docs: binpack cost ∝ the day's fragmentation, expire/vacuum
    are driver-only metadata plus unreferenced-file deletes, fsck is
    O(manifest)."""
    report: dict = {"binpack": None, "expire": None, "vacuumed": None,
                    "fsck": None}
    if binpack_small_bytes is not None:
        before = EncodedTable(table_path, backend=backend) \
            .current_snapshot()
        snap = compact_small_parts(
            spark, table_path, small_bytes=binpack_small_bytes,
            target_bytes=binpack_target_bytes, backend=backend)
        # a no-op returns the unchanged snapshot, whose meta may still
        # carry a PREVIOUS pass's binpack provenance — never report
        # stale work as this pass's
        if before is not None and \
                snap["snapshot_id"] == before["snapshot_id"]:
            report["binpack"] = {"rewrote": 0, "carried":
                                 len(snap["parts"]), "bins": 0,
                                 "noop": True}
        else:
            report["binpack"] = (snap.get("meta") or {}).get("binpack")
    if expire_keep_last is not None:
        report["expire"] = expire_snapshots(
            table_path, keep_last=expire_keep_last,
            older_than_s=older_than_s, backend=backend)
    if vacuum:
        report["vacuumed"] = vacuum_table(
            table_path, grace_s=vacuum_grace_s, backend=backend)
    if fsck:
        from .fsck import fsck_table
        report["fsck"] = fsck_table(table_path, backend=backend)
    return report


def rollback_table(table_path: str, snapshot_id: int | None = None,
                   ref: str | None = None,
                   backend: CommitBackend | None = None) -> dict:
    """Restore an earlier table state as a NEW commit (Iceberg's
    rollback, revert-flavoured): CURRENT advances to a snapshot whose
    parts/schema/meta are copied verbatim from the target, so every
    reader sees the old data while history stays intact — the
    rolled-past snapshots remain time-travelable until
    `expire_snapshots` ages them out, and the rollback is itself one
    more undoable commit (rolling back a rollback works).

    The target may be any resolvable snapshot: a chain ancestor by id,
    or any named ref (tag/branch) — restoring a tagged known-good state
    is the motivating use.  Refuses when any file the target references
    (data or delete files) is missing: a too-eager `vacuum_table` may
    have reclaimed an unpinned ancestor's files, and a rollback that
    commits dangling references would poison CURRENT for all readers.

    CAS rules are unchanged — a racer committing between resolve and
    commit raises ConcurrentCommitError; rerun to re-plan against the
    new CURRENT."""
    table = EncodedTable(table_path, backend=backend)
    target = _resolve_snap(table, snapshot_id, ref)
    if target is None:
        raise ValueError(f"no snapshot to roll back to at {table_path}")
    current = table.current_snapshot()
    if current is not None and \
            target["_snap_name"] == current.get("_snap_name"):
        return current  # already there: no-op, never an empty commit
    missing = [f for f in table.data_files(target)
               if not os.path.exists(f)]
    # legacy delete_files entries are bare path strings (the format
    # _delete_key_frame and fsck still honor), newer ones are dicts
    dpaths = [d["path"] if isinstance(d, dict) else d
              for d in (target.get("meta") or {}).get("delete_files")
              or []]
    missing += [p for p in dpaths if not os.path.exists(p)]
    if missing:
        raise ValueError(
            f"cannot roll back {table_path} to snapshot "
            f"{target['snapshot_id']}: {len(missing)} referenced file(s) "
            f"no longer exist (vacuumed?), e.g. {missing[0]}")
    b64 = target.get("schema_ipc_b64")
    schema_ipc = base64.b64decode(b64) if b64 else None
    meta = dict(target.get("meta") or {})
    meta["rollback_of"] = {"snapshot_id": target["snapshot_id"],
                           "snap_name": target["_snap_name"]}
    return table.commit(dict(target["parts"]), schema_ipc, current, meta)


def cherry_pick_snapshot(table_path: str, snapshot_id: int | None = None,
                         ref: str | None = None,
                         backend: CommitBackend | None = None) -> dict:
    """Apply ONE snapshot's append onto CURRENT as a new commit
    (Iceberg's cherrypick_snapshot): the selective-publish complement
    of `publish_branch`, which can only fast-forward a whole staged
    chain.  With several WAP audit branches forked from the same
    published state, cherry-pick publishes exactly the audited one —
    the others stay staged — and picking the SAME snapshot again is a
    no-op (idempotent: an already-present identical part is skipped).

    Only APPEND-ONLY snapshots qualify: every part of the target's
    parent must appear unchanged in the target (compactions, rewrites,
    reclusters and delete commits are not a portable 'change', they
    are a whole-table state).  Refused loudly when the pick cannot be
    proven safe against what CURRENT has become since the fork:
      * a new part id already taken by a DIFFERENT part on CURRENT
        (both chains claimed the id — re-stage against fresh ids);
      * layout / schema / rename-map / global-dict / mappings
        divergence between CURRENT and the staged chain (the appended
        chunks were encoded and placed under the fork's contracts);
      * pending equality deletes on either side (delete files are
        part-id-scoped; grafting ids under a live scope could
        resurrect or re-kill rows — `rewrite_table` first).

    Driver-only metadata op: no Spark job, no data file is read or
    moved; the added parts' manifest entries (file, zones, blooms,
    hash) transfer by reference.  Returns the new snapshot (or
    CURRENT when everything was already applied)."""
    table = EncodedTable(table_path, backend=backend)
    target = _resolve_snap(table, snapshot_id, ref)
    if target is None:
        raise ValueError(f"no snapshot to cherry-pick at {table_path}")
    tparent = table._parent_of(target)
    if tparent is None:
        raise ValueError(
            f"snapshot {target['snapshot_id']} is a chain root; a "
            "cherry-pick needs a parent to diff against (use "
            "rollback_table to restore a whole state)")
    pparts, tparts = tparent["parts"], target["parts"]
    changed = [pid for pid, p in pparts.items()
               if tparts.get(pid) != p]
    if changed:
        raise ValueError(
            f"snapshot {target['snapshot_id']} is not append-only "
            f"(parts {sorted(changed)[:4]}... changed or vanished vs its "
            "parent); only append snapshots can be cherry-picked")
    current = table.current_snapshot()
    if current is None:
        raise ValueError(
            f"nothing is published at {table_path}; fast-forward with "
            "publish_branch instead of cherry-picking onto nothing")
    if current["_snap_name"] == target["_snap_name"]:
        return current

    def _dels(s):
        return (s.get("meta") or {}).get("delete_files") or []
    if _dels(current):
        raise ValueError(
            f"{table_path} has pending equality deletes; their part-id "
            "scope cannot absorb grafted ids — rewrite_table first")
    if json.dumps(_dels(target), sort_keys=True) != \
            json.dumps(_dels(tparent), sort_keys=True):
        raise ValueError(
            f"snapshot {target['snapshot_id']} changes delete state; "
            "delete commits are not cherry-pickable")
    cmeta = current.get("meta") or {}
    tmeta = target.get("meta") or {}
    for k in ("renames", "global_dicts", "mappings"):
        if cmeta.get(k) != tmeta.get(k):
            raise ValueError(
                f"{k!r} diverged between CURRENT and the staged chain; "
                "the appended chunks were encoded under the fork's "
                f"contract — re-stage against the current table")
    if _layout_of(current) != _layout_of(target):
        raise ValueError(
            "layout diverged between CURRENT and the staged chain "
            f"({_layout_of(current)} != {_layout_of(target)}); part "
            "placement is not portable across layouts")
    if (current.get("schema_ipc_b64") or None) != \
            (target.get("schema_ipc_b64") or None):
        raise ValueError(
            "schema diverged between CURRENT and the staged chain; "
            "re-stage the append against the current table")
    added = {pid: p for pid, p in tparts.items() if pid not in pparts}
    clash = sorted(pid for pid, p in added.items()
                   if pid in current["parts"]
                   and current["parts"][pid] != p)
    if clash:
        raise ValueError(
            f"cannot cherry-pick snapshot {target['snapshot_id']}: part "
            f"ids {clash} were claimed by different parts on CURRENT "
            "since the fork — re-stage the append with fresh part ids")
    fresh = {pid: p for pid, p in added.items()
             if current["parts"].get(pid) != p}
    if not fresh:
        return current  # every added part already applied: no-op
    parts = dict(current["parts"])
    parts.update(fresh)
    meta = dict(cmeta)
    meta["cherry_picked_from"] = {"snapshot_id": target["snapshot_id"],
                                  "snap_name": target["_snap_name"]}
    return table.commit(parts, None, current, meta=meta)


def _resolve_snap(table: "EncodedTable",
                  snapshot_id: int | None,
                  ref: str | None = None) -> dict | None:
    if ref is not None:
        if snapshot_id is not None:
            raise ValueError("pass snapshot_id or ref, not both")
        return _ref_snapshot(table, ref)
    return (table.snapshot_at(snapshot_id) if snapshot_id is not None
            else table.current_snapshot())


def read_encoded(spark: SparkSession, table_path: str,
                 backend: CommitBackend | None = None,
                 snapshot_id: int | None = None,
                 ref: str | None = None) -> DataFrame:
    """Chunk rows of the CURRENT snapshot (uncommitted files invisible),
    or of an ancestor snapshot when `snapshot_id` is given (time travel
    — valid until `vacuum_table` reclaims the old files).

    Read with the chunk-row schema pinned explicitly: a resumed legacy
    table can mix v1 (fewer-column) and v2 part files, and an unpinned
    read takes ONE footer's schema — which file wins would decide
    whether the zone_* columns exist.  Pinning makes v1/v2 coexistence
    deterministic (absent columns read as null, which every zone
    consumer already treats as "keep the chunk")."""
    table = EncodedTable(table_path, backend=backend)
    files = table.data_files(_resolve_snap(table, snapshot_id, ref))
    if not files:
        raise ValueError(f"no committed snapshot at {table_path}")
    return spark.read.schema(ENCODED_DDL).parquet(*files)


def read_decoded(spark: SparkSession, table_path: str,
                 columns: list[str] | None = None,
                 backend: CommitBackend | None = None,
                 snapshot_id: int | None = None,
                 ref: str | None = None) -> DataFrame:
    """Decoded rows of the CURRENT snapshot (or of an ancestor snapshot
    when `snapshot_id` is given — the schema AND global dictionaries of
    THAT snapshot apply, so time travel sees exactly what a reader saw
    then).  Columns written with `global_dict_cols` are transparently
    restored from int ids to their values via the dictionary persisted
    in the snapshot meta, inside the executor-side decode (one pc.take
    per chunk — no join, no shuffle).  `ref="name"` reads the snapshot
    a named tag/branch pins (create_ref) — the
    reproducible-training-dataset handle."""
    table = EncodedTable(table_path, backend=backend)
    return _decode_snapshot(spark, table,
                            _resolve_snap(table, snapshot_id, ref), columns)


def _decode_snapshot(spark: SparkSession, table: "EncodedTable",
                     snap: dict | None, columns: list[str] | None,
                     files: list[str] | None = None,
                     zpred: list[tuple] | dict | None = None) -> DataFrame:
    """Decoded rows of an already-RESOLVED snapshot — never re-resolves
    a ref, so a caller's reported snapshot id always names the rows it
    returns.  The snapshot's schema, renames and global dictionaries
    drive the decode; pending equality deletes are applied (the layout
    key decodes too when the projection excludes it, and is dropped
    again).  `files` narrows to some of the snapshot's part files
    (default: all of them); `zpred` (_translate_pred's zone predicate)
    prunes chunks.  The plan is engine.decode_files' Range ->
    MapInArrow: one task per file reads, prunes and decodes it in the
    Python worker (engine.read_part_file), so chunk rows and payloads
    never pass through the JVM."""
    if files is None:
        files = table.data_files(snap)
        if not files:
            raise ValueError(f"no committed snapshot at {table.path}")
    meta = table.meta(snap)
    has_deletes = bool(meta.get("delete_files"))
    key = ((_layout_of(snap) or {}).get("key") if has_deletes else None) \
        or []
    extra = [k for k in key if columns is not None and k not in columns]
    dec = decode_files(spark, files, table.schema(snap),
                       columns=columns + extra if extra else columns,
                       with_part_id=has_deletes,
                       renames=meta.get("renames"),
                       gdicts=meta.get("global_dicts"), zpred=zpred)
    if has_deletes:
        dec = _apply_deletes(spark, dec, meta)
    return dec.drop(*extra) if extra else dec


# widest value-range on a dict column that still translates to an id
# IN-list for zone pruning; wider ranges skip pruning for that term
# (conservative — the residual on restored values stays exact)
_GDICT_PRUNE_MAX = 512


def _prune_parts(parts: dict[str, dict],
                 pred: list[tuple] | dict) -> list[str]:
    """File-level pruning from the snapshot manifest (the Iceberg
    per-data-file column-bounds prune): O(parts) pure-python driver
    work, zero Spark jobs, zero footers read for skipped files.  Bites
    hardest on range/zorder-clustered layouts where parts own disjoint
    key ranges; on hash layouts every part spans the key space and the
    summaries keep everything (correct, just not helpful).  Returns
    surviving files in part order."""
    def keep(info: dict) -> bool:
        zones = info.get("zones") or {}
        n = info.get("n_rows") or 0
        if isinstance(pred, dict):
            return any(all(_part_keep_term(zones, n, t) for t in ts)
                       for ts in pred["any"])
        return all(_part_keep_term(zones, n, t) for t in pred)

    return [info["file"]
            for _, info in sorted(parts.items(), key=lambda kv: int(kv[0]))
            if keep(info)]


def _translate_pred(pred: list[tuple] | dict, gdicts: dict,
                    renames: dict, return_complete: bool = False):
    """Value-space predicate -> zone-space predicate: global-dict
    column terms become id IN-lists (capped at _GDICT_PRUNE_MAX —
    wider sets skip pruning, the exact residual still applies), and
    every term expands over the column's PHYSICAL aliases (alter_table
    renames) — zone/bloom summaries are keyed physically, a chunk
    populates at most one alias, and absent names keep conservatively,
    so the AND over aliases is exact per chunk."""
    def phys_aliases(col):
        return [col] + [p for p, l in renames.items()
                        if l == col and p != col]

    dropped: list[bool] = []
    grouped: list[list[list[tuple]]] = []

    def translate(terms):
        out = []
        groups: list[list[tuple]] = []
        dropped.append(False)
        grouped.append(groups)
        for term in terms:
            t = _norm_term(term)
            col = t[1]
            if col not in gdicts or t[0] in ("isnull", "notnull"):
                # null VALUES are stored as null IDS, so null-count
                # pruning works unchanged on dict columns
                g = [(p,) + tuple(term[1:]) for p in phys_aliases(col)]
                groups.append(g)
                out.extend(g)
                continue
            vals = gdicts[col]
            if t[0] == "in":
                index = {v: i for i, v in enumerate(vals)}
                ids = [index[v] for v in t[2] if v in index]
                if len(ids) > _GDICT_PRUNE_MAX:
                    dropped[-1] = True
                    continue  # a huge IN-list would expand into an
                    # equally huge literal id array inside the zone-keep
                    # expression — skip pruning, the exact residual
                    # still applies
            elif t[0] == "prefix":
                ids = [i for i, v in enumerate(vals)
                       if v is not None and v.startswith(t[2])]
                if len(ids) > _GDICT_PRUNE_MAX:
                    dropped[-1] = True
                    continue  # too many matching dict values: no
                    # pruning, exact residual still applies
            else:
                _, _, lo, hi = t
                ids = [i for i, v in enumerate(vals)
                       if v is not None
                       and (lo is None or v >= lo)
                       and (hi is None or v <= hi)]
                if len(ids) > _GDICT_PRUNE_MAX:
                    dropped[-1] = True
                    continue  # too wide to enumerate: no pruning, exact
                    # residual still applies
            # empty id-set = no stored value can match: -1 is below
            # every id, so the zone check prunes every chunk
            g = [(p, "in", ids or [-1]) for p in phys_aliases(col)]
            groups.append(g)
            out.extend(g)
        return out

    if isinstance(pred, dict):
        z = {"any": [translate(ts) for ts in pred["any"]]}
    else:
        z = translate(pred)
    if not return_complete:
        return z
    # complete = no term of that AND-branch was dropped: only then may
    # a caller trust the branch's zone AND as a DEFINITE (all-rows)
    # proof — a dropped term still filters rows in the residual.
    # `grouped` keeps the logical-term -> alias-terms structure: the
    # definite half must OR within a group (a chunk populates at most
    # one alias, so exactly one alias test can prove it) and AND
    # across groups.
    if isinstance(pred, dict):
        return z, [not d for d in dropped], grouped
    return z, not dropped[0], grouped[0]


def count_where(spark: SparkSession, table_path: str,
                pred: list[tuple] | dict,
                backend: CommitBackend | None = None,
                snapshot_id: int | None = None,
                ref: str | None = None) -> int:
    """COUNT(*) WHERE pred with full aggregate pushdown — the
    table-level (dict-aware, rename-aware, file-pruned) analog of
    engine.count_filtered: files prune from the manifest driver-side,
    chunks the zone metadata PROVES fully matching contribute their
    stored n_rows with zero decompression, and only boundary chunks
    decode for the exact residual.  On a range/zorder layout a wide
    key-range count costs O(metadata) + ~2 boundary chunks per part at
    ANY table size.  Pending equality deletes force the exact path
    (scan_table().count()): stored n_rows can't see deleted rows.
    Always equals scan_table(...).count()."""
    from .engine import _pred_zone_conds
    table = EncodedTable(table_path, backend=backend)
    snap = _resolve_snap(table, snapshot_id, ref)
    meta = table.meta(snap)
    if meta.get("delete_files"):
        return scan_table(spark, table_path, pred, backend=backend,
                          snapshot_id=snapshot_id, ref=ref).count()
    gdicts = meta.get("global_dicts") or {}
    renames = meta.get("renames") or {}
    zpred, complete, grouped = _translate_pred(pred, gdicts, renames,
                                               return_complete=True)
    files = _prune_parts(table.committed_parts(snap), zpred)
    if not files:
        return 0
    enc = spark.read.schema(ENCODED_DDL).parquet(*files)
    keep, _ = _pred_zone_conds(zpred)
    full = _grouped_full(grouped, complete, is_any=isinstance(zpred, dict))
    # ONE metadata-only job: provably-full rows AND the boundary-chunk
    # count together (neither touches `payloads`, so the parquet scan
    # reads zone columns only); when no chunk is boundary the decode
    # job never launches — an all-covered count costs zero payload I/O
    st = enc.agg(
        F.coalesce(F.sum(F.when(full, F.col("n_rows"))), F.lit(0))
        .alias("mn"),
        F.slice(F.collect_list(F.when(keep & ~full,
                                      F.struct("part_id", "chunk_id"))),
                1, _BOUNDARY_PUSH_MAX + 1).alias("pairs")).head()
    meta_n = int(st["mn"])
    if not st["pairs"]:
        return meta_n
    # decode ONLY the boundary chunks' files and predicate columns —
    # counting must not pay to decompress fat payloads, and the fat
    # `payloads` parquet column of files with NO boundary chunk must
    # not even be read (the zone filter can't push down to parquet, so
    # the ONE metadata job above also collected the boundary ids)
    bnd = _boundary_chunks(spark, table, snap, files, enc,
                           keep & ~full, st["pairs"])
    dec = decode_table(bnd, table.schema(snap),
                       columns=_pred_columns(pred),
                       renames=renames, gdicts=gdicts)
    return meta_n + dec.where(_residual_cond(dec, pred)).count()


def _pred_columns(pred: list[tuple] | dict) -> list[str]:
    """The logical column names a predicate touches, in first-seen
    order (the minimal decode projection for residual evaluation)."""
    out: list[str] = []
    branches = pred["any"] if isinstance(pred, dict) else [pred]
    for terms in branches:
        for term in terms:
            c = _norm_term(term)[1]
            if c not in out:
                out.append(c)
    return out


# boundary sets bigger than this skip the two-phase file re-listing
# (the pair collect would stop being driver-frugal) and just filter
_BOUNDARY_PUSH_MAX = 65536


def _boundary_chunks(spark, table, snap, files, enc, bnd_cond, pairs):
    """The boundary chunk rows for aggregate pushdown, read so that
    files WITHOUT a boundary chunk never surface their payload bytes:
    the metadata job collected the boundary (part_id, chunk_id) pairs
    (capped — payloads never touched), so only those parts' files are
    re-listed and a simple id filter selects the chunks.  Falls back
    to the direct zone filter over everything when the boundary set
    exceeded the collect cap."""
    if len(pairs) > _BOUNDARY_PUSH_MAX:
        return enc.where(bnd_cond)
    by_part: dict[int, list[int]] = {}
    for r in pairs:
        by_part.setdefault(int(r.part_id), []).append(int(r.chunk_id))
    parts = table.committed_parts(snap)
    keep_files = [info["file"] for pid, info in parts.items()
                  if int(pid) in by_part and info["file"] in set(files)]
    sub = spark.read.schema(ENCODED_DDL).parquet(*keep_files)
    cond = F.lit(False)
    for pid, cids in by_part.items():
        cond = cond | ((F.col("part_id") == pid)
                       & F.col("chunk_id").isin(cids))
    return sub.where(cond)


def _grouped_full(grouped, complete, is_any: bool):
    """Definitely-full chunk condition from the grouped translation:
    OR within a logical term's alias group (a chunk populates at most
    ONE physical alias, so exactly one alias test can prove it — an
    AND would be False on every evolved table), AND across groups, OR
    across any-branches; a branch with a dropped (over-cap) term can
    never prove fullness — its missing term still filters rows that
    only the residual sees."""
    from .engine import _zone_full_term

    def one(groups):
        c = F.lit(True)
        for g in groups:
            gc = F.lit(False)
            for t in g:
                gc = gc | _zone_full_term(t)
            c = c & gc
        return c

    if is_any:
        full = F.lit(False)
        for groups, ok in zip(grouped, complete):
            if ok:
                full = full | one(groups)
        return full
    return one(grouped) if complete else F.lit(False)


def minmax_where(spark: SparkSession, table_path: str,
                 pred: list[tuple] | dict, cols: list[str],
                 backend: CommitBackend | None = None,
                 snapshot_id: int | None = None,
                 ref: str | None = None) -> dict:
    """Predicate-scoped MIN/MAX/COUNT with aggregate pushdown —
    metadata_stats generalized from whole-table to WHERE pred: chunks
    the zone metadata proves fully matching contribute their stored
    per-column bounds and n_rows with zero decompression; boundary
    chunks decode and aggregate exactly.  Returns
    {"n_rows": N, "cols": {c: {"min": m, "max": M}}} with int64 values
    (timestamps in epoch-us — the zone domain; cast at the edge).

    Restricted to int/timestamp target columns: string zone bounds are
    TRUNCATED (a 64-char prefix is not the column's min value) and the
    double family is NaN-ambiguous (nanmin/nanmax vs SQL MIN/MAX NaN
    ordering) — those columns, and chunks missing a zone entry for any
    target (fat-column auto-skip), simply fall to the decode side, so
    the result is exact regardless.  Pending deletes force the exact
    path.  Equals the full-scan aggregate always."""
    from .engine import _pred_zone_conds, _residual_col
    table = EncodedTable(table_path, backend=backend)
    snap = _resolve_snap(table, snapshot_id, ref)
    meta = table.meta(snap)
    schema = table.schema(snap)
    for c in cols:
        if schema is not None and schema.get_field_index(c) < 0:
            raise KeyError(f"column {c!r} not in table schema "
                           f"{schema.names}")
        if c in (meta.get("global_dicts") or {}):
            raise ValueError(
                f"{c!r} is a global-dict column: its stored ids are "
                "frequency-ranked, so id bounds are not value bounds — "
                "aggregate over scan_table instead")
    gdicts = meta.get("global_dicts") or {}
    renames = meta.get("renames") or {}

    def exact_fallback():
        dec = scan_table(spark, table_path, pred, backend=backend,
                         snapshot_id=snapshot_id, ref=ref)
        types = {f.name: f.dataType.simpleString()
                 for f in dec.schema.fields}
        aggs = [F.count(F.lit(1)).alias("_n")]
        for c in cols:
            e = _residual_col(c, types, True)
            aggs += [F.min(e).alias(f"_mn_{c}"), F.max(e).alias(f"_mx_{c}")]
        r = dec.agg(*aggs).head()
        return {"n_rows": int(r["_n"]),
                "cols": {c: {"min": r[f"_mn_{c}"], "max": r[f"_mx_{c}"]}
                         for c in cols}}

    if meta.get("delete_files"):
        return exact_fallback()
    zpred, complete, grouped = _translate_pred(pred, gdicts, renames,
                                               return_complete=True)
    files = _prune_parts(table.committed_parts(snap), zpred)
    if not files:
        return {"n_rows": 0,
                "cols": {c: {"min": None, "max": None} for c in cols}}
    enc = spark.read.schema(ENCODED_DDL).parquet(*files)
    keep, _ = _pred_zone_conds(zpred)
    full = _grouped_full(grouped, complete,
                         is_any=isinstance(zpred, dict))
    # metadata-eligible = predicate-full AND int-family bounds present
    # for EVERY target column (each target may live under a physical
    # alias on evolved tables — at most one populated per chunk)
    def bounds(c):
        aliases = [c] + [p for p, l in renames.items()
                         if l == c and p != c]
        mn = mx = None
        present = F.lit(False)
        for a in aliases:
            idx = F.array_position(F.col("zone_cols"), a).cast("int")
            si = F.when(idx >= 1, idx)
            amn = F.try_element_at(F.col("zone_min_num"), si)
            amx = F.try_element_at(F.col("zone_max_num"), si)
            mn = amn if mn is None else F.coalesce(mn, amn)
            mx = amx if mx is None else F.coalesce(mx, amx)
            present = present | (amn.isNotNull() & amx.isNotNull())
        return mn, mx, present
    eligible = full
    sel = [F.col("n_rows")]
    for c in cols:
        mn, mx, present = bounds(c)
        eligible = eligible & present
        sel += [mn.alias(f"_mn_{c}"), mx.alias(f"_mx_{c}")]
    meta_chunks = enc.select(
        F.when(keep & ~eligible,
               F.struct("part_id", "chunk_id")).alias("_bnd"),
        F.when(eligible, F.col("n_rows")).alias("n_rows"), *sel[1:])
    aggs = [F.coalesce(F.sum("n_rows"), F.lit(0)).alias("_n"),
            F.slice(F.collect_list("_bnd"), 1,
                    _BOUNDARY_PUSH_MAX + 1).alias("_bnd")]
    for c in cols:
        aggs += [F.min(F.when(F.col("n_rows").isNotNull(),
                              F.col(f"_mn_{c}"))).alias(f"_mn_{c}"),
                 F.max(F.when(F.col("n_rows").isNotNull(),
                              F.col(f"_mx_{c}"))).alias(f"_mx_{c}")]
    m = meta_chunks.agg(*aggs).head()
    if not m["_bnd"]:
        # every kept chunk proved itself from metadata: no decode job
        return {"n_rows": int(m["_n"]),
                "cols": {c: {"min": m[f"_mn_{c}"],
                             "max": m[f"_mx_{c}"]} for c in cols}}
    # boundary side: everything kept but not metadata-eligible —
    # decode only the boundary files' predicate + target columns,
    # never fat payloads (see _boundary_chunks)
    proj = list(dict.fromkeys(_pred_columns(pred) + list(cols)))
    bnd = _boundary_chunks(spark, table, snap, files, enc,
                           keep & ~eligible, m["_bnd"])
    dec = decode_table(bnd, schema, columns=proj, renames=renames,
                       gdicts=gdicts)
    dec = dec.where(_residual_cond(dec, pred))
    types = {f.name: f.dataType.simpleString() for f in dec.schema.fields}
    paggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        e = _residual_col(c, types, True)
        paggs += [F.min(e).alias(f"_mn_{c}"), F.max(e).alias(f"_mx_{c}")]
    p = dec.agg(*paggs).head()

    def fold(fn, a, b):
        if a is None:
            return b
        if b is None:
            return a
        return fn(a, b)
    out = {"n_rows": int(m["_n"]) + int(p["_n"]), "cols": {}}
    for c in cols:
        out["cols"][c] = {
            "min": fold(min, m[f"_mn_{c}"], p[f"_mn_{c}"]),
            "max": fold(max, m[f"_mx_{c}"], p[f"_mx_{c}"])}
    return out


def _sum_count_where(spark: SparkSession, table_path: str, col: str,
                     pred: list[tuple] | dict | None,
                     backend: CommitBackend | None,
                     snapshot_id: int | None,
                     ref: str | None) -> tuple[int, int]:
    """(exact SUM as python int, exact non-null COUNT) in ONE pushdown
    pass — the shared engine behind sum_where and avg_where (one
    snapshot resolution, one metadata job, one boundary decode, so
    AVG = SUM/COUNT can never mix two table states)."""
    from .engine import _pred_zone_conds
    pred = [] if pred is None else pred
    table = EncodedTable(table_path, backend=backend)
    snap = _resolve_snap(table, snapshot_id, ref)
    meta = table.meta(snap)
    schema = table.schema(snap)
    if schema is not None:
        idx = schema.get_field_index(col)
        if idx < 0:
            raise KeyError(f"column {col!r} not in table schema "
                           f"{schema.names}")
        t = schema.field(idx).type
        if not pa.types.is_integer(t):
            raise TypeError(
                f"sum_where supports integer columns; {col!r} is {t} "
                "(float sums are order-dependent; aggregate over "
                "scan_table instead)")
    if col in (meta.get("global_dicts") or {}):
        raise ValueError(
            f"{col!r} is a global-dict column: stored ids are "
            "frequency-ranked, so id sums are not value sums")
    gdicts = meta.get("global_dicts") or {}
    renames = meta.get("renames") or {}

    if meta.get("delete_files"):
        dec = scan_table(spark, table_path, pred, backend=backend,
                         snapshot_id=snapshot_id, ref=ref)
        r = dec.agg(F.sum(F.col(col).cast("decimal(38,0)")).alias("_s"),
                    F.count(col).alias("_c")).head()
        return int(r["_s"] or 0), int(r["_c"])
    zpred, complete, grouped = _translate_pred(pred, gdicts, renames,
                                               return_complete=True)
    files = _prune_parts(table.committed_parts(snap), zpred)
    if not files:
        return 0, 0
    enc = spark.read.schema(ENCODED_DDL).parquet(*files)
    keep, _ = _pred_zone_conds(zpred)
    full = _grouped_full(grouped, complete, is_any=isinstance(zpred, dict))
    # physical aliases (alter_table renames): a chunk populates at most
    # one, so coalesce across them — same contract as minmax_where
    aliases = [col] + [p for p, l in renames.items()
                       if l == col and p != col]
    s_val = n_val = None
    for a in aliases:
        ai = F.array_position(F.col("zone_cols"), a).cast("int")
        si = F.when(ai >= 1, ai)
        asum = F.try_element_at(F.col("zone_sum_num"), si)
        anul = F.try_element_at(F.col("zone_nulls"), si)
        s_val = asum if s_val is None else F.coalesce(s_val, asum)
        n_val = anul if n_val is None else F.coalesce(n_val, anul)
    eligible = full & s_val.isNotNull() & n_val.isNotNull()
    # ONE metadata-only job (never touches `payloads`): provably-full
    # sums + non-null tallies AND the boundary-chunk ids together
    st = enc.agg(
        F.coalesce(F.sum(F.when(eligible, s_val).cast("decimal(38,0)")),
                   F.lit(0).cast("decimal(38,0)")).alias("ms"),
        F.coalesce(F.sum(F.when(eligible, F.col("n_rows") - n_val)),
                   F.lit(0)).alias("mc"),
        F.slice(F.collect_list(F.when(keep & ~eligible,
                                      F.struct("part_id", "chunk_id"))),
                1, _BOUNDARY_PUSH_MAX + 1).alias("pairs")).head()
    meta_sum, meta_n = int(st["ms"]), int(st["mc"])
    if not st["pairs"]:
        return meta_sum, meta_n
    # decode ONLY the boundary chunks' files, projected to the
    # predicate + target columns; full-but-sum-less chunks ride the
    # same path (their residual predicate is vacuously true)
    proj = list(dict.fromkeys(_pred_columns(pred) + [col]))
    bnd = _boundary_chunks(spark, table, snap, files, enc,
                           keep & ~eligible, st["pairs"])
    dec = decode_table(bnd, schema, columns=proj, renames=renames,
                       gdicts=gdicts)
    r = (dec.where(_residual_cond(dec, pred))
         .agg(F.sum(F.col(col).cast("decimal(38,0)")).alias("_s"),
              F.count(col).alias("_c")).head())
    return meta_sum + int(r["_s"] or 0), meta_n + int(r["_c"])


def sum_where(spark: SparkSession, table_path: str, col: str,
              pred: list[tuple] | dict | None = None,
              backend: CommitBackend | None = None,
              snapshot_id: int | None = None,
              ref: str | None = None) -> int | None:
    """SUM(col) WHERE pred with aggregate pushdown — the additive
    sibling of count_where/minmax_where: chunks the zone metadata
    PROVES fully matching contribute their stored per-chunk exact sum
    (`zone_sum_num`, written by encode_chunk for integer columns with
    an overflow-proof bound check) with zero decompression; boundary
    chunks — predicate-uncertain, legacy files written before the sum
    column existed, or chunks whose sum was withheld for overflow
    safety — decode only the needed columns and aggregate exactly.
    Cross-chunk accumulation runs in decimal(38,0) (stored sums are
    int64-bounded but their total need not be) and the function
    returns a Python int — exact at any magnitude.  SQL semantics:
    returns None when no matching row has a non-null value (SUM over
    the empty set is NULL, not 0); nulls never contribute.  Pending
    equality deletes force the exact path.  Restricted to integer
    columns (float sums are order-dependent — no metadata sum can
    reproduce Spark's scan result bit-for-bit — and SUM(timestamp)
    isn't SQL); global-dict columns are rejected (stored ids are
    frequency ranks, not values).  Always equals
    scan_table(...).agg(SUM(col))."""
    total, nonnull = _sum_count_where(spark, table_path, col, pred,
                                      backend, snapshot_id, ref)
    return int(total) if nonnull > 0 else None


def avg_where(spark: SparkSession, table_path: str, col: str,
              pred: list[tuple] | dict | None = None,
              backend: CommitBackend | None = None,
              snapshot_id: int | None = None,
              ref: str | None = None) -> float | None:
    """AVG(col) WHERE pred from the SAME single pushdown pass as
    sum_where (one snapshot resolution — SUM and COUNT can never mix
    two table states under concurrent commits): exact-int SUM / exact
    non-null COUNT, divided once at the edge (one float op on two
    exact integers: deterministic, engine-portable).  None when no
    non-null value matches."""
    total, nonnull = _sum_count_where(spark, table_path, col, pred,
                                      backend, snapshot_id, ref)
    if nonnull == 0:
        return None
    return total / nonnull


def scan_table(spark: SparkSession, table_path: str,
               pred: list[tuple] | dict,
               columns: list[str] | None = None,
               backend: CommitBackend | None = None,
               snapshot_id: int | None = None,
               ref: str | None = None) -> DataFrame:
    """Predicate-pushdown scan over a committed table — the
    global-dict-AWARE analog of engine.scan_filtered.

    Predicates are stated in VALUE space (("lang", "=", "de")) even for
    columns written with `global_dict_cols`.  For those columns the
    stored chunks hold int ids, so engine-level scan_filtered would
    compare strings against ids (silently empty results); here each
    dict-column term is translated to id space for zone pruning via the
    dictionary persisted in the snapshot meta (equality/IN → the ids of
    the matching values, a value range → the id-set whose values fall
    in the range, or no pruning if that set exceeds _GDICT_PRUNE_MAX —
    ids are frequency-ranked, not value-ordered, so a value range is
    NOT an id range), and the exact residual filter runs on the
    RESTORED value columns.  Non-dict columns behave exactly as in
    scan_filtered.  `pred` shapes: AND-list of (col, lo, hi) /
    (col, "=", v) / (col, "in", [v...]), or {"any": [and_list, ...]}.

    Every term is validated here, on the driver, before any task runs.
    Part files prune from the manifest's per-part summaries
    (_prune_parts, zero Spark jobs); chunks prune inside the Python
    worker that decodes the file (engine.read_part_file: zone maps and
    Bloom filters, from a metadata-only read), so the plan is
    Range -> MapInArrow -> Filter and pruned chunks' payloads are never
    read."""
    table = EncodedTable(table_path, backend=backend)
    snap = _resolve_snap(table, snapshot_id, ref)
    meta = table.meta(snap)
    zpred = _translate_pred(pred, meta.get("global_dicts") or {},
                            meta.get("renames") or {})
    # file-level prune from the manifest's per-part zone summaries
    # BEFORE any Spark job: skipped part files are never even listed
    files = _prune_parts(table.committed_parts(snap), zpred)
    if not files:
        # no file can match: an empty frame with the RESOLVED
        # snapshot's shape (a tag/branch read must not fall back to
        # CURRENT's schema, nor re-resolve a moving branch)
        return _decode_snapshot(spark, table, snap, columns).limit(0)
    # predicate columns outside the projection decode for the residual
    proj = None if columns is None else \
        list(dict.fromkeys(list(columns) + _pred_columns(pred)))
    dec = _decode_snapshot(spark, table, snap, proj, files, zpred)
    out = dec.where(_residual_cond(dec, pred))
    return out if proj == columns else out.select(*columns)


def read_increment(spark: SparkSession, table_path: str,
                   from_snapshot_id: int,
                   to_snapshot_id: int | None = None,
                   columns: list[str] | None = None,
                   backend: CommitBackend | None = None) -> DataFrame:
    """Incremental (changelog) read: the decoded rows APPENDED after
    `from_snapshot_id`, up to `to_snapshot_id` (default CURRENT) —
    the Iceberg incremental-append-scan analog.  A consumer that
    processed snapshot K re-reads only the new parts, never the table:
    the diff is computed on the driver from two part manifests
    (O(parts) metadata), and only the new part FILES are scanned — at
    10^12 docs a daily increment touches the day's bytes, not the
    corpus.

    Semantics are append-only, enforced: if any part of the FROM
    snapshot is missing from TO (compaction / rewrite / relocation
    re-laid data out) or the pending delete set changed (delete_rows /
    upsert_rows committed row-level changes that append no parts),
    the diff would be a lie and this raises — read full snapshots
    instead.  `from_snapshot_id` must be an ancestor of TO (the same
    walk `snapshot_at` uses, so a racer's same-id orphan can't be
    diffed against).  Global-dict columns restore with TO's
    dictionaries (a frozen committed dictionary only grows, and
    append-only history cannot rewrite it)."""
    table = EncodedTable(table_path, backend=backend)
    to_snap = _resolve_snap(table, to_snapshot_id)
    if to_snap is None:
        raise ValueError(f"no committed snapshot at {table_path}")
    snap = to_snap
    while snap is not None and snap["snapshot_id"] != from_snapshot_id:
        snap = table._parent_of(snap)
    if snap is None:
        raise ValueError(
            f"snapshot {from_snapshot_id} is not an ancestor of "
            f"{to_snap['snapshot_id']} at {table_path}")
    from_snap = snap
    from_parts = set(from_snap["parts"])
    to_parts = to_snap["parts"]
    removed = sorted(from_parts - set(to_parts))
    if removed:
        raise ValueError(
            f"incremental read requires an append-only history: parts "
            f"{removed[:8]}{'...' if len(removed) > 8 else ''} of "
            f"snapshot {from_snapshot_id} were rewritten (compaction/"
            "rewrite/relocation) before snapshot "
            f"{to_snap['snapshot_id']} — read full snapshots instead")
    dels_from = (from_snap.get("meta") or {}).get("delete_files") or []
    dels_to = (to_snap.get("meta") or {}).get("delete_files") or []
    if dels_from != dels_to:
        raise ValueError(
            "incremental read requires an append-only history: the "
            "pending row-level delete set changed between snapshots "
            f"{from_snapshot_id} and {to_snap['snapshot_id']} "
            "(delete_rows/upsert_rows) — read full snapshots instead")
    new_files = [info["file"] for pid, info in to_parts.items()
                 if pid not in from_parts]
    if not new_files:
        # empty increment with TO's decoded schema
        return _decode_snapshot(spark, table, to_snap, columns).limit(0)
    return _decode_snapshot(spark, table, to_snap, columns, new_files)


def _head_files(parts: dict[str, dict], key0: str, need: int
                ) -> tuple[list[str], int]:
    """Minimal provably-sufficient file set for the first `need` rows
    in key order — pure driver metadata, zero Spark jobs.

    Exactness argument: sort parts that carry a zone entry for the
    leading key column by their key MIN; take the shortest prefix
    whose row count reaches `need` and let tau = max key MAX of that
    prefix.  The prefix alone proves >= need rows have key <= tau, so
    any part whose key MIN > tau cannot contribute a top-`need` row.
    Parts with no usable bounds (legacy summaries, fat-key auto-skip)
    or with NULL keys (nulls sort first and zone bounds ignore them)
    are always kept — conservative, never wrong.  String bounds are
    stored truncated with max rounded UP, which only widens tau.
    On a range layout the prefix IS ~need/rows_per_part files; on a
    hash layout ranges overlap and this degenerates toward a full
    scan (correct, just not helpful — same posture as _prune_parts).

    Returns (files in part order, n_files_skipped)."""
    import json as _json
    entried: list[tuple] = []   # (kmin, kmax, covered_rows, pid, file|None)
    always: list[tuple[int, str]] = []
    for pid, info in parts.items():
        zones = _json.loads(info["zones"]) if isinstance(
            info.get("zones"), str) else (info.get("zones") or {})
        s = zones.get(key0)
        n = int(info.get("n_rows") or 0)
        kmin = kmax = None
        if s is not None:
            kmin = s[2] if s[2] is not None else s[0]
            kmax = s[3] if s[3] is not None else s[1]
        if s is None or kmin is None or kmax is None or (s[6] or 0) > 0:
            always.append((int(pid), info["file"]))
            continue
        covered = int(s[7] or 0)
        if covered != n:
            # partial coverage (legacy/mixed chunks): the UNCOVERED
            # rows' keys are unknown, so the file must be kept
            # unconditionally (_part_keep_term's rule) — but the
            # covered rows still legitimately feed cum/tau (each is
            # <= this part's key_max)
            always.append((int(pid), info["file"]))
            entried.append((kmin, kmax, covered, int(pid), None))
        else:
            entried.append((kmin, kmax, n, int(pid), info["file"]))
    entried.sort(key=lambda t: (t[0], t[3]))
    cum, tau, cut = 0, None, len(entried)
    for i, (kmin, kmax, n, _, _) in enumerate(entried):
        tau = kmax if tau is None or kmax > tau else tau
        cum += n
        if cum >= need:
            cut = i + 1
            break
    chosen = list(entried[:cut]) + [
        t for t in entried[cut:] if tau is not None and t[0] <= tau]
    files = [(pid, f) for _, _, _, pid, f in chosen if f is not None] \
        + always
    files.sort()
    skipped = len(parts) - len(files)
    return ([f for _, f in files], skipped,
            tau if skipped > 0 else None)


def read_head(spark: SparkSession, table_path: str, k: int,
              columns: list[str] | None = None,
              backend: CommitBackend | None = None,
              snapshot_id: int | None = None,
              ref: str | None = None) -> DataFrame:
    """First `k` rows in LAYOUT-KEY order (ORDER BY key LIMIT k) with
    LIMIT pushdown: the driver picks a provably-sufficient minimal
    file set from the manifest's per-part key bounds (`_head_files` —
    O(parts) metadata, zero Spark jobs), the scan keeps only chunks
    whose key MIN clears the same threshold (zone columns only — the
    parquet reader never touches skipped chunks' payloads), and only
    those chunks decode.  On a range/compacted layout a head over a
    10^12-row table therefore costs ~k rows of decode, at any table
    size; on a hash layout key ranges overlap per part and the prune
    degenerates toward a full scan (correct, just not faster —
    documented, same posture as file-level pruning generally).

    Pending equality deletes are handled by over-provisioning the row
    target with the snapshot's tracked `n_deleted` (a superset of the
    deletes that could land inside the head) and anti-joining before
    the final bounded sort — exact regardless.  Nulls in the key sort
    FIRST (Spark ASC default); parts/chunks holding null keys are
    always decoded.  Always equals
    scan_table(...).orderBy(key).limit(k)."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    table = EncodedTable(table_path, backend=backend)
    snap = _resolve_snap(table, snapshot_id, ref)
    if snap is None:
        raise ValueError(f"no committed snapshot at {table_path}")
    meta = table.meta(snap)
    layout = _layout_of(snap) or {}
    key = layout.get("key")
    if not key:
        raise ValueError(
            "read_head needs a keyed layout (hash/range/zorder writes); "
            "splits-mode tables have no key order")
    need = k + int(meta.get("n_deleted") or 0)
    gdict_key = key[0] in (meta.get("global_dicts") or {})
    if gdict_key:
        # a global-dict key stores frequency-ranked IDS whose order is
        # NOT value order — id bounds cannot prune a value-ordered
        # head, so decode everything and let the bounded sort cut
        # (exact, just un-pruned — same honesty rule as minmax_where)
        files = _prune_parts(snap["parts"], [])
        tau_f = None
    else:
        files, _, tau_f = _head_files(snap["parts"], key[0], need)
    if not files:
        return _decode_snapshot(spark, table, snap, columns).limit(0)
    enc = spark.read.schema(ENCODED_DDL).parquet(*files)
    # chunk-level prune, SAME tau argument re-derived at chunk
    # granularity: ONE metadata-only job collects the selected files'
    # per-chunk key bounds (zone columns only — parquet column pruning
    # keeps `payloads` unread), the prefix/tau selection runs on the
    # driver, and only surviving chunks decode.  Chunks without a
    # usable key zone (fat/legacy, or a key_name from a different
    # alias generation) keep conservatively; if the metadata set
    # exceeds the collect cap, decode the chosen files whole.
    renames = meta.get("renames") or {}
    aliases = [key[0]] + [p for p, l in renames.items()
                          if l == key[0] and p != key[0]]
    zrows = [] if gdict_key else (
        enc.select("part_id", "chunk_id", "n_rows", "key_name",
                   "key_min", "key_max", "key_min_num", "key_max_num",
                   "zone_cols", "zone_nulls")
        .limit(_BOUNDARY_PUSH_MAX + 1).collect())
    bnd, tau2 = enc, None
    if zrows and len(zrows) <= _BOUNDARY_PUSH_MAX:
        entried, always_c = [], []
        for r in zrows:
            kmin = r.key_min_num if r.key_min_num is not None else r.key_min
            kmax = r.key_max_num if r.key_max_num is not None else r.key_max
            # a chunk MIXING null and non-null keys has non-null
            # bounds but its null-key rows sort FIRST — such chunks
            # always decode (the zone_nulls entry carries the count)
            knulls = 0
            zc = list(r.zone_cols or [])
            zn = list(r.zone_nulls or [])
            for a in aliases:
                if a in zc:
                    i = zc.index(a)
                    knulls = max(knulls, int(zn[i] or 0)
                                 if i < len(zn) else 0)
            if (r.key_name not in aliases or kmin is None
                    or kmax is None or knulls > 0):
                always_c.append((r.part_id, r.chunk_id))
                continue
            entried.append((kmin, kmax, int(r.n_rows),
                            r.part_id, r.chunk_id))
        entried.sort(key=lambda t: (t[0], t[3], t[4]))
        cum, tau2, cut = 0, None, len(entried)
        for i, (kmin, kmax, n, _, _) in enumerate(entried):
            tau2 = kmax if tau2 is None or kmax > tau2 else tau2
            cum += n
            if cum >= need:
                cut = i + 1
                break
        pairs = [(p, c) for _, _, _, p, c in entried[:cut]] + [
            (p, c) for kmin, _, _, p, c in entried[cut:]
            if tau2 is not None and kmin <= tau2] + always_c
        if len(pairs) == len(zrows):
            tau2 = None   # nothing pruned at chunk level
        cond = F.lit(False)
        by_part: dict[int, list[int]] = {}
        for p, c in pairs:
            by_part.setdefault(int(p), []).append(int(c))
        for p, cids in by_part.items():
            cond = cond | ((F.col("part_id") == p)
                           & F.col("chunk_id").isin(cids))
        bnd = enc.where(cond)
    has_deletes = bool(meta.get("delete_files"))
    proj = None if columns is None else \
        list(dict.fromkeys(list(columns) + list(key)))
    dec = decode_table(bnd, table.schema(snap), columns=proj,
                       with_part_id=has_deletes, renames=renames,
                       gdicts=meta.get("global_dicts"))
    if has_deletes:
        dec = _apply_deletes(spark, dec, meta)
    out = dec.orderBy(*[F.asc(c) for c in key]).limit(k)
    # `need` over-provisions deletes by the count of delete KEYS; on a
    # layout whose key is NOT row-unique one key kills several rows,
    # so after the anti-join the pruned candidate set can run short.
    # Validate the standard top-k certificate — k rows came back and
    # the k-th key clears every pruning threshold used — and fall back
    # to the unpruned (still exact, still bounded-sort) plan if not.
    taus = [t for t in (tau_f, tau2) if t is not None]
    if has_deletes and taus:
        st = out.agg(F.count(F.lit(1)).alias("n"),
                     F.max(key[0]).alias("kth")).head()
        tau_min = min(taus)
        if int(st["n"]) < k or (st["kth"] is not None
                                and st["kth"] > tau_min):
            enc_all = spark.read.schema(ENCODED_DDL).parquet(
                *_prune_parts(snap["parts"], []))
            dec = decode_table(enc_all, table.schema(snap),
                               columns=proj, with_part_id=True,
                               renames=renames,
                               gdicts=meta.get("global_dicts"))
            dec = _apply_deletes(spark, dec, meta)
            out = dec.orderBy(*[F.asc(c) for c in key]).limit(k)
    if columns is not None:
        out = out.select(*columns)
    return out


def read_changelog(spark: SparkSession, table_path: str,
                   from_snapshot_id: int,
                   to_snapshot_id: int | None = None,
                   columns: list[str] | None = None,
                   backend: CommitBackend | None = None) -> DataFrame:
    """CDC read (the Iceberg changelog-scan analog): one row per
    LOGICAL row-level change between two snapshots, stamped with
    `_change_type` ('insert' | 'delete') and `_commit_snapshot_id`.
    read_increment rejects histories containing row-level deletes;
    this walks the snapshot chain commit by commit and renders them:

      * parts appended at snapshot S -> 'insert' rows at S (decoded
        only from the NEW part files — a daily append costs the day's
        bytes);
      * a delete file committed at S (delete_rows, or the delete half
        of an upsert) -> 'delete' rows at S carrying the PRE-IMAGE:
        the matching rows as visible in S's parent (parent-visible =
        earlier delete files already applied, so a row never reports
        'delete' twice), scoped by the file's max_part (Iceberg's
        sequence-number rule — rows appended after the delete landed
        survive and emit nothing);
      * an upsert is its two commits: 'delete' pre-images at K+1,
        'insert' replacements at K+2.

    Physical reorganizations (compaction / rewrite_table / relocation)
    remove parts without changing logical rows; a changelog across one
    would have to diff full table states, so this raises — same
    append-only contract as read_increment, extended with delete
    rendering.  Schema evolution between FROM and TO union-fills by
    name (added columns read null on pre-evolution commits).

    Scale: insert steps touch only appended files.  A delete step
    scans the parent state's parts once (projected to `columns` +
    layout key) and joins against the delete-key file — the same
    anti-join shape every normal read of a deletes-pending table pays,
    with AQE broadcasting the (small) key side."""
    table = EncodedTable(table_path, backend=backend)
    to_snap = _resolve_snap(table, to_snapshot_id)
    if to_snap is None:
        raise ValueError(f"no committed snapshot at {table_path}")
    chain = [to_snap]
    while chain[-1]["snapshot_id"] != from_snapshot_id:
        p = table._parent_of(chain[-1])
        if p is None:
            raise ValueError(
                f"snapshot {from_snapshot_id} is not an ancestor of "
                f"{to_snap['snapshot_id']} at {table_path}")
        chain.append(p)
    chain.reverse()

    def stamp(df: DataFrame, kind: str, sid: int) -> DataFrame:
        return (df.withColumn("_change_type", F.lit(kind))
                .withColumn("_commit_snapshot_id",
                            F.lit(sid).cast("long")))

    pieces: list[DataFrame] = []
    for parent, snap in zip(chain, chain[1:]):
        removed = sorted(set(parent["parts"]) - set(snap["parts"]))
        if removed:
            raise ValueError(
                f"changelog requires an append/delete-only history: "
                f"parts {removed[:8]}{'...' if len(removed) > 8 else ''}"
                f" of snapshot {parent['snapshot_id']} were rewritten "
                f"(compaction/rewrite/relocation) at snapshot "
                f"{snap['snapshot_id']} — read full snapshots instead")
        sid = snap["snapshot_id"]
        meta_s = snap.get("meta") or {}
        new_files = [info["file"] for pid, info in snap["parts"].items()
                     if pid not in parent["parts"]]
        if new_files:
            enc = spark.read.schema(ENCODED_DDL).parquet(*new_files)
            dec = decode_table(enc, table.schema(snap), columns=columns,
                               renames=meta_s.get("renames"),
                               gdicts=meta_s.get("global_dicts"))
            pieces.append(stamp(dec, "insert", sid))
        dels_parent = (parent.get("meta") or {}).get("delete_files") or []
        new_dels = [d for d in (meta_s.get("delete_files") or [])
                    if d not in dels_parent]
        if new_dels:
            pfiles = [info["file"] for info in parent["parts"].values()]
            key = (_layout_of(parent) or {}).get("key") or []
            proj = None
            if columns is not None:
                proj = list(dict.fromkeys(list(columns) + list(key)))
            enc = spark.read.schema(ENCODED_DDL).parquet(*pfiles)
            pmeta = parent.get("meta") or {}
            dec = decode_table(enc, table.schema(parent), columns=proj,
                               with_part_id=True,
                               renames=pmeta.get("renames"),
                               gdicts=pmeta.get("global_dicts"))
            # pre-image = parent-VISIBLE rows hit by the new keys:
            # semi-join the new delete keys, anti-join the old ones
            # (shared _delete_key_frame/_delete_match_cond — the SAME
            # reading of the delete-file contract every read uses)
            nk = _delete_key_frame(spark, new_dels)
            dec = dec.join(nk, on=_delete_match_cond(dec, nk),
                           how="left_semi")
            if dels_parent:
                ok = _delete_key_frame(spark, dels_parent)
                dec = dec.join(ok, on=_delete_match_cond(dec, ok),
                               how="left_anti")
            dec = dec.drop("_part_id")
            if columns is not None:
                dec = dec.select(*columns)
            pieces.append(stamp(dec, "delete", sid))
    if not pieces:
        base = _decode_snapshot(spark, table, to_snap, columns).limit(0)
        return stamp(base, "insert", to_snap["snapshot_id"]).limit(0)
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out


def metadata_stats(spark: SparkSession, table_path: str,
                   columns: list[str] | None = None,
                   backend: CommitBackend | None = None,
                   snapshot_id: int | None = None) -> DataFrame:
    """Aggregate pushdown to metadata: per-column row count, null
    count, and numeric/float min/max answered ENTIRELY from the
    per-chunk zone statistics — the payload bytes are never read or
    decoded (the scan projects only the zone columns of the chunk
    relation, O(chunks) rows).  The Iceberg/Parquet-footer
    "stats-only query" analog: SELECT count(*), min(x), max(x) on a
    10^12-row table costs a metadata pass.

    Exactness: zone min/max are computed from the full chunk data at
    encode time, so the folded values equal a full scan's — for
    integer/timestamp columns (`min_num`/`max_num`, the bit-faithful
    int64 view) and for floats over their non-NaN values
    (`min_dbl`/`max_dbl`; an all-NaN chunk contributes no zone row,
    which `covered_rows` exposes).  String bounds are stored as
    TRUNCATED prefixes and are deliberately not reported.  Columns
    stored as global-dict ids report null counts but id-space bounds
    would be meaningless, so they are excluded.  Raises while
    row-level deletes are pending (counts would overcount; run
    `rewrite_table` first).  `covered_rows` < `table_rows` means some
    chunks carry no zone entry for the column (schema evolution,
    fat-text auto-skip, all-NaN) — treat min/max/nulls as partial."""
    table = EncodedTable(table_path, backend=backend)
    snap = _resolve_snap(table, snapshot_id)
    if snap is None:
        raise ValueError(f"no committed snapshot at {table_path}")
    meta = table.meta(snap)
    if meta.get("delete_files"):
        raise ValueError(
            "metadata_stats with pending row-level deletes would "
            "overcount; apply them with rewrite_table first")
    enc = read_encoded(spark, table_path, backend=backend,
                       snapshot_id=snap["snapshot_id"])
    total = enc.agg(F.sum("n_rows").alias("table_rows"))
    z = enc.select(
        "n_rows",
        F.explode(F.arrays_zip(
            "zone_cols", "zone_min_num", "zone_max_num",
            "zone_min_dbl", "zone_max_dbl", "zone_nulls")).alias("z"))
    g = (z.select(F.col("z.zone_cols").alias("column"), "n_rows",
                  F.col("z.zone_min_num").alias("mn"),
                  F.col("z.zone_max_num").alias("mx"),
                  F.col("z.zone_min_dbl").alias("mnd"),
                  F.col("z.zone_max_dbl").alias("mxd"),
                  F.col("z.zone_nulls").alias("nulls"))
         .groupBy("column")
         .agg(F.sum("n_rows").alias("covered_rows"),
              F.sum("nulls").alias("n_nulls"),
              F.min("mn").alias("min_num"), F.max("mx").alias("max_num"),
              F.min("mnd").alias("min_dbl"), F.max("mxd").alias("max_dbl")))
    gdict_cols = sorted((meta.get("global_dicts") or {})
                        | (meta.get("global_dict_fallback") or {}))
    if gdict_cols:
        g = g.where(~F.col("column").isin(*gdict_cols))
    if columns is not None:
        g = g.where(F.col("column").isin(*columns))
    return g.crossJoin(total)


def lineage_df(spark: SparkSession, table_path: str,
               backend: CommitBackend | None = None,
               snapshot_id: int | None = None) -> DataFrame:
    """Per-partition lineage rows of the CURRENT (or a time-travel)
    snapshot as a DataFrame."""
    snap = _resolve_snap(EncodedTable(table_path, backend=backend),
                         snapshot_id)
    if snap is None:
        raise ValueError(f"no committed snapshot at {table_path}")
    rows = [{"part_id": int(pid), "snapshot_id": snap["snapshot_id"], **info}
            for pid, info in snap["parts"].items()]
    return spark.createDataFrame(rows)
