"""Manifest/lineage/resume tests — the reference's atomic-finalize and
overwrite semantics (/root/reference/Parquet.Tests/ResultListenerTests.cs:
130-153) recast as snapshot commits, plus the north-rule resume contract:
kill after K partitions -> rerun encodes only N-K (BASELINE.json:6)."""

import json
import os

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from parquet_spark.corpus import gen_corpus
from tests.conftest import TESTDATA
from parquet_spark.manifest import (EncodedTable, lineage_df, read_decoded,
                                    read_encoded, write_encoded)
from parquet_spark.verify import verify_roundtrip

N_PARTS = 6


@pytest.mark.spark
def test_write_commit_read_roundtrip(spark, tmp_path):
    df = gen_corpus(spark, 4000, seed=11, parts=3)
    path = str(tmp_path / "tbl")
    snap = write_encoded(df, path, key=["url"], n_parts=N_PARTS,
                         rows_per_chunk=800)
    assert snap["snapshot_id"] == 0
    assert len(snap["parts"]) == N_PARTS
    out = read_decoded(spark, path)
    verify_roundtrip(df, out, key=["url"], digest_col="text")


@pytest.mark.spark
def test_resume_encodes_only_missing_parts(spark, tmp_path):
    df = gen_corpus(spark, 3000, seed=13, parts=3)
    path = str(tmp_path / "tbl")
    # simulate a run killed after 2 of 6 partitions committed
    s1 = write_encoded(df, path, key=["url"], n_parts=N_PARTS, limit_parts=2)
    assert len(s1["parts"]) == 2
    assert len(s1["meta"]["new_parts"]) == 2
    # resumed run: only the remaining 4 get encoded
    s2 = write_encoded(df, path, key=["url"], n_parts=N_PARTS)
    assert len(s2["parts"]) == N_PARTS
    assert len(s2["meta"]["new_parts"]) == N_PARTS - 2
    assert set(s2["meta"]["new_parts"]).isdisjoint(s1["meta"]["new_parts"])
    # and the final table is complete + correct
    verify_roundtrip(df, read_decoded(spark, path))
    # second full run is a no-op
    s3 = write_encoded(df, path, key=["url"], n_parts=N_PARTS)
    assert s3["meta"]["new_parts"] == []


@pytest.mark.spark
def test_uncommitted_files_invisible(spark, tmp_path):
    df = gen_corpus(spark, 1000, seed=17, parts=2)
    path = str(tmp_path / "tbl")
    write_encoded(df, path, key=["url"], n_parts=2)
    t = EncodedTable(path)
    # drop an orphan data file: must not appear in reads
    orphan = os.path.join(t.data_dir, "part-00099.parquet")
    with open(orphan, "wb") as f:
        f.write(b"garbage")
    files = t.data_files()
    assert orphan not in files
    assert read_decoded(spark, path).count() == 1000


@pytest.mark.spark
def test_lineage_rows(spark, tmp_path):
    df = gen_corpus(spark, 2000, seed=19, parts=2)
    path = str(tmp_path / "tbl")
    write_encoded(df, path, key=["url"], n_parts=4)
    lin = lineage_df(spark, path)
    rows = lin.collect()
    assert {r.part_id for r in rows} == set(range(4))
    assert all(r.bytes_out > 0 and r.wall_ms >= 0 for r in rows)
    assert sum(r.n_rows for r in rows) == 2000
    assert all("dict" in r.codecs or "int" in r.codecs for r in rows)


@pytest.mark.spark
def test_snapshot_chain(spark, tmp_path):
    df = gen_corpus(spark, 600, seed=23, parts=2)
    path = str(tmp_path / "tbl")
    write_encoded(df, path, key=["url"], n_parts=4, limit_parts=1)
    write_encoded(df, path, key=["url"], n_parts=4)
    t = EncodedTable(path)
    snap = t.current_snapshot()
    assert snap["snapshot_id"] == 1 and snap["parent_id"] == 0
    # parent snapshot still on disk (names are unique per attempt:
    # snap-<id>-<token>.json) and carries exactly the first commit
    parents = [n for n in os.listdir(t.snap_dir)
               if n.startswith("snap-000000-") and n.endswith(".json")]
    assert len(parents) == 1
    with open(os.path.join(t.snap_dir, parents[0])) as f:
        assert len(json.load(f)["parts"]) == 1


@pytest.mark.spark
def test_route_encoded_per_value(spark):
    import os
    import tempfile

    from parquet_spark.manifest import read_decoded, route_encoded
    docs = spark.read.parquet(f"{TESTDATA}/sf0.001/documents.parquet")
    base = tempfile.mkdtemp(prefix="routes_")
    snaps = route_encoded(docs, "source", base, key=["doc_id"], n_parts=2)
    sources = [r[0] for r in docs.select("source").distinct().collect()]
    assert set(snaps) == {str(s) for s in sources}
    total = 0
    for s in sources:
        dec = read_decoded(spark, os.path.join(base, f"source={s}"))
        assert dec.where(F.col("source") != s).count() == 0
        total += dec.count()
    assert total == docs.count()


@pytest.mark.spark
def test_route_encoded_partitioned_single_pass(spark):
    import tempfile

    from parquet_spark.engine import prune_chunks_pred
    from parquet_spark.manifest import (read_decoded, read_encoded,
                                        read_route,
                                        route_encoded_partitioned)
    docs = spark.read.parquet(f"{TESTDATA}/sf0.001/documents.parquet")
    base = tempfile.mkdtemp(prefix="route1p_")
    route_encoded_partitioned(docs, "source", base, key=["doc_id"],
                              n_parts=2, rows_per_chunk=16)
    # whole-table decode loses nothing
    dec = read_decoded(spark, base)
    assert dec.count() == docs.count()
    # every route reads back exactly its rows via the pruned scan
    sources = [r[0] for r in docs.select("source").distinct().collect()]
    enc = read_encoded(spark, base).cache()
    n_all = enc.count()
    for s in sources[:3]:
        got = read_route(spark, base, "source", s)
        assert got.where(F.col("source") != s).count() == 0
        assert got.count() == docs.where(F.col("source") == s).count()
        # pruning bites: other routes' chunks are skipped on metadata
        assert prune_chunks_pred(enc, [("source", s, s)]).count() < n_all
    enc.unpersist()


@pytest.mark.spark
def test_compact_table_roundtrip(spark):
    import tempfile

    from parquet_spark.corpus import gen_corpus
    from parquet_spark.manifest import (EncodedTable, compact_table,
                                        read_decoded, write_encoded)
    from parquet_spark.verify import verify_roundtrip
    df = gen_corpus(spark, 1200, seed=9, parts=3)
    tbl = tempfile.mkdtemp(prefix="compact_")
    write_encoded(df, tbl, key=["url"], n_parts=6)
    assert len(EncodedTable(tbl).data_files()) == 6
    snap = compact_table(spark, tbl, target_parts=2)
    assert len(EncodedTable(tbl).data_files()) <= 2
    assert snap["meta"]["compacted_from"] == 0
    dec = read_decoded(spark, tbl)
    verify_roundtrip(df, dec, key=["url"], digest_col="text")


@pytest.mark.spark
def test_compact_rechunk_merges_small_chunks(spark):
    """rechunk=True: a fragmented table (every chunk under-sized)
    compacts into full-size chunks — n_chunks drops, zone maps are
    rebuilt for merged chunks, and the decode is bit-identical.
    Reference parity: the merge REWRITES row groups
    (/root/reference/Parquet.Core/Fragment.cs:319-332), it does not
    concatenate fragments."""
    import tempfile

    from parquet_spark.corpus import gen_corpus
    from parquet_spark.manifest import (EncodedTable, compact_table,
                                        read_decoded, read_encoded,
                                        write_encoded)
    from parquet_spark.verify import verify_roundtrip
    df = gen_corpus(spark, 600, seed=11, parts=4)
    tbl = tempfile.mkdtemp(prefix="rechunk_tbl_")
    # 8 parts x ~75 rows against a 200-row chunk target: every chunk is
    # under-sized, the fragmentation rechunk exists to fix
    write_encoded(df, tbl, key=["url"], n_parts=8, rows_per_chunk=200)
    n_before = read_encoded(spark, tbl).count()
    assert n_before >= 8
    snap = compact_table(spark, tbl, target_parts=1, rechunk=True)
    enc_after = read_encoded(spark, tbl)
    n_after = enc_after.count()
    assert n_after < n_before, (n_before, n_after)
    # merged chunks are full-size except the tail
    sizes = sorted(r.n_rows for r in enc_after.select("n_rows").collect())
    assert sizes[-1] == 200 and sum(sizes) == 600
    # chunk ids renumbered into the output part's namespace
    ids = [r.chunk_id for r in
           enc_after.orderBy("chunk_id").select("chunk_id").collect()]
    assert ids == list(range(n_after))
    verify_roundtrip(df, read_decoded(spark, tbl), key=["url"],
                     digest_col="text")
    assert snap["meta"]["rechunk"] is True
    # full chunks pass through compressed: compact a healthy table and
    # payloads must be byte-identical
    tbl2 = tempfile.mkdtemp(prefix="rechunk_full_")
    write_encoded(df, tbl2, key=["url"], n_parts=2, rows_per_chunk=100)
    dig = lambda p: sorted(  # noqa: E731
        r[0] for r in read_encoded(spark, p).where(F.col("n_rows") == 100)
        .select(F.md5(F.col("payloads").getItem(0))).collect())
    before_dig = dig(tbl2)
    compact_table(spark, tbl2, target_parts=1, rechunk=True)
    assert dig(tbl2) == before_dig
    verify_roundtrip(df, read_decoded(spark, tbl2), key=["url"],
                     digest_col="text")


@pytest.mark.spark
def test_global_dict_cols_through_encoded_format(spark):
    """write_encoded(global_dict_cols=['lang']): chunks store int ids,
    the dictionary lives in the snapshot, read_decoded restores
    strings bit-identically (incl. nulls), the dict survives
    compaction, and resume with unseen values fails loudly."""
    import tempfile

    import pyarrow as pa

    from parquet_spark.corpus import gen_corpus
    from parquet_spark.manifest import (EncodedTable, compact_table,
                                        read_decoded, write_encoded)
    df = gen_corpus(spark, 500, seed=23, parts=4) \
        .select("url", "lang", "text")  # lang has nulls at any seed
    assert df.where(F.col("lang").isNull()).count() > 0
    tbl = tempfile.mkdtemp(prefix="gdict_tbl_")
    write_encoded(df, tbl, key=["url"], n_parts=4,
                  global_dict_cols=["lang"])
    t = EncodedTable(tbl)
    assert pa.types.is_integer(t.schema().field("lang").type)
    vals = t.meta()["global_dicts"]["lang"]
    assert vals == sorted(vals) and len(vals) == \
        df.where(F.col("lang").isNotNull()).select("lang").distinct().count()
    dec = read_decoded(spark, tbl)
    assert dec.count() == df.count()
    assert dec.exceptAll(df).count() == 0  # nulls + values restored
    # column projection still restores
    langs = read_decoded(spark, tbl, columns=["lang"])
    assert langs.schema["lang"].dataType.simpleString() == "string"
    # survives compaction (incl. rechunk decode+re-encode of int ids)
    compact_table(spark, tbl, target_parts=1, rechunk=True)
    dec2 = read_decoded(spark, tbl)
    assert dec2.exceptAll(df).count() == 0
    # resume reusing the committed dict: same values fine...
    write_encoded(df, tbl2 := tempfile.mkdtemp(prefix="gdict2_"),
                  key=["url"], n_parts=2, limit_parts=1,
                  global_dict_cols=["lang"])
    write_encoded(df, tbl2, key=["url"], n_parts=2,
                  global_dict_cols=["lang"])
    assert read_decoded(spark, tbl2).exceptAll(df).count() == 0
    # ...but unseen values must fail loudly, not silently null out
    df_new = df.withColumn("lang", F.coalesce(F.col("lang"), F.lit("zz")))
    with pytest.raises(ValueError, match="absent from the committed"):
        write_encoded(df_new, tbl2, key=["url"], n_parts=2,
                      global_dict_cols=["lang"])
    # layout gate: resuming WITHOUT the dict config refuses too
    with pytest.raises(ValueError, match="cannot resume"):
        write_encoded(df, tbl2, key=["url"], n_parts=2)
    # ungated column refuses (url is unique)
    with pytest.raises(ValueError, match="gate"):
        write_encoded(df, tempfile.mkdtemp(prefix="gdict3_"),
                      key=["url"], n_parts=2, global_dict_cols=["url"])


@pytest.mark.spark
def test_write_and_read_through_injected_backend(spark):
    """The CommitBackend is plumbed through the public entry points:
    with an in-memory (object-store-style) backend, a full
    write -> resume -> read cycle never creates CURRENT or snapshots/
    on the filesystem — every commit and read routes via the backend."""
    import os
    import tempfile
    import threading

    from parquet_spark.manifest import (CommitBackend,
                                        ConcurrentCommitError,
                                        read_decoded, write_encoded)

    class Mem(CommitBackend):
        def __init__(self):
            self.snaps, self.cur = {}, None
            self.mu = threading.Lock()

        def current(self):
            return self.cur

        def read(self, name):
            return self.snaps[name]

        def commit(self, name, payload, expected):
            with self.mu:
                if self.cur != expected:
                    raise ConcurrentCommitError("pointer moved")
                self.snaps[name] = payload
                self.cur = name

    mem = Mem()
    docs = spark.read.parquet(f"{TESTDATA}/sf0.001/documents.parquet")
    tbl = tempfile.mkdtemp(prefix="membk_tbl_")
    write_encoded(docs, tbl, key=["doc_id"], n_parts=2, limit_parts=1,
                  backend=mem)
    write_encoded(docs, tbl, key=["doc_id"], n_parts=2, backend=mem)
    assert mem.cur.startswith("snap-000001-")  # resume chained on backend
    assert not os.path.exists(os.path.join(tbl, "CURRENT"))
    assert not os.path.exists(os.path.join(tbl, "snapshots"))
    dec = read_decoded(spark, tbl, backend=mem)
    assert dec.count() == docs.count()
    assert dec.exceptAll(docs).count() == 0


@pytest.mark.spark
def test_rechunk_honors_committed_encoding_policy(spark):
    """compact_table(rechunk=True) must re-encode merged chunks under
    the table's COMMITTED codec/block_codec, not the auto defaults."""
    import tempfile

    from parquet_spark.manifest import (compact_table, read_decoded,
                                        read_encoded, write_encoded)
    docs = spark.read.parquet(f"{TESTDATA}/sf0.001/documents.parquet")
    tbl = tempfile.mkdtemp(prefix="policy_tbl_")
    n = docs.count()
    write_encoded(docs, tbl, key=["doc_id"], n_parts=8,
                  rows_per_chunk=n, codec="plain", block_codec="none")
    compact_table(spark, tbl, target_parts=1, rechunk=True)
    enc = read_encoded(spark, tbl)
    codecs = {c for r in enc.select("codecs").collect() for c in r.codecs}
    assert codecs == {"plain"}, codecs  # not auto-selected to dict/int
    # block layer: payloads stayed unwrapped (raw v2 header, id 0)
    heads = [bytes(r[0][:2]) for r in
             enc.select(F.col("payloads").getItem(0)).collect()]
    assert all(h[0] == 0xEC and h[1] == 0 for h in heads), heads
    dec = read_decoded(spark, tbl)
    assert dec.exceptAll(docs).count() == 0


@pytest.mark.spark
def test_encoding_policy_survives_lifecycle_chain(spark):
    """The committed codec/block_codec (and chunk size) must survive
    EVERY lifecycle step: write -> relocate -> compact -> rechunk
    still re-encodes plain+raw, one step at a time."""
    import tempfile

    from parquet_spark.manifest import (EncodedTable, compact_table,
                                        read_decoded, read_encoded,
                                        relocate_table, write_encoded)
    docs = spark.read.parquet(f"{TESTDATA}/sf0.001/documents.parquet")
    src = tempfile.mkdtemp(prefix="chain_src_")
    dst = tempfile.mkdtemp(prefix="chain_dst_")
    n = docs.count()
    write_encoded(docs, src, key=["doc_id"], n_parts=8, rows_per_chunk=n,
                  codec="plain", block_codec="none")
    relocate_table(spark, src, dst, n_parts=4)
    m = EncodedTable(dst).meta()
    assert m["codec"] == "plain" and m["block_codec"] == "none"
    assert m["rows_per_chunk"] == n
    compact_table(spark, dst, target_parts=2)  # plain compact first...
    m2 = EncodedTable(dst).meta()
    assert m2["codec"] == "plain" and m2["block_codec"] == "none"
    compact_table(spark, dst, target_parts=1, rechunk=True)  # ...then rechunk
    enc = read_encoded(spark, dst)
    codecs = {c for r in enc.select("codecs").collect() for c in r.codecs}
    assert codecs == {"plain"}, codecs
    heads = [bytes(r[0][:2]) for r in
             enc.select(F.col("payloads").getItem(0)).collect()]
    assert all(h[0] == 0xEC and h[1] == 0 for h in heads)
    dec = read_decoded(spark, dst)
    assert dec.exceptAll(docs).count() == 0


@pytest.mark.spark
def test_scan_table_dict_aware(spark, tmp_path, monkeypatch):
    """scan_table states predicates in VALUE space on a table written
    with global_dict_cols: dict-column terms are translated to id
    space for zone pruning (ids are frequency-ranked, so a value range
    becomes an id SET, never an id range) and the exact residual runs
    on the restored values.  engine.scan_filtered would compare values
    against stored int ids — the hazard this path exists to close."""
    import parquet_spark.manifest as M
    from parquet_spark.manifest import scan_table, write_encoded

    df = gen_corpus(spark, 600, seed=29, parts=3) \
        .select("url", "warc_ts", "lang", "text")
    path = str(tmp_path / "tbl")
    write_encoded(df, path, key=["url"], n_parts=3, rows_per_chunk=100,
                  global_dict_cols=["lang"])
    langs = sorted(r[0] for r in df.select("lang").distinct().collect()
                   if r[0] is not None)
    pick, last = langs[0], langs[-1]
    # equality on the dict column
    exp = df.where(F.col("lang") == pick)
    got = scan_table(spark, path, [("lang", "=", pick)])
    assert got.count() == exp.count() > 0
    assert got.select(*df.columns).exceptAll(exp).count() == 0
    # value range enumerates the matching id set
    lo, hi = langs[0], langs[len(langs) // 2]
    exp_r = df.where(F.col("lang").between(lo, hi))
    got_r = scan_table(spark, path, [("lang", lo, hi)])
    assert got_r.count() == exp_r.count() > 0
    assert got_r.select(*df.columns).exceptAll(exp_r).count() == 0
    # a value absent from the dictionary matches nothing
    assert scan_table(spark, path, [("lang", "=", "zz-no")]).count() == 0
    # dict + non-dict terms compose in one AND-list
    mn, mx = df.agg(F.min("warc_ts"), F.max("warc_ts")).first()
    mid = mn + (mx - mn) / 2
    exp_m = df.where(F.col("lang").isin(langs[:2])
                     & F.col("warc_ts").between(mn, mid))
    got_m = scan_table(spark, path,
                       [("lang", "in", langs[:2]), ("warc_ts", mn, mid)])
    assert got_m.count() == exp_m.count() > 0
    # OR-of-ANDs
    got_or = scan_table(spark, path, {"any": [[("lang", "=", pick)],
                                              [("lang", "=", last)]]})
    exp_or = df.where(F.col("lang").isin([pick, last]))
    assert got_or.count() == exp_or.count()
    # range wider than _GDICT_PRUNE_MAX: pruning skipped for that term,
    # the value-space residual keeps the result exact
    monkeypatch.setattr(M, "_GDICT_PRUNE_MAX", 0)
    got_w = scan_table(spark, path, [("lang", lo, hi)])
    assert got_w.count() == exp_r.count()
    # ...and an IN-list over the cap is capped the same way (it would
    # otherwise expand into an equally large literal id array inside
    # the zone-keep expression): pruning skipped, residual exact
    got_in = scan_table(spark, path, [("lang", "in", langs[:2])])
    assert got_in.count() == df.where(F.col("lang").isin(langs[:2])).count()
    monkeypatch.undo()
    # projection restores the dict column to strings
    cols = scan_table(spark, path, [("lang", "=", pick)],
                      columns=["url", "lang"])
    assert cols.columns == ["url", "lang"]
    assert cols.schema["lang"].dataType.simpleString() == "string"
    assert cols.count() == exp.count()


@pytest.mark.spark
def test_large_global_dict_restores_in_the_decoder(spark, tmp_path):
    """A global dictionary past 1,024 values (too big for a literal
    array restore in codegen) restores inside the executor-side chunk
    decoder on every read surface: no join in the plan, and null ids
    stay null."""
    from parquet_spark.datasource import register
    from parquet_spark.manifest import scan_table

    df = spark.range(4000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 37 != 0,
               F.format_string("c%04d", F.col("id") % 1500)).alias("cat"))
    path = str(tmp_path / "tbl")
    write_encoded(df, path, key=["doc_id"], n_parts=2, rows_per_chunk=500,
                  global_dict_cols=["cat"])
    assert len(EncodedTable(path).meta()["global_dicts"]["cat"]) > 1024

    def same(a, b):
        return a.exceptAll(b).count() == 0 == b.exceptAll(a).count()

    dec = read_decoded(spark, path)
    assert dec.schema["cat"].dataType.simpleString() == "string"
    assert same(dec, df)
    assert dec.where(F.col("cat").isNull()).count() == 109  # 4000 / 37
    dec.collect()
    plan = dec._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan[:2000]
    # value-space equality and prefix on the dict column
    assert same(scan_table(spark, path, [("cat", "=", "c1234")]),
                df.where(F.col("cat") == "c1234"))
    pre = scan_table(spark, path, [("cat", "prefix", "c14")])
    assert pre.count() > 0
    assert same(pre, df.where(F.col("cat").startswith("c14")))
    register(spark)
    assert same(spark.read.format("parquet_spark").load(path), df)


@pytest.mark.spark
def test_global_dict_over_cap_falls_back_to_per_chunk(spark, monkeypatch):
    """A column whose cardinality crosses the manifest dictionary cap
    must NOT crash the write: it falls back to per-chunk dictionary
    encoding (raw values in the chunks, a 'global_dict_fallback' note
    in the snapshot meta), round-trips bit-identically, and RESUME
    keeps falling back even when a later batch would fit the cap."""
    import tempfile
    import warnings as _w

    import parquet_spark.manifest as mani
    from parquet_spark.manifest import (EncodedTable, read_decoded,
                                        write_encoded)
    monkeypatch.setattr(mani, "_GDICT_MAX_META", 50)
    # 120 distinct values over 600 rows: ratio 0.2 (passes the
    # uniqueness gate) but cardinality 120 > the patched cap of 50
    df = (spark.range(600)
          .select(F.col("id").alias("doc_id"),
                  F.concat(F.lit("v"), (F.col("id") % 120)).alias("cat"),
                  F.concat(F.lit("u"), F.col("id")).alias("url")))
    tbl = tempfile.mkdtemp(prefix="gdict_fb_")
    with pytest.warns(RuntimeWarning, match="per-chunk dictionary"):
        write_encoded(df, tbl, key=["doc_id"], n_parts=2, limit_parts=1,
                      global_dict_cols=["cat"])
    t = EncodedTable(tbl)
    meta = t.meta()
    assert "cat" not in (meta.get("global_dicts") or {})
    assert meta["global_dict_fallback"]["cat"].startswith("cardinality")
    # column stored raw (string), not as dict ids
    assert t.schema().field("cat").type == pa.string()
    # resume: a narrow second batch (cardinality now < cap) must KEEP
    # the fallback — committed chunks already hold raw values
    with _w.catch_warnings():
        _w.simplefilter("ignore", RuntimeWarning)
        write_encoded(df, tbl, key=["doc_id"], n_parts=2,
                      global_dict_cols=["cat"])
    meta2 = EncodedTable(tbl).meta()
    assert meta2["global_dict_fallback"]["cat"].startswith("cardinality")
    assert "cat" not in (meta2.get("global_dicts") or {})
    dec = read_decoded(spark, tbl)
    assert dec.count() == 600 and dec.exceptAll(df).count() == 0
    # the uniqueness gate still refuses loudly (semantic, not a cap)
    with pytest.raises(ValueError, match="uniqueness"):
        write_encoded(df, tempfile.mkdtemp(prefix="gdict_fb2_"),
                      key=["doc_id"], n_parts=2, global_dict_cols=["url"])


# --------------------------------------------------- incremental read

@pytest.mark.spark
def test_read_increment_returns_only_appended_rows(spark, tmp_path, sf_dir):
    from parquet_spark.manifest import read_increment, write_encoded
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    b1 = d.where(F.col("doc_id") < 300)
    b2 = d.where((F.col("doc_id") >= 300) & (F.col("doc_id") < 450))
    path = str(tmp_path / "t")
    write_encoded(b1, path, key=["doc_id"], n_parts=4)
    write_encoded(b2, path, key=["doc_id"], n_parts=4, part_offset=4)
    inc = read_increment(spark, path, from_snapshot_id=0)
    assert inc.count() == b2.count() == 150
    assert inc.select(*b2.columns).exceptAll(b2).count() == 0
    assert b2.exceptAll(inc.select(*b2.columns)).count() == 0
    # empty increment keeps the decoded schema
    empty = read_increment(spark, path, from_snapshot_id=1)
    assert empty.count() == 0
    assert set(empty.columns) == set(d.columns)
    # projection
    two = read_increment(spark, path, from_snapshot_id=0,
                         columns=["doc_id", "lang"])
    assert two.columns == ["doc_id", "lang"] and two.count() == 150


@pytest.mark.spark
def test_read_increment_refuses_non_append_history(spark, tmp_path, sf_dir):
    from parquet_spark.manifest import (compact_table, delete_rows,
                                        read_increment, write_encoded)
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    path = str(tmp_path / "t")
    write_encoded(d.where(F.col("doc_id") < 200), path, key=["doc_id"],
                  n_parts=2)
    compact_table(spark, path, target_parts=1)
    with pytest.raises(ValueError, match="append-only"):
        read_increment(spark, path, from_snapshot_id=0)
    # delete between snapshots also breaks the append-only contract
    path2 = str(tmp_path / "t2")
    write_encoded(d.where(F.col("doc_id") < 200), path2, key=["doc_id"],
                  n_parts=2)
    delete_rows(spark, path2, [("doc_id", None, 9)])
    with pytest.raises(ValueError, match="delete"):
        read_increment(spark, path2, from_snapshot_id=0)
    # unknown ancestor
    with pytest.raises(ValueError, match="ancestor"):
        read_increment(spark, path, from_snapshot_id=99)


# ------------------------------------------------ metadata-only stats

@pytest.mark.spark
def test_metadata_stats_exact_without_data_scan(spark, tmp_path, sf_dir):
    import duckdb

    from parquet_spark.manifest import metadata_stats, write_encoded
    li = (spark.read.parquet(f"{sf_dir}/lineitem.parquet")
          .where(F.col("l_orderkey") < 2000)
          .select("l_orderkey", "l_linenumber", "l_quantity",
                  "l_extendedprice", "l_shipdate"))
    path = str(tmp_path / "t")
    write_encoded(li, path, key=["l_orderkey", "l_linenumber"], n_parts=4)
    m = {r.column: r for r in metadata_stats(spark, path).collect()}
    exp = duckdb.sql(
        f"""SELECT count(*), min(l_orderkey), max(l_orderkey),
                   min(l_quantity), max(l_quantity),
                   epoch_us(min(l_shipdate)), epoch_us(max(l_shipdate))
            FROM read_parquet('{sf_dir}/lineitem.parquet')
            WHERE l_orderkey < 2000""").fetchone()
    assert m["l_orderkey"].table_rows == exp[0]
    assert m["l_orderkey"].covered_rows == exp[0]
    assert (m["l_orderkey"].min_num, m["l_orderkey"].max_num) == (exp[1], exp[2])
    assert (m["l_quantity"].min_dbl, m["l_quantity"].max_dbl) == (exp[3], exp[4])
    assert (m["l_shipdate"].min_num, m["l_shipdate"].max_num) == (exp[5], exp[6])
    assert m["l_quantity"].n_nulls == 0


@pytest.mark.spark
def test_metadata_stats_null_counts_and_delete_guard(spark, tmp_path):
    from parquet_spark.manifest import (delete_rows, metadata_stats,
                                        write_encoded)
    df = gen_corpus(spark, 2000, seed=7, parts=2)  # has null html/lang rows
    path = str(tmp_path / "t")
    write_encoded(df, path, key=["url"], n_parts=2)
    m = {r.column: r for r in metadata_stats(spark, path).collect()}
    true_nulls = df.where(F.col("lang").isNull()).count()
    assert m["lang"].n_nulls == true_nulls > 0
    delete_rows(spark, path, [("lang", "=", "en")])
    with pytest.raises(ValueError, match="delete"):
        metadata_stats(spark, path)


# -------------------------------------- range layout + file pruning

@pytest.mark.spark
def test_range_layout_roundtrip_resume_and_file_prune(spark, tmp_path, sf_dir):
    from parquet_spark.manifest import (_prune_parts, scan_table,
                                        write_encoded)
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    path = str(tmp_path / "t")
    write_encoded(d, path, key=["doc_id"], n_parts=8, mode="range",
                  limit_parts=3, rows_per_chunk=40)
    t = EncodedTable(path)
    assert len(t.committed_parts()) == 3
    write_encoded(d, path, key=["doc_id"], n_parts=8, mode="range",
                  rows_per_chunk=40)
    t = EncodedTable(path)
    parts = t.committed_parts()
    assert len(parts) == 8
    verify_roundtrip(d, read_decoded(spark, path))
    # boundaries frozen in the layout
    lay = t.current_snapshot()["meta"]["layout"]
    assert lay["mode"] == "range" and len(lay["boundaries"]) == 7
    # driver-side file pruning bites on the key range
    pred = [("doc_id", 100, 160)]
    kept = _prune_parts(parts, pred)
    assert 0 < len(kept) < len(parts), (len(kept), len(parts))
    got = scan_table(spark, path, pred)
    exp = d.where(F.col("doc_id").between(100, 160))
    assert got.count() == exp.count()
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0
    # nothing-matches scan: empty frame, full schema, zero files read
    none = scan_table(spark, path, [("doc_id", 10 ** 6, 2 * 10 ** 6)])
    assert none.count() == 0 and set(none.columns) == set(d.columns)


@pytest.mark.spark
def test_range_layout_string_key_corpus(spark, tmp_path):
    """North-rule shape: explicit range partitioning on the url key.
    Sorted disjoint url ranges per part -> the prefix codec engages AND
    url-range scans prune files."""
    from parquet_spark.manifest import (_prune_parts, scan_table,
                                        write_encoded)
    df = gen_corpus(spark, 6000, seed=13, parts=4)
    path = str(tmp_path / "t")
    write_encoded(df, path, key=["url"], n_parts=6, mode="range")
    t = EncodedTable(path)
    parts = t.committed_parts()
    verify_roundtrip(df, read_decoded(spark, path), key=["url"],
                     digest_col="text")
    lo, hi = "https://a", "https://f"
    kept = _prune_parts(parts, [("url", lo, hi)])
    assert len(kept) < len(parts)
    got = scan_table(spark, path, [("url", lo, hi)])
    exp = df.where((F.col("url") >= lo) & (F.col("url") <= hi))
    assert got.count() == exp.count()
    assert got.exceptAll(exp).count() == 0


@pytest.mark.spark
def test_range_layout_resume_guards(spark, tmp_path, sf_dir):
    from parquet_spark.manifest import write_encoded
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    path = str(tmp_path / "t")
    write_encoded(d, path, key=["doc_id"], n_parts=4, mode="range")
    with pytest.raises(ValueError, match="layout"):
        write_encoded(d, path, key=["doc_id"], n_parts=4)  # hash resume
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    with pytest.raises(TypeError, match="numeric"):
        write_encoded(ev, str(tmp_path / "t2"), key=["ts"],
                      n_parts=2, mode="range")  # timestamp key
    with pytest.raises(ValueError, match="2-4 columns"):
        write_encoded(d, str(tmp_path / "t3"), key=["doc_id"],
                      n_parts=2, mode="zorder")  # zorder needs >=2 keys
    with pytest.raises(ValueError, match="mode"):
        write_encoded(d, str(tmp_path / "t4"), key=["doc_id"],
                      n_parts=2, mode="bogus")


@pytest.mark.spark
def test_zorder_mode_resume_and_file_prune(spark, tmp_path, sf_dir):
    """write_encoded(mode='zorder'): parts own disjoint Morton-key
    ranges -> a 2-D box predicate prunes whole FILES; cell stats and
    z boundaries freeze in the layout so a limited write resumes to
    identical placement."""
    from parquet_spark.manifest import (_prune_parts, scan_table,
                                        write_encoded)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    path = str(tmp_path / "t")
    write_encoded(ev, path, key=["user_id", "value"], n_parts=8,
                  mode="zorder", rows_per_chunk=500, limit_parts=3)
    write_encoded(ev, path, key=["user_id", "value"], n_parts=8,
                  mode="zorder", rows_per_chunk=500)
    t = EncodedTable(path)
    parts = t.committed_parts()
    assert len(parts) == 8
    lay = t.current_snapshot()["meta"]["layout"]
    assert lay["mode"] == "zorder" and len(lay["zorder_stats"]) == 2
    dec = read_decoded(spark, path)
    assert dec.count() == ev.count()
    assert dec.exceptAll(ev).count() == 0
    assert ev.exceptAll(dec).count() == 0
    r = ev.agg(F.min("user_id"), F.max("user_id"),
               F.min("value"), F.max("value")).first()
    ulo = int(r[0] + (r[1] - r[0]) * 0.2)
    uhi = int(r[0] + (r[1] - r[0]) * 0.4)
    vlo = r[2] + (r[3] - r[2]) * 0.2
    vhi = r[2] + (r[3] - r[2]) * 0.4
    pred = [("user_id", ulo, uhi), ("value", vlo, vhi)]
    kept = _prune_parts(parts, pred)
    assert 0 < len(kept) <= len(parts) // 2, (len(kept), len(parts))
    got = scan_table(spark, path, pred)
    exp = ev.where(F.col("user_id").between(ulo, uhi)
                   & F.col("value").between(vlo, vhi))
    assert got.count() == exp.count()
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0


@pytest.mark.spark
def test_recluster_layout_evolution(spark, tmp_path, sf_dir):
    """recluster_table: hash -> range layout evolution on the same
    table path — deletes applied, fresh frozen boundaries, whole-file
    pruning bites, parent snapshot still time-travelable."""
    from parquet_spark.manifest import (_prune_parts, delete_rows,
                                        recluster_table, scan_table,
                                        write_encoded)
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    path = str(tmp_path / "t")
    write_encoded(d, path, key=["doc_id"], n_parts=4, rows_per_chunk=700)
    delete_rows(spark, path, [("doc_id", 0, 99)])
    snap = recluster_table(spark, path, mode="range", n_parts=8)
    live = d.where(~F.col("doc_id").between(0, 99))
    t = EncodedTable(path)
    lay = snap["meta"]["layout"]
    assert lay["mode"] == "range" and len(lay["boundaries"]) == 7
    assert snap["meta"].get("replaced_snapshot") == 1
    assert not snap["meta"].get("delete_files")  # applied, not carried
    dec = read_decoded(spark, path)
    assert dec.count() == live.count()
    assert dec.exceptAll(live).count() == 0
    assert live.exceptAll(dec).count() == 0
    # disjoint key ranges -> driver-side file pruning bites
    lo, hi = 100, 400
    kept = _prune_parts(t.committed_parts(), [("doc_id", lo, hi)])
    assert 0 < len(kept) < 8
    got = scan_table(spark, path, [("doc_id", lo, hi)])
    exp = live.where(F.col("doc_id").between(lo, hi))
    assert got.count() == exp.count()
    assert got.exceptAll(exp).count() == 0
    # time travel: the pre-recluster snapshot still reads (MOR deletes)
    old = read_decoded(spark, path, snapshot_id=1)
    assert old.count() == live.count()
    # replace guards partial overwrites
    with pytest.raises(ValueError, match="partial"):
        write_encoded(d, path, key=["doc_id"], n_parts=4,
                      replace=True, limit_parts=2)


@pytest.mark.spark
def test_recluster_to_zorder_and_dict_refresh(spark, tmp_path, sf_dir):
    """recluster_table to zorder; global dicts rebuilt in the new
    epoch (ids re-frozen) and restored transparently."""
    from parquet_spark.manifest import recluster_table, write_encoded
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    path = str(tmp_path / "t")
    write_encoded(ev, path, key=["event_id"], n_parts=4,
                  global_dict_cols=["event_type"])
    snap = recluster_table(spark, path, mode="zorder",
                           key=["user_id", "value"], n_parts=6)
    lay = snap["meta"]["layout"]
    assert lay["mode"] == "zorder" and len(lay["zorder_stats"]) == 2
    assert lay["global_dict_cols"] == ["event_type"]  # inherited
    assert snap["meta"]["global_dicts"]["event_type"]
    dec = read_decoded(spark, path)
    assert dec.count() == ev.count()
    assert dec.exceptAll(ev).count() == 0
    assert ev.exceptAll(dec).count() == 0


@pytest.mark.spark
def test_refs_tag_branch_vacuum(spark, tmp_path, sf_dir):
    """Named refs: immutable tags pin a snapshot by name (readable
    across later rewrites), branches move, and vacuum keeps every
    ref-referenced file alive until the ref is dropped."""
    import time as _time

    from parquet_spark.manifest import (create_ref, drop_ref, list_refs,
                                        recluster_table, scan_table,
                                        vacuum_table, write_encoded)
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    path = str(tmp_path / "t")
    write_encoded(d.where(F.col("doc_id") < 300), path,
                  key=["doc_id"], n_parts=2)
    create_ref(path, "v1")  # tag CURRENT (snapshot 0)
    create_ref(path, "main-alias", kind="branch")
    write_encoded(d.where((F.col("doc_id") >= 300)
                          & (F.col("doc_id") < 500)),
                  path, key=["doc_id"], n_parts=2, part_offset=2)
    recluster_table(spark, path, mode="range", n_parts=4)
    create_ref(path, "main-alias", kind="branch")  # branch moves
    # tag still reads the ORIGINAL 300 rows after the recluster
    tagged = read_decoded(spark, path, ref="v1")
    assert tagged.count() == 300
    assert read_decoded(spark, path, ref="main-alias").count() == 500
    got = scan_table(spark, path, [("doc_id", 0, 99)], ref="v1")
    assert got.count() == d.where(F.col("doc_id") < 100).count()
    # immutability + guards
    with pytest.raises(ValueError, match="immutable"):
        create_ref(path, "v1")
    with pytest.raises(ValueError, match="immutable"):
        create_ref(path, "v1", kind="branch")
    with pytest.raises(ValueError, match="not both"):
        read_decoded(spark, path, snapshot_id=0, ref="v1")
    assert set(list_refs(path)) == {"v1", "main-alias"}
    # vacuum spares tag-pinned files; after drop_ref they go
    removed = vacuum_table(path, grace_s=0.0)
    assert read_decoded(spark, path, ref="v1").count() == 300
    drop_ref(path, "v1")
    drop_ref(path, "main-alias")
    _time.sleep(0.01)
    removed = vacuum_table(path, grace_s=0.0)
    assert removed  # the old layout's files are reclaimed now
    with pytest.raises(ValueError, match="no ref"):
        read_decoded(spark, path, ref="v1")
    assert read_decoded(spark, path).count() == 500


@pytest.mark.spark
def test_prefix_predicate_through_scan_table(spark):
    """(col, "prefix", p) through the table scan: file-level manifest
    pruning on range layouts, id-translation for global-dict columns,
    and the exact startswith residual on restored values."""
    import tempfile

    from parquet_spark.corpus import gen_corpus
    from parquet_spark.manifest import (EncodedTable, _prune_parts,
                                        scan_table, write_encoded)
    df = gen_corpus(spark, 2000, seed=31, parts=4) \
        .select("url", "lang", "text")
    tbl = tempfile.mkdtemp(prefix="prefix_scan_")
    write_encoded(df, tbl, key=["url"], n_parts=4, mode="range",
                  global_dict_cols=["lang"])
    host = sorted(r.h for r in df.select(
        F.regexp_extract("url", r"https://([^/]+)/", 1).alias("h"))
        .distinct().collect())[0]
    p = f"https://{host}/"
    # file-level prune: a range layout on url gives disjoint per-part
    # spans, so a single-host prefix must skip at least one file
    parts = EncodedTable(tbl).committed_parts()
    kept_files = _prune_parts(parts, [("url", "prefix", p)])
    assert 0 < len(kept_files) < len(parts), (len(kept_files), len(parts))
    got = scan_table(spark, tbl, [("url", "prefix", p)])
    want = df.where(F.col("url").startswith(p))
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0
    # prefix on the dict column translates to an id IN-list and
    # restores values before the residual
    got_l = scan_table(spark, tbl, [("lang", "prefix", "d")])
    want_l = df.where(F.col("lang").startswith("d"))
    assert got_l.count() == want_l.count() > 0
    assert got_l.exceptAll(want_l).count() == 0
    # a prefix matching NO dict value prunes everything, returns empty
    assert scan_table(spark, tbl, [("lang", "prefix", "zzz")]).count() == 0
