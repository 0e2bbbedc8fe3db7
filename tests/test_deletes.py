"""Row-level deletes: merge-on-read equality deletes + physical rewrite.

Iceberg analog (equality-delete files, rewrite_data_files); the
reference C# library has no delete concept at all — its overwrite
semantics (ResultListenerTests.cs:130-153) replace whole files.
"""

import pytest
from pyspark.sql import functions as F

from parquet_spark.corpus import gen_corpus
from parquet_spark.manifest import (EncodedTable, compact_table,
                                    delete_rows, read_decoded,
                                    rewrite_table, scan_table,
                                    write_encoded)

pytestmark = pytest.mark.spark


def test_delete_merge_on_read(spark, tmp_path):
    df = gen_corpus(spark, 1000, seed=61, parts=2)
    path = str(tmp_path / "tbl")
    write_encoded(df, path, key=["url"], n_parts=4)
    doomed = [r.url for r in df.limit(5).collect()]
    snap = delete_rows(spark, path, [("url", "in", doomed)])
    assert snap["meta"]["n_deleted"] == 5
    dec = read_decoded(spark, path)
    assert dec.count() == 995
    assert dec.where(F.col("url").isin(doomed)).count() == 0
    # no data file was rewritten: parts identical to snapshot 0
    t = EncodedTable(path)
    assert t.data_files(t.snapshot_at(0)) == t.data_files()
    # time travel pre-delete still sees all rows
    assert read_decoded(spark, path, snapshot_id=0).count() == 1000
    # scans and projections respect deletes (key not in projection)
    assert scan_table(spark, path, [("lang", "de", "de")]).where(
        F.col("url").isin(doomed)).count() == 0
    two = read_decoded(spark, path, columns=["text", "lang"])
    assert two.columns == ["text", "lang"] and two.count() == 995


def test_delete_accumulates_and_rewrite_applies(spark, tmp_path):
    df = gen_corpus(spark, 800, seed=67, parts=2)
    path = str(tmp_path / "tbl")
    write_encoded(df, path, key=["url"], n_parts=3, rows_per_chunk=100)
    urls = [r.url for r in df.orderBy("url").limit(10).collect()]
    delete_rows(spark, path, [("url", "in", urls[:4])])
    delete_rows(spark, path, [("url", "in", urls[4:])])
    assert read_decoded(spark, path).count() == 790
    snap = rewrite_table(spark, path)
    assert "delete_files" not in snap["meta"]
    assert read_decoded(spark, path).count() == 790
    # physically gone: pre-rewrite chunk bytes no longer carry the rows
    from parquet_spark.manifest import read_encoded
    assert read_encoded(spark, path).agg(
        F.sum("n_rows")).collect()[0][0] == 790
    # idempotent no-op when nothing is pending
    again = rewrite_table(spark, path)
    assert again["snapshot_id"] == snap["snapshot_id"]


def test_delete_survives_compaction(spark, tmp_path):
    df = gen_corpus(spark, 600, seed=71, parts=2)
    path = str(tmp_path / "tbl")
    write_encoded(df, path, key=["url"], n_parts=4, rows_per_chunk=50)
    doomed = [r.url for r in df.limit(3).collect()]
    delete_rows(spark, path, [("url", "in", doomed)])
    compact_table(spark, path, target_parts=1, rechunk=True)
    dec = read_decoded(spark, path)
    assert dec.count() == 597
    assert dec.where(F.col("url").isin(doomed)).count() == 0
    # key survives compaction: further deletes still work
    more = [r.url for r in dec.limit(2).collect()]
    delete_rows(spark, path, [("url", "in", more)])
    assert read_decoded(spark, path).count() == 595
    # and rewrite still applies physically after compaction
    rewrite_table(spark, path)
    assert read_decoded(spark, path).count() == 595


def test_delete_requires_key_and_pred_matches_nothing(spark, tmp_path):
    from parquet_spark.splits import write_encoded_splits
    df = gen_corpus(spark, 300, seed=73, parts=2)
    src = str(tmp_path / "src.parquet")
    df.write.parquet(src)
    path = str(tmp_path / "splits_tbl")
    write_encoded_splits(spark, src, path)
    with pytest.raises(ValueError, match="key"):
        delete_rows(spark, path, [("lang", "de", "de")])
    path2 = str(tmp_path / "hash_tbl")
    write_encoded(df, path2, key=["url"], n_parts=2)
    snap = delete_rows(spark, path2, [("url", "=", "https://nope")])
    assert snap["meta"]["n_deleted"] == 0
    assert read_decoded(spark, path2).count() == 300


def test_upsert_updates_and_inserts(spark, tmp_path):
    from parquet_spark.manifest import upsert_rows
    df = gen_corpus(spark, 500, seed=79, parts=2)
    path = str(tmp_path / "tbl")
    write_encoded(df, path, key=["url"], n_parts=3)
    # updates: 5 existing urls with new text; inserts: 2 fresh urls
    upd = (df.limit(5)
           .withColumn("text", F.concat(F.lit("UPDATED "), F.col("text"))))
    ins = (df.limit(2)
           .withColumn("url", F.concat(F.lit("https://new/"), F.col("url"))))
    upsert_rows(spark, path, upd.unionByName(ins))
    dec = read_decoded(spark, path).cache()
    assert dec.count() == 502  # 500 - 5 + 5 + 2
    upd_urls = [r.url for r in upd.select("url").collect()]
    got = dec.where(F.col("url").isin(upd_urls))
    # the REPLACEMENTS survived the equality delete (sequence scoping):
    # exactly one row per updated key, carrying the new text
    assert got.count() == 5
    assert got.where(F.col("text").startswith("UPDATED ")).count() == 5
    assert dec.where(F.col("url").startswith("https://new/")).count() == 2
    dec.unpersist()


def test_upsert_then_rewrite_and_compact(spark, tmp_path):
    from parquet_spark.manifest import rewrite_table, upsert_rows
    df = gen_corpus(spark, 400, seed=83, parts=2)
    path = str(tmp_path / "tbl")
    write_encoded(df, path, key=["url"], n_parts=2, rows_per_chunk=64)
    # a frame with an extra column must be rejected, not appended
    with pytest.raises(ValueError, match="columns"):
        upsert_rows(spark, path, df.limit(3).withColumn("extra", F.lit(1)))
    upd = df.limit(3).withColumn("lang", F.lit("xx"))
    upsert_rows(spark, path, upd)
    rewrite_table(spark, path)
    dec = read_decoded(spark, path)
    assert dec.count() == 400
    assert dec.where(F.col("lang") == "xx").count() == 3
    # compaction with pending deletes auto-rewrites first (part-id
    # renumbering would otherwise mis-scope the delete boundaries)
    upsert_rows(spark, path, df.limit(2).withColumn("lang", F.lit("yy")))
    compact_table(spark, path, target_parts=1)
    dec2 = read_decoded(spark, path)
    assert dec2.count() == 400
    assert dec2.where(F.col("lang") == "yy").count() == 2


def test_relocate_applies_pending_deletes_first(spark, tmp_path):
    from parquet_spark.manifest import relocate_table
    df = gen_corpus(spark, 500, seed=89, parts=2)
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    write_encoded(df, src, key=["url"], n_parts=3, rows_per_chunk=64)
    doomed = [r.url for r in df.limit(4).collect()]
    delete_rows(spark, src, [("url", "in", doomed)])
    relocate_table(spark, src, dst, n_parts=2)
    dec = read_decoded(spark, dst)
    assert dec.count() == 496
    assert dec.where(F.col("url").isin(doomed)).count() == 0


# ------------------------------------------------------------ CDC changelog


@pytest.mark.spark
def test_changelog_renders_inserts_and_delete_preimages(spark, tmp_path):
    from parquet_spark.manifest import read_changelog, upsert_rows
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    tmp = str(tmp_path / "cdc")
    write_encoded(d, tmp, key=["doc_id"], n_parts=2, rows_per_chunk=50)
    s1 = EncodedTable(tmp).current_snapshot()["snapshot_id"]
    up = (d.where(F.col("doc_id") % 10 == 0)
          .withColumn("n_chars", F.col("n_chars") + 1000))
    new = spark.createDataFrame(
        [(10_000 + i, f"new {i}", "en", "srcX", 9 + i) for i in range(5)],
        d.schema)
    upsert_rows(spark, tmp, up.unionByName(new))
    delete_rows(spark, tmp, [("doc_id", "in", [1, 11, 21])])
    cl = read_changelog(spark, tmp, s1).cache()
    by = {(r._change_type, r._commit_snapshot_id): r.n for r in
          cl.groupBy("_change_type", "_commit_snapshot_id")
            .agg(F.count("*").alias("n")).collect()}
    n_mod = d.where(F.col("doc_id") % 10 == 0).count()
    assert by[("delete", s1 + 1)] == n_mod        # upsert pre-images
    assert by[("insert", s1 + 2)] == n_mod + 5    # replacements + new
    assert by[("delete", s1 + 3)] == 3
    # pre-images carry the ORIGINAL values, not the upserted ones
    pre = cl.where((F.col("_change_type") == "delete")
                   & (F.col("_commit_snapshot_id") == s1 + 1)) \
            .select("doc_id", "n_chars")
    orig = d.where(F.col("doc_id") % 10 == 0).select("doc_id", "n_chars")
    assert pre.exceptAll(orig).count() == 0
    # accounting identity: initial + inserts - deletes == final state
    ni = cl.where(F.col("_change_type") == "insert").count()
    nd = cl.where(F.col("_change_type") == "delete").count()
    assert d.count() + ni - nd == read_decoded(spark, tmp).count()
    cl.unpersist()


@pytest.mark.spark
def test_changelog_never_reports_a_row_deleted_twice(spark, tmp_path):
    from parquet_spark.manifest import read_changelog
    d = spark.range(100).withColumn("v", F.col("id") * 2)
    tmp = str(tmp_path / "cdc2")
    write_encoded(d, tmp, key=["id"], n_parts=1, rows_per_chunk=20)
    s1 = EncodedTable(tmp).current_snapshot()["snapshot_id"]
    delete_rows(spark, tmp, [("id", "in", [1, 2, 3])])
    delete_rows(spark, tmp, [("id", "in", [3, 4])])   # 3 already dead
    cl = read_changelog(spark, tmp, s1)
    last = cl.agg(F.max("_commit_snapshot_id")).head()[0]
    assert sorted(r.id for r in
                  cl.where(F.col("_commit_snapshot_id") == last)
                  .collect()) == [4]
    assert cl.where(F.col("_change_type") == "delete").count() == 4


@pytest.mark.spark
def test_changelog_rejects_rewritten_history_and_bad_ancestor(
        spark, tmp_path):
    from parquet_spark.manifest import compact_table, read_changelog
    d = spark.range(200).withColumn("v", F.col("id") % 7)
    tmp = str(tmp_path / "cdc3")
    write_encoded(d, tmp, key=["id"], n_parts=4, rows_per_chunk=20)
    s1 = EncodedTable(tmp).current_snapshot()["snapshot_id"]
    compact_table(spark, tmp, target_parts=1)
    with pytest.raises(ValueError, match="append/delete-only"):
        read_changelog(spark, tmp, s1).count()
    with pytest.raises(ValueError, match="not an ancestor"):
        read_changelog(spark, tmp, 999)


@pytest.mark.spark
def test_changelog_empty_range_and_projection(spark, tmp_path):
    from parquet_spark.manifest import read_changelog
    d = spark.range(50).withColumn("v", F.col("id") + 5)
    tmp = str(tmp_path / "cdc4")
    write_encoded(d, tmp, key=["id"], n_parts=1, rows_per_chunk=20)
    s1 = EncodedTable(tmp).current_snapshot()["snapshot_id"]
    empty = read_changelog(spark, tmp, s1)        # from == to
    assert empty.count() == 0
    assert "_change_type" in empty.columns
    delete_rows(spark, tmp, [("id", "=", 7)])
    cl = read_changelog(spark, tmp, s1, columns=["v"])
    assert set(cl.columns) == {"v", "_change_type",
                               "_commit_snapshot_id"}
    assert [r.v for r in cl.collect()] == [12]


def test_snapshot_reads_with_deletes_over_many_files(spark, tmp_path):
    """read_decoded, scan_table and read_increment decode a snapshot
    with pending equality deletes whose part files outnumber the
    session's cores (one read task per file): each equals the
    pyarrow-filtered source rows, and a deleted key appended again
    survives (a delete hides only rows of older parts).  A scan whose
    file prune keeps no file is empty with the snapshot's schema."""
    import pyarrow as pa

    from parquet_spark.manifest import read_increment
    ddl = "id long, lang string, x double"
    src = pa.table({"id": list(range(600)),
                    "lang": [("de", "en", "fr")[i % 3] for i in range(600)],
                    "x": [i / 2 for i in range(600)]})
    base = src.slice(0, 400).to_pylist()
    doomed = set(range(0, 400, 7))
    # the appended rows re-insert one deleted key
    more = src.slice(400).to_pylist() + [dict(base[7], x=-1.0)]
    path = str(tmp_path / "tbl")
    write_encoded(spark.createDataFrame(base, ddl), path, key=["id"],
                  n_parts=3, rows_per_chunk=50)
    snap = delete_rows(spark, path, [("id", "in", sorted(doomed))])
    write_encoded(spark.createDataFrame(more, ddl), path, key=["id"],
                  n_parts=3, rows_per_chunk=50, part_offset=3)
    table = EncodedTable(path)
    assert len(table.data_files()) > spark.sparkContext.defaultParallelism
    assert table.current_snapshot()["meta"]["delete_files"]

    def got(df):
        return sorted(tuple(r) for r in df.collect())

    def rows(rs, keep=lambda r: True):
        return sorted(tuple(r.values()) for r in rs if keep(r))

    live = [r for r in base if r["id"] not in doomed] + more
    assert got(read_decoded(spark, path)) == rows(live)
    assert got(scan_table(spark, path, [("lang", "=", "de")])) == \
        rows(live, lambda r: r["lang"] == "de")
    assert got(scan_table(spark, path, [("id", 0, 20)],
                          columns=["x"])) == \
        sorted((r["x"],) for r in live if r["id"] <= 20)
    assert got(read_increment(spark, path, snap["snapshot_id"])) == \
        rows(more)
    none = scan_table(spark, path, [("id", 10_000, None)])
    assert none.schema == read_decoded(spark, path).schema
    assert none.count() == 0
