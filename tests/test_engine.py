"""Engine tests: chunk-level (Spark-free) and full Spark round trips.

Spark analog of the reference file-level round-trip suite
(/root/reference/Parquet.Tests/ParquetFileTests.cs) on the F1 webpages
fixture and the driver testdata tables.
"""

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from parquet_spark.corpus import gen_batch, gen_corpus
from parquet_spark.engine import (decode_chunk, decode_table, encode_chunk,
                                  encode_table, encoding_stats, prune_chunks)
from parquet_spark.verify import verify_roundtrip


# ------------------------------------------------------- chunk level (fast)

def test_chunk_roundtrip_webpages():
    batch = gen_batch(np.arange(3000, dtype=np.uint64))
    chunk = encode_chunk(batch, part_id=0, chunk_id=0)
    out = decode_chunk(chunk["schema_ipc"], chunk["names"], chunk["payloads"])
    assert out.equals(batch)


def test_chunk_codec_choices_match_column_nature():
    batch = gen_batch(np.arange(8000, dtype=np.uint64))
    chunk = encode_chunk(batch, 0, 0)
    by = dict(zip(chunk["names"], chunk["codecs"]))
    assert by["warc_ts"] == "int"      # FOR/DELTA on epoch-us
    assert by["lang"] == "dict"        # 30 distinct over 8000 rows
    assert by["text"] in ("fsst", "dict", "str_plain")
    assert by["html"] == "str_plain"   # random bytes: no dict, no fsst

    sizes = dict(zip(chunk["names"], zip(chunk["bytes_in"], chunk["bytes_out"])))
    bi, bo = sizes["lang"]
    assert bo < bi / 10                # dict+rle crushes lang
    bi, bo = sizes["warc_ts"]
    assert bo < bi / 2                 # FOR beats raw int64
    bi, bo = sizes["text"]
    assert bo < bi / 2                 # redundant prose compresses 2x+


def test_chunk_deterministic():
    ids = np.arange(500, dtype=np.uint64)
    c1 = encode_chunk(gen_batch(ids), 0, 0)
    c2 = encode_chunk(gen_batch(ids), 0, 0)
    assert c1["payloads"] == c2["payloads"]


# ------------------------------------------------------------- spark level

@pytest.mark.spark
def test_corpus_deterministic_across_parallelism(spark):
    a = gen_corpus(spark, 2000, seed=7, parts=2).orderBy("url").collect()
    b = gen_corpus(spark, 2000, seed=7, parts=5).orderBy("url").collect()
    assert a == b


@pytest.mark.spark
def test_encode_decode_roundtrip_corpus(spark):
    df = gen_corpus(spark, 5000, seed=42, parts=4)
    enc = encode_table(df, key=["url"], n_parts=8, rows_per_chunk=1000)
    enc.cache()
    dec = decode_table(enc)
    report = verify_roundtrip(df, dec, key=["url"], digest_col="text")
    assert report["rows"] == 5000
    enc.unpersist()


@pytest.mark.spark
def test_encode_chunks_respect_rows_per_chunk(spark):
    df = gen_corpus(spark, 4000, seed=1, parts=2)
    enc = encode_table(df, key=["url"], n_parts=4, rows_per_chunk=500)
    rows = enc.select("part_id", "chunk_id", "n_rows").collect()
    assert all(r.n_rows <= 500 for r in rows)
    assert sum(r.n_rows for r in rows) == 4000
    # chunk ids are dense per partition
    per_part = {}
    for r in rows:
        per_part.setdefault(r.part_id, []).append(r.chunk_id)
    for cids in per_part.values():
        assert sorted(cids) == list(range(len(cids)))


@pytest.mark.spark
def test_compression_beats_parquet_snappy(spark, tmp_path):
    import os
    df = gen_corpus(spark, 20000, seed=3, parts=4)
    df.cache()
    enc = encode_table(df, key=["url"], n_parts=8)
    ours = (enc.select(F.explode("bytes_out").alias("b"))
            .agg(F.sum("b")).collect()[0][0])
    pq_path = str(tmp_path / "baseline.parquet")
    df.write.mode("overwrite").parquet(pq_path)
    theirs = sum(f.stat().st_size for f in (tmp_path / "baseline.parquet").rglob("*.parquet"))
    df.unpersist()
    assert ours <= theirs, f"ours {ours} > parquet-snappy {theirs}"


@pytest.mark.spark
def test_roundtrip_testdata_tables(spark, sf_dir):
    for name, key in [("lineitem", ["l_orderkey", "l_linenumber"]),
                      ("events", ["event_id"]),
                      ("documents", ["doc_id"]),
                      ("embeddings", ["vec_id"]),
                      ("orders", ["o_orderkey"])]:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        enc = encode_table(df, key=key, n_parts=4)
        dec = decode_table(enc)
        verify_roundtrip(df, dec)


@pytest.mark.spark
def test_encoding_stats_facet(spark):
    df = gen_corpus(spark, 3000, seed=5, parts=2)
    stats = encoding_stats(encode_table(df, key=["url"], n_parts=4)).collect()
    cols = {r.column for r in stats}
    assert cols == {"url", "warc_ts", "html", "text", "lang"}
    total_rows = sum(r.rows for r in stats if r.column == "url")
    assert total_rows == 3000


@pytest.mark.spark
def test_column_pruned_decode(spark):
    from parquet_spark.corpus import gen_corpus
    from parquet_spark.engine import decode_table, encode_table
    df = gen_corpus(spark, 1500, seed=5, parts=2)
    enc = encode_table(df, key=["url"], n_parts=2).cache()
    two = decode_table(enc, columns=["url", "lang"])
    assert two.columns == ["url", "lang"]
    assert two.count() == 1500
    full = decode_table(enc)
    assert (two.exceptAll(full.select("url", "lang")).count() == 0)
    enc.unpersist()


@pytest.mark.spark
def test_zone_map_pruning(spark):
    from parquet_spark.corpus import gen_corpus
    from parquet_spark.engine import decode_table, encode_table, prune_chunks
    df = gen_corpus(spark, 3000, seed=5, parts=2)
    enc = encode_table(df, key=["url"], n_parts=4,
                       rows_per_chunk=250).cache()
    n_all = enc.count()
    lo, hi = "https://host1", "https://host2zz"
    pruned = prune_chunks(enc, lo, hi)
    assert pruned.count() < n_all          # some chunks skipped outright
    got = decode_table(pruned).where(
        (F.col("url") >= lo) & (F.col("url") <= hi))
    want = df.where((F.col("url") >= lo) & (F.col("url") <= hi))
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0
    enc.unpersist()


@pytest.mark.spark
def test_encode_deterministic_under_input_partitioning(spark):
    """Fixed (input, key, n_parts) must give byte-identical chunks no
    matter how the input arrives (north-rule reproducibility)."""
    from parquet_spark.corpus import gen_corpus
    df = gen_corpus(spark, 2000, seed=3, parts=2)

    def digests(frame):
        enc = encode_table(frame, key=["url"], n_parts=4)
        rows = enc.select("part_id", "chunk_id",
                          F.md5(F.col("payloads")[0]).alias("d0"),
                          F.md5(F.col("payloads")[3]).alias("d3")).collect()
        return sorted((r.part_id, r.chunk_id, r.d0, r.d3) for r in rows)

    assert digests(df) == digests(df.repartition(13)) \
        == digests(df.coalesce(1))


@pytest.mark.spark
@pytest.mark.parametrize("rpc", [7, 100, 10000])
def test_chunk_size_sweep_same_logical_rows(spark, rpc):
    """Reference row-group-boundary sweep (FragmentTests.cs:177-219)
    through the Spark path: any rows_per_chunk yields identical data."""
    from parquet_spark.corpus import gen_corpus
    df = gen_corpus(spark, 300, seed=8, parts=2)
    dec = decode_table(encode_table(df, key=["url"], n_parts=2,
                                    rows_per_chunk=rpc))
    verify_roundtrip(df, dec, key=["url"], digest_col="text")


@pytest.mark.spark
def test_numeric_zone_map_pruning(spark):
    """Int sort key -> numeric zone maps; id-range scans skip chunks."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    enc = encode_table(docs, key=["doc_id"], n_parts=2,
                       rows_per_chunk=50).cache()
    n_all = enc.count()
    assert enc.where(F.col("key_min_num").isNotNull()).count() == n_all
    pruned = prune_chunks(enc, 100, 180)
    assert 0 < pruned.count() < n_all
    got = decode_table(pruned).where(F.col("doc_id").between(100, 180))
    want = docs.where(F.col("doc_id").between(100, 180))
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0
    enc.unpersist()


@pytest.mark.spark
def test_prune_chunks_validates_column_and_bound_types(spark):
    """ADVICE fix: bounds for a non-zone column must raise, not silently
    prune by the wrong column's ranges; bool bounds rejected; numpy ints
    and datetime64 bounds hit the numeric zone map."""
    import numpy as np
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    enc = encode_table(docs, key=["doc_id"], n_parts=2,
                       rows_per_chunk=50).cache()
    with pytest.raises(KeyError):
        prune_chunks(enc, 10, 20, column="lang")
    with pytest.raises(TypeError):
        prune_chunks(enc, True, None)
    n_all = enc.count()
    a = prune_chunks(enc, np.int64(100), np.int64(180), column="doc_id")
    b = prune_chunks(enc, 100, 180, column="doc_id")
    assert a.count() == b.count() < n_all
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    enc2 = encode_table(ev, key=["ts"], n_parts=2, rows_per_chunk=100).cache()
    bounds = enc2.agg(F.min("key_min_num"), F.max("key_max_num")).head()
    mid = bounds[0] + (bounds[1] - bounds[0]) // 2
    c = prune_chunks(enc2, np.datetime64(int(bounds[0]), "us"),
                     np.datetime64(int(mid), "us"), column="ts")
    assert 0 < c.count() < enc2.count()
    enc.unpersist()
    enc2.unpersist()


@pytest.mark.spark
def test_read_row_and_cell_random_access(spark):
    """Reader.ReadRow/ReadCell parity (/root/reference/Parquet.Tests/
    Reader.cs:34-59): random access by global row index across chunk
    boundaries, cell access decoding only the one column."""
    from parquet_spark.engine import read_cell, read_row
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    enc = encode_table(docs, key=["doc_id"], n_parts=2,
                       rows_per_chunk=64).cache()
    # logical order = (part_id, chunk_id, in-chunk) = sorted by key
    # within each hash partition; reconstruct the same order to compare
    expected = decode_table(enc).collect()
    n = len(expected)
    for idx in (0, 1, 63, 64, 65, n - 1):  # spans chunk boundaries
        row = read_row(enc, idx)
        want = expected[idx].asDict()
        assert row == want, idx
        assert read_cell(enc, idx, "text") == want["text"]
    with pytest.raises(IndexError):
        read_row(enc, n)
    enc.unpersist()


@pytest.mark.spark
def test_string_zone_bounds_are_truncated_and_conservative(spark):
    """Zone bounds for long string columns must be short (metadata, not
    data: a text column would otherwise embed two full documents per
    chunk row) while still pruning conservatively."""
    from parquet_spark.engine import _ZONE_STR_MAX, prune_chunks_pred
    import pandas as pd
    pdf = pd.DataFrame({
        "k": [f"{i:04d}" for i in range(400)],
        "body": [f"{chr(97 + (i * 7) % 26)}" + "x" * 500 + f"{i:04d}"
                 for i in range(400)]})
    df = spark.createDataFrame(pdf)
    # body is a fat column: auto mode would skip it (cost heuristic), so
    # zone-map it explicitly to exercise the truncation
    enc = encode_table(df, key=["k"], n_parts=2, rows_per_chunk=50,
                       zone_cols=["k", "body"]).cache()
    assert (enc.select(F.explode("zone_cols").alias("c"))
            .where(F.col("c") == "body").count()) > 0
    zl = (enc.select(F.explode("zone_cols").alias("c"), "zone_min_str",
                     "zone_max_str")
          .select(F.explode("zone_min_str").alias("v")).collect())
    zh = enc.select(F.explode("zone_max_str").alias("v")).collect()
    for r in list(zl) + list(zh):
        assert r.v is None or len(r.v) <= _ZONE_STR_MAX + 1
    # pruning on the long column stays exact under the residual filter
    lo, hi = "d", "g"
    kept = prune_chunks_pred(enc, [("body", lo, hi)])
    got = decode_table(kept).where(F.col("body").between(lo, hi))
    want = df.where(F.col("body").between(lo, hi))
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0
    enc.unpersist()


@pytest.mark.spark
def test_scan_filtered_one_call_pushdown(spark):
    """scan_filtered = prune + decode + residual in one call; equals the
    full filter over raw data for AND, OR, and timestamp predicates."""
    from parquet_spark.engine import scan_filtered
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    enc = encode_table(docs, key=["doc_id"], n_parts=2,
                       rows_per_chunk=50).cache()
    got = scan_filtered(enc, [("doc_id", 100, 180)])
    want = docs.where(F.col("doc_id").between(100, 180))
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0
    got_or = scan_filtered(enc, {"any": [[("doc_id", 0, 40)],
                                         [("doc_id", 450, None)]]})
    want_or = docs.where(F.col("doc_id").between(0, 40)
                         | (F.col("doc_id") >= 450))
    assert got_or.count() == want_or.count() > 0
    # projection must contain predicate columns
    with pytest.raises(KeyError):
        scan_filtered(enc, [("doc_id", 0, 10)], columns=["text"]).count()
    cols = scan_filtered(enc, [("doc_id", 0, 99)],
                         columns=["doc_id", "lang"])
    assert cols.columns == ["doc_id", "lang"]
    assert cols.count() == docs.where(F.col("doc_id") <= 99).count()
    enc.unpersist()
    # timestamp predicate in epoch-us domain
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    enc2 = encode_table(ev, key=["ts"], n_parts=2, rows_per_chunk=100).cache()
    b = enc2.agg(F.min("key_min_num"), F.max("key_max_num")).head()
    lo, hi = b[0], b[0] + (b[1] - b[0]) // 3
    us = F.expr("timestampdiff(MICROSECOND, "
                "TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)")
    got_ts = scan_filtered(enc2, [("ts", lo, hi)])
    want_ts = ev.where(us.between(lo, hi))
    assert got_ts.count() == want_ts.count() > 0
    enc2.unpersist()


@pytest.mark.spark
def test_eq_and_in_predicates_prune_and_filter(spark):
    """(col, "=", v) and (col, "in", [...]) terms: per-value pruning
    (a sparse IN-list keeps fewer chunks than its min/max span) and
    exact residual semantics, incl. string equality and timestamps."""
    from parquet_spark.engine import prune_chunks_pred, scan_filtered
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    enc = encode_table(docs, key=["doc_id"], n_parts=2,
                       rows_per_chunk=50).cache()
    n_all = enc.count()
    # equality: exactly the rows with that id
    got = scan_filtered(enc, [("doc_id", "=", 123)])
    want = docs.where(F.col("doc_id") == 123)
    assert got.count() == want.count() == 1
    assert got.exceptAll(want).count() == 0
    assert prune_chunks_pred(enc, [("doc_id", "=", 123)]).count() < n_all
    # sparse IN-list: prunes per value, not by the span
    ids = [3, 250, 444]
    kept_in = prune_chunks_pred(enc, [("doc_id", "in", ids)]).count()
    kept_span = prune_chunks_pred(enc, [("doc_id", 3, 444)]).count()
    assert 0 < kept_in < kept_span < n_all, (kept_in, kept_span, n_all)
    got_in = scan_filtered(enc, [("doc_id", "in", ids)])
    want_in = docs.where(F.col("doc_id").isin(ids))
    assert got_in.count() == want_in.count() == 3
    assert got_in.exceptAll(want_in).count() == 0
    # string equality composes with ranges in one AND-list
    got_s = scan_filtered(enc, [("lang", "=", "de"), ("doc_id", 0, 200)])
    want_s = docs.where((F.col("lang") == "de") & F.col("doc_id").between(0, 200))
    assert got_s.count() == want_s.count() > 0
    # malformed IN-lists fail loudly
    with pytest.raises(ValueError, match="non-empty"):
        prune_chunks_pred(enc, [("doc_id", "in", [])])
    with pytest.raises(TypeError, match="mixes"):
        prune_chunks_pred(enc, [("doc_id", "in", [1, "a"])])
    enc.unpersist()
    # timestamp equality in epoch-us domain
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    enc2 = encode_table(ev, key=["ts"], n_parts=2, rows_per_chunk=100).cache()
    some_us = enc2.agg(F.min("key_min_num")).head()[0]
    us = F.expr("timestampdiff(MICROSECOND, "
                "TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)")
    got_ts = scan_filtered(enc2, [("ts", "in", [some_us])])
    want_ts = ev.where(us == some_us)
    assert got_ts.count() == want_ts.count() > 0
    enc2.unpersist()


@pytest.mark.spark
def test_read_row_cursor_is_driver_frugal(spark):
    """The within-part chunk cursor must be computed Spark-side: the
    driver sees one row per part plus the single located chunk — never
    the whole chunk directory (O(table/10k) rows at 100 B rows)."""
    from unittest.mock import patch

    from parquet_spark.engine import read_row
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    enc = encode_table(docs, key=["doc_id"], n_parts=4,
                       rows_per_chunk=32).cache()
    n_parts = enc.select("part_id").distinct().count()
    n_chunks = enc.count()
    assert n_chunks > n_parts  # the directory is genuinely bigger
    DataFrame = type(enc)  # the concrete (classic) DataFrame class
    collected = []
    orig = DataFrame.collect

    def spy(self):
        rows = orig(self)
        collected.append(len(rows))
        return rows

    with patch.object(DataFrame, "collect", spy):
        row = read_row(enc, 100)
    assert row == decode_table(enc).collect()[100].asDict()
    # every driver-side materialization is parts-sized, not chunks-sized
    assert collected and all(n <= n_parts for n in collected), collected
    enc.unpersist()


@pytest.mark.spark
def test_pruning_never_drops_matching_rows_randomized(spark):
    """Conservativeness sweep: for 30 seeded-random predicates (ranges,
    half-open ranges, equality, IN-lists, AND/OR combos) over a table
    with skewed ints, strings, and nulls, scan_filtered must equal the
    raw filter exactly — a zone map may keep too much, never too
    little."""
    import random

    import pandas as pd

    from parquet_spark.engine import scan_filtered
    rng = random.Random(1234)
    n = 600
    pdf = pd.DataFrame({
        "k": range(n),
        "num": [rng.choice([None, rng.randint(-50, 50),
                            rng.randint(1000, 1100)]) for _ in range(n)],
        "s": [rng.choice([None, "", "aa", "ab", "zz",
                          f"v{rng.randint(0, 30):03d}"]) for _ in range(n)],
    })
    df = spark.createDataFrame(pdf).withColumn(
        "num", F.col("num").cast("long"))
    enc = encode_table(df, key=["k"], n_parts=3, rows_per_chunk=40,
                       zone_cols=["k", "num", "s"]).cache()
    enc.count()

    def rand_term():
        kind = rng.choice(["num_range", "s_range", "num_eq", "s_eq",
                           "num_in", "k_range"])
        if kind == "num_range":
            lo = rng.choice([None, rng.randint(-60, 60)])
            hi = rng.choice([None, rng.randint(-60, 1200)])
            return ("num", lo, hi)
        if kind == "s_range":
            lo = rng.choice([None, "", "a", "v005", "v02"])
            hi = rng.choice([None, "ac", "v015", "zz"])
            return ("s", lo, hi)
        if kind == "num_eq":
            return ("num", "=", rng.randint(-50, 50))
        if kind == "s_eq":
            return ("s", "=", rng.choice(["aa", "v003", "zz", "nope"]))
        if kind == "num_in":
            return ("num", "in",
                    [rng.randint(-50, 1100) for _ in range(3)])
        lo = rng.randint(0, n)
        return ("k", lo, lo + rng.randint(0, 100))

    def raw_cond(term):
        col, a, b = term
        c = F.col(col)
        if a == "=" and not isinstance(b, list):
            return c == b
        if a == "in":
            return c.isin(b)
        cond = F.lit(True)
        if a is not None:
            cond = cond & (c >= a)
        if b is not None:
            cond = cond & (c <= b)
        return cond

    for trial in range(30):
        if trial % 3 == 2:  # OR-of-ANDs form
            branches = [[rand_term()] for _ in range(2)]
            pred = {"any": branches}
            cond = raw_cond(branches[0][0]) | raw_cond(branches[1][0])
        else:
            terms = [rand_term() for _ in range(rng.randint(1, 2))]
            pred = terms
            cond = raw_cond(terms[0])
            for t in terms[1:]:
                cond = cond & raw_cond(t)
        got = scan_filtered(enc, pred)
        want = df.where(cond)
        assert got.count() == want.count(), (trial, pred)
        assert got.exceptAll(want).count() == 0, (trial, pred)
    enc.unpersist()


@pytest.mark.spark
def test_null_predicate_terms_fail_loudly_or_drop(spark):
    """(col, "=", None) raises (SQL = NULL is never true) pointing at
    the isnull term form, NULLs inside an IN-list are dropped (SQL:
    NULL never matches IN), and an all-NULL IN-list raises."""
    from parquet_spark.engine import prune_chunks_pred, scan_filtered
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    enc = encode_table(docs, key=["doc_id"], n_parts=2,
                       rows_per_chunk=50).cache()
    with pytest.raises(TypeError, match="isnull"):
        prune_chunks_pred(enc, [("lang", "=", None)])
    got = scan_filtered(enc, [("doc_id", "in", [123, None])])
    want = docs.where(F.col("doc_id").isin([123]))
    assert got.count() == want.count() == 1
    assert got.exceptAll(want).count() == 0
    with pytest.raises(ValueError, match="only NULLs"):
        prune_chunks_pred(enc, [("lang", "in", [None, None])])
    enc.unpersist()


@pytest.mark.spark
def test_float_zone_map_pruning(spark):
    """Double columns get their own zone family (zone_min_dbl/max_dbl):
    float range predicates prune chunks and the residual is exact."""
    from parquet_spark.engine import prune_chunks_pred, scan_filtered
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    # key on the double: sortWithinPartitions makes chunks narrow
    # sorted runs of value, so the double zones are tight
    enc = encode_table(ev, key=["value"], n_parts=2,
                       rows_per_chunk=100,
                       zone_cols=["event_id", "value"]).cache()
    n_all = enc.count()
    lo, hi = 0.25, 0.75
    kept = prune_chunks_pred(enc, [("value", lo, hi)])
    assert 0 < kept.count() < n_all  # pruning really bites
    got = scan_filtered(enc, [("value", lo, hi)])
    want = ev.where(F.col("value").between(lo, hi))
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0
    # float equality / IN prune per value
    some = [r.value for r in ev.limit(3).collect()]
    got_in = scan_filtered(enc, [("value", "in", some)])
    assert got_in.count() == ev.where(F.col("value").isin(some)).count()
    enc.unpersist()


@pytest.mark.spark
def test_float_bound_on_int_column_prunes_numerically(spark):
    """A float bound against an int zone column compares numerically
    (no silent prune-disable, no truncation): 99.5..180.2 must behave
    like 100..180 on doc_id."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    enc = encode_table(docs, key=["doc_id"], n_parts=2,
                       rows_per_chunk=50).cache()
    from parquet_spark.engine import scan_filtered
    a = scan_filtered(enc, [("doc_id", 99.5, 180.2)])
    b = scan_filtered(enc, [("doc_id", 100, 180)])
    assert a.count() == b.count() > 0
    enc.unpersist()


def test_float_zone_nan_and_all_nan_chunks():
    """NaNs are skipped by the zone stats (NaN never matches a range);
    an all-NaN chunk stores no double zones (conservative keep)."""
    batch = pa.record_batch([
        pa.array([1.0, float("nan"), 3.0, None], type=pa.float64()),
        pa.array([float("nan")] * 4, type=pa.float64()),
    ], names=["x", "y"])
    chunk = encode_chunk(batch, 0, 0)
    zi = chunk["zone_cols"].index("x")
    assert chunk["zone_min_dbl"][zi] == 1.0
    assert chunk["zone_max_dbl"][zi] == 3.0
    assert "y" not in chunk["zone_cols"]  # all-NaN: no zone entry
    out = decode_chunk(chunk["schema_ipc"], chunk["names"],
                       chunk["payloads"])
    assert out.num_rows == 4


@pytest.mark.spark
def test_legacy_chunks_without_double_zones_still_scan(spark, tmp_path):
    """Part files written before the zone_dbl columns existed read as
    null zones under the pinned DDL: float predicates keep every chunk
    (conservative) and the residual still filters exactly."""
    from parquet_spark.engine import ENCODED_DDL, scan_filtered
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    enc = encode_table(ev, key=["event_id"], n_parts=2, rows_per_chunk=100)
    legacy = str(tmp_path / "legacy.parquet")
    enc.drop("zone_min_dbl", "zone_max_dbl").write.parquet(legacy)
    enc2 = spark.read.schema(ENCODED_DDL).parquet(legacy)
    got = scan_filtered(enc2, [("value", 0.25, 0.75)])
    want = ev.where(F.col("value").between(0.25, 0.75))
    assert got.count() == want.count() > 0


# ----------------------------------------------------------- bloom filters

def test_bloom_chunk_level_build_and_positions():
    """Chunk-level: every inserted value's k bits are set; absent values
    miss at least one bit almost surely at ~10 bits/value."""
    from parquet_spark.engine import (_bloom_bit_positions, _build_bloom,
                                      encode_chunk)
    vals = [f"https://host{i}.example.com/{i*7919}" for i in range(2000)]
    batch = pa.record_batch([pa.array(vals), pa.array(range(2000))],
                            names=["url", "i"])
    chunk = encode_chunk(batch, 0, 0, bloom_cols=["url"])
    assert chunk["bloom_cols"] == ["url"]
    words = chunk["blooms"][0]
    m = len(words) * 64
    uw = np.array(words, dtype=np.int64).view(np.uint64)

    def has(v):
        return all((uw[p >> 6] >> np.uint64(p & 63)) & np.uint64(1)
                   for p in _bloom_bit_positions(v.encode(), m))

    assert all(has(v) for v in vals[:200])
    misses = sum(not has(f"absent-{i}") for i in range(500))
    assert misses >= 480  # FPR well under ~4%


def _bloom_reference(values: list, m: int) -> list[int]:
    """Per-value reference: set each value's _bloom_bit_positions one
    bit at a time, as signed 64-bit words."""
    from parquet_spark.engine import _bloom_bit_positions
    words = [0] * (m // 64)
    for v in values:
        for p in _bloom_bit_positions(v, m):
            words[p >> 6] |= 1 << (p & 63)
    return [w - (1 << 64) if w >> 63 else w for w in words]


@pytest.mark.parametrize("case", ["string", "binary", "sliced", "empties",
                                  "non_ascii", "max_bits"])
def test_bloom_build_matches_per_value_reference(case):
    from parquet_spark.engine import _BLOOM_MAX_BITS, _build_bloom
    if case == "max_bits":   # enough values to hit the 2**20-bit cap
        vals = [f"https://h{i % 97}.example.com/{i:07d}"
                for i in range(_BLOOM_MAX_BITS // 10 + 5000)]
        col = pa.array(vals)
    elif case == "binary":
        vals = [bytes([i % 256, i // 256]) * (i % 5) for i in range(3000)]
        col = pa.array(vals[:100] + [None] + vals[100:], type=pa.binary())
    elif case == "empties":
        vals = ["", "a", "", ""]
        col = pa.array([None, "", "a", None, "", ""])
    elif case == "non_ascii":  # multi-byte UTF-8, hashed as its bytes
        vals = [f"https://bücher.example/{i}/ü€😀ß" * (i % 4)
                for i in range(1500)]
        col = pa.array(vals[:700] + [None] + vals[700:]).slice(40)
        vals = vals[40:]
    else:
        vals = [None if i % 7 == 0 else f"v{i}-" + "x" * (i % 13)
                for i in range(2500)]
        col = pa.array(vals)
        if case == "sliced":  # a non-zero array offset
            col, vals = col.slice(333, 1500), vals[333:1833]
        vals = [v for v in vals if v is not None]
    enc = [v if isinstance(v, bytes) else v.encode() for v in vals]
    words = _build_bloom(col)
    m = len(words) * 64
    if case == "max_bits":
        assert m == _BLOOM_MAX_BITS
    assert words == _bloom_reference(enc, m)


def test_bloom_build_all_null_is_none():
    from parquet_spark.engine import _build_bloom
    assert _build_bloom(pa.array([None, None], type=pa.string())) is None


def test_bloom_rejects_numeric_columns():
    from parquet_spark.engine import encode_chunk
    batch = pa.record_batch([pa.array(range(100))], names=["x"])
    with pytest.raises(TypeError, match="string/binary"):
        encode_chunk(batch, 0, 0, bloom_cols=["x"])


@pytest.mark.spark
def test_bloom_pruning_on_equality_and_in(spark):
    """Equality on a high-cardinality non-key column: zone ranges are
    useless on a hash-placed layout, the bloom must prune instead."""
    from parquet_spark.engine import (encode_table, prune_chunks_pred,
                                      scan_filtered)
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    enc = encode_table(docs, key=["doc_id"], n_parts=4, rows_per_chunk=100,
                       bloom_cols=["text"]).cache()
    n_all = enc.count()
    probes = [r.text for r in docs.limit(3).collect()]
    kept = prune_chunks_pred(enc, [("text", "in", probes)])
    assert 0 < kept.count() < n_all  # bloom really bites
    got = scan_filtered(enc, [("text", "in", probes)])
    assert got.count() == docs.where(F.col("text").isin(probes)).count() > 0
    # absent value: every chunk pruned (no false positives at this size)
    assert prune_chunks_pred(enc, [("text", "=", "no such doc")]).count() \
        <= 1
    enc.unpersist()


@pytest.mark.spark
def test_bloom_survives_write_and_rechunk_compaction(spark, tmp_path):
    from parquet_spark.manifest import (compact_table, read_encoded,
                                        scan_table, write_encoded)
    from parquet_spark.corpus import gen_corpus
    df = gen_corpus(spark, 1200, seed=53, parts=2)
    path = str(tmp_path / "tbl")
    write_encoded(df, path, key=["url"], n_parts=4, rows_per_chunk=100,
                  bloom_cols=["url"])
    probe = df.limit(1).collect()[0].url
    got = scan_table(spark, path, [("url", "=", probe)])
    assert got.count() == 1
    compact_table(spark, path, target_parts=1, rechunk=True)
    enc = read_encoded(spark, path)
    # every (re)chunk still carries the url bloom
    assert enc.where(F.array_position(F.col("bloom_cols"), "url") > 0) \
        .count() == enc.count()
    assert scan_table(spark, path, [("url", "=", probe)]).count() == 1


@pytest.mark.spark
def test_bloom_dict_overlap_rejected(spark, tmp_path):
    from parquet_spark.manifest import write_encoded
    from parquet_spark.corpus import gen_corpus
    df = gen_corpus(spark, 200, seed=59, parts=1)
    with pytest.raises(ValueError, match="bloom_cols and"):
        write_encoded(df, str(tmp_path / "t"), key=["url"], n_parts=2,
                      global_dict_cols=["lang"], bloom_cols=["lang"])


# ------------------------------------------------------- null-count zones

def test_chunk_null_counts_recorded():
    from parquet_spark.engine import encode_chunk
    batch = pa.record_batch([
        pa.array([1, None, 3, None], type=pa.int64()),
        pa.array([None, None, None, None], type=pa.string()),
        pa.array(["a", "b", "c", "d"]),
    ], names=["x", "allnull", "s"])
    chunk = encode_chunk(batch, 0, 0)
    by = dict(zip(chunk["zone_cols"], chunk["zone_nulls"]))
    assert by["x"] == 2 and by["s"] == 0
    # all-null column gets an entry too (notnull can skip the chunk)
    assert by["allnull"] == 4
    zi = chunk["zone_cols"].index("allnull")
    assert chunk["zone_min_str"][zi] is None


@pytest.mark.spark
def test_isnull_pruning_and_residual(spark):
    from parquet_spark.engine import prune_chunks_pred, scan_filtered
    df = gen_corpus(spark, 3000, seed=9, parts=2)  # has null lang rows
    assert df.where(F.col("lang").isNull()).count() > 0
    # key by lang: nulls cluster into leading chunks of one partition
    enc = encode_table(df, key=["lang"], n_parts=4,
                       rows_per_chunk=100).cache()
    n_all = enc.count()
    kept = prune_chunks_pred(enc, [("lang", "isnull", None)])
    assert 0 < kept.count() < n_all  # null-count pruning bites
    got = scan_filtered(enc, [("lang", "isnull", None)])
    assert got.count() == df.where(F.col("lang").isNull()).count()
    got_nn = scan_filtered(enc, [("lang", "notnull", None)])
    assert got_nn.count() == df.where(F.col("lang").isNotNull()).count()
    # composes with other terms
    both = scan_filtered(enc, [("lang", "isnull", None),
                               ("url", "https://", None)])
    assert both.count() == got.count()
    enc.unpersist()


def test_eq_none_raises_with_isnull_hint():
    from parquet_spark.engine import _norm_term
    with pytest.raises(TypeError, match="isnull"):
        _norm_term(("lang", "=", None))
    with pytest.raises(TypeError, match="third element"):
        _norm_term(("lang", "isnull", "x"))
    assert _norm_term(("lang", "isnull", None)) == ("isnull", "lang")


@pytest.mark.spark
def test_alp_selected_for_price_doubles(spark, sf_dir):
    """TPC-H price doubles (2 decimals) must land on the alp codec
    through the full encode_table path and round-trip bit-identically."""
    df = (spark.read.parquet(f"{sf_dir}/lineitem.parquet")
          .select("l_orderkey", "l_linenumber", "l_extendedprice",
                  "l_discount"))
    enc = encode_table(df, key=["l_orderkey", "l_linenumber"], n_parts=2)
    enc = enc.cache()
    codecs = {r.column: r.codec
              for r in encoding_stats(enc).select("column", "codec")
              .distinct().collect()}
    assert codecs["l_extendedprice"] == "alp", codecs
    assert codecs["l_discount"] == "alp", codecs
    dec = decode_table(enc)
    verify_roundtrip(df, dec)
    enc.unpersist()


@pytest.mark.spark
def test_prefix_selected_for_sorted_url_key(spark):
    """The layout key column arrives sorted within chunks — the
    contiguous-window trial must engage the prefix codec for urls and
    the table must round-trip."""
    df = gen_corpus(spark, 8000, seed=11, parts=2) \
        .select("url", "warc_ts", "text", "lang")
    enc = encode_table(df, key=["url"], n_parts=2).cache()
    codecs = {r.column: r.codec
              for r in encoding_stats(enc).select("column", "codec")
              .distinct().collect()}
    assert codecs["url"] == "prefix", codecs
    verify_roundtrip(df, decode_table(enc))
    enc.unpersist()


@pytest.mark.spark
def test_zorder_prunes_on_both_dimensions(spark, sf_dir):
    """A 2-D box predicate must prune a Z-ordered layout where the
    hash layout keeps everything, and the pruned+filtered decode must
    equal the plain filter row-for-row."""
    from parquet_spark.engine import prune_chunks_pred, zorder_table
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    z = zorder_table(ev, ["user_id", "ts"], n_parts=4,
                     rows_per_chunk=500).cache()
    h = encode_table(ev, key=["event_id"], n_parts=4,
                     rows_per_chunk=500).cache()
    r = ev.agg(F.min("ts"), F.max("ts"),
               F.min("user_id"), F.max("user_id")).first()
    tlo = r[0] + (r[1] - r[0]) * 2 // 10
    thi = r[0] + (r[1] - r[0]) * 4 // 10
    ulo = int(r[2] + (r[3] - r[2]) * 0.2)
    uhi = int(r[2] + (r[3] - r[2]) * 0.4)
    pred = [("user_id", ulo, uhi), ("ts", tlo, thi)]
    total = z.count()
    kept = prune_chunks_pred(z, pred).count()
    assert 0 < kept <= total * 0.6, (kept, total)
    assert kept < prune_chunks_pred(h, pred).count()
    flt = (F.col("user_id").between(ulo, uhi)
           & F.col("ts").between(tlo, thi))
    got = decode_table(prune_chunks_pred(z, pred)).where(flt)
    exp = ev.where(flt)
    assert got.count() == exp.count()
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0
    verify_roundtrip(ev, decode_table(z))
    z.unpersist(); h.unpersist()


@pytest.mark.spark
def test_zorder_guards(spark, sf_dir):
    from parquet_spark.engine import zorder_table, zorder_value
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    with pytest.raises(ValueError, match="2-4"):
        zorder_value(ev, ["user_id"])
    with pytest.raises(TypeError, match="numeric"):
        zorder_value(ev, ["user_id", "event_type"])
    with pytest.raises(ValueError, match="overflow"):
        zorder_value(ev, ["user_id", "value"], bits=40)
    # constant column contributes nothing but must not break
    z = zorder_table(ev.withColumn("k", F.lit(7)), ["user_id", "k"],
                     n_parts=2, rows_per_chunk=1000)
    assert decode_table(z).count() == ev.count()


@pytest.mark.spark
def test_struct_column_through_encode_table(spark, sf_dir):
    """Nested struct columns shred per-field (Dremel-style) through the
    full mapInArrow encode/decode path."""
    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .select("event_id", F.struct("event_type", "value",
                                       "user_id").alias("s")))
    enc = encode_table(ev, key=["event_id"], n_parts=2).cache()
    codecs = {r.column: r.codec
              for r in encoding_stats(enc).select("column", "codec")
              .distinct().collect()}
    assert codecs["s"] == "struct", codecs
    dec = decode_table(enc)
    assert dec.count() == ev.count()
    assert dec.exceptAll(ev).count() == 0
    assert ev.exceptAll(dec).count() == 0
    enc.unpersist()


def test_prefix_upper_bound_algebra():
    """_prefix_upper(p) must exceed EVERY string with prefix p and be
    minimal enough to prune tightly; surrogate and max-code-point
    edges stay valid."""
    from parquet_spark.engine import _prefix_upper
    assert _prefix_upper("ab") == "ac"
    assert _prefix_upper("a\uffff") == "a\U00010000"
    assert _prefix_upper("z") == "{"
    # increments past the surrogate block, never into it
    assert _prefix_upper("a퟿") == "a"
    # all-max-code-point prefix has no finite upper bound
    assert _prefix_upper("\U0010ffff\U0010ffff") is None
    assert _prefix_upper("a\U0010ffff") == "b"
    for p in ("ab", "a\uffff", "z", "https://host1"):
        up = _prefix_upper(p)
        for s in (p, p + "z", p + "\U0010ffff" * 3):
            assert s < up, (p, s, up)


@pytest.mark.spark
def test_prefix_predicate_prunes_and_filters(spark):
    """(col, "prefix", p): LIKE-'p%' pushdown — chunk pruning on the
    string zone range plus an exact startswith residual, equal to the
    full filter over raw data."""
    from parquet_spark.engine import prune_chunks_pred, scan_filtered
    df = gen_corpus(spark, 4000, seed=11, parts=4)
    enc = encode_table(df, key=["url"], n_parts=4,
                       rows_per_chunk=100).cache()
    n_all = enc.count()
    hosts = [r.h for r in df.select(
        F.regexp_extract("url", r"https://([^/]+)/", 1).alias("h"))
        .distinct().collect()]
    p = f"https://{sorted(hosts)[0]}/"
    kept = prune_chunks_pred(enc, [("url", "prefix", p)])
    assert 0 < kept.count() < n_all, (kept.count(), n_all)  # pruning bites
    got = scan_filtered(enc, [("url", "prefix", p)])
    want = df.where(F.col("url").startswith(p))
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0
    # composes with other terms in one AND-list
    got2 = scan_filtered(enc, [("url", "prefix", p),
                               ("lang", "=", "de")])
    want2 = want.where(F.col("lang") == "de")
    assert got2.count() == want2.count()
    # malformed prefixes fail loudly
    with pytest.raises(TypeError, match="non-empty"):
        prune_chunks_pred(enc, [("url", "prefix", "")])
    with pytest.raises(TypeError, match="non-empty"):
        prune_chunks_pred(enc, [("url", "prefix", 7)])
    enc.unpersist()
