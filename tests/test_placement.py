"""Part placement exchange: one part per task, no sampling job.

`manifest._one_part_per_task` sends part p to exchange partition
p - part_offset through Spark's plain hash exchange on a per-part int
tag chosen with a Python copy of Spark's Murmur3 hashInt.  These tests
pin the hash, the part -> task bijection for every write mode, the job
shape of a write, and the bytes a seeded write produces.
"""
import hashlib
import os
import time

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from parquet_spark.corpus import gen_corpus
from parquet_spark.engine import zorder_stats, zorder_value
from parquet_spark.manifest import (EncodedTable, _range_boundaries,
                                    delete_rows, read_decoded,
                                    rewrite_table, write_encoded)

pytestmark = pytest.mark.spark


def test_murmur3_hash_int_matches_spark_hash(spark):
    from parquet_spark.manifest import _murmur3_hash_int
    rng = np.random.default_rng(5)
    xs = sorted(set(range(-300, 301))
                | {-2**31, -2**31 + 1, 2**31 - 1, 2**31 - 2, -1, 42}
                | set(rng.integers(-2**31, 2**31, 200).tolist()))
    got = {r.v: r.h for r in spark.createDataFrame(
        [(x,) for x in xs], "v int").select(
            "v", F.hash("v").alias("h")).collect()}
    assert {x: _murmur3_hash_int(x) for x in xs} == got


def _frame(spark, n_rows=4000):
    return spark.range(n_rows, numPartitions=3).select(
        F.concat(F.lit("https://h"), (F.col("id") * 7919 % 10007)
                 .cast("string")).alias("url"),
        (F.col("id") * 31 % 1000).alias("x"),
        (F.col("id") % 97).alias("y"))


def _layout(df, mode, n_parts):
    if mode == "hash":
        return {"mode": "hash", "key": ["url"], "n_parts": n_parts}
    if mode == "range":
        return {"mode": "range", "key": ["url"], "n_parts": n_parts,
                "boundaries": _range_boundaries(df, "url", n_parts)}
    key, bits = ["x", "y"], 62 // 2
    stats = zorder_stats(df, key)
    zv = zorder_value(df, key, bits=bits, stats=stats)
    return {"mode": "zorder", "key": key, "n_parts": n_parts,
            "zorder_bits": bits, "zorder_stats": stats,
            "boundaries": _range_boundaries(
                df.select(zv.alias("_zval")), "_zval", n_parts)}


def _parts_per_task(dfp):
    return dfp.select("_part").rdd.mapPartitionsWithIndex(
        lambda i, rows: [(i, sorted({r[0] for r in rows}))]).collect()


@pytest.mark.parametrize("mode", ["hash", "range", "zorder"])
@pytest.mark.parametrize("n_parts", [1, 3, 4, 7, 200])
def test_each_exchange_partition_holds_its_own_part(spark, mode, n_parts):
    from parquet_spark.manifest import _placed_frame
    df = _frame(spark)
    layout = _layout(df, mode, n_parts)
    for offset in (0, 3 * n_parts + 2):
        dfp = _placed_frame(df, layout, offset)
        tasks = _parts_per_task(dfp)
        assert len(tasks) == n_parts
        for pid, parts in tasks:
            assert parts in ([], [pid + offset]), (pid, parts)
        filled = sorted(p for _, parts in tasks for p in parts)
        assert filled == list(range(offset, offset + n_parts))
        plan = dfp._jdf.queryExecution().executedPlan().toString()
        assert "rangepartitioning" not in plan
        assert n_parts == 1 or "hashpartitioning" in plan  # else single


def _file_part_ids(path):
    return {f: set(pq.read_table(f, columns=["part_id"])
                   .column(0).to_pylist())
            for f in EncodedTable(path).data_files()}


def test_offset_resume_commits_one_file_per_part(spark, tmp_path):
    df = gen_corpus(spark, 1400, seed=19, parts=3)
    path = str(tmp_path / "tbl")
    kw = dict(key=["url"], n_parts=7, part_offset=14, rows_per_chunk=90)
    write_encoded(df, path, limit_parts=3, **kw)
    assert sorted(map(int, EncodedTable(path).committed_parts())) \
        == [14, 15, 16]
    write_encoded(df, path, **kw)
    parts = EncodedTable(path).committed_parts()
    assert sorted(map(int, parts)) == list(range(14, 21))
    files = _file_part_ids(path)
    assert len(files) == 7
    assert all(len(ids) == 1 for ids in files.values())
    assert read_decoded(spark, path).count() == 1400


def _wait_stages_done(spark, stage_ids, timeout_s=20.0):
    """The status store is filled from the listener bus, which may lag
    the action that ran the stages."""
    store = spark.sparkContext._jsc.sc().statusStore()
    deadline = time.monotonic() + timeout_s
    while True:
        data = [store.lastStageAttempt(s) for s in stage_ids]
        if all(str(d.status()) in ("COMPLETE", "SKIPPED") for d in data) \
                or time.monotonic() > deadline:
            return data
        time.sleep(0.1)


def test_hash_write_runs_no_sampling_job(spark, tmp_path):
    """A range exchange adds a job whose one stage re-reads the input
    to sample bounds (its stage neither reads nor writes shuffle data;
    in PySpark every stage of an action is named after the Python call
    site, so it has no name of its own).  A hash write is the shuffle
    map job plus the write job."""
    sc = spark.sparkContext
    df = gen_corpus(spark, 2000, seed=7, parts=4)
    group = "placement-no-sampling"
    sc.setJobGroup(group, "write_encoded job shape")
    try:
        write_encoded(df, str(tmp_path / "tbl"), key=["url"], n_parts=4,
                      bloom_cols=["url"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    assert len(jobs) == 2  # 3 with the range exchange
    stage_ids = [s for j in jobs for s in st.getJobInfo(j).stageIds]
    ran = [d for d in _wait_stages_done(spark, stage_ids)
           if str(d.status()) == "COMPLETE"]
    assert ran and all(d.shuffleWriteBytes() > 0 or d.shuffleReadBytes() > 0
                       for d in ran)
    # the write stage runs one task per part
    assert sorted(d.numTasks() for d in ran)[-1] == 4


def _chunk_digest(path):
    rows = []
    for f in sorted(os.listdir(os.path.join(path, "data"))):
        rows += pq.read_table(
            os.path.join(path, "data", f),
            columns=["part_id", "chunk_id", "n_rows", "names", "payloads",
                     "blooms"]).to_pylist()
    h = hashlib.sha256()
    for r in sorted(rows, key=lambda r: (r["part_id"], r["chunk_id"])):
        h.update(f"{r['part_id']}/{r['chunk_id']}/{r['n_rows']}".encode())
        for name, payload in zip(r["names"], r["payloads"]):
            h.update(name.encode())
            h.update(hashlib.sha256(payload).digest())
        h.update(repr(r["blooms"]).encode())
    return len(rows), h.hexdigest()


# digests of the range-exchange writer this placement replaced: the
# exchange changes which task writes a part, never a part's bytes (the
# test imports only names that writer had, so it runs against it too)
@pytest.mark.parametrize("seed,n_docs,rows_per_chunk,n_parts,want", [
    (7, 3000, 400, 4, (8, "6b7d31c70d5008320e20a03c36db69c3"
                          "233a894529184dad5e7cb5b7bc1508b4")),
    (13, 2000, 700, 3, (3, "46304a213c70115b51b14ca498b5b393"
                           "61664d205b6cef3e076c37be3b75fa23")),
])
def test_write_encoded_chunk_bytes_are_pinned(spark, tmp_path, seed, n_docs,
                                              rows_per_chunk, n_parts, want):
    path = str(tmp_path / "tbl")
    write_encoded(gen_corpus(spark, n_docs, seed=seed, parts=4), path,
                  key=["url"], n_parts=n_parts,
                  rows_per_chunk=rows_per_chunk, bloom_cols=["url"])
    assert _chunk_digest(path) == want


@pytest.mark.parametrize("n_parts", [3, 4, 7])
def test_rewrite_keeps_every_part(spark, tmp_path, n_parts):
    df = gen_corpus(spark, 1200, seed=29, parts=2)
    path = str(tmp_path / "tbl")
    write_encoded(df, path, key=["url"], n_parts=n_parts, rows_per_chunk=80)
    doomed = [r.url for r in df.orderBy("url").limit(6).collect()]
    delete_rows(spark, path, [("url", "in", doomed)])
    before = read_decoded(spark, path).count()
    assert before == 1194
    rewrite_table(spark, path)
    parts = EncodedTable(path).committed_parts()
    assert sorted(map(int, parts)) == list(range(n_parts))
    files = _file_part_ids(path)
    assert sorted(files) == sorted(p["file"] for p in parts.values())
    assert all(ids == {int(pid)} for pid, p in parts.items()
               for ids in [files[p["file"]]])
    assert read_decoded(spark, path).count() == before
