"""Key-level table reconciliation (`verify.diff_tables`): added /
removed / changed rows between two tables or two snapshots.

The audit contract: a rewrite/recluster that preserves data must diff
EMPTY against its parent snapshot; injected mutations must surface with
the right classification, including multiset (duplicate-key) changes
that a set-based diff would miss.
"""

import pytest
from pyspark.sql import functions as F

from parquet_spark.manifest import (compact_table, delete_rows,
                                    read_decoded, write_encoded)
from parquet_spark.verify import diff_tables

pytestmark = pytest.mark.spark


def _docs(spark, lo, hi):
    return (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .where(F.col("doc_id").between(lo, hi - 1)))


def test_diff_classifies_added_removed_changed(spark, tmp_path):
    a_path, b_path = str(tmp_path / "a"), str(tmp_path / "b")
    base = _docs(spark, 0, 300)
    write_encoded(base, a_path, key=["doc_id"], n_parts=2)
    mutated = (base.where(~F.col("doc_id").isin(5, 17))      # removed
               .withColumn("n_chars",
                           F.when(F.col("doc_id") == 40,     # changed
                                  F.lit(-1)).otherwise(F.col("n_chars")))
               .unionByName(_docs(spark, 300, 303)))         # added
    write_encoded(mutated, b_path, key=["doc_id"], n_parts=2)

    d = {r.doc_id: r._diff for r in
         diff_tables(spark, a_path, b_path, key=["doc_id"]).collect()}
    assert d == {5: "removed", 17: "removed", 40: "changed",
                 300: "added", 301: "added", 302: "added"}

    # a faithful copy diffs empty; column subsets restrict the compare
    assert diff_tables(spark, a_path, a_path, key=["doc_id"]).count() == 0
    assert diff_tables(spark, a_path, b_path, key=["doc_id"],
                       columns=["lang", "source", "text"]).count() == 5


def test_diff_snapshots_and_multiset_keys(spark, tmp_path):
    """Snapshot-to-snapshot diff on ONE table reconstructs a delete;
    duplicate keys compare as multisets (count changes surface even
    when every present row is identical)."""
    path = str(tmp_path / "t")
    base = _docs(spark, 0, 200)
    write_encoded(base, path, key=["doc_id"], n_parts=2)     # snap 0
    delete_rows(spark, path, [("doc_id", "in", [3, 99])])    # snap 1
    compact_table(spark, path, target_parts=1)               # snap 2

    d = {r.doc_id: r._diff for r in
         diff_tables(spark, path, path, key=["doc_id"],
                     snapshot_id_a=0, snapshot_id_b=2).collect()}
    assert d == {3: "removed", 99: "removed"}

    # duplicate-key multiset: same rows, different multiplicity
    dup_a, dup_b = str(tmp_path / "da"), str(tmp_path / "db")
    one = base.where(F.col("doc_id") == 7).select("lang", "text")
    rows = (one.withColumn("k", F.lit(1)))
    write_encoded(rows.unionByName(rows), dup_a, key=["k"], n_parts=1)
    write_encoded(rows, dup_b, key=["k"], n_parts=1)
    d = diff_tables(spark, dup_a, dup_b, key=["k"]).collect()
    assert len(d) == 1 and d[0]._diff == "changed"
    assert (d[0].n_rows_a, d[0].n_rows_b) == (2, 1)


def test_diff_refuses_missing_columns(spark, tmp_path):
    a_path, b_path = str(tmp_path / "a"), str(tmp_path / "b")
    base = _docs(spark, 0, 50)
    write_encoded(base, a_path, key=["doc_id"], n_parts=1)
    write_encoded(base.drop("source"), b_path, key=["doc_id"], n_parts=1)
    with pytest.raises(ValueError, match="source"):
        diff_tables(spark, a_path, b_path, key=["doc_id"])
    assert diff_tables(spark, a_path, b_path, key=["doc_id"],
                       columns=["lang", "text", "n_chars"]).count() == 0


def test_export_parquet_faithful_and_partitioned(spark, tmp_path):
    """Exported plain parquet equals the engine's decoded view (dict
    restore + deletes applied, snapshot-pinned), hive-partitions by
    lang, and refuses a non-empty destination."""
    import os

    from parquet_spark.manifest import export_parquet

    path = str(tmp_path / "t")
    base = _docs(spark, 0, 300)
    write_encoded(base, path, key=["doc_id"], n_parts=2,
                  global_dict_cols=["lang"])
    delete_rows(spark, path, [("doc_id", "in", [11, 12])])

    dst = str(tmp_path / "exp")
    rep = export_parquet(spark, path, dst, partition_by=["lang"])
    assert rep["files"] >= 1 and rep["snapshot_id"] == 1
    back = spark.read.parquet(dst)
    lib = read_decoded(spark, path)
    assert back.count() == lib.count() == 298
    assert back.select(*lib.columns).exceptAll(lib).count() == 0
    assert any(d.startswith("lang=") for d in os.listdir(dst))

    # snapshot pinning: exporting snapshot 0 resurrects the deletes
    dst0 = str(tmp_path / "exp0")
    export_parquet(spark, path, dst0, snapshot_id=0)
    assert spark.read.parquet(dst0).count() == 300

    with pytest.raises(ValueError, match="not empty"):
        export_parquet(spark, path, dst)


def test_export_parquet_pins_the_resolved_branch_snapshot(spark, tmp_path,
                                                          monkeypatch):
    """A branch ref that moves between export_parquet's resolve and its
    read must not mix states: the exported rows are exactly the
    snapshot the returned snapshot_id names."""
    import parquet_spark.manifest as M
    from parquet_spark.manifest import create_ref, export_parquet

    path = str(tmp_path / "t")
    write_encoded(_docs(spark, 0, 300), path, key=["doc_id"], n_parts=2)
    delete_rows(spark, path, [("doc_id", "in", [11, 12])])   # snapshot 1
    create_ref(path, "b", snapshot_id=0, kind="branch")

    resolve = M._resolve_snap
    moved = []

    def resolve_then_move(table, snapshot_id, ref=None):
        snap = resolve(table, snapshot_id, ref)
        if ref == "b" and not moved:
            # a concurrent publisher moves the branch right after the
            # export resolved it
            create_ref(path, "b", snapshot_id=1, kind="branch")
            moved.append(True)
        return snap

    monkeypatch.setattr(M, "_resolve_snap", resolve_then_move)
    dst = str(tmp_path / "exp")
    rep = export_parquet(spark, path, dst, ref="b")
    assert moved and rep["snapshot_id"] == 0
    back = spark.read.parquet(dst)
    assert back.count() == 300
    assert back.where(F.col("doc_id").isin(11, 12)).count() == 2
