"""Python DataSource V2 read surface (parquet_spark/datasource.py):
`spark.read.format("parquet_spark")` over encoded tables, with driver-
side file pruning from pushed filters, executor-side chunk pruning and
decode, projection, global-dict restore, schema evolution, and time
travel — the read path the reference never implemented
(/root/reference/README.md:29-30)."""

import tempfile

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from parquet_spark.datasource import (_EncodedTableReader,
                                      _load_table_state, register)
from parquet_spark.manifest import read_decoded, write_encoded


@pytest.fixture(scope="module", autouse=True)
def _pushdown(spark):
    old = spark.conf.get("spark.sql.python.filterPushdown.enabled", "false")
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    register(spark)
    yield
    spark.conf.set("spark.sql.python.filterPushdown.enabled", old)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").cache()


@pytest.fixture(scope="module")
def table(spark, docs):
    path = tempfile.mkdtemp(prefix="dsv2_")
    write_encoded(docs, path, key=["doc_id"], n_parts=4, mode="range",
                  global_dict_cols=["lang"])
    return path


def _sym_diff(a, b):
    return a.exceptAll(b).count() + b.exceptAll(a).count()


def test_full_read_matches_source(spark, docs, table):
    df = spark.read.format("parquet_spark").load(table)
    assert df.columns == docs.columns
    assert _sym_diff(df, docs) == 0


def test_projection_and_filter_exact(spark, docs, table):
    df = (spark.read.format("parquet_spark")
          .option("columns", "doc_id,lang").load(table))
    assert df.columns == ["doc_id", "lang"]
    got = df.where(F.col("doc_id").between(100, 199))
    exp = docs.select("doc_id", "lang").where(
        F.col("doc_id").between(100, 199))
    assert _sym_diff(got, exp) == 0


def test_file_pruning_bites_on_range_layout(spark, table):
    st = _load_table_state({"path": table})
    n_all = len(_EncodedTableReader(st).partitions())
    st = _load_table_state({"path": table})
    r = _EncodedTableReader(st)
    r._pred = [("doc_id", None, 50)]
    n_kept = len(r.partitions())
    assert 0 < n_kept < n_all, (n_kept, n_all)


def test_sql_path_prunes_partitions(spark, docs, table):
    """Catalyst -> pushFilters -> partitions(): the physical scan of a
    filtered read plans fewer input partitions than the full read."""
    full = spark.read.format("parquet_spark").load(table)
    filt = (spark.read.format("parquet_spark").load(table)
            .where(F.col("doc_id") < 50))
    assert filt.rdd.getNumPartitions() < full.rdd.getNumPartitions()
    exp = docs.where(F.col("doc_id") < 50)
    assert _sym_diff(filt, exp) == 0


def test_gdict_value_space_filter(spark, docs, table):
    df = spark.read.format("parquet_spark").load(table)
    got = df.where(F.col("lang") == "de").select("doc_id", "lang")
    exp = docs.where(F.col("lang") == "de").select("doc_id", "lang")
    assert _sym_diff(got, exp) == 0


def test_string_prefix_and_null_filters(spark, docs, table):
    df = spark.read.format("parquet_spark").load(table)
    got = df.where(F.col("source").startswith("src1"))
    exp = docs.where(F.col("source").startswith("src1"))
    assert exp.count() > 0
    assert _sym_diff(got, exp) == 0
    # a prefix matching nothing prunes every file -> empty, not an error
    assert df.where(F.col("source").startswith("zzz")).count() == 0
    got = df.where(F.col("lang").isNotNull())
    exp = docs.where(F.col("lang").isNotNull())
    assert got.count() == exp.count()


def test_sql_registered_view(spark, docs, table):
    (spark.read.format("parquet_spark").load(table)
     .createOrReplaceTempView("dsv2_docs"))
    n = spark.sql(
        "SELECT COUNT(*) AS n FROM dsv2_docs WHERE n_chars > 100"
    ).collect()[0].n
    assert n == docs.where(F.col("n_chars") > 100).count()


def test_time_travel_option(spark, docs, table):
    """snapshot_id pins the read; appending later rows must not leak
    into a snapshot-0 read."""
    extra = docs.limit(10).withColumn("doc_id", F.col("doc_id") + 10_000)
    path = tempfile.mkdtemp(prefix="dsv2_tt_")
    write_encoded(docs, path, key=["doc_id"], n_parts=2)
    write_encoded(extra, path, key=["doc_id"], n_parts=2, part_offset=2)
    cur = spark.read.format("parquet_spark").load(path)
    old = (spark.read.format("parquet_spark")
           .option("snapshot_id", "0").load(path))
    assert cur.count() == docs.count() + 10
    assert old.count() == docs.count()


def test_schema_evolution_rename_and_add(spark, docs):
    from parquet_spark.manifest import alter_table
    path = tempfile.mkdtemp(prefix="dsv2_evo_")
    write_encoded(docs.select("doc_id", "lang", "n_chars"), path,
                  key=["doc_id"], n_parts=2)
    alter_table(path, rename={"lang": "language"})
    alter_table(path, add=[("note", pa.string())])
    df = spark.read.format("parquet_spark").load(path)
    assert set(df.columns) == {"doc_id", "language", "n_chars", "note"}
    assert df.where(F.col("note").isNull()).count() == docs.count()
    got = df.select(F.col("language").alias("lang"))
    assert _sym_diff(got, docs.select("lang")) == 0


def test_deletes_refused(spark, docs):
    from parquet_spark.manifest import delete_rows
    path = tempfile.mkdtemp(prefix="dsv2_del_")
    write_encoded(docs.select("doc_id", "lang"), path,
                  key=["doc_id"], n_parts=2)
    delete_rows(spark, path, [("doc_id", "=", 5)])
    with pytest.raises(Exception, match="delete"):
        spark.read.format("parquet_spark").load(path).count()


def _python_rows_out(df) -> int:
    """Rows the Python nodes of `df`'s executed plan handed back to the
    JVM (the pythonNumRowsReceived metric); call after an action."""
    total = 0
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        metrics = node.metrics()
        if metrics.contains("pythonNumRowsReceived"):
            total += metrics.apply("pythonNumRowsReceived").value()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            todo.append(node.plan())
        else:
            kids = node.children()
            todo.extend(kids.apply(i) for i in range(kids.size()))
    return total


def test_matches_read_decoded(spark, docs, table, tmp_path):
    """Every read surface runs the one chunk-decode kernel: read_decoded,
    a match-all scan_table, DataSource V2 batch and the first DataSource
    V2 streaming micro-batch return identical rows — also on an evolved
    table (renamed, widened and added columns, a global-dict column
    holding nulls).  On a Bloom-indexed table DSv2 keeps the same
    chunks as scan_table."""
    from parquet_spark.manifest import alter_table, scan_table
    via_ds = spark.read.format("parquet_spark").load(table)
    via_api = read_decoded(spark, table)
    assert _sym_diff(via_ds, via_api) == 0

    path = str(tmp_path / "evo")
    base = docs.select(
        "doc_id", F.col("n_chars").cast("int").alias("n32"),
        F.when(F.col("doc_id") % 7 != 0, F.col("lang")).alias("lang"))
    write_encoded(base, path, key=["doc_id"], n_parts=2,
                  global_dict_cols=["lang"])
    alter_table(path, rename={"lang": "language"})
    alter_table(path, widen={"n32": "int64"})
    alter_table(path, add=[("note", pa.string())])
    want = base.select("doc_id", F.col("n32").cast("long"),
                       F.col("lang").alias("language"),
                       F.lit(None).cast("string").alias("note"))
    q = (spark.readStream.format("parquet_spark").load(path)
         .writeStream.format("memory").queryName("evo_first_batch")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    # every streamed row came in the first micro-batch
    assert [p["batchId"] for p in q.recentProgress
            if p["numInputRows"]] == [0]
    surfaces = {
        "read_decoded": read_decoded(spark, path),
        "scan_table": scan_table(spark, path,
                                 [("doc_id", "notnull", None)]),
        "dsv2": spark.read.format("parquet_spark").load(path),
        "dsv2_stream": spark.table("evo_first_batch"),
    }
    for name, got in surfaces.items():
        assert got.columns == want.columns, name
        assert _sym_diff(got, want) == 0, name
    assert surfaces["dsv2"].where(
        F.col("language").isNull()).count() == \
        base.where(F.col("lang").isNull()).count() > 0

    # a url-hash table with url Bloom filters and many chunks per part:
    # for a present and an absent url, the DSv2 reader and scan_table's
    # MapInArrow (before the residual) both decode exactly the chunks
    # the engine-level prune_chunks_pred keeps (zone AND Bloom), and
    # DSv2 returns scan_table's rows
    from parquet_spark.corpus import gen_corpus
    from parquet_spark.engine import decode_chunk, prune_chunks_pred
    from parquet_spark.manifest import read_encoded
    path = str(tmp_path / "bloom")
    corpus = gen_corpus(spark, 2000, seed=7, parts=2).select("url", "lang")
    write_encoded(corpus, path, key=["url"], n_parts=2, rows_per_chunk=100,
                  bloom_cols=["url"])
    enc = read_encoded(spark, path)
    present = sorted(r.url for r in corpus.select("url").collect())[1000]
    absent = present + "0"
    # zones alone keep a chunk for the absent url: only its Bloom prunes
    assert prune_chunks_pred(enc, [("url", absent, absent)]).count() >= 1
    # urls are unique: a present url is one row in one kept chunk
    for key, n in ((present, 1), (absent, 0)):
        pred = [("url", "=", key)]
        kept = prune_chunks_pred(enc, pred).collect()
        want = sorted(
            tuple(decode_chunk(r.schema_ipc, r.names, r.payloads, ["url"])
                  .column(0).to_pylist())
            for r in kept)
        reader = _EncodedTableReader(
            _load_table_state({"path": path, "columns": "url"}))
        reader._pred = pred
        got = sorted(tuple(b.column(0).to_pylist())
                     for p in reader.partitions() for b in reader.read(p))
        assert got == want and len(got) == n, key
        dsv2 = (spark.read.format("parquet_spark").load(path)
                .where(F.col("url") == key))
        exact = scan_table(spark, path, pred)
        assert len(exact.collect()) == n, key
        assert _python_rows_out(exact) == sum(r.n_rows for r in kept), key
        assert _sym_diff(dsv2, exact) == 0, key

    # Spark pushes EqualTo(flag, true) for where(flag) and
    # EqualTo(x, NaN) for x = NaN: neither has a Bloom term, and both
    # read back exactly the matching source rows
    path = str(tmp_path / "flags")
    src = pa.table({"id": list(range(40)),
                    "flag": [i % 3 == 0 for i in range(40)],
                    "x": [float("nan") if i % 5 == 0 else i / 2
                          for i in range(40)]})
    write_encoded(spark.createDataFrame(src.to_pylist(),
                                        "id long, flag boolean, x double"),
                  path, key=["id"], n_parts=2, rows_per_chunk=10)
    ds = spark.read.format("parquet_spark").load(path)
    rows = src.to_pylist()
    for cond, keep in ((F.col("flag"), lambda r: r["flag"]),
                       (F.col("flag") == True,  # noqa: E712
                        lambda r: r["flag"]),
                       (F.col("x") == float("nan"),
                        lambda r: r["x"] != r["x"])):
        got = sorted(r.id for r in ds.where(cond).collect())
        assert got == [r["id"] for r in rows if keep(r)], str(cond)


def test_parts_without_newer_chunk_row_columns(spark, tmp_path):
    """Part files written before the double zones, zone sums and Bloom
    filters existed lack those chunk-row columns.  The part reader asks
    only for the columns a file has and keeps a chunk whose zone or
    Bloom array is absent, so read_decoded, scan_table and DSv2 filters
    still return exactly the source rows."""
    import pyarrow.parquet as pq

    from parquet_spark.manifest import EncodedTable, scan_table
    src = pa.table({"doc_id": list(range(200)),
                    "url": [f"https://h{i % 9}.example/{i}"
                            for i in range(200)],
                    "x": [i / 4 for i in range(200)]})
    path = str(tmp_path / "legacy")
    write_encoded(spark.createDataFrame(src.to_pylist(),
                                        "doc_id long, url string, x double"),
                  path, key=["doc_id"], n_parts=2, rows_per_chunk=50,
                  bloom_cols=["url"])
    stripped = {"zone_min_dbl", "zone_max_dbl", "zone_sum_num",
                "bloom_cols", "blooms"}
    for f in EncodedTable(path).data_files():
        tb = pq.read_table(f)
        pq.write_table(tb.select([c for c in tb.schema.names
                                  if c not in stripped]), f)
    rows = src.to_pylist()

    def got(df):
        return sorted(tuple(r) for r in df.collect())

    assert got(read_decoded(spark, path)) == \
        sorted(tuple(r.values()) for r in rows)
    ds = spark.read.format("parquet_spark").load(path)
    url = rows[77]["url"]
    for pred, cond, keep in (
            ([("doc_id", 10, 20)], F.col("doc_id").between(10, 20),
             lambda r: 10 <= r["doc_id"] <= 20),
            ([("x", 5.0, 7.5)], F.col("x").between(5.0, 7.5),
             lambda r: 5.0 <= r["x"] <= 7.5),
            ([("url", "=", url)], F.col("url") == url,
             lambda r: r["url"] == url)):
        want = sorted(tuple(r.values()) for r in rows if keep(r))
        assert want and got(scan_table(spark, path, pred)) == want, pred
        assert got(ds.where(cond)) == want, pred


def test_writer_create_and_read_back(spark, docs):
    """df.write.format('parquet_spark') commits a real snapshot: both
    read paths (DataSource + Python API) return the exact input."""
    path = tempfile.mkdtemp(prefix="dsw_")
    (docs.repartition(3, "doc_id")
     .sortWithinPartitions("doc_id")
     .write.format("parquet_spark").option("key", "doc_id")
     .mode("append").save(path))
    back_ds = spark.read.format("parquet_spark").load(path)
    assert _sym_diff(back_ds, docs) == 0
    assert _sym_diff(read_decoded(spark, path), docs) == 0
    from parquet_spark.manifest import EncodedTable
    t = EncodedTable(path)
    snap = t.current_snapshot()
    assert snap["meta"]["layout"]["mode"] == "external"
    assert len(snap["parts"]) == 3
    # every part carries full lineage (bytes, codecs, zones, hash)
    for info in snap["parts"].values():
        assert info["bytes_in"] > 0 and info["file_hash"]
        assert info["codecs"] and info["zones"]


def test_writer_append_and_overwrite(spark, docs):
    from parquet_spark.manifest import EncodedTable, read_decoded
    path = tempfile.mkdtemp(prefix="dsw_app_")
    half1 = docs.where(F.col("doc_id") % 2 == 0)
    half2 = docs.where(F.col("doc_id") % 2 == 1)
    w1 = half1.repartition(2, "doc_id").write.format("parquet_spark")
    w1.option("key", "doc_id").mode("append").save(path)
    (half2.repartition(2, "doc_id").write.format("parquet_spark")
     .option("key", "doc_id").mode("append").save(path))
    assert _sym_diff(read_decoded(spark, path), docs) == 0
    t = EncodedTable(path)
    snap = t.current_snapshot()
    # disjoint part-id namespaces per append epoch
    assert sorted(map(int, snap["parts"])) == [0, 1, 2, 3]
    assert snap["meta"]["new_parts"] == [2, 3]
    # overwrite = replace epoch; the parent snapshot stays readable
    small = docs.limit(10)
    (small.coalesce(1).write.format("parquet_spark")
     .option("key", "doc_id").mode("overwrite").save(path))
    assert read_decoded(spark, path).count() == 10
    assert read_decoded(
        spark, path, snapshot_id=snap["snapshot_id"]).count() == \
        docs.count()


def test_writer_namespace_guards(spark, docs, table):
    """The key-addressed and external part-id namespaces must never
    interleave: DS append onto a hash/range table refuses, and
    write_encoded onto an external table refuses (layout check)."""
    with pytest.raises(Exception, match="external"):
        (docs.limit(5).write.format("parquet_spark")
         .mode("append").save(table))  # `table` fixture: range layout
    path = tempfile.mkdtemp(prefix="dsw_grd_")
    (docs.limit(20).coalesce(1).write.format("parquet_spark")
     .option("key", "doc_id").mode("append").save(path))
    with pytest.raises(ValueError, match="layout"):
        write_encoded(docs.limit(5), path, key=["doc_id"], n_parts=1)
    # schema mismatch on append fails loudly
    with pytest.raises(Exception, match="schema"):
        (docs.select("doc_id").write.format("parquet_spark")
         .mode("append").save(path))


def test_writer_zone_pruning_carries(spark, docs):
    """Parts written through the DS writer carry zone summaries the
    scan side prunes on, same as write_encoded parts."""
    from parquet_spark.manifest import scan_table
    path = tempfile.mkdtemp(prefix="dsw_zone_")
    (docs.repartitionByRange(4, "doc_id")
     .sortWithinPartitions("doc_id")
     .write.format("parquet_spark").option("key", "doc_id")
     .mode("append").save(path))
    got = scan_table(spark, path, [("doc_id", 0, 9)],
                     columns=["doc_id"])
    want = docs.where(F.col("doc_id").between(0, 9)).select("doc_id")
    assert _sym_diff(got, want) == 0
    # driver-side file pruning: the pushed filter plans fewer input
    # partitions than the full DS scan (disjoint ranges per part)
    full = spark.read.format("parquet_spark").load(path)
    pruned = full.where(F.col("doc_id") < 10)
    n_full = full.rdd.getNumPartitions()
    n_pruned = pruned.select("doc_id").rdd.getNumPartitions()
    assert n_pruned < n_full


def test_timestamp_session_tz_independent(spark):
    """tz-naive stored timestamps must surface as UTC micros through
    the DataSource no matter the session timezone (same conform rule
    as engine.decode_table): under America/New_York the epoch value
    read back must equal the one written, not shift by the offset."""
    df = spark.sql("""
        SELECT id AS rid,
               timestamp_micros(1600000000000000 + id * 1000000) AS ts
        FROM range(0, 50)""")
    path = tempfile.mkdtemp(prefix="dsv2_ts_")
    write_encoded(df, path, key=["rid"], n_parts=2)
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        got = (spark.read.format("parquet_spark").load(path)
               .select(F.unix_micros("ts").alias("u")).orderBy("u")
               .collect())
        assert [r.u for r in got] == \
            [1600000000000000 + i * 1000000 for i in range(50)]
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_read_survives_maintenance_pass(spark, docs):
    """The Catalyst read surface over a table that went through the
    full maintenance choreography (binpack -> expire -> vacuum): the
    DataSource resolves the binpacked manifest (carried + rewritten
    parts, tombstoned history) identically to the library reader."""
    from parquet_spark.manifest import maintain_table

    path = tempfile.mkdtemp(prefix="ds_maint_") + "/t"
    write_encoded(docs, path, key=["lang"], n_parts=4)
    write_encoded(docs.withColumn("doc_id", F.col("doc_id") + 10_000),
                  path, key=["lang"], n_parts=4, part_offset=4)
    rep = maintain_table(spark, path, binpack_small_bytes=1 << 30,
                         binpack_target_bytes=1 << 30,
                         expire_keep_last=1, older_than_s=0.0,
                         vacuum_grace_s=0.0)
    assert rep["fsck"]["ok"]

    ds = spark.read.format("parquet_spark").load(path)
    lib = read_decoded(spark, path)
    assert ds.count() == lib.count() == 2 * docs.count()
    assert ds.exceptAll(lib).count() == 0
    got = (ds.where(F.col("doc_id") >= 10_000)
           .agg(F.sum("n_chars").alias("s")).collect()[0].s)
    want = docs.agg(F.sum("n_chars")).collect()[0][0]
    assert got == want
