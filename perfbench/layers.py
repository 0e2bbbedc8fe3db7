"""Per-layer measurement for perfbench (the `--trace 1` run).

Spans are recorded from this file, around calls into the engine's
modules, never from inside them:

* codec and chunk layers (codecs.fsst, codecs.column, engine chunk
  encode/decode): an in-process, Spark-free replay over the very chunks
  the measured table holds.  Each chunk is decoded and re-encoded with the
  writer's settings, and the re-encoded payloads must equal the stored
  ones byte for byte, so the replay is proven to be the same work.
* driver-side layers (splits listing, manifest planning and commit,
  datasource planning): wrappers around the module functions while the
  workload runs traced, plus point-lookup probes on the measured table.
* the Spark boundary and per-query cost: Spark's own job, stage and SQL
  plan metrics for the traced ops, read from the driver's status store
  and from the executed plans of the DataFrames the ops collected.

A span is {name, t0, t1, parent}; self time is a span minus its
children.  Spans stay in memory and are written to
.perfbench_out/trace-<workload>-<seed>.json when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import shutil
import statistics
import sys
import time

MB = 1e6
COLUMNS = ("url", "warc_ts", "html", "text", "lang")
N_PROBES = 3


class Tracer:
    """Span recorder that wraps module-level functions (single thread)."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._orig: list[tuple] = []

    def wrap(self, owner, attr: str, name: str, attrs=None) -> None:
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name) as sp:
                out = fn(*a, **kw)
                if attrs is not None:
                    sp.update(attrs(a, kw, out))
                return out
        setattr(owner, attr, traced)
        self._orig.append((owner, attr, fn))

    def restore(self) -> None:
        for owner, attr, fn in reversed(self._orig):
            setattr(owner, attr, fn)
        self._orig.clear()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sp = {"name": name, **attrs, "id": len(self.spans),
              "parent": self._stack[-1] if self._stack else None,
              "t0": time.perf_counter()}
        self.spans.append(sp)
        self._stack.append(sp["id"])
        try:
            yield sp
        finally:
            self._stack.pop()
            sp["t1"] = time.perf_counter()

    # -- queries -------------------------------------------------------
    def named(self, name: str, not_under: str | None = None) -> list[dict]:
        """Finished spans called `name`, optionally excluding those with
        an ancestor called `not_under`."""
        return [s for s in self.spans
                if s["name"] == name and "t1" in s
                and (not_under is None or not_under not in self._ancestors(s))]

    def _ancestors(self, s: dict) -> set[str]:
        names = set()
        p = s["parent"]
        while p is not None:
            names.add(self.spans[p]["name"])
            p = self.spans[p]["parent"]
        return names

    def children(self, s: dict) -> list[dict]:
        return [c for c in self.spans if c["parent"] == s["id"]]

    @staticmethod
    def ms(spans: list[dict]) -> float:
        return sum(s["t1"] - s["t0"] for s in spans) * 1e3

    def self_ms(self, s: dict, child: str | None = None) -> float:
        kids = [c for c in self.children(s)
                if child is None or c["name"] == child]
        return (s["t1"] - s["t0"]) * 1e3 - self.ms(kids)

    def dump(self, path: str) -> None:
        keep = ("id", "name", "parent", "t0", "t1", "kind", "group", "cols",
                "bytes_in", "bytes_out", "n", "kept", "total")
        with open(path, "w") as f:
            json.dump([{k: s[k] for k in keep if k in s}
                       for s in self.spans], f)


# ------------------------------------------------------------ installing

def install_driver_spans(tracer: Tracer, captured: list) -> None:
    """Wrap the driver-side calls the workloads make, and capture every
    collected DataFrame so its executed plan can be read afterwards."""
    from pyspark.sql.classic.dataframe import DataFrame

    from parquet_spark import manifest, splits
    tracer.wrap(splits, "list_splits", "splits.list",
                lambda a, kw, out: {"n": len(out)})
    tracer.wrap(manifest.EncodedTable, "commit", "manifest.commit",
                lambda a, kw, out: {"bytes_out": len(json.dumps(
                    {k: v for k, v in out.items() if k != "_snap_name"}))})
    tracer.wrap(manifest, "_prune_parts", "manifest.prune_parts",
                lambda a, kw, out: {"kept": len(out), "total": len(a[0])})
    tracer.wrap(manifest, "scan_table", "manifest.scan_table")

    def grab(a, kw, out):
        captured.append((tracer._stack[:], a[0]))
        return {}
    tracer.wrap(DataFrame, "collect", "spark.collect", grab)


def install_codec_spans(tracer: Tracer) -> None:
    from parquet_spark import engine
    from parquet_spark.codecs import column, fsst

    def sizes(a, kw, out):
        return {"bytes_in": len(a[0]), "bytes_out": len(out)}
    tracer.wrap(fsst, "train", "fsst.train")
    tracer.wrap(fsst, "encode", "fsst.encode", sizes)
    tracer.wrap(fsst, "decode", "fsst.decode", sizes)
    tracer.wrap(column, "_enc_fsst", "fsst.column")
    tracer.wrap(column, "_pick_string_codec", "column.select")
    tracer.wrap(column, "_pick_float_codec", "column.select")
    tracer.wrap(column, "_block_wrap", "column.block_wrap")
    tracer.wrap(column, "_block_unwrap", "column.block_unwrap")
    tracer.wrap(engine, "encode_column", "column.encode",
                lambda a, kw, out: {"bytes_out": len(out[1])})
    tracer.wrap(engine, "decode_column", "column.decode")
    tracer.wrap(engine, "encode_chunk", "engine.encode_chunk",
                lambda a, kw, out: {"cols": out["names"]})
    tracer.wrap(engine, "decode_chunk", "engine.decode_chunk",
                lambda a, kw, out: {"cols": list(a[1])})
    tracer.wrap(engine, "_build_bloom", "engine.bloom")
    tracer.wrap(engine, "write_part_atomic", "engine.part_write")


# ---------------------------------------------------------------- replay

def replay_chunks(table: str, bloom_cols, out_dir: str) -> dict:
    """Decode every chunk of `table`, re-encode it with the writer's
    settings and write the part again; returns CPU seconds per phase,
    whether every payload came back byte-identical, and the stored
    payload bytes per column."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_spark import engine
    from parquet_spark.manifest import EncodedTable
    snap = EncodedTable(table).current_snapshot()
    os.makedirs(out_dir, exist_ok=True)
    cpu = {"decode": 0.0, "encode": 0.0, "write": 0.0}
    identical = True
    chunks = 0
    stored_out: dict[str, int] = {}
    for pid, info in sorted(snap["parts"].items(),
                            key=lambda kv: int(kv[0])):
        rows = pq.read_table(info["file"], columns=[
            "chunk_id", "schema_ipc", "names", "payloads",
            "bytes_out"]).to_pylist()
        plan: dict = {}
        out = []
        for r in sorted(rows, key=lambda r: r["chunk_id"]):
            c0 = time.process_time()
            batch = engine.decode_chunk(r["schema_ipc"], r["names"],
                                        r["payloads"])
            c1 = time.process_time()
            ch = engine.encode_chunk(batch, int(pid), r["chunk_id"], "auto",
                                     plan, zone_key="url",
                                     block_codec="auto",
                                     bloom_cols=bloom_cols)
            cpu["decode"] += c1 - c0
            cpu["encode"] += time.process_time() - c1
            identical &= ch["payloads"] == r["payloads"]
            for name, n in zip(r["names"], r["bytes_out"]):
                stored_out[name] = stored_out.get(name, 0) + n
            out.append(ch)
            chunks += 1
        c0 = time.process_time()
        engine.write_part_atomic(
            pa.Table.from_batches([engine._chunk_rows_to_batch(out)]),
            os.path.join(out_dir, f"part-{int(pid):05d}.parquet"))
        cpu["write"] += time.process_time() - c0
    return {"cpu": cpu, "identical": identical, "chunks": chunks,
            "stored_bytes_out": stored_out}


def replay_split_reads(tracer: Tracer, corpus_path: str) -> dict:
    import pyarrow.parquet as pq

    from parquet_spark.splits import list_splits
    ms = mb = cpu = 0.0
    for s in list_splits(corpus_path):
        c0 = time.process_time()
        with tracer.span("splits.read") as sp:
            t = pq.ParquetFile(s["file"]).read_row_group(s["row_group"])
        cpu += time.process_time() - c0
        ms += (sp["t1"] - sp["t0"]) * 1e3
        mb += t.nbytes / MB
    return {"ms_per_mb": ms / mb, "cpu": cpu}


def datasource_probe(tracer: Tracer, table: str, key: str) -> int:
    """Replay the DataSource V2 planning (pushFilters + partitions) and
    read for one key in-process; returns rows the reader produced."""
    from pyspark.sql.datasource import EqualTo

    from parquet_spark import datasource
    with tracer.span("datasource.plan"):
        state = datasource._load_table_state(
            {"path": table, "columns": "url,warc_ts,lang"})
        reader = datasource._EncodedTableReader(state)
        list(reader.pushFilters([EqualTo(("url",), key)]))
        parts = reader.partitions()
    return sum(b.num_rows for p in parts for b in reader.read(p))


# ------------------------------------------------------------ spark side

def _scala_seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def plan_metrics(jdf) -> list[tuple[str, dict]]:
    """(node name, {metric: raw value}) for every node of an executed
    plan, descending through adaptive and query-stage wrappers."""
    out = []

    def walk(node):
        vals = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            vals[kv._1()] = kv._2().value()
        out.append((node.nodeName(), vals))
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            walk(node.plan())
        else:
            for c in _scala_seq(node.children()):
                walk(c)
    walk(jdf.queryExecution().executedPlan())
    return out


def spark_op_stats(spark, groups: list[str]) -> list[dict]:
    """Per op (one Spark job group each): jobs, tasks, job wall, task
    CPU, shuffle bytes and shuffle-stage wall from the status store."""
    sc = spark.sparkContext
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    stages = {}
    for sd in _scala_seq(store.stageList(
            jvm.java.util.ArrayList(), False, False,
            sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList())):
        stages.setdefault(sd.stageId(), sd)
    out = []
    for g in groups:
        rec = {"jobs": 0, "tasks": 0, "job_ms": 0.0, "cpu_s": 0.0,
               "shuffle_mb": 0.0, "exchange_ms": 0.0}
        for jid in sc.statusTracker().getJobIdsForGroup(g):
            jd = store.job(jid)
            rec["jobs"] += 1
            if jd.submissionTime().isDefined() and \
                    jd.completionTime().isDefined():
                rec["job_ms"] += (jd.completionTime().get().getTime()
                                  - jd.submissionTime().get().getTime())
            for sid in _scala_seq(jd.stageIds()):
                sd = stages.get(sid)
                if sd is None or str(sd.status()) != "COMPLETE":
                    continue  # skipped (reused shuffle output)
                rec["tasks"] += sd.numTasks()
                rec["cpu_s"] += sd.executorCpuTime() / 1e9
                if sd.shuffleWriteBytes() > 0:
                    rec["shuffle_mb"] += sd.shuffleWriteBytes() / MB
                    if sd.submissionTime().isDefined() and \
                            sd.completionTime().isDefined():
                        rec["exchange_ms"] += (
                            sd.completionTime().get().getTime()
                            - sd.submissionTime().get().getTime())
        out.append(rec)
    return out


# ----------------------------------------------------------- the run

def trace_run(bench, seconds: float, untraced: dict, end_to_end,
              out_dir: str) -> dict:
    """Traced set-up pass and measured phase, probes and replays;
    returns the per-layer metrics and the tracing overhead."""
    tracer = Tracer()
    captured: list = []
    spark = bench.spark
    sc = spark.sparkContext
    install_driver_spans(tracer, captured)
    n_untraced = len(bench.ops)
    bench.rss.peak_kib = 0  # the traced phase's own peak
    groups: list[str] = []
    request = bench.request

    def grouped_request(kind, record=True):
        g = f"perfbench-{len(groups)}"
        sc.setJobGroup(g, kind)
        try:
            with tracer.span("op", kind=kind, group=g):
                return request(kind, record)
        finally:
            groups.append(g)
    bench.request = grouped_request
    try:
        setup_traced = bench.repeat_step("traced")
        metrics_setup = bench.once_s + setup_traced
        n_setup_groups = len(groups)
        rounds = bench.measure(seconds)
        bench.drop_tables()
        metrics, report = end_to_end(bench, rounds)
        op_groups = groups[n_setup_groups:]
        table = (bench.table if bench.workload == "scan_mix"
                 else bench.tables[0])
        from parquet_spark.manifest import scan_table
        first_probe_span = len(tracer.spans)
        probe_rows = []
        probe_ok = True
        for key, want in bench.oracle["lookups"][:N_PROBES]:
            n0 = len(captured)
            got = scan_table(spark, table, [("url", "=", key)],
                             columns=["url", "warc_ts", "lang"]).collect()
            if [tuple(r) for r in got] != [want]:
                probe_ok = False
            probe_rows.append((len(got), captured[n0:]))
        ds_rows = [datasource_probe(tracer, table, k)
                   for k, _ in bench.oracle["lookups"][:N_PROBES]]
    finally:
        bench.request = request
        sc.setJobGroup("perfbench-idle", "")
        tracer.restore()
    metrics["setup_s"] = metrics_setup

    ctracer = Tracer()
    install_codec_spans(ctracer)
    bloom = None if bench.workload == "ingest_splits" else ["url"]
    try:
        rep = replay_chunks(table, bloom,
                            os.path.join(bench.work, "replay"))
        reads = replay_split_reads(ctracer, bench.corpus_path)
    finally:
        ctracer.restore()
    shutil.rmtree(os.path.join(bench.work, "replay"), ignore_errors=True)

    layers = codec_layers(ctracer)
    stats = spark_op_stats(spark, op_groups)
    n_ops = max(1, len(op_groups))
    py_in = py_out = 0.0
    for stack, df in captured:
        if not any(tracer.spans[i]["name"] == "op"
                   and tracer.spans[i].get("group") in op_groups
                   for i in stack):
            continue
        for _, m in plan_metrics(df._jdf):
            py_in += m.get("pythonDataSent", 0) / MB
            py_out += m.get("pythonDataReceived", 0) / MB
    # the untraced mean CPU of an ingest, or of a full_decode
    bulk_kind = "full_decode" if bench.workload == "scan_mix" \
        else bench.workload
    op_cpu = statistics.mean(r["cpu_s"] for r in bench.ops[:n_untraced]
                             if r["kind"] == bulk_kind)
    if bench.workload == "scan_mix":
        covered = rep["cpu"]["decode"]
    else:
        covered = rep["cpu"]["encode"] + rep["cpu"]["write"]
        if bench.workload == "ingest_splits":
            covered += reads["cpu"]
    commits = tracer.named("manifest.commit")
    snap = _snapshot(table)
    walls = [float(p["wall_ms"]) for p in snap["parts"].values()]
    plans = [s for s in tracer.named("manifest.scan_table")
             if s["id"] >= first_probe_span]
    prunes = [s for s in tracer.named("manifest.prune_parts")
              if s["id"] >= first_probe_span]
    decoded = []
    for _, dfs in probe_rows:
        decoded.append(sum(m.get("pythonNumRowsReceived", 0)
                           for _, df in dfs
                           for _, m in plan_metrics(df._jdf)))
    hits = sum(n for n, _ in probe_rows) or 1
    # traced table writes: every ingest op, or scan_mix's traced set-up
    # table build
    writes = sum(1 for s in tracer.named("op")
                 if s["kind"] in ("ingest_splits", "ingest_hash"))
    if bench.workload == "scan_mix":
        writes += 1
    layers.update({
        "engine.exchange_shuffle_mb": sum(s["shuffle_mb"] for s in stats)
        / n_ops,
        "engine.exchange_stage_ms": sum(s["exchange_ms"] for s in stats)
        / n_ops,
        "engine.python_in_mb": py_in / n_ops,
        "engine.python_out_mb": py_out / n_ops,
        "engine.task_cpu_s": sum(s["cpu_s"] for s in stats) / n_ops,
        "engine.unattributed_cpu_share": 1.0 - covered / op_cpu,
        "splits.list_ms": _median_ms(tracer.named("splits.list")),
        "splits.read_ms_per_mb": reads["ms_per_mb"],
        "splits.task_skew": max(walls) / statistics.median(walls),
        "manifest.commit_ms": _median_ms(commits),
        "manifest.commit_attempts": len(commits) / writes,
        "manifest.snapshot_bytes": commits[-1]["bytes_out"] if commits
        else 0,
        "manifest.plan_ms": _median_ms(plans),
        "manifest.files_kept_ratio": sum(s["kept"] for s in prunes)
        / max(1, sum(s["total"] for s in prunes)),
        "manifest.rows_examined_per_hit": sum(decoded) / hits,
        "datasource.plan_ms": _median_ms(tracer.named("datasource.plan")),
        "datasource.rows_examined_per_hit": sum(ds_rows) / hits,
        "spark.jobs_per_op": sum(s["jobs"] for s in stats) / n_ops,
        "spark.tasks_per_op": sum(s["tasks"] for s in stats) / n_ops,
        "spark.job_ms_per_op": sum(s["job_ms"] for s in stats) / n_ops,
    })
    for k, v in metrics.items():
        layers[f"trace_overhead.{k}"] = v - untraced[k]

    os.makedirs(out_dir, exist_ok=True)
    off = len(tracer.spans)
    tracer.spans.extend(dict(s, id=s["id"] + off,
                             parent=None if s["parent"] is None
                             else s["parent"] + off)
                        for s in ctracer.spans)
    tracer.dump(os.path.join(
        out_dir, f"trace-{bench.workload}-{bench.seed}.json"))
    replay_out = {c: layers[f"column.bytes_out.{c}"] for c in COLUMNS}
    checks = {"replay_identical": rep["identical"],
              "replay_bytes_out_match": replay_out == rep["stored_bytes_out"],
              "probes_ok": probe_ok,
              "one_commit_per_write": layers["manifest.commit_attempts"] == 1}
    for name, ok in checks.items():
        if not ok:
            print(f"perfbench: traced check {name} failed", file=sys.stderr)
    report.update({**checks, "replay_chunks": rep["chunks"],
                   "traced_setup_s": setup_traced})
    return {"metrics": layers, "report": report,
            "correct": all(checks.values())}


def _snapshot(table: str) -> dict:
    from parquet_spark.manifest import EncodedTable
    return EncodedTable(table).current_snapshot()


def _median_ms(spans: list[dict]) -> float:
    return statistics.median((s["t1"] - s["t0"]) * 1e3 for s in spans) \
        if spans else 0.0


def _div(a: float, b: float) -> float:
    """a / b, or 0 when the layer did no work (e.g. no column chose
    FSST)."""
    return a / b if b else 0.0


def codec_layers(t: Tracer) -> dict:
    enc_chunks = t.named("engine.encode_chunk")
    dec_chunks = t.named("engine.decode_chunk")
    # Within one FSST column encode (outside the selector's own trials)
    # the last fsst.encode is the stored stream; earlier encodes and the
    # block wraps under it are the adaptive table trial, which counts as
    # training.
    fs_enc, trials = [], []
    for s in t.named("fsst.column", not_under="column.select"):
        kids = t.children(s)
        encs = [c for c in kids if c["name"] == "fsst.encode"]
        fs_enc += encs[-1:]
        trials += encs[:-1] + [c for c in kids
                               if c["name"] == "column.block_wrap"]
    fs_dec = t.named("fsst.decode")
    out = {
        "fsst.train_ms": t.ms(t.named("fsst.train",
                                      not_under="column.select"))
        + t.ms(trials),
        "fsst.encode_ms_per_mb": _div(
            t.ms(fs_enc), sum(s["bytes_in"] for s in fs_enc) / MB),
        "fsst.decode_ms_per_mb": _div(
            t.ms(fs_dec), sum(s["bytes_out"] for s in fs_dec) / MB),
        "fsst.ratio": _div(sum(s["bytes_in"] for s in fs_enc),
                           sum(s["bytes_out"] for s in fs_enc)),
        "fsst.encode_share": (t.ms(t.named("fsst.train"))
                              + t.ms(t.named("fsst.encode")))
        / t.ms(enc_chunks),
        "fsst.decode_share": t.ms(fs_dec) / t.ms(dec_chunks),
        "column.select_ms": t.ms(t.named("column.select")),
        "column.block_wrap_ms": t.ms(
            [s for s in t.named("column.block_wrap")
             if s["parent"] is not None
             and t.spans[s["parent"]]["name"] == "column.encode"]),
        "column.block_unwrap_ms": t.ms(t.named("column.block_unwrap")),
        "engine.encode_chunk_ms": t.ms(enc_chunks),
        "engine.encode_self_ms": sum(t.self_ms(s, "column.encode")
                                     for s in enc_chunks),
        "engine.bloom_ms": t.ms(t.named("engine.bloom")),
        "engine.decode_chunk_ms": t.ms(dec_chunks),
        "engine.part_write_ms": t.ms(t.named("engine.part_write")),
    }
    per = {c: {"enc": 0.0, "dec": 0.0, "out": 0} for c in COLUMNS}
    for chunk_spans, kind in ((enc_chunks, "column.encode"),
                              (dec_chunks, "column.decode")):
        for s in chunk_spans:
            kids = [c for c in t.children(s) if c["name"] == kind]
            for col, k in zip(s["cols"], kids):
                d = (k["t1"] - k["t0"]) * 1e3
                if kind == "column.encode":
                    per[col]["enc"] += d
                    per[col]["out"] += k["bytes_out"]
                else:
                    per[col]["dec"] += d
    for col, v in per.items():
        out[f"column.encode_ms.{col}"] = v["enc"]
        out[f"column.decode_ms.{col}"] = v["dec"]
        out[f"column.bytes_out.{col}"] = v["out"]
    return out
