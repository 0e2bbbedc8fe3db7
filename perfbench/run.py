"""Repository benchmark for the parquet_spark engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload ingest_splits --seed 1 \
        --seconds 10 --trace 0

Workloads (see perfbench/DESIGN.md for the full design record):

  ingest_splits  scan-stage write: splits.write_encoded_splits of the
                 corpus parquet into a fresh table (no shuffle, no bloom)
  ingest_hash    manifest.write_encoded(key=["url"], bloom_cols=["url"])
                 of the same rows (shuffle, Python-worker IPC, bloom)
  scan_mix       a fixed round of reads over a url-hash, url-bloom table
                 built during set-up: two bulk reads (full_decode,
                 prefix_scan) and two pairs of url point lookups (lookup
                 through scan_table, dsv2_lookup through DataSource V2)

One SparkSession on local[4]; the driver thread is the single client and
every workload runs closed-loop (the next op starts when the previous one
returned).  Inputs come from corpus.gen_corpus with --seed.  Every op is
checked against an oracle computed from the corpus parquet with stock
Spark/pyarrow.  `--trace 0` prints the end-to-end metrics; `--trace 1`
runs the same workload untraced and then traced, and prints the per-layer
metrics plus the traced-minus-untraced difference of every end-to-end
metric.  Metric names and units come from BENCHMARK.json.  The last
stdout line is the result JSON; the line before it is a full report
(every per-request-type latency with its sample count and tail
percentile, the exact-repeat counts, failed_op_ratio).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the requests one round of each workload runs, in order
KINDS = {"ingest_splits": ["ingest_splits"],
         "ingest_hash": ["ingest_hash"],
         "scan_mix": ["full_decode", "lookup", "dsv2_lookup",
                      "prefix_scan", "lookup", "dsv2_lookup"]}
# requests that read or write the whole table: mb_s, cpu_s_per_gb
BULK = ("ingest_splits", "ingest_hash", "full_decode", "prefix_scan")
# one op of op_p50_ms: an ingest, or a lookup and the dsv2_lookup after it
LATENCY = {"ingest_splits": ("ingest_splits",),
           "ingest_hash": ("ingest_hash",),
           "scan_mix": ("lookup", "dsv2_lookup")}
# unmeasured requests before measuring, which pay the one-time costs
# (worker start, JIT, the DataSource V2 planner); an ingest's CPU still
# falls over its first few ops, and a lookup's over its first two.
# full_decode is warmed by the round-trip verification of scan_mix's
# table instead.
WARMUP = {"ingest_splits": ["ingest_splits"] * 3,
          "ingest_hash": ["ingest_hash"] * 3,
          "scan_mix": ["prefix_scan"] + ["lookup", "dsv2_lookup"] * 2}
# 4 corpus files of one 5,000-row row group, ~70 MB of Arrow data.  Each
# part is one chunk (the default is 10,000 rows), so every chunk runs the
# codec selector and the FSST trainer and the per-part plan reuse of
# later chunks is never measured; see DESIGN.md "Sizing and budget".
N_ROWS = 20_000
PARALLELISM = 4        # local[4]
SETUP_REPEATS = 3      # runs of the set-up step whose median is in setup_s
MIN_OPS = 3            # closed loop runs at least this many ops
N_KEYS = 32            # lookup keys drawn per seed
MB = 1e6
CPUACCT = "/sys/fs/cgroup/cpuacct/cpuacct.usage"


# ----------------------------------------------------------- measurement

def cpu_seconds() -> float:
    """Container CPU seconds (cgroup v1 cpuacct)."""
    with open(CPUACCT) as f:
        return int(f.read()) / 1e9


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class RssPeak:
    """Peak resident memory of the driver JVM and its Python workers:
    the largest sum of their proportional set sizes (PSS, so pages the
    forked workers share are counted once) seen after any op."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.peak_kib = 0
        self.last: dict = {}

    def sample(self) -> None:
        total = 0
        self.last = {}
        for pid in [self.jvm_pid, *_descendants(self.jvm_pid)]:
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    kib = next(int(line.split()[1]) for line in f
                               if line.startswith("Pss:"))
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    cmd = f.read().replace(b"\0", b" ")[-40:].decode()
            except (OSError, StopIteration):
                continue
            total += kib
            self.last[pid] = (cmd, kib // 1024)
        self.peak_kib = max(self.peak_kib, total)

    def mb(self) -> float:
        return self.peak_kib * 1024 / MB


def tail(samples: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it (the
    maximum when there are fewer than eleven samples)."""
    s = sorted(samples)
    n = len(s)
    if n >= 11:
        i = n - 11
        return {"value": s[i], "pct": round(100.0 * (i + 1) / n, 1), "n": n}
    return {"value": s[-1], "pct": 100.0, "n": n}


def dir_bytes(path: str, suffix: str | None = None) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs
               if suffix is None or f.endswith(suffix))


# ----------------------------------------------------------- spark setup

def start_session(work: str, datasource: bool):
    """local[4] session whose scratch files all stay under `work`;
    `datasource` registers the DataSource V2 format (seconds of start-up,
    paid only by the workload that reads through it)."""
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    from parquet_spark import tune_malloc_for_workers
    tune_malloc_for_workers()
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master(f"local[{PARALLELISM}]")
             .appName("perfbench")
             .config("spark.sql.shuffle.partitions", str(PARALLELISM))
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.driver.memory", "1g")
             .config("spark.ui.enabled", "false")
             .config("spark.local.dir", os.path.join(work, "spark-local"))
             .config("spark.sql.warehouse.dir",
                     os.path.join(work, "warehouse"))
             .config("spark.driver.extraJavaOptions",
                     # a fixed heap: no resizing, a steadier peak_rss_mb
                     f"-Xms1g -Djava.io.tmpdir={work} -XX:-UsePerfData")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    if datasource:
        from parquet_spark.datasource import register
        register(spark)
    return spark


# ------------------------------------------------------------- the oracle

def build_oracle(spark, corpus_path: str, seed: int, digest: bool) -> dict:
    """Expected answers, from the corpus parquet via stock pyarrow and
    stock Spark (never through the engine); `digest` adds the all-column
    digest a full decode is checked against."""
    import numpy as np
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    files = sorted(os.path.join(corpus_path, f)
                   for f in os.listdir(corpus_path) if f.endswith(".parquet"))
    arrow_bytes = 0
    for path in files:
        pf = pq.ParquetFile(path)
        for rg in range(pf.num_row_groups):
            arrow_bytes += pf.read_row_group(rg).nbytes
    small = pq.read_table(files, columns=["url", "warc_ts", "lang", "text"])
    rng = np.random.default_rng(seed)
    picks = rng.choice(small.num_rows, size=N_KEYS, replace=False)
    rows = small.select(["url", "warc_ts", "lang"]).take(picks).to_pylist()
    lookups = [(r["url"], (r["url"], r["warc_ts"], r["lang"])) for r in rows]
    # url host ranges: "https://hostNN" covers ten hosts; take the ones
    # the seed's corpus populates, skipping the Zipf-hot first decade
    host2 = pc.utf8_slice_codeunits(small.column("url"), 0, 14)
    prefixes = sorted(set(host2.to_pylist()) - {"https://host00"})
    picks = rng.choice(len(prefixes), size=min(8, len(prefixes)),
                       replace=False)
    text_len = pc.utf8_length(small.column("text"))
    prefix_answers = []
    for i in sorted(picks):
        p = prefixes[i]
        mask = pc.starts_with(small.column("url"), p)
        prefix_answers.append((p, (int(pc.sum(mask).as_py()),
                                   int(pc.sum(pc.filter(text_len, mask))
                                       .as_py()))))
    return {"rows": small.num_rows, "arrow_bytes": arrow_bytes,
            "snappy_bytes": dir_bytes(corpus_path, ".parquet"),
            "digest": (_digest_row(spark.read.parquet(corpus_path), F)
                       if digest else None),
            "lookups": lookups,
            "prefixes": prefix_answers}


def _digest_row(df, F) -> tuple:
    """Row count, text length and two digest sums over every column."""
    m = 0xFFFFFFFF
    return tuple(df.agg(
        F.count(F.lit(1)),
        F.sum(F.length("text")),
        F.sum(F.xxhash64("text").bitwiseAND(m)),
        F.sum(F.xxhash64("url", "warc_ts", "html", "lang").bitwiseAND(m)),
    ).collect()[0])


# ------------------------------------------------------------- workloads

class Bench:
    """One run: set-up, warm-up, then a closed-loop measured phase."""

    def __init__(self, spark, workload: str, seed: int, work: str):
        from pyspark.sql import functions as F

        from parquet_spark.manifest import EncodedTable
        self.F = F
        self.spark = spark
        self.workload = workload
        self.seed = seed
        self.work = work
        self.n_tables = 0
        self.ops: list[dict] = []     # one record per measured request
        self.setup_ops: list[dict] = []
        self.seen: dict[str, int] = {}  # requests run so far, per kind
        self.rss = RssPeak(spark.sparkContext._gateway.proc.pid)
        self.tables: list[str] = []   # tables written by measured ops
        self.setup_tables: list[dict] = []  # counts of set-up tables
        self.corpora: list[list] = []      # (rows, bytes) per corpus file
        # manifest commit calls per table path: a write must commit once
        self.commits: dict[str, int] = {}
        commit = EncodedTable.commit

        def counted(table, *a, **kw):
            self.commits[table.path] = self.commits.get(table.path, 0) + 1
            return commit(table, *a, **kw)
        EncodedTable.commit = counted

    # -- set-up --------------------------------------------------------
    def setup(self) -> dict:
        """The corpus parquet (also the parquet-snappy baseline), the
        oracle and, for scan_mix, the url-hash, url-bloom table it reads;
        returns the wall seconds of each step."""
        t0 = time.perf_counter()
        self.corpus_path = self.write_corpus("0")
        t1 = time.perf_counter()
        self.oracle = build_oracle(self.spark, self.corpus_path, self.seed,
                                   digest=self.workload == "scan_mix")
        self.corpus_df = self.spark.read.parquet(self.corpus_path)
        steps = {"corpus_s": t1 - t0, "oracle_s": time.perf_counter() - t1}
        if self.workload == "scan_mix":
            t0 = time.perf_counter()
            self.table = self.build_table("0")
            steps["table_s"] = time.perf_counter() - t0
        return steps

    def repeat_step(self, name: str) -> float:
        """Run the set-up step that drives the engine once more (the
        corpus write for the ingests, the table build for scan_mix) into
        a directory of its own, then delete it; its counts are checked
        against the first run's.  Returns its wall seconds."""
        t0 = time.perf_counter()
        if self.workload == "scan_mix":
            self.build_table(name)
        else:
            self.write_corpus(name)
        wall = time.perf_counter() - t0
        shutil.rmtree(os.path.join(self.work, f"setup-{name}"))
        return wall

    def write_corpus(self, name: str) -> str:
        import pyarrow.parquet as pq

        from parquet_spark.corpus import gen_corpus
        path = os.path.join(self.work, f"setup-{name}", "corpus.parquet")
        (gen_corpus(self.spark, N_ROWS, seed=self.seed, parts=PARALLELISM)
         .write.option("compression", "snappy").parquet(path))
        self.corpora.append([
            (pq.ParquetFile(os.path.join(path, f)).metadata.num_rows,
             os.path.getsize(os.path.join(path, f)))
            for f in sorted(os.listdir(path)) if f.endswith(".parquet")])
        return path

    def build_table(self, name: str) -> str:
        path = os.path.join(self.work, f"setup-{name}", "table")
        self._write_hash(path)
        self.setup_tables.append(table_counts(path, self.commits))
        return path

    def warm_up(self) -> None:
        """Unmeasured requests that pay the one-time costs, so none of
        them counts in latencies."""
        for kind in WARMUP[self.workload]:
            rec = self.request(kind, record=False)
            if "table" in rec:
                shutil.rmtree(rec["table"], ignore_errors=True)

    def _fresh_table(self) -> str:
        self.n_tables += 1
        return os.path.join(self.work, "tables", f"t{self.n_tables:04d}")

    def _write_hash(self, path: str) -> dict:
        from parquet_spark.manifest import write_encoded
        return write_encoded(self.corpus_df, path, key=["url"],
                             bloom_cols=["url"])

    # -- one request ---------------------------------------------------
    def request(self, kind: str, record: bool = True) -> dict:
        """Run and time the next request of `kind`; its answer is checked
        afterwards, outside the timed region."""
        i = self.seen[kind] = self.seen.get(kind, -1) + 1
        c0, t0 = cpu_seconds(), time.perf_counter()
        check = None
        try:
            check = getattr(self, "_op_" + kind)(i)
        except Exception:
            traceback.print_exc(file=sys.stderr)
        wall = time.perf_counter() - t0
        cpu = cpu_seconds() - c0
        ok, info = False, {}
        if check is not None:
            try:
                ok, info = check()
            except Exception:
                traceback.print_exc(file=sys.stderr)
        rec = {"kind": kind, "wall_s": wall, "cpu_s": cpu, "ok": ok, **info}
        if not ok:
            print(f"perfbench: {kind} #{i} gave a wrong answer or failed",
                  file=sys.stderr)
        (self.ops if record else self.setup_ops).append(rec)
        self.rss.sample()
        return rec

    # Each _op_<kind> runs one request and returns its answer check.
    def _check_ingest(self, path: str):
        info = {"table": path, **table_counts(path, self.commits)}
        return (info["rows"] == self.oracle["rows"]
                and info["commits"] == 1), info

    def _op_ingest_splits(self, i):
        from parquet_spark.splits import write_encoded_splits
        path = self._fresh_table()
        write_encoded_splits(self.spark, self.corpus_path, path)
        return lambda: self._check_ingest(path)

    def _op_ingest_hash(self, i):
        path = self._fresh_table()
        self._write_hash(path)
        return lambda: self._check_ingest(path)

    def _op_full_decode(self, i):
        from parquet_spark.manifest import read_decoded
        got = _digest_row(read_decoded(self.spark, self.table), self.F)
        return lambda: (got == self.oracle["digest"], {})

    def _op_lookup(self, i):
        from parquet_spark.manifest import scan_table
        key, want = self.oracle["lookups"][i % N_KEYS]
        rows = scan_table(self.spark, self.table, [("url", "=", key)],
                          columns=["url", "warc_ts", "lang"]).collect()
        return lambda: ([tuple(r) for r in rows] == [want], {})

    def _op_dsv2_lookup(self, i):
        F = self.F
        key, want = self.oracle["lookups"][(i + N_KEYS // 2) % N_KEYS]
        rows = (self.spark.read.format("parquet_spark")
                .option("columns", "url,warc_ts,lang").load(self.table)
                .where(F.col("url") == key).collect())
        return lambda: ([tuple(r) for r in rows] == [want], {})

    def _op_prefix_scan(self, i):
        from parquet_spark.manifest import scan_table
        F = self.F
        prefix, want = self.oracle["prefixes"][i % len(
            self.oracle["prefixes"])]
        got = (scan_table(self.spark, self.table, [("url", "prefix", prefix)])
               .agg(F.count(F.lit(1)), F.sum(F.length("text"))).collect()[0])
        return lambda: ((int(got[0]), int(got[1] or 0)) == want, {})

    # -- the measured phase -------------------------------------------
    def measure(self, seconds: float) -> list[list[dict]]:
        """Closed loop for `seconds`; returns the request records of
        each round."""
        start = len(self.ops)
        rounds = []
        t_end = time.perf_counter() + seconds
        per_round = KINDS[self.workload].count(LATENCY[self.workload][0])
        i = 0
        while i * per_round < MIN_OPS or time.perf_counter() < t_end:
            recs = [self.request(k) for k in KINDS[self.workload]]
            rounds.append(recs)
            for path in [r["table"] for r in recs if "table" in r]:
                self.tables.append(path)
            i += 1
        self.phase_ops = self.ops[start:]
        return rounds

    def drop_tables(self, keep: int = 1) -> None:
        """Delete measured-op tables, keeping the first `keep` for the
        round-trip verification and the traced probes."""
        for path in self.tables[keep:]:
            shutil.rmtree(path, ignore_errors=True)
        del self.tables[keep:]


def end_to_end(bench: Bench, rounds: list[list[dict]]) -> tuple[dict, dict]:
    """End-to-end metrics (every workload reports each) and the report."""
    ops = bench.phase_ops
    o = bench.oracle
    gb = o["arrow_bytes"] / 1e9
    # mb_s and cpu_s_per_gb are run totals over the bulk requests, which
    # a mix of fast and slow requests moves less than it moves a median
    bulk = [r for r in ops if r["kind"] in BULK and r["ok"]]
    bulk_wall = sum(r["wall_s"] for r in bulk) / len(bulk)
    bulk_cpu = sum(r["cpu_s"] for r in bulk) / len(bulk)
    lat = [sum(r["wall_s"] for r in op) for op in zip(*(
        [r for r in ops if r["kind"] == k] for k in LATENCY[bench.workload]))]
    if bench.workload == "scan_mix":
        stored = bench.setup_tables[0]["stored_bytes"]
    else:
        stored = statistics.median(r["stored_bytes"] for r in bulk)
    metrics = {
        "op_p50_ms": statistics.median(lat) * 1e3,
        "mb_s": o["arrow_bytes"] / MB / bulk_wall,
        "cpu_s_per_gb": bulk_cpu / gb,
        "stored_bytes_ratio": stored / o["snappy_bytes"],
        "peak_rss_mb": bench.rss.mb(),
    }
    report = {"rounds": len(rounds), "op_tail_ms": _ms(tail(lat))}
    for kind in KINDS[bench.workload]:
        recs = [r for r in ops if r["kind"] == kind]
        good = [r["wall_s"] for r in recs if r["ok"]] or [float("nan")]
        report[kind] = {"n": len(recs),
                        "walls_ms": [round(r["wall_s"] * 1e3) for r in recs],
                        "cpus_s": [round(r["cpu_s"], 2) for r in recs],
                        "p50_ms": statistics.median(good) * 1e3,
                        "tail_ms": _ms(tail(good)),
                        "cpu_s_p50": statistics.median(
                            r["cpu_s"] for r in recs)}
    if bench.workload == "scan_mix":
        dec = [r for r in bulk if r["kind"] == "full_decode"]
        report["decode_mb_s"] = o["arrow_bytes"] / MB / statistics.mean(
            r["wall_s"] for r in dec)
        report["decode_cpu_s_per_gb"] = statistics.mean(
            r["cpu_s"] for r in dec) / gb
        for kind in ("lookup", "dsv2_lookup", "prefix_scan"):
            report[f"{kind}_p50_ms"] = report[kind]["p50_ms"]
            report[f"{kind}_tail_ms"] = report[kind]["tail_ms"]
    else:
        report["ingest_mb_s"] = metrics["mb_s"]
        report["ingest_cpu_s_per_gb"] = metrics["cpu_s_per_gb"]
    report["stored_bytes_ratio"] = metrics["stored_bytes_ratio"]
    report["pss_mib_by_process"] = bench.rss.last
    report["failed_op_ratio"] = (sum(not r["ok"] for r in ops)
                                 / max(1, len(ops)))
    return metrics, report


def _ms(t: dict) -> dict:
    return {**t, "value": t["value"] * 1e3}


def with_units(metrics: dict, group: str) -> dict:
    """`metrics` with the units BENCHMARK.json gives them in `group`
    ("end_to_end" or "per_layer"); a metric missing from either side is
    a benchmark bug."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        units = {m["name"]: m["unit"] for m in json.load(f)[group]}
    if set(metrics) != set(units):
        raise RuntimeError(f"{group} metrics differ from BENCHMARK.json: "
                           f"{sorted(set(metrics) ^ set(units))}")
    return {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}


EXACT = ("rows", "n_chunks", "data_bytes", "snapshot_files")


def exact_counts(bench: Bench) -> tuple[dict, list[str]]:
    """Counts that must repeat exactly for a seed, and every table (an
    ingest op's, or a set-up table's) and every set-up corpus that
    disagreed with the first."""
    recs = (bench.setup_tables if bench.workload == "scan_mix"
            else [r for r in bench.ops if r["ok"]])
    keys = [k for k in recs[0]
            if k in EXACT or k.startswith("bytes_out.")]
    first = {k: recs[0][k] for k in keys}
    bad = [f"table {j}: {k}={r[k]} != {first[k]}"
           for j, r in enumerate(recs) for k in keys if r[k] != first[k]]
    bad += [f"set-up corpus {j}: files differ from the first"
            for j, c in enumerate(bench.corpora) if c != bench.corpora[0]]
    bad += [f"table {j}: {r['commits']} commits"
            for j, r in enumerate(recs) if r["commits"] != 1]
    return first, bad


def table_counts(path: str, commits: dict) -> dict:
    """Row, chunk, byte and commit counts of a written table, with the
    stored per-column payload bytes summed over its chunks."""
    import pyarrow.parquet as pq

    from parquet_spark.manifest import EncodedTable
    snap = EncodedTable(path).current_snapshot()
    parts = snap["parts"].values()
    out = {"rows": sum(int(p["n_rows"]) for p in parts),
           "n_chunks": sum(int(p["n_chunks"]) for p in parts),
           "data_bytes": dir_bytes(os.path.join(path, "data"), ".parquet"),
           "snapshot_files": len(os.listdir(os.path.join(path,
                                                         "snapshots"))),
           "stored_bytes": dir_bytes(path),
           "commits": commits.get(path, 0)}
    for p in parts:
        for r in pq.read_table(p["file"], columns=["names", "bytes_out"]
                               ).to_pylist():
            for name, n in zip(r["names"], r["bytes_out"]):
                out[f"bytes_out.{name}"] = out.get(f"bytes_out.{name}",
                                                   0) + n
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(KINDS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "parquet_spark")):
        print(f"perfbench: no parquet_spark package under {ROOT}; run from "
              "a checkout of the repository", file=sys.stderr)
        return 2
    if not os.path.exists(CPUACCT):
        print(f"perfbench: {CPUACCT} is missing; container CPU is read "
              "from cgroup v1 cpuacct only", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work, args.workload == "scan_mix")
        session_s = time.perf_counter() - t0
        return run(spark, args, work, session_s)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work directory is still there


def stop_session(spark, timeout_s: float = 60.0) -> None:
    """Stop Spark and wait until the JVM and every Python worker it
    started have exited (killing what is left after `timeout_s`)."""
    import signal
    proc = spark.sparkContext._gateway.proc
    pids = [proc.pid, *_descendants(proc.pid)]
    spark.stop()
    proc.stdin.close()  # the gateway JVM exits on end of its stdin
    deadline = time.monotonic() + timeout_s
    try:
        proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    for pid in pids[1:]:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _alive(pid: int) -> bool:
    """True while `pid` runs (an exited, unreaped zombie has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def run(spark, args, work: str, session_s: float) -> int:
    bench = Bench(spark, args.workload, args.seed, work)
    bench.session_s = session_s
    steps = bench.setup()
    repeated = [steps["table_s" if "table_s" in steps else "corpus_s"]]
    repeated += [bench.repeat_step(str(i)) for i in range(1, SETUP_REPEATS)]
    # the warm-up runs last, right before measuring: a corpus write after
    # it left the first measured ingest ~15% slower than the rest
    verify = verify_once(bench) if args.workload == "scan_mix" else None
    t0 = time.perf_counter()
    bench.warm_up()
    bench.warm_up_s = time.perf_counter() - t0
    # the step run once, plus the median of the repeated step
    bench.once_s = session_s + bench.warm_up_s + sum(steps.values()) \
        - repeated[0]
    setup_s = bench.once_s + statistics.median(repeated)
    rounds = bench.measure(args.seconds)
    bench.drop_tables()
    metrics, report = end_to_end(bench, rounds)
    metrics["setup_s"] = setup_s
    report["setup"] = {"session_s": session_s, **steps,
                       "repeated_s": repeated, "warm_up_s": bench.warm_up_s}

    traced = None
    if args.trace:
        from layers import trace_run
        traced = trace_run(bench, args.seconds, metrics, end_to_end,
                           os.path.join(ROOT, ".perfbench_out"))
        bench.drop_tables()

    counts, mismatches = exact_counts(bench)
    report["exact_counts"] = counts
    verify = verify or verify_once(bench)
    report["verify_roundtrip"] = verify
    ops = bench.ops
    failed = sum(not r["ok"] for r in ops)
    correct = (failed == 0 and all(r["ok"] for r in bench.setup_ops)
               and not mismatches and verify.get("ok", False)
               and (traced is None or traced["correct"]))
    if mismatches:
        print("perfbench: exact-repeat counts differ: " + "; ".join(
            mismatches), file=sys.stderr)
    if traced is not None:
        report["trace"] = traced["report"]
        out = with_units(traced["metrics"], "per_layer")
    else:
        out = with_units(metrics, "end_to_end")
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "report": report}, default=str))
    print(json.dumps({"correct": correct, "attempted": len(ops),
                      "failed": failed, "metrics": out}))
    return 0 if correct else 1


def verify_once(bench: Bench) -> dict:
    """Bit-identical round trip of one table the run wrote.  The table
    is decoded once into a local checkpoint that verify_roundtrip's four
    comparisons then read (about half the wall time of decoding it for
    each)."""
    from parquet_spark.manifest import read_decoded
    from parquet_spark.verify import verify_roundtrip
    path = bench.table if bench.workload == "scan_mix" else bench.tables[0]
    t0 = time.perf_counter()
    try:
        rep = verify_roundtrip(bench.corpus_df,
                               read_decoded(bench.spark, path)
                               .localCheckpoint(),
                               key=["url"], digest_col="text")
        return {"ok": True, **rep, "wall_s": time.perf_counter() - t0}
    except AssertionError as e:
        return {"ok": False, "error": str(e)}


if __name__ == "__main__":
    sys.exit(main())
