"""parquet_spark — a PySpark-native per-column lightweight-compression
engine with the capability surface of opentap/Parquet (encode -> buffer ->
row-group write -> schema-evolving merge -> decode round-trip), re-expressed
Spark-first: DataFrame plans, Arrow-vectorized codecs, range partitioning,
manifest/lineage commits.
"""

__version__ = "0.1.0"

import os as _os


def tune_malloc_for_workers() -> None:
    """Export glibc malloc tunables so Spark's forked Python workers keep
    large arenas on the heap instead of mmap/munmap-ing every big numpy
    temporary.  On virtualized hosts (measured in this sandbox) concurrent
    page-fault storms from 32 workers re-faulting freed arenas serialize
    in the hypervisor and invert scaling; with these settings a worker
    faults its arena once and reuses it for every subsequent task.

    It also sets SPARK_GRAFT_PRELOAD=1 and puts the repo root on
    PYTHONPATH, which switches on sitecustomize.py in every Spark-started
    Python process: lazy_zipimport_invalidation (each task stops
    re-reading pyspark.zip's index 16 times) and the daemon preload.

    Must run BEFORE the SparkSession (JVM) starts: workers inherit the
    JVM's environment, and glibc reads the tunables only at process start.
    """
    for k, v in (("MALLOC_MMAP_THRESHOLD_", str(1 << 30)),
                 ("MALLOC_TRIM_THRESHOLD_", str(1 << 30)),
                 ("MALLOC_MMAP_MAX_", "0"),
                 ("ARROW_DEFAULT_MEMORY_POOL", "system"),
                 ("SPARK_GRAFT_PRELOAD", "1")):
        _os.environ.setdefault(k, v)
    # make sitecustomize.py (daemon preload, see its docstring) importable
    # by the pyspark worker daemon, which inherits PYTHONPATH from the JVM
    pkg_root = _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
    pp = _os.environ.get("PYTHONPATH", "")
    if pkg_root not in pp.split(_os.pathsep):
        _os.environ["PYTHONPATH"] = (pkg_root + _os.pathsep + pp) if pp else pkg_root


def lazy_zipimport_invalidation() -> None:
    """Backport CPython 3.13's lazy ``zipimporter.invalidate_caches``.

    pyspark's worker calls ``importlib.invalidate_caches()`` at the start
    of every task (``worker_util.setup_spark_files``).  Before 3.13 every
    cached zipimporter answers by re-parsing its archive's whole index
    in pure Python, and workers import pyspark from ``pyspark.zip`` with
    one importer per imported subpackage: 16 reads of the 3.5 MB index,
    about 200 ms of CPU per task on a 4-vCPU VM, before any engine code
    runs.  Here, as in 3.13, invalidation only drops the archive's entry
    from ``zipimport._zip_directory_cache``; the next lookup in that
    archive reads the index again, so a replaced archive (an
    ``addPyFile`` zip) is still seen and a deleted one reads as empty.

    Feature-detected: a no-op where zipimporter is already lazy (has
    ``_get_files``) or zipimport lacks the internals used here.
    Stdlib only; sitecustomize.py calls it before any heavy import.
    """
    import zipimport
    cls = zipimport.zipimporter
    if (hasattr(cls, "_get_files")
            or not hasattr(zipimport, "_zip_directory_cache")
            or not hasattr(zipimport, "_read_directory")):
        return

    def _get_files(self):
        cache = zipimport._zip_directory_cache
        try:
            return cache[self.archive]
        except KeyError:
            try:
                files = cache[self.archive] = \
                    zipimport._read_directory(self.archive)
            except zipimport.ZipImportError:
                files = {}
            return files

    def _set_files(self, files):
        # __init__ assigns the index it just cached; the cache already
        # holds it, and an instance copy would outlive the next
        # invalidation as a second index per archive
        pass

    def invalidate_caches(self):
        zipimport._zip_directory_cache.pop(self.archive, None)

    cls._get_files = _get_files
    cls._files = property(_get_files, _set_files)
    cls.invalidate_caches = invalidate_caches


# Lazy public API (keeps `import parquet_spark` light — pyspark loads
# only when an operator is first touched).
_EXPORTS = {
    "encode_table": "engine", "decode_table": "engine",
    "encoding_stats": "engine", "prune_chunks": "engine",
    "prune_chunks_pred": "engine", "scan_filtered": "engine",
    "read_row": "engine", "read_cell": "engine",
    "write_encoded": "manifest", "read_decoded": "manifest",
    "scan_table": "manifest",
    "read_encoded": "manifest", "compact_table": "manifest",
    "compact_small_parts": "manifest",
    "route_encoded": "manifest", "lineage_df": "manifest",
    "route_encoded_partitioned": "manifest", "read_route": "manifest",
    "vacuum_table": "manifest", "expire_snapshots": "manifest",
    "rollback_table": "manifest", "cherry_pick_snapshot": "manifest",
    "maintain_table": "manifest", "export_parquet": "manifest",
    "relocate_table": "manifest",
    "alter_table": "manifest", "publish_branch": "manifest",
    "create_ref": "manifest", "drop_ref": "manifest",
    "list_refs": "manifest",
    "delete_rows": "manifest", "upsert_rows": "manifest",
    "rewrite_table": "manifest", "recluster_table": "manifest",
    "read_increment": "manifest", "metadata_stats": "manifest",
    "count_where": "manifest", "count_filtered": "engine",
    "minmax_where": "manifest",
    "sum_where": "manifest", "avg_where": "manifest",
    "read_changelog": "manifest",
    "read_head": "manifest",
    "fsck_table": "fsck", "fsck_summary": "fsck",
    "create_rollup": "rollup", "refresh_rollup": "rollup",
    "mix_domains": "textops.sampling",
    "dedup_lines": "textops.dedup",
    "EncodedTable": "manifest", "ConcurrentCommitError": "manifest",
    "CommitBackend": "manifest", "PosixCommitBackend": "manifest",
    "ConditionalPutCommitBackend": "manifest",
    "encode_splits": "splits", "write_encoded_splits": "splits",
    "list_splits": "splits",
    "encode_stream": "streaming", "streaming_dedup": "streaming",
    "windowed_ingest_stats": "streaming", "file_stream": "streaming",
    "verify_roundtrip": "verify", "diff_tables": "verify",
    "gen_corpus": "corpus",
    "register_datasource": "datasource",
    "EncodedTableDataSource": "datasource",
    "merge_tables": "merge",
    "exact_dedup": "textops.dedup", "minhash_signatures": "textops.dedup",
    "lsh_candidate_pairs": "textops.dedup", "ngram_jaccard": "textops.dedup",
    "simhash": "textops.dedup", "embedding_near_dups": "textops.dedup",
    "embedding_near_dups_lsh": "textops.dedup",
    "cosine_topk": "textops.similarity", "ann_topk": "textops.similarity",
    "ivf_topk": "textops.similarity", "ivf_centroids": "textops.similarity",
    "ivf_recall": "textops.similarity", "topk_recall": "textops.similarity",
    "pq_codebooks": "textops.similarity", "pq_encode": "textops.similarity",
    "pq_topk": "textops.similarity",
    "connected_components": "textops.dedup", "dedup_keep": "textops.dedup",
    "asof_join": "temporal", "sessionize": "temporal",
    "range_join": "temporal", "time_rollup": "temporal",
    "assign_splits": "textops.sampling", "hash_sample": "textops.sampling",
    "stratified_hash_sample": "textops.sampling",
    "domain_stats": "textops.textstats",
    "quality_filter": "textops.textstats",
    "quality_score": "textops.textstats",
    "gopher_filter": "textops.textstats",
    "repetition_stats": "textops.textstats",
    "top_vocabulary": "textops.textstats",
    "lang_id": "textops.textstats",
    "train_bigram_lm": "textops.textstats",
    "score_bigram_lm": "textops.textstats",
    "dup_span_stats": "textops.dedup",
    "remove_dup_spans": "textops.dedup",
    "semdedup": "textops.dedup",
    "train_bpe": "textops.bpe", "bpe_segment": "textops.bpe",
    "dsir_lambda": "textops.sampling", "dsir_score": "textops.sampling",
    "select_token_budget": "textops.sampling",
    "top_k_by_group": "textops.sampling",
    "dsir_select": "textops.sampling",
    "gap_fill": "temporal",
    "kmv_sketch": "sketch", "kmv_sketch_many": "sketch",
    "kmv_merge": "sketch", "kmv_estimate": "sketch",
    "heavy_hitters": "sketch",
    "quantile_summary": "sketch", "quantile_merge": "sketch",
    "quantile_query": "sketch",
    "exact_quantiles": "stats", "quantiles_df": "stats",
    "analyze_table": "stats", "analyze_incremental": "stats",
    "analyze_df": "stats", "table_stats": "stats",
    "suggest_write_options": "stats",
    "read_warc": "warc", "parse_warc_records": "warc",
    "write_warc_bytes": "warc", "warc_audit": "warc",
    "build_token_index": "textops.textindex",
    "search_tokens": "textops.textindex",
    "search_prefix": "textops.textindex",
    "rank_tokens": "textops.textindex",
    "ngram_contamination": "textops.curation",
    "pii_scrub": "textops.curation",
    "pack_sequences": "textops.curation",
    "fix_mojibake": "textops.curation",
    "synth_mojibake": "textops.curation",
    "extract_text": "textops.htmlops",
    "extract_html_text": "textops.htmlops",
    "synth_html": "textops.htmlops",
    "url_features": "textops.urlops",
    "canonicalize_url": "textops.urlops",
    "media_metadata": "textops.multimodal",
    "resize_image": "textops.multimodal",
    "audio_features": "textops.multimodal",
    "sample_frames": "textops.multimodal",
}


def __getattr__(name):
    if name in _EXPORTS:
        import importlib
        mod = importlib.import_module(f".{_EXPORTS[name]}", __name__)
        return getattr(mod, name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
