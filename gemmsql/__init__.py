"""gemmsql — a PySpark-native analytics engine with the query surface of
joenaess/GeMMMapReduce, rebuilt Spark-first.

The reference (/root/reference) frames every operator as a monoidal
map-reduce fold: ``init`` (identity), ``chunker`` (tile enumerator),
``proj_fold`` (tile -> monoid value), ``binary_reduce`` (associative
merge) — see reference core.py:15-64.  Spark's partial+final hash
aggregation IS that contract, so here every operator is a declarative
DataFrame plan (Catalyst chooses the physical strategy), with NumPy-backed
``mapInPandas``/``applyInPandas`` kernels only for the dense block math
that built-in columnar expressions cannot express efficiently.

Public surface:

- :mod:`gemmsql.session` — SparkSession builder tuned for the engine.
- :mod:`gemmsql.datamodel` — COO / vector-row / block matrix DataFrames.
- :mod:`gemmsql.monoid` — ``make_monoid_op``: the row/sketch fold of the
  ``mk_GeMMMapReduce`` contract (reference core.py:15-64) over Spark
  aggregation.  The tile fold for dense ops is
  :func:`gemmsql.ops.gate.tile_fold`.
- :mod:`gemmsql.ops` — matmul, relu_matmul, mlp, attention, xentropy,
  entropy, sampling (reference operator inventory, SURVEY.md §2).
- :mod:`gemmsql.pipeline` — LLM-data-pipeline operators: dedup,
  similarity search, text analysis, event analytics, multimodal.
- :mod:`gemmsql.streaming` — Structured Streaming variants.
"""

from gemmsql.session import get_spark

#: lazy package-root exports (PEP 562): every headline public op is
#: reachable as ``from gemmsql import <name>`` without paying the
#: import cost of tiers a session never touches.  (The reference ships
#: an EMPTY ``__init__.py`` — SURVEY.md §2 flags that as a defect to
#: avoid; VERDICT r10 next #8 asks for the births to stay exported.)
_EXPORTS = {
    # reference operator surface
    "gram": "gemmsql.ops",
    "relu_matmul": "gemmsql.ops",
    "mlp": "gemmsql.ops",
    "attention_blocked": "gemmsql.ops",
    "attention_coo": "gemmsql.ops",
    "xentropy": "gemmsql.ops",
    "row_entropy": "gemmsql.ops",
    "sample_categorical": "gemmsql.ops",
    "make_monoid_op": "gemmsql.monoid",
    "check": "gemmsql.check",
    "check_equality": "gemmsql.check",
    "check_speed": "gemmsql.check",
    # data-quality engine (quarantine: r10 birth, all-kinds r11)
    "Rule": "gemmsql.pipeline.dq",
    "validate": "gemmsql.pipeline.dq",
    "quarantine": "gemmsql.pipeline.dq",
    "violations": "gemmsql.pipeline.dq",
    # splittable media readers (split_mp3: r10 birth)
    "read_media_ranges": "gemmsql.pipeline.media_split",
    "split_avi": "gemmsql.pipeline.media_split",
    "split_flac": "gemmsql.pipeline.media_split",
    "split_mp3": "gemmsql.pipeline.media_split",
    # parquet footer parser + layout tier
    "parse_footer": "gemmsql.pipeline.parquet_meta",
    "read_footer_tail": "gemmsql.pipeline.parquet_meta",
    "rowgroup_stats": "gemmsql.pipeline.parquet_meta",
    "layout_audit": "gemmsql.pipeline.parquet_meta",
    "zorder_audit": "gemmsql.pipeline.parquet_meta",
    "compaction_audit": "gemmsql.pipeline.parquet_meta",
    # layout-aware sinks + maintenance
    "write_clustered": "gemmsql.sources",
    "write_zordered": "gemmsql.sources",
    "write_bucketed_table": "gemmsql.sources",
    "compact_parquet": "gemmsql.sources",
    # archive containers
    "build_zip": "gemmsql.pipeline.zipshard",
    "parse_zip": "gemmsql.pipeline.zipshard",
    # temporal joins
    "asof_join": "gemmsql.pipeline.joins",
    "salted_join": "gemmsql.pipeline.joins",
    "interval_self_join": "gemmsql.pipeline.joins",
    # web-corpus normalization
    "canonical_url": "gemmsql.pipeline.urls",
    "canonicalize_urls": "gemmsql.pipeline.urls",
    # end-to-end curation composition
    "curation_pipeline": "gemmsql.pipeline.corpus",
    # tokenizer (train + apply)
    "bpe_learn": "gemmsql.pipeline.bpe",
    "bpe_encode": "gemmsql.pipeline.bpe",
    "bpe_tokenize": "gemmsql.pipeline.bpe",
    # streaming DQ (r10/r11 births)
    "streaming_dq_gate": "gemmsql.streaming.windows",
    "streaming_quarantine_gate": "gemmsql.streaming.windows",
    # transaction-log table format (r12 births)
    "read_log": "gemmsql.pipeline.tablelog",
    "snapshot_files": "gemmsql.pipeline.tablelog",
    "time_travel_read": "gemmsql.pipeline.tablelog",
    "table_history_audit": "gemmsql.pipeline.tablelog",
    "stats_skipping_audit": "gemmsql.pipeline.tablelog",
    "version_diff": "gemmsql.pipeline.tablelog",
    "cdf_ivm_rollup": "gemmsql.pipeline.tablelog",
    "write_checkpoint": "gemmsql.pipeline.tablelog",
    "vacuum_plan": "gemmsql.pipeline.tablelog",
    "pruned_scan_read": "gemmsql.pipeline.tablelog",
    "snapshot_read": "gemmsql.pipeline.tablelog",
    "optimize_table": "gemmsql.pipeline.tablelog",
    "evolve_table": "gemmsql.pipeline.tablelog",
    "evolved_schema": "gemmsql.pipeline.tablelog",
    "commit_actions": "gemmsql.pipeline.tablelog",
    "streaming_tablelog_gate": "gemmsql.pipeline.tablelog",
    "merge_table": "gemmsql.pipeline.tablelog",
    "tablelog_merge": "gemmsql.pipeline.tablelog",
    "vacuum_table": "gemmsql.pipeline.tablelog",
    "delete_keys_mor": "gemmsql.pipeline.tablelog",
    "snapshot_read_mor": "gemmsql.pipeline.tablelog",
    "snapshot_delete_files": "gemmsql.pipeline.tablelog",
    "materialize_deletes": "gemmsql.pipeline.tablelog",
    "mor_delete_read": "gemmsql.pipeline.tablelog",
    "bloom_skipping_audit": "gemmsql.pipeline.tablelog",
    "add_check_constraint": "gemmsql.pipeline.tablelog",
    "table_constraints": "gemmsql.pipeline.tablelog",
    "constrained_append": "gemmsql.pipeline.tablelog",
    "streaming_txn_sink_gate": "gemmsql.pipeline.tablelog",
    "ConcurrentModificationError": "gemmsql.pipeline.tablelog",
    # column mapping + protocol + retention (r14 births)
    "rename_column": "gemmsql.pipeline.tablelog",
    "drop_column": "gemmsql.pipeline.tablelog",
    "add_column_mapped": "gemmsql.pipeline.tablelog",
    "column_mapping": "gemmsql.pipeline.tablelog",
    "snapshot_read_mapped": "gemmsql.pipeline.tablelog",
    "append_mapped": "gemmsql.pipeline.tablelog",
    "column_mapping_read": "gemmsql.pipeline.tablelog",
    "set_partition_spec": "gemmsql.pipeline.tablelog",
    "partition_spec": "gemmsql.pipeline.tablelog",
    "append_partitioned": "gemmsql.pipeline.tablelog",
    "replace_partitions": "gemmsql.pipeline.tablelog",
    "compact_partition": "gemmsql.pipeline.tablelog",
    "transform_partition_value": "gemmsql.pipeline.tablelog",
    "partition_pruned_read_where": "gemmsql.pipeline.tablelog",
    "partition_transform_read": "gemmsql.pipeline.tablelog",
    "compact_partitions": "gemmsql.pipeline.tablelog",
    "drop_partitions": "gemmsql.pipeline.tablelog",
    "storage_partitioned_join": "gemmsql.pipeline.tablelog",
    "append_with_stats": "gemmsql.pipeline.tablelog",
    "candidate_files_where": "gemmsql.pipeline.tablelog",
    "stats_pruned_read_where": "gemmsql.pipeline.tablelog",
    "partition_candidate_files": "gemmsql.pipeline.tablelog",
    "partition_pruned_read": "gemmsql.pipeline.tablelog",
    "partition_pruning_read": "gemmsql.pipeline.tablelog",
    "required_reader_features": "gemmsql.pipeline.tablelog",
    "required_writer_features": "gemmsql.pipeline.tablelog",
    "widen_column_type": "gemmsql.pipeline.tablelog",
    "append_auto_evolve": "gemmsql.pipeline.tablelog",
    "type_widening_read": "gemmsql.pipeline.tablelog",
    "expire_log": "gemmsql.pipeline.tablelog",
    "ivm_drain": "gemmsql.pipeline.tablelog",
    "ivm_view": "gemmsql.pipeline.tablelog",
    "streaming_mor_ivm_gate": "gemmsql.pipeline.tablelog",
    "streaming_mapped_ivm_gate": "gemmsql.pipeline.tablelog",
    "delete_positions_mor": "gemmsql.pipeline.tablelog",
    "delete_where_cow": "gemmsql.pipeline.tablelog",
    "snapshot_read_mor_mapped": "gemmsql.pipeline.tablelog",
    "update_where_cow": "gemmsql.pipeline.tablelog",
    "clone_table": "gemmsql.pipeline.tablelog",
    "table_detail": "gemmsql.pipeline.tablelog",
    "set_table_properties": "gemmsql.pipeline.tablelog",
    "unset_table_properties": "gemmsql.pipeline.tablelog",
    "table_properties": "gemmsql.pipeline.tablelog",
    "restore_table": "gemmsql.pipeline.tablelog",
    "version_at_timestamp": "gemmsql.pipeline.tablelog",
    "snapshot_read_at_timestamp": "gemmsql.pipeline.tablelog",
    "near_dup_pairs": "gemmsql.pipeline.phash",
    # persisted sketch store (r12 birth)
    "hll_registers": "gemmsql.sketches",
    "hll_estimate": "gemmsql.sketches",
    "sketch_store_rollup": "gemmsql.sketches",
    "sample_quantile_sketch": "gemmsql.sketches",
    "sample_quantiles": "gemmsql.sketches",
    "segment_value_quantiles": "gemmsql.sketches",
    "streaming_cdf_ivm_gate": "gemmsql.pipeline.tablelog",
    # QOI codec (r12 birth)
    "encode_qoi": "gemmsql.pipeline.qoi",
    "decode_qoi": "gemmsql.pipeline.qoi",
    "qoi_features": "gemmsql.pipeline.qoi",
    # TFRecord shards (r12 birth)
    "build_tfrecord": "gemmsql.pipeline.tfrecord",
    "parse_tfrecord": "gemmsql.pipeline.tfrecord",
    "crc32c": "gemmsql.pipeline.tfrecord",
    "tfrecord_ingest": "gemmsql.pipeline.tfrecord",
    "tfrecord_split_ingest": "gemmsql.pipeline.tfrecord",
    "tfrecord_index": "gemmsql.pipeline.tfrecord",
    "streaming_shard_ingest_gate": "gemmsql.pipeline.tfrecord",
    # Ogg container (r12 birth)
    "build_ogg": "gemmsql.pipeline.ogg",
    "parse_ogg": "gemmsql.pipeline.ogg",
    "ogg_shard_ingest": "gemmsql.pipeline.ogg",
    "ogg_split_ingest": "gemmsql.pipeline.ogg",
    "ogg_page_index": "gemmsql.pipeline.ogg",
    # Avro OCF (r12 birth)
    "build_avro": "gemmsql.pipeline.avro",
    "parse_avro": "gemmsql.pipeline.avro",
    "avro_shard_ingest": "gemmsql.pipeline.avro",
    "seqfile_shard_ingest": "gemmsql.pipeline.seqfile",
    "seqfile_split_ingest": "gemmsql.pipeline.seqfile",
    "build_seqfile": "gemmsql.pipeline.seqfile",
    "parse_seqfile": "gemmsql.pipeline.seqfile",
    "avro_split_ingest": "gemmsql.pipeline.avro",
    "avro_block_index": "gemmsql.pipeline.avro",
    # perceptual image near-dup (r13 birth)
    "dhash_bits": "gemmsql.pipeline.phash",
    "dhash_bands": "gemmsql.pipeline.phash",
    "image_near_dups": "gemmsql.pipeline.phash",
}


def __getattr__(name: str):
    mod = _EXPORTS.get(name)
    if mod is None:
        raise AttributeError(f"module 'gemmsql' has no attribute {name!r}")
    import importlib

    return getattr(importlib.import_module(mod), name)


__all__ = ["get_spark", *sorted(_EXPORTS)]
__version__ = "0.1.0"
