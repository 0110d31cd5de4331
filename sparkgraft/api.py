"""Public API surface — one import for everything the engine offers.

    from sparkgraft import api as sg

    spark = sg.get_spark()
    samples = sg.decode_sample_files(spark.read.format("binaryFile").load(path))
    stats = sg.channel_stats(samples, ["file", "channel"])
    sg.stats_to_kv(stats, "channel")
"""

from sparkgraft.functions.expr import (
    comma_decimal,
    content_id,
    filename_timestamp,
    is_10min_aligned,
    ole_to_timestamp,
    round_stats,
    sanitize_channel,
    size_health_flag,
    time_parts,
    timestamp_to_ole,
    window_end_berlin,
)
from sparkgraft.operators.multimodal import (
    audio_fingerprint,
    audio_frame_sample,
    audio_match,
    decode_sample_files,
    image_features,
    image_phash,
    image_resize,
    offset_vote_match,
    phash_neardup,
    video_fingerprint,
    video_frame_sample,
)
from sparkgraft.operators.annotate import (
    annotator_kappa,
    dawid_skene,
    fleiss_kappa,
    majority_label,
)
from sparkgraft.operators.merge import (
    anonymity_audit,
    cdc_group_delta,
    golden_record,
    pseudonymize,
    merge_upsert,
    scd2_apply,
    snapshot_diff,
    validate_rows,
)
from sparkgraft.operators.relational import (
    rrf_fuse,
    asof_join,
    broadcast_lookup,
    merge_intervals,
    range_join,
    sequence_count,
    top_k_per_group,
)
from sparkgraft.operators.graph import (
    triangle_count,
    connected_components,
    dedup_representatives,
    pagerank_exact,
    personalized_pagerank,
)
from sparkgraft.operators.reshape import flatten_struct, long_to_wide, wide_to_long
from sparkgraft.operators.sketch import (
    ddsketch_build,
    ddsketch_merge,
    ddsketch_quantiles,
    cms_build,
    cms_lookup,
    cms_merge,
    heavy_hitters,
    kmv_build,
    kmv_estimate,
    kmv_intersection,
    kmv_merge,
    mg_summaries,
)
from sparkgraft.operators.linalg import (
    covariance_matrix,
    pca_components,
    pca_project,
)
from sparkgraft.operators.topics import (
    assign_topics,
    cluster_documents,
    fit_topic_space,
    doc_term_counts,
    dominant_topic,
    hashed_tfidf_vectors,
    plsa_hard_em,
    topic_model,
    topic_terms,
)
from sparkgraft.operators.trainer import (
    doc_features,
    predict_hard_logistic,
    train_hard_logistic,
)
from sparkgraft.operators.scale import (
    bloom_bitmap,
    bloom_prefilter,
    bucketed_join,
    domain_weights,
    dsir_weights,
    preference_pairs,
    hash_split,
    salted_join,
    sample_per_group,
    shard_assignment,
    skew_diagnostics,
    shuffle_key,
    stratified_sample,
    weighted_sample,
    widen_narrow_scan,
    write_bucketed,
)
from sparkgraft.operators.similarity import (
    maxsim_rerank,
    mmr_rerank,
    assign_nearest,
    assign_nearest_multi,
    brute_force_topk,
    hard_negative_topk,
    centroids_from_labels,
    hyperplane_signs,
    kmeans_iterate,
    dequantize_error,
    embedding_stats,
    lsh_bucket,
    lsh_bucketed_topk,
    ivfpq_topk,
    partitioned_topk,
    pq_adc_topk,
    pq_codebooks_from_labels,
    pq_decode,
    pq_encode,
    quantization_stats,
    quantize_embeddings,
    quantized_rerank_topk,
    random_projection,
    semantic_dedup,
)
from sparkgraft.operators.stats import (
    channel_stats,
    cusum_changepoints,
    equidepth_histogram,
    exact_mean,
    exact_rounded_sum,
    extended_stats,
    impute_missing,
    ks_test,
    ks_test_binned,
    latest_row_fallback,
    latest_rows,
    drift_report,
    profile_columns,
    robust_outlier_stats,
    rolling_anomaly,
    scaled_long,
    windowed_channel_stats,
    winsorize,
)
from sparkgraft.operators.textops import (
    bm25_rank,
    char_shingles,
    chunk_documents,
    decontaminate,
    duplicate_spans,
    fingerprint,
    hash_classifier_score,
    incremental_dedup,
    jaccard,
    lang_id,
    minhash_dedup_pairs,
    ngram_jaccard_pairs,
    gopher_quality,
    minhash_prep,
    ngram_lm_score,
    ngram_support,
    normalize_text,
    pack_chunks,
    paragraph_dedup,
    pii_redact,
    relative_quality_gate,
    repetition_stats,
    setsim_join,
    simhash16,
    span_coverage_gate,
    split_sentences,
    text_stats,
    tfidf_top_terms,
    tokenize,
    winnow_fingerprints,
    word_shingles,
)
from sparkgraft.operators.bpe import (
    bpe_segment,
    train_bpe,
)
from sparkgraft.operators.unigram import (
    seed_pieces,
    train_unigram,
    unigram_segment,
)
from sparkgraft.operators.suffixdedup import (
    longest_benchmark_overlap,
    exact_substring_spans,
    longest_duplicated_substring,
    remove_duplicated_spans,
    substring_dedup_stats,
)
from sparkgraft.operators.timeseries import (
    holt_winters_forecast,
    holt_forecast,
    resample_interpolate,
    sessionize,
    time_weighted_avg,
)
from sparkgraft.session import get_spark
from sparkgraft.sinks.bm25_index import (
    append_bm25_index,
    bm25_topk_indexed,
    compact_bm25_index,
    delete_bm25_index,
    write_bm25_index,
)
from sparkgraft.sinks.ann_index import (
    append_ann_index,
    compact_ann_index,
    delete_ann_index,
    ivfpq_topk_indexed,
    read_ann_index,
    write_ann_index,
)
from sparkgraft.sinks.event_store_sink import (
    read_event_store,
    register_jsonstore_sink,
)
from sparkgraft.sinks.kv import (
    dedup_events,
    observed_write,
    register_image,
    stats_to_kv,
    with_event_ids,
    write_matlab,
    write_stats_csv,
)
from sparkgraft.sinks.versioned import (
    bloom_keep,
    compact_table,
    delete_versioned,
    latest_version,
    read_versioned,
    read_versioned_skipping,
    stats_summary,
    table_history,
    upsert_versioned,
    vacuum,
    write_versioned,
)
from sparkgraft.sinks.layout import (
    compact_directory,
    write_partitioned,
    write_zordered,
    zorder_key,
)
from sparkgraft.sources.readers import (
    list_files,
    read_csv,
    read_jsonl,
    read_orc,
    read_table,
    read_xml,
    with_channel_metadata,
    write_orc,
)
from sparkgraft.sources.sgrf_source import register_sgrf_source
from sparkgraft.sources.report import (
    crack_statistics,
    parse_crack_rows,
    parse_report_meta,
)
from sparkgraft.streaming.joins import interval_join_streams
from sparkgraft.streaming.pipeline import (
    FilePipeline,
    HealthBoard,
    cdc_feed,
    compact_dedup_index,
    cusum_monitor,
    dedup_admission,
    dedup_stream,
    delete_dedup_index,
    drift_monitor,
    ks_monitor,
    merge_sink,
    quantile_monitor,
    sample_monitor,
    stable_files,
    versioned_sink,
    view_maintainer,
)
from sparkgraft.streaming.stateful import ewma_stream, ewma_stream_tws

__all__ = [name for name in dir() if not name.startswith("_")]
