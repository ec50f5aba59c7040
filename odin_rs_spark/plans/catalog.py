"""Query catalog: every operator from SURVEY.md §2 exposed as a named
query over the driver's synthetic tables, each paired with an exactly
mirrored DuckDB oracle SQL statement.

Determinism rules (so Spark output hash-matches the oracle):
- every aggregate over doubles is ROUND()ed identically on both sides
  (fp addition is non-associative; partial-aggregation order differs);
- per-row double arithmetic is left unrounded only when both engines
  evaluate the identical IEEE expression tree; anything transcendental
  (sin/cos/asin) is rounded because libm and java.lang.Math may differ
  in the last ulp;
- int-ratio values (Jaccard) are exact and stay unrounded;
- all window/top-k ranks carry explicit tie-breaks (ts, then id —
  SURVEY §7.4.1);
- counts cast to BIGINT on both sides (DuckDB SUM(int)→HUGEINT).

Hash-derived queries (SimHash, fingerprints, LSH/IVF ANN, the media
stub) use PORTABLE hash streams (md5 / sha256-hex, re-derivable in any
engine), so their oracles replay the full pipelines in SQL. The one
rows-only entry left is q55 (KMeans IVF): iterative training is not
SQL-expressible; its fixed-centroid twin q59 value-checks the same
inverted-file pipeline.
"""

from __future__ import annotations

from odin_rs_spark.plans.catalog_lake import *  # noqa: F401,F403

# Catalog iteration order is a PRIORITY order, not numeric: the driver
# evaluates exactly the first 50 queries() entries per round. The
# rotation rule (stable since r9): never-driver-graded queries take
# cap slots first, then queries whose CODE changed this round, then
# the stalest-green queries rotate back in as slots allow. The order
# is applied by _rotate() from the _CAP_FRONT name list below —
# editing _CAP_FRONT IS the rotation; the QuerySpec list keeps its
# historical grouping and does not move.
#
# Round 16: every executor-built media fixture now goes through
# qshared's _executor_blobs (same bytes, one pandas-UDF scaffold), so
# one consumer of each of the 44 converted generators leads — q206
# covers the pdf/wet/docx/xlsx/pptx five — then the read_sink_or_empty
# callers (a sink of only empty batches now reads as the empty frame;
# q118/q319 also drain through drain_polling_source's fixed bounds).
#
# Round 15: every sink consumer whose code path changed (the snapshot
# sink lands each batch once and merges from the landed partition;
# q120 and q123 share its helpers) already leads, so the order stands.
#
# Round 14: every temp-dir query now runs through qshared's
# _scratch_query (one mkdtemp/rmtree, result materialized by an eager
# localCheckpoint instead of collect + createDataFrame), so all 21 are
# changed code. The 16 that already lead keep their slots; q273, q277,
# q286, q301 and q133 follow, then q264 (one lazy plan instead of seven
# build-phase actions), all ahead of q135.
#
# Round 13: the 14 replay consumers that already lead the list are
# this round's changed code too — split_for_replay writes every chunk
# in one partitionBy job (same rows, row order and mtime order), all
# of them read through replay_stream, and q96/q257 upsert with the
# shared latest_per_key_merge — so the order below stands unchanged.
#
# Round-12 allocation (every registered query has now been
# driver-graded at least once, so changed-code re-grades lead):
#   slots 1-30:  queries whose operator internals or builders changed
#                THIS round, most-invasive first — 14 consumers of the
#                overlapped split_for_replay (explicit mtime-pinned
#                replay order), the two drain_polling_source callers
#                (empty-feed pass fix), the BPE-train pair (lazy
#                per-round checkpoints, checkpoint-then-count), q100
#                (checkpointed vocab counts), q268 (threaded n_rows)
#                and the ten other _wide consumers (action-free gate
#                order — decisions identical by construction, listed
#                after the behaviorally-reshaped queries).
#   remainder:   stalest-green fillers — the wave-2/3 block last
#                graded in CORRECTNESS_r03; anything past slot 50
#                spills harmlessly to future rounds.
# Past slot 50: freshest-last; every registered query is locally
# re-verified every round by tests/test_catalog_oracle.py.
_CAP_FRONT = [
    # r16 _executor_blobs: one consumer per converted generator
    "q206_mixed_corpus5",
    "q124_image_dedup",
    "q131_image_structure_ssim",
    "q136_audio_stats",
    "q143_video_frame_index",
    "q144_jpeg_decode",
    "q151_video_decode",
    "q158_video_demux_audio",
    "q161_gif_decode",
    "q170_interlaced_png",
    "q171_bmp_decode",
    "q172_mulaw_decode",
    "q173_alaw_decode",
    "q176_progressive_jpeg",
    "q183_wat_links",
    "q185_charset_decode",
    "q188_pdf_objstm",
    "q189_exif_audit",
    "q190_oriented_stats",
    "q194_pdf_fonts",
    "q197_revisit_resolve",
    "q198_coding_audit",
    "q200_pdf_provenance",
    "q210_excel_dates",
    "q211_pdf_cid_text",
    "q213_redirect_chains",
    "q215_mime_sniff",
    "q223_tiff_decode",
    "q228_request_pairing",
    "q229_pdf_encryption_audit",
    "q239_eml_scan",
    "q249_jpeg_quality",
    "q251_tar_scan",
    "q253_webdataset",
    "q265_zip_scan",
    "q272_onnx_conv_classify",
    "q275_brotli_decode",
    "q297_dtmf_decode",
    "q307_msgpack_scan",
    "q309_jsonl_zst_scan",
    # r16 read_sink_or_empty (empty-batch sinks) and drain bounds
    "q108_stream_distinct",
    "q117_stream_sessions",
    "q118_rest_source_ingest",
    "q319_gpshub_ingest",
    # r12 changed-code re-grades: streaming replay (split_for_replay
    # concurrent chunk writes + pinned mtime order); r13: one-job
    # split_for_replay, replay_stream reader
    "q257_stream_late_drop",    # also VERDICT #1 re-measured
    "q119_stream_interval_join",  # 2 splits — biggest split win
    "q120_stream_upsert_capped",  # mtime-order regression site (fixed)
    "q96_stream_windowed",
    "q103_stream_ttl_latest",
    "q115_stream_hll_merge",
    "q123_stream_segment_dedup",
    "q246_stream_ddsketch",
    "q266_stream_left_outer",
    "q280_stream_full_outer",
    "q287_stream_dedup_ttl",
    "q91_stream_backfill_live",
    # r14 _scratch_query conversions not already above, then q264
    "q273_goes_stream_flagship",
    "q277_mixed_granule_lake",
    "q286_satellite_classify",
    "q301_avro_stream_ingest",
    "q133_dem_tile_heights",
    "q264_fk_conformance",
    # BPE train restructure (one corpus pass, lazy round checkpoints)
    "q135_bpe_train",
    "q139_bpe_encode",
    # checkpointed vocab counts (two corpus tokenizes -> one)
    "q100_cms_frequency",
    # single-pass digit extraction (two fact scans -> one)
    "q302_benford_audit",
    # _wide/_doc_par: threaded n_rows (no double pipeline execution)
    "q268_record_linkage",
    "q76_semantic_dedup",
    # _wide consumers: gate order change only (identical decisions)
    "q95_bloom_contamination",  # also VERDICT #1 re-measured
    "q69_corpus_prep",
    "q83_repeated_substrings",
    "q156_char_entropy",
    "q159_source_jaccard",
    "q162_html_extract",
    "q167_main_text",
    "q169_crawl_pipeline",
    "q201_contamination",
    "q242_csv_sniff",
    # stalest-green fillers (last graded r3) — spill past slot 50
    # until changed-code re-grades clear
    "q08_customers_without_orders",
    "q09_urgent_parts",
    "q101_salted_agg",
    "q102_sampled_quantiles",
    "q104_matryoshka_topk",
    "q107_stratified_sample",
    "q110_budget_select",
    "q111_frame_sample",
    "q112_bpe_tokens",
    "q113_remove_boilerplate",
    "q114_salted_join",
    "q116_center_embeddings",
    "q12_minute_histogram",
    "q13_schedule_stats",
    "q14_value_stats",
    "q15_histogram_cdf",
    "q17_dedup_latest",
    "q19_union_tagged",
    "q92_line_dedup",
]


def _rotate(specs: list[QuerySpec]) -> list[QuerySpec]:
    by_name = {s.name: s for s in specs}
    missing = [n for n in _CAP_FRONT if n not in by_name]
    if missing:
        raise ValueError(f"_CAP_FRONT names not in catalog: {missing}")
    dupes = [n for n in set(_CAP_FRONT) if _CAP_FRONT.count(n) > 1]
    if dupes:
        # a duplicate silently collapses in the CATALOG dict and shifts
        # every later entry up one cap slot (ADVICE r11: q308 appeared
        # twice and the changed-code re-grade slot was a no-op)
        raise ValueError(f"_CAP_FRONT has duplicate names: {dupes}")
    front_set = set(_CAP_FRONT)
    return [by_name[n] for n in _CAP_FRONT] + [
        s for s in specs if s.name not in front_set
    ]


CATALOG: dict[str, QuerySpec] = {
    s.name: s
    for s in _rotate([
        QuerySpec("q243_code_governance", q243_code_governance, Q243_SQL, "flagship code-governance route-license-secret"),
        QuerySpec("q244_pca_power", q244_pca_power, Q244_SQL, "embedding pca gram power-iteration"),
        QuerySpec("q245_ddsketch", q245_ddsketch, Q245_SQL, "sketch ddsketch relative-error quantiles"),
        QuerySpec("q246_stream_ddsketch", q246_stream_ddsketch, Q246_SQL, "sketch ddsketch streaming-merge T1"),
        QuerySpec("q247_crawl_budget", q247_crawl_budget, Q247_SQL, "web max-min-fair crawl-budget water-filling"),
        QuerySpec("q248_hilbert_layout", q248_hilbert_layout, Q248_SQL, "layout hilbert-curve file-skipping"),
        QuerySpec("q249_jpeg_quality", q249_jpeg_quality, Q249_SQL, "multimodal jpeg-quality dqt-estimate"),
        QuerySpec("q250_crawl_bootstrap", q250_crawl_bootstrap, Q250_SQL, "flagship crawl-bootstrap robots-to-schedule"),
        QuerySpec("q251_tar_scan", q251_tar_scan, Q251_SQL, "S-tar ustar pax-longname shard-container scan"),
        QuerySpec("q252_hll_intersection", q252_hll_intersection, Q252_SQL, "sketch hll set-algebra inclusion-exclusion"),
        QuerySpec("q253_webdataset", q253_webdataset, Q253_SQL, "flagship webdataset tar-jpeg-caption samples"),
        QuerySpec("q254_compaction_plan", q254_compaction_plan, Q254_SQL, "layout small-files compaction bin-packing"),
        QuerySpec("q255_data_profile", q255_data_profile, Q255_SQL, "A-profile deequ single-pass column-stats"),
        QuerySpec("q256_bloom_join_prune", q256_bloom_join_prune, Q256_SQL, "sketch bloom runtime-filter join-pruning"),
        QuerySpec("q257_stream_late_drop", q257_stream_late_drop, Q257_SQL, "T6 watermark late-data drop accounting"),
        QuerySpec("q258_graph_hits", q258_graph_hits, Q258_SQL, "graph hits hubs-authorities integer-exact"),
        QuerySpec("q259_scd2_intervals", q259_scd2_intervals, Q259_SQL, "W-scd2 kimball validity-intervals"),
        QuerySpec("q260_funnel", q260_funnel, Q260_SQL, "A-funnel ordered-step conversion"),
        QuerySpec("q261_retention", q261_retention, Q261_SQL, "A-retention cohort-triangle"),
        QuerySpec("q262_forward_fill", q262_forward_fill, Q262_SQL, "W-locf sensor-grid gap-fill"),
        QuerySpec("q263_disorder_audit", q263_disorder_audit, Q263_SQL, "T-disorder watermark-choice audit"),
        QuerySpec("q264_fk_conformance", q264_fk_conformance, Q264_SQL, "A-profile fk referential-integrity"),
        QuerySpec("q265_zip_scan", q265_zip_scan, Q265_SQL, "S-zip member-scan named-rejections"),
        QuerySpec("q266_stream_left_outer", q266_stream_left_outer, Q266_SQL, "J3-outer stream-stream null-padding pin"),
        QuerySpec("q267_cdc_apply", q267_cdc_apply, Q267_SQL, "W-cdc changelog tombstone-apply"),
        QuerySpec("q268_record_linkage", q268_record_linkage, Q268_SQL, "dedup entity-resolution blocking-levenshtein"),
        QuerySpec("q269_grid_dbscan", q269_grid_dbscan, Q269_SQL, "geo grid-dbscan hotspot-clustering"),
        QuerySpec("q270_track_interpolate", q270_track_interpolate, Q270_SQL, "W-track resample linear-interpolation"),
        QuerySpec("q271_hdf5_decode", q271_hdf5_decode, Q271_SQL, "S2 netcdf4-hdf5 chunked-deflate decode"),
        QuerySpec("q272_onnx_conv_classify", q272_onnx_conv_classify, Q272_SQL, "UDF onnx-conv maxpool classify"),
        QuerySpec("q273_goes_stream_flagship", q273_goes_stream_flagship, _q273_sql(), "flagship T1 S2 J1 K1 K2 goes-live"),
        QuerySpec("q274_warc_zst_scan", q274_warc_zst_scan, Q274_SQL, "S-warc zstd-container rfc8878 scan"),
        QuerySpec("q275_brotli_decode", q275_brotli_decode, Q275_SQL, "S-warc brotli ctypes-backend decode"),
        QuerySpec("q276_grib2_jpeg2000", q276_grib2_jpeg2000, Q276_SQL, "S11 grib2 jpeg2000 drt-5.40 ebcot"),
        QuerySpec("q277_mixed_granule_lake", q277_mixed_granule_lake, Q277_SQL, "flagship S2 S11 mixed-container lake"),
        QuerySpec("q278_k_anonymity", q278_k_anonymity, Q278_SQL, "governance k-anonymity qi-audit"),
        QuerySpec("q279_semantic_contamination", q279_semantic_contamination, Q279_SQL, "similarity benchmark-leak cosine-screen"),
        QuerySpec("q280_stream_full_outer", q280_stream_full_outer, Q280_SQL, "J3-outer stream-stream full-outer pin"),
        QuerySpec("q281_gdpr_cascade", q281_gdpr_cascade, Q281_SQL, "governance gdpr fk-cascade erasure-audit"),
        QuerySpec("q282_sentence_stats", q282_sentence_stats, Q282_SQL, "text sentence-segmentation length-signals"),
        QuerySpec("q283_readability", q283_readability, Q283_SQL, "text flesch readability-buckets"),
        QuerySpec("q284_asof_scd2_join", q284_asof_scd2_join, Q284_SQL, "J2 W-scd2 asof-dimension lookup"),
        QuerySpec("q285_ann_recall_audit", q285_ann_recall_audit, Q285_SQL, "similarity ivf recall-at-k audit"),
        QuerySpec("q286_satellite_classify", q286_satellite_classify, Q286_SQL, "flagship S2 UDF hdf5-conv satellite-inference"),
        QuerySpec("q287_stream_dedup_ttl", q287_stream_dedup_ttl, Q287_SQL, "T-dedup dropDuplicatesWithinWatermark pin"),
        QuerySpec("q288_geodesic_midpoints", q288_geodesic_midpoints, Q288_SQL, "W-track geodesic slerp-midpoint resample"),
        QuerySpec("q289_line_lang_segmentation", q289_line_lang_segmentation, Q289_SQL, "text line-level langid segmentation"),
        QuerySpec("q290_parquet_footer_scan", q290_parquet_footer_scan, Q290_SQL, "S-parquet thrift-footer rowgroup-stats skipping"),
        QuerySpec("q291_avro_scan", q291_avro_scan, Q291_SQL, "S-avro ocf kafka-archive three-codec scan"),
        QuerySpec("q292_tensor_shard_scan", q292_tensor_shard_scan, Q292_SQL, "S-tensor npy-npz-safetensors shard stats"),
        QuerySpec("q293_kmv_intersection", q293_kmv_intersection, Q293_SQL, "sketch kmv-theta set-intersection audit"),
        QuerySpec("q294_triangle_clustering", q294_triangle_clustering, Q294_SQL, "graph oriented-wedge triangle clustering"),
        QuerySpec("q295_quality_model_route", q295_quality_model_route, Q295_SQL, "text trained-lr quality routing"),
        QuerySpec("q296_snapshot_time_travel", q296_snapshot_time_travel, Q296_SQL, "layout txn-log time-travel vacuum"),
        QuerySpec("q297_dtmf_decode", q297_dtmf_decode, Q297_SQL, "multimodal goertzel dtmf telephony decode"),
        QuerySpec("q298_parquet_page_audit", q298_parquet_page_audit, Q298_SQL, "S-parquet page-decode stats-honesty audit"),
        QuerySpec("q299_l_diversity", q299_l_diversity, Q299_SQL, "governance l-diversity attribute-disclosure"),
        QuerySpec("q300_geohash_density", q300_geohash_density, Q300_SQL, "geo geohash-cell neighbor-density blocking"),
        QuerySpec("q301_avro_stream_ingest", q301_avro_stream_ingest, Q301_SQL, "flagship T1 S-avro kafka-archive replay"),
        QuerySpec("q302_benford_audit", q302_benford_audit, Q302_SQL, "A-forensic benford first-digit conformance"),
        QuerySpec("q303_cidr_blocklist", q303_cidr_blocklist, Q303_SQL, "web ipv4-cidr longest-prefix blocklist"),
        QuerySpec("q304_dataset_card", q304_dataset_card, Q304_SQL, "flagship governance dataset-card datasheet"),
        QuerySpec("q305_ab_test_ztest", q305_ab_test_ztest, Q305_SQL, "A-experiment two-proportion z-test"),
        QuerySpec("q306_seasonal_anomaly", q306_seasonal_anomaly, Q306_SQL, "A-anomaly seasonal hour-of-day z-score"),
        QuerySpec("q307_msgpack_scan", q307_msgpack_scan, Q307_SQL, "S-msgpack fluentd event-dump scan"),
        QuerySpec("q308_textrank_keywords", q308_textrank_keywords, Q308_SQL, "text textrank cooccurrence-pagerank keywords"),
        QuerySpec("q309_jsonl_zst_scan", q309_jsonl_zst_scan, Q309_SQL, "S-jsonl-zst corpus-shard scan"),
        QuerySpec("q310_attribution_last_touch", q310_attribution_last_touch, Q310_SQL, "J2 A-attribution last-touch revenue"),
        QuerySpec("q311_clamped_inventory", q311_clamped_inventory, Q311_SQL, "W-inventory clamped-balance reflection-form"),
        QuerySpec("q312_schema_drift", q312_schema_drift, Q312_SQL, "governance jsonl schema-drift audit"),
        QuerySpec("q313_dedup_threshold_tuning", q313_dedup_threshold_tuning, Q313_SQL, "dedup simhash precision-recall tuning"),
        QuerySpec("q314_psi_drift", q314_psi_drift, Q314_SQL, "A-drift population-stability-index"),
        QuerySpec("q315_bot_regularity", q315_bot_regularity, Q315_SQL, "web bot-detection gap-cv regularity"),
        QuerySpec("q316_lake_fsck", q316_lake_fsck, Q316_SQL, "layout lake-fsck orphan-missing audit"),
        QuerySpec("q317_tiled_dem_mosaic", q317_tiled_dem_mosaic, Q317_SQL, "S2 R7 J1 tiled-deflate-lzw geotiff mosaic"),
        QuerySpec("q318_grib2_lossy_audit", q318_grib2_lossy_audit, Q318_SQL, "S11 grib2 jpeg2000 lossy-9/7 quantization audit"),
        QuerySpec("q319_gpshub_ingest", q319_gpshub_ingest, Q319_SQL, "flagship S9 T3 K1 gpshub position-store staleness"),
        QuerySpec("q320_pdf_images", q320_pdf_images, Q320_SQL, "multimodal pdf dctdecode-flate image-xobjects"),
        QuerySpec("q321_bigtiff_dem", q321_bigtiff_dem, Q321_SQL, "S2 R7 bigtiff float-predictor dem granule"),
        QuerySpec("q322_modern_parquet_scan", q322_modern_parquet_scan, Q322_SQL, "S-parquet v2-delta-lz4 modern-writer decode"),
        QuerySpec("q323_orc_scan", q323_orc_scan, Q323_SQL, "S-orc hive-era lake-format scan"),
        QuerySpec("q01_pricing_summary", q01_pricing_summary, Q01_SQL, "A1 F1 F5"),
        QuerySpec("q08_customers_without_orders", q08_customers_without_orders, Q08_SQL, "U3"),
        QuerySpec("q09_urgent_parts", q09_urgent_parts, Q09_SQL, "U4 J4"),
        QuerySpec("q10_asof_purchase_click", q10_asof_purchase_click, Q10_SQL, "J2"),
        QuerySpec("q11_interval_signup_purchases", q11_interval_signup_purchases, Q11_SQL, "J3"),
        QuerySpec("q12_minute_histogram", q12_minute_histogram, Q12_SQL, "A2"),
        QuerySpec("q13_schedule_stats", q13_schedule_stats, Q13_SQL, "A3"),
        QuerySpec("q14_value_stats", q14_value_stats, Q14_SQL, "A4 A5"),
        QuerySpec("q15_histogram_cdf", q15_histogram_cdf, Q15_SQL, "A7"),
        QuerySpec("q16_event_gaps", q16_event_gaps, Q16_SQL, "W3 W4"),
        QuerySpec("q17_dedup_latest", q17_dedup_latest, Q17_SQL, "U2 W2"),
        QuerySpec("q18_sessionize", q18_sessionize, Q18_SQL, "T-session"),
        QuerySpec("q19_union_tagged", q19_union_tagged, Q19_SQL, "U1"),
        QuerySpec("q20_cosine_topk", q20_cosine_topk, Q20_SQL, "similarity"),
        QuerySpec("q21_token_stats", q21_token_stats, Q21_SQL, "text"),
        QuerySpec("q22_lang_id", q22_lang_id, _langid_sql(), "text-langid"),
        QuerySpec("q23_exact_dedup", q23_exact_dedup, Q23_SQL, "dedup-exact"),
        QuerySpec("q176_progressive_jpeg", q176_progressive_jpeg, Q176_SQL, "R9 jpeg-progressive sof2 decode"),
        QuerySpec("q177_robots_wildcards", q177_robots_wildcards, Q177_SQL, "web robots-wildcards row-multiplicity"),
        QuerySpec("q178_psl_domains", q178_psl_domains, Q178_SQL, "web public-suffix-list etld1"),
        QuerySpec("q185_charset_decode", q185_charset_decode, Q185_SQL, "S-warc charset whatwg-cp1252"),
        QuerySpec("q186_robots_directives", q186_robots_directives, Q186_SQL, "web robots-sitemap crawl-delay"),
        QuerySpec("q189_exif_audit", q189_exif_audit, Q189_SQL, "multimodal exif-pii gps-scrub"),
        QuerySpec("q194_pdf_fonts", q194_pdf_fonts, Q194_SQL, "S-pdf simple-font encoding tounicode"),
        QuerySpec("q195_xlsx_cells", q195_xlsx_cells, Q195_SQL, "S-xlsx spreadsheet shared-strings"),
        QuerySpec("q196_pptx_text", q196_pptx_text, Q196_SQL, "S-pptx presentation slide-text"),
        QuerySpec("q197_revisit_resolve", q197_revisit_resolve, Q197_SQL, "S-warc revisit-record digest-dedup"),
        QuerySpec("q198_coding_audit", q198_coding_audit, Q198_SQL, "S-warc zstd-decode brotli-loss audit"),
        QuerySpec("q199_langid_trained", q199_langid_trained, Q199_SQL, "text trained-trigram language-id"),
        QuerySpec("q200_pdf_provenance", q200_pdf_provenance, Q200_SQL, "S-pdf info-dict provenance scan"),
        QuerySpec("q201_contamination", q201_contamination, Q201_SQL, "corpus benchmark-contamination ngram-audit"),
        QuerySpec("q202_markdown_extract", q202_markdown_extract, Q202_SQL, "text markdown structure-extraction"),
        QuerySpec("q203_feed_scan", q203_feed_scan, Q203_SQL, "web rss-atom feed-discovery"),
        QuerySpec("q204_mixture_sample", q204_mixture_sample, Q204_SQL, "corpus domain-mixture deterministic-sampling"),
        QuerySpec("q205_jsonld_extract", q205_jsonld_extract, Q205_SQL, "web json-ld schema-org metadata"),
        QuerySpec("q206_mixed_corpus5", q206_mixed_corpus5, Q206_SQL, "flagship five-modality corpus union"),
        QuerySpec("q207_politeness_schedule", q207_politeness_schedule, Q207_SQL, "web crawl-delay fetch-scheduling"),
        QuerySpec("q208_anchor_text", q208_anchor_text, Q208_SQL, "web anchor-text aggregation"),
        QuerySpec("q209_nfc_audit", q209_nfc_audit, Q209_SQL, "text unicode-nfc normalization audit"),
        QuerySpec("q210_excel_dates", q210_excel_dates, Q210_SQL, "S-xlsx excel-serial date decoding"),
        QuerySpec("q211_pdf_cid_text", q211_pdf_cid_text, Q211_SQL, "S-pdf cid-type0 identity-h tounicode"),
        QuerySpec("q212_langid_route", q212_langid_route, Q212_SQL, "text langid confidence-margin routing"),
        QuerySpec("q213_redirect_chains", q213_redirect_chains, Q213_SQL, "S-warc http-redirect chain-resolution"),
        QuerySpec("q214_sitemap_index", q214_sitemap_index, Q214_SQL, "web sitemapindex two-level discovery"),
        QuerySpec("q215_mime_sniff", q215_mime_sniff, Q215_SQL, "S-warc whatwg-mime-sniffing audit"),
        QuerySpec("q216_canonical_cluster", q216_canonical_cluster, Q216_SQL, "web rel-canonical url-dedup"),
        QuerySpec("q217_noindex_gate", q217_noindex_gate, Q217_SQL, "web robots-meta x-robots-tag gate"),
        QuerySpec("q218_c4_filters", q218_c4_filters, Q218_SQL, "text c4-cleaning line-rules"),
        QuerySpec("q219_rendezvous_shard", q219_rendezvous_shard, Q219_SQL, "skew hrw-hash fleet-sharding"),
        QuerySpec("q220_lang_attr_audit", q220_lang_attr_audit, Q220_SQL, "text lang-attribute langid-crosscheck"),
        QuerySpec("q221_perplexity_buckets", q221_perplexity_buckets, Q221_SQL, "corpus ccnet-perplexity terciles"),
        QuerySpec("q222_recrawl_plan", q222_recrawl_plan, Q222_SQL, "web incremental-recrawl sitemap-cdx join"),
        QuerySpec("q223_tiff_decode", q223_tiff_decode, Q223_SQL, "R9 tiff-decode packbits strips"),
        QuerySpec("q224_blocklist_filter", q224_blocklist_filter, Q224_SQL, "web domain-blocklist category-gate"),
        QuerySpec("q225_line_repetition", q225_line_repetition, Q225_SQL, "text gopher-dup-line signals"),
        QuerySpec("q226_code_routing", q226_code_routing, Q226_SQL, "text code-vs-prose corpus-router"),
        QuerySpec("q227_compliance_pipeline", q227_compliance_pipeline, Q227_SQL, "flagship compliance blocklist-noindex-canonical"),
        QuerySpec("q228_request_pairing", q228_request_pairing, Q228_SQL, "S-warc request-response concurrent-to"),
        QuerySpec("q229_pdf_encryption_audit", q229_pdf_encryption_audit, Q229_SQL, "S-pdf encrypt-detection named-rejection"),
        QuerySpec("q230_decode_quality", q230_decode_quality, Q230_SQL, "text decode-qa replacement-control rates"),
        QuerySpec("q231_token_fertility", q231_token_fertility, Q231_SQL, "text tokenizer-fertility by-language"),
        QuerySpec("q232_minhash_error", q232_minhash_error, Q232_SQL, "dedup minhash-estimator measured-error"),
        QuerySpec("q233_hreflang_clusters", q233_hreflang_clusters, Q233_SQL, "web hreflang translation-clusters"),
        QuerySpec("q234_frontier_signals", q234_frontier_signals, Q234_SQL, "web crawl-trap url-shape signals"),
        QuerySpec("q235_domain_report", q235_domain_report, Q235_SQL, "flagship per-domain report-card psl-gopher"),
        QuerySpec("q236_license_detect", q236_license_detect, Q236_SQL, "code spdx-license governance-routing"),
        QuerySpec("q237_secret_scan", q237_secret_scan, Q237_SQL, "code secret-scan entropy-gate"),
        QuerySpec("q238_zorder_layout", q238_zorder_layout, Q238_SQL, "layout zorder file-skipping audit"),
        QuerySpec("q239_eml_scan", q239_eml_scan, Q239_SQL, "S-eml mime rfc5322 mail-archive"),
        QuerySpec("q240_wikitext", q240_wikitext, Q240_SQL, "text wikitext-extraction mediawiki"),
        QuerySpec("q241_bitext_align", q241_bitext_align, Q241_SQL, "bitext gale-church banded-alignment"),
        QuerySpec("q242_csv_sniff", q242_csv_sniff, Q242_SQL, "S-csv dialect-sniffing consistency-vote"),
        QuerySpec("q190_oriented_stats", q190_oriented_stats, Q190_SQL, "multimodal exif-orientation normalize"),
        QuerySpec("q174_warc_wire_decode", q174_warc_wire_decode, Q174_SQL, "S-warc http-chunked gzip-content-coding"),
        QuerySpec("q175_crawl_wire_pipeline", q175_crawl_wire_pipeline, Q175_SQL, "flagship crawl-wire-decode composition"),
        QuerySpec("q153_warc_scan", q153_warc_scan, Q153_SQL, "S-warc common-crawl scan"),
        QuerySpec("q182_wet_scan", q182_wet_scan, Q182_SQL, "S-warc wet-conversion-records"),
        QuerySpec("q183_wat_links", q183_wat_links, Q183_SQL, "S-warc wat-link-graph from_json"),
        QuerySpec("q187_cdx_index", q187_cdx_index, Q187_SQL, "web cdx-index surt-key latest-capture"),
        QuerySpec("q193_mixed_corpus", q193_mixed_corpus, Q193_SQL, "flagship mixed-modality corpus union"),
        QuerySpec("q180_pdf_text", q180_pdf_text, Q180_SQL, "S-pdf text-extraction flate"),
        QuerySpec("q188_pdf_objstm", q188_pdf_objstm, Q188_SQL, "S-pdf objstm modern-layout"),
        QuerySpec("q162_html_extract", q162_html_extract, Q162_SQL, "text html-extract link-density"),
        QuerySpec("q167_main_text", q167_main_text, Q167_SQL, "text main-text-extraction readability"),
        QuerySpec("q169_crawl_pipeline", q169_crawl_pipeline, Q169_SQL, "flagship crawl-to-corpus composition"),
        QuerySpec("q192_table_extract", q192_table_extract, Q192_SQL, "text html-table prose-separation"),
        QuerySpec("q179_url_rfc3986", q179_url_rfc3986, Q179_SQL, "web url-rfc3986 dot-segments percent-encoding"),
        QuerySpec("q184_link_resolve", q184_link_resolve, Q184_SQL, "web url-resolve rfc3986-52 outlinks"),
        QuerySpec("q154_url_canonicalize", q154_url_canonicalize, Q154_SQL, "web url-canonicalize domain-rollup"),
        QuerySpec("q181_frontier_pipeline", q181_frontier_pipeline, Q181_SQL, "flagship crawl-frontier composition"),
        QuerySpec("q191_docx_text", q191_docx_text, Q191_SQL, "S-docx ooxml text-extraction"),
        QuerySpec("q163_sitemap_scan", q163_sitemap_scan, Q163_SQL, "S-sitemap xml-scan crawl-frontier"),
        QuerySpec("q164_robots_filter", q164_robots_filter, Q164_SQL, "web robots-policy rfc9309"),
        QuerySpec("q166_snapshot_diff", q166_snapshot_diff, Q166_SQL, "corpus crawl-snapshot-diff"),
        QuerySpec("q151_video_decode", q151_video_decode, Q151_SQL, "multimodal mjpeg-frame-decode"),
        QuerySpec("q152_video_frame_dedup", q152_video_frame_dedup, Q152_SQL, "multimodal video-frame-dedup"),
        QuerySpec("q144_jpeg_decode", q144_jpeg_decode, Q144_SQL, "R9 jpeg-decode"),
        QuerySpec("q124_image_dedup", q124_image_dedup, Q124_SQL, "R9 multimodal image-decode dedup"),
        QuerySpec("q128_tile_classify", q128_tile_classify, Q128_SQL, "multimodal onnx-pipeline tiling classify"),
        QuerySpec("q143_video_frame_index", q143_video_frame_index, Q143_SQL, "multimodal video-container frame-index"),
        QuerySpec("q161_gif_decode", q161_gif_decode, Q161_SQL, "R9 gif-decode lzw-interlace"),
        QuerySpec("q170_interlaced_png", q170_interlaced_png, Q170_SQL, "R9 png-adam7-interlace decode"),
        QuerySpec("q171_bmp_decode", q171_bmp_decode, Q171_SQL, "R9 bmp-decode row-padding"),
        QuerySpec("q64_near_dup_clusters", q64_near_dup_clusters, Q64_SQL, "dedup-cc"),
        QuerySpec("q81_cluster_keepers", q81_cluster_keepers, Q81_SQL, "dedup-canonical"),
        QuerySpec("q53_nearest_track", q53_nearest_track, Q53_SQL, "J8"),
        QuerySpec("q56_hotspot_slice", q56_hotspot_slice, _q56_sql(), "F1 F2 S4 J1 A1 W1 geo-goes"),
        QuerySpec("q59_ivf_fixed", q59_ivf_fixed, Q59_SQL, "similarity-ivf"),
        QuerySpec("q69_corpus_prep", q69_corpus_prep, Q69_SQL, "corpus-prep flagship"),
        QuerySpec("q78_jaccard_join", q78_jaccard_join, Q78_SQL, "dedup-jaccard-exact"),
        QuerySpec("q02_class_counts", q02_class_counts, Q02_SQL, "A1 F2"),
        QuerySpec("q03_filter_project", q03_filter_project, Q03_SQL, "F1 F5 F7"),
        QuerySpec("q04_topk_orders", q04_topk_orders, Q04_SQL, "O3 W1"),
        QuerySpec("q05_topk_per_order", q05_topk_per_order, Q05_SQL, "W2 O4"),
        QuerySpec("q06_latest_event_per_user", q06_latest_event_per_user, Q06_SQL, "A6"),
        QuerySpec("q07_region_revenue", q07_region_revenue, Q07_SQL, "J5 J6"),
        QuerySpec("q165_lsh_plan", q165_lsh_plan, Q165_SQL, "dedup lsh-band-planner"),
        QuerySpec("q168_gopher_rules", q168_gopher_rules, Q168_SQL, "text gopher-quality rules"),
        QuerySpec("q172_mulaw_decode", q172_mulaw_decode, Q172_SQL, "multimodal g711-mulaw decode"),
        QuerySpec("q173_alaw_decode", q173_alaw_decode, Q173_SQL, "multimodal g711-alaw decode"),
        QuerySpec("q155_script_mix", q155_script_mix, Q155_SQL, "text script-mixing audit"),
        QuerySpec("q156_char_entropy", q156_char_entropy, Q156_SQL, "text entropy-quality"),
        QuerySpec("q157_semdedup", q157_semdedup, Q157_SQL, "dedup-semantic semdedup-clustered"),
        QuerySpec("q158_video_demux_audio", q158_video_demux_audio, Q158_SQL, "multimodal av-demux audio-stats"),
        QuerySpec("q159_source_jaccard", q159_source_jaccard, _q159_sql(), "dedup corpus-minhash source-matrix"),
        QuerySpec("q160_weighted_sample", q160_weighted_sample, Q160_SQL, "corpus weighted-sample aes"),
        QuerySpec("q76_semantic_dedup", q76_semantic_dedup, Q76_SQL, "dedup-semantic"),
        QuerySpec("q148_dem_slope", q148_dem_slope, Q148_SQL, "R4 R8 dem-slope horn"),
        QuerySpec("q139_bpe_encode", q139_bpe_encode, _q139_sql(), "text-bpe-encode tokenizer-apply"),
        QuerySpec("q142_kcenter_select", q142_kcenter_select, _q142_sql(), "similarity-diversity kcenter-coreset"),
        QuerySpec("q150_audio_resample", q150_audio_resample, Q150_SQL, "multimodal audio-resample rate-normalize"),
        QuerySpec("q135_bpe_train", q135_bpe_train, _q135_sql(), "text-bpe-train tokenizer-learning"),
        QuerySpec("q24_near_dup_pairs", q24_near_dup_pairs, Q24_SQL, "dedup-minhash-lsh"),
        QuerySpec("q25_near_dup_dedup", q25_near_dup_dedup, Q25_SQL, "dedup-minhash-lsh"),
        QuerySpec("q26_simhash_pairs", q26_simhash_pairs, Q26_SQL, "dedup-simhash"),
        QuerySpec("q82_incremental_near_dup", q82_incremental_near_dup, Q82_SQL, "dedup-incremental"),
        QuerySpec("q75_pii_stats", q75_pii_stats, Q75_SQL, "text-pii"),
        QuerySpec("q77_chunking", q77_chunking, Q77_SQL, "corpus-chunk"),
        QuerySpec("q79_temperature_mix", q79_temperature_mix, Q79_SQL, "corpus-temperature"),
        QuerySpec("q80_shard_layout", q80_shard_layout, Q80_SQL, "corpus-shard"),
        QuerySpec("q83_repeated_substrings", q83_repeated_substrings, Q83_SQL, "dedup-exactsubstr"),
        QuerySpec("q84_unigram_logprob", q84_unigram_logprob, Q84_SQL, "text-lm-quality"),
        QuerySpec("q85_ivfpq_topk", q85_ivfpq_topk, Q85_SQL, "similarity-ivfpq"),
        QuerySpec("q86_split_leakage", q86_split_leakage, Q86_SQL, "corpus-split-hygiene"),
        QuerySpec("q87_source_quota", q87_source_quota, Q87_SQL, "corpus-quota"),
        QuerySpec("q88_oov_rate", q88_oov_rate, Q88_SQL, "text-oov"),
        QuerySpec("q89_embedding_stats", q89_embedding_stats, Q89_SQL, "embedding-hygiene"),
        QuerySpec("q90_pmi_collocations", q90_pmi_collocations, Q90_SQL, "text-collocations"),
        QuerySpec("q47_geojson_roundtrip", q47_geojson_roundtrip, Q47_SQL, "S13"),
        QuerySpec("q55_ivf_lloyd", q55_ivf_lloyd, Q55_SQL, "similarity-ivf"),
        QuerySpec("q65_sessionize", q65_sessionize, Q65_SQL, "sessionization"),
        QuerySpec("q138_grib2_missing_decode", q138_grib2_missing_decode, Q138_SQL, "S11 grib2-missing-mgmt decode"),
        QuerySpec("q140_image_focus", q140_image_focus, Q140_SQL, "R9 brenner-focus"),
        QuerySpec("q141_fractal_dim", q141_fractal_dim, None, "R9 fractal-dim rows-only"),
        QuerySpec("q145_image_fit_pad", q145_image_fit_pad, Q145_SQL, "multimodal onnx-fit-policy pad"),
        QuerySpec("q146_quality_mlp_filter", q146_quality_mlp_filter, Q146_SQL, "corpus model-quality-filter mlp"),
        QuerySpec("q147_geotiff_dem_scan", q147_geotiff_dem_scan, Q147_SQL, "S2 R7 geotiff-dem-scan"),
        QuerySpec("q149_audio_dedup", q149_audio_dedup, Q149_SQL, "multimodal audio-fingerprint dedup"),
        QuerySpec("q136_audio_stats", q136_audio_stats, Q136_SQL, "multimodal audio-decode stats"),
        QuerySpec("q137_audio_silence", q137_audio_silence, Q137_SQL, "multimodal audio-silence segmentation"),
        QuerySpec("q134_hist_equalize", q134_hist_equalize, Q134_SQL, "R9 histogram-equalize"),
        QuerySpec("q133_dem_tile_heights", q133_dem_tile_heights, Q133_SQL, "R7 J1 dem-tile-store partition-pruning"),
        QuerySpec("q131_image_structure_ssim", q131_image_structure_ssim, Q131_SQL, "R9 ssim structure-compare"),
        QuerySpec("q132_smoke_diff", q132_smoke_diff, Q132_SQL, "R9 grayworld smoke-detect"),
        QuerySpec("q130_onnx_file_classify", q130_onnx_file_classify, Q130_SQL, "UDF onnx-file-load classify"),
        QuerySpec("q129_grib2_complex_decode", q129_grib2_complex_decode, Q129_SQL, "S11 grib2-complex-decode"),
        QuerySpec("q103_stream_ttl_latest", q103_stream_ttl_latest, Q103_SQL, "T3 stateful applyInPandasWithState"),
        QuerySpec("q108_stream_distinct", q108_stream_distinct, Q108_SQL, "T3 streaming dropDuplicates"),
        QuerySpec("q117_stream_sessions", q117_stream_sessions, Q117_SQL, "T6 streaming session_window"),
        QuerySpec("q127_graph_pagerank", q127_graph_pagerank, _q127_sql(), "graph-pagerank iterative"),
        QuerySpec("q126_grib2_decode", q126_grib2_decode, Q126_SQL, "S11 grib2-decode"),
        QuerySpec("q51_loess", q51_loess, Q51_SQL, "W7"),
        QuerySpec("q52_histogram_compare", q52_histogram_compare, Q52_SQL, "A8"),
        QuerySpec("q54_evidence_join", q54_evidence_join, Q54_SQL, "J4"),
        QuerySpec("q57_quality_score", q57_quality_score, Q57_SQL, "text-quality"),
        QuerySpec("q58_revenue_rollup", q58_revenue_rollup, Q58_SQL, "rollup J5 J6"),
        QuerySpec("q60_source_mix", q60_source_mix, Q60_SQL, "corpus-mix"),
        QuerySpec("q61_contamination", q61_contamination, Q61_SQL, "corpus-contamination"),
        QuerySpec("q62_pack_sequences", q62_pack_sequences, Q62_SQL, "corpus-pack"),
        QuerySpec("q63_hash_sample", q63_hash_sample, Q63_SQL, "corpus-sample"),
        QuerySpec("q66_group_percentiles", q66_group_percentiles, Q66_SQL, "percentiles"),
        QuerySpec("q67_tfidf_top_terms", q67_tfidf_top_terms, Q67_SQL, "tf-idf"),
        QuerySpec("q68_pq_adc_topk", q68_pq_adc_topk, Q68_SQL, "similarity-pq"),
        QuerySpec("q70_pivot_dow", q70_pivot_dow, Q70_SQL, "pivot"),
        QuerySpec("q71_unpivot_measures", q71_unpivot_measures, Q71_SQL, "unpivot"),
        QuerySpec("q72_grouping_sets", q72_grouping_sets, Q72_SQL, "grouping-sets"),
        QuerySpec("q73_sgp4_vectors", q73_sgp4_vectors, Q73_SQL, "orbital-sgp4"),
        QuerySpec("q74_repetition_filter", q74_repetition_filter, Q74_SQL, "text-repetition"),
        QuerySpec("q91_stream_backfill_live", q91_stream_backfill_live, Q91_SQL, "T7 T3 T1 K1 K2"),
        QuerySpec("q92_line_dedup", q92_line_dedup, Q92_SQL, "dedup-line-level"),
        QuerySpec("q93_winnow_pairs", q93_winnow_pairs, Q93_SQL, "text-winnowing"),
        QuerySpec("q94_bm25_topk", q94_bm25_topk, Q94_SQL, "text-bm25-retrieval"),
        QuerySpec("q95_bloom_contamination", q95_bloom_contamination, Q95_SQL, "dedup-bloom"),
        QuerySpec("q97_dsir_select", q97_dsir_select, Q97_SQL, "corpus-dsir"),
        QuerySpec("q98_bigram_logprob", q98_bigram_logprob, Q98_SQL, "text-lm-bigram"),
        QuerySpec("q99_hll_cardinality", q99_hll_cardinality, Q99_SQL, "sketch-hll"),
        QuerySpec("q100_cms_frequency", q100_cms_frequency, Q100_SQL, "sketch-cms"),
        QuerySpec("q101_salted_agg", q101_salted_agg, Q101_SQL, "skew-salted"),
        QuerySpec("q102_sampled_quantiles", q102_sampled_quantiles, Q102_SQL, "sample-quantiles"),
        QuerySpec("q104_matryoshka_topk", q104_matryoshka_topk, Q104_SQL, "similarity-matryoshka"),
        QuerySpec("q106_containment_join", q106_containment_join, Q106_SQL, "dedup-containment"),
        QuerySpec("q107_stratified_sample", q107_stratified_sample, Q107_SQL, "corpus-stratified"),
        QuerySpec("q110_budget_select", q110_budget_select, Q110_SQL, "corpus-budget"),
        QuerySpec("q111_frame_sample", q111_frame_sample, Q111_SQL, "multimodal frame-sampling"),
        QuerySpec("q112_bpe_tokens", q112_bpe_tokens, Q112_SQL, "text-bpe-tokens"),
        QuerySpec("q113_remove_boilerplate", q113_remove_boilerplate, Q113_SQL, "dedup-line-removal"),
        QuerySpec("q114_salted_join", q114_salted_join, Q114_SQL, "skew-salted-join"),
        QuerySpec("q116_center_embeddings", q116_center_embeddings, Q116_SQL, "embedding-centering"),
        QuerySpec("q118_rest_source_ingest", q118_rest_source_ingest, Q118_SQL, "S9 S10 T1 python-datasource"),
        QuerySpec("q119_stream_interval_join", q119_stream_interval_join, Q119_SQL, "J3 stream-stream"),
        QuerySpec("q120_stream_upsert_capped", q120_stream_upsert_capped, Q120_SQL, "W2 T6 keyed-store"),
        QuerySpec("q121_contour_lines", q121_contour_lines, Q121_SQL, "R3 K5 contour-assembly"),
        QuerySpec("q122_netcdf_decode", q122_netcdf_decode, Q122_SQL, "S2 netcdf-decode"),
        QuerySpec("q123_stream_segment_dedup", q123_stream_segment_dedup, Q123_SQL, "dedup-line-streaming"),
        QuerySpec("q125_mlp_classify", q125_mlp_classify, Q125_SQL, "UDF onnx-classify mlp"),
        QuerySpec("q96_stream_windowed", q96_stream_windowed, Q96_SQL, "T1 A1 K1 K2 windowed"),
        QuerySpec("q115_stream_hll_merge", q115_stream_hll_merge, Q115_SQL, "sketch-hll streaming merge"),
        QuerySpec("q105_int8_quantize", q105_int8_quantize, Q105_SQL, "embedding-quantize"),
        QuerySpec("q109_int8_adc_topk", q109_int8_adc_topk, Q109_SQL, "similarity-sq8"),
        QuerySpec("q27_ann_lsh", q27_ann_lsh, Q27_SQL, "similarity-ann"),
        QuerySpec("q29_json_extract", q29_json_extract, Q29_SQL, "F7 S12"),
        QuerySpec("q30_grid_band_math", q30_grid_band_math, Q30_SQL, "R4 S4 K5"),
        QuerySpec("q31_track_distance", q31_track_distance, Q31_SQL, "W4 geo"),
        QuerySpec("q32_idw_grid", q32_idw_grid, Q32_SQL, "R2 S4"),
        QuerySpec("q33_tile_algebra", q33_tile_algebra, Q33_SQL, "R8 A5"),
        QuerySpec("q34_fill_nodata", q34_fill_nodata, Q34_SQL, "R5"),
        QuerySpec("q35_crop_homogeneity", q35_crop_homogeneity, Q35_SQL, "R6"),
        QuerySpec("q36_warp_align", q36_warp_align, Q36_SQL, "R1 J7"),
        QuerySpec("q37_contour", q37_contour, Q37_SQL, "R3 K5"),
        QuerySpec("q38_utm_project", q38_utm_project, _q38_sql(), "geo-utm F7"),
        QuerySpec("q39_point_in_polygon", q39_point_in_polygon, _q39_sql(), "F6"),
        QuerySpec("q40_goes_grid", q40_goes_grid, _q40_sql(), "geo-goes S4 F1"),
        QuerySpec("q41_polygon_metrics", q41_polygon_metrics, Q41_SQL, "geo-polygon A5"),
        QuerySpec("q42_stale_keys", q42_stale_keys, Q42_SQL, "T3 U3 W5"),
        QuerySpec("q45_sbs_roundtrip", q45_sbs_roundtrip, Q45_SQL, "S7 F7"),
        QuerySpec("q46_firms_confidence", q46_firms_confidence, Q46_SQL, "S5 F8"),
        QuerySpec("q49_media_pipeline", q49_media_pipeline, Q49_SQL, "multimodal R9"),
        QuerySpec("q50_image_self_similarity", q50_image_self_similarity, Q50_SQL, "multimodal R9 similarity"),
        QuerySpec("q28_fingerprint", q28_fingerprint, Q28_SQL, "text-fingerprint"),
        QuerySpec("q43_inactive_devices", q43_inactive_devices, Q43_SQL, "T4"),
        QuerySpec("q44_alarm_suppress", q44_alarm_suppress, Q44_SQL, "T5"),
        QuerySpec("q48_mode_s_dispatch", q48_mode_s_dispatch, Q48_SQL, "S8"),
    ])
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.fn for name, spec in CATALOG.items()}


def oracle_sql() -> dict[str, str]:
    return {name: spec.sql for name, spec in CATALOG.items() if spec.sql is not None}
