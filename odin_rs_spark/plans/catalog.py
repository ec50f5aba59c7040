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
engine), so their oracles replay the full pipelines in SQL.

Naming convention (the registry reads it): a family module defines
query NN as qNN_<name>(spark, sf_dir) and its oracle as the constant
QNN_SQL, or as _qNN_sql() when code builds the statement. _discover()
below registers every such pair; the one rows-only query is listed in
_ROWS_ONLY.
"""

from __future__ import annotations

import re

from odin_rs_spark.plans.catalog_lake import *  # noqa: F401,F403

# Catalog iteration order is a PRIORITY order, not numeric: the driver
# evaluates exactly the first 50 queries() entries per round. The
# rotation rule (stable since r9): never-driver-graded queries take
# cap slots first, then queries whose CODE changed this round, then
# the stalest-green queries rotate back in as slots allow. The order
# is applied by _rotate() from the _CAP_FRONT name list below —
# editing _CAP_FRONT IS the rotation; the queries it does not name
# follow in ascending query number.
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


# DEFLATE is not SQL-expressible, so q141's fractal dimension has no
# oracle and is checked rows-only.
_ROWS_ONLY = frozenset({"q141_fractal_dim"})

_QUERY_NAME = re.compile(r"q(\d+)_\w+")


def _discover(ns: dict[str, object]) -> list[QuerySpec]:
    """Every callable qNN_<name> in ns with its oracle, in ascending
    query number. A query with no oracle outside _ROWS_ONLY, or two
    queries sharing a number, is an error."""
    by_num: dict[int, QuerySpec] = {}
    for name, fn in ns.items():
        m = _QUERY_NAME.fullmatch(name)
        if m is None or not callable(fn):
            continue
        nn, num = m[1], int(m[1])
        if num in by_num:
            raise ValueError(f"queries {by_num[num].name} and {name} share number {nn}")
        sql = ns.get(f"Q{nn}_SQL")
        if sql is None and f"_q{nn}_sql" in ns:
            sql = ns[f"_q{nn}_sql"]()
        if sql is None and name not in _ROWS_ONLY:
            raise ValueError(f"query {name} has no Q{nn}_SQL or _q{nn}_sql oracle")
        by_num[num] = QuerySpec(name, fn, sql)
    return [by_num[n] for n in sorted(by_num)]


CATALOG: dict[str, QuerySpec] = {s.name: s for s in _rotate(_discover(globals()))}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.fn for name, spec in CATALOG.items()}


def oracle_sql() -> dict[str, str]:
    return {name: spec.sql for name, spec in CATALOG.items() if spec.sql is not None}
