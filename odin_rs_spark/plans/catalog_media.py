"""Catalog queries q120-q179 (split from the single-file catalog in
r11). Registry and cap order: plans/catalog.py."""

from __future__ import annotations

from odin_rs_spark.plans.catalog_core import *  # noqa: F401,F403
# --------------------------------------------------------------------------
# q120 — W2/T6 streaming keyed store driven through the driver surface
# (VERDICT r3 #4b, the last SURVEY §7.4 hard part without a driver row):
# sort_in_record semantics (odin_sentinel/src/lib.rs:898-949) — same-id
# replace, per-key newest-N retention with the (ts desc, id desc)
# tie-break, late inserts re-ranked on event time. Events replay in
# time-ordered chunks; a trailing update file re-sends every 7th id
# with a newer ts and shifted value. The store (parquet snapshot
# maintained per micro-batch by upsert_sorted_capped in foreachBatch)
# must equal the batch-twin: updates win their ids, every user keeps
# exactly its 20 newest. An at-least-once sink or a mis-ordered cap
# breaks the aggregate against the oracle.
# --------------------------------------------------------------------------

@_scratch_query
def q120_stream_upsert_capped(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    from odin_rs_spark.streaming.pipelines import run_available_now, snapshot_sink
    from odin_rs_spark.streaming.sources import replay_stream, split_for_replay
    from odin_rs_spark.streaming.state import upsert_sorted_capped

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    split_for_replay(ev, root + "/chunks", n_chunks=4, order_col="ts")
    # update generation: same ids, strictly newer event time (lands
    # last both by mtime — written after the chunks — and by ts)
    updates = ev.filter(F.col("event_id") % 7 == 0).select(
        "event_id",
        "user_id",
        (F.col("ts") + F.expr("INTERVAL 35 DAYS")).alias("ts"),
        (F.col("value") + F.lit(1000.0)).alias("value"),
    )
    updates.coalesce(1).write.mode("overwrite").parquet(
        root + "/chunks/chunk_zz_updates"
    )
    stream = replay_stream(spark, root + "/chunks", ev.schema, 2)
    store = root + "/store"

    # rename-swap (not delete-before-write): a crash mid-swap is recovered
    sink = snapshot_sink(
        store,
        lambda old, batch_df: upsert_sorted_capped(
            old, batch_df, "event_id", ["user_id"], "ts", max_len=20
        ),
    )
    with _stream_state_parallelism(spark, 8):
        run_available_now(stream, sink, root + "/ckpt", output_mode="append")
    kept = spark.read.parquet(store)
    out = kept.groupBy((F.col("user_id") % 8).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.count_distinct("user_id").alias("n_users"),
        F.sum(F.when(F.col("value") >= 1000.0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_updated"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )
    return out


Q120_SQL = """
WITH upd AS (
  SELECT event_id, user_id, ts + INTERVAL 35 DAY AS ts, value + 1000.0 AS value
  FROM events WHERE event_id % 7 = 0),
final AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_id % 7 <> 0
  UNION ALL SELECT event_id, user_id, ts, value FROM upd),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rk
  FROM final)
SELECT user_id % 8 AS bucket, count(*)::BIGINT AS n_kept,
       count(DISTINCT user_id)::BIGINT AS n_users,
       sum(CASE WHEN value >= 1000.0 THEN 1 ELSE 0 END)::BIGINT AS n_updated,
       round(sum(value), 4) AS sum_value
FROM ranked WHERE rk <= 20 GROUP BY bucket
"""


# --------------------------------------------------------------------------
# q121 — contour POLYLINE assembly (VERDICT r3 #3): marching-squares
# segments stitched into iso-LINES with attributes, matching the
# reference's contour op emitting assembled lines
# (odin_gdal/src/contour.rs:28-215, odin_wind/src/lib.rs:542-559).
# Assembly = connected components over the quantized endpoint graph
# (large-star/small-star, reused from dedup); closed-ness falls out of
# the degree histogram. The oracle replays the ENTIRE pipeline in SQL:
# tile-free marching squares (Q37's CTEs) + recursive-CTE min-label
# propagation — so line count, per-line segment count, length and
# closed flag are all value-checked.
# --------------------------------------------------------------------------

def q121_contour_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    lat = raster_ops.affine_lattice(spark, 60, 50)
    u = F.sin(F.col("x") * 0.37) * F.cos(F.col("y") * 0.23) * 10.0
    v = F.cos(F.col("x") * 0.11) * 5.0 + F.sin(F.col("y") * 0.31) * 3.0
    cells = lat.select("x", "y", raster_ops.windspeed(u, v).alias("value"))
    segs = raster_ops.contour_segments(cells, interval=2.2352, tile_size=32)
    return raster_ops.contour_lines(segs, interval=2.2352)


Q121_SQL = """
WITH RECURSIVE g AS (
  SELECT x, y,
         sin(x * 0.37) * cos(y * 0.23) * 10.0 AS u,
         cos(x * 0.11) * 5.0 + sin(y * 0.31) * 3.0 AS w
  FROM (SELECT xx.range AS x, yy.range AS y FROM range(60) xx, range(50) yy)),
gv AS (SELECT x, y, sqrt(u * u + w * w) AS v FROM g),
sq AS (
  SELECT a.x AS ix, a.y AS iy, a.v AS bl, b.v AS br, t.v AS tl, u.v AS tr
  FROM gv a
  JOIN gv b ON b.x = a.x + 1 AND b.y = a.y
  JOIN gv t ON t.x = a.x AND t.y = a.y + 1
  JOIN gv u ON u.x = a.x + 1 AND u.y = a.y + 1),
lv AS (
  SELECT sq.*, unnest(range(CAST(floor(least(bl, br, tl, tr) / 2.2352) AS BIGINT) + 1,
                            CAST(floor(greatest(bl, br, tl, tr) / 2.2352) AS BIGINT) + 1)) AS li
  FROM sq),
e AS (
  SELECT ix, iy, li, li * CAST(2.2352 AS DOUBLE) AS lvl, bl, br, tl, tr,
         (CASE WHEN bl >= li * CAST(2.2352 AS DOUBLE) THEN 1 ELSE 0 END
          + CASE WHEN br >= li * CAST(2.2352 AS DOUBLE) THEN 2 ELSE 0 END
          + CASE WHEN tr >= li * CAST(2.2352 AS DOUBLE) THEN 4 ELSE 0 END
          + CASE WHEN tl >= li * CAST(2.2352 AS DOUBLE) THEN 8 ELSE 0 END) AS cs
  FROM lv),
pts AS (
  SELECT ix, iy, li, lvl, cs,
         ix + greatest(0.0, least(1.0, (lvl - bl) / (br - bl))) AS botx,
         iy + greatest(0.0, least(1.0, (lvl - br) / (tr - br))) AS rgty,
         ix + greatest(0.0, least(1.0, (lvl - tl) / (tr - tl))) AS topx,
         iy + greatest(0.0, least(1.0, (lvl - bl) / (tl - bl))) AS lfty
  FROM e WHERE cs NOT IN (0, 15)),
m(cs, e1, e2) AS (VALUES
  (1,3,0),(2,0,1),(3,3,1),(4,1,2),(6,0,2),(7,3,2),(8,2,3),(9,2,0),
  (11,2,1),(12,1,3),(13,1,0),(14,0,3),(5,3,0),(5,1,2),(10,0,1),(10,2,3)),
seg0 AS (
  SELECT p.li, p.lvl AS level,
         CASE m.e1 WHEN 0 THEN botx WHEN 1 THEN ix + 1.0 WHEN 2 THEN topx ELSE ix + 0.0 END AS x1,
         CASE m.e1 WHEN 0 THEN iy + 0.0 WHEN 1 THEN rgty WHEN 2 THEN iy + 1.0 ELSE lfty END AS y1,
         CASE m.e2 WHEN 0 THEN botx WHEN 1 THEN ix + 1.0 WHEN 2 THEN topx ELSE ix + 0.0 END AS x2,
         CASE m.e2 WHEN 0 THEN iy + 0.0 WHEN 1 THEN rgty WHEN 2 THEN iy + 1.0 ELSE lfty END AS y2
  FROM pts p JOIN m ON m.cs = p.cs),
segn AS (
  SELECT level, x1, y1, x2, y2,
         ((li + 512) * 67108864 + CAST(floor(x1 * 10000.0 + 0.5) AS BIGINT)) * 67108864
           + CAST(floor(y1 * 10000.0 + 0.5) AS BIGINT) AS ka,
         ((li + 512) * 67108864 + CAST(floor(x2 * 10000.0 + 0.5) AS BIGINT)) * 67108864
           + CAST(floor(y2 * 10000.0 + 0.5) AS BIGINT) AS kb
  FROM seg0),
segf AS (SELECT * FROM segn WHERE ka <> kb),
nodes AS (SELECT DISTINCT ka AS id FROM segf UNION SELECT DISTINCT kb FROM segf),
ed AS (SELECT ka AS a, kb AS b FROM segf UNION SELECT kb, ka FROM segf),
reach(node, label) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT ed.b, reach.label FROM reach JOIN ed ON ed.a = reach.node
  WHERE reach.label < ed.b),
comp AS (SELECT node, min(label) AS component FROM reach GROUP BY node),
degs AS (
  SELECT node, count(*) AS deg FROM (
    SELECT ka AS node FROM segf UNION ALL SELECT kb FROM segf) GROUP BY node),
open_ends AS (
  SELECT c.component, count(*) AS n_open
  FROM degs d JOIN comp c ON c.node = d.node WHERE d.deg = 1
  GROUP BY c.component),
lines AS (
  SELECT s.level, c.component, count(*)::BIGINT AS n_segments,
         round(sum(sqrt((x2-x1)*(x2-x1) + (y2-y1)*(y2-y1))), 4) AS length
  FROM segf s JOIN comp c ON c.node = s.ka
  GROUP BY s.level, c.component)
SELECT l.level, l.component AS line_id, l.n_segments, l.length,
       coalesce(o.n_open, 0) = 0 AS closed
FROM lines l LEFT JOIN open_ends o ON o.component = l.component
"""


# --------------------------------------------------------------------------
# q122 — S2 NetCDF decode END-TO-END on real bytes (VERDICT r3 #6): the
# pure-Python NetCDF-3 classic reader (sources/netcdf3.py) decodes a
# checked-in CDF-1 granule inside mapInPandas with the quality-mask
# predicate pushed into the kernel (odin_gdal/src/lib.rs:431-472 masked
# read). The fixture's values are pure-arithmetic ((x*37+y*23)%97)*0.25
# - 10 — exactly representable doubles — so the oracle REGENERATES the
# grid from the formula and never touches the file: equality holds IFF
# header parse, big-endian row-major layout, dtype decode and mask
# filtering are all byte-correct. Flips S2 from stubbed to real.
# --------------------------------------------------------------------------

def q122_netcdf_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    import odin_rs_spark
    from odin_rs_spark.sources.netcdf3 import netcdf_grid_cells

    fixture = _os.path.join(
        _os.path.dirname(_os.path.abspath(odin_rs_spark.__file__)),
        "sources",
        "fixtures",
        "grid_cdf1.nc",
    )
    files = spark.read.format("binaryFile").load(fixture)
    cells = netcdf_grid_cells(
        files, "speed", mask_var="quality", mask_min=2.0
    )
    return cells.groupBy((F.col("x") % 4).alias("xb")).agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.round(F.sum("value"), 6).alias("sum_speed"),
        F.round(F.avg("mask"), 6).alias("avg_quality"),
        F.round(F.min("value"), 6).alias("min_speed"),
        F.round(F.max("value"), 6).alias("max_speed"),
    )


Q122_SQL = """
WITH g AS (SELECT xx.range AS x, yy.range AS y
           FROM range(16) xx, range(12) yy),
c AS (SELECT x, y,
             ((x * 37 + y * 23) % 97) * 0.25 - 10.0 AS value,
             ((x * 7 + y * 11) % 5)::DOUBLE AS mask
      FROM g)
SELECT (x % 4)::INT AS xb, count(*)::BIGINT AS n_cells,
       round(sum(value), 6) AS sum_speed,
       round(avg(mask), 6) AS avg_quality,
       round(min(value), 6) AS min_speed,
       round(max(value), 6) AS max_speed
FROM c WHERE mask >= 2.0 GROUP BY xb
"""


# --------------------------------------------------------------------------
# q123 — segment-level dedup as a LIVE pipeline (VERDICT r3 stretch #8):
# q92's CCNet line-dedup run incrementally in foreachBatch against a
# persistent segment-hash store — the streaming twin a production
# training-corpus ingest runs. Documents replay in 4 doc_id-ordered
# chunks; a segment instance is duplicate iff its hash was seen in a
# strictly earlier batch (store folds in new hashes between batches,
# O(batch) appends only). The oracle replays batch assignment (ntile)
# and the first-seen-batch rule exactly.
# --------------------------------------------------------------------------

@_scratch_query
def q123_stream_segment_dedup(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    from odin_rs_spark.streaming.pipelines import (
        incremental_segment_dedup_sink,
        run_available_now,
    )
    from odin_rs_spark.streaming.sources import replay_stream, split_for_replay

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    split_for_replay(docs, root + "/chunks", n_chunks=4, order_col="doc_id")
    stream = replay_stream(spark, root + "/chunks", docs.schema, 1)
    sink = incremental_segment_dedup_sink(
        root + "/store",
        root + "/stats",
        seg_words=10,
        extra_cols=("source",),
    )
    with _stream_state_parallelism(spark, 8):
        run_available_now(stream, sink, root + "/ckpt", output_mode="append")
    stats = spark.read.parquet(root + "/stats").withColumn(
        "__ratio", F.col("n_dup_segs") / F.col("n_segs").cast("double")
    )
    out = stats.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_segs").cast("bigint").alias("n_segs"),
        F.sum("n_dup_segs").cast("bigint").alias("n_dup_segs"),
        F.round(F.avg("__ratio"), 6).alias("avg_dup_ratio"),
        F.sum(F.when(F.col("__ratio") > 0.5, 1).otherwise(0))
        .cast("bigint")
        .alias("n_flagged"),
    )
    return out


Q123_SQL = rf"""
WITH d AS (
  SELECT doc_id, source,
         string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w,
         ntile(4) OVER (ORDER BY doc_id) AS batch
  FROM documents),
seg AS (
  SELECT doc_id, source, batch,
         {_H60.format(x="array_to_string(list_slice(w, s * 10 + 1, s * 10 + 10), ' ')")} AS h
  FROM (SELECT doc_id, source, batch, w,
               unnest(range(0, (len(w) + 9) // 10)) AS s
        FROM d)),
firstb AS (SELECT h, min(batch) AS mb FROM seg GROUP BY h),
per_doc AS (
  SELECT seg.doc_id, seg.source,
         count(*) AS n_segs,
         sum(CASE WHEN fb.mb < seg.batch THEN 1 ELSE 0 END) AS n_dup
  FROM seg JOIN firstb fb USING (h)
  GROUP BY seg.doc_id, seg.source)
SELECT source, count(*)::BIGINT AS n_docs,
       sum(n_segs)::BIGINT AS n_segs,
       sum(n_dup)::BIGINT AS n_dup_segs,
       round(avg(n_dup / n_segs::DOUBLE), 6) AS avg_dup_ratio,
       sum(CASE WHEN n_dup / n_segs::DOUBLE > 0.5 THEN 1 ELSE 0 END)::BIGINT AS n_flagged
FROM per_doc GROUP BY source
"""


# --------------------------------------------------------------------------
# q124 — R9 image decode + perceptual dedup on REAL bytes: executors
# ENCODE formula-pixel PNGs (sources/imagecodec.encode_png, cycling all
# five scanline filters), `image_pixel_stats` DECODES them (zlib
# inflate, CRC check, unfilter) and computes integer-exact mean luma +
# 64-bit dHash, and near-dup groups collapse on the hash. The oracle
# never sees a byte: it regenerates pixels from the formula, replays
# the floor-index 9x8 resample and the bit packing (HUGEINT shift with
# signed-64 reinterpretation). Equality holds IFF the whole
# encode→decode→resample→hash path is bit-correct — R9's decode seam
# made real, the q122 move applied to images.
# --------------------------------------------------------------------------

def _formula_png_media(spark: SparkSession, n: int):
    """Shared q124/q128 fixture generator: n formula-pixel PNGs encoded
    IN EXECUTORS (cycling all five scanline filters). The pixel formula
    (seed = id %% 40; a = seed %% 7, b = seed %% 5 + 1, m = (seed*13) %% 256;
    p[j,i] = (m + i*a + j*b) %% 256 on a 32x24 grid) is the single
    definition both queries' oracles replay — keep the img/par CTEs of
    Q124_SQL and Q128_SQL in sync with THIS function."""

    def one(mid: int) -> bytes:
        import numpy as np

        from odin_rs_spark.sources.imagecodec import encode_png

        seed = mid % 40
        a_, b_, m_ = seed % 7, seed % 5 + 1, (seed * 13) % 256
        jj, ii = np.mgrid[0:24, 0:32]
        arr = ((m_ + ii * a_ + jj * b_) % 256).astype(np.uint8)
        return encode_png(arr, filter_mode="cycle")

    return _executor_blobs(spark, n, content=one).select(
        F.col("id").alias("media_id"), "content"
    )


def q124_image_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.operators.multimodal import (
        image_near_dup_groups,
        image_pixel_stats,
    )

    media = _formula_png_media(spark, 200)
    stats = image_pixel_stats(media)
    return image_near_dup_groups(stats)


Q124_SQL = """
WITH img AS (
  SELECT r.range AS media_id, (r.range % 40) AS seed FROM range(200) r),
par AS (
  SELECT media_id, seed % 7 AS a, seed % 5 + 1 AS b, (seed * 13) % 256 AS m
  FROM img),
px AS (  -- full 24x32 grid for the exact mean luma
  SELECT media_id,
         avg(((m + x * a + y * b) % 256)::DOUBLE) AS mean_luma
  FROM par, range(32) xs(x), range(24) ys(y)
  GROUP BY media_id),
samp AS (  -- 9x8 nearest-neighbor samples: src = (dst * src_len) // dst_len
  SELECT media_id, i, j,
         ((m + ((i * 32) // 9) * a + ((j * 24) // 8) * b) % 256) AS p
  FROM par, range(9) ii(i), range(8) jj(j)),
bits AS (
  SELECT s1.media_id, s1.j, s1.i,
         CASE WHEN s1.p > s2.p THEN 1 ELSE 0 END AS bit
  FROM samp s1 JOIN samp s2
    ON s1.media_id = s2.media_id AND s1.j = s2.j AND s2.i = s1.i + 1
  WHERE s1.i < 8),
hash_u AS (
  SELECT media_id,
         sum(bit::HUGEINT * (1::HUGEINT << (j * 8 + i))) AS h
  FROM bits GROUP BY media_id),
hash_s AS (
  SELECT media_id,
         (CASE WHEN h >= 9223372036854775808::HUGEINT
               THEN h - 18446744073709551616::HUGEINT ELSE h END)::BIGINT AS dhash
  FROM hash_u)
SELECT hs.dhash, count(*)::BIGINT AS n_images,
       min(hs.media_id) AS keeper_id,
       round(avg(px.mean_luma), 6) AS avg_luma
FROM hash_s hs JOIN px ON px.media_id = hs.media_id
GROUP BY hs.dhash
"""


# --------------------------------------------------------------------------
# q125 — MLP classify kernel (the ONNX seam made real, functions/mlp.py;
# odin_onnx/src/lib.rs:47-150 predict_batch). A 64→8(ReLU)→3 network
# with dyadic-rational weights classifies the embeddings table inside a
# vectorized pandas UDF; inputs quantize to 1/16 steps so EVERY product
# and sum in the forward pass is exact in doubles — the oracle replays
# the entire network in SQL with exact equality (no fp tolerance), and
# argmax/margin cannot flip on a summation-order ulp. The ONNX
# file-format/runtime remains the one documented swap point.
# --------------------------------------------------------------------------

def q125_mlp_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.functions.mlp import classify_embeddings

    emb = _t(spark, sf_dir, "embeddings")
    scored = classify_embeddings(emb)
    return scored.groupBy("label", "pred").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("margin"), 6).alias("avg_margin"),
        F.round(F.min("margin"), 6).alias("min_margin"),
        F.round(F.max("margin"), 6).alias("max_margin"),
    )


def _mlp_sql_stages(in_dim: int, carry: str, src: str, elem: str) -> str:
    """xq/hid/lg/cls oracle CTE stages replaying the
    functions.mlp.formula_weights forward pass (quantize → hidden ReLU →
    logits → argmax/margin). ONE definition serves every MLP query
    (q125 on embeddings, q128 on tile features): `carry` = carried
    columns, `src` = input CTE/table, `elem` = per-element SQL for the
    raw input vector (uses `i`, 1-indexed). Weight formulas here and in
    functions/mlp.py:formula_weights must stay in sync — this helper
    exists so they only need syncing in ONE SQL place."""
    d1 = in_dim + 1
    return f"""xq AS (
  SELECT {carry},
         list_transform(range(1, {d1}), i -> floor(({elem}) * 16.0 + 0.5) / 16.0) AS x
  FROM {src}),
hid AS (
  SELECT {carry},
         list_transform(range(0, 8), k -> greatest(0.0,
           (k % 5 - 2) / 16.0 +
           list_sum(list_transform(range(1, {d1}),
             i -> x[i] * ((((i - 1) * 7 + k * 11) % 13 - 6) / 16.0))))) AS h
  FROM xq),
lg AS (
  SELECT {carry},
         list_transform(range(0, 3), c ->
           ((c * 7) % 3 - 1) / 16.0 +
           list_sum(list_transform(range(0, 8),
             k -> h[k + 1] * (((k * 5 + c * 3) % 11 - 5) / 16.0)))) AS l
  FROM hid),
cls AS (
  SELECT {carry},
         CASE WHEN l[1] >= l[2] AND l[1] >= l[3] THEN 0
              WHEN l[2] >= l[3] THEN 1 ELSE 2 END AS pred,
         greatest(l[1], l[2], l[3])
           - (l[1] + l[2] + l[3]
              - greatest(l[1], l[2], l[3])
              - least(l[1], l[2], l[3])) AS margin
  FROM lg)"""


Q125_SQL = "WITH " + _mlp_sql_stages(
    64, carry="label", src="embeddings", elem="embedding[i]::DOUBLE"
) + """
SELECT label, pred::INT AS pred, count(*)::BIGINT AS n,
       round(avg(margin), 6) AS avg_margin,
       round(min(margin), 6) AS min_margin,
       round(max(margin), 6) AS max_margin
FROM cls GROUP BY label, pred
"""


# --------------------------------------------------------------------------
# q126 — S11 GRIB2 decode END-TO-END on real bytes (the q122 move for
# forecast granules; odin_hrrr/src/lib.rs:262-307): the pure-Python
# simple-packing reader (sources/grib2.py) parses a checked-in GRIB2
# message — section framing, template 3.0 lat/lon axes (sign-magnitude
# microdegrees), template 5.0 bit-packed values (R=0.5, E=-2: every
# decoded value is exact dyadic) — inside mapInPandas with the value
# predicate in-kernel. The oracle regenerates grid + axes from the
# formula and never touches the file. The byte-range FETCH of S11 stays
# scoped out per SURVEY §7.3; this closes the decode half.
# --------------------------------------------------------------------------

def q126_grib2_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    import odin_rs_spark
    from odin_rs_spark.sources.grib2 import grib2_grid_cells

    fixture = _os.path.join(
        _os.path.dirname(_os.path.abspath(odin_rs_spark.__file__)),
        "sources",
        "fixtures",
        "wind_t50.grib2",
    )
    files = spark.read.format("binaryFile").load(fixture)
    cells = grib2_grid_cells(files, value_min=5.0)
    return cells.groupBy(F.floor("lat").cast("int").alias("lat_band")).agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.round(F.sum("value"), 6).alias("sum_value"),
        F.round(F.min("lon"), 6).alias("min_lon"),
        F.round(F.max("lon"), 6).alias("max_lon"),
    )


Q126_SQL = """
WITH g AS (SELECT xs.range AS i, ys.range AS j
           FROM range(24) xs, range(20) ys),
c AS (SELECT ((i * 5 + j * 3) % 50) * 0.25 + 0.5 AS value,
             30.0 + j * 0.125 AS lat, -100.0 + i * 0.25 AS lon
      FROM g)
SELECT floor(lat)::INT AS lat_band, count(*)::BIGINT AS n_cells,
       round(sum(value), 6) AS sum_value,
       round(min(lon), 6) AS min_lon,
       round(max(lon), 6) AS max_lon
FROM c WHERE value >= 5.0 GROUP BY lat_band
"""


# --------------------------------------------------------------------------
# q127 — iterative graph authority (integer PageRank) over the user
# co-activity graph: the link-based quality signal a web-scale
# pretraining pipeline computes over its document graph, here over
# users sharing (event_type, hour) activity. PageRank restated as EXACT
# integer mass diffusion (share = (mass//2)//deg, remainder retained,
# total conserved), so the oracle unrolls all 6 iterations in SQL and
# matches bit-for-bit — the iterative-join family (beyond CC) proven
# with zero fp tolerance (6 unrolled SQL stages, MATERIALIZED to stop
# DuckDB's CTE inlining from going exponential).
# --------------------------------------------------------------------------

def _cohort_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOUNDED edge generation (VERDICT r4/r5, shared by q127/q258):
    connect each user to its next K=3 neighbors in user_id order
    within each (event_type, hour) cohort via a rank + offset
    equi-join — O(n·K) edges total, never the group-quadratic
    all-pairs self-join (a single hot cohort of 10^5 users would
    otherwise emit 10^10 pairs). The offset table is 3 rows,
    broadcast."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("hb"),
    )
    wr = Window.partitionBy("event_type", "hb").orderBy("user_id")
    # partition-local dedup: under the window's sort every duplicate of
    # (user, cohort) is adjacent, so keeping first-of-run replaces the
    # former .distinct() without its extra Exchange; the surviving
    # sequence is strictly increasing in user_id per cohort
    dedup = (
        ev.withColumn("__prev", F.lag("user_id").over(wr))
        .where(F.col("__prev").isNull() | (F.col("__prev") != F.col("user_id")))
        .drop("__prev")
    )
    # next-K neighbors via lead() on the SAME window spec (no re-sort, no
    # re-shuffle): equivalent to the former rank + offset equi-join,
    # which re-executed the whole distinct+window pipeline on BOTH join
    # sides (two Window subtrees in the plan) and shuffled both by
    # (event_type, hb, rk)
    nbrs = dedup.select(
        F.col("user_id").alias("src"),
        F.array(*[F.lead("user_id", k).over(wr) for k in (1, 2, 3)]).alias("__ds"),
    )
    return (
        nbrs.select("src", F.explode("__ds").alias("dst"))
        .where(F.col("dst").isNotNull())
        .distinct()
    )


def q127_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.operators.graph import integer_pagerank

    edges = _cohort_edges(spark, sf_dir)
    # 6 iterations: the exactness claim is iteration-count-independent,
    # and each round costs ~1.5 s of fixed small-stage latency here; the
    # graph is driver-small so the query scopes shuffle parallelism to
    # the GRAPH size, not the session's scan parallelism. The final
    # mass table materializes EXECUTOR-side (localCheckpoint) — never
    # collected to the driver: it is O(users).
    with _stream_state_parallelism(spark, 8):
        pr = integer_pagerank(edges, iterations=6)
        out = pr.select(F.col("node").alias("user_id"), "mass").localCheckpoint(
            eager=True
        )
    return out


def _q127_sql(iterations: int = 6) -> str:
    head = """
WITH ev AS (
  SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS hb FROM events),
rk AS (
  SELECT user_id, event_type, hb,
         row_number() OVER (PARTITION BY event_type, hb ORDER BY user_id) AS rk
  FROM ev),
ed0 AS (
  SELECT DISTINCT a.user_id AS src, b.user_id AS dst
  FROM rk a JOIN rk b ON a.event_type = b.event_type AND a.hb = b.hb
  AND b.rk BETWEEN a.rk + 1 AND a.rk + 3),
e AS MATERIALIZED (SELECT src, dst FROM ed0 UNION SELECT dst, src FROM ed0),
deg AS (SELECT src AS node, count(*)::BIGINT AS d FROM e GROUP BY src),
m0 AS (SELECT node, 1000000::BIGINT AS mass FROM deg)"""
    steps = []
    for i in range(iterations):
        steps.append(f""",
s{i} AS MATERIALIZED (
  SELECT m.node, m.mass, deg.d, (m.mass // 2) // deg.d AS share
  FROM m{i} m JOIN deg ON deg.node = m.node),
m{i + 1} AS MATERIALIZED (
  SELECT s.node,
         (s.mass - s.share * s.d + coalesce(inf.t, 0))::BIGINT AS mass
  FROM s{i} s LEFT JOIN (
    SELECT e.dst AS node, sum(s2.share)::BIGINT AS t
    FROM s{i} s2 JOIN e ON e.src = s2.node GROUP BY e.dst) inf
  ON inf.node = s.node)""")
    return head + "".join(steps) + f"""
SELECT node AS user_id, mass FROM m{iterations}
"""


# --------------------------------------------------------------------------
# q128 — the full odin_onnx inference pipeline on REAL pixels: encode
# formula PNGs → decode → pixel-tile fan-out (image_tile_stats — the
# mosaic tiling strategy on actual crops, odin_onnx's tile stage) →
# per-tile feature vector → MLP classify (functions/mlp.py) → per-tile
# class histogram. Every stage is exact arithmetic (integer tile
# boundaries, exact mean luma, dyadic features and weights), so the
# oracle replays encode-less: formula pixels → tile means → the same
# 4→8→3 network — bit-for-bit, no tolerance.
# --------------------------------------------------------------------------

def q128_tile_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.functions.mlp import formula_weights, mlp_classify
    from odin_rs_spark.operators.multimodal import image_tile_stats

    media = _formula_png_media(spark, 120)
    tiles = image_tile_stats(media, nx=2, ny=2)
    feats = tiles.withColumn(
        "__f",
        F.array(
            F.col("mean_luma") / 32.0,
            (F.col("tile_x") + 1) / F.lit(2.0),
            (F.col("tile_y") + 1) / F.lit(2.0),
            (F.col("n_px") % 13) / F.lit(4.0),
        ),
    )
    w = formula_weights(in_dim=4, hidden=8, out=3)
    scored = feats.withColumn("__cls", mlp_classify("__f", w))
    return scored.groupBy(
        "tile_x", "tile_y", F.col("__cls.pred").alias("pred")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("__cls.margin"), 6).alias("avg_margin"),
    )


Q128_SQL = """
WITH img AS (
  SELECT r.range AS media_id, (r.range % 40) AS seed FROM range(120) r),
par AS (
  SELECT media_id, seed % 7 AS a, seed % 5 + 1 AS b, (seed * 13) % 256 AS m
  FROM img),
tl AS (
  SELECT media_id, a, b, m, txs.range AS tile_x, tys.range AS tile_y
  FROM par, range(2) txs, range(2) tys),
px AS (
  SELECT t.media_id, t.tile_x, t.tile_y,
         count(*)::BIGINT AS n_px,
         avg(((t.m + xs.range * t.a + ys.range * t.b) % 256)::DOUBLE) AS mean_luma
  FROM tl t, range(32) xs, range(24) ys
  WHERE xs.range >= t.tile_x * 32 // 2 AND xs.range < (t.tile_x + 1) * 32 // 2
    AND ys.range >= t.tile_y * 24 // 2 AND ys.range < (t.tile_y + 1) * 24 // 2
  GROUP BY t.media_id, t.tile_x, t.tile_y),
ft AS (
  SELECT media_id, tile_x, tile_y,
         [mean_luma / 32.0, (tile_x + 1) / 2.0, (tile_y + 1) / 2.0,
          (n_px % 13) / 4.0] AS f
  FROM px),
""" + _mlp_sql_stages(4, carry="tile_x, tile_y", src="ft", elem="f[i]") + """
SELECT tile_x::INT AS tile_x, tile_y::INT AS tile_y, pred::INT AS pred,
       count(*)::BIGINT AS n, round(avg(margin), 6) AS avg_margin
FROM cls GROUP BY tile_x, tile_y, pred
"""


# --------------------------------------------------------------------------
# q129 — GRIB2 COMPLEX packing decode (VERDICT r4 #1): the checked-in
# fixture is template 5.3 (general group splitting + second-order
# spatial differencing) — the encoding real HRRR granules actually
# carry (odin_hrrr/src/lib.rs:262-307), not the 5.0 minority path q126
# covers. The decode is pure bit-twiddling (sources/grib2.py
# _unpack_complex): sign-magnitude extra descriptors, octet-aligned
# group refs/widths/lengths, per-width vectorized deviation unpack,
# inverse differencing as two cumsums. The oracle replays the cell
# values from the generating formula — integer-exact under E=-2 — so a
# single mis-decoded group reference or difference shifts sums and
# fails the hash. A hand-packed spec-level byte fixture (not writer
# round-trip) pins the wire format in tests/test_grib2.py.
# --------------------------------------------------------------------------

def q129_grib2_complex_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    import odin_rs_spark
    from odin_rs_spark.sources.grib2 import grib2_grid_cells

    fixture = _os.path.join(
        _os.path.dirname(_os.path.abspath(odin_rs_spark.__file__)),
        "sources",
        "fixtures",
        "wind_complex.grib2",
    )
    files = spark.read.format("binaryFile").load(fixture)
    cells = grib2_grid_cells(files, value_min=4.0)
    return cells.groupBy(F.floor("lon").cast("int").alias("lon_band")).agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.round(F.sum("value"), 6).alias("sum_value"),
        F.round(F.min("lat"), 6).alias("min_lat"),
        F.round(F.max("lat"), 6).alias("max_lat"),
    )


Q129_SQL = """
WITH g AS (SELECT xs.range AS i, ys.range AS j
           FROM range(30) xs, range(16) ys),
c AS (SELECT ((i * 5 + j * 3) % 50) * 0.25 + 0.5 AS value,
             35.0 + j * 0.125 AS lat, -110.0 + i * 0.25 AS lon
      FROM g)
SELECT floor(lon)::INT AS lon_band, count(*)::BIGINT AS n_cells,
       round(sum(value), 6) AS sum_value,
       round(min(lat), 6) AS min_lat,
       round(max(lat), 6) AS max_lat
FROM c WHERE value >= 4.0 GROUP BY lon_band
"""


# --------------------------------------------------------------------------
# q130 — ONNX FILE loading closes §2.12's last seam (VERDICT r5 #3;
# odin_onnx/src/lib.rs:47-150 load→forward): the classifier weights
# now come out of a checked-in .onnx fixture parsed by the stdlib
# protobuf wire decoder (functions/onnx.py — varint/length-delimited
# field walk, TensorProto raw_data → numpy), not a formula closure.
# The fixture stores formula_weights() as float32 raw_data — dyadic
# k/16 values, so the file round-trip is bit-exact and the oracle
# replays the identical forward pass from the weight formula with
# zero tolerance (the q125 determinism contract, now through a real
# model file). Byte-level wire-format pins live in tests/test_onnx.py.
# --------------------------------------------------------------------------

def q130_onnx_file_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    import odin_rs_spark
    from odin_rs_spark.functions.mlp import classify_embeddings
    from odin_rs_spark.functions.onnx import load_onnx_mlp

    fixture = _os.path.join(
        _os.path.dirname(_os.path.abspath(odin_rs_spark.__file__)),
        "functions",
        "fixtures",
        "mlp_64_8_3.onnx",
    )
    weights = load_onnx_mlp(fixture)  # driver-side: a classifier head is KBs
    emb = _t(spark, sf_dir, "embeddings")
    scored = classify_embeddings(emb, weights=weights)
    return scored.groupBy("label", "pred").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("margin"), 6).alias("avg_margin"),
        F.round(F.min("margin"), 6).alias("min_margin"),
        F.round(F.max("margin"), 6).alias("max_margin"),
    )


Q130_SQL = Q125_SQL


# --------------------------------------------------------------------------
# q131/q132 — R9 parity completion (VERDICT r5 #4): SSIM-style gray
# structure compare (odin_image/src/lib.rs:234-239) and grayworld
# smoke detection (odin_image/src/smoke.rs:71-106 + rgb_to_gw
# :960-1008) on REAL pixels. The before/after RGB pair formula (seed =
# media_id % 30; img1[y,x] = ((m+x·a)%200, (m+y·b)%200, (m+x+y)%200);
# img2 blends tiles with (tx+ty)%4==0 toward gray 235: c2=(c+470)//3)
# is the single definition the oracles replay; thresholds sit far from
# every tile's measured diff (smoke tiles: g_diff ≥ 0.0101, w_diff ≥
# 0.1363; non-smoke: exactly 0), so transcendental acos ulps cannot
# flip membership. SSIM windows are 64-pixel blocks → dyadic moments →
# the fixed-association SSIM expression matches DuckDB bit-for-bit
# (verified: 360/360 windows, 90/90 smoke tiles exact).
# --------------------------------------------------------------------------

def _formula_rgb_pair_media(spark: SparkSession, n: int):
    """Before/after RGB PNG pairs encoded IN EXECUTORS — the q124
    pattern for the pairwise comparators. Keep the px/pr CTEs of
    Q131_SQL/Q132_SQL in sync with THIS formula."""

    def one(mid: int, after: bool) -> bytes:
        import numpy as np

        from odin_rs_spark.sources.imagecodec import encode_png

        seed = mid % 30
        a_, b_, m_ = seed % 5 + 1, seed % 3 + 1, (seed * 17) % 200
        jj, ii = np.mgrid[0:24, 0:32]
        r = (m_ + ii * a_) % 200
        g = (m_ + jj * b_) % 200
        b = (m_ + ii + jj) % 200
        img = np.stack([r, g, b], axis=-1).astype(np.uint8)
        if after:
            smoke = ((ii // 8) + (jj // 8)) % 4 == 0
            img = np.where(
                smoke[..., None], (img.astype(np.int32) + 470) // 3, img
            ).astype(np.uint8)
        return encode_png(img, filter_mode="cycle")

    return _executor_blobs(
        spark,
        n,
        content_a=lambda mid: one(mid, after=False),
        content_b=lambda mid: one(mid, after=True),
    ).select(F.col("id").alias("media_id"), "content_a", "content_b")


def q131_image_structure_ssim(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.operators.multimodal import image_structure_compare

    pairs = _formula_rgb_pair_media(spark, 30)
    wins = image_structure_compare(pairs, win=8)
    return wins.select(
        "media_id", "win_x", "win_y", F.round("ssim", 6).alias("ssim")
    )


Q131_SQL = """
WITH par AS (
  SELECT r.range AS media_id, (r.range % 30) AS seed FROM range(30) r),
pp AS (
  SELECT media_id, seed % 5 + 1 AS a, seed % 3 + 1 AS b, (seed * 17) % 200 AS m FROM par),
px AS (
  SELECT media_id, x, y,
         (m + x * a) % 200 AS r, (m + y * b) % 200 AS g, (m + x + y) % 200 AS bl,
         ((x // 8) + (y // 8)) % 4 = 0 AS smoke
  FROM pp, range(32) xs(x), range(24) ys(y)),
lum AS (
  SELECT media_id, x // 8 AS win_x, y // 8 AS win_y,
         (r + 2*g + bl) // 4 AS l1,
         (CASE WHEN smoke THEN (r + 470) // 3 ELSE r END
          + 2 * (CASE WHEN smoke THEN (g + 470) // 3 ELSE g END)
          + (CASE WHEN smoke THEN (bl + 470) // 3 ELSE bl END)) // 4 AS l2
  FROM px),
mom AS (
  SELECT media_id, win_x, win_y,
         sum(l1)::DOUBLE / 64 AS mx, sum(l2)::DOUBLE / 64 AS my,
         sum(l1*l1)::DOUBLE / 64 AS sxx, sum(l2*l2)::DOUBLE / 64 AS syy,
         sum(l1*l2)::DOUBLE / 64 AS sxy
  FROM lum GROUP BY media_id, win_x, win_y)
SELECT media_id, win_x::INT AS win_x, win_y::INT AS win_y,
       round(((2.0 * mx * my + 6.5025) * (2.0 * (sxy - mx * my) + 58.5225))
             / ((mx * mx + my * my + 6.5025)
                * ((sxx - mx * mx) + (syy - my * my) + 58.5225)), 6) AS ssim
FROM mom
"""


def q132_smoke_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.operators.multimodal import grayworld_smoke_diff

    pairs = _formula_rgb_pair_media(spark, 30)
    out = grayworld_smoke_diff(
        pairs, tile_w=8, tile_h=8, min_g_diff=0.005, min_w_diff=0.05
    )
    return out.select(
        "media_id",
        "tile_x",
        "tile_y",
        "x",
        "y",
        "width",
        "height",
        F.round("g_diff", 6).alias("g_diff"),
        F.round("w_diff", 6).alias("w_diff"),
    )


Q132_SQL = """
WITH par AS (
  SELECT r.range AS media_id, (r.range % 30) AS seed FROM range(30) r),
pp AS (
  SELECT media_id, seed % 5 + 1 AS a, seed % 3 + 1 AS b, (seed * 17) % 200 AS m FROM par),
px AS (
  SELECT media_id, x, y,
         (m + x * a) % 200 AS r, (m + y * b) % 200 AS g, (m + x + y) % 200 AS bl,
         ((x // 8) + (y // 8)) % 4 = 0 AS smoke
  FROM pp, range(32) xs(x), range(24) ys(y)),
pr AS (
  SELECT media_id, x, y, r AS r1, g AS g1, bl AS b1,
         CASE WHEN smoke THEN (r + 470) // 3 ELSE r END AS r2,
         CASE WHEN smoke THEN (g + 470) // 3 ELSE g END AS g2,
         CASE WHEN smoke THEN (bl + 470) // 3 ELSE bl END AS b2
  FROM px),
gw AS (
  SELECT media_id, x // 8 AS tile_x, y // 8 AS tile_y,
    CASE WHEN r1+g1+b1 = 0 THEN 1.0
         ELSE 1.0 - acos(least(1.0, 255.0*(r1+g1+b1)
              / (sqrt(r1*r1+g1*g1+b1*b1) * 441.6729559300637))) / 0.9553166181245093 END AS gr1,
    CASE WHEN r1+g1+b1 = 0 THEN 0.0 ELSE (r1+g1+b1) / 765.0 END AS wh1,
    CASE WHEN r2+g2+b2 = 0 THEN 1.0
         ELSE 1.0 - acos(least(1.0, 255.0*(r2+g2+b2)
              / (sqrt(r2*r2+g2*g2+b2*b2) * 441.6729559300637))) / 0.9553166181245093 END AS gr2,
    CASE WHEN r2+g2+b2 = 0 THEN 0.0 ELSE (r2+g2+b2) / 765.0 END AS wh2
  FROM pr),
tiles AS (
  SELECT media_id, tile_x, tile_y,
         sum(gr2)/64 - sum(gr1)/64 AS g_diff,
         sum(wh2)/64 - sum(wh1)/64 AS w_diff
  FROM gw GROUP BY media_id, tile_x, tile_y)
SELECT media_id, tile_x::INT AS tile_x, tile_y::INT AS tile_y,
       (tile_x * 8)::INT AS x, (tile_y * 8)::INT AS y,
       8::INT AS width, 8::INT AS height,
       round(g_diff, 6) AS g_diff, round(w_diff, 6) AS w_diff
FROM tiles WHERE w_diff >= 0.05 AND g_diff >= 0.005
"""


# --------------------------------------------------------------------------
# q133 — R7 DEM tiling as CHECKED BEHAVIOR (VERDICT r5 #5; parity:
# odin_dem/src/lib.rs:137-258 get_dem_heights over a VRT tileset +
# odin_gdal/src/lib.rs:578-624): a 2x2-tile DEM store is WRITTEN as a
# (tx, ty)-partitioned parquet layout (each tile its own partition
# directory — the lakehouse twin of the reference's per-tile files
# under a VRT), then height samples are taken at formula (lon, lat)
# positions whose cells span all four tiles AND the tile boundaries,
# via the quantized-coord equi-join (floor to cell ix/iy, derive tile
# tx/ty, join the store). The oracle replays heights from the DEM
# formula directly — a single mis-assigned tile or off-by-one at the
# ix=100 boundary shifts heights and fails the hash. Partition pruning
# on the layout is pinned in tests/test_plan_quality.py.
# --------------------------------------------------------------------------

@_scratch_query
def q133_dem_tile_heights(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    # DEM: 200x200 cells at 0.01 deg over lon [-110,-108) lat [35,37),
    # h = ((ix*13 + iy*7) % 500) * 0.25 (exact dyadic); tile = 100x100
    cells = spark.range(200 * 200).select(
        (F.col("id") % 200).alias("ix"), (F.col("id") / 200).cast("long").alias("iy")
    )
    cells = cells.select(
        "ix",
        "iy",
        (((F.col("ix") * 13 + F.col("iy") * 7) % 500) * 0.25).alias("height"),
        (F.col("ix") / 100).cast("int").alias("tx"),
        (F.col("iy") / 100).cast("int").alias("ty"),
    )
    cells.write.mode("overwrite").partitionBy("tx", "ty").parquet(root)
    store = spark.read.parquet(root)

    # sample points at cell centers (+0.005 keeps floor() away from
    # the cell edge in both engines); ix = k*37 % 200 and iy =
    # k*53 % 200 sweep every tile and cross the ix/iy = 100 seams
    pts = spark.range(120).select(
        F.col("id").alias("pt_id"),
        (F.lit(-110.0) + (F.col("id") * 37 % 200) * 0.01 + 0.005).alias("lon"),
        (F.lit(35.0) + (F.col("id") * 53 % 200) * 0.01 + 0.005).alias("lat"),
    )
    q = (
        pts.withColumn("ix", F.floor((F.col("lon") + 110.0) / 0.01))
        .withColumn("iy", F.floor((F.col("lat") - 35.0) / 0.01))
        .withColumn("tx", (F.col("ix") / 100).cast("int"))
        .withColumn("ty", (F.col("iy") / 100).cast("int"))
    )
    joined = F.broadcast(q).join(store, ["tx", "ty", "ix", "iy"], "inner")
    out = joined.select(
        "pt_id",
        F.round("lon", 6).alias("lon"),
        F.round("lat", 6).alias("lat"),
        "height",
    )
    return out


Q133_SQL = """
SELECT k AS pt_id,
       round(-110.0 + (k * 37 % 200)::DOUBLE * 0.01 + 0.005, 6) AS lon,
       round(35.0 + (k * 53 % 200)::DOUBLE * 0.01 + 0.005, 6) AS lat,
       ((((k * 37 % 200) * 13 + (k * 53 % 200) * 7) % 500)::DOUBLE) * 0.25 AS height
FROM range(120) t(k)
"""


# --------------------------------------------------------------------------
# q134 — histogram EQUALIZATION on real pixels (R9; parity:
# compute_lut + equalize, odin_image/src/lib.rs:165-213): decode the
# formula PNGs, per-image 256-bin luma histogram → cdf → the
# reference's LUT ((cdf-cdf_min)/(n-cdf_min)*255, half-away rounding,
# cdf_min = first nonzero cdf), and emit the equalized plane's exact
# stats. Everything is integer arithmetic except the one LUT division,
# so the oracle replays the whole transform from formula pixels with
# zero tolerance.
# --------------------------------------------------------------------------

def q134_hist_equalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.operators.multimodal import image_equalize_stats

    media = _formula_png_media(spark, 200)
    out = image_equalize_stats(media)
    return out.select(
        "media_id",
        "cdf_min",
        F.round("eq_mean", 6).alias("eq_mean"),
        "eq_min",
        "eq_max",
    )


Q134_SQL = """
WITH img AS (
  SELECT r.range AS media_id, (r.range % 40) AS seed FROM range(200) r),
par AS (
  SELECT media_id, seed % 7 AS a, seed % 5 + 1 AS b, (seed * 13) % 256 AS m
  FROM img),
px AS (
  SELECT media_id, ((m + x * a + y * b) % 256) AS p
  FROM par, range(32) xs(x), range(24) ys(y)),
hist AS (
  SELECT media_id, p, count(*)::BIGINT AS cnt FROM px GROUP BY media_id, p),
cdf AS (
  SELECT media_id, p, cnt,
         sum(cnt) OVER (PARTITION BY media_id ORDER BY p) AS cdf
  FROM hist),
cm AS (
  SELECT media_id, min(cdf)::BIGINT AS cdf_min FROM cdf WHERE cdf > 0
  GROUP BY media_id),
lut AS (
  SELECT c.media_id, c.cnt, cm.cdf_min,
         CASE WHEN 768 > cm.cdf_min
              THEN floor((c.cdf - cm.cdf_min)::DOUBLE
                         / (768 - cm.cdf_min) * 255.0 + 0.5)::BIGINT
              ELSE 0 END AS eq
  FROM cdf c JOIN cm ON c.media_id = cm.media_id)
SELECT media_id, cdf_min,
       round(sum(eq * cnt)::DOUBLE / 768, 6) AS eq_mean,
       min(eq)::INT AS eq_min, max(eq)::INT AS eq_max
FROM lut GROUP BY media_id, cdf_min
"""


# --------------------------------------------------------------------------
# q135 — REAL BPE merge training (Sennrich 2016; the learning half of
# the tokenizer whose application q112 only approximates with a fixed
# regex): start from characters over the distinct word->freq table,
# repeatedly merge the corpus-wide most-frequent adjacent symbol pair
# (ties: count DESC then lexicographic), 8 rounds. The segmentation
# string trick ('·tok··tok·', merges are literal substring replaces —
# left-to-right non-overlap IS greedy BPE order) keeps every round
# JVM-side in Spark AND exactly replayable in SQL: the oracle unrolls
# the same 8 stages MATERIALIZED (the q127 pattern). The learned table
# is real: on the synthetic corpus round 7 already produces a
# second-order merge (p + ar -> par).
# --------------------------------------------------------------------------

def q135_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return text_ops.bpe_train_merges(docs, num_merges=8)


def _q135_sql(num_merges: int = 8) -> str:
    head = """
WITH w0 AS MATERIALIZED (
  SELECT w, count(*)::BIGINT AS freq FROM (
    SELECT unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS w
    FROM documents)
  WHERE length(w) > 0 AND NOT contains(w, '·')
  GROUP BY w),
v0 AS MATERIALIZED (
  SELECT freq,
         '·' || array_to_string(list_transform(range(1, length(w) + 1), i -> w[i]), '··') || '·' AS seg
  FROM w0)"""
    stages = []
    for r in range(num_merges):
        stages.append(f""",
p{r} AS MATERIALIZED (
  SELECT l[i] AS a, l[i + 1] AS b, sum(freq)::BIGINT AS cnt
  FROM (SELECT freq, string_split(substring(seg, 2, length(seg) - 2), '··') AS l FROM v{r}),
       LATERAL unnest(range(1, len(l))) AS u(i)
  GROUP BY l[i], l[i + 1]),
t{r} AS MATERIALIZED (
  SELECT a, b, cnt FROM p{r} ORDER BY cnt DESC, a, b LIMIT 1),
v{r + 1} AS MATERIALIZED (
  SELECT freq, replace(seg, '·' || t.a || '··' || t.b || '·', '·' || t.a || t.b || '·') AS seg
  FROM v{r}, t{r} t)""")
    tail = "\nSELECT * FROM (" + "\nUNION ALL ".join(
        f"SELECT {r} AS merge_rank, a AS lhs, b AS rhs, cnt AS pair_count FROM t{r}\n"
        for r in range(num_merges)
    ) + ") WHERE pair_count >= 2"
    return head + "".join(stages) + tail


# --------------------------------------------------------------------------
# q136/q137 — REAL audio byte path (multimodal §2.12: the audio twin
# of the q124 image move): formula PCM16 WAVs are ENCODED in executors
# (sources/audiocodec — pure-stdlib RIFF writer), decoded back inside
# mapInPandas, and the sample statistics / windowed silence
# segmentation are integer-exact, so the oracles replay them from the
# sample formula without touching a byte. Sample formula (keep the
# oracle CTEs in sync): seed = media_id % 25; f = seed % 7 + 3;
# ph = (seed * 11) % 100; s[i] = ((i*f + ph) % 4001) - 2000, except
# windows with (i // 256) % 4 == 3 are muted to 0 (planted silence).
# n = 2048 samples, mono, 16 kHz.
# --------------------------------------------------------------------------

def _formula_wav_media(spark: SparkSession, n: int):
    def one(mid: int) -> bytes:
        import numpy as np

        from odin_rs_spark.sources.audiocodec import encode_wav

        seed = mid % 25
        f, ph = seed % 7 + 3, (seed * 11) % 100
        i = np.arange(2048, dtype=np.int64)
        s = ((i * f + ph) % 4001) - 2000
        s[(i // 256) % 4 == 3] = 0
        return encode_wav(s.astype(np.int16), rate=16000)

    return _executor_blobs(spark, n, content=one).select(
        F.col("id").alias("media_id"), "content"
    )


_WAV_PX_CTE = """
WITH par AS (
  SELECT r.range AS media_id, (r.range % 25) AS seed FROM range(25) r),
pp AS (
  SELECT media_id, seed % 7 + 3 AS f, (seed * 11) % 100 AS ph FROM par),
smp AS (
  SELECT media_id, i,
         CASE WHEN (i // 256) % 4 = 3 THEN 0
              ELSE ((i * f + ph) % 4001) - 2000 END AS s
  FROM pp, range(2048) ii(i))"""


def q136_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.operators.multimodal import audio_stats

    media = _formula_wav_media(spark, 25)
    out = audio_stats(media)
    return out.select(
        "media_id",
        "rate",
        "channels",
        "n_samples",
        "peak",
        F.round("mean_abs", 6).alias("mean_abs"),
        "zero_crossings",
    )


Q136_SQL = _WAV_PX_CTE + """,
nz AS (
  SELECT media_id, i, s,
         lag(s) OVER (PARTITION BY media_id ORDER BY i) AS prev
  FROM smp WHERE s != 0)
SELECT m.media_id, 16000 AS rate, 1 AS channels, 2048::BIGINT AS n_samples,
       m.peak::INT AS peak, round(m.sum_abs / 2048.0, 6) AS mean_abs,
       coalesce(z.zc, 0)::BIGINT AS zero_crossings
FROM (SELECT media_id, max(abs(s)) AS peak, sum(abs(s))::DOUBLE AS sum_abs
      FROM smp GROUP BY media_id) m
LEFT JOIN (SELECT media_id, count(*)::BIGINT AS zc FROM nz
           WHERE prev IS NOT NULL AND sign(s) != sign(prev)
           GROUP BY media_id) z
ON m.media_id = z.media_id
"""


def q137_audio_silence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.operators.multimodal import audio_silence_windows

    media = _formula_wav_media(spark, 25)
    out = audio_silence_windows(media, window=256, threshold=100.0)
    return out.select(
        "media_id", "win", F.round("mean_abs", 6).alias("mean_abs"), "is_silent"
    )


Q137_SQL = _WAV_PX_CTE + """
SELECT media_id, (i // 256)::INT AS win,
       round(sum(abs(s))::DOUBLE / 256.0, 6) AS mean_abs,
       CASE WHEN sum(abs(s))::DOUBLE / 256.0 < 100.0 THEN 1 ELSE 0 END AS is_silent
FROM smp GROUP BY media_id, i // 256
"""


# --------------------------------------------------------------------------
# q138 — GRIB2 complex packing with IN-PACKING missing values (octet
# 23 = 1 — what r5 explicitly rejected, now decoded): the fixture is
# the q129 wind field with every (i+j)%7==3 cell encoded as a primary
# missing value (all-ones group codes, difference sequence over
# present values only, all-missing groups as width-0 all-ones refs).
# The oracle replays ONLY the present cells from the formula — a
# decoder that mistakes one marker for data, or mis-scatters the
# compacted difference sequence, changes counts and sums and fails
# the hash.
# --------------------------------------------------------------------------

def q138_grib2_missing_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    import odin_rs_spark
    from odin_rs_spark.sources.grib2 import grib2_grid_cells

    fixture = _os.path.join(
        _os.path.dirname(_os.path.abspath(odin_rs_spark.__file__)),
        "sources",
        "fixtures",
        "wind_complex_missing.grib2",
    )
    files = spark.read.format("binaryFile").load(fixture)
    cells = grib2_grid_cells(files, value_min=4.0)
    return cells.groupBy(F.floor("lon").cast("int").alias("lon_band")).agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.round(F.sum("value"), 6).alias("sum_value"),
        F.round(F.min("lat"), 6).alias("min_lat"),
        F.round(F.max("lat"), 6).alias("max_lat"),
    )


Q138_SQL = """
WITH g AS (SELECT xs.range AS i, ys.range AS j
           FROM range(30) xs, range(16) ys),
c AS (SELECT ((i * 5 + j * 3) % 50) * 0.25 + 0.5 AS value,
             35.0 + j * 0.125 AS lat, -110.0 + i * 0.25 AS lon
      FROM g WHERE (i + j) % 7 != 3)
SELECT floor(lon)::INT AS lon_band, count(*)::BIGINT AS n_cells,
       round(sum(value), 6) AS sum_value,
       round(min(lat), 6) AS min_lat,
       round(max(lat), 6) AS max_lat
FROM c WHERE value >= 4.0 GROUP BY lon_band
"""


# --------------------------------------------------------------------------
# q139 — BPE ENCODE with the learned merges (train → encode, the full
# tokenizer loop): train the q135 merge table, apply it to the distinct
# vocabulary (K literal replaces, JVM-side), join word token counts
# back to the corpus words, aggregate per language. The oracle carries
# the word column through the same unrolled training stages and
# replays the encode join — so a wrong merge ORDER (BPE is
# order-sensitive) shifts token counts and fails the hash.
# --------------------------------------------------------------------------

def q139_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.functions.text import norm_text

    docs = _t(spark, sf_dir, "documents")
    merges_df = text_ops.bpe_train_merges(docs, num_merges=8)
    merges = [
        (r["lhs"], r["rhs"])
        for r in merges_df.orderBy("merge_rank").collect()  # bounded: 8 rows
    ]
    words = docs.select(
        "lang",
        F.explode(F.split(norm_text(F.col("text")), r"\s+")).alias("w"),
    ).filter((F.length("w") > 0) & (~F.col("w").contains("·")))
    vocab = text_ops.bpe_segment_words(
        words.select("w").distinct(), merges
    ).select("w", "n_tokens")
    joined = words.join(vocab, "w")
    return joined.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("n_tokens").alias("n_tokens"),
        F.round(F.avg("n_tokens"), 6).alias("avg_tokens_per_word"),
    )


def _q139_sql(num_merges: int = 8) -> str:
    head = """
WITH w0 AS MATERIALIZED (
  SELECT w, count(*)::BIGINT AS freq FROM (
    SELECT unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS w
    FROM documents)
  WHERE length(w) > 0 AND NOT contains(w, '·')
  GROUP BY w),
v0 AS MATERIALIZED (
  SELECT w, freq,
         '·' || array_to_string(list_transform(range(1, length(w) + 1), i -> w[i]), '··') || '·' AS seg
  FROM w0)"""
    stages = []
    for r in range(num_merges):
        stages.append(f""",
p{r} AS MATERIALIZED (
  SELECT l[i] AS a, l[i + 1] AS b, sum(freq)::BIGINT AS cnt
  FROM (SELECT freq, string_split(substring(seg, 2, length(seg) - 2), '··') AS l FROM v{r}),
       LATERAL unnest(range(1, len(l))) AS u(i)
  GROUP BY l[i], l[i + 1]),
t{r} AS MATERIALIZED (
  SELECT a, b, cnt FROM p{r} ORDER BY cnt DESC, a, b LIMIT 1),
v{r + 1} AS MATERIALIZED (
  SELECT w, freq, replace(seg, '·' || t.a || '··' || t.b || '·', '·' || t.a || t.b || '·') AS seg
  FROM v{r}, t{r} t)""")
    tail = f""",
enc AS MATERIALIZED (
  SELECT w, len(string_split(substring(seg, 2, length(seg) - 2), '··'))::BIGINT AS n_tok
  FROM v{num_merges}),
docw AS (
  SELECT lang, unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS w
  FROM documents),
dw AS (SELECT lang, w FROM docw WHERE length(w) > 0 AND NOT contains(w, '·'))
SELECT d.lang, count(*)::BIGINT AS n_words, sum(e.n_tok)::BIGINT AS n_tokens,
       round(avg(e.n_tok), 6) AS avg_tokens_per_word
FROM dw d JOIN enc e ON d.w = e.w
GROUP BY d.lang"""
    return head + "".join(stages) + tail


# --------------------------------------------------------------------------
# q140 — Brenner focus on real pixels (odin_image/src/lib.rs:550-567 —
# the camera-health metric): focus = sum over x of (p[y+2]-p[y])^2,
# normalized by w*(h-2). Integer-exact numerator over the decoded
# plane; the oracle replays it with a lead(2) window over the formula
# pixels. q141 — compression-based fractal dimension (lib.rs:580-608;
# Del-Pozo-Velazquez 2025 smoke texture classifier): multi-scale
# resize → DEFLATE size → log-log least-squares slope. DEFLATE is not
# SQL-expressible, so q141 is the catalog's one deliberate rows-only
# entry (the driver records the weaker check; determinism is pinned by
# tests instead).
# --------------------------------------------------------------------------

def q140_image_focus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.operators.multimodal import image_focus

    media = _formula_png_media(spark, 200)
    out = image_focus(media)
    return out.select("media_id", F.round("focus", 6).alias("focus"))


Q140_SQL = """
WITH img AS (
  SELECT r.range AS media_id, (r.range % 40) AS seed FROM range(200) r),
par AS (
  SELECT media_id, seed % 7 AS a, seed % 5 + 1 AS b, (seed * 13) % 256 AS m
  FROM img),
px AS (
  SELECT media_id, x, y, ((m + x * a + y * b) % 256) AS p
  FROM par, range(32) xs(x), range(24) ys(y)),
d AS (
  SELECT media_id, x, y, p,
         lead(p, 2) OVER (PARTITION BY media_id, x ORDER BY y) AS p2
  FROM px)
SELECT media_id,
       round(sum((p2 - p) * (p2 - p))::DOUBLE / (32 * 22), 6) AS focus
FROM d WHERE p2 IS NOT NULL GROUP BY media_id
"""


def q141_fractal_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.operators.multimodal import image_fractal_dim

    media = _formula_png_media(spark, 40)
    out = image_fractal_dim(media, s_min=0.5)
    return out.select("media_id", F.round("fractal_dim", 6).alias("fractal_dim"))


# --------------------------------------------------------------------------
# q142 — greedy k-center DIVERSITY selection (Gonzalez 1985 farthest-
# point coreset — the "pick k maximally spread exemplars" move of a
# training-data curation pipeline, complementing dedup's "drop the
# redundant"): seed = min id, then 5 rounds of max-min-distance argmax
# with min-id tie-breaks. Squared-L2 distances are computed as the
# SAME sequential element-order fold in both engines (F.aggregate ↔
# list_sum), so the per-round argmax agrees exactly; the oracle
# unrolls the 6 selection stages MATERIALIZED (q127 pattern).
# --------------------------------------------------------------------------

def q142_kcenter_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    out = sim_ops.greedy_kcenter_select(emb, k=6)
    return out.select(
        "sel_rank", "vec_id", F.round("dist", 6).alias("dist")
    )


def _q142_sql(k: int = 6, dim: int = 64) -> str:
    d2 = (
        f"list_sum(list_transform(range(1, {dim + 1}), "
        "i -> (a.v[i]::DOUBLE - c.v[i]::DOUBLE) * (a.v[i]::DOUBLE - c.v[i]::DOUBLE)))"
    )
    head = """
WITH e AS MATERIALIZED (SELECT vec_id AS id, embedding AS v FROM embeddings),
s0 AS MATERIALIZED (SELECT id, v FROM e ORDER BY id LIMIT 1),
m0 AS MATERIALIZED (
  SELECT a.id, a.v, """ + d2.replace("c.v", "s.v") + """ AS mind
  FROM e a, s0 s)"""
    stages = []
    for r in range(1, k):
        excl = " UNION ALL ".join(f"SELECT id FROM s{j}" for j in range(r))
        stages.append(f""",
s{r} AS MATERIALIZED (
  SELECT id, v, mind FROM m{r - 1}
  WHERE id NOT IN ({excl})
  ORDER BY mind DESC, id LIMIT 1),
m{r} AS MATERIALIZED (
  SELECT a.id, a.v, least(a.mind, {d2}) AS mind
  FROM m{r - 1} a, s{r} c)""")
    sel = ["SELECT 0 AS sel_rank, id AS vec_id, 0.0 AS dist FROM s0"]
    sel += [
        f"SELECT {r} AS sel_rank, id AS vec_id, round(mind, 6) AS dist FROM s{r}"
        for r in range(1, k)
    ]
    return head + "".join(stages) + "\nSELECT * FROM (" + "\nUNION ALL ".join(sel) + ")"


# --------------------------------------------------------------------------
# q143 — REAL video container walk (the video modality's byte path,
# completing the image/audio/video trio): executor-encoded AVI clips
# (sources/avicodec — RIFF hdrl/movi/idx1 layout with fake MJPG
# payloads) are index-walked WITHOUT decoding into per-frame rows
# (frame_no, size, keyframe flag, clip dims/fps). Frame sizes and
# keyframe cadence come from a formula, so the oracle replays the
# entire index; the parser cross-checks every idx1 entry against the
# movi chunk headers, so a single mis-computed offset fails the parse.
# Frame formula: seed = media_id % 20; n = 12 + seed % 5; size(f) =
# 50 + (f*13 + seed*7) % 150; keyframe every 4th; 64+seed x 48 @ 24fps.
# --------------------------------------------------------------------------

def _formula_avi_media(spark: SparkSession, n: int):
    def one(mid: int) -> bytes:
        from odin_rs_spark.sources.avicodec import encode_avi

        seed = mid % 20
        nf = 12 + seed % 5
        sizes = [50 + (f * 13 + seed * 7) % 150 for f in range(nf)]
        return encode_avi(
            sizes,
            width=64 + seed,
            height=48,
            fps=24,
            keyframe_every=4,
        )

    return _executor_blobs(spark, n, content=one).select(
        F.col("id").alias("media_id"), "content"
    )


def q143_video_frame_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.operators.multimodal import video_frame_index

    media = _formula_avi_media(spark, 20)
    out = video_frame_index(media)
    return out.select(
        "media_id", "frame_no", "size", "keyframe", "width", "height", "fps_micro"
    )


Q143_SQL = """
WITH par AS (
  SELECT r.range AS media_id, (r.range % 20) AS seed FROM range(20) r),
fr AS (
  SELECT media_id, seed, f.range AS frame_no
  FROM par, range(17) f WHERE f.range < 12 + seed % 5)
SELECT media_id, frame_no::INT AS frame_no,
       (50 + (frame_no * 13 + seed * 7) % 150)::BIGINT AS size,
       CASE WHEN frame_no % 4 = 0 THEN 1 ELSE 0 END AS keyframe,
       (64 + seed)::INT AS width, 48 AS height,
       (1000000 // 24)::BIGINT AS fps_micro
FROM fr
"""


# --------------------------------------------------------------------------
# q144 — REAL baseline JPEG decode (sources/jpegcodec — pure-Python
# T.81 sequential-DCT codec; what was "JPEG = documented backend seam"
# since r4 is now a decoded byte path): executor-encoded JPEGs flow
# through the SAME image_tile_stats pipeline as PNG. The oracle trick:
# fixtures are CONSTANT 8x8 blocks with even values, for which the
# lossy codec is EXACT (DC-only FDCT, Annex-K DC quantizer 16, even v
# ⇒ round((v−128)/2) exact), so per-tile means replay from the block
# formula with zero tolerance — Huffman tables, byte stuffing, zigzag,
# dequantize and IDCT all sit on the verified path. Block formula:
# seed = media_id % 30; v(bx, by) = 2·((seed·3 + bx·7 + by·11) % 100)
# + 12 on a 4x3 block grid (32x24 px).
# --------------------------------------------------------------------------

def _formula_jpeg_media(spark: SparkSession, n: int):
    def one(mid: int) -> bytes:
        import numpy as np

        from odin_rs_spark.sources.jpegcodec import encode_jpeg

        seed = mid % 30
        byy, bxx = np.mgrid[0:3, 0:4]
        vals = 2 * ((seed * 3 + bxx * 7 + byy * 11) % 100) + 12
        img = np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1).astype(
            np.uint8
        )
        return encode_jpeg(img)

    return _executor_blobs(spark, n, content=one).select(
        F.col("id").alias("media_id"), "content"
    )


def q144_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.operators.multimodal import image_tile_stats

    media = _formula_jpeg_media(spark, 60)
    tiles = image_tile_stats(media, nx=4, ny=3)
    return tiles.select(
        "media_id",
        "tile_x",
        "tile_y",
        "n_px",
        F.round("mean_luma", 6).alias("mean_luma"),
    )


Q144_SQL = """
WITH par AS (
  SELECT r.range AS media_id, (r.range % 30) AS seed FROM range(60) r),
blocks AS (
  SELECT media_id, bx.range AS tile_x, by.range AS tile_y,
         2 * ((seed * 3 + bx.range * 7 + by.range * 11) % 100) + 12 AS v
  FROM par, range(4) bx, range(3) by)
SELECT media_id, tile_x::INT AS tile_x, tile_y::INT AS tile_y,
       64::BIGINT AS n_px, round(v::DOUBLE, 6) AS mean_luma
FROM blocks
"""


# --------------------------------------------------------------------------
# q145 — odin_onnx FIT policy on real pixels (FitPolicy::Pad,
# odin_onnx/src/lib.rs:64-95): decode the formula PNGs and fit them to
# 48x32 model dimensions. Every image is SMALLER than the model, so
# the reference semantics are pure copy-at-origin + pad — no
# resampling — which keeps the fitted plane's mean luma integer-exact:
# mean = (sum(pixels) + pad·(48·32 − 32·24)) / 1536, replayed by the
# oracle from the pixel formula. The Catmull-Rom downscale branch of
# the same operator is pinned by unit tests (cubic-interpolates-linear
# invariants), not by this oracle.
# --------------------------------------------------------------------------

def q145_image_fit_pad(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.operators.multimodal import image_fit_stats

    media = _formula_png_media(spark, 120)
    out = image_fit_stats(media, model_w=48, model_h=32, policy="pad", pad_value=7)
    return out.select(
        "media_id",
        "out_w",
        "out_h",
        F.round("mean_luma", 6).alias("mean_luma"),
        "n_pad_px",
    )


Q145_SQL = """
WITH img AS (
  SELECT r.range AS media_id, (r.range % 40) AS seed FROM range(120) r),
par AS (
  SELECT media_id, seed % 7 AS a, seed % 5 + 1 AS b, (seed * 13) % 256 AS m
  FROM img),
px AS (
  SELECT media_id, sum((m + x * a + y * b) % 256)::BIGINT AS s
  FROM par, range(32) xs(x), range(24) ys(y)
  GROUP BY media_id)
SELECT media_id, 48 AS out_w, 32 AS out_h,
       round((s + 7 * (48 * 32 - 32 * 24))::DOUBLE / 1536, 6) AS mean_luma,
       (48 * 32 - 32 * 24)::BIGINT AS n_pad_px
FROM px
"""


# --------------------------------------------------------------------------
# q146 — MODEL-BASED quality filtering (the fastText-classifier step of
# CCNet/RefinedWeb-style corpus pipelines, here with the repo's exact
# MLP): per-doc quality features (length/alpha/digit/word-length
# ratios — integer-ratio arithmetic, engine-identical) feed the 4→8→3
# dyadic network, and documents aggregate per (lang, predicted class).
# The oracle replays features in SQL and reuses the shared
# _mlp_sql_stages forward pass — zero tolerance end to end.
# --------------------------------------------------------------------------

def q146_quality_mlp_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.functions.mlp import formula_weights, mlp_classify
    from odin_rs_spark.functions.text import quality_features

    docs = _t(spark, sf_dir, "documents")
    f = quality_features(F.col("text"))
    feats = docs.select(
        "lang",
        F.array(
            F.least(f["n_words"] / 50.0, F.lit(1.0)),
            f["alpha_ratio"],
            f["digit_ratio"],
            F.least(f["mean_word_len"] / 10.0, F.lit(1.0)),
        ).alias("__f"),
    )
    w = formula_weights(in_dim=4)
    cls = feats.withColumn("__c", mlp_classify("__f", w))
    return cls.groupBy("lang", F.col("__c.pred").alias("pred")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("__c.margin"), 6).alias("avg_margin"),
        F.round(F.min("__c.margin"), 6).alias("min_margin"),
    )


Q146_SQL = r"""
WITH feats AS (
  SELECT lang,
         length(text)::DOUBLE AS n_chars,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE AS n_alpha,
         length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE AS n_digit,
         length(regexp_replace(text, '[^ \t\n]', '', 'g'))::DOUBLE AS n_space,
         (CASE WHEN trim(text) = '' THEN 0
               ELSE len(regexp_split_to_array(trim(text), '\s+')) END)::DOUBLE AS n_words
  FROM documents),
ft AS (
  SELECT lang,
         [least(n_words / 50.0, 1.0),
          n_alpha / greatest(n_chars, 1.0),
          n_digit / greatest(n_chars, 1.0),
          least((CASE WHEN n_words > 0 THEN (n_chars - n_space) / n_words
                      ELSE 0.0 END) / 10.0, 1.0)] AS f
  FROM feats),
""" + _mlp_sql_stages(4, carry="lang", src="ft", elem="f[i]") + """
SELECT lang, pred::INT AS pred, count(*)::BIGINT AS n,
       round(avg(margin), 6) AS avg_margin,
       round(min(margin), 6) AS min_margin
FROM cls GROUP BY lang, pred
"""


# --------------------------------------------------------------------------
# q147 — REAL GeoTIFF DEM scan (sources/geotiff — pure-Python classic
# TIFF IFD walk + GeoTIFF ModelPixelScale/ModelTiepoint georeferencing
# + GDAL_NODATA; the FILE format the reference's DEM pipeline reads
# through GDAL FFI, odin_dem/src/lib.rs:137-258, odin_gdal
# :578-624): a checked-in float32 DEM with planted nodata cells
# decodes into georeferenced height cells with the elevation predicate
# in-kernel. Height formula (oracle replays it, excluding nodata):
# h(i,j) = ((i*13 + j*7) % 500) * 0.25 on 40x25 at 0.01 deg from
# (37N, 120W) north-up; nodata where (i+j)%9==5.
# --------------------------------------------------------------------------

def q147_geotiff_dem_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    import odin_rs_spark
    from odin_rs_spark.sources.geotiff import geotiff_grid_cells

    fixture = _os.path.join(
        _os.path.dirname(_os.path.abspath(odin_rs_spark.__file__)),
        "sources",
        "fixtures",
        "dem_sierra.tif",
    )
    files = spark.read.format("binaryFile").load(fixture)
    cells = geotiff_grid_cells(files, value_min=60.0)
    # group on the integer pixel row (not floor(lat*100): DuckDB
    # evaluates 0.01-literal arithmetic in DECIMAL, so a lat exactly on
    # a floor boundary lands differently than IEEE doubles)
    return cells.groupBy(F.col("y").alias("row_j")).agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.round(F.sum("value"), 6).alias("sum_height"),
        F.round(F.min("lat"), 6).alias("lat"),
        F.round(F.min("lon"), 6).alias("min_lon"),
        F.round(F.max("lon"), 6).alias("max_lon"),
    )


Q147_SQL = """
WITH g AS (SELECT xs.range AS i, ys.range AS j
           FROM range(40) xs, range(25) ys
           WHERE (xs.range + ys.range) % 9 != 5),
c AS (SELECT j, ((i * 13 + j * 7) % 500) * 0.25 AS h,
             37.0 - j::DOUBLE * 0.01 AS lat, -120.0 + i::DOUBLE * 0.01 AS lon
      FROM g)
SELECT j::INT AS row_j, count(*)::BIGINT AS n_cells,
       round(sum(h), 6) AS sum_height,
       round(min(lat), 6) AS lat,
       round(min(lon), 6) AS min_lon,
       round(max(lon), 6) AS max_lon
FROM c WHERE h >= 60.0 GROUP BY j
"""


# --------------------------------------------------------------------------
# q148 — Horn slope over the GeoTIFF DEM (gdaldem-slope semantics on
# the q147 fixture: one broadcast 9-row offset scatter + one groupBy —
# a single shuffle at any raster size): interior cells with complete
# 3x3 neighborhoods emit exact dyadic gradients; cells bordering the
# planted nodata holes or the edge emit nothing. The oracle replays
# the same contribution sums from the height formula.
# --------------------------------------------------------------------------

def q148_dem_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    import odin_rs_spark
    from odin_rs_spark.operators.raster import dem_slope_cells
    from odin_rs_spark.sources.geotiff import geotiff_grid_cells

    fixture = _os.path.join(
        _os.path.dirname(_os.path.abspath(odin_rs_spark.__file__)),
        "sources",
        "fixtures",
        "dem_sierra.tif",
    )
    files = spark.read.format("binaryFile").load(fixture)
    cells = geotiff_grid_cells(files)
    slope = dem_slope_cells(cells, cell_size=1.0)
    return slope.groupBy((F.col("slope_pct") / 1000).cast("int").alias("band")).agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.round(F.sum("gx"), 6).alias("sum_gx"),
        F.round(F.sum("gy"), 6).alias("sum_gy"),
        F.round(F.max("slope_pct"), 6).alias("max_slope"),
    )


Q148_SQL = """
WITH g AS (
  SELECT xs.range AS i, ys.range AS j,
         ((xs.range * 13 + ys.range * 7) % 500) * 0.25 AS h
  FROM range(40) xs, range(25) ys
  WHERE (xs.range + ys.range) % 9 != 5),
contrib AS (
  SELECT g.i - o.dx AS cx, g.j - o.dy AS cy,
         g.h * o.wx AS gxc, g.h * o.wy AS gyc
  FROM g, (VALUES (-1,-1,-1,-1),(0,-1,0,-2),(1,-1,1,-1),
                  (-1,0,-2,0),(0,0,0,0),(1,0,2,0),
                  (-1,1,-1,1),(0,1,0,2),(1,1,1,1)) o(dx, dy, wx, wy)),
agg AS (
  SELECT cx, cy, sum(gxc) AS gxs, sum(gyc) AS gys, count(*) AS n
  FROM contrib GROUP BY cx, cy),
sl AS (
  SELECT cx, cy, round(gxs / 8.0, 6) AS gx, round(gys / 8.0, 6) AS gy,
         round(100.0 * sqrt((gxs / 8.0) * (gxs / 8.0)
                            + (gys / 8.0) * (gys / 8.0)), 6) AS slope_pct
  FROM agg WHERE n = 9)
SELECT floor(slope_pct / 1000)::INT AS band, count(*)::BIGINT AS n_cells,
       round(sum(gx), 6) AS sum_gx, round(sum(gy), 6) AS sum_gy,
       round(max(slope_pct), 6) AS max_slope
FROM sl GROUP BY band
"""


# --------------------------------------------------------------------------
# q149 — audio near-dup grouping via the energy-delta fingerprint (the
# dHash move on the time axis, chromaprint-style): 75 formula WAVs (3
# per seed) decode → per-window integer energies → delta-bit signature
# → one groupBy on the 12-byte (fingerprint, n_windows) key. The
# oracle replays energies, comparisons and the bit assembly from the
# sample formula — integer-exact end to end. Seeds with identical
# delta patterns merge, as the grouping semantics dictate in both
# engines.
# --------------------------------------------------------------------------

def q149_audio_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.operators.multimodal import (
        audio_fingerprint,
        audio_near_dup_groups,
    )

    media = _formula_wav_media(spark, 75)
    fps = audio_fingerprint(media, window=256)
    return audio_near_dup_groups(fps)


Q149_SQL = """
WITH par AS (
  SELECT r.range AS media_id, (r.range % 25) AS seed FROM range(75) r),
pp AS (
  SELECT media_id, seed % 7 + 3 AS f, (seed * 11) % 100 AS ph FROM par),
smp AS (
  SELECT media_id, i, i // 256 AS w,
         CASE WHEN (i // 256) % 4 = 3 THEN 0
              ELSE ((i * f + ph) % 4001) - 2000 END AS s
  FROM pp, range(2048) ii(i)),
en AS (
  SELECT media_id, w, sum(abs(s))::BIGINT AS e
  FROM smp GROUP BY media_id, w),
bits AS (
  SELECT media_id, w,
         CASE WHEN lead(e) OVER (PARTITION BY media_id ORDER BY w) > e
              THEN 1 ELSE 0 END AS bit
  FROM en),
fp AS (
  SELECT media_id,
         sum(CASE WHEN bit = 1 THEN (1::BIGINT << w) ELSE 0 END)::BIGINT AS fingerprint
  FROM bits WHERE w < 7 GROUP BY media_id)
SELECT fingerprint, 8 AS n_windows, count(*)::BIGINT AS n_clips,
       min(media_id) AS keeper_id
FROM fp GROUP BY fingerprint
"""


# --------------------------------------------------------------------------
# q150 — audio rate normalization END-TO-END: decode the 16 kHz
# formula WAVs, exact-rational linear resample to 6 kHz, RE-ENCODE as
# WAV, decode again through the standard stats operator (a real
# operator composition across the byte boundary). frac lands in
# {0, 1/3, 2/3} and the interpolation expression is evaluated in one
# fixed order, so the oracle replays every resampled sample, the
# floor(+0.5) rounding, and the downstream stats with zero tolerance.
# --------------------------------------------------------------------------

def q150_audio_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.operators.multimodal import (
        audio_resample_linear,
        audio_stats,
    )

    media = _formula_wav_media(spark, 25)
    res = audio_resample_linear(media, dst_rate=6000)
    out = audio_stats(res.select("media_id", "content"))
    return out.select(
        "media_id",
        "rate",
        "n_samples",
        "peak",
        F.round("mean_abs", 6).alias("mean_abs"),
        "zero_crossings",
    )


Q150_SQL = """
WITH par AS (
  SELECT r.range AS media_id, (r.range % 25) AS seed FROM range(25) r),
pp AS (
  SELECT media_id, seed % 7 + 3 AS f, (seed * 11) % 100 AS ph FROM par),
rs AS (
  SELECT media_id, j.range AS j,
         (j.range * 16000) // 6000 AS k,
         ((j.range * 16000) % 6000) / 6000.0 AS frac
  FROM pp, range(768) j),
sv AS (
  SELECT p.media_id, r.j, r.k, r.frac,
         (CASE WHEN (r.k // 256) % 4 = 3 THEN 0
               ELSE ((r.k * p.f + p.ph) % 4001) - 2000 END)::DOUBLE AS s0,
         (CASE WHEN ((r.k + 1) // 256) % 4 = 3 THEN 0
               ELSE (((r.k + 1) * p.f + p.ph) % 4001) - 2000 END)::DOUBLE AS s1
  FROM rs r JOIN pp p ON p.media_id = r.media_id),
o AS (
  SELECT media_id, j,
         floor(s0 + (s1 - s0) * frac + 0.5)::BIGINT AS s
  FROM sv),
nz AS (
  SELECT media_id, j, s,
         lag(s) OVER (PARTITION BY media_id ORDER BY j) AS prev
  FROM o WHERE s != 0)
SELECT m.media_id, 6000 AS rate, 768::BIGINT AS n_samples,
       m.peak::INT AS peak, round(m.sum_abs / 768.0, 6) AS mean_abs,
       coalesce(z.zc, 0)::BIGINT AS zero_crossings
FROM (SELECT media_id, max(abs(s)) AS peak, sum(abs(s))::DOUBLE AS sum_abs
      FROM o GROUP BY media_id) m
LEFT JOIN (SELECT media_id, count(*)::BIGINT AS zc FROM nz
           WHERE prev IS NOT NULL AND sign(s) != sign(prev)
           GROUP BY media_id) z
ON m.media_id = z.media_id
"""


# --------------------------------------------------------------------------
# q151 — REAL MJPEG video frame decode (the step q143's index and
# q111's sampling plumbing stage for): DC-exact gray JPEG frames
# (q144's exactness trick — constant even-value 8x8 blocks round-trip
# the lossy codec exactly) inside real AVI containers, frame-sampled
# every_n=2 BEFORE decode, decoded by sources/jpegcodec, per-frame
# integer luma sums replayed by the oracle from the block formula
# with zero tolerance. Frame f of video v (seed = v % 12):
# v(bx,by) = 2*((seed*5 + f*17 + bx*7 + by*11) % 100) + 14 on a 4x3
# block grid (32x24 px); nf = 6 + seed % 3; keyframe every 3.
# --------------------------------------------------------------------------

def _formula_mjpeg_media(spark: SparkSession, n: int):
    def one(mid: int) -> bytes:
        import numpy as np

        from odin_rs_spark.sources.avicodec import encode_avi
        from odin_rs_spark.sources.jpegcodec import encode_jpeg

        seed = mid % 12
        nf = 6 + seed % 3
        frames = []
        for f in range(nf):
            byy, bxx = np.mgrid[0:3, 0:4]
            vals = 2 * ((seed * 5 + f * 17 + bxx * 7 + byy * 11) % 100) + 14
            img = np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1).astype(
                np.uint8
            )
            frames.append(encode_jpeg(img))
        return encode_avi(
            payloads=frames, width=32, height=24, fps=12,
            keyframe_every=3,
        )

    return _executor_blobs(spark, n, content=one).select(
        F.col("id").alias("media_id"), "content"
    )


def q151_video_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.operators.multimodal import video_decode_frames

    media = _formula_mjpeg_media(spark, 24)
    out = video_decode_frames(media, every_n=2)
    return out.select(
        "media_id",
        "frame_no",
        "keyframe",
        "n_px",
        "n_channels",
        "sum_channels",
        F.round("mean_luma", 6).alias("mean_luma"),
    )


Q151_SQL = """
WITH par AS (
  SELECT r.range AS media_id, (r.range % 12) AS seed FROM range(24) r),
fr AS (
  SELECT media_id, seed, f.range AS frame_no
  FROM par, range(8) f
  WHERE f.range < 6 + seed % 3 AND f.range % 2 = 0),
bl AS (
  SELECT media_id, frame_no,
         sum(2 * ((seed * 5 + frame_no * 17 + bx.range * 7
                   + by.range * 11) % 100) + 14)::BIGINT AS bsum
  FROM fr, range(4) bx, range(3) by
  GROUP BY media_id, frame_no)
SELECT media_id, frame_no::INT AS frame_no,
       CASE WHEN frame_no % 3 = 0 THEN 1 ELSE 0 END AS keyframe,
       768::BIGINT AS n_px, 1 AS n_channels, (bsum * 64)::BIGINT AS sum_channels,
       round((bsum * 64)::DOUBLE / 768, 6) AS mean_luma
FROM bl
"""


# --------------------------------------------------------------------------
# q152 — video frame DEDUP across clips (the multimodal twin of the
# text near-dup family, and what a video training pipeline runs after
# q151's decode: find re-containered copies of the same pixels):
# per-frame tile-sum md5 fingerprints over the DECODED luma plane
# collide exactly for identical frames. 24 clips over 12 seeds plant
# every frame in exactly two clips; the oracle replays the
# fingerprint itself (md5 of the row-major integer tile-sum string),
# so a hash match proves container walk + JPEG decode + tiling
# byte-identical end to end.
# --------------------------------------------------------------------------

def q152_video_frame_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.operators.multimodal import video_frame_fingerprints

    media = _formula_mjpeg_media(spark, 24)
    fps = video_frame_fingerprints(media, nx=4, ny=3)
    return (
        fps.groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.countDistinct("media_id").alias("n_media"),
            F.min("media_id").alias("media_lo"),
            F.max("media_id").alias("media_hi"),
            F.min("frame_no").alias("frame_no"),
        )
        .filter(F.col("n_media") >= 2)
    )


Q152_SQL = """
WITH par AS (
  SELECT r.range AS media_id, (r.range % 12) AS seed FROM range(24) r),
fr AS (
  SELECT media_id, seed, f.range AS f
  FROM par, range(8) f WHERE f.range < 6 + seed % 3),
fp AS (
  SELECT media_id, f,
         md5(string_agg(
           ((2 * ((seed * 5 + f * 17 + bx.range * 7
                   + by.range * 11) % 100) + 14) * 64)::VARCHAR,
           ',' ORDER BY by.range, bx.range)) AS fp
  FROM fr, range(4) bx, range(3) by
  GROUP BY media_id, f, seed)
SELECT fp, count(*)::BIGINT AS n_copies,
       count(DISTINCT media_id)::BIGINT AS n_media,
       min(media_id) AS media_lo, max(media_id) AS media_hi,
       min(f)::INT AS frame_no
FROM fp GROUP BY fp HAVING count(DISTINCT media_id) >= 2
"""


# --------------------------------------------------------------------------
# q153 — WARC web-archive scan (sources/warc — ISO 28500, the Common
# Crawl ingest format every large-scale LLM text pipeline starts
# from): three committed .warc.gz fixtures (one gzip member per
# record, the CC segment layout) holding warcinfo/request/response
# records whose HTTP bodies derive from a page formula
# (tests/test_warc.py::test_fixture_files_match_formula is the
# provenance pin). The oracle regenerates every response row — file,
# record number, URL, status, mime, byte length and the full body
# text — from the formula and never touches the files: equality holds
# IFF gzip member walk, record framing, header parse and HTTP split
# are all byte-correct. Page g = fileno*12 + p: url
# site{g%7}.example.com/page/{g}; status 404 iff g%5=0; mime
# text/plain iff g%3=0; body = "w{(g*7+j)%13} " for j < 5 + g%7.
# --------------------------------------------------------------------------

def q153_warc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    import odin_rs_spark
    from odin_rs_spark.sources.warc import warc_records

    fixture = _os.path.join(
        _os.path.dirname(_os.path.abspath(odin_rs_spark.__file__)),
        "sources",
        "fixtures",
        "cc_*.warc.gz",
    )
    files = spark.read.format("binaryFile").load(fixture)
    recs = warc_records(files)
    return recs.filter(F.col("warc_type") == "response").select(
        "file",
        "rec_no",
        "target_uri",
        "http_status",
        "mime",
        "body_len",
        "body_text",
    )


Q153_SQL = """
WITH pg AS (
  SELECT fn.range AS fileno, p.range AS p, fn.range * 12 + p.range AS g
  FROM range(3) fn, range(12) p),
body AS (
  SELECT fileno, p, g,
         string_agg('w' || ((g * 7 + j.range) % 13)::VARCHAR || ' ', ''
                    ORDER BY j.range) AS body_text
  FROM pg, range(12) j WHERE j.range < 5 + g % 7
  GROUP BY fileno, p, g)
SELECT 'cc_0' || fileno::VARCHAR || '.warc.gz' AS file,
       (2 + 2 * p)::INT AS rec_no,
       'https://site' || (g % 7)::VARCHAR || '.example.com/page/'
         || g::VARCHAR AS target_uri,
       CASE WHEN g % 5 = 0 THEN 404 ELSE 200 END AS http_status,
       CASE WHEN g % 3 = 0 THEN 'text/plain' ELSE 'text/html' END AS mime,
       length(body_text)::BIGINT AS body_len,
       body_text
FROM body
"""


# --------------------------------------------------------------------------
# q154 — URL canonicalization + registered-domain rollup
# (functions/web — the URL-hygiene pass every web corpus runs before
# URL-level dedup and per-domain quotas): 120 deliberately MESSY
# formula URLs (scheme/host case, www prefix, default vs explicit
# ports, unsorted + tracking query params, fragments) canonicalize
# JVM-side (zero UDFs), then roll up per (registered domain, host).
# The oracle does NOT replay the implementation: it derives the
# expected canonical string analytically from the mess parameters, so
# agreement proves the canonicalizer NORMALIZES (not merely that two
# engines ran the same code). Mess(i): scheme HTTP/https/HTTPS by
# i%3; host WWW.Site{i%10}.{Example.CO.UK | Example.COM | Sample.ORG
# by i%4}; port default (dropped) when i%5=0, :8080 when i%5=1; empty
# path when i%6=0; query utm+unsorted when i%2=0, all-tracking when
# i%8=1, else ?z=9; #sec2 fragment when i%7=0.
# --------------------------------------------------------------------------

def q154_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.functions.web import (
        host_of,
        registered_domain,
        url_canonicalize,
    )

    i = F.col("id")
    scheme_m = (
        F.when(i % 3 == 0, "HTTP").when(i % 3 == 1, "https").otherwise("HTTPS")
    )
    suffix_m = (
        F.when(i % 4 == 0, ".Example.CO.UK")
        .when(i % 4 == 2, ".Sample.ORG")
        .otherwise(".Example.COM")
    )
    port_m = (
        F.when(
            i % 5 == 0, F.when(i % 3 == 0, ":80").otherwise(":443")
        )
        .when(i % 5 == 1, ":8080")
        .otherwise("")
    )
    path_m = F.when(i % 6 == 0, "").otherwise(
        F.concat(F.lit("/p/"), (i % 6).cast("string"))
    )
    q_m = (
        F.when(i % 2 == 0, "?utm_source=x&b=2&a=1")
        .when(i % 8 == 1, "?utm_campaign=c")
        .otherwise("?z=9")
    )
    frag_m = F.when(i % 7 == 0, "#sec2").otherwise("")
    urls = spark.range(120).select(
        F.concat(
            scheme_m,
            F.lit("://WWW.Site"),
            (i % 10).cast("string"),
            suffix_m,
            port_m,
            path_m,
            q_m,
            frag_m,
        ).alias("url")
    )
    c = urls.select(
        url_canonicalize(F.col("url")).alias("canon"),
        host_of(F.col("url")).alias("host"),
    ).withColumn("dom", registered_domain(F.col("host")))
    return c.groupBy("dom", "host").agg(
        F.count(F.lit(1)).alias("n_urls"),
        F.countDistinct("canon").alias("n_canon"),
        F.min("canon").alias("min_canon"),
        F.max("canon").alias("max_canon"),
    )


Q154_SQL = """
WITH u AS (
  SELECT r.range AS i,
    CASE WHEN r.range % 3 = 0 THEN 'http' ELSE 'https' END AS scheme,
    'site' || (r.range % 10)::VARCHAR ||
      CASE WHEN r.range % 4 = 0 THEN '.example.co.uk'
           WHEN r.range % 4 = 2 THEN '.sample.org'
           ELSE '.example.com' END AS host,
    CASE WHEN r.range % 5 = 1 THEN ':8080' ELSE '' END AS port,
    CASE WHEN r.range % 6 = 0 THEN '/'
         ELSE '/p/' || (r.range % 6)::VARCHAR END AS path,
    CASE WHEN r.range % 2 = 0 THEN '?a=1&b=2'
         WHEN r.range % 8 = 1 THEN ''
         ELSE '?z=9' END AS q,
    CASE WHEN r.range % 4 = 0 THEN 'example.co.uk'
         WHEN r.range % 4 = 2 THEN 'sample.org'
         ELSE 'example.com' END AS dom
  FROM range(120) r),
c AS (
  SELECT dom, host, scheme || '://' || host || port || path || q AS canon
  FROM u)
SELECT dom, host, count(*)::BIGINT AS n_urls,
       count(DISTINCT canon)::BIGINT AS n_canon,
       min(canon) AS min_canon, max(canon) AS max_canon
FROM c GROUP BY dom, host
"""


# --------------------------------------------------------------------------
# q157 — SemDeDup cluster-scoped semantic dedup (Abbas et al. 2023,
# arXiv:2303.09540 — the curation pass LAION/web-scale image-text
# corpora run AFTER exact dedup): cluster embeddings on fixed seed
# centroids (the ivf_fixed machinery), rank within each cluster by
# 6dp-rounded cosine-to-centroid, drop every point with a
# higher-ranked in-cluster near-duplicate (cos > 0.96). Planted 1.5×
# scaled copies (cos≈1 with their originals) must be the dropped
# ones. The oracle replays the ENTIRE pipeline in SQL — assignment
# argmax, window rank, within-cluster pair join, drop rule — per the
# q59/q85 precedent.
# --------------------------------------------------------------------------

# 16 cells, not 5: SemDeDup's cost is Σ|cluster|² — the 10× probe
# showed 4.3 s → 10.4 s (sf0.01 → sf0.1) at k=5, the quadratic
# showing through. Raising k is the paper's own scaling knob (cluster
# count grows with corpus so max-cluster stays bounded); 16 cells cut
# the sf0.1 pair volume ~3×. Ids all < 500 so every SF has them.
_Q157_CENTS = [3, 17, 29, 41, 59, 71, 83, 97, 109, 127, 139, 151, 163, 179, 191, 199]


def q157_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    copy = emb.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.5)).alias("embedding"),
    )
    seeded = emb.unionByName(copy)
    out = sim_ops.semdedup_select(seeded, _Q157_CENTS, tau=0.96)
    return out.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum("dropped").alias("n_dropped"),
        F.sum(F.when(F.col("dropped") == 0, F.col("vec_id"))).alias(
            "sum_kept_ids"
        ),
        F.round(F.min("ccos"), 6).alias("min_ccos"),
        F.round(F.max("ccos"), 6).alias("max_ccos"),
    )


_Q157_CENT_COS = (
    "list_sum(list_transform(range(1, 65), i -> {a}.embedding[i]::DOUBLE * c.cv[i]::DOUBLE))"
    " / (sqrt(list_sum(list_transform(range(1, 65), i -> {a}.embedding[i]::DOUBLE * {a}.embedding[i]::DOUBLE)))"
    " * sqrt(list_sum(list_transform(range(1, 65), i -> c.cv[i]::DOUBLE * c.cv[i]::DOUBLE))))"
)

Q157_SQL = f"""
WITH seeded AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000, list_transform(embedding, x -> x * 1.5)
  FROM embeddings WHERE vec_id % 50 = 0),
cents AS (
  SELECT list_position({_Q157_CENTS}, vec_id) - 1 AS cell, embedding AS cv
  FROM embeddings WHERE vec_id IN {tuple(_Q157_CENTS)}),
assigned AS (
  SELECT vec_id, cell, ccos FROM (
    SELECT e.vec_id, c.cell, {_Q157_CENT_COS.format(a='e')} AS ccos,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_Q157_CENT_COS.format(a='e')} DESC,
                                       c.cell ASC) AS rn
    FROM seeded e, cents c) WHERE rn = 1),
ranked AS (
  SELECT vec_id, cell, ccos,
         row_number() OVER (PARTITION BY cell
                            ORDER BY round(ccos, 6) DESC, vec_id ASC) AS rank
  FROM assigned),
dropped AS (
  SELECT DISTINCT b.vec_id AS did
  FROM ranked a
  JOIN ranked b ON a.cell = b.cell AND a.rank < b.rank
  JOIN seeded ea ON ea.vec_id = a.vec_id
  JOIN seeded eb ON eb.vec_id = b.vec_id
  WHERE {_COS.format(a='ea', b='eb')} > 0.96)
SELECT cell, count(*)::BIGINT AS n_vecs,
       sum(CASE WHEN did IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_dropped,
       sum(CASE WHEN did IS NULL THEN vec_id END)::BIGINT AS sum_kept_ids,
       round(min(ccos), 6) AS min_ccos,
       round(max(ccos), 6) AS max_ccos
FROM ranked LEFT JOIN dropped ON vec_id = did
GROUP BY cell
"""


# --------------------------------------------------------------------------
# q155 — Unicode-script mixing audit (operators/text.script_stats —
# the homoglyph-spam / tokenizer-routing signal of multilingual
# corpus pipelines): documents get formula-planted Cyrillic / CJK /
# Arabic injections (kind = doc_id % 4), then per-script regexp
# letter counts, the deterministic dominant-script rule and the
# mixed-script flag roll up per (kind, mixed). Counts are integer
# regexp-length arithmetic — the oracle recounts the same augmented
# text in RE2 with zero tolerance. Note kind=2 injects 4 CJK chars
# when doc_id%2=0 — below the mix_min=5 threshold — so the flag's
# boundary sits INSIDE the data.
# --------------------------------------------------------------------------

def q155_script_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.operators.text import script_stats

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    i = F.col("doc_id")
    inject = (
        F.when(i % 4 == 1, F.expr("repeat('Привет ', CAST(doc_id % 3 + 1 AS INT))"))
        .when(i % 4 == 2, F.expr("repeat('中文语料 ', CAST(doc_id % 2 + 1 AS INT))"))
        .when(i % 4 == 3, F.lit("مرحبا مرحبا "))
        .otherwise(F.lit(""))
    )
    aug = docs.select(
        "doc_id",
        (i % 4).alias("kind"),
        F.concat(F.col("text"), F.lit(" "), inject).alias("text"),
    )
    st = script_stats(aug)
    return st.groupBy("kind", "mixed_script").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_latin").alias("sum_latin"),
        F.sum("n_cyrillic").alias("sum_cyr"),
        F.sum("n_cjk").alias("sum_cjk"),
        F.sum("n_arabic").alias("sum_arab"),
        F.sum("n_digit").alias("sum_digit"),
    )


Q155_SQL = """
WITH aug AS (
  SELECT doc_id, doc_id % 4 AS kind,
         text || ' ' || CASE doc_id % 4
            WHEN 1 THEN repeat('Привет ', (doc_id % 3 + 1)::INT)
            WHEN 2 THEN repeat('中文语料 ', (doc_id % 2 + 1)::INT)
            WHEN 3 THEN 'مرحبا مرحبا '
            ELSE '' END AS t
  FROM documents),
c AS (
  SELECT kind,
    length(regexp_replace(t, '[^A-Za-z]', '', 'g'))::BIGINT AS lat,
    length(regexp_replace(t, '[^Ѐ-ӿ]', '', 'g'))::BIGINT AS cyr,
    length(regexp_replace(t, '[^一-鿿]', '', 'g'))::BIGINT AS cjk,
    length(regexp_replace(t, '[^؀-ۿ]', '', 'g'))::BIGINT AS ara,
    length(regexp_replace(t, '[^0-9]', '', 'g'))::BIGINT AS dig
  FROM aug)
SELECT kind, CASE WHEN least(lat, cyr + cjk + ara) >= 5 THEN 1 ELSE 0 END
         AS mixed_script,
       count(*)::BIGINT AS n_docs,
       sum(lat)::BIGINT AS sum_latin, sum(cyr)::BIGINT AS sum_cyr,
       sum(cjk)::BIGINT AS sum_cjk, sum(ara)::BIGINT AS sum_arab,
       sum(dig)::BIGINT AS sum_digit
FROM c GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# q156 — character-entropy quality signal (operators/text.char_entropy
# — the compression-ratio proxy C4/Gopher-family pipelines gate on):
# per-document Shannon entropy in bits/char, computed as a pure
# higher-order-function pipeline (split → array_distinct → per-char
# filter/size counts → aggregate) with ZERO shuffles and zero Python
# — the plan a 100 TB corpus needs, vs the explode-per-character
# anti-pattern. The oracle recounts characters by exploding
# substring positions in DuckDB and replays
# H = (ln n − Σ k·ln k / n) / ln 2 at 6dp.
# --------------------------------------------------------------------------

def q156_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.operators.text import char_entropy

    docs = _wide(
        spark, _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    )
    out = char_entropy(docs)
    return out.select(
        "doc_id",
        "lang",
        F.col("n_chars_ent").alias("n_chars"),
        F.round("entropy_bits", 6).alias("entropy_bits"),
    )


Q156_SQL = """
WITH ch AS (
  SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents),
cnt AS (
  SELECT doc_id, count(*)::DOUBLE AS k FROM ch GROUP BY doc_id, c),
s AS (
  SELECT doc_id, sum(k * ln(k)) AS snn FROM cnt GROUP BY doc_id)
SELECT d.doc_id, d.lang, length(d.text)::INT AS n_chars,
       round((ln(length(d.text)::DOUBLE) - s.snn / length(d.text)::DOUBLE)
             / ln(2), 6) AS entropy_bits
FROM documents d JOIN s ON d.doc_id = s.doc_id
"""


# --------------------------------------------------------------------------
# q158 — A/V demux: pull the PCM16 soundtrack out of AVI clips
# (sources/avicodec.parse_avi_audio — 'auds' WAVEFORMATEX walk +
# '##wb' chunk gather in idx1 order) and run the EXISTING audio-stats
# pipeline on the demuxed WAV unchanged — the first step a
# speech/captioning corpus runs on crawled video, and the composition
# proof that the audio operators are container-agnostic. Soundtrack
# formula (seed = mid % 20): n = 256 + 32·seed samples of
# s(t) = ((t·(seed%5+2) + 13·seed) % 1601) − 800 at rate
# 8000 + 4000·(seed%2), muxed in 3 interleaved chunks; the oracle
# replays rate, channel count, sample count, peak, mean_abs and
# zero-crossings from the formula — agreement proves chunk gather
# order, WAVEFORMATEX parse and WAV re-encode byte-exact.
# --------------------------------------------------------------------------

def _formula_av_media(spark: SparkSession, n: int):
    def one(mid: int) -> bytes:
        import numpy as np

        from odin_rs_spark.sources.avicodec import encode_avi

        seed = mid % 20
        t = np.arange(256 + 32 * seed, dtype=np.int64)
        s = ((t * (seed % 5 + 2) + 13 * seed) % 1601) - 800
        return encode_avi(
            [20, 24],
            width=16,
            height=16,
            audio=s.astype(np.int16),
            audio_rate=8000 + 4000 * (seed % 2),
            audio_chunks=3,
        )

    return _executor_blobs(spark, n, content=one).select(
        F.col("id").alias("media_id"), "content"
    )


def q158_video_demux_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.operators.multimodal import audio_stats, video_demux_audio

    media = _formula_av_media(spark, 20)
    wavs = video_demux_audio(media)
    out = audio_stats(wavs)
    return out.select(
        "media_id",
        "rate",
        "channels",
        "n_samples",
        "peak",
        F.round("mean_abs", 6).alias("mean_abs"),
        "zero_crossings",
    )


Q158_SQL = """
WITH par AS (
  SELECT r.range AS media_id, (r.range % 20) AS seed FROM range(20) r),
pp AS (
  SELECT media_id, seed % 5 + 2 AS f, 13 * seed AS ph,
         256 + 32 * seed AS ns, 8000 + 4000 * (seed % 2) AS rate
  FROM par),
smp AS (
  SELECT media_id, ns, rate, i, ((i * f + ph) % 1601) - 800 AS s
  FROM pp, range(864) ii(i) WHERE i < ns),
nz AS (
  SELECT media_id, i, s,
         lag(s) OVER (PARTITION BY media_id ORDER BY i) AS prev
  FROM smp WHERE s != 0)
SELECT m.media_id, m.rate::INT AS rate, 1 AS channels,
       m.ns::BIGINT AS n_samples, m.peak::INT AS peak,
       round(m.sum_abs / m.ns, 6) AS mean_abs,
       coalesce(z.zc, 0)::BIGINT AS zero_crossings
FROM (SELECT media_id, any_value(ns) AS ns, any_value(rate) AS rate,
             max(abs(s)) AS peak, sum(abs(s))::DOUBLE AS sum_abs
      FROM smp GROUP BY media_id) m
LEFT JOIN (SELECT media_id, count(*)::BIGINT AS zc FROM nz
           WHERE prev IS NOT NULL AND sign(s) != sign(prev)
           GROUP BY media_id) z
ON m.media_id = z.media_id
"""


# --------------------------------------------------------------------------
# q159 — corpus-level MinHash Jaccard matrix between SOURCES
# (dedup.source_signatures / source_jaccard_matrix): one mergeable
# 32-slot signature per source (elementwise min over the source's
# distinct portable shingle hashes — sig(A∪B) = min(sig(A), sig(B)),
# pinned by test), pairwise agreement as the Jaccard estimate NEXT TO
# the exact shingle-set Jaccard, full 20×19/2 pair matrix. This is
# the whole-corpus audit that spots near-identical crawl snapshots at
# 100 TB for sources × 32 longs of state. The oracle replays shingle
# hashing, the (a·h32+b) mod M31 permutations (coefficients injected
# as literals), the per-source min fold, agreement counts AND the
# exact set Jaccard — zero tolerance.
# --------------------------------------------------------------------------

_Q159_PERM = 32


def q159_source_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _wide(spark, _t(spark, sf_dir, "documents"))
    out = dedup_ops.source_jaccard_matrix(docs, num_perm=_Q159_PERM)
    return out.select(
        "source_a",
        "source_b",
        "n_a",
        "n_b",
        "n_inter",
        F.round("jaccard_exact", 6).alias("jaccard_exact"),
        "agree",
        F.round("jaccard_est", 6).alias("jaccard_est"),
    )


def _q159_sql() -> str:
    from odin_rs_spark.operators.dedup import _perm_coeffs

    coeffs = _perm_coeffs(_Q159_PERM)
    a_list = "[" + ", ".join(str(a) for a, _ in coeffs) + "]"
    b_list = "[" + ", ".join(str(b) for _, b in coeffs) + "]"
    return (
        r"""
WITH d AS (
  SELECT source,
         string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
  FROM documents),
sh AS (
  SELECT source,
         unnest(list_distinct([array_to_string(list_slice(w, i, i + 2), ' ')
                               for i in range(1, greatest(len(w) - 2, 1) + 1)])) AS s
  FROM d),
hs AS (SELECT DISTINCT source, """
        + _H60.format(x="s")
        + f""" AS h FROM sh),
perms AS (
  SELECT p.range AS pos, {a_list}[p.range + 1] AS a,
         {b_list}[p.range + 1] AS b
  FROM range({_Q159_PERM}) p),
sig AS (
  SELECT source, pos, min(((h % 4294967296) * a + b) % 2147483647) AS v
  FROM hs, perms GROUP BY source, pos),
est AS (
  SELECT x.source AS source_a, y.source AS source_b,
         sum(CASE WHEN x.v = y.v THEN 1 ELSE 0 END)::BIGINT AS agree
  FROM sig x JOIN sig y ON x.pos = y.pos AND x.source < y.source
  GROUP BY 1, 2),
sizes AS (SELECT source, count(*)::BIGINT AS n FROM hs GROUP BY source),
inter AS (
  SELECT x.source AS source_a, y.source AS source_b,
         count(*)::BIGINT AS n_inter
  FROM hs x JOIN hs y ON x.h = y.h AND x.source < y.source
  GROUP BY 1, 2)
SELECT b.source_a, b.source_b, b.n_a, b.n_b,
       coalesce(i.n_inter, 0)::BIGINT AS n_inter,
       round(coalesce(i.n_inter, 0)
             / (b.n_a + b.n_b - coalesce(i.n_inter, 0))::DOUBLE, 6)
         AS jaccard_exact,
       coalesce(e.agree, 0)::BIGINT AS agree,
       round(coalesce(e.agree, 0) / {float(_Q159_PERM)}, 6) AS jaccard_est
FROM (SELECT sa.source AS source_a, sb.source AS source_b,
             sa.n AS n_a, sb.n AS n_b
      FROM sizes sa, sizes sb WHERE sa.source < sb.source) b
LEFT JOIN inter i ON b.source_a = i.source_a AND b.source_b = i.source_b
LEFT JOIN est e ON b.source_a = e.source_a AND b.source_b = e.source_b
"""
    )


# --------------------------------------------------------------------------
# q160 — weighted sampling without replacement (Efraimidis–Spirakis
# A-ES, corpus.weighted_sample — "take k docs ∝ length/quality" for a
# training-mix recipe): exponential clock e = −ln(u)/w from the
# portable-hash draw, k smallest win. One projection + one
# distributed TakeOrdered — the corpus never shuffles. The oracle
# replays the clock formula and the top-k cut verbatim (ln cross-
# engine per the q97 DSIR precedent).
# --------------------------------------------------------------------------

def q160_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.operators.corpus import weighted_sample

    docs = _t(spark, sf_dir, "documents")
    out = weighted_sample(docs, k=40, weight_col="n_chars")
    return out.select(
        "doc_id", "lang", "source", "n_chars",
        F.round("clock", 6).alias("clock"),
    )


Q160_SQL = """
WITH w AS (
  SELECT doc_id, lang, source, n_chars,
         (CAST(concat('0x', substr(md5(doc_id::VARCHAR || 'wsample'), 1, 15))
               AS BIGINT) + 0.5) / 1152921504606846976.0 AS u
  FROM documents WHERE n_chars > 0)
SELECT doc_id, lang, source, n_chars,
       round(-ln(u) / n_chars::DOUBLE, 6) AS clock
FROM w ORDER BY -ln(u) / n_chars::DOUBLE LIMIT 40
"""


# --------------------------------------------------------------------------
# q161 — GIF decode (sources/gifcodec — the LAST ubiquitous crawl
# image format the engine lacked: LZW index streams, palettes, 4-pass
# interlace): formula gradient images v(x,y) = (m + x·a + y·b) % 256,
# odd media ids INTERLACED (so the Adam7-style row shuffle sits on the
# verified path), decoded through the SAME image_tile_stats pipeline
# as PNG (q128) and JPEG (q144). GIF decode is lossless, so per-tile
# integer luma means replay from the pixel formula with zero
# tolerance; the gray identity palette makes luma(RGB) = v exactly
# ((v + 2v + v) // 4 = v).
# --------------------------------------------------------------------------

def _formula_gif_media(spark: SparkSession, n: int):
    def one(mid: int) -> bytes:
        import numpy as np

        from odin_rs_spark.sources.gifcodec import encode_gif

        seed = mid % 35
        a, b, m = seed % 5, seed % 7 + 1, (seed * 29) % 256
        ys, xs = np.mgrid[0:24, 0:32]
        vals = ((m + xs * a + ys * b) % 256).astype(np.uint8)
        return encode_gif(vals, interlace=bool(mid % 2))

    return _executor_blobs(spark, n, content=one).select(
        F.col("id").alias("media_id"), "content"
    )


def q161_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.operators.multimodal import image_tile_stats

    media = _formula_gif_media(spark, 70)
    tiles = image_tile_stats(media, nx=4, ny=3)
    return tiles.select(
        "media_id",
        "tile_x",
        "tile_y",
        "n_px",
        F.round("mean_luma", 6).alias("mean_luma"),
    )


Q161_SQL = """
WITH par AS (
  SELECT r.range AS media_id, (r.range % 35) AS seed FROM range(70) r),
pp AS (
  SELECT media_id, seed % 5 AS a, seed % 7 + 1 AS b, (seed * 29) % 256 AS m
  FROM par),
px AS (
  SELECT media_id, x.range // 8 AS tile_x, y.range // 8 AS tile_y,
         (m + x.range * a + y.range * b) % 256 AS v
  FROM pp, range(32) x, range(24) y)
SELECT media_id, tile_x::INT AS tile_x, tile_y::INT AS tile_y,
       count(*)::BIGINT AS n_px, round(sum(v)::DOUBLE / count(*), 6) AS mean_luma
FROM px GROUP BY media_id, tile_x, tile_y
"""


# --------------------------------------------------------------------------
# q162 — HTML → text extraction + link-density quality
# (operators/text.html_to_text / link_density — the step between the
# WARC scan (q153) and every text-quality operator; C4/CCNet/
# RefinedWeb all start from HTML response bodies): formula HTML is
# wrapped around each document (title/h1 with entities, style+script
# decoys whose content must NOT leak into the text, every third doc
# gets two nav anchors), extracted JVM-side with pure regexp column
# expressions, and the oracle RE-RUNS the identical spec in RE2 —
# script/style drop, tag strip, the named-entity chain, the numeric
# character-reference fold (decimal + hex, out-of-range kept
# verbatim, &amp; last so '&amp;#190;' stays literal), whitespace
# collapse, anchor-text density. text_md5 pins the exact extracted
# string; the oracle strip SQL is GENERATED from the impl's entity
# table (_q162_strip) so the two sides cannot drift.
# --------------------------------------------------------------------------

_Q162_PRE = (
    '<html><head><title>Doc ', '</title><style>body{margin:0}</style>'
    '<script>var q = "<p>not text</p>";</script></head><body><h1>Doc&nbsp;',
    # comment-bearing markup (VERDICT r8 #2): commented-out nav plus an
    # IE conditional comment — neither may leak into the visible text,
    # and the '-->' tail must not survive as an artifact
    '</h1><!-- <p>old nav block</p> -->'
    '<!--[if lt IE 9]><p>please upgrade</p><![endif]--><p>', '</p>',
    '<a href="/nav">home navigation</a><a href="/more">more links here</a>',
    # entity-bearing tail (VERDICT r7 #3): decimal + hex numeric
    # references, a named curly quote, and an out-of-range reference
    # that must survive verbatim; &amp;#190; must decode to the
    # LITERAL text '&#190;' (single-pass semantics)
    '<p>tail &amp; fin &#8212; caf&#xE9; &rsquo;quote '
    "&#0; amp-num &amp;#190;</p></body></html>",
)


def q162_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.operators.text import html_to_text, link_density

    docs = _wide(spark, _t(spark, sf_dir, "documents").select("doc_id", "text"))
    i = F.col("doc_id")
    p = _Q162_PRE
    html = F.concat(
        F.lit(p[0]), i.cast("string"), F.lit(p[1]), i.cast("string"),
        F.lit(p[2]), F.col("text"), F.lit(p[3]),
        F.when(i % 3 == 0, p[4]).otherwise(F.lit("")),
        F.lit(p[5]),
    )
    h = docs.select("doc_id", html.alias("html"))
    return h.select(
        "doc_id",
        F.md5(html_to_text("html").cast("binary")).alias("text_md5"),
        F.length(html_to_text("html")).alias("n_chars"),
        F.round(link_density("html"), 6).alias("link_density"),
    )


def _q162_strip(x: str) -> str:
    """DuckDB replay of operators/text._strip_tags, GENERATED from the
    same entity table so the two sides cannot drift: tag strip → named
    entities → numeric-reference fold (list_reduce + chr, decimal and
    0x-hex, out-of-range tokens kept verbatim) → &amp; last →
    whitespace collapse."""
    inner = f"regexp_replace({x}, '(?is)<[^>]*>', ' ', 'g')"
    for ent, rep in text_ops._HTML_ENTITIES:
        r = rep.replace("'", "''")
        inner = f"replace({inner}, '{ent}', '{r}')"
    cp = (
        "CASE WHEN lower(substr(t, 3, 1)) = 'x'"
        " THEN ('0x' || substr(t, 4, length(t) - 4))::BIGINT"
        " ELSE substr(t, 3, length(t) - 3)::BIGINT END"
    )
    num = (
        f"list_reduce(list_prepend({inner}, "
        f"list_distinct(regexp_extract_all({inner}, "
        "'&#[0-9]+;|&#[xX][0-9A-Fa-f]+;'))), "
        f"(acc, t) -> replace(acc, t, "
        f"CASE WHEN ({cp}) BETWEEN 1 AND 1114111 "
        f"AND NOT (({cp}) BETWEEN 55296 AND 57343) "
        f"THEN chr(({cp})::INT) ELSE t END))"
    )
    return (
        r"trim(regexp_replace(replace(" + num + r", '&amp;', '&'),"
        r" '\s+', ' ', 'g'))"
    )


class _StripFmt:
    """Adapter keeping the existing `_Q162_STRIP.format(x=...)` call
    sites working on top of the generated builder."""

    @staticmethod
    def format(x: str) -> str:
        return _q162_strip(x)


_Q162_STRIP = _StripFmt()

Q162_SQL = (
    r"""
WITH h AS (
  SELECT doc_id,
         '<html><head><title>Doc ' || doc_id::VARCHAR
         || '</title><style>body{margin:0}</style><script>var q = "<p>not text</p>";</script></head><body><h1>Doc&nbsp;'
         || doc_id::VARCHAR || '</h1><!-- <p>old nav block</p> --><!--[if lt IE 9]><p>please upgrade</p><![endif]--><p>' || text || '</p>'
         || CASE WHEN doc_id % 3 = 0
                 THEN '<a href="/nav">home navigation</a><a href="/more">more links here</a>'
                 ELSE '' END
         || '<p>tail &amp; fin &#8212; caf&#xE9; &rsquo;quote &#0; amp-num &amp;#190;</p></body></html>' AS html
  FROM documents),
body AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(regexp_replace(html,
           '(?s)<!--.*?-->', ' ', 'g'),
           '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
           '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS b
  FROM h),
strip AS (
  SELECT doc_id, """
    + _Q162_STRIP.format(x="b")
    + """ AS t, """
    + _Q162_STRIP.format(
        # array_to_string([]) is NULL in DuckDB — coalesce to ''
        x="coalesce(array_to_string(regexp_extract_all(b, '(?is)<a[^>]*>(.*?)</a>', 1), ' '), '')"
    )
    + """ AS at
  FROM body)
SELECT doc_id, md5(t) AS text_md5, length(t)::INT AS n_chars,
       CASE WHEN length(t) > 0
            THEN round(length(at) / length(t)::DOUBLE, 6) END AS link_density
FROM strip
"""
)


# --------------------------------------------------------------------------
# q163 — sitemap XML scan (crawl-frontier planning: sitemaps are how a
# crawler discovers the URL universe BEFORE any fetch): formula
# <urlset> documents parsed JVM-side with Spark 4's native from_xml
# (no Python in the parse), exploded to one row per <url>, composed
# with functions/web registered_domain — the same URL machinery as
# q154. Hosts live under .co.uk so the two-level-suffix rule is on
# the verified path. The oracle regenerates url counts, host
# cardinality, priorities and lastmod bounds from the formula.
# --------------------------------------------------------------------------

def q163_sitemap_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.functions.web import host_of, registered_domain

    s = F.col("id")
    k = F.col("k")
    pr = (
        F.when(k % 4 == 0, "0.0")
        .when(k % 4 == 1, "0.25")
        .when(k % 4 == 2, "0.5")
        .otherwise("0.75")
    )
    entry = F.concat(
        F.lit("<url><loc>https://sub"),
        (k % 3).cast("string"),
        F.lit(".site"),
        s.cast("string"),
        F.lit(".co.uk/p/"),
        k.cast("string"),
        F.lit("</loc><lastmod>2026-08-0"),
        (1 + k % 9).cast("string"),
        F.lit("</lastmod><priority>"),
        pr,
        F.lit("</priority></url>"),
    )
    xml = (
        spark.range(12)
        .select(
            "id",
            F.explode(F.sequence(F.lit(0), 4 + s % 4)).alias("k"),
        )
        .select("id", entry.alias("e"))
        .groupBy("id")
        .agg(
            F.concat(
                F.lit("<urlset>"),
                F.array_join(F.array_sort(F.collect_list("e")), ""),
                F.lit("</urlset>"),
            ).alias("xml")
        )
    )
    parsed = xml.select(
        F.col("id").alias("site"),
        F.explode(
            F.from_xml(
                F.col("xml"),
                "url ARRAY<STRUCT<loc STRING, lastmod STRING, priority DOUBLE>>",
            )["url"]
        ).alias("u"),
    )
    rows = parsed.select(
        "site",
        F.col("u.loc").alias("loc"),
        F.col("u.lastmod").alias("lastmod"),
        F.col("u.priority").alias("priority"),
    ).withColumn("domain", registered_domain(host_of(F.col("loc"))))
    return rows.groupBy("site", "domain").agg(
        F.count(F.lit(1)).alias("n_urls"),
        F.countDistinct(host_of(F.col("loc"))).alias("n_hosts"),
        F.round(F.max("priority"), 6).alias("max_priority"),
        F.min("lastmod").alias("min_lastmod"),
        F.max("lastmod").alias("max_lastmod"),
    )


Q163_SQL = """
WITH u AS (
  SELECT s.range AS site, k.range AS k
  FROM range(12) s, range(9) k WHERE k.range <= 4 + s.range % 4)
SELECT site, 'site' || site::VARCHAR || '.co.uk' AS domain,
       count(*)::BIGINT AS n_urls,
       count(DISTINCT k % 3)::BIGINT AS n_hosts,
       round(max(CASE k % 4 WHEN 0 THEN 0.0 WHEN 1 THEN 0.25
                            WHEN 2 THEN 0.5 ELSE 0.75 END)::DOUBLE, 6)
         AS max_priority,
       min('2026-08-0' || (1 + k % 9)::VARCHAR) AS min_lastmod,
       max('2026-08-0' || (1 + k % 9)::VARCHAR) AS max_lastmod
FROM u GROUP BY site
"""


# --------------------------------------------------------------------------
# q164 — robots.txt crawl-policy evaluation (operators/web — RFC
# 9309: the gate between a crawl frontier and what a pipeline may
# fetch, and a dataset-build compliance filter): formula robots files
# (a '*' group with Disallow/Allow prefix pairs; even hosts add an
# odinbot group with Disallow: /) parsed by robots_rules, then
# robots_allowed evaluated for BOTH a generic crawler and odinbot.
# The oracle does NOT replay the parser: it derives allowed/rule_len
# analytically from the policy formula (the q154 pattern), so
# agreement proves grouping, specific-group override, longest-prefix
# and tie rules — not merely two engines running one implementation.
# --------------------------------------------------------------------------

def q164_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.operators.web import robots_allowed, robots_rules

    n = F.col("id")
    robots_txt = F.concat(
        F.lit("# policy\nUser-agent: *\nDisallow: /block"),
        (n % 4).cast("string"),
        F.lit("\nAllow: /block"),
        (n % 4).cast("string"),
        F.lit("/ok\n"),
        F.when(
            n % 2 == 0, F.lit("User-agent: odinbot\nDisallow: /\n")
        ).otherwise(F.lit("")),
    )
    robots = spark.range(12).select(
        F.concat(F.lit("h"), n.cast("string"), F.lit(".example")).alias("host"),
        robots_txt.alias("robots_txt"),
    )
    # rules is a tiny dim (one row per host/agent/rule) consumed by
    # the has-specific-group probe AND the match join of every
    # robots_allowed pass, so the line-explode + window-sum parse
    # pipeline was re-planned per consumer; materialize it once
    # (guide §5.3 — it is bounded by the robots corpus, not the
    # frontier)
    rules = robots_rules(robots).localCheckpoint(eager=True)

    k = F.col("k")
    path = (
        F.when(k % 5 == 0, F.concat(F.lit("/block"), (n % 4).cast("string"), F.lit("/x"), k.cast("string")))
        .when(k % 5 == 1, F.concat(F.lit("/block"), (n % 4).cast("string"), F.lit("/ok/y"), k.cast("string")))
        .when(k % 5 == 2, F.concat(F.lit("/open/"), k.cast("string")))
        .when(k % 5 == 3, F.concat(F.lit("/block"), ((n + 1) % 4).cast("string"), F.lit("/z"), k.cast("string")))
        .otherwise(F.concat(F.lit("/"), k.cast("string"), F.lit(".html")))
    )
    urls = (
        spark.range(12)
        .select("id", F.explode(F.sequence(F.lit(0), F.lit(9))).alias("k"))
        .select(
            F.concat(F.lit("h"), n.cast("string"), F.lit(".example")).alias(
                "host"
            ),
            path.alias("path"),
        )
    )
    out = None
    for agent in ("genericbot", "odinbot"):
        part = robots_allowed(urls, rules, agent=agent).select(
            F.lit(agent).alias("agent"), "host", "path", "allowed", "rule_len"
        )
        out = part if out is None else out.unionByName(part)
    return out


Q164_SQL = """
WITH u AS (SELECT h.range AS n, k.range AS k FROM range(12) h, range(10) k),
p AS (
  SELECT n, k, 'h' || n::VARCHAR || '.example' AS host,
         CASE k % 5
           WHEN 0 THEN '/block' || (n % 4)::VARCHAR || '/x' || k::VARCHAR
           WHEN 1 THEN '/block' || (n % 4)::VARCHAR || '/ok/y' || k::VARCHAR
           WHEN 2 THEN '/open/' || k::VARCHAR
           WHEN 3 THEN '/block' || ((n + 1) % 4)::VARCHAR || '/z' || k::VARCHAR
           ELSE '/' || k::VARCHAR || '.html' END AS path
  FROM u)
SELECT 'genericbot' AS agent, host, path,
       CASE WHEN k % 5 = 0 THEN 0 ELSE 1 END AS allowed,
       CASE k % 5 WHEN 0 THEN 7 WHEN 1 THEN 10 ELSE 0 END AS rule_len
FROM p
UNION ALL
SELECT 'odinbot', host, path,
       CASE WHEN n % 2 = 0 THEN 0
            WHEN k % 5 = 0 THEN 0 ELSE 1 END,
       CASE WHEN n % 2 = 0 THEN 1
            WHEN k % 5 = 0 THEN 7
            WHEN k % 5 = 1 THEN 10 ELSE 0 END
FROM p
"""


# --------------------------------------------------------------------------
# q165 — MinHash-LSH banding planner (dedup.lsh_band_plan — MMDS
# ch.3 S-curve math: J* = (1/b)^(1/r), P(J) = 1 − (1 − J^r)^b for
# every integer split of num_perm): the parameter-tuning table behind
# the q24/q27 recall claims, as a composable DataFrame. Pure codegen
# math on a range frame; the oracle replays the closed forms with
# DuckDB pow at 6dp.
# --------------------------------------------------------------------------

def q165_lsh_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = dedup_ops.lsh_band_plan(
        spark, num_perm=128, j_values=(0.5, 0.6, 0.7, 0.8, 0.9, 0.95)
    )
    return out.select(
        "bands",
        "rows_per_band",
        F.round("j_threshold", 6).alias("j_threshold"),
        "j",
        F.round("p_candidate", 6).alias("p_candidate"),
    )


Q165_SQL = """
WITH b AS (
  SELECT d.range::INT + 1 AS bands, (128 // (d.range + 1))::INT AS rows_per_band
  FROM range(128) d WHERE 128 % (d.range + 1) = 0),
j AS (SELECT unnest([0.5, 0.6, 0.7, 0.8, 0.9, 0.95])::DOUBLE AS j)
SELECT bands, rows_per_band,
       round(pow(1.0 / bands, 1.0 / rows_per_band), 6) AS j_threshold,
       j,
       round(1.0 - pow(1.0 - pow(j, rows_per_band::DOUBLE), bands::DOUBLE), 6)
         AS p_candidate
FROM b, j
"""


# --------------------------------------------------------------------------
# q166 — crawl-snapshot diff (the monthly-recrawl dedup pattern:
# Common-Crawl-style pipelines keep only what CHANGED between
# snapshots): two corpus snapshots keyed by canonical URL — the new
# one drops every 11th page, rewrites every 7th (of the survivors),
# and adds fresh pages — full-outer-joined on the URL key with
# content-hash compare, each page classified
# added/removed/modified/unchanged. Scale shape: one shuffle per
# side on the join key, hashes (not texts) compared; at 100 TB this
# is THE pattern that turns a recrawl into an O(delta) ingest. The
# oracle derives the classification analytically from the snapshot
# formula.
# --------------------------------------------------------------------------

def q166_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    i = F.col("doc_id")
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example/p/"), i.cast("string")
    )
    old = docs.select(
        url.alias("url"), F.md5(F.col("text").cast("binary")).alias("h_old")
    )
    new = (
        docs.filter(i % 11 != 0)
        .select(
            url.alias("url"),
            F.md5(
                F.when(
                    i % 7 == 0, F.concat(F.col("text"), F.lit(" v2"))
                ).otherwise(F.col("text")).cast("binary")
            ).alias("h_new"),
        )
        .unionByName(
            docs.filter(i % 13 == 0).select(
                F.concat(
                    F.lit("https://"), F.col("source"),
                    F.lit(".example/new/"), i.cast("string"),
                ).alias("url"),
                F.md5(F.concat(F.col("text"), F.lit(" fresh")).cast("binary")).alias(
                    "h_new"
                ),
            )
        )
    )
    diff = old.join(new, "url", "full_outer").withColumn(
        "status",
        F.when(F.col("h_old").isNull(), "added")
        .when(F.col("h_new").isNull(), "removed")
        .when(F.col("h_old") == F.col("h_new"), "unchanged")
        .otherwise("modified"),
    )
    return diff.groupBy("status").agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.countDistinct("url").alias("n_urls"),
        F.min("url").alias("min_url"),
        F.max("url").alias("max_url"),
    )


Q166_SQL = """
WITH d AS (
  SELECT doc_id AS i, source,
         'https://' || source || '.example/p/' || doc_id::VARCHAR AS url
  FROM documents),
cls AS (
  SELECT url,
         CASE WHEN i % 11 = 0 THEN 'removed'
              WHEN i % 7 = 0 THEN 'modified'
              ELSE 'unchanged' END AS status
  FROM d
  UNION ALL
  SELECT 'https://' || source || '.example/new/' || i::VARCHAR, 'added'
  FROM d WHERE i % 13 = 0)
SELECT status, count(*)::BIGINT AS n_pages,
       count(DISTINCT url)::BIGINT AS n_urls,
       min(url) AS min_url, max(url) AS max_url
FROM cls GROUP BY status
"""


# --------------------------------------------------------------------------
# q167 — block-level MAIN-TEXT extraction (operators/text.
# extract_main_text — the readability/trafilatura step q162's
# doc-level strip approximates): split on closing block tags, keep
# only prose blocks (≥25 visible chars AND anchor text < 1/3 of the
# block — an INTEGER comparison, no float boundary), rejoin in
# document order. The formula wraps each document in a nav div
# (link-heavy → dropped), the doc text (kept), a stub li (short →
# dropped) and, for even ids, a closing prose paragraph (kept). The
# oracle replays blocks via unnest + generate_subscripts and the
# identical strip/keep rules; main_md5 pins the exact extracted
# string.
# --------------------------------------------------------------------------

def q167_main_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.operators.text import extract_main_text

    docs = _wide(spark, _t(spark, sf_dir, "documents").select("doc_id", "text"))
    i = F.col("doc_id")
    html = F.concat(
        F.lit('<div>nav <a href="/">home</a> <a href="/x">about page</a></div><!-- <li>commented stub</li> --><p>'),
        F.col("text"),
        F.lit("</p><li>stub "),
        (i % 10).cast("string"),
        F.lit("</li>"),
        F.when(
            i % 2 == 0,
            F.concat(
                F.lit("<p>closing prose paragraph number "),
                i.cast("string"),
                F.lit(" with enough characters &#8230;and caf&#xE9; &mdash; yes</p>"),
            ),
        ).otherwise(F.lit("")),
    )
    m = docs.select("doc_id", extract_main_text(html).alias("m"))
    return m.select(
        "doc_id",
        F.md5(F.col("m.main_text").cast("binary")).alias("main_md5"),
        F.length("m.main_text").alias("main_len"),
        F.col("m.n_blocks").alias("n_blocks"),
        F.col("m.n_kept").alias("n_kept"),
    )


Q167_SQL = (
    r"""
WITH h AS (
  SELECT doc_id,
         '<div>nav <a href="/">home</a> <a href="/x">about page</a></div><!-- <li>commented stub</li> --><p>'
         || text || '</p><li>stub ' || (doc_id % 10)::VARCHAR || '</li>'
         || CASE WHEN doc_id % 2 = 0
                 THEN '<p>closing prose paragraph number ' || doc_id::VARCHAR
                      || ' with enough characters &#8230;and caf&#xE9; &mdash; yes</p>'
                 ELSE '' END AS html
  FROM documents),
body AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(regexp_replace(html,
           '(?s)<!--.*?-->', ' ', 'g'),
           '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
           '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS b
  FROM h),
bl AS (
  SELECT doc_id,
         unnest(string_split_regex(b,
           '(?is)</(?:p|div|li|h[1-6]|tr|article|section)>')) AS blk,
         generate_subscripts(string_split_regex(b,
           '(?is)</(?:p|div|li|h[1-6]|tr|article|section)>'), 1) AS ord
  FROM body),
st AS (
  SELECT doc_id, ord, """
    + _Q162_STRIP.format(x="blk")
    + """ AS t, """
    + _Q162_STRIP.format(
        x="coalesce(array_to_string(regexp_extract_all(blk, '(?is)<a[^>]*>(.*?)</a>', 1), ' '), '')"
    )
    + """ AS at
  FROM bl)
SELECT doc_id,
       md5(coalesce(string_agg(t, ' ' ORDER BY ord)
             FILTER (WHERE length(t) >= 25 AND length(at) * 3 < length(t)),
           '')) AS main_md5,
       length(coalesce(string_agg(t, ' ' ORDER BY ord)
             FILTER (WHERE length(t) >= 25 AND length(at) * 3 < length(t)),
           ''))::INT AS main_len,
       count(*)::INT AS n_blocks,
       count(*) FILTER (WHERE length(t) >= 25 AND length(at) * 3 < length(t))
         ::INT AS n_kept
FROM st GROUP BY doc_id
"""
)


# --------------------------------------------------------------------------
# q168 — the Gopher quality-rule table (Rae et al. 2021 Appendix A,
# operators/text.gopher_quality_flags — the de-facto baseline rule
# set for LLM corpus filtering): per-document word-count / mean-word-
# length / symbol-ratio / alpha-word / stop-word rules, every flag an
# integer cross-multiplication with NO float boundary anywhere. The
# oracle replays tokenization, counts and all five rules with zero
# tolerance.
# --------------------------------------------------------------------------

def q168_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.operators.text import gopher_quality_flags

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = gopher_quality_flags(docs)
    return out.select(
        "doc_id",
        "n_words",
        "words_len",
        "n_sym",
        "n_alpha_words",
        "n_stop_hits",
        "f_wordcount",
        "f_wordlen",
        "f_symbol",
        "f_alpha",
        "f_stop",
        "gopher_pass",
    )


Q168_SQL = r"""
WITH w AS (
  SELECT doc_id,
         trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t,
         string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ws
  FROM documents),
c AS (
  SELECT doc_id,
         len(ws)::INT AS n_words,
         list_sum(list_transform(ws, x -> length(x)))::INT AS words_len,
         ((length(t) - length(replace(t, '#', '')))
          + (length(t) - length(replace(t, '...', ''))) // 3)::BIGINT AS n_sym,
         len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]')))::INT
           AS n_alpha_words,
         len(list_intersect(ws, ['the','be','to','of','and','that','have','with']))::INT
           AS n_stop_hits
  FROM w)
SELECT doc_id, n_words, words_len, n_sym, n_alpha_words, n_stop_hits,
       CASE WHEN n_words >= 50 AND n_words <= 100000 THEN 1 ELSE 0 END AS f_wordcount,
       CASE WHEN 3 * n_words <= words_len AND words_len <= 10 * n_words
            THEN 1 ELSE 0 END AS f_wordlen,
       CASE WHEN 10 * n_sym <= n_words THEN 1 ELSE 0 END AS f_symbol,
       CASE WHEN 5 * n_alpha_words >= 4 * n_words THEN 1 ELSE 0 END AS f_alpha,
       CASE WHEN n_stop_hits >= 2 THEN 1 ELSE 0 END AS f_stop,
       CASE WHEN n_words >= 50 AND n_words <= 100000
              AND 3 * n_words <= words_len AND words_len <= 10 * n_words
              AND 10 * n_sym <= n_words
              AND 5 * n_alpha_words >= 4 * n_words
              AND n_stop_hits >= 2
            THEN 1 ELSE 0 END AS gopher_pass
FROM c
"""


# --------------------------------------------------------------------------
# q169 — crawl-to-corpus FLAGSHIP composition (the FineWeb/RefinedWeb
# pipeline shape, chained from this round's verified pieces): formula
# HTML (q167's wrap) → block-level main-text extraction → the Gopher
# rule table evaluated ON THE EXTRACTED TEXT → per-(n_kept,
# gopher_pass) corpus stats. One operator's output feeds the next
# with no materialization; the oracle chains the q167 block replay
# into the q168 rule replay — if any stage drifts, the chain breaks.
# --------------------------------------------------------------------------

def q169_crawl_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.operators.text import (
        extract_main_text,
        gopher_quality_flags,
    )

    docs = _wide(spark, _t(spark, sf_dir, "documents").select("doc_id", "text"))
    i = F.col("doc_id")
    html = F.concat(
        F.lit('<div>nav <a href="/">home</a> <a href="/x">about page</a></div><!-- <li>commented stub</li> --><p>'),
        F.col("text"),
        F.lit("</p><li>stub "),
        (i % 10).cast("string"),
        F.lit("</li>"),
        F.when(
            i % 2 == 0,
            F.concat(
                F.lit("<p>closing prose paragraph number "),
                i.cast("string"),
                F.lit(" with enough characters &#8230;and caf&#xE9; &mdash; yes</p>"),
            ),
        ).otherwise(F.lit("")),
    )
    extracted = docs.select(
        "doc_id", extract_main_text(html).alias("m")
    ).select(
        "doc_id",
        F.col("m.n_kept").alias("n_kept"),
        F.col("m.main_text").alias("text"),
    )
    gated = gopher_quality_flags(extracted)
    return gated.groupBy("n_kept", "gopher_pass").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").alias("sum_words"),
        F.sum("n_stop_hits").alias("sum_stops"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


Q169_SQL = (
    r"""
WITH h AS (
  SELECT doc_id,
         '<div>nav <a href="/">home</a> <a href="/x">about page</a></div><!-- <li>commented stub</li> --><p>'
         || text || '</p><li>stub ' || (doc_id % 10)::VARCHAR || '</li>'
         || CASE WHEN doc_id % 2 = 0
                 THEN '<p>closing prose paragraph number ' || doc_id::VARCHAR
                      || ' with enough characters &#8230;and caf&#xE9; &mdash; yes</p>'
                 ELSE '' END AS html
  FROM documents),
body AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(regexp_replace(html,
           '(?s)<!--.*?-->', ' ', 'g'),
           '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
           '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS b
  FROM h),
bl AS (
  SELECT doc_id,
         unnest(string_split_regex(b,
           '(?is)</(?:p|div|li|h[1-6]|tr|article|section)>')) AS blk,
         generate_subscripts(string_split_regex(b,
           '(?is)</(?:p|div|li|h[1-6]|tr|article|section)>'), 1) AS ord
  FROM body),
st AS (
  SELECT doc_id, ord, """
    + _Q162_STRIP.format(x="blk")
    + """ AS t, """
    + _Q162_STRIP.format(
        x="coalesce(array_to_string(regexp_extract_all(blk, '(?is)<a[^>]*>(.*?)</a>', 1), ' '), '')"
    )
    + r""" AS at
  FROM bl),
main AS (
  SELECT doc_id,
         coalesce(string_agg(t, ' ' ORDER BY ord)
           FILTER (WHERE length(t) >= 25 AND length(at) * 3 < length(t)),
           '') AS mt,
         count(*) FILTER (WHERE length(t) >= 25 AND length(at) * 3 < length(t))
           ::INT AS n_kept
  FROM st GROUP BY doc_id),
w AS (
  SELECT doc_id, n_kept,
         string_split(trim(regexp_replace(lower(mt), '\s+', ' ', 'g')), ' ') AS ws,
         trim(regexp_replace(lower(mt), '\s+', ' ', 'g')) AS t
  FROM main),
c AS (
  SELECT doc_id, n_kept,
         len(ws)::INT AS n_words,
         list_sum(list_transform(ws, x -> length(x)))::INT AS words_len,
         ((length(t) - length(replace(t, '#', '')))
          + (length(t) - length(replace(t, '...', ''))) // 3)::BIGINT AS n_sym,
         len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]')))::INT AS n_alpha,
         len(list_intersect(ws, ['the','be','to','of','and','that','have','with']))::INT
           AS n_stop
  FROM w)
SELECT n_kept,
       CASE WHEN n_words >= 50 AND n_words <= 100000
              AND 3 * n_words <= words_len AND words_len <= 10 * n_words
              AND 10 * n_sym <= n_words
              AND 5 * n_alpha >= 4 * n_words
              AND n_stop >= 2
            THEN 1 ELSE 0 END AS gopher_pass,
       count(*)::BIGINT AS n_docs,
       sum(n_words)::BIGINT AS sum_words,
       sum(n_stop)::BIGINT AS sum_stops,
       min(doc_id) AS min_doc, max(doc_id) AS max_doc
FROM c GROUP BY 1, 2
"""
)


# --------------------------------------------------------------------------
# q170 — Adam7-INTERLACED PNG decode (sources/imagecodec, r7: the one
# remaining PNG-subset gap a real crawl corpus hits — interlace 1 is
# seven independently-filtered pass streams scattered on the spec
# grid): formula gradients encoded interlaced with the filter-cycle
# mode (every pass stream exercises all five scanline filters),
# decoded through the SAME image_tile_stats pipeline as sequential
# PNG (q128), JPEG (q144) and GIF (q161). Lossless decode ⇒ per-tile
# integer means replay from the pixel formula with zero tolerance;
# any pass-grid or per-pass-filter mistake lands pixels in the wrong
# tile and breaks the hash.
# --------------------------------------------------------------------------

def _formula_ipng_media(spark: SparkSession, n: int):
    def one(mid: int) -> bytes:
        import numpy as np

        from odin_rs_spark.sources.imagecodec import encode_png

        seed = mid % 30
        a, b, m = seed % 6, seed % 5 + 2, (seed * 41) % 256
        ys, xs = np.mgrid[0:24, 0:32]
        vals = ((m + xs * a + ys * b) % 256).astype(np.uint8)
        return encode_png(vals, filter_mode="cycle", interlace=True)

    return _executor_blobs(spark, n, content=one).select(
        F.col("id").alias("media_id"), "content"
    )


def q170_interlaced_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.operators.multimodal import image_tile_stats

    media = _formula_ipng_media(spark, 60)
    tiles = image_tile_stats(media, nx=4, ny=3)
    return tiles.select(
        "media_id",
        "tile_x",
        "tile_y",
        "n_px",
        F.round("mean_luma", 6).alias("mean_luma"),
    )


Q170_SQL = """
WITH par AS (
  SELECT r.range AS media_id, (r.range % 30) AS seed FROM range(60) r),
pp AS (
  SELECT media_id, seed % 6 AS a, seed % 5 + 2 AS b, (seed * 41) % 256 AS m
  FROM par),
px AS (
  SELECT media_id, x.range // 8 AS tile_x, y.range // 8 AS tile_y,
         (m + x.range * a + y.range * b) % 256 AS v
  FROM pp, range(32) x, range(24) y)
SELECT media_id, tile_x::INT AS tile_x, tile_y::INT AS tile_y,
       count(*)::BIGINT AS n_px, round(sum(v)::DOUBLE / count(*), 6) AS mean_luma
FROM px GROUP BY media_id, tile_x, tile_y
"""


# --------------------------------------------------------------------------
# q171 — BMP decode (sources/imagecodec.decode_bmp — the last trivial
# crawl image format: BITMAPINFOHEADER, bottom-up rows, 4-byte row
# padding, 8-bit gray palette / 24-bit BGR): formula gradients at a
# deliberately NON-multiple-of-4 width (25 px → 3 pad bytes per row,
# the classic BMP decoding bug site), through the same
# image_tile_stats pipeline as PNG/JPEG/GIF. Lossless ⇒ per-tile
# integer means replay from the pixel formula with zero tolerance.
# --------------------------------------------------------------------------

def _formula_bmp_media(spark: SparkSession, n: int):
    def one(mid: int) -> bytes:
        import numpy as np

        from odin_rs_spark.sources.imagecodec import encode_bmp

        seed = mid % 25
        a, b, m = seed % 7, seed % 4 + 1, (seed * 53) % 256
        ys, xs = np.mgrid[0:18, 0:25]
        vals = ((m + xs * a + ys * b) % 256).astype(np.uint8)
        return encode_bmp(vals)

    return _executor_blobs(spark, n, content=one).select(
        F.col("id").alias("media_id"), "content"
    )


def q171_bmp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.operators.multimodal import image_tile_stats

    media = _formula_bmp_media(spark, 50)
    tiles = image_tile_stats(media, nx=5, ny=3)
    return tiles.select(
        "media_id",
        "tile_x",
        "tile_y",
        "n_px",
        F.round("mean_luma", 6).alias("mean_luma"),
    )


Q171_SQL = """
WITH par AS (
  SELECT r.range AS media_id, (r.range % 25) AS seed FROM range(50) r),
pp AS (
  SELECT media_id, seed % 7 AS a, seed % 4 + 1 AS b, (seed * 53) % 256 AS m
  FROM par),
px AS (
  SELECT media_id, x.range AS x, y.range AS y,
         (m + x.range * a + y.range * b) % 256 AS v
  FROM pp, range(25) x, range(18) y),
t AS (
  SELECT media_id,
         CASE WHEN x < 5 THEN 0 WHEN x < 10 THEN 1 WHEN x < 15 THEN 2
              WHEN x < 20 THEN 3 ELSE 4 END AS tile_x,
         y // 6 AS tile_y, v
  FROM px)
SELECT media_id, tile_x::INT AS tile_x, tile_y::INT AS tile_y,
       count(*)::BIGINT AS n_px, round(sum(v)::DOUBLE / count(*), 6) AS mean_luma
FROM t GROUP BY media_id, tile_x, tile_y
"""


# --------------------------------------------------------------------------
# q172 — G.711 mu-law WAV decode (sources/audiocodec format tag 7 —
# telephony speech corpora ship companded 8-bit, not PCM16): clips
# whose data bytes ARE the formula codes (mulaw_compress∘expand is
# the identity on codec fixed points, pinned by test), decoded
# through the UNCHANGED audio_stats pipeline. The oracle re-derives
# every expanded sample from the G.711 formula in SQL integer
# arithmetic — u = 255−code; t = (u%16)·8+132; s = ±(t·2^((u//16)%8)
# − 132) — then replays peak/mean_abs/zero-crossings; agreement
# proves the expand table bit-exact. Codes: (t·(seed%7+3) + 11·seed)
# % 256 over n = 300 + 20·seed samples at 8 kHz.
# --------------------------------------------------------------------------

def _formula_mulaw_media(spark: SparkSession, n: int):
    def one(mid: int) -> bytes:
        import numpy as np

        from odin_rs_spark.sources.audiocodec import (
            MULAW_TABLE,
            encode_wav_mulaw,
        )

        seed = mid % 20
        t = np.arange(300 + 20 * seed, dtype=np.int64)
        codes = (t * (seed % 7 + 3) + 11 * seed) % 256
        return encode_wav_mulaw(MULAW_TABLE[codes].astype(np.int16), rate=8000)

    return _executor_blobs(spark, n, content=one).select(
        F.col("id").alias("media_id"), "content"
    )


def q172_mulaw_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.operators.multimodal import audio_stats

    media = _formula_mulaw_media(spark, 20)
    out = audio_stats(media)
    return out.select(
        "media_id",
        "rate",
        "channels",
        "n_samples",
        "peak",
        F.round("mean_abs", 6).alias("mean_abs"),
        "zero_crossings",
    )


Q172_SQL = """
WITH par AS (
  SELECT r.range AS media_id, (r.range % 20) AS seed FROM range(20) r),
pp AS (
  SELECT media_id, seed % 7 + 3 AS f, 11 * seed AS ph,
         300 + 20 * seed AS ns FROM par),
smp AS (
  SELECT media_id, ns, i,
         255 - ((i * f + ph) % 256) AS u
  FROM pp, range(680) ii(i) WHERE i < ns),
ex AS (
  SELECT media_id, ns, i,
         CASE WHEN u >= 128
              THEN 132 - ((u % 16) * 8 + 132) * (1 << ((u // 16) % 8))
              ELSE ((u % 16) * 8 + 132) * (1 << ((u // 16) % 8)) - 132
         END AS s
  FROM smp),
nz AS (
  SELECT media_id, i, s,
         lag(s) OVER (PARTITION BY media_id ORDER BY i) AS prev
  FROM ex WHERE s != 0)
SELECT m.media_id, 8000 AS rate, 1 AS channels,
       m.ns::BIGINT AS n_samples, m.peak::INT AS peak,
       round(m.sum_abs / m.ns, 6) AS mean_abs,
       coalesce(z.zc, 0)::BIGINT AS zero_crossings
FROM (SELECT media_id, any_value(ns) AS ns, max(abs(s)) AS peak,
             sum(abs(s))::DOUBLE AS sum_abs
      FROM ex GROUP BY media_id) m
LEFT JOIN (SELECT media_id, count(*)::BIGINT AS zc FROM nz
           WHERE prev IS NOT NULL AND sign(s) != sign(prev)
           GROUP BY media_id) z
ON m.media_id = z.media_id
"""


# --------------------------------------------------------------------------
# q173 — G.711 A-LAW WAV decode (format tag 6, the European telephony
# twin of q172's mu-law): data bytes ARE the formula codes (A-law's
# 256 table values are distinct, so the codec is exactly invertible
# and encode_wav_alaw writes the codes back verbatim), decoded through
# the unchanged audio_stats pipeline. The oracle re-derives every
# sample from the alaw2linear formula — a = code XOR 85; seg/mantissa
# arithmetic; sign bit marks POSITIVE — in SQL integer math.
# Codes: (t·(seed%5+2) + 7·seed) % 256 over n = 280 + 24·seed.
# --------------------------------------------------------------------------

def _formula_alaw_media(spark: SparkSession, n: int):
    def one(mid: int) -> bytes:
        import numpy as np

        from odin_rs_spark.sources.audiocodec import (
            ALAW_TABLE,
            encode_wav_alaw,
        )

        seed = mid % 20
        t = np.arange(280 + 24 * seed, dtype=np.int64)
        codes = (t * (seed % 5 + 2) + 7 * seed) % 256
        return encode_wav_alaw(ALAW_TABLE[codes].astype(np.int16), rate=8000)

    return _executor_blobs(spark, n, content=one).select(
        F.col("id").alias("media_id"), "content"
    )


def q173_alaw_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.operators.multimodal import audio_stats

    media = _formula_alaw_media(spark, 20)
    out = audio_stats(media)
    return out.select(
        "media_id",
        "rate",
        "channels",
        "n_samples",
        "peak",
        F.round("mean_abs", 6).alias("mean_abs"),
        "zero_crossings",
    )


Q173_SQL = """
WITH par AS (
  SELECT r.range AS media_id, (r.range % 20) AS seed FROM range(20) r),
pp AS (
  SELECT media_id, seed % 5 + 2 AS f, 7 * seed AS ph,
         280 + 24 * seed AS ns FROM par),
smp AS (
  SELECT media_id, ns, i,
         xor((i * f + ph) % 256, 85) AS a
  FROM pp, range(736) ii(i) WHERE i < ns),
ex AS (
  SELECT media_id, ns, i,
         CASE WHEN a % 256 >= 128 THEN 1 ELSE -1 END *
         CASE (a // 16) % 8
           WHEN 0 THEN (a % 16) * 16 + 8
           WHEN 1 THEN (a % 16) * 16 + 264
           ELSE ((a % 16) * 16 + 264) * (1 << ((a // 16) % 8 - 1))
         END AS s
  FROM smp),
nz AS (
  SELECT media_id, i, s,
         lag(s) OVER (PARTITION BY media_id ORDER BY i) AS prev
  FROM ex WHERE s != 0)
SELECT m.media_id, 8000 AS rate, 1 AS channels,
       m.ns::BIGINT AS n_samples, m.peak::INT AS peak,
       round(m.sum_abs / m.ns, 6) AS mean_abs,
       coalesce(z.zc, 0)::BIGINT AS zero_crossings
FROM (SELECT media_id, any_value(ns) AS ns, max(abs(s)) AS peak,
             sum(abs(s))::DOUBLE AS sum_abs
      FROM ex GROUP BY media_id) m
LEFT JOIN (SELECT media_id, count(*)::BIGINT AS zc FROM nz
           WHERE prev IS NOT NULL AND sign(s) != sign(prev)
           GROUP BY media_id) z
ON m.media_id = z.media_id
"""


# --------------------------------------------------------------------------
# q174 — WARC scan with REAL HTTP wire decodings (VERDICT r7 #1: the
# single gate between the q153→q169 pipeline and actual Common Crawl
# segments, whose response records routinely carry Transfer-Encoding:
# chunked and/or Content-Encoding: gzip): two committed cc2_*.warc.gz
# fixtures whose HTTP bodies cycle identity / gzip / chunked /
# chunked+gzip by g%4 (g = fileno*10 + p; chunk size 7 + g%5 so chunk
# boundaries move), bodies from a page formula
# (tests/test_warc.py::test_cc2_fixture_files_match_formula is the
# provenance pin). The oracle regenerates every response row — URL,
# status, the applied-encodings column and the full DECODED body —
# from the formula and never touches the files: equality holds IFF
# dechunking (RFC 9112 §7.1) and content decoding (RFC 9110 §8.4)
# are byte-correct on top of the r7-verified record walk. Page g:
# url crawl{g%5}.example.net/doc/{g}; status 404 iff g%7=0; body =
# '<div><a href="/">home</a> nav links</div>' + an HTML comment
# carrying a '</p>' ('<!-- <p>retired promo</p> -->', the r9
# comment-strip pin) + '<p>' + prose + '</p>', prose word j
# (j < 40 + 15*(g%3)) = 'the' if j%5=0, 'and' if j%5=3,
# else 'w{(g*3+j)%11}x'.
# --------------------------------------------------------------------------

def _cc2_files(spark: SparkSession):
    import os as _os

    import odin_rs_spark

    fixture = _os.path.join(
        _os.path.dirname(_os.path.abspath(odin_rs_spark.__file__)),
        "sources",
        "fixtures",
        "cc2_*.warc.gz",
    )
    return spark.read.format("binaryFile").load(fixture)


def q174_warc_wire_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.sources.warc import warc_records

    recs = warc_records(_cc2_files(spark))
    return recs.filter(F.col("warc_type") == "response").select(
        "file",
        "rec_no",
        "target_uri",
        "http_status",
        "http_encoding",
        "body_len",
        "body_text",
    )


_CC2_BODY_SQL = """
pg AS (
  SELECT fn.range AS fileno, p.range AS p, fn.range * 10 + p.range AS g
  FROM range(2) fn, range(10) p),
pr AS (
  SELECT fileno, p, g,
         string_agg(CASE WHEN j.range % 5 = 0 THEN 'the'
                         WHEN j.range % 5 = 3 THEN 'and'
                         ELSE 'w' || ((g * 3 + j.range) % 11)::VARCHAR || 'x'
                    END, ' ' ORDER BY j.range) AS prose
  FROM pg, range(70) j WHERE j.range < 40 + 15 * (g % 3)
  GROUP BY fileno, p, g),
bdy AS (
  SELECT fileno, p, g,
         '<div><a href="/">home</a> nav links</div><!-- <p>retired promo</p> --><p>'
           || prose || '</p>' AS body_text
  FROM pr)
"""

Q174_SQL = (
    "WITH "
    + _CC2_BODY_SQL
    + """
SELECT 'cc2_0' || fileno::VARCHAR || '.warc.gz' AS file,
       (2 + 2 * p)::INT AS rec_no,
       'https://crawl' || (g % 5)::VARCHAR || '.example.net/doc/'
         || g::VARCHAR AS target_uri,
       CASE WHEN g % 7 = 0 THEN 404 ELSE 200 END AS http_status,
       CASE g % 4 WHEN 1 THEN 'gzip' WHEN 2 THEN 'chunked'
                  WHEN 3 THEN 'chunked+gzip' END AS http_encoding,
       length(body_text)::BIGINT AS body_len,
       body_text
FROM bdy
"""
)


# --------------------------------------------------------------------------
# q175 — crawl-to-corpus flagship ON THE WIRE-DECODED PATH (the q169
# composition re-rooted on q174's chunked/gzipped fixtures — the
# VERDICT r7 'chain it into the crawl flagship' ask): WARC scan →
# wire decode → 200-only gate → block-level main-text extraction →
# Gopher rule table on the EXTRACTED text → corpus rollup. The
# oracle chains the body formula into the q167 block replay into the
# q168 rule replay; any drift in dechunk/gunzip corrupts body_text
# and breaks the whole chain.
# --------------------------------------------------------------------------

def q175_crawl_wire_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.operators.text import (
        extract_main_text,
        gopher_quality_flags,
    )
    from odin_rs_spark.sources.warc import warc_records

    recs = warc_records(_cc2_files(spark))
    pages = recs.filter(
        (F.col("warc_type") == "response") & (F.col("http_status") == 200)
    )
    ext = pages.select(
        "target_uri",
        "http_encoding",
        extract_main_text(F.col("body_text")).alias("m"),
    ).select(
        "target_uri",
        "http_encoding",
        F.col("m.n_kept").alias("n_kept"),
        F.col("m.main_text").alias("text"),
    )
    gated = gopher_quality_flags(ext)
    return gated.groupBy("gopher_pass", "n_kept").agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.sum("n_words").alias("sum_words"),
        F.countDistinct("http_encoding").alias("n_encodings"),
        F.min("target_uri").alias("min_uri"),
        F.max("target_uri").alias("max_uri"),
    )


Q175_SQL = (
    "WITH "
    + _CC2_BODY_SQL
    + """,
ok AS (
  SELECT g,
         regexp_replace(body_text, '(?s)<!--.*?-->', ' ', 'g') AS body_text,
         'https://crawl' || (g % 5)::VARCHAR || '.example.net/doc/'
           || g::VARCHAR AS target_uri,
         CASE g % 4 WHEN 1 THEN 'gzip' WHEN 2 THEN 'chunked'
                    WHEN 3 THEN 'chunked+gzip' END AS http_encoding
  FROM bdy WHERE g % 7 != 0),
bl AS (
  SELECT g, target_uri, http_encoding,
         unnest(string_split_regex(body_text,
           '(?is)</(?:p|div|li|h[1-6]|tr|article|section)>')) AS blk,
         generate_subscripts(string_split_regex(body_text,
           '(?is)</(?:p|div|li|h[1-6]|tr|article|section)>'), 1) AS ord
  FROM ok),
st AS (
  SELECT g, target_uri, http_encoding, ord, """
    + _Q162_STRIP.format(x="blk")
    + """ AS t, """
    + _Q162_STRIP.format(
        x="coalesce(array_to_string(regexp_extract_all(blk, '(?is)<a[^>]*>(.*?)</a>', 1), ' '), '')"
    )
    + r""" AS at
  FROM bl),
main AS (
  SELECT g, target_uri, http_encoding,
         coalesce(string_agg(t, ' ' ORDER BY ord)
           FILTER (WHERE length(t) >= 25 AND length(at) * 3 < length(t)),
           '') AS mt,
         count(*) FILTER (WHERE length(t) >= 25 AND length(at) * 3 < length(t))
           ::INT AS n_kept
  FROM st GROUP BY g, target_uri, http_encoding),
w AS (
  SELECT g, target_uri, http_encoding, n_kept,
         string_split(trim(regexp_replace(lower(mt), '\s+', ' ', 'g')), ' ') AS ws,
         trim(regexp_replace(lower(mt), '\s+', ' ', 'g')) AS t
  FROM main),
c AS (
  SELECT g, target_uri, http_encoding, n_kept,
         len(ws)::INT AS n_words,
         list_sum(list_transform(ws, x -> length(x)))::INT AS words_len,
         ((length(t) - length(replace(t, '#', '')))
          + (length(t) - length(replace(t, '...', ''))) // 3)::BIGINT AS n_sym,
         len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]')))::INT AS n_alpha,
         len(list_intersect(ws, ['the','be','to','of','and','that','have','with']))::INT
           AS n_stop
  FROM w)
SELECT CASE WHEN n_words >= 50 AND n_words <= 100000
              AND 3 * n_words <= words_len AND words_len <= 10 * n_words
              AND 10 * n_sym <= n_words
              AND 5 * n_alpha >= 4 * n_words
              AND n_stop >= 2
            THEN 1 ELSE 0 END AS gopher_pass,
       n_kept,
       count(*)::BIGINT AS n_pages,
       sum(n_words)::BIGINT AS sum_words,
       count(DISTINCT http_encoding)::BIGINT AS n_encodings,
       min(target_uri) AS min_uri,
       max(target_uri) AS max_uri
FROM c GROUP BY 1, 2
"""
)


# --------------------------------------------------------------------------
# q176 — PROGRESSIVE JPEG decode (VERDICT r7 #2: SOF2 is the majority
# encoding for large web JPEGs — the last member of the crawl image
# matrix after GIF/BMP/PNG): the q144 DC-exact discipline through the
# progressive path. 60 media, 32x32, per-block value formula
# v = 2*((seed*3 + bx*7 + by*11) % 100) + 12 (seed = mid % 30, even →
# round-exact); EVEN media are grayscale SOF2 (5-scan script: DC
# first/refine + split AC bands + AC refinement), ODD media are
# r=g=b color SOF2 at 4:2:0 (9-scan script) — constant chroma decodes
# to exactly 128 so luma stays v bit-for-bit. The oracle replays the
# block formula; equality holds IFF spectral-selection accumulation,
# successive-approximation bit assembly, EOB-run handling and the
# 4:2:0 upsample are all exact. The general (non-DC-only) progressive
# path is pinned by test_progressive_equals_baseline_decode: the SOF2
# entropy coding is a lossless repackaging of the SOF0 coefficients.
# --------------------------------------------------------------------------

def _formula_progressive_media(spark: SparkSession, n: int):
    def one(mid: int) -> bytes:
        import numpy as np

        from odin_rs_spark.sources.jpegcodec import encode_jpeg_progressive

        seed = mid % 30
        byy, bxx = np.mgrid[0:4, 0:4]
        vals = 2 * ((seed * 3 + bxx * 7 + byy * 11) % 100) + 12
        img = np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1).astype(
            np.uint8
        )
        if mid % 2:
            rgb = np.stack([img, img, img], axis=-1)
            return encode_jpeg_progressive(rgb, subsampling="420")
        else:
            return encode_jpeg_progressive(img)

    return _executor_blobs(spark, n, content=one).select(
        F.col("id").alias("media_id"), "content"
    )


def q176_progressive_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.operators.multimodal import image_tile_stats

    media = _formula_progressive_media(spark, 60)
    tiles = image_tile_stats(media, nx=4, ny=4)
    return tiles.select(
        "media_id",
        "tile_x",
        "tile_y",
        "n_px",
        F.round("mean_luma", 6).alias("mean_luma"),
    )


Q176_SQL = """
WITH par AS (
  SELECT r.range AS media_id, (r.range % 30) AS seed FROM range(60) r),
blocks AS (
  SELECT media_id, bx.range AS tile_x, by.range AS tile_y,
         2 * ((seed * 3 + bx.range * 7 + by.range * 11) % 100) + 12 AS v
  FROM par, range(4) bx, range(4) by)
SELECT media_id, tile_x::INT AS tile_x, tile_y::INT AS tile_y,
       64::BIGINT AS n_px, round(v::DOUBLE, 6) AS mean_luma
FROM blocks
"""


# --------------------------------------------------------------------------
# q177 — robots.txt WILDCARD rules + duplicate frontier rows (the two
# r7 robots_allowed gaps closed together: RFC 9309 §2.2.3 '*' /
# end-anchor '$' matching, and row-multiplicity preservation — a
# frontier refetches URLs, so N identical rows must come back as N
# rows, which the old groupBy-on-value-columns collapsed). Formula:
# every host's '*' group is [Disallow: /*.zip$, Disallow: /t{m}*/x,
# Allow: /t{m}{n}/x/ok] (m = n%3); URL k%6 ∈ {0,5} both produce the
# SAME path /a{k-6*(k//6)}... i.e. k%6=5 duplicates k%6=0's path
# exactly. The oracle derives every verdict analytically: .zip$
# anchors (a .zipx tail escapes), '*' spans the middle, the longer
# Allow overrides, and the duplicate rows appear twice.
# --------------------------------------------------------------------------

def q177_robots_wildcards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.operators.web import robots_allowed, robots_rules

    n = F.col("id")
    m = (n % 3).cast("string")
    robots_txt = F.concat(
        F.lit("User-agent: *\nDisallow: /*.zip$\nDisallow: /t"),
        m,
        F.lit("*/x\nAllow: /t"),
        m,
        n.cast("string"),
        F.lit("/x/ok\n"),
    )
    robots = spark.range(10).select(
        F.concat(F.lit("h"), n.cast("string"), F.lit(".example")).alias("host"),
        robots_txt.alias("robots_txt"),
    )
    rules = robots_rules(robots)

    k = F.col("k")
    path = (
        F.when(k % 6 == 0, F.concat(F.lit("/a"), k.cast("string"), F.lit(".zip")))
        .when(k % 6 == 1, F.concat(F.lit("/a"), k.cast("string"), F.lit(".zipx")))
        .when(k % 6 == 2, F.concat(F.lit("/t"), m, n.cast("string"), F.lit("/xfile")))
        .when(k % 6 == 3, F.concat(F.lit("/t"), m, n.cast("string"), F.lit("/x/ok/deeper")))
        .when(k % 6 == 4, F.concat(F.lit("/open/"), k.cast("string")))
        .otherwise(F.concat(F.lit("/a"), (k - 5).cast("string"), F.lit(".zip")))
    )
    urls = (
        spark.range(10)
        .select("id", F.explode(F.sequence(F.lit(0), F.lit(11))).alias("k"))
        .select(
            F.concat(F.lit("h"), n.cast("string"), F.lit(".example")).alias("host"),
            path.alias("path"),
        )
    )
    return robots_allowed(urls, rules, agent="genericbot").select(
        "host", "path", "allowed", "rule_len"
    )


Q177_SQL = """
WITH u AS (SELECT h.range AS n, k.range AS k FROM range(10) h, range(12) k),
p AS (
  SELECT n, k, 'h' || n::VARCHAR || '.example' AS host,
         CASE k % 6
           WHEN 0 THEN '/a' || k::VARCHAR || '.zip'
           WHEN 1 THEN '/a' || k::VARCHAR || '.zipx'
           WHEN 2 THEN '/t' || (n % 3)::VARCHAR || n::VARCHAR || '/xfile'
           WHEN 3 THEN '/t' || (n % 3)::VARCHAR || n::VARCHAR || '/x/ok/deeper'
           WHEN 4 THEN '/open/' || k::VARCHAR
           ELSE '/a' || (k - 5)::VARCHAR || '.zip' END AS path
  FROM u)
SELECT host, path,
       CASE WHEN k % 6 IN (0, 2, 5) THEN 0 ELSE 1 END AS allowed,
       CASE WHEN k % 6 IN (0, 5) THEN 7
            WHEN k % 6 = 2 THEN 6
            WHEN k % 6 = 3 THEN 9 ELSE 0 END AS rule_len
FROM p
"""


# --------------------------------------------------------------------------
# q178 — registrable domain against the REAL Public Suffix List
# (VERDICT r7 #5: the embedded two-level subset swapped for a
# broadcast PSL dim table — functions/web.load_psl parses the list's
# own format from the committed trimmed-but-real snapshot): formula
# hosts exercise every rule shape — two-level suffixes (co.uk), a
# PRIVATE-section suffix (github.io), plain .com at depth, the
# '*.ck' single-label wildcard, the '!www.ck' exception, and an
# unlisted TLD falling back to the implicit '*' default. The oracle
# derives each host's domain analytically from the formula (the q154
# pattern), so agreement proves the PSL precedence rules — exception
# over wildcard over longest-match over default — not merely that two
# engines ran one implementation.
# --------------------------------------------------------------------------

def q178_psl_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.functions.web import load_psl, registered_domain_psl

    i = F.col("id")
    host = (
        F.when(i % 6 == 0, F.concat(F.lit("s"), i.cast("string"), F.lit(".site"), (i % 5).cast("string"), F.lit(".co.uk")))
        .when(i % 6 == 1, F.concat(F.lit("a.b"), (i % 4).cast("string"), F.lit(".github.io")))
        .when(i % 6 == 2, F.concat(F.lit("deep.sub.host"), (i % 7).cast("string"), F.lit(".com")))
        .when(i % 6 == 3, F.concat(F.lit("x"), (i % 3).cast("string"), F.lit(".gov.ck")))
        .when(i % 6 == 4, F.concat(F.lit("sub"), (i % 2).cast("string"), F.lit(".www.ck")))
        .otherwise(F.concat(F.lit("n"), (i % 4).cast("string"), F.lit(".example.zz")))
    )
    hosts = spark.range(120).select(host.alias("host"))
    out = registered_domain_psl(hosts, load_psl(spark))
    return out.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_hosts"),
        F.countDistinct("host").alias("n_distinct"),
        F.min("host").alias("min_host"),
        F.max("host").alias("max_host"),
    )


Q178_SQL = """
WITH h AS (
  SELECT r.range AS i,
    CASE r.range % 6
      WHEN 0 THEN 's' || r.range::VARCHAR || '.site' || (r.range % 5)::VARCHAR || '.co.uk'
      WHEN 1 THEN 'a.b' || (r.range % 4)::VARCHAR || '.github.io'
      WHEN 2 THEN 'deep.sub.host' || (r.range % 7)::VARCHAR || '.com'
      WHEN 3 THEN 'x' || (r.range % 3)::VARCHAR || '.gov.ck'
      WHEN 4 THEN 'sub' || (r.range % 2)::VARCHAR || '.www.ck'
      ELSE 'n' || (r.range % 4)::VARCHAR || '.example.zz' END AS host,
    CASE r.range % 6
      WHEN 0 THEN 'site' || (r.range % 5)::VARCHAR || '.co.uk'
      WHEN 1 THEN 'b' || (r.range % 4)::VARCHAR || '.github.io'
      WHEN 2 THEN 'host' || (r.range % 7)::VARCHAR || '.com'
      WHEN 3 THEN 'x' || (r.range % 3)::VARCHAR || '.gov.ck'
      WHEN 4 THEN 'www.ck'
      ELSE 'example.zz' END AS domain
  FROM range(120) r)
SELECT domain, count(*)::BIGINT AS n_hosts,
       count(DISTINCT host)::BIGINT AS n_distinct,
       min(host) AS min_host, max(host) AS max_host
FROM h GROUP BY domain
"""


# --------------------------------------------------------------------------
# q179 — URL canonicalization, RFC 3986 edition (VERDICT r7 #7 + the
# two ADVICE r7 URL items): the q154 mess generator extended with the
# three real-frontier hazards — dot segments (/a/./b/../c), percent
# encoding (unreserved %7E/%41 decode, reserved %3a uppercases, %2E
# decodes BEFORE dot removal so /%2e%2e/ pops), and userinfo
# (user:pw@ must not truncate the host) — plus the 'ref' param now
# KEPT (content-bearing). The oracle never runs the canonicalizer: it
# derives every canonical string analytically from the mess formula.
# --------------------------------------------------------------------------

def q179_url_rfc3986(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.functions.web import host_of, url_canonicalize

    i = F.col("id")
    scheme = F.when(i % 3 == 0, "http://").otherwise("https://")
    userinfo = F.when(
        i % 5 == 0, F.concat(F.lit("u"), i.cast("string"), F.lit(":pw@"))
    ).otherwise(F.lit(""))
    host = F.concat(
        F.lit("WWW.Host"), (i % 8).cast("string"), F.lit(".Example.COM")
    )
    path = (
        F.when(i % 4 == 0, F.concat(F.lit("/a/./p0/../q"), (i % 7).cast("string")))
        .when(i % 4 == 1, F.concat(F.lit("/%7Ea"), (i % 3).cast("string"), F.lit("/%2e%2e/b")))
        .when(i % 4 == 2, F.concat(F.lit("/c/%41%3a"), (i % 5).cast("string")))
        .otherwise(F.concat(F.lit("/d"), (i % 6).cast("string"), F.lit("/.")))
    )
    query = F.when(
        i % 2 == 0,
        F.concat(F.lit("?ref=br"), (i % 3).cast("string"), F.lit("&utm_source=x&b=2")),
    ).otherwise(
        # ADVICE r9 pin: %7e in a QUERY value must decode to '~' and
        # %3a must uppercase to %3A (§6.2.2 applies beyond the path)
        F.concat(F.lit("?z=%7ev"), (i % 3).cast("string"), F.lit("%3a1"))
    )
    frag = F.when(i % 7 == 0, "#top").otherwise(F.lit(""))
    urls = spark.range(140).select(
        "id",
        F.concat(scheme, userinfo, host, path, query, frag).alias("url"),
    )
    return urls.select(
        "id",
        url_canonicalize(F.col("url")).alias("canon"),
        host_of(F.col("url")).alias("host"),
    )


Q179_SQL = """
SELECT r.range AS id,
       CASE WHEN r.range % 3 = 0 THEN 'http://' ELSE 'https://' END
       || 'host' || (r.range % 8)::VARCHAR || '.example.com'
       || CASE r.range % 4
            WHEN 0 THEN '/a/q' || (r.range % 7)::VARCHAR
            WHEN 1 THEN '/b'
            WHEN 2 THEN '/c/A%3A' || (r.range % 5)::VARCHAR
            ELSE '/d' || (r.range % 6)::VARCHAR || '/' END
       || CASE WHEN r.range % 2 = 0
               THEN '?b=2&ref=br' || (r.range % 3)::VARCHAR
               ELSE '?z=~v' || (r.range % 3)::VARCHAR || '%3A1' END AS canon,
       'host' || (r.range % 8)::VARCHAR || '.example.com' AS host
FROM range(140) r
"""

# re-export EVERYTHING (incl. underscore helpers) down the part chain
__all__ = [n for n in dir() if not n.startswith("__")]
