"""Plan-quality assertions for the catalog's headline shapes: filters
reach the parquet scan, column pruning holds, small dims broadcast, and
the map-side operators stay shuffle-free. These are the properties that
decide 100 TB behavior — value correctness is covered by the oracle
suite; this file pins the PLANS."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from odin_rs_spark.operators import joins as join_ops
from odin_rs_spark.sources.tables import load_table


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def lineitem(spark, sf_dir):
    return load_table(spark, "lineitem", sf_dir)


def test_filter_pushdown_reaches_parquet_scan(spark, lineitem):
    q = lineitem.filter(F.col("l_quantity") > 30).select("l_orderkey", "l_quantity")
    plan = _formatted(q)
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters")[1].split("]")[0]
    assert "l_quantity" in pushed, pushed


def test_column_pruning_in_read_schema(spark, lineitem):
    q = lineitem.select("l_orderkey", "l_quantity")
    plan = _formatted(q)
    read_schema = plan.split("ReadSchema")[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    # the 14 other lineitem columns must not be read
    assert "l_comment" not in read_schema and "l_shipdate" not in read_schema


def test_small_dim_join_broadcasts(spark, sf_dir):
    nation = load_table(spark, "nation", sf_dir)
    customer = load_table(spark, "customer", sf_dir)
    q = customer.join(nation, customer.c_nationkey == nation.n_nationkey)
    assert "BroadcastHashJoin" in _executed(q)


def test_nearest_inline_join_is_shuffle_free(spark, sf_dir):
    ev = load_table(spark, "events", sf_dir).select(
        "event_id",
        ((F.col("value") * 0.7) % 360 - 180).alias("lon"),
        ((F.col("value") * 0.3) % 170 - 85).alias("lat"),
    )
    track = spark.range(50).select(
        F.col("id").alias("track_idx"),
        (F.col("id") * 7.2 - 180.0).alias("t_lon"),
        (F.sin(F.col("id") * 0.4) * 60.0).alias("t_lat"),
    )
    q = join_ops.haversine_nearest_join(ev, track)
    plan = _executed(q)
    # broadcast of the packed right side is fine; no shuffle exchange of
    # the big left side may appear before the argmin
    assert "ShuffleExchange" not in plan.replace("Exchange hashpartitioning", "ShuffleExchange")


def test_asof_join_single_shuffle(spark, sf_dir):
    ev = load_table(spark, "events", sf_dir)
    left = ev.select("user_id", "ts", "event_id").limit(10000)
    right = ev.select("user_id", "ts", F.col("value").alias("obs"))
    q = join_ops.asof_join(left, right, on="user_id", ts="ts")
    plan = _executed(q)
    # the union+window as-of algorithm must not degenerate into a join:
    # no SortMergeJoin/BroadcastNestedLoopJoin nodes at all
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_chunk_documents_is_narrow(spark, sf_dir):
    # chunking is embarrassingly parallel: no exchange anywhere
    from odin_rs_spark.operators.corpus import chunk_documents

    docs = load_table(spark, "documents", sf_dir)
    plan = _executed(chunk_documents(docs))
    assert "Exchange" not in plan, plan


def test_temperature_mix_broadcasts_rates(spark, sf_dir):
    # the per-source rate table joins back via broadcast; the corpus
    # side must not shuffle (only the tiny count agg exchanges)
    from odin_rs_spark.operators.corpus import temperature_mix

    docs = load_table(spark, "documents", sf_dir)
    plan = _executed(temperature_mix(docs))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_jaccard_join_no_cartesian(spark, sf_dir):
    # prefix filtering must block via equi-joins/groupBys only — an
    # all-pairs fallback would show up as a nested-loop/cartesian node
    from odin_rs_spark.operators.dedup import jaccard_join_pairs

    docs = load_table(spark, "documents", sf_dir)
    plan = _executed(jaccard_join_pairs(docs, shingle_n=2, threshold=0.7))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semantic_pairs_no_cartesian(spark, sf_dir):
    # sign-LSH blocking: candidates come from a bucket groupBy; vectors
    # re-attach through equi-joins on id — never a cross product
    from odin_rs_spark.operators.similarity import semantic_near_dup_pairs

    emb = load_table(spark, "embeddings", sf_dir)
    plan = _executed(semantic_near_dup_pairs(emb))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pmi_uses_distributed_takeordered(spark, sf_dir):
    # global top-k must plan as TakeOrdered (per-partition k + merge),
    # never a single-partition global sort of the bigram vocabulary
    from odin_rs_spark.operators.text import pmi_collocations

    docs = load_table(spark, "documents", sf_dir)
    plan = _executed(pmi_collocations(docs, min_count=2, k=10))
    assert "TakeOrderedAndProject" in plan


def test_embedding_stats_single_aggregation(spark, sf_dir):
    # posexplode + one hash aggregate: exactly one shuffle exchange
    from odin_rs_spark.operators.similarity import embedding_dim_stats

    emb = load_table(spark, "embeddings", sf_dir)
    plan = _executed(embedding_dim_stats(emb))
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, plan


def test_ivf_lloyd_assignment_shape(spark, sf_dir):
    """The distributed Lloyd IVF (q55): centroid assignment must be a
    BROADCAST of the k×dim matrix (never a shuffled join of the corpus
    against centroids), and the whole pipeline must stay free of
    cartesian/nested-loop nodes — the properties that keep one Lloyd
    iteration at one corpus scan + k×dim-row reduce at 100 TB."""
    from odin_rs_spark.operators.similarity import ivf_lloyd_topk

    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    seeds = [11, 23, 37, 41, 53, 67, 79, 97]
    plan = _executed(ivf_lloyd_topk(emb, queries, seeds, iters=1, k=5, nprobe=3))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan, plan


def test_nearest_join_k1_map_side_partial_agg(spark, sf_dir):
    """The round-3 nearest_join rewrite (min/min_by over a sort key that
    excludes payload) must keep map-side partial aggregation: two
    HashAggregate nodes around ONE exchange, so only |left| rows
    shuffle, never the |L|×|R| product."""
    ev = load_table(spark, "events", sf_dir).select("event_id", "value").limit(1000)
    right = spark.range(50).select(
        F.col("id").alias("rid"), (F.col("id") * 7.0).alias("rv")
    )
    q = join_ops.nearest_join(
        ev, right, F.abs(F.col("value") - F.col("rv")), "event_id",
        k=1, tiebreak=["rid"], payload=["rid"],
    )
    plan = _executed(q)
    # min_by over struct buffers plans as SortAggregate (not hash-able);
    # the property that matters is the PARTIAL stage before the exchange
    assert "partial_min_by" in plan, plan
    assert "CartesianProduct" not in plan


def test_oov_join_no_cartesian(spark, sf_dir):
    from odin_rs_spark.operators.text import oov_stats
    from pyspark.sql import functions as F2

    docs = load_table(spark, "documents", sf_dir)
    plan = _executed(
        oov_stats(docs.filter(F2.col("lang") != "en"),
                  docs.filter(F2.col("lang") == "en"))
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bloom_probe_zero_shuffle_projection(spark, sf_dir):
    """The Bloom membership screen (q95): the bitmap is a VALUE — the
    probe must compile to a pure projection over the corpus (literal
    word array + bit tests), with ZERO exchanges and ZERO joins on the
    probe side. This is the whole point vs the exact shingle equi-join:
    corpus-side membership with no shuffle at any scale."""
    from odin_rs_spark.operators.dedup import bloom_build, bloom_probe

    docs = load_table(spark, "documents", sf_dir)
    keys = docs.filter(F.col("doc_id") % 97 == 0).select(
        F.col("text").alias("s")
    )
    bloom = bloom_build(keys, "s", m_bits=4096, k=4)
    probe = docs.select("doc_id", F.col("text").alias("s"))
    plan = _executed(bloom_probe(probe, "s", bloom, m_bits=4096, k=4))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_bm25_takeordered_and_broadcast_stats(spark, sf_dir):
    """BM25 (q94): corpus stats (1 row) and per-term df (|terms| rows)
    must broadcast into the score expression, and the global top-k must
    plan as TakeOrdered — never a single-partition sort of all docs."""
    from odin_rs_spark.operators.text import bm25_topk

    docs = load_table(spark, "documents", sf_dir)
    plan = _executed(bm25_topk(docs, ["spark", "merge", "window"], topk=20))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan, plan


def test_winnow_window_min_is_partial_agg(spark, sf_dir):
    """Winnowing (q93): the per-(doc, window) min must partially
    aggregate map-side (two HashAggregate stages around one exchange of
    16-byte keys), and the w-fold expansion must be an explode inside
    the projection, never a join."""
    from odin_rs_spark.operators.text import winnow_fingerprints

    docs = load_table(spark, "documents", sf_dir)
    plan = _executed(winnow_fingerprints(docs, k=3, w=4))
    assert "partial_min" in plan, plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_line_dup_stats_doc_texts_never_shuffle(spark, sf_dir):
    """Line-level dedup (q92): only (id, 8-byte segment hash) pairs may
    shuffle — the exchanges must not carry the text/word-array column."""
    from odin_rs_spark.operators.text import line_dup_stats

    docs = load_table(spark, "documents", sf_dir)
    plan = _formatted(line_dup_stats(docs, seg_words=10))
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "__w" not in line and "text" not in line, line


def test_matryoshka_stage1_shuffles_triples_not_vectors(spark, sf_dir):
    # the per-query coarse rank may shuffle only (query_id, id, score)
    # triples; full vectors re-attach via a BROADCAST join of the tiny
    # candidate set — never a wide shuffle carrying embeddings
    from odin_rs_spark.operators.similarity import matryoshka_topk
    from odin_rs_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    plan = _executed(matryoshka_topk(emb, q, prefix_dim=16, rerank_k=20, k=5))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    # every Exchange row must be a narrow score/candidate projection:
    # no exchange operator output may contain the full embedding column
    for chunk in plan.split("Exchange")[1:]:
        first_line = chunk.splitlines()[0]
        assert "__cfull" not in first_line and "__qfull" not in first_line


def test_quantize_int8_zero_join_single_agg(spark, sf_dir):
    # pass 2 is a pure projection + one map-side-combinable aggregate:
    # no join nodes at all, and exactly one shuffle (the final groupBy)
    from odin_rs_spark.operators.similarity import quantize_int8_stats
    from odin_rs_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    plan = _executed(quantize_int8_stats(emb))
    assert "Join" not in plan
    assert plan.count("Exchange") <= 2  # partial->final agg exchange (+AQE read)


def test_containment_join_no_cartesian(spark, sf_dir):
    # asymmetric prefix filter must block via equi-joins: prefix(a)
    # postings against full(b) postings, then id equi-joins for verify
    from odin_rs_spark.operators.dedup import containment_join_pairs
    from odin_rs_spark.sources.tables import load_table

    docs = load_table(spark, "documents", sf_dir)
    plan = _executed(containment_join_pairs(docs, shingle_n=2, threshold=0.6))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_stratified_sample_single_shuffle(spark, sf_dir):
    # one window pass computes stratum size and hash rank together: a
    # single Exchange on the strata key, no pre-count join
    from odin_rs_spark.operators.corpus import stratified_sample
    from odin_rs_spark.sources.tables import load_table

    docs = load_table(spark, "documents", sf_dir)
    plan = _executed(stratified_sample(docs, ["lang"], 0.3))
    assert "Join" not in plan
    assert plan.count("Exchange") == 1


def test_budget_select_one_wide_shuffle(spark, sf_dir):
    # the corpus moves exactly once (the range exchange); the offset
    # table re-attaches via BROADCAST join, never a shuffled join
    from odin_rs_spark.operators.corpus import select_until_budget
    from odin_rs_spark.sources.tables import load_table

    docs = load_table(spark, "documents", sf_dir).withColumn(
        "__tok", F.size(F.split(F.trim(F.col("text")), r"\s+"))
    )
    plan = _executed(
        select_until_budget(docs, "n_chars", "__tok", budget=10000)
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    # wide movements of the corpus: one range repartition only (the
    # tiny totals frame contributes its own small exchanges)
    assert plan.count("rangepartitioning") <= 2


def test_bpe_token_stats_zero_join_single_agg(spark, sf_dir):
    # pure projection (JVM regexp_extract_all) + one combinable agg
    from odin_rs_spark.operators.text import bpe_token_stats
    from odin_rs_spark.sources.tables import load_table

    docs = load_table(spark, "documents", sf_dir)
    plan = _executed(bpe_token_stats(docs, keys=["source"]))
    assert "Join" not in plan
    assert plan.count("Exchange") <= 2  # partial->final agg (+AQE read)


def test_remove_dup_segments_no_cartesian(spark, sf_dir):
    # segment counts attach via an equi-join on the 8-byte segment hash;
    # the rebuild groups by doc id — never a cross product
    from odin_rs_spark.operators.text import remove_dup_segments
    from odin_rs_spark.sources.tables import load_table

    docs = load_table(spark, "documents", sf_dir)
    plan = _executed(remove_dup_segments(docs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_contour_lines_no_cartesian(spark):
    # assembly = endpoint-graph CC + degree agg + equi-joins on packed
    # BIGINT node keys — never a cross product, and the marching-squares
    # kernel stays a single applyInPandas over the tile groupBy
    from odin_rs_spark.operators import raster as raster_ops

    lat = raster_ops.affine_lattice(spark, 20, 16)
    cells = lat.select(
        "x", "y", (F.col("x") * 0.5 + F.col("y") * 0.25).alias("value")
    )
    segs = raster_ops.contour_segments(cells, interval=2.0, tile_size=8)
    plan = _executed(raster_ops.contour_lines(segs, interval=2.0))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_netcdf_cells_single_scan_mapinpandas(spark):
    # granule decode is one binaryFile scan feeding one Arrow-batched
    # python stage — no shuffle before the cells exist, and the mask
    # filter lives INSIDE the kernel (no Spark-side Filter needed to
    # bound the row fan-out)
    import os

    import odin_rs_spark
    from odin_rs_spark.sources.netcdf3 import netcdf_grid_cells

    fixture = os.path.join(
        os.path.dirname(os.path.abspath(odin_rs_spark.__file__)),
        "sources",
        "fixtures",
        "grid_cdf1.nc",
    )
    files = spark.read.format("binaryFile").load(fixture)
    cells = netcdf_grid_cells(files, "speed", mask_var="quality", mask_min=2.0)
    plan = _executed(cells)
    assert "MapInPandas" in plan
    assert "Exchange" not in plan  # decode fans out without any shuffle


def test_integer_pagerank_no_cartesian(spark):
    # mass→degree and share→edge joins are equi-joins on node ids; no
    # round may degenerate into a cross product
    from odin_rs_spark.operators.graph import integer_pagerank

    edges = spark.createDataFrame(
        [(i, (i * 7 + 1) % 23) for i in range(23)], "src long, dst long"
    )
    plan = _executed(integer_pagerank(edges, iterations=2))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dem_tile_store_partition_pruning(spark, tmp_path):
    """R7 (q133): the (tx, ty)-partitioned DEM layout must turn a tile
    bbox predicate into PARTITION pruning — a one-tile query reads one
    directory of the 2x2 store, not the whole DEM — and the
    quantized-coord sample join must broadcast the point side."""
    root = str(tmp_path / "dem")
    cells = spark.range(200 * 200).select(
        (F.col("id") % 200).alias("ix"),
        (F.col("id") / 200).cast("long").alias("iy"),
    )
    cells = cells.select(
        "ix",
        "iy",
        (((F.col("ix") * 13 + F.col("iy") * 7) % 500) * 0.25).alias("height"),
        (F.col("ix") / 100).cast("int").alias("tx"),
        (F.col("iy") / 100).cast("int").alias("ty"),
    )
    cells.write.partitionBy("tx", "ty").parquet(root)
    store = spark.read.parquet(root)

    one_tile = store.filter((F.col("tx") == 1) & (F.col("ty") == 0))
    plan = one_tile._sc._jvm.PythonSQLUtils.explainString(
        one_tile._jdf.queryExecution(), "formatted"
    )
    pf = plan.split("PartitionFilters")[1].splitlines()[0]
    assert "tx" in pf and "ty" in pf, pf
    assert one_tile.count() == 100 * 100

    pts = spark.range(50).select(
        F.col("id").alias("pt_id"),
        (F.col("id") * 37 % 200).alias("ix"),
        (F.col("id") * 53 % 200).alias("iy"),
    ).withColumn("tx", (F.col("ix") / 100).cast("int")).withColumn(
        "ty", (F.col("iy") / 100).cast("int")
    )
    joined = F.broadcast(pts).join(store, ["tx", "ty", "ix", "iy"], "inner")
    assert "BroadcastHashJoin" in _executed(joined)


def test_bpe_pair_count_is_partial_agg(spark, sf_dir):
    """BPE training's per-round pair count must keep map-side partial
    aggregation (HashAggregate below the exchange) — at corpus scale
    the explode emits |vocab| x word-length pair rows and the shuffle
    must carry per-partition partials, not raw pairs."""
    from odin_rs_spark.functions.text import norm_text
    from odin_rs_spark.plans.catalog import _t

    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split(norm_text(F.col("text")), r"\s+")).alias("w")
    ).filter(F.length("w") > 0)
    vocab = words.groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
    seg = F.concat(
        F.lit("·"),
        F.array_join(F.filter(F.split(F.col("w"), ""), lambda c: c != ""), "··"),
        F.lit("·"),
    )
    cur = vocab.select("freq", seg.alias("seg"))
    toks = F.split(F.expr("substring(seg, 2, length(seg) - 2)"), "··")
    pairs = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("a"), b.alias("b")),
    )
    counts = (
        cur.select("freq", F.explode(pairs).alias("p"))
        .groupBy(F.col("p.a"), F.col("p.b"))
        .agg(F.sum("freq").alias("cnt"))
    )
    plan = _executed(counts)
    # partial + final aggregate = two HashAggregate levels
    assert plan.count("HashAggregate") >= 2, plan[:800]


def test_kcenter_center_side_broadcasts(spark):
    """Each k-center round joins the corpus against ONE new center —
    that single-row side must broadcast, never shuffle the corpus."""
    from odin_rs_spark.operators.similarity import sq_l2

    emb = spark.range(1000).select(
        F.col("id").alias("__id"),
        F.array(F.col("id") * 0.1, F.col("id") * 0.2).alias("__v"),
    )
    center = spark.createDataFrame(
        [(0, [0.0, 0.0])], "__cid long, __cv array<double>"
    )
    stage = emb.crossJoin(F.broadcast(center)).withColumn(
        "__mind", sq_l2(F.col("__v"), F.col("__cv"))
    )
    plan = _executed(stage)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_media_kernels_single_scan_no_shuffle(spark):
    """The decode kernels (audio stats, frame index, fit stats) are one
    mapInPandas over the media scan — no exchange before the pixels/
    samples/index exist."""
    from odin_rs_spark.operators import multimodal as mm
    from odin_rs_spark.sources.audiocodec import encode_wav
    from odin_rs_spark.sources.avicodec import encode_avi

    import numpy as np

    wav = encode_wav(np.zeros(64, dtype=np.int16))
    avi = encode_avi([10, 12])
    media = spark.createDataFrame(
        [(1, bytearray(wav))], "media_id long, content binary"
    )
    vmedia = spark.createDataFrame(
        [(1, bytearray(avi))], "media_id long, content binary"
    )
    for df in (mm.audio_stats(media), mm.video_frame_index(vmedia)):
        plan = _executed(df)
        assert "Exchange" not in plan, plan[:600]


def test_q127_edge_generation_bounded(spark, sf_dir):
    """q127's cohort graph is built by a rank + broadcast-offset
    EQUI-join (per-node fan-out <= K), never the group-quadratic
    all-pairs self-join: one hot (event_type, hour) cohort of 1e5
    users must cost O(n*K) edge rows, not 1e10. Pin: the only join in
    the edge plan is an equi-join whose keys include the rank column,
    with the 3-row offset table broadcast."""
    from odin_rs_spark.plans.catalog import _t
    from pyspark.sql import Window

    ev = (
        _t(spark, sf_dir, "events")
        .select(
            "user_id", "event_type", F.date_trunc("hour", F.col("ts")).alias("hb")
        )
        .distinct()
    )
    wr = Window.partitionBy("event_type", "hb").orderBy("user_id")
    ranked = ev.withColumn("rk", F.row_number().over(wr))
    offs = spark.range(1, 4).select(F.col("id").alias("__off"))
    left = ranked.crossJoin(F.broadcast(offs)).select(
        "event_type",
        "hb",
        F.col("user_id").alias("src"),
        (F.col("rk") + F.col("__off")).alias("rk_b"),
    )
    right = ranked.select(
        "event_type", "hb", F.col("user_id").alias("dst"), F.col("rk").alias("rk_b")
    )
    edges = left.join(right, ["event_type", "hb", "rk_b"]).select("src", "dst")
    plan = _executed(edges)
    assert "CartesianProduct" not in plan
    # the offset fan-out is a broadcast nested-loop ON A 3-ROW TABLE
    # (that is the crossJoin); the cohort join itself must be hash/merge
    # on (event_type, hb, rk_b)
    assert "rk_b" in plan
    assert plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") >= 1


def test_video_decode_single_scan_one_dedup_shuffle(spark):
    """q151/q152 shape: frame decode is ONE mapInPandas over the media
    scan (no exchange before pixels exist — video bytes never
    shuffle); the dedup groupBy shuffles only (fp, counters), with a
    map-side partial aggregate."""
    from odin_rs_spark.operators import multimodal as mm
    from tests.test_avicodec import _mjpg_clip

    media = spark.createDataFrame(
        [(1, bytearray(_mjpg_clip(0, nf=2)))], "media_id long, content binary"
    )
    plan = _executed(mm.video_decode_frames(media, every_n=2))
    assert "Exchange" not in plan, plan[:600]

    dedup = (
        mm.video_frame_fingerprints(media)
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    plan = _executed(dedup)
    assert plan.count("Exchange") == 1, plan[:900]
    # partial agg below the exchange
    assert plan.index("HashAggregate") < plan.index("Exchange"), plan[:900]


def test_warc_and_demux_single_scan_no_shuffle(spark, tmp_path):
    """WARC record scan and A/V demux are one mapInPandas over the
    binaryFile/media scan — archive and container bytes never
    shuffle."""
    import numpy as np

    from odin_rs_spark.operators import multimodal as mm
    from odin_rs_spark.sources.avicodec import encode_avi
    from odin_rs_spark.sources.warc import encode_warc, warc_records

    f = tmp_path / "t.warc.gz"
    f.write_bytes(encode_warc([{"warc_type": "warcinfo", "block": b"x: y\r\n"}]))
    files = spark.read.format("binaryFile").load(str(f))
    assert "Exchange" not in _executed(warc_records(files)), "warc shuffled"

    avi = encode_avi([8], audio=np.zeros(32, dtype=np.int16))
    media = spark.createDataFrame(
        [(1, bytearray(avi))], "media_id long, content binary"
    )
    assert "Exchange" not in _executed(mm.video_demux_audio(media))


def test_pdf_pages_single_scan_no_shuffle(spark, tmp_path):
    """q180 shape: PDF page extraction is one mapInPandas over the
    binaryFile scan — document bytes never shuffle."""
    from odin_rs_spark.sources.pdfcodec import encode_pdf, pdf_pages

    f = tmp_path / "t.pdf"
    f.write_bytes(encode_pdf([["one page"]]))
    files = spark.read.format("binaryFile").load(str(f))
    assert "Exchange" not in _executed(pdf_pages(files)), "pdf shuffled"


def test_psl_single_broadcast_join_one_rid_shuffle(spark):
    """q178 shape: the PSL resolves in exactly ONE broadcast hash
    join (both rule kinds share the (key, kind) equi-key space); the
    only exchange is the row-id groupBy — and the row-id frame feeds
    exactly one lineage (the q183 two-branch hazard class)."""
    from odin_rs_spark.functions.web import load_psl, registered_domain_psl

    hosts = spark.range(20).select(
        F.concat(F.lit("h"), F.col("id"), F.lit(".example.co.uk")).alias("host")
    )
    plan = _executed(registered_domain_psl(hosts, load_psl(spark)))
    assert plan.count("BroadcastHashJoin") == 1, plan[:900]
    assert "SortMergeJoin" not in plan


def test_source_signatures_two_shuffles_partial_agg(spark, sf_dir):
    """Corpus-level minhash: shingle-distinct + the (source, pos) min
    fold are the only exchanges, and the min agg combines map-side —
    only (source, pos, v) triples shuffle, never shingle text."""
    from odin_rs_spark.operators.dedup import source_signatures
    from odin_rs_spark.sources.tables import load_table

    docs = load_table(spark, "documents", sf_dir)
    plan = _executed(source_signatures(docs, num_perm=8))
    assert plan.count("Exchange") == 2, plan[:1200]
    assert plan.count("HashAggregate") >= 2, plan[:1200]


def test_semdedup_centroids_broadcast_no_cartesian(spark):
    """SemDeDup: both centroid joins broadcast; the only non-broadcast
    join is the within-cluster pair join on the cluster key."""
    from odin_rs_spark.operators.similarity import semdedup_select

    emb = spark.createDataFrame(
        [(i, [float(i % 7), 1.0, 0.0]) for i in range(30)],
        "vec_id long, embedding array<float>",
    )
    plan = _executed(semdedup_select(emb, [0, 1], tau=0.9))
    assert "CartesianProduct" not in plan, plan[:1200]
    assert "Broadcast" in plan, plan[:1200]


def test_r9_extractors_zero_python_in_plan(spark, sf_dir):
    """markdown_extract, feed_entries and the JSON-LD extraction are
    pure column expressions — no Python evaluator anywhere in their
    plans (the whole-stage-codegen property that decides 100 TB
    throughput for text transforms)."""
    from odin_rs_spark.plans.catalog import (
        q202_markdown_extract,
        q203_feed_scan,
        q205_jsonld_extract,
    )

    for q in (q202_markdown_extract, q203_feed_scan, q205_jsonld_extract):
        plan = _executed(q(spark, sf_dir))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, q


def test_r9_dims_broadcast_no_smj(spark, sf_dir):
    """The round-9 dim joins (mixture weights, contamination benchmark,
    politeness delays, langid model) are broadcast hash joins — zero
    SortMergeJoin, zero NestedLoop."""
    from odin_rs_spark.plans.catalog import (
        q199_langid_trained,
        q201_contamination,
        q204_mixture_sample,
        q207_politeness_schedule,
    )

    for q in (q199_langid_trained, q201_contamination, q204_mixture_sample,
              q207_politeness_schedule):
        plan = _executed(q(spark, sf_dir))
        assert "BroadcastHashJoin" in plan, q
        assert "SortMergeJoin" not in plan and "NestedLoop" not in plan, q


def test_wave4_text_ops_zero_python_in_plan(spark, sf_dir):
    """c4_line_filter, code_line_stats, canonical_url and
    robots_meta_flags are pure column expressions — no Python
    evaluator in their query plans (q218/q226/q216/q217/q227 all ride
    on them; at 100 TB a per-row Python hop here would dominate)."""
    from odin_rs_spark.plans.catalog import (
        q216_canonical_cluster,
        q217_noindex_gate,
        q218_c4_filters,
        q226_code_routing,
    )

    for q in (q216_canonical_cluster, q217_noindex_gate, q218_c4_filters,
              q226_code_routing):
        plan = _executed(q(spark, sf_dir))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, q


def test_wave4_blocklist_broadcast_no_smj(spark, sf_dir):
    """blocklist_match joins the blocklist dim by BROADCAST hash join
    (blocklists are ~10^6 rows against ~10^7 distinct hosts — the
    wrong plan here is a full shuffle of the host dim); the
    compliance flagship chains it and must keep the same shape."""
    from odin_rs_spark.plans.catalog import (
        q224_blocklist_filter,
        q227_compliance_pipeline,
    )

    for q in (q224_blocklist_filter, q227_compliance_pipeline):
        plan = _executed(q(spark, sf_dir))
        assert "BroadcastHashJoin" in plan, q
        assert "SortMergeJoin" not in plan and "NestedLoop" not in plan, q


def test_line_repetition_shuffles_hashes_not_text(spark):
    """line_repetition_signals hashes lines BEFORE its groupBy — the
    exchange carries (doc_id, md5, len) triples, never document text:
    the projection below the first Exchange must already be the
    3-column hashed form."""
    from pyspark.sql import functions as F

    from odin_rs_spark.operators.text import line_repetition_signals

    docs = spark.range(10).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("a\nb\na x"), F.col("id").cast("string")).alias("text"),
    )
    plan = _executed(line_repetition_signals(docs))
    below_first_exchange = plan.split("Exchange")[-1]
    assert "md5" in below_first_exchange.lower(), plan[:2000]


def test_wave7_ops_zero_python_in_plan(spark, sf_dir):
    """license_detect, secret_scan, z-order layout math,
    wikitext_to_text and sniff_csv_dialect are pure column
    expressions — no Python evaluator anywhere in their plans
    (q236/q237/q238/q240/q242/q243 ride on them)."""
    from odin_rs_spark.plans.catalog import (
        q236_license_detect,
        q237_secret_scan,
        q238_zorder_layout,
        q240_wikitext,
        q242_csv_sniff,
        q243_code_governance,
    )

    for q in (q236_license_detect, q237_secret_scan, q238_zorder_layout,
              q240_wikitext, q242_csv_sniff, q243_code_governance):
        plan = _executed(q(spark, sf_dir))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, q


def test_zorder_audit_no_smj(spark, sf_dir):
    """The layout audit's only joins are the per-layout stats against
    the single-row exact-match count — tiny sides that must never
    sort-merge; the chunk stats themselves are one partial-agg
    groupBy per layout."""
    from odin_rs_spark.plans.catalog import q238_zorder_layout

    plan = _executed(q238_zorder_layout(spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "partial_count" in plan or "HashAggregate" in plan


def test_bitext_align_dim_broadcasts_no_cartesian(spark, sf_dir):
    """align_sentences: the per-pair n_tgt dim rides by BROADCAST and
    candidates meet targets in an equi-join on (pair_id, j) — never a
    per-pair cross join (that is the quadratic shape this operator
    exists to avoid)."""
    from odin_rs_spark.plans.catalog import q241_bitext_align

    plan = _executed(q241_bitext_align(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_gram_matrix_partial_agg_before_exchange(spark, sf_dir):
    """The distributed Gram reduces each partition to d*d cells
    map-side — the exchange must sit ABOVE a partial HashAggregate,
    never shuffle the exploded pairs raw (that would be rows*d*d over
    the wire at 100 TB)."""
    from odin_rs_spark.operators.similarity import gram_matrix
    from odin_rs_spark.sources.tables import load_table

    g = gram_matrix(load_table(spark, "embeddings", sf_dir), "embedding")
    plan = _executed(g)
    before_exchange = plan.split("Exchange")[-1]  # below the shuffle
    assert "partial_sum" in before_exchange, plan


def test_ddsketch_shuffles_buckets_not_values(spark, sf_dir):
    """ddsketch_build's groupBy carries (group, bucket) keys with
    map-side partial counts — the exchange payload is bucket counts,
    never raw values; the quantile walk is one window over the tiny
    merged sketch."""
    from odin_rs_spark.operators.sketches import ddsketch_build
    from odin_rs_spark.sources.tables import load_table

    sk = ddsketch_build(load_table(spark, "events", sf_dir), "value", ["event_type"])
    plan = _executed(sk)
    below = plan.split("Exchange")[-1]
    assert "partial_count" in below, plan


def test_profile_single_scan_expand_agg(spark, sf_dir):
    """profile_columns computes every metric in ONE pass: exactly one
    parquet scan in the plan, with the multi-column count_distinct
    planned as Expand + partial aggregation."""
    from odin_rs_spark.plans.catalog import q255_data_profile

    plan = _executed(q255_data_profile(spark, sf_dir))
    assert plan.count("Scan parquet") == 1, plan.count("Scan parquet")
    assert "Expand" in plan


def test_hll_union_merge_is_partial_agg(spark, sf_dir):
    """q252's pair-union register merge aggregates map-side before the
    exchange — the merge touches registers, never the key universe."""
    from odin_rs_spark.plans.catalog import q252_hll_intersection

    plan = _executed(q252_hll_intersection(spark, sf_dir))
    assert "partial_max" in plan or "partial_count" in plan


def test_crawl_bootstrap_no_cartesian_blowup(spark, sf_dir):
    """q250's only cross joins are scalar broadcasts (totals, kstar);
    the frontier-level joins are hash joins — no nested-loop over the
    url set."""
    from odin_rs_spark.plans.catalog import q250_crawl_bootstrap

    plan = _executed(q250_crawl_bootstrap(spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_hdf5_decode_shuffle_free_and_dem_broadcast(spark):
    """q271/q273 plan pins: HDF5 granule bytes decode in the scan stage
    (no Exchange below the MapInPandas), and the DEM enrichment joins
    as a BroadcastExchange — granule bytes never shuffle."""
    import os

    import odin_rs_spark
    from odin_rs_spark.functions import proj
    from odin_rs_spark.functions.geo import quantize_cell
    from odin_rs_spark.sources.hdf5 import hdf5_grid_cells

    fixture = os.path.join(
        os.path.dirname(os.path.abspath(odin_rs_spark.__file__)),
        "sources",
        "fixtures",
        "grid_hdf5.nc",
    )
    files = spark.read.format("binaryFile").load(fixture)
    cells = hdf5_grid_cells(files, "CMI", mask_var="DQF", mask_min=2.0)
    plan = _executed(cells)
    assert "MapInPandas" in plan
    assert "Exchange" not in plan  # decode fans out without any shuffle

    from pyspark.sql import functions as F

    dem = spark.range(100).select(
        (F.col("id") % 10).cast("int").alias("cx"),
        (F.col("id") / 10).cast("int").alias("cy"),
        (F.col("id") % 7).cast("double").alias("elev_m"),
    )
    geo = cells.withColumn(
        "g", proj.goes_to_lonlat(
            F.lit(-0.024) + F.col("x") * 0.003,
            F.lit(-0.018) + F.col("y") * 0.003,
            -75.0,
        )
    )
    enriched = geo.join(
        F.broadcast(dem),
        (quantize_cell(F.col("g.lon"), 0.5) == F.col("cx"))
        & (quantize_cell(F.col("g.lat"), 0.5) == F.col("cy")),
        "left",
    )
    plan2 = _executed(enriched)
    assert "BroadcastExchange" in plan2
    assert "Exchange hashpartitioning" not in plan2  # bytes never shuffle


def test_kmv_sketch_single_wide_exchange(spark, sf_dir):
    """kmv_sketch's only wide work is distinct(group, h) + the bounded
    per-group sort: the plan must carry exactly two exchanges (distinct
    agg + window) and no cartesian product."""
    from odin_rs_spark.operators.sketches import kmv_sketch

    ev = load_table(spark, "events", sf_dir)
    plan = _executed(kmv_sketch(ev, "user_id", ["event_type"], k=32))
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange") <= 3  # partial+final agg may split


def test_cidr_blocklist_dim_broadcasts(spark, sf_dir):
    from odin_rs_spark.plans.catalog import q303_cidr_blocklist

    plan = _executed(q303_cidr_blocklist(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_parquet_page_audit_is_scan_side(spark, sf_dir):
    """The audit is mapInPandas over the file inventory: zero
    exchanges before the kernel — bytes never shuffle."""
    from odin_rs_spark.plans.catalog import _parquet_stats_fixture
    from odin_rs_spark.sources.parquetmeta import parquet_page_audit

    files = spark.read.format("binaryFile").load(_parquet_stats_fixture())
    plan = _executed(parquet_page_audit(files, ["id"]))
    assert "Exchange" not in plan

def test_tensor_stats_is_scan_side(spark, sf_dir):
    import os

    import odin_rs_spark
    from odin_rs_spark.sources.tensorfile import tensor_stats

    fix = os.path.join(
        os.path.dirname(os.path.abspath(odin_rs_spark.__file__)),
        "sources", "fixtures", "emb_f32.npy",
    )
    files = spark.read.format("binaryFile").load(fix)
    assert "Exchange" not in _executed(tensor_stats(files))


def test_geohash_encode_is_pure_projection(spark, sf_dir):
    from odin_rs_spark.functions.geo import geohash_cells

    ev = load_table(spark, "events", sf_dir)
    gh, xc, yc = geohash_cells(
        (F.col("user_id") % 90).cast("double"),
        (F.col("user_id") % 180).cast("double"),
        5,
    )
    plan = _executed(ev.select(gh.alias("g"), xc.alias("x"), yc.alias("y")))
    assert "Exchange" not in plan and "BatchEvalPython" not in plan


def test_attribution_asof_single_shuffle_per_side(spark, sf_dir):
    from odin_rs_spark.plans.catalog import q310_attribution_last_touch

    plan = _executed(q310_attribution_last_touch(spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_q317_mosaic_join_broadcasts_the_probe_side(spark):
    """q317's probe lattice (300 rows) must broadcast against the
    decoded mosaic cells — at real mosaic scale the cell side is the
    big one and must NOT shuffle for a 300-row lookup."""
    from odin_rs_spark.plans.catalog import q317_tiled_dem_mosaic

    plan = _executed(q317_tiled_dem_mosaic(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_new_fixture_scans_are_single_scan(spark):
    """q318/q320/q321 decode fixtures in-kernel: exactly one
    binaryFile scan each, no re-read per aggregate branch (the q255
    union-rescan bug class)."""
    from odin_rs_spark.plans.catalog import (
        q318_grib2_lossy_audit,
        q320_pdf_images,
        q321_bigtiff_dem,
    )

    for fn in (q318_grib2_lossy_audit, q320_pdf_images, q321_bigtiff_dem):
        plan = _executed(fn(spark, "/root/testdata/sf0.001"))
        assert plan.count("Scan binaryFile") == 1, fn.__name__


def test_memoized_self_join_contract(spark, sf_dir):
    """load_table's plan memo returns the IDENTICAL DataFrame for
    repeated loads (ADVICE r11): a df[col]-style self-join must fail
    LOUDLY (ambiguous — never silent wrong rows), and the supported
    aliased spelling must keep working exactly."""
    from pyspark.sql import functions as F
    from pyspark.sql.utils import AnalysisException

    a = load_table(spark, "region", sf_dir)
    b = load_table(spark, "region", sf_dir)
    assert a is b  # the memo contract itself
    # supported spelling: aliased references
    j = a.alias("l").join(
        b.alias("r"), F.col("l.r_regionkey") < F.col("r.r_regionkey")
    )
    n = a.count()
    assert j.count() == n * (n - 1) // 2
    # df[col] spelling: loud analysis error, not silently-wrong rows
    import pytest as _pytest

    with _pytest.raises(AnalysisException):
        a.join(b, a["r_regionkey"] < b["r_regionkey"]).count()


def test_position_store_state_runs_without_python_worker(spark, tmp_path):
    """The keyed position store is a native streaming aggregation: its
    executed plan keeps state in StateStoreSave and has no
    FlatMapGroupsInPandasWithState node (no Python worker per key)."""
    import datetime as dt

    from odin_rs_spark.streaming import sources
    from odin_rs_spark.streaming.state import position_store_state

    t0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(f"d{i % 3}", t0 + dt.timedelta(seconds=i), 35.0, -100.0) for i in range(6)],
        "key string, ts timestamp, lat double, lon double",
    )
    root = str(tmp_path / "replay")
    sources.split_for_replay(df, root, n_chunks=1, order_col="ts")
    store = position_store_state(sources.replay_stream(spark, root, df.schema).groupBy("key"))
    q = (
        store.writeStream.foreachBatch(lambda d, b: d.count())
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    plan = q._jsq.explainInternal(False)
    assert "StateStoreSave" in plan, plan
    assert "FlatMapGroupsInPandasWithState" not in plan, plan


def _job_count(spark) -> int:
    """Jobs the session has launched so far (the status store's list,
    read once the listener bus has drained)."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    return sc.statusStore().jobsList(None).size()


def test_q264_builds_without_jobs(spark, sf_dir):
    """q264's FK audit is one lazy plan: building it launches no Spark
    job (the seed offset is a 1-row cross join, not a collected scalar,
    and each FK is a left join + aggregate, not two counts)."""
    from odin_rs_spark.plans.catalog import CATALOG

    # a table's first load infers its parquet schema with a job of its
    # own; load_table memoizes the plan, so warm the four tables first
    for name in ("lineitem", "orders", "customer", "nation"):
        load_table(spark, name, sf_dir)
    fn = CATALOG["q264_fk_conformance"].fn
    before = _job_count(spark)
    df = fn(spark, sf_dir)
    assert _job_count(spark) == before
    assert df.columns == ["fk", "n_child", "n_orphans"]


def test_scratch_query_result_outlives_its_root(spark):
    """_scratch_query hands back the body's rows and schema, readable
    after the scratch dir is gone."""
    import os

    from odin_rs_spark.plans.qshared import _scratch_query

    roots = []

    @_scratch_query
    def q(spark, sf_dir, root):
        roots.append(root)
        spark.range(5).selectExpr("id", "id * 2 AS twice").write.parquet(root + "/t")
        return spark.read.parquet(root + "/t")

    df = q(spark, "unused")
    assert not os.path.exists(roots[0])
    assert df.schema.simpleString() == "struct<id:bigint,twice:bigint>"
    assert sorted(tuple(r) for r in df.collect()) == [(i, 2 * i) for i in range(5)]


def test_scratch_query_removes_root_when_the_body_raises(spark):
    import os

    from odin_rs_spark.plans.qshared import _scratch_query

    roots = []

    @_scratch_query
    def q(spark, sf_dir, root):
        roots.append(root)
        open(os.path.join(root, "partial"), "w").close()
        raise RuntimeError("body failed")

    with pytest.raises(RuntimeError, match="body failed"):
        q(spark, "unused")
    assert not os.path.exists(roots[0])


def test_executor_blobs_empty_range(spark):
    from odin_rs_spark.plans.qshared import _executor_blobs

    df = _executor_blobs(spark, 0, content=lambda i: b"x")
    assert df.schema.simpleString() == "struct<id:bigint,content:binary>"
    assert df.collect() == []


def test_executor_blobs_one_column_per_maker(spark):
    from odin_rs_spark.plans.qshared import _executor_blobs

    def f(i: int) -> bytes:
        return b"f%d" % i

    def g(i: int) -> bytes:
        return bytes([i]) * (i + 1)

    df = _executor_blobs(spark, 3, a=f, b=g)
    assert df.columns == ["id", "a", "b"]
    got = sorted((r.id, bytes(r.a), bytes(r.b)) for r in df.collect())
    assert got == [(i, f(i), g(i)) for i in range(3)]


def test_scratch_dirs_live_only_in_qshared():
    """Every catalog query that needs a temp dir goes through
    qshared._scratch_query: no other plans module creates or removes
    one, or round-trips its result through driver rows. Likewise every
    executor-built media fixture goes through qshared._executor_blobs:
    no other plans module hand-rolls its pandas-UDF scaffold."""
    import pathlib

    import odin_rs_spark.plans as plans

    banned = (
        "tempfile.mkdtemp",
        "shutil.rmtree(root",
        "return spark.createDataFrame(rows",
        "def _mk(",
        "F.pandas_udf(_mk",
        "pd.Series(out)",
    )
    hits = [
        (p.name, b)
        for p in sorted(pathlib.Path(plans.__file__).parent.glob("*.py"))
        if p.name != "qshared.py"
        for b in banned
        if b in p.read_text()
    ]
    assert hits == []


def test_snapshot_delta_sink_jobs_per_batch(spark, tmp_path):
    """The snapshot sink computes a position-store batch once: one job
    lands it, and the merge reads the landed partition back without a
    schema-inference job. With no old snapshot the merge is one write
    (2 jobs per sink call); with one it adds the left-anti join
    (3 jobs)."""
    import datetime as dt

    from odin_rs_spark.streaming import pipelines, sources
    from odin_rs_spark.streaming.state import position_store_state

    def job_ids() -> set[int]:
        # ids, not the list's size: the status store evicts old jobs
        sc = spark.sparkContext._jsc.sc()
        sc.listenerBus().waitUntilEmpty()
        jobs = sc.statusStore().jobsList(None)
        return {jobs.apply(i).jobId() for i in range(jobs.size())}

    t0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(f"d{i % 3}", t0 + dt.timedelta(seconds=i), 35.0, -100.0) for i in range(12)],
        "key string, ts timestamp, lat double, lon double",
    )
    root = str(tmp_path / "replay")
    sources.split_for_replay(df, root, n_chunks=2, order_col="ts")
    sink = pipelines.snapshot_delta_sink(
        str(tmp_path / "snap"),
        str(tmp_path / "delta"),
        pipelines.latest_per_key_merge(["key"]),
    )
    jobs: list[int] = []

    def counted(batch_df, batch_id):
        before = job_ids()
        sink(batch_df, batch_id)
        jobs.append(len(job_ids() - before))

    pipelines.run_available_now(
        position_store_state(sources.replay_stream(spark, root, df.schema).groupBy("key")),
        counted,
        str(tmp_path / "ckpt"),
    )
    assert jobs == [2, 3]


def _q7(spark, sf_dir):
    raise AssertionError("registry tests never run a query")


def test_registry_rejects_query_without_oracle():
    from odin_rs_spark.plans.catalog import _discover

    with pytest.raises(ValueError, match="q7_orphan"):
        _discover({"q7_orphan": _q7, "Q8_SQL": "SELECT 1"})


def test_registry_rejects_shared_query_number():
    from odin_rs_spark.plans.catalog import _discover

    ns = {"q7_a": _q7, "q07_b": _q7, "Q7_SQL": "SELECT 1", "Q07_SQL": "SELECT 2"}
    with pytest.raises(ValueError, match="share number"):
        _discover(ns)


def test_registry_prefers_sql_constant_over_builder():
    from odin_rs_spark.plans.catalog import _discover

    def built() -> str:
        raise AssertionError("the builder only runs when no QNN_SQL exists")

    specs = _discover(
        {"q7_x": _q7, "Q7_SQL": "SELECT 7", "_q7_sql": built, "q9_y": _q7,
         "_q9_sql": lambda: "SELECT 9", "q141_fractal_dim": _q7, "not_q1_z": _q7}
    )
    assert [(s.name, s.sql) for s in specs] == [
        ("q7_x", "SELECT 7"), ("q9_y", "SELECT 9"), ("q141_fractal_dim", None),
    ]


def test_registry_is_the_catalog_modules():
    """Every module-level qNN_ def in the four family modules is
    registered, q141 is the one rows-only query, the cap order leads,
    and catalog.py restates no query."""
    import pathlib
    import re

    import odin_rs_spark.plans as plans
    from odin_rs_spark.plans.catalog import _CAP_FRONT, CATALOG

    here = pathlib.Path(plans.__file__).parent
    defined = {
        m
        for name in ("core", "media", "web", "lake")
        for m in re.findall(r"^def (q\d+_\w+)\(", (here / f"catalog_{name}.py").read_text(), re.M)
    }
    assert defined == set(CATALOG)
    assert {n for n, s in CATALOG.items() if s.sql is None} == {"q141_fractal_dim"}
    assert list(CATALOG)[: len(_CAP_FRONT)] == _CAP_FRONT
    assert 'QuerySpec("q' not in (here / "catalog.py").read_text()
