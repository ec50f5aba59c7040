"""Catalog queries q250-q320 (split from the single-file catalog in
r11). Registry and cap order: plans/catalog.py."""

from __future__ import annotations

from odin_rs_spark.plans.catalog_web import *  # noqa: F401,F403
# --------------------------------------------------------------------------
# q250 — crawl-bootstrap flagship: plan a polite crawl from NOTHING
# but robots.txt files — the full frontier-planning pipeline in its
# real order. robots_directives yields each host's Crawl-delay and
# Sitemap; the sitemap <loc> urls become the frontier; the blocklist
# gate (2 of 12 hosts) and the trap-signal gate (every 5th url is a
# session-id calendar) shrink it to the fetchable need; the
# water-filling allocator spends a 60% global budget max-min fairly;
# politeness_schedule turns allocations into fetch plans whose
# makespan is (alloc-1)·delay. One row per host with per-stage counts
# that break independently (the q227 discipline). The oracle replays
# the seed formulas, the waterfill windows and the makespan algebra.
# --------------------------------------------------------------------------


def q250_crawl_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.operators.web import (
        blocklist_match,
        frontier_url_signals,
        politeness_schedule,
        robots_directives,
        waterfill_alloc,
    )

    i = F.col("id")
    host = F.concat(F.lit("h"), i.cast("string"), F.lit(".example"))
    robots_txt = F.concat(
        F.lit("User-agent: *\nCrawl-delay: "),
        (1 + i % 3).cast("string"),
        F.lit("\nSitemap: https://"), host, F.lit("/sm.xml\n"),
    )
    hosts = spark.range(12).select(
        host.alias("host"), robots_txt.alias("robots_txt")
    )

    # sitemap XML per host, then the <loc> scan (the q163 shape)
    n_urls = 6 + i % 5
    loc = lambda j: F.concat(  # noqa: E731
        F.lit("<url><loc>https://"), host,
        F.when(
            j % 5 == 4,
            F.concat(F.lit("/cal?phpsessid=x"), j.cast("string")),
        ).otherwise(F.concat(F.lit("/page-"), j.cast("string"))),
        F.lit("</loc></url>"),
    )
    sm = spark.range(12).select(
        host.alias("host"),
        F.concat(
            F.lit("<urlset>"),
            F.array_join(
                F.transform(F.sequence(F.lit(0), n_urls - 1), loc), ""
            ),
            F.lit("</urlset>"),
        ).alias("sm_xml"),
    )
    frontier = sm.select(
        "host",
        F.explode(
            F.regexp_extract_all(
                F.col("sm_xml"), F.lit("<loc>(.*?)</loc>"), F.lit(1)
            )
        ).alias("url"),
    )

    gated = frontier_url_signals(
        blocklist_match(
            frontier,
            spark.createDataFrame(
                [("h3.example", "adult"), ("h7.example", "tracker")],
                "suffix string, category string",
            ),
        )
        # the gated frontier feeds stats, the keep filter, the need agg
        # and the fetch plan — one materialization instead of four
        # re-plans of the signal pipeline (frontier materialization is
        # the standard bootstrap shape at crawl scale too)
    ).localCheckpoint(eager=True)
    kept = gated.where(
        F.col("block_category").isNull() & (F.col("trap_score") == 0)
    )

    stats = gated.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_sitemap_urls"),
        F.sum(F.col("block_category").isNotNull().cast("bigint")).alias(
            "n_blocked"
        ),
        F.sum(
            (F.col("block_category").isNull() & (F.col("trap_score") > 0))
            .cast("bigint")
        ).alias("n_trap"),
    )
    need = kept.groupBy("host").agg(F.count(F.lit(1)).alias("need"))
    alloc = waterfill_alloc(need, F.floor(3 * F.col("__tot") / 5))

    delays = (
        robots_directives(hosts)
        .where(F.col("directive") == "crawl-delay")
        .select(
            "host", (F.col("value").cast("int") * 1000).alias("delay_ms")
        )
    )
    w = Window.partitionBy("host").orderBy("url")
    to_fetch = (
        kept.join(alloc.select("host", "alloc"), "host")
        .withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= F.col("alloc"))
        .select("host", "url")
    )
    plan = politeness_schedule(to_fetch, delays)
    makespan = plan.groupBy("host").agg(
        F.max("fetch_ms").alias("makespan_ms")
    )

    return (
        stats.join(need, "host", "left")
        .join(alloc.select("host", "alloc", "capped"), "host", "left")
        .join(delays, "host", "left")
        .join(makespan, "host", "left")
        .select(
            "host",
            "n_sitemap_urls",
            "n_blocked",
            "n_trap",
            F.coalesce(F.col("need"), F.lit(0)).alias("need"),
            F.coalesce(F.col("alloc"), F.lit(0)).alias("alloc"),
            F.coalesce(F.col("capped"), F.lit(False)).alias("capped"),
            (F.col("delay_ms") / 1000).cast("int").alias("delay_s"),
            F.coalesce(F.col("makespan_ms"), F.lit(0)).alias("makespan_ms"),
        )
    )


Q250_SQL = """
WITH h AS (
  SELECT range AS i, 'h' || range::VARCHAR || '.example' AS host,
         6 + range % 5 AS n, 1 + range % 3 AS delay_s
  FROM range(12)),
per AS (
  SELECT i, host, n, delay_s,
         CASE WHEN n >= 10 THEN 2 ELSE 1 END AS n_trap_raw,
         i IN (3, 7) AS blocked
  FROM h),
stats AS (
  SELECT host, n AS n_sitemap_urls,
         CASE WHEN blocked THEN n ELSE 0 END AS n_blocked,
         CASE WHEN blocked THEN 0 ELSE n_trap_raw END AS n_trap,
         CASE WHEN blocked THEN 0 ELSE n - n_trap_raw END AS need,
         delay_s, blocked
  FROM per),
nd AS (SELECT host, need FROM stats WHERE need > 0),
tot AS (SELECT sum(need) AS tot, count(*) AS m FROM nd),
ranked AS (
  SELECT host, need, m,
         row_number() OVER (ORDER BY need, host) AS k,
         sum(need) OVER (ORDER BY need, host) AS pfx,
         (3 * tot) // 5 AS budget
  FROM nd, tot),
ks AS (
  SELECT coalesce(max(k), 0) AS kstar
  FROM ranked WHERE pfx + (m - k) * need <= budget),
pk AS (
  SELECT coalesce(max(CASE WHEN r.k = ks.kstar THEN r.pfx END), 0) AS pk
  FROM ranked r, ks),
alloc AS (
  SELECT host, need,
         CASE WHEN m - kstar = 0 THEN need
              WHEN k <= kstar THEN need
              ELSE (budget - pk) // (m - kstar)
                   + CASE WHEN k - kstar <= budget - pk
                               - (m - kstar) * ((budget - pk) // (m - kstar))
                          THEN 1 ELSE 0 END
         END AS alloc
  FROM ranked, ks, pk)
SELECT s.host, s.n_sitemap_urls::BIGINT AS n_sitemap_urls,
       s.n_blocked::BIGINT AS n_blocked, s.n_trap::BIGINT AS n_trap,
       s.need::BIGINT AS need,
       coalesce(a.alloc, 0)::BIGINT AS alloc,
       coalesce(a.alloc < s.need, FALSE) AS capped,
       s.delay_s::INT AS delay_s,
       (CASE WHEN coalesce(a.alloc, 0) > 0
             THEN (a.alloc - 1) * s.delay_s * 1000 ELSE 0 END)::BIGINT
         AS makespan_ms
FROM stats s LEFT JOIN alloc a ON s.host = a.host
"""


# --------------------------------------------------------------------------
# q251 — TAR shard scan (sources/archive: POSIX ustar, the container
# training corpora ship in — Pile shards, WebDataset bundles). 30
# twin-encoded archives: 2-4 text members each under a directory
# entry, a symlink every 3rd archive, and a prefix-split long path
# every 5th (the 155+100 ustar field seam). The oracle rebuilds every
# member row from the seed formula — agreement proves header layout,
# checksum, octal fields, block padding and prefix reassembly;
# tests/test_archive.py pins the same twins against stdlib tarfile in
# BOTH directions.
# --------------------------------------------------------------------------


def _q251_media(spark: SparkSession):
    def one(aid: int) -> bytes:
        from odin_rs_spark.sources.archive import encode_tar

        members = [(f"shard{aid}/", None, "5", 1700000000 + aid)]
        for m in range(2 + aid % 3):
            words = " ".join(
                f"tw{(aid * 17 + m * 5 + w) % 29}"
                for w in range(6 + (aid + m) % 5)
            )
            name = f"shard{aid}/doc{m}.txt"
            if aid % 5 == 0 and m == 0:
                name = ("p" * 80) + f"/shard{aid}/doc{m}.txt"
            elif aid % 5 == 1 and m == 0:
                # >100-char UNSPLITTABLE segment: travels in a PAX
                # 'x' extended header (r10 — Pile-style shards)
                name = ("q" * 120) + f"_shard{aid}_doc{m}.txt"
            members.append(
                (name, words.encode(), "0", 1700000000 + aid * 10 + m)
            )
        if aid % 3 == 0:
            members.append(
                (f"shard{aid}/latest", None, "2", 1700000000 + aid)
            )
        return encode_tar(members)

    return _executor_blobs(spark, 30, content=one).select(
        F.concat(F.lit("t"), F.lpad(F.col("id").cast("string"), 2, "0"),
                 F.lit(".tar")).alias("path"),
        "content",
    )


def q251_tar_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.sources.archive import tar_members

    return tar_members(_q251_media(spark)).select(
        "file", "member", "typeflag", "size", "mtime", "text", "n_chars"
    )


Q251_SQL = """
WITH a AS (SELECT range AS aid FROM range(30)),
docs AS (
  SELECT aid, m.range AS m,
         (SELECT string_agg('tw' || ((aid * 17 + m.range * 5 + w.range) % 29),
                            ' ' ORDER BY w.range)
          FROM range(11) w
          WHERE w.range < 6 + (aid + m.range) % 5) AS words
  FROM a, range(5) m WHERE m.range < 2 + aid % 3),
rows_ AS (
  SELECT aid, -1 AS ord, 'shard' || aid || '/' AS member, '5' AS typeflag,
         0 AS size, 1700000000 + aid AS mtime, NULL::VARCHAR AS text
  FROM a
  UNION ALL
  SELECT aid, m AS ord,
         CASE WHEN aid % 5 = 0 AND m = 0
              THEN repeat('p', 80) || '/shard' || aid || '/doc' || m || '.txt'
              WHEN aid % 5 = 1 AND m = 0
              THEN repeat('q', 120) || '_shard' || aid || '_doc' || m || '.txt'
              ELSE 'shard' || aid || '/doc' || m || '.txt' END AS member,
         '0', length(words), 1700000000 + aid * 10 + m, words
  FROM docs
  UNION ALL
  SELECT aid, 99, 'shard' || aid || '/latest', '2', 0, 1700000000 + aid, NULL
  FROM a WHERE aid % 3 = 0)
SELECT 't' || lpad(aid::VARCHAR, 2, '0') || '.tar' AS file,
       member, typeflag, size::INT AS size, mtime::BIGINT AS mtime,
       text, length(text)::INT AS n_chars
FROM rows_
"""


# --------------------------------------------------------------------------
# q252 — HLL set algebra: audience-overlap estimation by inclusion-
# exclusion (|A∩B| ≈ est(A) + est(B) − est(A∪B), where the UNION
# sketch is just the bucket-wise register max — the merge that makes
# HLL a set algebra, not only a counter). All 10 event-type pairs,
# each audited against the exact distinct intersection. The oracle
# replays the q99 register chain for the singles AND the pair unions.
# Scale: the union merge touches registers (groups × 1024 rows),
# never the key universe — the whole point vs a distinct self-join.
# --------------------------------------------------------------------------


def q252_hll_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.operators import sketches

    ev = _t(spark, sf_dir, "events")
    regs = sketches.hll_registers(ev, "user_id", ["event_type"], p=10)
    singles = sketches.hll_estimate(regs, ["event_type"], p=10)
    types = regs.select("event_type").distinct()
    pairs = (
        types.select(F.col("event_type").alias("ta"))
        .crossJoin(types.select(F.col("event_type").alias("tb")))
        .where(F.col("ta") < F.col("tb"))
    )
    u = (
        pairs.join(
            regs,
            (F.col("event_type") == F.col("ta"))
            | (F.col("event_type") == F.col("tb")),
        )
        .groupBy("ta", "tb", "bucket")
        .agg(F.max("register").alias("register"))
    )
    est_u = sketches.hll_estimate(u, ["ta", "tb"], p=10).select(
        "ta", "tb", F.col("hll_estimate").alias("est_union")
    )
    ea = singles.select(
        F.col("event_type").alias("ta"), F.col("hll_estimate").alias("est_a")
    )
    eb = singles.select(
        F.col("event_type").alias("tb"), F.col("hll_estimate").alias("est_b")
    )
    du = ev.select("event_type", "user_id").distinct()
    exact = (
        du.select(F.col("event_type").alias("ta"), "user_id")
        .join(
            du.select(F.col("event_type").alias("tb"), "user_id"),
            "user_id",
        )
        .where(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).alias("exact_inter"))
    )
    out = (
        est_u.join(ea, "ta").join(eb, "tb").join(exact, ["ta", "tb"])
    )
    inter = F.round(F.col("est_a") + F.col("est_b") - F.col("est_union"), 2)
    return out.select(
        "ta", "tb", "est_a", "est_b", "est_union",
        inter.alias("est_inter"), "exact_inter",
        F.round(
            (inter - F.col("exact_inter")) / F.col("exact_inter"), 4
        ).alias("rel_err"),
    )


Q252_SQL = _HLL_CHAIN + f""",
pairs AS (
  SELECT a.event_type AS ta, b.event_type AS tb
  FROM (SELECT DISTINCT event_type FROM events) a,
       (SELECT DISTINCT event_type FROM events) b
  WHERE a.event_type < b.event_type),
regu AS (
  SELECT p.ta, p.tb, r.bucket, max(r.register) AS register
  FROM pairs p JOIN reg r
    ON r.event_type = p.ta OR r.event_type = p.tb
  GROUP BY p.ta, p.tb, r.bucket),
estu AS (
  SELECT ta, tb, count(*) AS nonzero, sum(pow(2.0, -register)) AS s
  FROM regu GROUP BY ta, tb),
eu2 AS (
  SELECT ta, tb,
         (0.7213/(1.0 + 1.079/1024))*1024*1024 / (s + (1024 - nonzero)) AS raw,
         1024 - nonzero AS v
  FROM estu),
hllu AS (
  SELECT ta, tb,
         round(CASE WHEN raw <= 2.5*1024 AND v > 0
                    THEN 1024.0 * ln(1024.0 / v) ELSE raw END, 2) AS est_union
  FROM eu2),
du AS (SELECT DISTINCT event_type, user_id FROM events),
exact AS (
  SELECT a.event_type AS ta, b.event_type AS tb, count(*) AS exact_inter
  FROM du a JOIN du b ON a.user_id = b.user_id
  WHERE a.event_type < b.event_type
  GROUP BY 1, 2)
SELECT u.ta, u.tb,
       ha.hll_estimate AS est_a, hb.hll_estimate AS est_b, u.est_union,
       round(ha.hll_estimate + hb.hll_estimate - u.est_union, 2) AS est_inter,
       e.exact_inter::BIGINT AS exact_inter,
       round((round(ha.hll_estimate + hb.hll_estimate - u.est_union, 2)
              - e.exact_inter) / e.exact_inter, 4) AS rel_err
FROM hllu u
JOIN hll ha ON ha.event_type = u.ta
JOIN hll hb ON hb.event_type = u.tb
JOIN exact e ON e.ta = u.ta AND e.tb = u.tb
"""


# --------------------------------------------------------------------------
# q253 — WebDataset multimodal shards (multimodal.webdataset_samples:
# the LAION-convention .tar layout where <key>.jpg/.txt/.json members
# form one sample — the composition proof that the TAR walker and the
# JPEG decoder share one scan task). Images are constant-block
# even-valued 16×16 grays, so decode is EXACT by the jpegcodec
# contract and img_mean is the seed value itself; every 7th sample
# drops its .txt (incomplete → dropped, the WebDataset unit rule) and
# every 4th carries a .json sidecar. The oracle rebuilds every sample
# row from the seed formula.
# --------------------------------------------------------------------------


def _q253_media(spark: SparkSession):
    def one(aid: int) -> bytes:
        import numpy as np

        from odin_rs_spark.sources.archive import encode_tar
        from odin_rs_spark.sources.jpegcodec import encode_jpeg

        members = []
        for k in range(3 + aid % 3):
            v = 2 * ((aid * 7 + k * 3) % 100) + 20
            img = np.full((16, 16), v, np.uint8)
            key = f"s{aid:02d}{k}"
            members.append(
                (key + ".jpg", encode_jpeg(img), "0", 1700000000)
            )
            if (aid * 3 + k) % 7 != 0:
                cap = " ".join(
                    f"cw{(aid * 13 + k * 5 + w) % 31}"
                    for w in range(4 + (aid + k) % 4)
                )
                members.append(
                    (key + ".txt", cap.encode(), "0", 1700000000)
                )
            if (aid + k) % 4 == 0:
                meta = b'{"id": %d}' % (aid * 100 + k)
                members.append(
                    (key + ".json", meta, "0", 1700000000)
                )
        return encode_tar(members)

    return _executor_blobs(spark, 24, content=one).select(
        F.concat(F.lit("w"), F.lpad(F.col("id").cast("string"), 2, "0"),
                 F.lit(".tar")).alias("path"),
        "content",
    )


def q253_webdataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.operators.multimodal import webdataset_samples

    return webdataset_samples(_q253_media(spark)).select(
        "file", "key", "caption", "n_caption_words", "meta_id",
        "img_w", "img_h", F.round("img_mean", 6).alias("img_mean"),
    )


Q253_SQL = """
WITH a AS (SELECT range AS aid FROM range(24)),
ks AS (SELECT aid, k.range AS k FROM a, range(6) k
       WHERE k.range < 3 + aid % 3),
caps AS (
  SELECT aid, k,
         (SELECT string_agg('cw' || ((aid * 13 + k * 5 + w.range) % 31),
                            ' ' ORDER BY w.range)
          FROM range(8) w WHERE w.range < 4 + (aid + k) % 4) AS caption
  FROM ks WHERE (aid * 3 + k) % 7 <> 0)
SELECT 'w' || lpad(aid::VARCHAR, 2, '0') || '.tar' AS file,
       's' || lpad(aid::VARCHAR, 2, '0') || k::VARCHAR AS key,
       caption,
       len(string_split(caption, ' '))::INT AS n_caption_words,
       CASE WHEN (aid + k) % 4 = 0 THEN aid * 100 + k
            ELSE NULL END::BIGINT AS meta_id,
       16::INT AS img_w, 16::INT AS img_h,
       (2 * ((aid * 7 + k * 3) % 100) + 20)::DOUBLE AS img_mean
FROM caps
"""


# --------------------------------------------------------------------------
# q254 — small-files compaction planning (layout.compaction_plan: the
# lakehouse OPTIMIZE bin-packing rule — largest-first within each
# table partition, cut a job when the running total crosses the
# target; a job overshoots by at most one file, the greedy behavior
# real compactors share). The file inventory derives from the events
# table (per event_type × hour "files" sized by row count); the
# report is per-partition: file/job counts, the small-file population
# before vs after, and the biggest job. Planning is METADATA work —
# one window over the inventory dim, the data never moves.
# --------------------------------------------------------------------------

_Q254_TARGET = 40_000


def q254_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.operators.layout import compaction_plan

    ev = _t(spark, sf_dir, "events")
    inv = ev.groupBy(
        "event_type", F.hour("ts").alias("hr")
    ).agg((F.count(F.lit(1)) * 97).alias("bytes"))
    planned = compaction_plan(
        inv, ["event_type"], "bytes", _Q254_TARGET, order_cols=["hr"]
    )
    jobs = planned.groupBy("event_type", "job").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("bytes").alias("job_bytes"),
    )
    return jobs.groupBy("event_type").agg(
        F.sum("n_files").cast("bigint").alias("n_files"),
        F.count(F.lit(1)).alias("n_jobs"),
        F.sum("job_bytes").cast("bigint").alias("total_bytes"),
        F.max("job_bytes").cast("bigint").alias("max_job_bytes"),
        F.sum((F.col("job_bytes") < _Q254_TARGET).cast("bigint")).alias(
            "n_small_jobs"
        ),
    )


Q254_SQL = f"""
WITH inv AS (
  SELECT event_type, EXTRACT(hour FROM ts) AS hr, count(*) * 97 AS bytes
  FROM events GROUP BY 1, 2),
planned AS (
  SELECT event_type, bytes,
         floor((sum(bytes) OVER (PARTITION BY event_type
                                 ORDER BY bytes DESC, hr) - bytes)
               / {_Q254_TARGET}.0)::INT AS job
  FROM inv),
jobs AS (
  SELECT event_type, job, count(*) AS n_files, sum(bytes) AS job_bytes
  FROM planned GROUP BY 1, 2)
SELECT event_type, sum(n_files)::BIGINT AS n_files,
       count(*)::BIGINT AS n_jobs, sum(job_bytes)::BIGINT AS total_bytes,
       max(job_bytes)::BIGINT AS max_job_bytes,
       sum(CASE WHEN job_bytes < {_Q254_TARGET} THEN 1 ELSE 0 END)::BIGINT
         AS n_small_jobs
FROM jobs GROUP BY 1
"""


# --------------------------------------------------------------------------
# q255 — data-quality column profiling (aggregations.profile_columns:
# the Deequ/ANALYZE-TABLE primitive every ingest runs first — one
# pass computes per-column row/null/distinct counts and typed min/max
# bounds; the multi-column count_distinct plans as a single expand +
# partial agg, so the table is scanned ONCE). Events table, all six
# columns; timestamps profile as epoch micros. The oracle computes
# each column's metrics independently and must agree with the
# single-pass row.
# --------------------------------------------------------------------------


def q255_data_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.operators.aggregations import profile_columns

    ev = _t(spark, sf_dir, "events")
    return profile_columns(
        ev,
        {
            "event_id": "numeric",
            "ts": "timestamp",
            "user_id": "numeric",
            "event_type": "string",
            "value": "numeric",
            "props": "string",
        },
    )


Q255_SQL = """
WITH n AS (SELECT count(*) AS N FROM events)
SELECT 'event_id' AS column, N AS n_rows,
       N - count(event_id) AS n_null,
       round((N - count(event_id)) / N::DOUBLE, 6) AS null_frac,
       count(DISTINCT event_id) AS n_distinct,
       min(event_id)::DOUBLE AS min_num, max(event_id)::DOUBLE AS max_num
FROM events, n GROUP BY N
UNION ALL
SELECT 'ts', N, N - count(ts), round((N - count(ts)) / N::DOUBLE, 6),
       count(DISTINCT ts), epoch_us(min(ts))::DOUBLE, epoch_us(max(ts))::DOUBLE
FROM events, n GROUP BY N
UNION ALL
SELECT 'user_id', N, N - count(user_id),
       round((N - count(user_id)) / N::DOUBLE, 6),
       count(DISTINCT user_id), min(user_id)::DOUBLE, max(user_id)::DOUBLE
FROM events, n GROUP BY N
UNION ALL
SELECT 'event_type', N, N - count(event_type),
       round((N - count(event_type)) / N::DOUBLE, 6),
       count(DISTINCT event_type), NULL::DOUBLE, NULL::DOUBLE
FROM events, n GROUP BY N
UNION ALL
SELECT 'value', N, N - count(value), round((N - count(value)) / N::DOUBLE, 6),
       count(DISTINCT value), min(value)::DOUBLE, max(value)::DOUBLE
FROM events, n GROUP BY N
UNION ALL
SELECT 'props', N, N - count(props), round((N - count(props)) / N::DOUBLE, 6),
       count(DISTINCT props), NULL::DOUBLE, NULL::DOUBLE
FROM events, n GROUP BY N
"""


# --------------------------------------------------------------------------
# q256 — Bloom-filter join pruning (the runtime-filter technique: a
# selective dim's keys compress to a broadcastable bitmap — q95's
# machinery — and the FACT side drops definite non-members BEFORE the
# join's exchange; at 100 TB the shuffle you skip is the win, and the
# false-pass count is the price, both measured here). Dim = purchase
# users with user_id % 5 = 0; the oracle replays the bloom bit math
# (the q95 replay) plus the exact memberships.
# --------------------------------------------------------------------------

_Q256_M = 512  # deliberately tight: the false-pass column must be nonzero to be tested
_Q256_K = 4


def q256_bloom_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.operators import dedup as dedup_ops

    ev = _t(spark, sf_dir, "events")
    dim = (
        ev.where((F.col("event_type") == "purchase") & (F.col("user_id") % 5 == 0))
        .select(F.col("user_id").cast("string").alias("key"))
        .distinct()
    )
    bloom = dedup_ops.bloom_build(dim, "key", m_bits=_Q256_M, k=_Q256_K)
    fact = ev.select(F.col("user_id").cast("string").alias("key"))
    probed = dedup_ops.bloom_probe(
        fact, "key", bloom, m_bits=_Q256_M, k=_Q256_K
    )
    member = dim.withColumn("__is_dim", F.lit(1))
    audited = probed.join(F.broadcast(member), "key", "left")
    return audited.agg(
        F.count(F.lit(1)).alias("n_fact"),
        F.sum(F.col("maybe_member").cast("bigint")).alias("n_pass"),
        F.sum(F.coalesce(F.col("__is_dim"), F.lit(0)).cast("bigint")).alias(
            "n_match"
        ),
        F.sum(
            (F.col("maybe_member") & F.col("__is_dim").isNull()).cast("bigint")
        ).alias("n_false_pass"),
        F.round(
            1 - F.sum(F.col("maybe_member").cast("bigint"))
            / F.count(F.lit(1)),
            4,
        ).alias("pruned_frac"),
    )


Q256_SQL = (
    r"""
WITH dim AS (
  SELECT DISTINCT user_id::VARCHAR AS key FROM events
  WHERE event_type = 'purchase' AND user_id % 5 = 0),
dh AS (SELECT key, """
    + _H60.format(x="key")
    + r""" AS h FROM dim),
bloom AS (
  SELECT p // 60 AS word_idx, bit_or(CAST(1 AS BIGINT) << (p % 60)::INT) AS word
  FROM ("""
    + _BLOOM_POS.format(key_cols="key", m=_Q256_M, src="dh")
    + r""")
  GROUP BY 1),
fact AS (SELECT user_id::VARCHAR AS key, """
    + _H60.format(x="user_id::VARCHAR")
    + r""" AS h FROM events),
hits AS (
  SELECT pos.rid,
         pos.key,
         sum(CASE WHEN ((word >> (p % 60)::INT) & 1) = 1 THEN 1 ELSE 0 END)
           AS nbits
  FROM ("""
    + _BLOOM_POS.format(
        key_cols="rid, key",
        m=_Q256_M,
        src="(SELECT row_number() OVER () AS rid, key, h FROM fact)",
    )
    + r""") pos
  LEFT JOIN bloom ON pos.p // 60 = bloom.word_idx
  GROUP BY pos.rid, pos.key)
SELECT count(*)::BIGINT AS n_fact,
       sum(CASE WHEN nbits = 4 THEN 1 ELSE 0 END)::BIGINT AS n_pass,
       sum(CASE WHEN key IN (SELECT key FROM dim) THEN 1 ELSE 0 END)::BIGINT
         AS n_match,
       sum(CASE WHEN nbits = 4 AND key NOT IN (SELECT key FROM dim)
                THEN 1 ELSE 0 END)::BIGINT AS n_false_pass,
       round(1 - sum(CASE WHEN nbits = 4 THEN 1 ELSE 0 END)
                 / count(*)::DOUBLE, 4) AS pruned_frac
FROM hits
"""
)


# --------------------------------------------------------------------------
# q257 — watermark late-data drop accounting (the one core streaming
# semantic the catalog had not yet pinned VALUE-exactly: rows whose
# window closed below the watermark are DROPPED, not merged). Chunks
# split by a portable md5 of event_id — arrival order deliberately
# UNCORRELATED with event time (event_id itself is generated in time
# order; splitting on it makes nothing late, the vacuous test) — so
# every batch spans the full month and later batches carry genuinely
# late rows; 6 chunks at maxFilesPerTrigger=2 make exactly three
# batches. MEASURED Spark semantics pinned here (state-metric
# instrumented, this session): the progress-reported watermark of
# batch b is max_ts(batches ≤ b−1) − delay and drives STATE EVICTION
# in batch b, but the late-INPUT filter lags it by ONE batch — batch
# 1 accepts everything (filter still 1970), batch 2 filters against
# wm(1) = max_ts(batch 0) − 30 min (numRowsDroppedByWatermark went
# 0 / 0 / 2640). The oracle encodes exactly that rule, so any Spark
# version changing watermark propagation flips this query red —
# which is the point. The update-mode upsert store holds the kept
# counts; ntile replays chunk assignment; q96's class recode reused.
# --------------------------------------------------------------------------


@_scratch_query
def q257_stream_late_drop(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    from odin_rs_spark.streaming.pipelines import (
        latest_per_key_merge,
        run_available_now,
        snapshot_delta_sink,
        windowed_class_counts,
    )
    from odin_rs_spark.streaming.sources import replay_stream, split_for_replay

    # arrival order must be UNCORRELATED with event time for late rows
    # to exist (event_id is generated in time order — splitting on it
    # replays history in order and nothing is ever late, the vacuous
    # version of this test), and the shuffle key must be UNIQUE or
    # ntile tie-breaking makes chunk assignment nondeterministic: a
    # portable md5 of the unique event_id gives both properties and
    # replays verbatim in the oracle
    ev = _t(spark, sf_dir, "events").withColumn(
        "__shuffle", F.md5(F.col("event_id").cast("string"))
    )
    split_for_replay(ev, root + "/chunks", n_chunks=6, order_col="__shuffle")
    stream = replay_stream(spark, root + "/chunks", ev.schema, 2).drop("__shuffle")
    agg = windowed_class_counts(stream, watermark="30 minutes")
    sink = snapshot_delta_sink(
        root + "/snapshot",
        root + "/delta",
        latest_per_key_merge(["win_start", "win_end", "class"]),
    )
    with _stream_state_parallelism(spark, 8):
        run_available_now(
            agg, sink, root + "/ckpt", output_mode="update"
        )
    out = spark.read.parquet(root + "/snapshot").select(
        "win_start", "win_end", "class", "n", "sum_value"
    )
    return out


Q257_SQL = """
WITH c AS (
  SELECT *, ntile(6) OVER (ORDER BY md5(event_id::VARCHAR)) AS chunk
  FROM events),
b AS (SELECT *, (chunk - 1) // 2 AS batch FROM c),
-- the input filter for batch 2 is the watermark REPORTED at batch 1,
-- i.e. max event time of batch 0 minus the 30-minute delay (the
-- measured one-batch filter lag; see the query comment)
wm AS (SELECT max(ts) - INTERVAL 30 MINUTE AS w FROM b WHERE batch = 0),
kept AS (
  SELECT b.* FROM b, wm
  WHERE batch <= 1
     OR date_trunc('hour', ts) + INTERVAL 1 HOUR > wm.w)
SELECT date_trunc('hour', ts) AS win_start,
       date_trunc('hour', ts) + INTERVAL 1 HOUR AS win_end,
       CASE WHEN value < 50 THEN 'low'
            WHEN value < 200 THEN 'mid'
            ELSE 'high' END AS class,
       count(*)::BIGINT AS n,
       round(sum(value), 4) AS sum_value
FROM kept
GROUP BY 1, 2, 3
"""


# --------------------------------------------------------------------------
# q258 — HITS hubs & authorities (Kleinberg 1999) over the q127
# cohort graph, with EXACT integer mass (unnormalized mutual
# recursion from h₀=1 — normalization only rescales, rankings are
# identical, and integer math keeps both engines bit-equal, the
# integer-pagerank discipline). Three iterations, top-20 authorities
# with a fully deterministic (authority, hub, node) tie-break; the
# oracle unrolls the same three a/h stages as MATERIALIZED CTEs over
# the same bounded O(n·K) edge construction (shared _cohort_edges).
# --------------------------------------------------------------------------


def q258_graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.operators.graph import integer_hits

    edges = _cohort_edges(spark, sf_dir)
    with _stream_state_parallelism(spark, 8):
        out = integer_hits(edges, iterations=3)
    return (
        out.orderBy(
            F.col("authority").desc(), F.col("hub").desc(), F.col("node")
        )
        .limit(20)
        .select(F.col("node").alias("user_id"), "hub", "authority")
    )


def _q258_sql(iterations: int = 3) -> str:
    head = """
WITH ev AS (
  SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS hb FROM events),
rk AS (
  SELECT user_id, event_type, hb,
         row_number() OVER (PARTITION BY event_type, hb ORDER BY user_id) AS rk
  FROM ev),
e AS MATERIALIZED (
  SELECT DISTINCT a.user_id AS src, b.user_id AS dst
  FROM rk a JOIN rk b ON a.event_type = b.event_type AND a.hb = b.hb
  AND b.rk BETWEEN a.rk + 1 AND a.rk + 3),
nodes AS MATERIALIZED (
  SELECT src AS node FROM e UNION SELECT dst FROM e),
h0 AS MATERIALIZED (SELECT node, 1::BIGINT AS s FROM nodes)"""
    steps = []
    for i in range(iterations):
        steps.append(f""",
a{i + 1} AS MATERIALIZED (
  SELECT e.dst AS node, sum(h.s)::BIGINT AS s
  FROM e JOIN h{i} h ON h.node = e.src GROUP BY e.dst),
h{i + 1} AS MATERIALIZED (
  SELECT e.src AS node, sum(a.s)::BIGINT AS s
  FROM e JOIN a{i + 1} a ON a.node = e.dst GROUP BY e.src)"""
        )
    k = iterations
    return head + "".join(steps) + f"""
SELECT n.node AS user_id,
       coalesce(h.s, 0)::BIGINT AS hub,
       coalesce(a.s, 0)::BIGINT AS authority
FROM nodes n
LEFT JOIN h{k} h ON h.node = n.node
LEFT JOIN a{k} a ON a.node = n.node
ORDER BY authority DESC, hub DESC, n.node
LIMIT 20
"""


Q258_SQL = _q258_sql()


# --------------------------------------------------------------------------
# q259 — SCD2 dimension build (windows.scd2_intervals: the Kimball
# type-2 slowly-changing-dimension primitive — collapse each user's
# event-type history into validity intervals [valid_from, valid_to)
# with an is_current open interval; consecutive repeats are one
# change-point). Timestamp ties break on event_id, so the oracle
# replays both windows deterministically. Summary per (user bucket,
# event_type): interval counts and total current rows — plus the
# n_current/n_users invariant (every user has EXACTLY one open
# interval), which breaks on any change-point or lead drift.
# --------------------------------------------------------------------------


def q259_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.operators.windows import scd2_intervals

    ev = _t(spark, sf_dir, "events")
    dim = scd2_intervals(
        ev, "user_id", "event_type", "ts", order_cols=("event_id",)
    )
    return dim.groupBy(
        (F.col("user_id") % 10).alias("user_bucket"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum(F.col("is_current").cast("bigint")).alias("n_current"),
        F.count_distinct(F.col("user_id")).alias("n_users"),
        F.min("valid_from").alias("first_from"),
        F.max("valid_from").alias("last_from"),
    )


Q259_SQL = """
WITH ch AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events),
cp AS (
  SELECT user_id, event_type, ts,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM ch WHERE prev IS NULL OR event_type <> prev),
iv AS (
  SELECT a.user_id, a.event_type, a.ts AS valid_from, b.ts AS valid_to,
         b.ts IS NULL AS is_current
  FROM cp a LEFT JOIN cp b
    ON a.user_id = b.user_id AND b.rn = a.rn + 1)
SELECT (user_id % 10)::BIGINT AS user_bucket, event_type,
       count(*)::BIGINT AS n_intervals,
       sum(CASE WHEN is_current THEN 1 ELSE 0 END)::BIGINT AS n_current,
       count(DISTINCT user_id)::BIGINT AS n_users,
       min(valid_from) AS first_from, max(valid_from) AS last_from
FROM iv GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# q260 — ordered funnel analysis (the product-analytics staple next
# to sessionization: how many users performed view → click →
# purchase IN ORDER — each step's timestamp must strictly follow the
# previous step's FIRST qualifying time, the standard "unordered
# conversions don't count" rule). Three staged aggregations joined on
# the user dim; counts per user bucket with step-wise conversion
# rates rounded. The oracle replays the same staged CTEs.
# --------------------------------------------------------------------------


def q260_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    t1 = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    t2 = (
        ev.where(F.col("event_type") == "click")
        .join(t1, "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id", "t1")
        .agg(F.min("ts").alias("t2"))
    )
    t3 = (
        ev.where(F.col("event_type") == "purchase")
        .join(t2, "user_id")
        .where(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    steps = (
        t1.join(t2.select("user_id", "t2"), "user_id", "left")
        .join(t3, "user_id", "left")
        .select(
            (F.col("user_id") % 5).alias("user_bucket"),
            F.lit(1).alias("s1"),
            F.col("t2").isNotNull().cast("int").alias("s2"),
            F.col("t3").isNotNull().cast("int").alias("s3"),
        )
    )
    return steps.groupBy("user_bucket").agg(
        F.sum("s1").cast("bigint").alias("n_view"),
        F.sum("s2").cast("bigint").alias("n_view_click"),
        F.sum("s3").cast("bigint").alias("n_full_funnel"),
        F.round(F.sum("s2") / F.sum("s1"), 4).alias("click_rate"),
        F.round(F.sum("s3") / F.sum("s1"), 4).alias("funnel_rate"),
    )


Q260_SQL = """
WITH t1 AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id),
t2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN t1 ON e.user_id = t1.user_id
  WHERE e.event_type = 'click' AND e.ts > t1.t1
  GROUP BY e.user_id),
t3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN t2 ON e.user_id = t2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > t2.t2
  GROUP BY e.user_id),
s AS (
  SELECT t1.user_id % 5 AS user_bucket, 1 AS s1,
         CASE WHEN t2.user_id IS NULL THEN 0 ELSE 1 END AS s2,
         CASE WHEN t3.user_id IS NULL THEN 0 ELSE 1 END AS s3
  FROM t1 LEFT JOIN t2 ON t1.user_id = t2.user_id
          LEFT JOIN t3 ON t1.user_id = t3.user_id)
SELECT user_bucket::BIGINT AS user_bucket, sum(s1)::BIGINT AS n_view,
       sum(s2)::BIGINT AS n_view_click, sum(s3)::BIGINT AS n_full_funnel,
       round(sum(s2) / sum(s1)::DOUBLE, 4) AS click_rate,
       round(sum(s3) / sum(s1)::DOUBLE, 4) AS funnel_rate
FROM s GROUP BY 1
"""


# --------------------------------------------------------------------------
# q261 — retention cohort triangle (the other analytics staple: users
# cohorted by FIRST-activity day, retention = fraction active again
# at day offset d; offsets 0-7). Two aggregations over the events
# table — cohort dim then (cohort, offset) distinct-user counts — all
# date math integral. Oracle replays both stages.
# --------------------------------------------------------------------------


def q261_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    cohort = ev.groupBy("user_id").agg(F.min("d").alias("d0"))
    active = ev.distinct().join(cohort, "user_id")
    ret = (
        active.select(
            "user_id", "d0", F.datediff(F.col("d"), F.col("d0")).alias("off")
        )
        .where(F.col("off").between(0, 7))
        .groupBy("d0", "off")
        .agg(F.count_distinct("user_id").alias("n_active"))
    )
    size = cohort.groupBy("d0").agg(F.count(F.lit(1)).alias("cohort_size"))
    return ret.join(size, "d0").select(
        F.col("d0").cast("string").alias("cohort_day"),
        "off", "n_active", "cohort_size",
        F.round(F.col("n_active") / F.col("cohort_size"), 4).alias("retention"),
    )


Q261_SQL = """
WITH ev AS (SELECT DISTINCT user_id, ts::DATE AS d FROM events),
cohort AS (SELECT user_id, min(d) AS d0 FROM ev GROUP BY user_id),
ret AS (
  SELECT c.d0, (e.d - c.d0) AS off, count(DISTINCT e.user_id) AS n_active
  FROM ev e JOIN cohort c ON e.user_id = c.user_id
  WHERE (e.d - c.d0) BETWEEN 0 AND 7
  GROUP BY 1, 2),
sz AS (SELECT d0, count(*) AS cohort_size FROM cohort GROUP BY d0)
SELECT ret.d0::VARCHAR AS cohort_day, off::INT AS off,
       n_active::BIGINT AS n_active,
       sz.cohort_size::BIGINT AS cohort_size,
       round(n_active / sz.cohort_size::DOUBLE, 4) AS retention
FROM ret JOIN sz ON ret.d0 = sz.d0
"""


# --------------------------------------------------------------------------
# q262 — forward-fill over an hourly sensor grid (LOCF — the gap
# repair every station/telemetry pipeline runs before resampling; the
# reference's weather-station feeds have exactly this shape). Each
# (user_id%20 station, hour) cell carries the hour's LAST value by
# (ts, event_id); missing hours fill from the most recent earlier
# observation via one last(ignorenulls) window over the dense
# station×hour grid (cross join of two dims — never a per-row
# explode). Output: per station, observed vs filled cell counts and
# a checksum of the filled series.
# --------------------------------------------------------------------------


def q262_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    obs = (
        ev.select(
            (F.col("user_id") % 20).alias("station"),
            F.date_trunc("hour", F.col("ts")).alias("hr"),
            F.struct(F.col("ts"), F.col("event_id"), F.col("value")).alias("o"),
        )
        .groupBy("station", "hr")
        .agg(F.max("o").alias("o"))
        .select("station", "hr", F.col("o.value").alias("v"))
    )
    hours = ev.select(F.date_trunc("hour", F.col("ts")).alias("hr")).distinct()
    stations = obs.select("station").distinct()
    grid = stations.crossJoin(hours)
    w = (
        Window.partitionBy("station")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = grid.join(obs, ["station", "hr"], "left").withColumn(
        "fv", F.last("v", ignorenulls=True).over(w)
    )
    return filled.groupBy("station").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum(F.col("v").isNotNull().cast("bigint")).alias("n_observed"),
        F.sum(
            (F.col("v").isNull() & F.col("fv").isNotNull()).cast("bigint")
        ).alias("n_filled"),
        F.sum(F.col("fv").isNull().cast("bigint")).alias("n_leading_gaps"),
        F.round(F.sum("fv"), 4).alias("sum_filled_series"),
    )


Q262_SQL = """
WITH obs AS (
  SELECT station, hr, max(o).v AS v FROM (
    SELECT user_id % 20 AS station, date_trunc('hour', ts) AS hr,
           struct_pack(ts := ts, event_id := event_id, v := value) AS o
    FROM events)
  GROUP BY station, hr),
hours AS (SELECT DISTINCT date_trunc('hour', ts) AS hr FROM events),
stations AS (SELECT DISTINCT station FROM obs),
grid AS (SELECT station, hr FROM stations, hours),
filled AS (
  SELECT g.station, g.hr, o.v,
         last_value(o.v IGNORE NULLS) OVER (
           PARTITION BY g.station ORDER BY g.hr
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fv
  FROM grid g LEFT JOIN obs o ON g.station = o.station AND g.hr = o.hr)
SELECT station::BIGINT AS station, count(*)::BIGINT AS n_hours,
       sum(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_observed,
       sum(CASE WHEN v IS NULL AND fv IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         AS n_filled,
       sum(CASE WHEN fv IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_leading_gaps,
       round(sum(fv), 4) AS sum_filled_series
FROM filled GROUP BY 1
"""


# --------------------------------------------------------------------------
# q263 — event-time disorder audit (the measurement that CHOOSES a
# watermark: per source, how far behind the running event-time
# maximum do rows arrive? q257 pins what a watermark DOES; this one
# tells you what to SET it to). Arrival order = the md5(event_id)
# shuffle — the SAME arrival process q257 streams (event_id itself is
# emit-ordered and measures zero disorder, the vacuous audit);
# disorder_s = running max(ts) − ts at arrival. Report per
# event_type: max and p95/p99 disorder (exact rank-k on the
# deterministic (disorder, event_id) order) plus the late fraction a
# 30-minute watermark would have dropped — read next to q257, this
# is the watermark-sizing loop closed.
# --------------------------------------------------------------------------


def q263_disorder_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.md5(F.col("event_id").cast("string")))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    d = ev.select(
        "event_type",
        "event_id",
        (
            (F.unix_micros(F.max("ts").over(w)) - F.unix_micros(F.col("ts")))
            / 1_000_000.0
        ).alias("disorder_s"),
    )
    wr = Window.partitionBy("event_type").orderBy(
        F.col("disorder_s"), F.col("event_id")
    )
    ranked = d.withColumn("rk", F.row_number().over(wr)).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("event_type"))
    )
    k95 = F.floor((95 * F.col("n") + 99) / 100)
    k99 = F.floor((99 * F.col("n") + 99) / 100)
    return ranked.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n"),
        F.round(F.max("disorder_s"), 3).alias("max_disorder_s"),
        F.round(
            F.max(F.when(F.col("rk") == k95, F.col("disorder_s"))), 3
        ).alias("p95_disorder_s"),
        F.round(
            F.max(F.when(F.col("rk") == k99, F.col("disorder_s"))), 3
        ).alias("p99_disorder_s"),
        F.round(
            F.sum((F.col("disorder_s") > 1800).cast("bigint"))
            / F.count(F.lit(1)),
            4,
        ).alias("late_frac_30min"),
    )


Q263_SQL = """
WITH d AS (
  SELECT event_type, event_id,
         (epoch_us(max(ts) OVER (PARTITION BY event_type
                                 ORDER BY md5(event_id::VARCHAR)
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW))
          - epoch_us(ts)) / 1000000.0 AS disorder_s
  FROM events),
r AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
                               ORDER BY disorder_s, event_id) AS rk,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM d)
SELECT event_type, max(n)::BIGINT AS n,
       round(max(disorder_s), 3) AS max_disorder_s,
       round(max(CASE WHEN rk = (95 * n + 99) // 100
                      THEN disorder_s END), 3) AS p95_disorder_s,
       round(max(CASE WHEN rk = (99 * n + 99) // 100
                      THEN disorder_s END), 3) AS p99_disorder_s,
       round(sum(CASE WHEN disorder_s > 1800 THEN 1 ELSE 0 END)
             / count(*)::DOUBLE, 4) AS late_frac_30min
FROM r GROUP BY event_type
"""


# --------------------------------------------------------------------------
# q264 — referential-integrity conformance (the Deequ-style FK audit
# completing q255's profiling: orphaned foreign keys across the
# star schema — lineitem→orders, orders→customer, customer→nation —
# counted by LEFT joins on the key dims (parent keys are unique, so a
# NULL parent key marks exactly one orphan); TPC-H data is conformant
# by construction, so violations are SEEDED (every 97th orders row
# gets a custkey pushed past the dim) and the audit must count exactly
# those). One lazy plan: the seed offset joins in as a 1-row
# aggregate, so building the query launches no job.
# --------------------------------------------------------------------------


def q264_fk_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey")
    seeded = orders.crossJoin(cust.agg(F.max("c_custkey").alias("__maxc"))).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 97 == 0, F.col("o_custkey") + F.col("__maxc")
        ).otherwise(F.col("o_custkey")).alias("o_custkey"),
    )

    def audit(child, key, parent, pkey, label):
        return child.join(parent, F.col(key) == F.col(pkey), "left").agg(
            F.lit(label).alias("fk"),
            F.count(F.lit(1)).alias("n_child"),
            F.sum(F.col(pkey).isNull().cast("bigint")).alias("n_orphans"),
        )

    fks = [
        audit(li, "l_orderkey", orders, "o_orderkey", "lineitem->orders"),
        audit(seeded, "o_custkey", cust, "c_custkey", "orders->customer"),
        audit(cust, "c_nationkey", nation, "n_nationkey", "customer->nation"),
    ]
    return fks[0].unionByName(fks[1]).unionByName(fks[2])


Q264_SQL = """
WITH maxc AS (SELECT max(c_custkey) AS m FROM customer),
seeded AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 97 = 0 THEN o_custkey + (SELECT m FROM maxc)
              ELSE o_custkey END AS o_custkey
  FROM orders)
SELECT 'lineitem->orders' AS fk, count(*)::BIGINT AS n_child,
       sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT
         AS n_orphans
FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
UNION ALL
SELECT 'orders->customer', count(*)::BIGINT,
       sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT
FROM seeded s LEFT JOIN customer c ON s.o_custkey = c.c_custkey
UNION ALL
SELECT 'customer->nation', count(*)::BIGINT,
       sum(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END)::BIGINT
FROM customer cu LEFT JOIN nation n ON cu.c_nationkey = n.n_nationkey
"""


# --------------------------------------------------------------------------
# q265 — ZIP member scan (sources/archive.zip_members: stdlib zipfile
# does the container — the officedoc.py pattern — and the engine adds
# the walker shape plus NAMED rejections for 7z/rar/zstd/bzip2/xz so
# an on_error='skip' pipeline counts what it lost instead of labeling
# it corrupt). 24 twin-built zips mixing stored and deflated members;
# compressed sizes are zlib-version-dependent and deliberately NOT in
# the compared output. Oracle rebuilds the member rows from the seed.
# --------------------------------------------------------------------------


def _q265_media(spark: SparkSession):
    def one(zid: int) -> bytes:
        import io
        import zipfile

        buf = io.BytesIO()
        zf = zipfile.ZipFile(buf, "w")
        for m in range(2 + zid % 3):
            words = " ".join(
                f"zw{(zid * 19 + m * 7 + w) % 31}"
                for w in range(5 + (zid + m) % 4)
            )
            zi = zipfile.ZipInfo(f"z{zid}/m{m}.txt")
            zf.writestr(
                zi,
                words,
                compress_type=(
                    zipfile.ZIP_STORED if m % 2 == 0 else zipfile.ZIP_DEFLATED
                ),
            )
        zf.close()
        return buf.getvalue()

    return _executor_blobs(spark, 24, content=one).select(
        F.concat(F.lit("z"), F.lpad(F.col("id").cast("string"), 2, "0"),
                 F.lit(".zip")).alias("path"),
        "content",
    )


def q265_zip_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.sources.archive import zip_members

    return zip_members(_q265_media(spark)).select(
        "file", "member", "size", "method", "text", "n_chars"
    )


Q265_SQL = """
WITH z AS (SELECT range AS zid FROM range(24)),
m AS (SELECT zid, mm.range AS m FROM z, range(5) mm
      WHERE mm.range < 2 + zid % 3),
w AS (
  SELECT zid, m,
         (SELECT string_agg('zw' || ((zid * 19 + m * 7 + ww.range) % 31),
                            ' ' ORDER BY ww.range)
          FROM range(9) ww WHERE ww.range < 5 + (zid + m) % 4) AS words
  FROM m)
SELECT 'z' || lpad(zid::VARCHAR, 2, '0') || '.zip' AS file,
       'z' || zid || '/m' || m || '.txt' AS member,
       length(words)::INT AS size,
       CASE WHEN m % 2 = 0 THEN 'store' ELSE 'deflate' END AS method,
       words AS text, length(words)::INT AS n_chars
FROM w
"""


# --------------------------------------------------------------------------
# q266 — stream-stream LEFT OUTER join semantics pinned (the
# null-padding timing nobody reads the docs carefully enough for:
# an unmatched left row emits its null-padded result only when the
# watermark PROVES no match can still arrive, and rows above the
# final watermark remain buffered and NEVER emit under AvailableNow —
# the classic missing-outer-rows gotcha, measured here per batch:
# 6+3 matched pairs, 982+986 nulls, 4 unmatched rows above the final
# watermark silently withheld). The final watermark is
# min(max left ts, max right ts) − delay over ALL batches (the
# min-policy across watermarked inputs), so the oracle states the
# rule exactly: every true interval pair emits, plus nulls for
# unmatched left rows strictly below that watermark. Drift in outer-
# join state cleanup in a future Spark flips this red — the q257
# companion pin.
# --------------------------------------------------------------------------


@_scratch_query
def q266_stream_left_outer(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    from odin_rs_spark.streaming.pipelines import (
        partitioned_append_sink,
        run_available_now,
    )
    from odin_rs_spark.streaming.sources import replay_stream, split_for_replay

    ev = _t(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    right = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("r_uid"), F.col("ts").alias("r_ts")
    )
    split_for_replay(left, root + "/l", n_chunks=4, order_col="ts")
    split_for_replay(right, root + "/r", n_chunks=4, order_col="r_ts")
    ls = replay_stream(spark, root + "/l", left.schema, 2).withWatermark("ts", "1 hour")
    rs = replay_stream(spark, root + "/r", right.schema, 2).withWatermark("r_ts", "1 hour")
    cond = (
        (F.col("user_id") == F.col("r_uid"))
        & (F.col("r_ts") >= F.col("ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("r_ts") <= F.col("ts"))
    )
    j = ls.join(rs, cond, "left_outer")

    sink = partitioned_append_sink(root + "/store")
    with _stream_state_parallelism(spark, 8):
        run_available_now(j, sink, root + "/ckpt", output_mode="append")
    out = (
        spark.read.parquet(root + "/store")
        .groupBy((F.col("user_id") % 7).alias("user_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("r_ts").isNotNull().cast("bigint")).alias("n_pairs"),
            F.sum(F.col("r_ts").isNull().cast("bigint")).alias("n_nulls"),
        )
    )
    return out


Q266_SQL = """
WITH l AS (SELECT event_id, user_id, ts FROM events
           WHERE event_type = 'purchase'),
r AS (SELECT user_id AS r_uid, ts AS r_ts FROM events
      WHERE event_type = 'click'),
m AS (
  SELECT l.event_id, l.user_id, l.ts, count(r.r_ts) AS nm
  FROM l LEFT JOIN r
    ON l.user_id = r.r_uid
   AND r.r_ts BETWEEN l.ts - INTERVAL 10 MINUTE AND l.ts
  GROUP BY 1, 2, 3),
wm AS (SELECT least((SELECT max(ts) FROM l), (SELECT max(r_ts) FROM r))
              - INTERVAL 1 HOUR AS w),
emitted AS (
  SELECT user_id, nm AS n_pairs,
         CASE WHEN nm = 0 AND ts < (SELECT w FROM wm) THEN 1 ELSE 0 END
           AS n_nulls
  FROM m
  WHERE nm > 0 OR ts < (SELECT w FROM wm))
SELECT (user_id % 7)::BIGINT AS user_bucket,
       sum(n_pairs + n_nulls)::BIGINT AS n_rows,
       sum(n_pairs)::BIGINT AS n_pairs,
       sum(n_nulls)::BIGINT AS n_nulls
FROM emitted GROUP BY 1
"""


# --------------------------------------------------------------------------
# q267 — CDC changelog apply (windows.cdc_apply: Debezium-style
# last-writer-wins by sequence number per key, with DELETE tombstones
# REMOVING the key — the semantics that distinguish CDC apply from
# q17's keyed-latest dedup, where a delete would wrongly survive as a
# row). Changelog derived from events: key = user_id % 200, seq =
# event_id, op = D on 'purchase' else U; one map-side-combinable
# max-struct per key, then the tombstone filter. Output: surviving
# keys rolled up per bucket with live/deleted accounting.
# --------------------------------------------------------------------------


def q267_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.operators.windows import cdc_apply

    ev = _t(spark, sf_dir, "events")
    log = ev.select(
        (F.col("user_id") % 200).alias("key"),
        F.col("event_id").alias("seq"),
        F.when(F.col("event_type") == "purchase", F.lit("D"))
        .otherwise(F.lit("U")).alias("op"),
        F.col("value"),
    )
    live = cdc_apply(log, "key", "seq")
    n_keys = log.select("key").distinct().count()
    return live.groupBy((F.col("key") % 10).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_live"),
        F.round(F.sum("value"), 4).alias("sum_value"),
        F.max("seq").alias("max_seq"),
    ).withColumn("n_keys_total", F.lit(n_keys))


Q267_SQL = """
WITH log AS (
  SELECT user_id % 200 AS key, event_id AS seq,
         CASE WHEN event_type = 'purchase' THEN 'D' ELSE 'U' END AS op,
         value
  FROM events),
latest AS (
  SELECT key, max(struct_pack(seq := seq, op := op, v := value)) AS m
  FROM log GROUP BY key),
live AS (
  SELECT key, m.seq AS seq, m.op AS op, m.v AS value
  FROM latest WHERE m.op <> 'D')
SELECT (key % 10)::BIGINT AS bucket, count(*)::BIGINT AS n_live,
       round(sum(value), 4) AS sum_value, max(seq)::BIGINT AS max_seq,
       (SELECT count(DISTINCT key) FROM log)::BIGINT AS n_keys_total
FROM live GROUP BY 1
"""


# --------------------------------------------------------------------------
# q268 — entity resolution / record linkage (the data-integration
# classic: blocking → pairwise edit distance → transitive closure;
# Spark's levenshtein() and DuckDB's implement the same unit-cost DP,
# so the match predicate replays exactly). Records are customer keys
# with the 6-digit id DOUBLED in the name — any two distinct keys
# differ by ≥2 edits while the seeded dirty duplicate (every 3rd
# customer, trailing 'z'→'q') sits at exactly 1, so threshold ≤1
# links ONLY true duplicates and any false pair breaks the counts.
# Closure runs through the real connected_components operator
# (large-star/small-star); the oracle replays it as a recursive
# min-reach (the q64 pattern). Blocking = the 8-char name prefix,
# the O(block²) bound every linkage pipeline relies on.
# --------------------------------------------------------------------------


def q268_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.operators.dedup import connected_components

    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    k6 = F.lpad(F.col("c_custkey").cast("string"), 6, "0")
    base = F.concat(F.lit("cust"), k6, k6)
    originals = cust.select(
        (F.col("c_custkey") * 2).alias("rid"),
        F.concat(base, F.lit("z")).alias("name"),
    )
    variants = cust.where(F.col("c_custkey") % 3 == 0).select(
        (F.col("c_custkey") * 2 + 1).alias("rid"),
        F.concat(base, F.lit("q")).alias("name"),
    )
    recs = originals.unionByName(variants).withColumn(
        "block", F.substring("name", 1, 8)
    )
    # the probe side carries the O(block²) levenshtein work; the scan
    # behind it is a single-row-group parquet file (one task), so widen
    # it to session parallelism (_wide is a no-op at real table scale).
    # n_rows is threaded from the customer count (metadata-cheap on the
    # raw scan) so _wide does not execute the union+withColumn pipeline
    # once for its own count and again for the query (VERDICT r11 #5);
    # originals contribute n, variants n/3 — the exact value only
    # steers the partition count, never the result.
    n_cust = cust.count()
    a = _wide(
        spark, recs, rows_per_task=160, n_rows=n_cust + n_cust // 3
    ).select(
        "block", F.col("rid").alias("id_a"), F.col("name").alias("na")
    )
    b = recs.select(
        "block", F.col("rid").alias("id_b"), F.col("name").alias("nb")
    )
    pairs = (
        a.join(b, "block")
        .where(
            (F.col("id_a") < F.col("id_b"))
            & (F.levenshtein(F.col("na"), F.col("nb")) <= 1)
        )
        .select("block", "id_a", "id_b")
    )
    cc = connected_components(pairs.select("id_a", "id_b"))
    # every record resolves to an entity: unmatched records are their
    # own singleton entities
    resolved = recs.join(
        cc.withColumnRenamed("node", "rid"), "rid", "left"
    ).withColumn("entity", F.coalesce(F.col("component"), F.col("rid")))
    return resolved.groupBy("block").agg(
        F.count(F.lit(1)).alias("n_records"),
        F.count_distinct(F.col("entity")).alias("n_entities"),
        (F.count(F.lit(1)) - F.count_distinct(F.col("entity")))
        .alias("n_merged"),
    )


Q268_SQL = """
WITH RECURSIVE recs AS (
  SELECT c_custkey * 2 AS rid,
         'cust' || lpad(c_custkey::VARCHAR, 6, '0')
                || lpad(c_custkey::VARCHAR, 6, '0') || 'z' AS name
  FROM customer
  UNION ALL
  SELECT c_custkey * 2 + 1,
         'cust' || lpad(c_custkey::VARCHAR, 6, '0')
                || lpad(c_custkey::VARCHAR, 6, '0') || 'q'
  FROM customer WHERE c_custkey % 3 = 0),
blocked AS (SELECT rid, name, substr(name, 1, 8) AS block FROM recs),
pairs AS (
  SELECT a.rid AS id_a, b.rid AS id_b
  FROM blocked a JOIN blocked b
    ON a.block = b.block AND a.rid < b.rid
   AND levenshtein(a.name, b.name) <= 1),
e AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION SELECT id_b, id_a FROM pairs),
reach AS (
  SELECT u AS id, u AS r FROM e
  UNION
  SELECT e.v AS id, reach.r FROM reach JOIN e ON e.u = reach.id),
cc AS (SELECT id AS rid, min(r) AS component FROM reach GROUP BY id),
resolved AS (
  SELECT b.block, b.rid, coalesce(cc.component, b.rid) AS entity
  FROM blocked b LEFT JOIN cc ON b.rid = cc.rid)
SELECT block, count(*)::BIGINT AS n_records,
       count(DISTINCT entity)::BIGINT AS n_entities,
       (count(*) - count(DISTINCT entity))::BIGINT AS n_merged
FROM resolved GROUP BY block
"""


# --------------------------------------------------------------------------
# q269 — grid-DBSCAN spatial clustering (the fire-cluster detection
# shape the reference domain wants: hotspot points → unit grid cells,
# CORE cells by density threshold, clusters = connected components of
# 8-neighbor core-cell adjacency — the grid approximation every
# at-scale DBSCAN uses, because point-level ε-joins are quadratic
# while the core-cell dim is tiny). Closure through the real
# connected_components operator; the oracle replays recursive
# min-reach over the same integer cell ids. Everything integer:
# floor(value) % 64 × user_id % 64 cells, minPts = 6.
# --------------------------------------------------------------------------

_Q269_MINPTS = 6


def q269_grid_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.operators.dedup import connected_components

    ev = _t(spark, sf_dir, "events")
    pts = ev.select(
        (F.floor(F.col("value")) % 64).cast("bigint").alias("px"),
        (F.col("user_id") % 64).cast("bigint").alias("py"),
    )
    cells = pts.groupBy("px", "py").agg(F.count(F.lit(1)).alias("n_pts"))
    core = cells.where(F.col("n_pts") >= _Q269_MINPTS).withColumn(
        "cell", F.col("px") * 64 + F.col("py")
    )
    offs = spark.createDataFrame(
        [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)
         if not (dx == 0 and dy == 0)],
        "dx int, dy int",
    )
    nbr = core.crossJoin(F.broadcast(offs)).select(
        F.col("cell").alias("id_a"),
        ((F.col("px") + F.col("dx")) * 64 + F.col("py") + F.col("dy")).alias(
            "id_b"
        ),
        (F.col("px") + F.col("dx")).alias("nx"),
        (F.col("py") + F.col("dy")).alias("ny"),
    )
    edges = nbr.join(
        core.select(
            F.col("px").alias("nx"), F.col("py").alias("ny"),
            F.col("cell").alias("id_b"),
        ),
        ["nx", "ny", "id_b"],
    ).where(F.col("id_a") < F.col("id_b")).select("id_a", "id_b")
    cc = connected_components(edges)
    labeled = core.join(
        cc.withColumnRenamed("node", "cell"), "cell", "left"
    ).withColumn("cluster", F.coalesce(F.col("component"), F.col("cell")))
    return labeled.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("n_pts").cast("bigint").alias("n_points"),
        F.min("px").alias("min_x"), F.max("px").alias("max_x"),
        F.min("py").alias("min_y"), F.max("py").alias("max_y"),
    )


Q269_SQL = f"""
WITH RECURSIVE pts AS (
  SELECT (floor(value)::BIGINT % 64) AS px, user_id % 64 AS py FROM events),
cells AS (SELECT px, py, count(*) AS n_pts FROM pts GROUP BY px, py),
core AS (
  SELECT px, py, n_pts, px * 64 + py AS cell
  FROM cells WHERE n_pts >= {_Q269_MINPTS}),
edges AS (
  SELECT a.cell AS id_a, b.cell AS id_b
  FROM core a JOIN core b
    ON abs(a.px - b.px) <= 1 AND abs(a.py - b.py) <= 1
   AND a.cell < b.cell),
e AS (SELECT id_a AS u, id_b AS v FROM edges
      UNION SELECT id_b, id_a FROM edges),
reach AS (
  SELECT u AS id, u AS r FROM e
  UNION
  SELECT e.v AS id, reach.r FROM reach JOIN e ON e.u = reach.id),
cc AS (SELECT id AS cell, min(r) AS component FROM reach GROUP BY id),
labeled AS (
  SELECT core.*, coalesce(cc.component, core.cell) AS cluster
  FROM core LEFT JOIN cc ON core.cell = cc.cell)
SELECT cluster::BIGINT AS cluster, count(*)::BIGINT AS n_cells,
       sum(n_pts)::BIGINT AS n_points,
       min(px)::BIGINT AS min_x, max(px)::BIGINT AS max_x,
       min(py)::BIGINT AS min_y, max(py)::BIGINT AS max_y
FROM labeled GROUP BY 1
"""


# --------------------------------------------------------------------------
# q270 — track resampling by linear interpolation (the aircraft/
# sensor-track operator of the reference domain: observations arrive
# irregularly, consumers want values at regular epochs). The union-
# grid trick: epoch rows (a dim: tracks × 6-hour grid) union with
# observations, ONE forward-fill window carries (prev_ts, prev_v) and
# ONE backward-fill window carries (next_ts, next_v) onto each epoch
# row, then the interpolation is pure column math — never a per-epoch
# join against the observation table. Boundary epochs (no bracket on
# one side) stay NULL honestly. Oracle replays both fills and the
# micros-ratio arithmetic; output rounded to 6.
# --------------------------------------------------------------------------


def q270_track_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    obs = ev.select(
        (F.col("user_id") % 25).alias("track"),
        F.col("ts"),
        F.col("value").cast("double").alias("v"),
        F.lit(0).alias("is_epoch"),
    )
    epochs = (
        spark.range(120)
        .select(
            (
                F.lit("2024-01-01 00:00:00").cast("timestamp")
                + F.make_interval(hours=F.col("id").cast("int") * 6)
            ).alias("ts")
        )
        .crossJoin(spark.range(25).select(F.col("id").alias("track")))
        .select("track", "ts", F.lit(None).cast("double").alias("v"),
                F.lit(1).alias("is_epoch"))
    )
    allr = obs.unionByName(epochs)
    # observation rows sort BEFORE the epoch row at an identical ts, so
    # an exact-hit observation becomes the epoch's prev bracket
    wf = (
        Window.partitionBy("track")
        .orderBy("ts", "is_epoch")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wb = (
        Window.partitionBy("track")
        .orderBy(F.col("ts").desc(), F.col("is_epoch").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    obs_ts = F.when(F.col("is_epoch") == 0, F.col("ts"))
    filled = (
        allr.withColumn("prev_v", F.last("v", ignorenulls=True).over(wf))
        .withColumn("prev_ts", F.last(obs_ts, ignorenulls=True).over(wf))
        .withColumn("next_v", F.last("v", ignorenulls=True).over(wb))
        .withColumn("next_ts", F.last(obs_ts, ignorenulls=True).over(wb))
    )
    span = F.unix_micros(F.col("next_ts")) - F.unix_micros(F.col("prev_ts"))
    frac = F.when(span > 0,
                  (F.unix_micros(F.col("ts")) - F.unix_micros(F.col("prev_ts")))
                  / span).otherwise(F.lit(0.0))
    interp = F.col("prev_v") + (F.col("next_v") - F.col("prev_v")) * frac
    return (
        filled.where(F.col("is_epoch") == 1)
        .select(
            "track", "ts",
            F.round(
                F.when(
                    F.col("prev_ts").isNotNull()
                    & F.col("next_ts").isNotNull(),
                    interp,
                ),
                6,
            ).alias("v_interp"),
        )
    )


Q270_SQL = """
WITH obs AS (
  SELECT user_id % 25 AS track, ts, value::DOUBLE AS v, 0 AS is_epoch
  FROM events),
epochs AS (
  SELECT t.track, TIMESTAMP '2024-01-01 00:00:00'
           + to_hours(6 * e.range) AS ts,
         NULL::DOUBLE AS v, 1 AS is_epoch
  FROM range(120) e, (SELECT range AS track FROM range(25)) t),
allr AS (SELECT * FROM obs UNION ALL SELECT * FROM epochs),
f AS (
  SELECT *,
    last_value(v IGNORE NULLS) OVER (
      PARTITION BY track ORDER BY ts, is_epoch
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
    last_value(CASE WHEN is_epoch = 0 THEN ts END IGNORE NULLS) OVER (
      PARTITION BY track ORDER BY ts, is_epoch
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_ts,
    last_value(v IGNORE NULLS) OVER (
      PARTITION BY track ORDER BY ts DESC, is_epoch DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS next_v,
    last_value(CASE WHEN is_epoch = 0 THEN ts END IGNORE NULLS) OVER (
      PARTITION BY track ORDER BY ts DESC, is_epoch DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS next_ts
  FROM allr)
SELECT track::BIGINT AS track, ts,
       round(CASE WHEN prev_ts IS NOT NULL AND next_ts IS NOT NULL THEN
         prev_v + (next_v - prev_v) *
           (CASE WHEN epoch_us(next_ts) - epoch_us(prev_ts) > 0
                 THEN (epoch_us(ts) - epoch_us(prev_ts))
                      / (epoch_us(next_ts) - epoch_us(prev_ts))::DOUBLE
                 ELSE 0.0 END)
       END, 6) AS v_interp
FROM f WHERE is_epoch = 1
"""


# --------------------------------------------------------------------------
# q271 — S2 on NetCDF-4/HDF5, END-TO-END on real bytes (VERDICT r9 #3):
# the pure-Python HDF5 subset reader (sources/hdf5.py — superblock,
# object headers, symbol-table groups, chunked+deflate B-tree layout,
# DIMENSION_LIST vlen refs through the global heap, all from the public
# HDF5 File Format Spec v3) decodes a committed GOES-R-shaped granule:
# int16 CMI packed with scale_factor/add_offset (0.5 / -12, applied
# IN-KERNEL like the reference's GDAL unpack, odin_gdal/src/lib.rs:
# 188-208) and an int8 DQF quality mask with the predicate pushed into
# the decode kernel. Values are pure-arithmetic ((x*37+y*23)%89)*0.5-12
# — exactly representable — so the oracle REGENERATES the grid from the
# formula and never touches the file: equality holds IFF superblock
# walk, B-tree chunk assembly, deflate, dtype decode, scale/offset and
# mask filtering are all byte-correct. Closes the last reference-domain
# container gap (GOES-R granules are NetCDF-4, not classic).
# --------------------------------------------------------------------------

def q271_hdf5_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    import odin_rs_spark
    from odin_rs_spark.sources.hdf5 import hdf5_grid_cells

    fixture = _os.path.join(
        _os.path.dirname(_os.path.abspath(odin_rs_spark.__file__)),
        "sources",
        "fixtures",
        "grid_hdf5.nc",
    )
    files = spark.read.format("binaryFile").load(fixture)
    cells = hdf5_grid_cells(files, "CMI", mask_var="DQF", mask_min=2.0)
    return cells.groupBy((F.col("x") % 4).alias("xb")).agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.round(F.sum("value"), 6).alias("sum_cmi"),
        F.round(F.avg("mask"), 6).alias("avg_dqf"),
        F.round(F.min("value"), 6).alias("min_cmi"),
        F.round(F.max("value"), 6).alias("max_cmi"),
    )


Q271_SQL = """
WITH g AS (SELECT xx.range AS x, yy.range AS y
           FROM range(16) xx, range(12) yy),
c AS (SELECT x, y,
             ((x * 37 + y * 23) % 89) * 0.5 - 12.0 AS value,
             ((x * 7 + y * 11) % 4)::DOUBLE AS mask
      FROM g)
SELECT (x % 4)::INT AS xb, count(*)::BIGINT AS n_cells,
       round(sum(value), 6) AS sum_cmi,
       round(avg(mask), 6) AS avg_dqf,
       round(min(value), 6) AS min_cmi,
       round(max(value), 6) AS max_cmi
FROM c WHERE mask >= 2.0 GROUP BY xb
"""


# --------------------------------------------------------------------------
# q272 — ONNX CONV net on real decoded pixels (VERDICT r9 #4): the
# reference's smoke/fire image classifier is a conv net loaded from an
# .onnx file (odin_onnx/src/lib.rs:47-150); q130 covered the dense
# class, this covers Conv→ReLU→MaxPool→Flatten→Gemm. Weights come out
# of a COMMITTED .onnx fixture through the stdlib protobuf wire walk
# (functions/onnx.load_onnx_cnn — INTS attributes for kernel_shape/
# pads/strides now on the wire), pixels come out of REAL PNG decode
# (16x16 grayscale formula images encoded in executors), and the whole
# network is dyadic-exact (pixels v/256, weights k/16), so the oracle
# replays EVERYTHING — convolution as a 9-term kernel join with zero
# padding, pooling as a grouped max, the dense head as an
# indexed-weight join, argmax with first-max tie-break — with zero
# tolerance. Keep the px/kw/dw CTEs in sync with the formulas in
# functions/cnn.formula_cnn_weights and the generator below.
# --------------------------------------------------------------------------

def _formula_gray16_media(spark: SparkSession, n: int):
    """q272 fixture generator: n 16x16 grayscale formula PNGs encoded
    in executors (seed = id % 30; a = seed%5+1, b = seed%3+1,
    m = (seed*17)%200; v = (m + x*a + y*b) % 200)."""

    def one(mid: int) -> bytes:
        import numpy as np

        from odin_rs_spark.sources.imagecodec import encode_png

        seed = mid % 30
        a_, b_, m_ = seed % 5 + 1, seed % 3 + 1, (seed * 17) % 200
        jj, ii = np.mgrid[0:16, 0:16]
        arr = ((m_ + ii * a_ + jj * b_) % 200).astype(np.uint8)
        return encode_png(arr, filter_mode="cycle")

    return _executor_blobs(spark, n, content=one).select(
        F.col("id").alias("media_id"), "content"
    )


def q272_onnx_conv_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    import odin_rs_spark
    from odin_rs_spark.functions.onnx import load_onnx_cnn
    from odin_rs_spark.operators.multimodal import cnn_classify_media

    fixture = _os.path.join(
        _os.path.dirname(_os.path.abspath(odin_rs_spark.__file__)),
        "functions",
        "fixtures",
        "cnn_1x16x16_4f_3.onnx",
    )
    weights = load_onnx_cnn(fixture)  # driver-side: a conv head is KBs
    media = _formula_gray16_media(spark, 60)
    scored = cnn_classify_media(media, weights)
    return scored.groupBy("pred").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("margin"), 6).alias("avg_margin"),
        F.round(F.min("margin"), 6).alias("min_margin"),
        F.round(F.max("margin"), 6).alias("max_margin"),
    )


Q272_SQL = """
WITH m AS (SELECT range AS media_id, (range % 30) AS seed FROM range(60)),
par AS (SELECT media_id, seed % 5 + 1 AS a, seed % 3 + 1 AS b,
               (seed * 17) % 200 AS mm FROM m),
px AS (
  SELECT media_id, y.range AS y, x.range AS x,
         ((mm + x.range * a + y.range * b) % 200) AS v
  FROM par, range(16) y, range(16) x),
kw AS (  -- conv kernel, OIHW f in 0..3, dyadic k/16
  SELECT f.range AS f, dy.range AS dy, dx.range AS dx,
         (((f.range * 5 + dy.range * 3 + dx.range * 11) % 13) - 6)::DOUBLE
           / 16 AS w
  FROM range(4) f, range(3) dy, range(3) dx),
bc AS (SELECT range AS f, (((range * 3) % 5) - 2)::DOUBLE / 16 AS b
       FROM range(4)),
conv AS (  -- SAME zero padding: out-of-range taps contribute 0
  SELECT g.media_id, k.f, g.y, g.x,
         sum(k.w * coalesce(p.v::DOUBLE / 256, 0)) AS acc
  FROM px g
  CROSS JOIN kw k
  LEFT JOIN px p ON p.media_id = g.media_id
                AND p.y = g.y + k.dy - 1 AND p.x = g.x + k.dx - 1
  GROUP BY g.media_id, k.f, g.y, g.x),
relu AS (
  SELECT c.media_id, c.f, c.y, c.x,
         greatest(c.acc + bc.b, 0) AS v
  FROM conv c JOIN bc ON bc.f = c.f),
pool AS (
  SELECT media_id, f, y // 2 AS py, x // 2 AS px_, max(v) AS v
  FROM relu GROUP BY media_id, f, y // 2, x // 2),
flat AS (
  SELECT media_id, (f * 64 + py * 8 + px_) AS i, v FROM pool),
dw AS (
  SELECT i.range AS i, o.range AS o,
         (((i.range * 13 + o.range * 5) % 17) - 8)::DOUBLE / 16 AS w
  FROM range(256) i, range(3) o),
bd AS (SELECT range AS o, (((range * 5) % 3) - 1)::DOUBLE / 16 AS b
       FROM range(3)),
logits AS (
  SELECT fl.media_id, dw.o,
         sum(fl.v * dw.w) + any_value(bd.b) AS logit
  FROM flat fl JOIN dw ON dw.i = fl.i JOIN bd ON bd.o = dw.o
  GROUP BY fl.media_id, dw.o),
ranked AS (
  SELECT media_id, o, logit,
         row_number() OVER (PARTITION BY media_id
                            ORDER BY logit DESC, o ASC) AS rk
  FROM logits),
scored AS (
  SELECT a.media_id, a.o AS pred, a.logit - b.logit AS margin
  FROM ranked a JOIN ranked b
    ON b.media_id = a.media_id AND a.rk = 1 AND b.rk = 2)
SELECT pred::INT AS pred, count(*)::BIGINT AS n,
       round(avg(margin), 6) AS avg_margin,
       round(min(margin), 6) AS min_margin,
       round(max(margin), 6) AS max_margin
FROM scored GROUP BY pred
"""


# --------------------------------------------------------------------------
# q273 — GOES-R LIVE FLAGSHIP (VERDICT r9 #5): SURVEY §3.1 composed
# end-to-end as ONE streaming query — the reference's live importer
# loop (odin_goesr/src/live_importer.rs: poll S3 for new NetCDF-4
# granules → GDAL masked read → fixed-grid projection → DEM enrich →
# per-class rollup → SpaServer snapshot+delta fan-out) re-expressed as
# a binaryFile file-stream over REAL NetCDF-4/HDF5 granule bytes
# (written by the hdf5 twin: chunked+deflate int16 CMI with
# scale/offset, int8 DQF), maxFilesPerTrigger=1 so each granule is one
# micro-batch, decoded INSIDE foreachBatch by hdf5_grid_cells (mask
# predicate + unpack in-kernel — granule bytes never shuffle), GOES
# fixed-grid → lon/lat (functions/proj), quantized broadcast DEM join
# (J1), per-batch class counts through snapshot_delta_sink (K1 deltas
# + K2 running snapshot via an additive merge). The batch-twin oracle
# replays the granule formula per-granule: totals check the snapshot
# merge, n_batches (distinct granules per class) checks the
# one-granule-per-batch delta stream. Chains q122/q133/q91/q96 pieces
# that existed separately since r3 — nothing chained them until now.
# --------------------------------------------------------------------------

@_scratch_query
def q273_goes_stream_flagship(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    import os as _os

    import numpy as np

    from odin_rs_spark.deploy import ensure_shipped
    from odin_rs_spark.functions import proj
    from odin_rs_spark.functions.geo import quantize_cell
    from odin_rs_spark.sources.hdf5 import hdf5_grid_cells, write_hdf5
    from odin_rs_spark.streaming.pipelines import (
        run_available_now,
        snapshot_delta_sink,
    )

    ensure_shipped(spark)
    gdir = root + "/granules"
    _os.makedirs(gdir)
    xx, yy = np.meshgrid(np.arange(16), np.arange(12))
    for g in range(4):
        write_hdf5(
            gdir + f"/goes_g{g}.nc",
            [("y", 12), ("x", 16)],
            {
                "CMI": (["y", "x"],
                        ((xx * 37 + yy * 23 + g * 7) % 89).astype("<i2")),
                "DQF": (["y", "x"],
                        ((xx * 7 + yy * 11 + g) % 4).astype("<i1")),
            },
            chunks={"CMI": (6, 8)},
            compress={"CMI": 6},
            var_attrs={"CMI": {"scale_factor": np.float64(0.5),
                               "add_offset": np.float64(-12.0)}},
        )
    stream = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp,"
            " length bigint, content binary"
        )
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.nc")
        .load(gdir)
    )
    # the fixed-grid window (|x_rad| ≤ 0.024, |y_rad| ≤ 0.018 around
    # lon0=-75) maps into a small lon/lat box, so prune the global
    # 0.5° lattice to it BEFORE the stream starts and persist: the
    # broadcast side is then ~400 cells instead of 259k rebuilt on
    # every micro-batch (partition pruning on the dim — the same
    # values the oracle's full-lattice join produces)
    dem = (
        spark.range(720 * 360)
        .select(
            ((F.col("id") % 720) - 360).cast("int").alias("cx"),
            ((F.col("id") / 720).cast("int") - 180).alias("cy"),
        )
        .withColumn(
            "elev_m",
            ((F.col("cx") * 7 + F.col("cy") * 13) % 3000).cast("double"),
        )
        .filter(
            F.col("cx").between(-170, -130) & F.col("cy").between(-15, 15)
        )
        .persist()
    )
    dem.count()  # materialize once, before the per-batch broadcasts

    def transform(batch_df: DataFrame) -> DataFrame:
        cells = hdf5_grid_cells(
            batch_df, "CMI", mask_var="DQF", mask_min=2.0
        )
        classed = cells.withColumn(
            "pixel_class",
            F.when(F.col("mask") == 2, "good").otherwise("medium"),
        ).withColumn(
            "xr", F.lit(-0.024) + F.col("x") * F.lit(0.003)
        ).withColumn(
            "yr", F.lit(-0.018) + F.col("y") * F.lit(0.003)
        )
        geo = classed.withColumn(
            "g", proj.goes_to_lonlat("xr", "yr", -75.0)
        ).filter(F.col("g.lon").isNotNull())
        enriched = geo.join(
            F.broadcast(dem),
            (quantize_cell(F.col("g.lon"), 0.5) == F.col("cx"))
            & (quantize_cell(F.col("g.lat"), 0.5) == F.col("cy")),
            "left",
        )
        # additive per-batch metrics (merge = sum, finalize at read)
        return enriched.groupBy("pixel_class").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("sum_cmi"),
            F.sum(F.round(F.col("g.lat"), 6)).alias("sum_lat"),
            F.sum("elev_m").alias("sum_elev"),
        )

    def merge_totals(old: DataFrame | None, batch: DataFrame) -> DataFrame:
        both = batch if old is None else old.unionByName(batch)
        return both.groupBy("pixel_class").agg(
            F.sum("n").alias("n"),
            F.sum("sum_cmi").alias("sum_cmi"),
            F.sum("sum_lat").alias("sum_lat"),
            F.sum("sum_elev").alias("sum_elev"),
        )

    base_sink = snapshot_delta_sink(
        root + "/snap", root + "/delta", merge_fn=merge_totals
    )

    def sink_fn(batch_df: DataFrame, batch_id: int) -> None:
        base_sink(transform(batch_df), batch_id)

    with _stream_state_parallelism(spark, 8):
        run_available_now(stream, sink_fn, root + "/ckpt",
                          output_mode="append")

    snap = spark.read.parquet(root + "/snap")
    delta = spark.read.parquet(root + "/delta")
    batches = delta.groupBy("pixel_class").agg(
        F.countDistinct("__batch_id").cast("bigint").alias("n_batches")
    )
    out = snap.join(batches, "pixel_class").select(
        "pixel_class",
        F.col("n").cast("bigint").alias("n"),
        F.round("sum_cmi", 6).alias("sum_cmi"),
        F.round("sum_lat", 3).alias("sum_lat"),
        F.round(F.col("sum_elev") / F.col("n"), 4).alias("avg_elev_m"),
        "n_batches",
    )
    dem.unpersist()
    return out


def _q273_sql() -> str:
    from odin_rs_spark.functions import proj

    return f"""
WITH g AS (SELECT gg.range AS gran, xx.range AS x, yy.range AS y
           FROM range(4) gg, range(16) xx, range(12) yy),
c AS (SELECT gran, x, y,
             ((x * 37 + y * 23 + gran * 7) % 89) * 0.5 - 12.0 AS cmi,
             ((x * 7 + y * 11 + gran) % 4) AS dqf
      FROM g),
f AS (SELECT gran, cmi,
             CASE WHEN dqf = 2 THEN 'good' ELSE 'medium' END AS pixel_class,
             -0.024 + x * 0.003 AS xr,
             -0.018 + y * 0.003 AS yr
      FROM c WHERE dqf >= 2),
geo AS (SELECT gran, pixel_class, cmi,
               {proj.goes_lon_sql('xr', 'yr', -75.0)} AS lon,
               {proj.goes_lat_sql('xr', 'yr')} AS lat
        FROM f),
dem AS (
  SELECT CAST((i % 720) - 360 AS INT) AS cx,
         CAST(i // 720 AS INT) - 180 AS cy,
         CAST((CAST((i % 720) - 360 AS INT) * 7 + (CAST(i // 720 AS INT) - 180) * 13) % 3000 AS DOUBLE) AS elev_m
  FROM range(259200) t(i)),
enr AS (
  SELECT g.gran, g.pixel_class, g.cmi, g.lat, d.elev_m
  FROM geo g LEFT JOIN dem d
    ON CAST(floor(g.lon / 0.5) AS INT) = d.cx
   AND CAST(floor(g.lat / 0.5) AS INT) = d.cy)
SELECT pixel_class, count(*)::BIGINT AS n,
       round(sum(cmi), 6) AS sum_cmi,
       round(sum(round(lat, 6)), 3) AS sum_lat,
       round(sum(elev_m) / count(*), 4) AS avg_elev_m,
       count(DISTINCT gran)::BIGINT AS n_batches
FROM enr GROUP BY pixel_class
"""


# --------------------------------------------------------------------------
# q274 — .warc.zst container scan (VERDICT r9 #6 flipped): the
# committed fixture is a REAL reference-encoder product (zstd CLI -9,
# tools/gen_zstd_fixtures.py) led by a SKIPPABLE frame in the iipc
# dictionary slot; the pure-Python RFC 8878 decoder (sources/
# zstdcodec: frame walk, FSE, Huffman incl. FSE-compressed weights,
# 4-stream literals, repeat offsets, xxhash64 checksum VERIFIED)
# feeds the standard warc_records fan-out. Record bodies are formula
# text, so the oracle regenerates every row analytically: equality
# holds IFF the zstd entropy decode, the skippable-frame step-over,
# the WARC split and the HTTP wire decode are all byte-correct.
# Content-Encoding: zstd response bodies are covered by q198 (real
# frames since r10); this pins the CONTAINER path.
# --------------------------------------------------------------------------

def q274_warc_zst_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    import odin_rs_spark
    from odin_rs_spark.sources.warc import warc_records

    fixture = _os.path.join(
        _os.path.dirname(_os.path.abspath(odin_rs_spark.__file__)),
        "sources",
        "fixtures",
        "records.warc.zst",
    )
    files = spark.read.format("binaryFile").load(fixture)
    recs = warc_records(files).filter(F.col("warc_type") == "response")
    host = F.regexp_extract("target_uri", r"https://([^/]+)/", 1)
    return recs.groupBy(host.alias("host")).agg(
        F.count(F.lit(1)).alias("n_records"),
        F.sum("body_len").cast("bigint").alias("sum_body_len"),
        F.min("target_uri").alias("min_uri"),
        F.max("target_uri").alias("max_uri"),
    )


Q274_SQL = """
WITH g AS (SELECT range AS g FROM range(30)),
b AS (
  SELECT g, 'zs' || (g % 3)::VARCHAR || '.example.org' AS host,
         'https://zs' || (g % 3)::VARCHAR || '.example.org/d/' || g::VARCHAR
           AS uri,
         (SELECT sum(length('zs' || ((g * 7 + j.range) % 23)::VARCHAR))
          FROM range(9) j WHERE j.range < 4 + g % 5)
           + (3 + g % 5) AS blen
  FROM g)
SELECT host, count(*)::BIGINT AS n_records,
       sum(blen)::BIGINT AS sum_body_len,
       min(uri) AS min_uri, max(uri) AS max_uri
FROM b GROUP BY host
"""


# --------------------------------------------------------------------------
# q275 — brotli wire decode (the LAST web content-coding flipped):
# `Content-Encoding: br` responses decode through the ctypes binding
# to the system libbrotli (sources/brotlidec — RFC 7932's 122 KB
# static dictionary and 121 transform rows can only be COPIED, not
# re-derived, so a pure-Python codec is out of scope; the gated
# binding is the sanctioned load-try pattern and the named rejection
# returns wherever no system brotli exists). Fixture responses are
# encoded IN EXECUTORS by libbrotlienc at three quality levels —
# quality 9+ emits static-dictionary references for English text, so
# the reference dictionary/transform machinery is genuinely exercised
# — and bodies are formula text the oracle regenerates analytically:
# equality holds IFF the brotli decode returns the exact bytes.
# --------------------------------------------------------------------------

def _q275_media(spark: SparkSession):
    def one(fno: int) -> bytes:
        from odin_rs_spark.sources.brotlidec import brotli_compress
        from odin_rs_spark.sources.warc import encode_warc

        recs = [
            {"warc_type": "warcinfo", "block": b"software: br-fixture\r\n"}
        ]
        for p in range(12):
            g = fno * 12 + p
            body = ("the " + " ".join(
                f"word{(g * 5 + j) % 19} and of that with"
                for j in range(3 + g % 4)
            )).encode()
            raw = brotli_compress(body, quality=(5, 9, 11)[g % 3])
            msg = (
                f"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n"
                f"Content-Encoding: br\r\n"
                f"Content-Length: {len(raw)}\r\n\r\n"
            ).encode() + raw
            recs.append(
                {
                    "warc_type": "response",
                    "target_uri": f"https://br{g % 3}.example.org/t/{g}",
                    "content_type": "application/http; msgtype=response",
                    "block": msg,
                }
            )
        return encode_warc(recs)

    return _executor_blobs(spark, 2, content=one).select(
        F.concat(F.lit("br"), F.col("id").cast("string"), F.lit(".warc.gz"))
        .alias("path"),
        "content",
    )


def q275_brotli_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.sources.warc import warc_records

    recs = warc_records(_q275_media(spark)).filter(
        F.col("warc_type") == "response"
    )
    host = F.regexp_extract("target_uri", r"https://([^/]+)/", 1)
    return recs.groupBy(host.alias("host"), "http_encoding").agg(
        F.count(F.lit(1)).alias("n_records"),
        F.sum("body_len").cast("bigint").alias("sum_body_len"),
        F.min("body_text").alias("min_body"),
    )


Q275_SQL = """
WITH g AS (SELECT range AS g FROM range(24)),
b AS (
  SELECT g, 'br' || (g % 3)::VARCHAR || '.example.org' AS host,
         'the ' || (SELECT string_agg(
             'word' || ((g * 5 + j.range) % 19)::VARCHAR || ' and of that with',
             ' ' ORDER BY j.range)
          FROM range(7) j WHERE j.range < 3 + g % 4) AS body
  FROM g)
SELECT host, 'br' AS http_encoding, count(*)::BIGINT AS n_records,
       sum(length(body))::BIGINT AS sum_body_len,
       min(body) AS min_body
FROM b GROUP BY host
"""


# --------------------------------------------------------------------------
# q276 — GRIB2 JPEG 2000 packing (DRT 5.40), THE last reference-domain
# seam flipped (VERDICT r9 missing #2 said it "stays a documented seam
# unless a round is dedicated to it" — this round was): the committed
# fixture packs a formula wind field through the pure-Python T.800
# codec (sources/j2kcodec — MQ coder with the Table C.2 state machine,
# EBCOT three-pass Tier-1, tag-tree packet headers, 5/3 reversible
# lifting), and grib2_grid_cells decodes it in-kernel with the value
# predicate pushed down. The oracle regenerates the field from the
# formula and never touches the file: equality holds IFF marker parse,
# packet headers, MQ/EBCOT entropy decode, inverse wavelet, DC shift
# and the (R + X·2^E)·10^-D restore are ALL bit-correct — the exact
# q122/q126 pin, now through the hardest codec in the repo.
# --------------------------------------------------------------------------

def q276_grib2_jpeg2000(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    import odin_rs_spark
    from odin_rs_spark.sources.grib2 import grib2_grid_cells

    fixture = _os.path.join(
        _os.path.dirname(_os.path.abspath(odin_rs_spark.__file__)),
        "sources",
        "fixtures",
        "wind_j2k.grib2",
    )
    files = spark.read.format("binaryFile").load(fixture)
    cells = grib2_grid_cells(files, value_min=0.0)
    return cells.groupBy((F.col("x") % 8).alias("xb")).agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.round(F.sum("value"), 6).alias("sum_value"),
        F.round(F.min("value"), 6).alias("min_value"),
        F.round(F.max("value"), 6).alias("max_value"),
        F.round(F.avg("lat"), 6).alias("avg_lat"),
    )


Q276_SQL = """
WITH g AS (SELECT xs.range AS i, ys.range AS j
           FROM range(64) xs, range(48) ys),
c AS (SELECT i, ((i * 37 + j * 23) % 97) * 0.25 - 10.0 AS value,
             40.0 - j * 0.1 AS lat
      FROM g)
SELECT (i % 8)::INT AS xb, count(*)::BIGINT AS n_cells,
       round(sum(value), 6) AS sum_value,
       round(min(value), 6) AS min_value,
       round(max(value), 6) AS max_value,
       round(avg(lat), 6) AS avg_lat
FROM c WHERE value >= 0.0 GROUP BY xb
"""


# --------------------------------------------------------------------------
# q277 — MIXED GRANULE LAKE flagship (the r10 codec umbrella): one
# binaryFile scan over a directory holding every container generation
# the reference ingests — NetCDF-3 classic (CDF-1), NetCDF-4/HDF5
# (chunked+deflate), GRIB2 simple packing (5.0) and GRIB2 JPEG 2000
# (5.40) — decoded into ONE cell table: the .nc granules dispatch by
# magic inside the kernel (nc_grid_cells_any), the .grib2 granules
# through grib2_grid_cells, formats tagged from the filename. This is
# the real shape of a 100 TB satellite-product lake (decades of
# granules span container generations); every value is formula-exact
# so the oracle regenerates all four families analytically.
# --------------------------------------------------------------------------

@_scratch_query
def q277_mixed_granule_lake(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    import os as _os

    import numpy as np

    from odin_rs_spark.deploy import ensure_shipped
    from odin_rs_spark.sources.grib2 import (
        grib2_grid_cells,
        write_grib2,
        write_grib2_jpeg2000,
    )
    from odin_rs_spark.sources.hdf5 import nc_grid_cells_any, write_hdf5
    from odin_rs_spark.sources.netcdf3 import write_netcdf3

    ensure_shipped(spark)
    xx, yy = np.meshgrid(np.arange(16), np.arange(12))
    for g in (0, 1):
        write_netcdf3(
            _os.path.join(root, f"cdf_g{g}.nc"),
            dims=[("y", 12), ("x", 16)],
            variables={
                "v": (["y", "x"],
                      ((xx * 5 + yy * 7 + g * 3) % 50).astype("<f8"))
            },
        )
    for g in (2, 3):
        write_hdf5(
            _os.path.join(root, f"h5_g{g}.nc"),
            dims=[("y", 12), ("x", 16)],
            variables={
                "v": (["y", "x"],
                      ((xx * 11 + yy * 3 + g) % 40).astype("<i2"))
            },
            chunks={"v": (6, 8)},
            compress={"v": 6},
        )
    gx, gy = np.meshgrid(np.arange(24), np.arange(20))
    write_grib2(
        _os.path.join(root, "gs_g4.grib2"),
        ((gx * 2 + gy * 5 + 4) % 30) * 0.25,
        lat0=30.0, lon0=-100.0, dlat=0.125, dlon=0.25,
        e_scale=-2, nbits=7,
    )
    write_grib2_jpeg2000(
        _os.path.join(root, "gj_g5.grib2"),
        ((gx * 3 + gy * 2 + 5) % 30) * 0.25,
        lat0=30.0, lon0=-100.0, dlat=0.125, dlon=0.25,
        e_scale=-2, nbits=7, levels=2,
    )
    files = spark.read.format("binaryFile").load(root)
    fmt = F.regexp_extract(F.col("path"), r"([a-z0-9]+)_g\d+\.", 1)
    nc_cells = nc_grid_cells_any(
        files.filter(F.col("path").endswith(".nc")), "v"
    ).select(
        F.regexp_extract("path", r"([a-z0-9]+)_g\d+\.", 1).alias("fmt"),
        "value",
    )
    gb_cells = grib2_grid_cells(
        files.filter(F.col("path").endswith(".grib2"))
    ).select(
        F.regexp_extract("path", r"([a-z0-9]+)_g\d+\.", 1).alias("fmt"),
        "value",
    )
    out = nc_cells.unionByName(gb_cells).groupBy("fmt").agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.round(F.sum("value"), 6).alias("sum_value"),
        F.round(F.min("value"), 6).alias("min_value"),
        F.round(F.max("value"), 6).alias("max_value"),
    )
    return out


Q277_SQL = """
WITH nc AS (SELECT gg.g, xs.range AS x, ys.range AS y
            FROM (VALUES (0), (1)) gg(g), range(16) xs, range(12) ys),
cdf AS (SELECT 'cdf' AS fmt, ((x * 5 + y * 7 + g * 3) % 50)::DOUBLE AS value
        FROM nc),
h5g AS (SELECT gg.g, xs.range AS x, ys.range AS y
        FROM (VALUES (2), (3)) gg(g), range(16) xs, range(12) ys),
h5 AS (SELECT 'h5' AS fmt, ((x * 11 + y * 3 + g) % 40)::DOUBLE AS value
       FROM h5g),
gg2 AS (SELECT xs.range AS x, ys.range AS y
        FROM range(24) xs, range(20) ys),
gs AS (SELECT 'gs' AS fmt, ((x * 2 + y * 5 + 4) % 30) * 0.25 AS value
       FROM gg2),
gj AS (SELECT 'gj' AS fmt, ((x * 3 + y * 2 + 5) % 30) * 0.25 AS value
       FROM gg2),
allc AS (SELECT * FROM cdf UNION ALL SELECT * FROM h5
         UNION ALL SELECT * FROM gs UNION ALL SELECT * FROM gj)
SELECT fmt, count(*)::BIGINT AS n_cells,
       round(sum(value), 6) AS sum_value,
       round(min(value), 6) AS min_value,
       round(max(value), 6) AS max_value
FROM allc GROUP BY fmt
"""


# --------------------------------------------------------------------------
# q278 — k-anonymity audit (privacy governance for training corpora):
# before user-derived tables feed a pipeline, measure how identifying
# each quasi-identifier combination is — a record is k-anonymous iff
# ≥ k records share its full QI tuple (Sweeney 2002). QI here =
# (nation, market segment, coarse account-balance band); rows in
# groups with k < 5 are re-identification risks a release gate must
# count (the same governance family as the q237 secret scan and q75
# PII audit). Pure relational: one groupBy over the QI tuple, then a
# per-segment rollup — scales as a single shuffle on the QI key.
# --------------------------------------------------------------------------

def q278_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    qi = cust.select(
        "c_custkey",
        "c_mktsegment",
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 2000).cast("int").alias("bal_band"),
    )
    groups = qi.groupBy("c_mktsegment", "c_nationkey", "bal_band").agg(
        F.count(F.lit(1)).alias("k")
    )
    joined = qi.join(
        F.broadcast(groups), ["c_mktsegment", "c_nationkey", "bal_band"]
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.countDistinct("c_nationkey", "bal_band").cast("bigint")
        .alias("n_qi_groups"),
        F.min("k").cast("bigint").alias("min_k"),
        F.sum((F.col("k") < 5).cast("bigint")).alias("n_unsafe_rows"),
        F.round(
            F.sum((F.col("k") < 5).cast("double")) / F.count(F.lit(1)), 6
        ).alias("unsafe_share"),
    )


Q278_SQL = """
WITH qi AS (
  SELECT c_custkey, c_mktsegment, c_nationkey,
         CAST(floor(c_acctbal / 2000) AS INT) AS bal_band
  FROM customer),
g AS (
  SELECT c_mktsegment, c_nationkey, bal_band, count(*) AS k
  FROM qi GROUP BY 1, 2, 3),
j AS (
  SELECT qi.c_mktsegment, qi.c_nationkey, qi.bal_band, g.k
  FROM qi JOIN g USING (c_mktsegment, c_nationkey, bal_band))
SELECT c_mktsegment, count(*)::BIGINT AS n_rows,
       count(DISTINCT (c_nationkey, bal_band))::BIGINT AS n_qi_groups,
       min(k)::BIGINT AS min_k,
       sum(CASE WHEN k < 5 THEN 1 ELSE 0 END)::BIGINT AS n_unsafe_rows,
       round(sum(CASE WHEN k < 5 THEN 1 ELSE 0 END) / count(*)::DOUBLE, 6)
         AS unsafe_share
FROM j GROUP BY c_mktsegment
"""


# --------------------------------------------------------------------------
# q279 — benchmark SEMANTIC contamination screen (the embedding-space
# sibling of q201's n-gram contamination and q157's SemDeDup): corpus
# vectors score against a broadcast BENCHMARK dim by exact cosine, and
# anything above threshold is a suspected eval-set leak — the screen
# run before any benchmark number is reported on a trained model.
# Benchmark = every 97th vector (a dim, broadcast; the corpus never
# shuffles until the final per-label rollup). Cosines round to 6dp on
# both sides before the threshold compare; at the driver's grading
# scale (sf0.01) the 0.3 threshold sits 8.8e-4 from the nearest
# rounded max-cos and every unrounded pair cosine is ≥ 4e-10 from a
# 6dp rounding boundary (measured), so libm-vs-Java ulps cannot flip
# membership. 24/494 corpus vectors flag at sf0.01 — a real split,
# not a vacuous gate.
# --------------------------------------------------------------------------

def q279_semantic_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.operators.similarity import dot, l2_norm, safe_cosine

    emb = _t(spark, sf_dir, "embeddings")
    bench = F.broadcast(
        emb.filter(F.col("vec_id") % 97 == 0).select(
            F.col("vec_id").alias("bench_id"),
            F.col("embedding").alias("__bvec"),
            l2_norm(F.col("embedding")).alias("__bn"),
        )
    )
    corpus = emb.filter(F.col("vec_id") % 97 != 0).select(
        "vec_id", "label",
        F.col("embedding").alias("__cvec"),
        l2_norm(F.col("embedding")).alias("__cn"),
    )
    scored = corpus.join(bench, how="cross").withColumn(
        "cos",
        F.round(
            safe_cosine(
                dot(F.col("__cvec"), F.col("__bvec")),
                F.col("__cn") * F.col("__bn"),
            ),
            6,
        ),
    )
    best = scored.groupBy("vec_id", "label").agg(
        F.max("cos").alias("max_cos")
    )
    return best.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.sum((F.col("max_cos") >= 0.3).cast("bigint")).alias("n_flagged"),
        F.round(F.avg("max_cos"), 6).alias("avg_max_cos"),
        F.round(F.max("max_cos"), 6).alias("top_cos"),
    )


Q279_SQL = """
WITH b AS (SELECT vec_id AS bench_id, embedding AS bv FROM embeddings
           WHERE vec_id % 97 = 0),
c AS (SELECT vec_id, label, embedding AS cv FROM embeddings
      WHERE vec_id % 97 <> 0),
s AS (
  SELECT c.vec_id, c.label,
         round(
           list_sum(list_transform(range(1, 65),
                    i -> c.cv[i]::DOUBLE * b.bv[i]::DOUBLE))
           / (sqrt(list_sum(list_transform(range(1, 65),
                    i -> c.cv[i]::DOUBLE * c.cv[i]::DOUBLE)))
              * sqrt(list_sum(list_transform(range(1, 65),
                    i -> b.bv[i]::DOUBLE * b.bv[i]::DOUBLE)))), 6) AS cos
  FROM c, b),
m AS (SELECT vec_id, label, max(cos) AS max_cos FROM s GROUP BY 1, 2)
SELECT label, count(*)::BIGINT AS n_vecs,
       sum(CASE WHEN max_cos >= 0.3 THEN 1 ELSE 0 END)::BIGINT AS n_flagged,
       round(avg(max_cos), 6) AS avg_max_cos,
       round(max(max_cos), 6) AS top_cos
FROM m GROUP BY label
"""


# --------------------------------------------------------------------------
# q280 — stream-stream FULL OUTER interval join semantics pinned (the
# q266 discipline extended to the symmetric case, with the rule nobody
# guesses right): an unmatched row null-pads only when the watermark
# proves no match can still arrive, and the two sides' windows END AT
# DIFFERENT TIMES — with the condition r_ts ∈ [ts − 120 min, ts], a
# LEFT row's window closes at its own ts (measured: emits iff
# ts < W_final), but a RIGHT row can still match future left rows
# until r_ts + 120 min (measured: emits iff r_ts + 120 min < W_final
# — the r_ts < W rule over-counts by 5 on this data, which is exactly
# how the ambiguity was caught). W_final = min(max left ts, max right
# ts) − 1 h over all batches. Drift in symmetric outer-join state
# cleanup in a future Spark flips this red.
# --------------------------------------------------------------------------

@_scratch_query
def q280_stream_full_outer(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    from odin_rs_spark.streaming.pipelines import (
        partitioned_append_sink,
        run_available_now,
    )
    from odin_rs_spark.streaming.sources import replay_stream, split_for_replay

    ev = _t(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    right = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("r_eid"),
        F.col("user_id").alias("r_uid"),
        F.col("ts").alias("r_ts"),
    )
    split_for_replay(left, root + "/l", n_chunks=4, order_col="ts")
    split_for_replay(right, root + "/r", n_chunks=4, order_col="r_ts")
    ls = replay_stream(spark, root + "/l", left.schema, 2).withWatermark("ts", "1 hour")
    rs = replay_stream(spark, root + "/r", right.schema, 2).withWatermark("r_ts", "1 hour")
    cond = (
        (F.col("user_id") == F.col("r_uid"))
        & (F.col("r_ts") >= F.col("ts") - F.expr("INTERVAL 120 MINUTES"))
        & (F.col("r_ts") <= F.col("ts"))
    )
    j = ls.join(rs, cond, "full_outer")

    sink = partitioned_append_sink(root + "/store")
    with _stream_state_parallelism(spark, 8):
        run_available_now(j, sink, root + "/ckpt", output_mode="append")
    st = spark.read.parquet(root + "/store")
    out = st.groupBy(
        (F.coalesce(F.col("user_id"), F.col("r_uid")) % 7).alias(
            "user_bucket"
        )
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            (F.col("event_id").isNotNull()
             & F.col("r_eid").isNotNull()).cast("bigint")
        ).alias("n_pairs"),
        F.sum(F.col("r_eid").isNull().cast("bigint")).alias(
            "n_left_only"
        ),
        F.sum(F.col("event_id").isNull().cast("bigint")).alias(
            "n_right_only"
        ),
    )
    return out


Q280_SQL = """
WITH l AS (SELECT event_id, user_id, ts FROM events
           WHERE event_type = 'purchase'),
r AS (SELECT event_id AS r_eid, user_id AS r_uid, ts AS r_ts FROM events
      WHERE event_type = 'click'),
wm AS (SELECT least((SELECT max(ts) FROM l), (SELECT max(r_ts) FROM r))
              - INTERVAL 1 HOUR AS w),
lm AS (
  SELECT l.event_id, l.user_id, l.ts, count(r.r_eid) AS nm
  FROM l LEFT JOIN r
    ON l.user_id = r.r_uid
   AND r.r_ts BETWEEN l.ts - INTERVAL 120 MINUTE AND l.ts
  GROUP BY 1, 2, 3),
rm AS (
  SELECT r.r_eid, r.r_uid, r.r_ts, count(l.event_id) AS nm
  FROM r LEFT JOIN l
    ON l.user_id = r.r_uid
   AND r.r_ts BETWEEN l.ts - INTERVAL 120 MINUTE AND l.ts
  GROUP BY 1, 2, 3),
rows_ AS (
  SELECT user_id AS bucket_key, nm AS pairs,
         CASE WHEN nm = 0 AND ts < (SELECT w FROM wm) THEN 1 ELSE 0 END
           AS left_only, 0 AS right_only
  FROM lm WHERE nm > 0 OR ts < (SELECT w FROM wm)
  UNION ALL
  SELECT r_uid, 0, 0, 1
  FROM rm
  WHERE nm = 0 AND r_ts + INTERVAL 120 MINUTE < (SELECT w FROM wm))
SELECT (bucket_key % 7)::BIGINT AS user_bucket,
       sum(pairs + left_only + right_only)::BIGINT AS n_rows,
       sum(pairs)::BIGINT AS n_pairs,
       sum(left_only)::BIGINT AS n_left_only,
       sum(right_only)::BIGINT AS n_right_only
FROM rows_ GROUP BY 1
"""


# --------------------------------------------------------------------------
# q281 — GDPR deletion cascade (right-to-be-forgotten, the governance
# op every user-data corpus must run): a forget-list of subjects
# propagates through the FK chain customer → orders → lineitem, and
# the audit reports per table how many rows the erasure touches (the
# number a DPO signs off on BEFORE the delete executes). Shape: the
# forget list broadcasts; each hop is a semi-join on the FK — no
# fact-to-fact shuffle, exactly how a 100 TB cascade stays tractable.
# --------------------------------------------------------------------------

def q281_gdpr_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    forget = cust.filter(F.col("c_custkey") % 53 == 0).select("c_custkey")
    del_orders = orders.join(
        F.broadcast(forget),
        orders["o_custkey"] == forget["c_custkey"],
        "left_semi",
    )
    del_li = li.join(
        F.broadcast(del_orders.select("o_orderkey")),
        li["l_orderkey"] == F.col("o_orderkey"),
        "left_semi",
    )
    rows = [
        cust.select(
            F.lit("customer").alias("tbl"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum((F.col("c_custkey") % 53 == 0).cast("bigint")).alias(
                "n_deleted"
            ),
        ),
        orders.select(F.lit("orders"), F.count(F.lit(1)), F.lit(None)).crossJoin(
            del_orders.select(F.count(F.lit(1)).alias("__d"))
        ).select(
            F.lit("orders").alias("tbl"),
            F.col("count(1)").alias("n_rows"),
            F.col("__d").alias("n_deleted"),
        ),
        li.select(F.lit("lineitem"), F.count(F.lit(1))).crossJoin(
            del_li.select(F.count(F.lit(1)).alias("__d"))
        ).select(
            F.lit("lineitem").alias("tbl"),
            F.col("count(1)").alias("n_rows"),
            F.col("__d").alias("n_deleted"),
        ),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.withColumn(
        "share", F.round(F.col("n_deleted") / F.col("n_rows"), 6)
    )


Q281_SQL = """
WITH f AS (SELECT c_custkey FROM customer WHERE c_custkey % 53 = 0),
d_ord AS (SELECT o_orderkey FROM orders
          WHERE o_custkey IN (SELECT c_custkey FROM f)),
d_li AS (SELECT 1 FROM lineitem
         WHERE l_orderkey IN (SELECT o_orderkey FROM d_ord))
SELECT 'customer' AS tbl, (SELECT count(*) FROM customer)::BIGINT AS n_rows,
       (SELECT count(*) FROM f)::BIGINT AS n_deleted,
       round((SELECT count(*) FROM f)
             / (SELECT count(*) FROM customer)::DOUBLE, 6) AS share
UNION ALL
SELECT 'orders', (SELECT count(*) FROM orders)::BIGINT,
       (SELECT count(*) FROM d_ord)::BIGINT,
       round((SELECT count(*) FROM d_ord)
             / (SELECT count(*) FROM orders)::DOUBLE, 6)
UNION ALL
SELECT 'lineitem', (SELECT count(*) FROM lineitem)::BIGINT,
       (SELECT count(*) FROM d_li)::BIGINT,
       round((SELECT count(*) FROM d_li)
             / (SELECT count(*) FROM lineitem)::DOUBLE, 6)
"""


# --------------------------------------------------------------------------
# q282 — sentence segmentation + length signals (operators/text
# sentence_stats): the per-doc sentence counts and words-per-sentence
# that feed readability and Gopher-style length gates. The split rule
# ([.!?]+ runs, non-empty trimmed segments) is deliberately RE2-safe
# so the oracle replays it verbatim — no lookbehind anywhere.
# --------------------------------------------------------------------------

def q282_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    st = text_ops.sentence_stats(docs)
    return st.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_sentences").cast("bigint").alias("n_sentences"),
        F.sum("n_words").cast("bigint").alias("n_words"),
        F.round(F.avg("words_per_sentence"), 6).alias("avg_wps"),
        F.round(F.max("words_per_sentence"), 6).alias("max_wps"),
    )


Q282_SQL = r"""
WITH d AS (
  SELECT source,
         len(list_filter(list_transform(
             regexp_split_to_array(text, '[.!?]+'), s -> trim(s)),
             s -> s <> '')) AS n_sentences,
         len(list_filter(regexp_split_to_array(trim(text), '\s+'),
             w -> w <> '')) AS n_words
  FROM documents),
w AS (SELECT source, n_sentences, n_words,
             CASE WHEN n_sentences > 0
                  THEN n_words::DOUBLE / n_sentences END AS wps
      FROM d)
SELECT source, count(*)::BIGINT AS n_docs,
       sum(n_sentences)::BIGINT AS n_sentences,
       sum(n_words)::BIGINT AS n_words,
       round(avg(wps), 6) AS avg_wps,
       round(max(wps), 6) AS max_wps
FROM w GROUP BY source
"""


# --------------------------------------------------------------------------
# q283 — Flesch reading ease (Flesch 1948; the classic readability
# gate corpus pipelines bucket on): 206.835 − 1.015·(W/S) −
# 84.6·(syllables/W), syllables = maximal [aeiouy]+ runs in the
# lowercased text (runs cannot span whitespace, so the per-text count
# equals the per-word sum — engine-portable). Buckets: <30 hard,
# 30-70 standard, ≥70 easy. All inputs are integer counts, so the
# only FP is the final formula — rounded identically on both sides.
# --------------------------------------------------------------------------

def q283_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    fl = text_ops.flesch_reading_ease(docs).where(F.col("flesch").isNotNull())
    bucket = (
        F.when(F.col("flesch") < 30, "hard")
        .when(F.col("flesch") < 70, "standard")
        .otherwise("easy")
    )
    return fl.groupBy("source", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("flesch"), 6).alias("avg_flesch"),
        F.round(F.min("flesch"), 6).alias("min_flesch"),
        F.round(F.max("flesch"), 6).alias("max_flesch"),
    )


Q283_SQL = r"""
WITH d AS (
  SELECT source,
         len(list_filter(list_transform(
             regexp_split_to_array(text, '[.!?]+'), s -> trim(s)),
             s -> s <> '')) AS s,
         len(list_filter(regexp_split_to_array(trim(text), '\s+'),
             w -> w <> '')) AS w,
         len(list_filter(regexp_split_to_array(lower(text), '[^aeiouy]+'),
             g -> g <> '')) AS syl
  FROM documents),
f AS (
  SELECT source,
         206.835::DOUBLE - 1.015::DOUBLE * w / s
           - 84.6::DOUBLE * syl / w AS flesch
  FROM d WHERE s > 0 AND w > 0)
SELECT source,
       CASE WHEN flesch < 30 THEN 'hard'
            WHEN flesch < 70 THEN 'standard'
            ELSE 'easy' END AS bucket,
       count(*)::BIGINT AS n_docs,
       round(avg(flesch), 6) AS avg_flesch,
       round(min(flesch), 6) AS min_flesch,
       round(max(flesch), 6) AS max_flesch
FROM f GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# q284 — AS-OF join against an SCD2 dimension (the warehouse staple on
# top of q259's interval build): purchases look up the click-activity
# band the user was in AT PURCHASE TIME — dim rows are
# [valid_from, valid_to) validity intervals built from click events
# (attr = floor(value/20) band), the fact side probes with
# valid_from ≤ ts < valid_to (NULL valid_to = open). Purchases before
# any click keep a NULL band (left join). One equi-join on user_id +
# interval filter; the dim is change-points, orders of magnitude
# smaller than the history.
# --------------------------------------------------------------------------

def q284_asof_scd2_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.operators.windows import scd2_intervals

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        "event_id",
        F.floor(F.col("value") / 20).cast("int").alias("band"),
    )
    dim = scd2_intervals(clicks, "user_id", "band", "ts",
                         order_cols=("event_id",))
    facts = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("f_uid"), F.col("ts").alias("f_ts"), "value"
    )
    joined = facts.join(
        dim,
        (F.col("f_uid") == F.col("user_id"))
        & (F.col("f_ts") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("f_ts") < F.col("valid_to"))),
        "left",
    )
    return joined.groupBy(F.col("band")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
        F.round(F.sum("value"), 4).alias("sum_value"),
        F.countDistinct("f_uid").cast("bigint").alias("n_users"),
    )


Q284_SQL = """
WITH c AS (
  SELECT user_id, ts, event_id,
         CAST(floor(value / 20) AS INT) AS band
  FROM events WHERE event_type = 'click'),
ch AS (
  SELECT user_id, band, ts,
         lag(band) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM c),
cp AS (
  SELECT user_id, band, ts,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS valid_to
  FROM ch WHERE prev IS NULL OR band <> prev),
f AS (SELECT user_id AS f_uid, ts AS f_ts, value FROM events
      WHERE event_type = 'purchase')
SELECT d.band, count(*)::BIGINT AS n_purchases,
       round(sum(f.value), 4) AS sum_value,
       count(DISTINCT f.f_uid)::BIGINT AS n_users
FROM f LEFT JOIN cp d
  ON d.user_id = f.f_uid
 AND f.f_ts >= d.ts
 AND (d.valid_to IS NULL OR f.f_ts < d.valid_to)
GROUP BY d.band
"""


# --------------------------------------------------------------------------
# q285 — ANN recall audit (the honesty metric for the IVF family:
# report MEASURED recall@k against exact brute force, never assume
# it): exact top-5 via cosine_topk vs IVF top-5 with the q59 fixed
# centroids at nprobe=2 (deliberately low so recall < 1 and the
# audit measures something), per-query overlap/5, then the rollup a
# pipeline gates its index deployment on. Both sides tie-break
# identically (cos DESC, vec_id ASC) so the sets are deterministic.
# --------------------------------------------------------------------------

def q285_ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = sim_ops.cosine_topk(emb, queries, k=5).select(
        "query_id", F.col("vec_id").alias("e_id")
    )
    ivf = sim_ops.ivf_fixed_topk(
        emb, queries, _Q59_CENTS, k=5, nprobe=2
    ).select("query_id", F.col("vec_id").alias("i_id"))
    hits = exact.join(
        ivf,
        (exact["query_id"] == ivf["query_id"]) & (F.col("e_id") == F.col("i_id")),
        "left",
    ).groupBy(exact["query_id"]).agg(
        (F.sum(F.col("i_id").isNotNull().cast("int")) / 5.0).alias("recall")
    )
    return hits.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_queries"),
        F.round(F.avg("recall"), 6).alias("avg_recall"),
        F.round(F.min("recall"), 6).alias("min_recall"),
        F.sum((F.col("recall") == 1.0).cast("bigint")).alias("n_perfect"),
    )


Q285_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id < 20),
ex AS (
  SELECT query_id, vec_id AS e_id FROM (
    SELECT q.query_id, e.vec_id,
           row_number() OVER (PARTITION BY q.query_id
               ORDER BY {_COS.format(a='q2', b='e')} DESC, e.vec_id ASC)
             AS rk
    FROM q JOIN embeddings q2 ON q2.vec_id = q.query_id
    CROSS JOIN embeddings e
    WHERE e.vec_id <> q.query_id) WHERE rk <= 5),
cents AS (
  SELECT list_position({_Q59_CENTS}, vec_id) - 1 AS cell, embedding AS cv
  FROM embeddings WHERE vec_id IN {tuple(_Q59_CENTS)}),
assigned AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_Q59_CENT_COS.format(a='e')} DESC,
                                       c.cell ASC) AS rn
    FROM embeddings e, cents c) WHERE rn = 1),
probes AS (
  SELECT query_id, cell FROM (
    SELECT e.vec_id AS query_id, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_Q59_CENT_COS.format(a='e')} DESC,
                                       c.cell ASC) AS rn
    FROM embeddings e, cents c WHERE e.vec_id < 20) WHERE rn <= 2),
cand AS (
  SELECT DISTINCT p.query_id, a.vec_id
  FROM probes p JOIN assigned a ON a.cell = p.cell
  WHERE a.vec_id <> p.query_id),
iv AS (
  SELECT query_id, vec_id AS i_id FROM (
    SELECT c.query_id, c.vec_id,
           row_number() OVER (PARTITION BY c.query_id
               ORDER BY {_COS.format(a='qe', b='e')} DESC, c.vec_id ASC)
             AS rk
    FROM cand c
    JOIN embeddings e ON e.vec_id = c.vec_id
    JOIN embeddings qe ON qe.vec_id = c.query_id) WHERE rk <= 5),
rec AS (
  SELECT ex.query_id,
         sum(CASE WHEN iv.i_id IS NOT NULL THEN 1 ELSE 0 END) / 5.0
           AS recall
  FROM ex LEFT JOIN iv
    ON iv.query_id = ex.query_id AND iv.i_id = ex.e_id
  GROUP BY ex.query_id)
SELECT count(*)::BIGINT AS n_queries,
       round(avg(recall), 6) AS avg_recall,
       round(min(recall), 6) AS min_recall,
       sum(CASE WHEN recall = 1.0 THEN 1 ELSE 0 END)::BIGINT AS n_perfect
FROM rec
"""


# --------------------------------------------------------------------------
# q286 — satellite-tile classification flagship (the reference's
# ACTUAL inference pipeline: odin_onnx consumes GOES-R imagery —
# fit image to model size → session.run → class scores — odin_onnx/
# src/lib.rs:47-150): NetCDF-4/HDF5 granules decode IN-KERNEL
# (sources/hdf5), the DQF quality mask gates which granules are clean
# enough to classify (the cloudy-granule skip every production
# pipeline runs), and clean granules flow through the COMMITTED conv
# .onnx fixture (functions/cnn + onnx.load_onnx_cnn). Composes the
# two biggest r10 codecs into the reference's end-to-end use case.
# Dyadic-exact throughout (pixels raw/256, weights k/16), so the
# oracle replays granule formula → mask gate → convolution → pooling
# → dense head → argmax with zero tolerance.
# --------------------------------------------------------------------------

@_scratch_query
def q286_satellite_classify(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    import os as _os

    import numpy as np

    import odin_rs_spark
    from odin_rs_spark.deploy import ensure_shipped
    from odin_rs_spark.functions.onnx import load_onnx_cnn
    from odin_rs_spark.sources.hdf5 import write_hdf5

    ensure_shipped(spark)
    fixture = _os.path.join(
        _os.path.dirname(_os.path.abspath(odin_rs_spark.__file__)),
        "functions",
        "fixtures",
        "cnn_1x16x16_4f_3.onnx",
    )
    weights = load_onnx_cnn(fixture)
    xx, yy = np.meshgrid(np.arange(16), np.arange(16))
    for g in range(24):
        cmi = ((xx * (g % 5 + 1) + yy * (g % 3 + 1) + g * 17) % 200)
        # per-granule DQF modulus varies the clean share (2/3,
        # 1/2, 2/5, 1/3) so the cloudy-granule gate REALLY skips
        dqf = ((xx * 7 + yy * 11 + g) % (3 + g % 4))
        write_hdf5(
            root + f"/t_g{g}.nc",
            [("y", 16), ("x", 16)],
            {"CMI": (["y", "x"], cmi.astype("<i2")),
             "DQF": (["y", "x"], dqf.astype("<i1"))},
            chunks={"CMI": (8, 8)},
            compress={"CMI": 6},
        )
    files = spark.read.format("binaryFile").load(root)

    import pandas as pd

    def fn(batches):
        from odin_rs_spark.functions.cnn import classify_pixels
        from odin_rs_spark.sources.hdf5 import parse_hdf5

        for pdf in batches:
            rows = {"gran": [], "good_share": [], "pred": [],
                    "margin": []}
            ids, grays, shares = [], [], []
            for path, content in zip(pdf["path"], pdf["content"]):
                nc = parse_hdf5(bytes(content))
                cmi = np.asarray(nc["vars"]["CMI"]["data"])
                dqf = np.asarray(nc["vars"]["DQF"]["data"])
                share = float((dqf < 2).mean())
                gran = int(path.rsplit("_g", 1)[1].split(".")[0])
                if share < 0.375:  # cloudy granule: skip classify
                    continue
                ids.append((gran, share))
                grays.append(cmi.astype(np.uint8))
            if ids:
                pred, margin = classify_pixels(np.stack(grays), weights)
                for (gran, share), p, m in zip(ids, pred, margin):
                    rows["gran"].append(gran)
                    rows["good_share"].append(share)
                    rows["pred"].append(int(p))
                    rows["margin"].append(float(m))
            yield pd.DataFrame(rows)

    scored = files.select("path", "content").mapInPandas(
        fn, "gran int, good_share double, pred int, margin double"
    )
    out = scored.groupBy("pred").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_granules"),
        F.round(F.avg("margin"), 6).alias("avg_margin"),
        F.round(F.avg("good_share"), 6).alias("avg_good_share"),
        F.min("gran").cast("int").alias("first_gran"),
    )
    return out


Q286_SQL = """
WITH m AS (SELECT range AS gran FROM range(24)),
px AS (
  SELECT gran, y.range AS y, x.range AS x,
         ((x.range * (gran % 5 + 1) + y.range * (gran % 3 + 1) + gran * 17)
            % 200) AS v,
         ((x.range * 7 + y.range * 11 + gran) % (3 + gran % 4)) AS dqf
  FROM m, range(16) y, range(16) x),
gate AS (
  SELECT gran, avg(CASE WHEN dqf < 2 THEN 1.0 ELSE 0.0 END) AS good_share
  FROM px GROUP BY gran),
keep AS (SELECT gran, good_share FROM gate WHERE good_share >= 0.375),
kw AS (
  SELECT f.range AS f, dy.range AS dy, dx.range AS dx,
         (((f.range * 5 + dy.range * 3 + dx.range * 11) % 13) - 6)::DOUBLE
           / 16 AS w
  FROM range(4) f, range(3) dy, range(3) dx),
bc AS (SELECT range AS f, (((range * 3) % 5) - 2)::DOUBLE / 16 AS b
       FROM range(4)),
conv AS (
  SELECT g.gran, k.f, g.y, g.x,
         sum(k.w * coalesce(p.v::DOUBLE / 256, 0)) AS acc
  FROM px g
  JOIN keep kp ON kp.gran = g.gran
  CROSS JOIN kw k
  LEFT JOIN px p ON p.gran = g.gran
                AND p.y = g.y + k.dy - 1 AND p.x = g.x + k.dx - 1
  GROUP BY g.gran, k.f, g.y, g.x),
relu AS (
  SELECT c.gran, c.f, c.y, c.x, greatest(c.acc + bc.b, 0) AS v
  FROM conv c JOIN bc ON bc.f = c.f),
pool AS (
  SELECT gran, f, y // 2 AS py, x // 2 AS px_, max(v) AS v
  FROM relu GROUP BY gran, f, y // 2, x // 2),
flat AS (SELECT gran, (f * 64 + py * 8 + px_) AS i, v FROM pool),
dw AS (
  SELECT i.range AS i, o.range AS o,
         (((i.range * 13 + o.range * 5) % 17) - 8)::DOUBLE / 16 AS w
  FROM range(256) i, range(3) o),
bd AS (SELECT range AS o, (((range * 5) % 3) - 1)::DOUBLE / 16 AS b
       FROM range(3)),
logits AS (
  SELECT fl.gran, dw.o, sum(fl.v * dw.w) + any_value(bd.b) AS logit
  FROM flat fl JOIN dw ON dw.i = fl.i JOIN bd ON bd.o = dw.o
  GROUP BY fl.gran, dw.o),
ranked AS (
  SELECT gran, o, logit,
         row_number() OVER (PARTITION BY gran
                            ORDER BY logit DESC, o ASC) AS rk
  FROM logits),
scored AS (
  SELECT a.gran, a.o AS pred, a.logit - b.logit AS margin
  FROM ranked a JOIN ranked b
    ON b.gran = a.gran AND a.rk = 1 AND b.rk = 2)
SELECT s.pred::INT AS pred, count(*)::BIGINT AS n_granules,
       round(avg(s.margin), 6) AS avg_margin,
       round(avg(k.good_share), 6) AS avg_good_share,
       min(s.gran)::INT AS first_gran
FROM scored s JOIN keep k ON k.gran = s.gran
GROUP BY s.pred
"""


# --------------------------------------------------------------------------
# q287 — dropDuplicatesWithinWatermark semantics pinned (the streaming
# dedup-with-TTL API everyone reaches for; T-family pin alongside
# q257/q266/q280): MEASURED rules on this Spark —
#   (1) BOTH the late-input filter and the state eviction visible to
#       batch b use the TWO-batch-lagging watermark W(b−2) = max event
#       ts of batches ≤ b−2 minus the delay (the same one-extra-batch
#       input-filter lag q257 measured for aggregations, here measured
#       for the dedup operator at two data scales — the sf0.01 data
#       alone could not distinguish the filter lag; sf0.001 could);
#   (2) a key's stored expiry derives from the MINIMUM candidate event
#       time + delay, and later duplicates never extend it — so a key
#       re-emits exactly when its expiry fell behind W(b−2) and a
#       non-late row arrives.
# Counts verified IDENTICAL at local[2]/3 and local[16]/16, so the pin
# is partition-stable. Events replay in 4 md5-shuffled chunks (arrival
# uncorrelated with event time — the q263 vacuity guard); the oracle
# unrolls the 4-batch state evolution (eviction → dedup → insert) in
# MATERIALIZED stages. Drift in the dedup operator's eviction timing
# in a future Spark flips this red.
# --------------------------------------------------------------------------

@_scratch_query
def q287_stream_dedup_ttl(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    from odin_rs_spark.streaming.pipelines import (
        partitioned_append_sink,
        run_available_now,
    )
    from odin_rs_spark.streaming.sources import replay_stream, split_for_replay

    ev = _t(spark, sf_dir, "events").select(
        "event_id", (F.col("user_id") % 50).alias("k"), "ts"
    )
    arr = ev.withColumn("__arr", F.md5(F.col("event_id").cast("string")))
    split_for_replay(arr, root + "/c", n_chunks=4, order_col="__arr")
    st = replay_stream(spark, root + "/c", arr.schema, 1)
    dd = st.withWatermark("ts", "30 minutes").dropDuplicatesWithinWatermark(
        ["k"]
    )

    sink = partitioned_append_sink(root + "/store")
    with _stream_state_parallelism(spark, 8):
        run_available_now(dd, sink, root + "/ckpt", output_mode="append")
    out = (
        spark.read.parquet(root + "/store")
        .groupBy((F.col("__batch_id") + 1).cast("int").alias("batch"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_emitted"),
            F.min("k").cast("bigint").alias("min_k"),
            F.max("k").cast("bigint").alias("max_k"),
        )
    )
    return out


Q287_SQL = """
WITH base AS MATERIALIZED (
  SELECT user_id % 50 AS k, ts,
         ntile(4) OVER (ORDER BY md5(event_id::VARCHAR)) AS b
  FROM events),
wm AS MATERIALIZED (
  SELECT b, max(max_ts) OVER (ORDER BY b) - INTERVAL 30 MINUTE AS w
  FROM (SELECT b, max(ts) AS max_ts FROM base GROUP BY b)),
e1 AS MATERIALIZED (
  SELECT k, min(ts) + INTERVAL 30 MINUTE AS exp
  FROM base WHERE b = 1 GROUP BY k),
c2 AS MATERIALIZED (
  SELECT k, min(ts) AS mts FROM base
  WHERE b = 2 GROUP BY k),  -- W(0) undefined: no late filter yet
e2 AS MATERIALIZED (
  SELECT c2.k, c2.mts + INTERVAL 30 MINUTE AS exp
  FROM c2 WHERE c2.k NOT IN (SELECT k FROM e1)),
s2 AS MATERIALIZED (
  SELECT * FROM e1 UNION ALL SELECT * FROM e2),
s2e AS MATERIALIZED (
  SELECT * FROM s2 WHERE exp >= (SELECT w FROM wm WHERE b = 1)),
c3 AS MATERIALIZED (
  SELECT k, min(ts) AS mts FROM base
  WHERE b = 3 AND ts >= (SELECT w FROM wm WHERE b = 1) GROUP BY k),
e3 AS MATERIALIZED (
  SELECT c3.k, c3.mts + INTERVAL 30 MINUTE AS exp
  FROM c3 WHERE c3.k NOT IN (SELECT k FROM s2e)),
s3 AS MATERIALIZED (
  SELECT * FROM s2e UNION ALL SELECT * FROM e3),
s3e AS MATERIALIZED (
  SELECT * FROM s3 WHERE exp >= (SELECT w FROM wm WHERE b = 2)),
c4 AS MATERIALIZED (
  SELECT k, min(ts) AS mts FROM base
  WHERE b = 4 AND ts >= (SELECT w FROM wm WHERE b = 2) GROUP BY k),
e4 AS MATERIALIZED (
  SELECT c4.k FROM c4 WHERE c4.k NOT IN (SELECT k FROM s3e)),
em AS (
  SELECT 1 AS batch, k FROM e1
  UNION ALL SELECT 2, k FROM e2
  UNION ALL SELECT 3, k FROM e3
  UNION ALL SELECT 4, k FROM e4)
SELECT batch::INT AS batch, count(*)::BIGINT AS n_emitted,
       min(k)::BIGINT AS min_k, max(k)::BIGINT AS max_k
FROM em GROUP BY batch
"""


# --------------------------------------------------------------------------
# q288 — GEODESIC track resampling (the great-circle upgrade of q270's
# linear interpolation — aircraft fly great circles, so the reference's
# track midpoints belong on the sphere): the t=1/2 slerp of two unit
# vectors equals the NORMALIZED CHORD MIDPOINT normalize(v0+v1), so the
# whole operator is pure column trig (lat/lon → ECEF-unit → sum →
# re-project via atan2) with zero UDFs and no shuffle beyond the
# consecutive-fix window. Segment great-circle length via haversine
# guards the vacuous case (coincident fixes). Sums round at 3dp so
# libm/Java trig ulps cannot flip the compare (q56 discipline).
# --------------------------------------------------------------------------

def q288_geodesic_midpoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    pts = ev.select(
        (F.col("user_id") % 20).alias("track_id"),
        "ts",
        "event_id",
        (F.lit(20.0) + (F.col("event_id") % 900) * 0.05).alias("lat"),
        (F.lit(-130.0) + (F.col("event_id") % 1200) * 0.05).alias("lon"),
    )
    w = Window.partitionBy("track_id").orderBy("ts", "event_id")
    seg = (
        pts.withColumn("lat2", F.lead("lat").over(w))
        .withColumn("lon2", F.lead("lon").over(w))
        .where(F.col("lat2").isNotNull())
    )
    la1, lo1 = F.radians("lat"), F.radians("lon")
    la2, lo2 = F.radians("lat2"), F.radians("lon2")
    x = F.cos(la1) * F.cos(lo1) + F.cos(la2) * F.cos(lo2)
    y = F.cos(la1) * F.sin(lo1) + F.cos(la2) * F.sin(lo2)
    z = F.sin(la1) + F.sin(la2)
    mid_lat = F.degrees(F.atan2(z, F.sqrt(x * x + y * y)))
    mid_lon = F.degrees(F.atan2(y, x))
    # haversine great-circle angle (radians) per segment
    dlat, dlon = la2 - la1, lo2 - lo1
    a = F.pow(F.sin(dlat / 2), 2) + F.cos(la1) * F.cos(la2) * F.pow(
        F.sin(dlon / 2), 2
    )
    theta = 2 * F.asin(F.sqrt(a))
    return seg.groupBy("track_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_segments"),
        F.round(F.sum(mid_lat), 3).alias("sum_mid_lat"),
        F.round(F.sum(mid_lon), 3).alias("sum_mid_lon"),
        F.round(F.max(theta), 6).alias("max_theta"),
    )


Q288_SQL = """
WITH p AS (
  SELECT user_id % 20 AS track_id, ts, event_id,
         20.0 + (event_id % 900) * 0.05 AS lat,
         -130.0 + (event_id % 1200) * 0.05 AS lon
  FROM events),
s AS (
  SELECT track_id, lat, lon,
         lead(lat) OVER (PARTITION BY track_id ORDER BY ts, event_id) AS lat2,
         lead(lon) OVER (PARTITION BY track_id ORDER BY ts, event_id) AS lon2
  FROM p),
seg AS (SELECT * FROM s WHERE lat2 IS NOT NULL),
v AS (
  SELECT track_id,
         cos(radians(lat)) * cos(radians(lon))
           + cos(radians(lat2)) * cos(radians(lon2)) AS x,
         cos(radians(lat)) * sin(radians(lon))
           + cos(radians(lat2)) * sin(radians(lon2)) AS y,
         sin(radians(lat)) + sin(radians(lat2)) AS z,
         2 * asin(sqrt(
           pow(sin((radians(lat2) - radians(lat)) / 2), 2)
           + cos(radians(lat)) * cos(radians(lat2))
             * pow(sin((radians(lon2) - radians(lon)) / 2), 2))) AS theta
  FROM seg)
SELECT track_id::BIGINT AS track_id, count(*)::BIGINT AS n_segments,
       round(sum(degrees(atan2(z, sqrt(x * x + y * y)))), 3) AS sum_mid_lat,
       round(sum(degrees(atan2(y, x))), 3) AS sum_mid_lon,
       round(max(theta), 6) AS max_theta
FROM v GROUP BY track_id
"""


# --------------------------------------------------------------------------
# q289 — LINE-level language segmentation (what mC4/CCNet actually run:
# documents are not monolingual — navigation chrome, quotes and
# boilerplate switch language mid-page, so language ID must run at
# line granularity and the DOCUMENT decision is an aggregate): formula
# docs carry 4 lines each whose language rotates by (doc*7 + line) % 6,
# every line scores through the COMMITTED trained trigram model
# (functions/langid, keys=[doc_id, line_no] — the operator is
# key-generic so line-level is the same broadcast join), and the doc
# rollup reports the dominant language (line-count argmax, ties → lang
# DESC) and a mixed-language flag. The oracle replays trigram scoring
# per line through the same model fixture via read_csv.
# --------------------------------------------------------------------------

def q289_line_lang_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.functions.langid import langid_trigram, load_langid_model

    d = F.col("doc_id")
    ln = F.col("line_no")
    lang_arrays = {
        lang: F.array(*[F.lit(w) for w in ws])
        for lang, ws in _Q199_WORDS.items()
    }
    # line-language index: docs cycle through monolingual (d%4==0),
    # 3-1 dominant, 2-1-1, and fully-mixed shapes — so `mixed` and
    # `dominant_lang` are real measurements, not tie-break artifacts
    lidx = (d * 7 + (ln * (d % 4)) / F.lit(3)).cast("long") % 6
    pick = lang_arrays[_Q199_LANGS[0]]
    for k, lang in enumerate(_Q199_LANGS[1:], start=1):
        pick = F.when(lidx == k, lang_arrays[lang]).otherwise(pick)
    line_text = F.array_join(
        F.transform(
            F.sequence(F.lit(0), (5 + (d + ln) % 3).cast("int")),
            lambda j: F.element_at(pick, ((d * 5 + ln * 3 + j) % 12 + 1).cast("int")),
        ),
        " ",
    )
    lines = (
        spark.range(40)
        .select(F.col("id").alias("doc_id"))
        .crossJoin(spark.range(4).select(F.col("id").alias("line_no")))
        .select("doc_id", "line_no", line_text.alias("text"))
    )
    scored = langid_trigram(
        lines, load_langid_model(spark), keys=["doc_id", "line_no"]
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.countDistinct("pred_lang").alias("n_langs"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("n").desc(), F.col("pred_lang").desc()
    )
    dom = (
        scored.groupBy("doc_id", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("doc_id", F.col("pred_lang").alias("dominant_lang"))
    )
    out = per_doc.join(dom, "doc_id").withColumn(
        "mixed", F.col("n_langs") > 1
    )
    return out.groupBy("dominant_lang", "mixed").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.round(F.avg("n_langs"), 6).alias("avg_langs"),
    )


def _q289_sql() -> str:
    from odin_rs_spark.functions.langid import LANGID_FIXTURE

    def word_case(lang: str) -> str:
        arms = " ".join(
            f"WHEN {k} THEN '{w}'"
            for k, w in enumerate(_Q199_WORDS[lang])
        )
        return f"CASE (doc_id * 5 + line_no * 3 + j) % 12 {arms} END"

    lang_arms = " ".join(
        f"WHEN {k} THEN {word_case(lang)}"
        for k, lang in enumerate(_Q199_LANGS)
    )
    return f"""
WITH dl AS (
  SELECT d.range AS doc_id, l.range AS line_no
  FROM range(40) d, range(4) l),
wj AS (
  SELECT doc_id, line_no, j.range AS j
  FROM dl, range(8) j WHERE j.range < 6 + (doc_id + line_no) % 3),
tx AS (
  SELECT doc_id, line_no,
         string_agg(CASE (doc_id * 7 + (line_no * (doc_id % 4)) // 3) % 6
                         {lang_arms} END,
                    ' ' ORDER BY j) AS text
  FROM wj GROUP BY doc_id, line_no),
nt AS (SELECT doc_id, line_no, ' ' || text || ' ' AS t FROM tx),
tg AS (
  SELECT doc_id, line_no,
         unnest(list_transform(generate_series(1, length(t) - 2),
                               i -> substr(t, i, 3))) AS ngram
  FROM nt),
m AS (SELECT * FROM read_csv('{LANGID_FIXTURE}', header = true)),
sc AS (
  SELECT tg.doc_id, tg.line_no, m.lang, sum(m.score) AS score
  FROM tg JOIN m ON tg.ngram = m.ngram
  GROUP BY 1, 2, 3),
best AS (
  SELECT doc_id, line_no, lang AS pred_lang,
         row_number() OVER (PARTITION BY doc_id, line_no
                            ORDER BY score DESC, lang DESC) AS rn
  FROM sc),
pl AS (SELECT doc_id, line_no, pred_lang FROM best WHERE rn = 1),
per_doc AS (
  SELECT doc_id, count(*) AS n_lines,
         count(DISTINCT pred_lang) AS n_langs
  FROM pl GROUP BY doc_id),
domc AS (
  SELECT doc_id, pred_lang, count(*) AS n FROM pl GROUP BY 1, 2),
dom AS (
  SELECT doc_id, pred_lang AS dominant_lang FROM (
    SELECT doc_id, pred_lang, row_number() OVER (
      PARTITION BY doc_id ORDER BY n DESC, pred_lang DESC) AS rn
    FROM domc) WHERE rn = 1)
SELECT dom.dominant_lang, per_doc.n_langs > 1 AS mixed,
       count(*)::BIGINT AS n_docs,
       round(avg(per_doc.n_langs), 6) AS avg_langs
FROM per_doc JOIN dom USING (doc_id)
GROUP BY 1, 2
"""


Q289_SQL = _q289_sql()


# --------------------------------------------------------------------------
# q290 — parquet FOOTER metadata scan + file-skipping decision (the
# lake-management primitive a 100 TB deployment runs constantly: row-
# group min/max statistics drive pruning, compaction planning and
# layout audits WITHOUT touching a data page — the reference's lake
# inventory walks Arrow/GDAL metadata natively, odin_gdal/src/lib.rs;
# here it's a hand-rolled Thrift compact-protocol footer parser,
# sources/parquetmeta.py, over a distributed binaryFile scan). The
# oracle is DuckDB's OWN independent footer reader —
# parquet_metadata() — on the same committed six-row-group fixture:
# statistics, offsets, sizes and codec compare byte-derived-field for
# byte-derived-field, and the id∈[1200,2000] row-group skip decision
# is replayed on DuckDB's stats. Only the footer slice is parsed; at
# scale the walker input is a ranged GET of the object tail.
# --------------------------------------------------------------------------

def _parquet_stats_fixture() -> str:
    import os as _os

    import odin_rs_spark

    return _os.path.join(
        _os.path.dirname(_os.path.abspath(odin_rs_spark.__file__)),
        "sources",
        "fixtures",
        "stats_rowgroups.parquet",
    )


def q290_parquet_footer_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.sources.parquetmeta import parquet_rowgroup_stats

    files = spark.read.format("binaryFile").load(_parquet_stats_fixture())
    stats = parquet_rowgroup_stats(files)
    return stats.select(
        "rg",
        "rg_rows",
        "rg_bytes",
        "col_name",
        "ptype",
        "codec",
        "num_values",
        "null_count",
        "data_page_offset",
        "dictionary_page_offset",
        "total_compressed_size",
        "total_uncompressed_size",
        "min_num",
        "max_num",
        "min_str",
        "max_str",
        F.when(
            F.col("col_name") == "id",
            ~((F.col("max_num") < 1200) | (F.col("min_num") > 2000)),
        ).alias("scan_for_pred"),
    )


def _q290_sql() -> str:
    return f"""
SELECT row_group_id::BIGINT AS rg,
       row_group_num_rows::BIGINT AS rg_rows,
       row_group_bytes::BIGINT AS rg_bytes,
       path_in_schema AS col_name,
       type AS ptype,
       compression AS codec,
       num_values::BIGINT AS num_values,
       stats_null_count::BIGINT AS null_count,
       data_page_offset::BIGINT AS data_page_offset,
       dictionary_page_offset::BIGINT AS dictionary_page_offset,
       total_compressed_size::BIGINT AS total_compressed_size,
       total_uncompressed_size::BIGINT AS total_uncompressed_size,
       CASE WHEN type IN ('INT64', 'DOUBLE')
            THEN TRY_CAST(stats_min_value AS DOUBLE) END AS min_num,
       CASE WHEN type IN ('INT64', 'DOUBLE')
            THEN TRY_CAST(stats_max_value AS DOUBLE) END AS max_num,
       CASE WHEN type = 'BYTE_ARRAY' THEN stats_min_value END AS min_str,
       CASE WHEN type = 'BYTE_ARRAY' THEN stats_max_value END AS max_str,
       CASE WHEN path_in_schema = 'id'
            THEN NOT (TRY_CAST(stats_max_value AS DOUBLE) < 1200
                      OR TRY_CAST(stats_min_value AS DOUBLE) > 2000)
       END AS scan_for_pred
FROM parquet_metadata('{_parquet_stats_fixture()}')
"""


Q290_SQL = _q290_sql()


# --------------------------------------------------------------------------
# q291 — Avro Object Container scan (the Kafka-archive format: event
# history lands in object storage as .avro containers, the highest-
# volume raw feed most corpus pipelines bootstrap from; the reference
# ingests wire-format event feeds natively, SURVEY §2.1). Hand-rolled
# OCF reader (sources/avrocodec.py — zigzag varints, map<bytes>
# metadata, sync-marker verification, blocked arrays) over the
# binaryFile walker shape; six committed fixture files cover the full
# Avro 1.11 codec matrix (null / deflate / zstandard / snappy /
# bzip2 / xz — the zstd and snappy paths exercise the in-repo
# decoders inside a second container format, snappy with the spec's
# CRC32 of the uncompressed block verified; bzip2/xz via stdlib
# bz2/lzma, flipped from named rejections r11). 400 formula records
# per file; the oracle replays the formulas including the nullable-
# union NULL slots, the boolean field and the array-membership probe
# (has a 't3' tag), so every decoded field type is load-bearing.
# --------------------------------------------------------------------------

def q291_avro_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    import odin_rs_spark
    from odin_rs_spark.sources.avrocodec import avro_records

    fixdir = _os.path.join(
        _os.path.dirname(_os.path.abspath(odin_rs_spark.__file__)),
        "sources",
        "fixtures",
    )
    files = spark.read.format("binaryFile").load(
        [_os.path.join(fixdir, f"events_{c}.avro")
         for c in ("null", "deflate", "zstandard", "snappy", "bzip2", "xz")]
    )
    recs = avro_records(
        files,
        {
            "id": "bigint",
            "ts": "bigint",
            "kind": "string",
            "value": "double",
            "flag": "boolean",
            "tags": "array<string>",
        },
    )
    return recs.groupBy("kind", "codec").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").isNull().cast("int")).cast("bigint").alias(
            "n_null_value"
        ),
        F.round(F.sum("value"), 6).alias("sum_value"),
        F.sum(F.col("flag").cast("int")).cast("bigint").alias("n_flag"),
        F.sum(F.size("tags")).cast("bigint").alias("sum_tags"),
        F.sum(F.array_contains("tags", "t3").cast("int")).cast("bigint").alias(
            "n_t3"
        ),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
    )


Q291_SQL = """
WITH ids AS (
  SELECT f.range AS f, f.range * 400 + i.range AS id
  FROM range(6) f, range(400) i),
t3 AS (
  SELECT ids.id, max(CASE WHEN j.range < ids.id % 4
                           AND (ids.id + j.range) % 7 = 3
                     THEN 1 ELSE 0 END) AS has_t3
  FROM ids, range(4) j GROUP BY ids.id),
rec AS (
  SELECT ids.id,
         CASE ids.f WHEN 0 THEN 'null' WHEN 1 THEN 'deflate'
                    WHEN 2 THEN 'zstandard' WHEN 3 THEN 'snappy'
                    WHEN 4 THEN 'bzip2' ELSE 'xz' END AS codec,
         1700000000 + ids.id * 60 AS ts,
         CASE ids.id % 3 WHEN 0 THEN 'click' WHEN 1 THEN 'view'
                         ELSE 'purchase' END AS kind,
         CASE WHEN ids.id % 11 = 0 THEN NULL
              ELSE (ids.id % 97) * 0.25 END AS value,
         (ids.id % 2 = 0) AS flag,
         ids.id % 4 AS n_tags,
         t3.has_t3
  FROM ids JOIN t3 USING (id))
SELECT kind, codec, count(*)::BIGINT AS n,
       sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null_value,
       round(sum(value::DOUBLE), 6) AS sum_value,
       sum(CASE WHEN flag THEN 1 ELSE 0 END)::BIGINT AS n_flag,
       sum(n_tags)::BIGINT AS sum_tags,
       sum(has_t3)::BIGINT AS n_t3,
       min(ts)::BIGINT AS min_ts,
       max(ts)::BIGINT AS max_ts
FROM rec GROUP BY kind, codec
"""


# --------------------------------------------------------------------------
# q292 — tensor shard scan (.npy / .npz / .safetensors — the containers
# embedding shards and model weights actually ship in): hand-rolled
# NEP-1 and safetensors parsers (sources/tensorfile.py; numpy's own
# loader is the independent test referee, and a pickled/.npy-object
# payload is a NAMED rejection — np.load'ing untrusted shards blind is
# a code-execution hazard at lake scale). Stats reduce inside the scan
# task (float64 accumulation), so the exchange carries files×tensors
# tiny rows. Fixture values are dyadic rationals k/8, stored EXACTLY by
# every dtype including float16, so the oracle replays each tensor's
# sum/min/max formula with zero tolerance across five dtypes.
# --------------------------------------------------------------------------

def q292_tensor_shard_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    import odin_rs_spark
    from odin_rs_spark.sources.tensorfile import tensor_stats

    fixdir = _os.path.join(
        _os.path.dirname(_os.path.abspath(odin_rs_spark.__file__)),
        "sources",
        "fixtures",
    )
    files = spark.read.format("binaryFile").load(
        [_os.path.join(fixdir, n)
         for n in ("emb_f32.npy", "emb_pack.npz", "weights.safetensors")]
    )
    return tensor_stats(files).select(
        "file",
        "container",
        "tensor",
        "dtype",
        "n_rows",
        "n_cols",
        "n",
        F.round("sum_v", 6).alias("sum_v"),
        "min_v",
        "max_v",
    )


Q292_SQL = """
WITH emb AS (
  SELECT ((i.range * 31 + j.range * 17) % 101 - 50) / 8.0 AS v
  FROM range(64) i, range(16) j),
train AS (
  SELECT ((i.range * 13 + j.range * 29) % 89 - 44) / 4.0 AS v
  FROM range(48) i, range(8) j),
norms AS (SELECT (i.range % 23) / 2.0 AS v FROM range(48) i),
w1 AS (
  SELECT ((i.range * 7 + j.range * 3) % 64 - 32) / 8.0 AS v
  FROM range(24) i, range(12) j),
b1 AS (SELECT (i.range * 5 % 31 - 15) / 4.0 AS v FROM range(12) i),
emb16 AS (
  SELECT ((i.range * 11 + j.range * 5) % 40 - 20) / 8.0 AS v
  FROM range(20) i, range(4) j),
counts AS (SELECT (i.range * 1000 + 7)::DOUBLE AS v FROM range(10) i)
SELECT 'emb_f32.npy' AS file, 'npy' AS container, 'arr' AS tensor,
       'float32' AS dtype, 64::BIGINT AS n_rows, 16::BIGINT AS n_cols,
       1024::BIGINT AS n, round(sum(v), 6) AS sum_v,
       min(v) AS min_v, max(v) AS max_v FROM emb
UNION ALL
SELECT 'emb_pack.npz', 'npz', 'train', 'float64', 48, 8, 384,
       round(sum(v), 6), min(v), max(v) FROM train
UNION ALL
SELECT 'emb_pack.npz', 'npz', 'norms', 'float32', 48, 1, 48,
       round(sum(v), 6), min(v), max(v) FROM norms
UNION ALL
SELECT 'weights.safetensors', 'safetensors', 'w1', 'float32', 24, 12, 288,
       round(sum(v), 6), min(v), max(v) FROM w1
UNION ALL
SELECT 'weights.safetensors', 'safetensors', 'b1', 'float64', 12, 1, 12,
       round(sum(v), 6), min(v), max(v) FROM b1
UNION ALL
SELECT 'weights.safetensors', 'safetensors', 'emb16', 'float16', 20, 4, 80,
       round(sum(v), 6), min(v), max(v) FROM emb16
UNION ALL
SELECT 'weights.safetensors', 'safetensors', 'counts', 'int64', 10, 1, 10,
       round(sum(v), 6), min(v), max(v) FROM counts
"""


# --------------------------------------------------------------------------
# q293 — KMV / theta-sketch set intersection (Bar-Yossef 2002; theta
# sketches 2016): the INTERSECTION-capable sketch — HLL unions (q252)
# but intersects only via inclusion-exclusion with compounding error;
# KMV cuts both k-minimum-hash sets at the shared theta and scales the
# surviving-common count by 1/theta. Audience overlap across all 10
# event-type pairs, k=64 against 150 distinct users/type at sf0.01, so
# the ESTIMATION path is live (not the exact small-set fallback), and
# the exact distinct intersection sits alongside with the relative
# error. Hashes are portable_hash60, so the oracle replays every
# sketch register, theta cut and estimate bit-for-bit. Scale: the wide
# exchange is distinct(type, h); sketch rows per group are <= k.
# --------------------------------------------------------------------------

def q293_kmv_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.operators import sketches

    ev = _t(spark, sf_dir, "events")
    sk = sketches.kmv_sketch(ev, "user_id", ["event_type"], k=64)
    est = sketches.kmv_intersect(sk, ["event_type"], "event_type", k=64)
    ua = ev.select("event_type", "user_id").distinct()
    exact = (
        ua.alias("a")
        .join(ua.alias("b"), "user_id")
        .where(F.col("a.event_type") < F.col("b.event_type"))
        .groupBy(
            F.col("a.event_type").alias("ta"),
            F.col("b.event_type").alias("tb"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_inter"))
    )
    out = est.join(exact, ["ta", "tb"], "left").na.fill({"exact_inter": 0})
    rel = F.when(
        F.col("exact_inter") > 0,
        F.round(
            F.abs(F.col("est_inter") - F.col("exact_inter"))
            / F.col("exact_inter"),
            4,
        ),
    )
    return out.select(
        "ta", "tb", "nsk_a", "nsk_b", "theta", "n_common", "est_inter",
        "exact_inter", rel.alias("rel_err"),
    )


Q293_SQL = f"""
WITH hh AS (
  SELECT DISTINCT event_type,
         {_H60.format(x="CAST(user_id AS VARCHAR)")} AS h
  FROM events),
r AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rank
  FROM hh),
sk AS (SELECT event_type, h FROM r WHERE rank <= 64),
side AS (
  SELECT event_type AS g, count(*) AS n_sk,
         CASE WHEN count(*) < 64 THEN 1152921504606846976
              ELSE max(h) END AS theta
  FROM sk GROUP BY 1),
pairs AS (
  SELECT a.g AS ta, b.g AS tb, a.n_sk AS nsk_a, b.n_sk AS nsk_b,
         least(a.theta, b.theta) AS theta
  FROM side a JOIN side b ON a.g < b.g),
common AS (
  SELECT p.ta, p.tb, count(*) AS n_common
  FROM pairs p
  JOIN sk sa ON sa.event_type = p.ta AND sa.h < p.theta
  JOIN sk sb ON sb.event_type = p.tb AND sb.h = sa.h
  GROUP BY 1, 2),
ua AS (SELECT DISTINCT event_type, user_id FROM events),
exact AS (
  SELECT a.event_type AS ta, b.event_type AS tb,
         count(*) AS exact_inter
  FROM ua a JOIN ua b ON a.user_id = b.user_id
  WHERE a.event_type < b.event_type GROUP BY 1, 2)
SELECT p.ta, p.tb, p.nsk_a::BIGINT AS nsk_a, p.nsk_b::BIGINT AS nsk_b,
       p.theta::BIGINT AS theta,
       coalesce(c.n_common, 0)::BIGINT AS n_common,
       round(coalesce(c.n_common, 0) * 1152921504606846976.0 / p.theta, 6)
         AS est_inter,
       coalesce(e.exact_inter, 0)::BIGINT AS exact_inter,
       CASE WHEN coalesce(e.exact_inter, 0) > 0 THEN
         round(abs(round(coalesce(c.n_common, 0) * 1152921504606846976.0
                         / p.theta, 6) - e.exact_inter)
               / e.exact_inter, 4)
       END AS rel_err
FROM pairs p
LEFT JOIN common c ON c.ta = p.ta AND c.tb = p.tb
LEFT JOIN exact e ON e.ta = p.ta AND e.tb = p.tb
"""


# --------------------------------------------------------------------------
# q294 — triangle counting + local clustering coefficients by DEGREE-
# ORDERED edge orientation (Suri & Vassilvitskii WWW 2011): the
# at-scale triangle algorithm — orient each edge toward the higher
# (degree, id) endpoint so out-degrees are O(sqrt(m)) and the wedge
# self-join does m^(3/2) work instead of sum(deg^2); a degree-10^6 hub
# contributes no wedges as a center. Runs on the same bounded cohort
# edges as q127/q258. The oracle is an INDEPENDENT method — the naive
# three-way closure join a<b<c on the canonical edge list — so the
# orientation trick is verified against first principles, not
# replayed. Clustering = 2T / (deg * (deg-1)).
# --------------------------------------------------------------------------

def q294_triangle_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.operators.graph import triangle_count

    edges = _cohort_edges(spark, sf_dir)
    # full session parallelism on purpose: the cohort graph is
    # triangle-DENSE (consecutive-rank chains form near-cliques —
    # 188k edges -> 7.0M triangles / 21M corner rows at sf0.1), so the
    # ~10 s here is genuine corner-row aggregation, measured: scoping
    # to 8 partitions (the small-graph q127/q258 trick) makes it
    # SLOWER (13.2 s) by strangling the wedge join's parallelism
    out = triangle_count(edges)
    cc = F.when(
        F.col("degree") >= 2,
        F.round(
            2.0 * F.col("triangles")
            / (F.col("degree") * (F.col("degree") - 1)),
            6,
        ),
    )
    return out.select(
        F.col("node").alias("user_id"), "degree", "triangles",
        cc.alias("clustering"),
    )


Q294_SQL = """
WITH ev AS (
  SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS hb FROM events),
rk AS (
  SELECT user_id, event_type, hb,
         row_number() OVER (PARTITION BY event_type, hb ORDER BY user_id) AS rk
  FROM ev),
e AS MATERIALIZED (
  SELECT DISTINCT a.user_id AS src, b.user_id AS dst
  FROM rk a JOIN rk b ON a.event_type = b.event_type AND a.hb = b.hb
  AND b.rk BETWEEN a.rk + 1 AND a.rk + 3),
tri AS MATERIALIZED (
  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
  FROM e e1
  JOIN e e2 ON e2.src = e1.dst
  JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst),
corners AS (
  SELECT a AS node FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri),
tcnt AS (SELECT node, count(*) AS triangles FROM corners GROUP BY node),
deg AS (
  SELECT node, count(*) AS degree FROM (
    SELECT src AS node FROM e UNION ALL SELECT dst FROM e)
  GROUP BY node)
SELECT deg.node AS user_id, deg.degree::BIGINT AS degree,
       coalesce(tcnt.triangles, 0)::BIGINT AS triangles,
       CASE WHEN deg.degree >= 2 THEN
         round(2.0 * coalesce(tcnt.triangles, 0)
               / (deg.degree * (deg.degree - 1)), 6)
       END AS clustering
FROM deg LEFT JOIN tcnt ON tcnt.node = deg.node
"""


# --------------------------------------------------------------------------
# q295 — TRAINED quality classifier routing (the DCLM / fineweb-edu
# pattern: Gopher/C4 rule filters are recall tools, the keep decision
# at corpus scale is a trained model): a committed logistic-regression
# fixture (tools/train_quality.py, the langid/q130 offline-training
# discipline) scores six text-shape ratio features as PURE COLUMN MATH
# — each feature one division of two counts, the dot product in a
# fixed left-to-right order — so the logit is the bit-identical IEEE
# double in Spark and DuckDB and the oracle replays score and routing
# decision for every document with zero tolerance. The logit (not the
# sigmoid) routes: monotone in probability, no libm exp() divergence.
# --------------------------------------------------------------------------

def q295_quality_model_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.functions.quality import quality_route

    docs = _t(spark, sf_dir, "documents")
    return quality_route(docs, "text").select(
        "doc_id", "lang", "logit", "bucket"
    )


def _q295_sql() -> str:
    from odin_rs_spark.functions.quality import (
        FEATURES,
        STOPWORDS,
        load_quality_model,
    )

    m = load_quality_model()
    stops = ", ".join(f"'{w}'" for w in STOPWORDS)
    fexpr = {
        "mean_word_len": "nonspace / n_words",
        "stopword_ratio": "n_stop / n_words",
        "punct_ratio": "n_punct / n_chars",
        "digit_ratio": "n_digit / n_chars",
        "caps_ratio": "n_caps / n_chars",
        "distinct_ratio": "n_distinct / n_words",
    }
    z = f"({m['__bias__']:.6f})::DOUBLE"
    for name in FEATURES:
        z += f" + ({m[name]:.6f})::DOUBLE * ({fexpr[name]})"
    return f"""
WITH c AS (
  SELECT doc_id, lang,
         string_split_regex(trim(text), '\\s+') AS words,
         length(text) AS n_chars,
         length(regexp_replace(text, '\\s', '', 'g')) AS nonspace,
         length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))
           AS n_punct,
         length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
           AS n_digit,
         length(text) - length(regexp_replace(text, '[A-Z]', '', 'g'))
           AS n_caps
  FROM documents),
f AS (
  SELECT doc_id, lang, n_chars, nonspace, n_punct, n_digit, n_caps,
         len(words) AS n_words,
         len(list_filter(words,
             w -> list_contains([{stops}], lower(w)))) AS n_stop,
         len(list_distinct(list_transform(words, w -> lower(w))))
           AS n_distinct
  FROM c),
z AS (SELECT doc_id, lang, round({z}, 6) AS logit FROM f)
SELECT doc_id, lang, logit,
       CASE WHEN logit >= 1.0 THEN 'keep'
            WHEN logit < -1.0 THEN 'drop'
            ELSE 'review' END AS bucket
FROM z
"""


Q295_SQL = _q295_sql()


# --------------------------------------------------------------------------
# q296 — snapshot transaction log: TIME TRAVEL + VACUUM planning (the
# Delta/Iceberg metadata layer q254's compaction and q290's footer
# stats sit under: a table IS an ordered log of add/remove file
# actions; the live set at snapshot s is each file's LATEST action at
# or before the boundary, and vacuum eligibility is a tombstone older
# than the retention horizon). One broadcast of the 4-row snapshot dim
# against the log, one max-struct per (snapshot, file) — the same
# exchange shape at a billion log entries. The oracle replays the
# arg_max state machine per boundary; the vacuum count flips from 0 to
# nonzero only once the horizon clears the first tombstones, so the
# retention algebra is load-bearing.
# --------------------------------------------------------------------------

def q296_snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    seqs = spark.range(360).select(F.col("id").alias("seq"))
    log = seqs.select(
        "seq",
        ((F.col("seq") * 7) % 200).alias("file_id"),
        F.when(
            (F.col("seq") >= 160) & (F.col("seq") % 5 == 0), F.lit("remove")
        ).otherwise(F.lit("add")).alias("op"),
    ).withColumn(
        "size_bytes", F.lit(1000) + (F.col("file_id") * 37) % 5000
    )
    bounds = spark.range(4).select(
        F.col("id").alias("snapshot_id"),
        (F.col("id") * 90 + 89).alias("boundary"),
    )
    j = log.join(F.broadcast(bounds), F.col("seq") <= F.col("boundary"))
    latest = j.groupBy("snapshot_id", "boundary", "file_id").agg(
        F.max(F.struct("seq", "op", "size_bytes")).alias("m")
    )
    state = latest.select(
        "snapshot_id",
        "boundary",
        F.col("m.seq").alias("seq"),
        F.col("m.op").alias("op"),
        F.col("m.size_bytes").alias("size_bytes"),
    )
    live = F.col("op") == "add"
    vac = (~live) & (F.col("seq") <= F.col("boundary") - 180)
    return state.groupBy("snapshot_id", "boundary").agg(
        F.sum(live.cast("int")).cast("bigint").alias("n_live"),
        F.sum(F.when(live, F.col("size_bytes")).otherwise(0))
        .cast("bigint")
        .alias("live_bytes"),
        F.sum((~live).cast("int")).cast("bigint").alias("n_tombstones"),
        F.sum(vac.cast("int")).cast("bigint").alias("n_vacuumable"),
    )


Q296_SQL = """
WITH log AS (
  SELECT s.range AS seq, (s.range * 7) % 200 AS file_id,
         CASE WHEN s.range >= 160 AND s.range % 5 = 0
              THEN 'remove' ELSE 'add' END AS op,
         1000 + ((s.range * 7) % 200) * 37 % 5000 AS size_bytes
  FROM range(360) s),
bounds AS (
  SELECT b.range AS snapshot_id, b.range * 90 + 89 AS boundary
  FROM range(4) b),
state AS (
  SELECT b.snapshot_id, b.boundary, l.file_id,
         arg_max(l.seq, l.seq) AS seq,
         arg_max(l.op, l.seq) AS op,
         arg_max(l.size_bytes, l.seq) AS size_bytes
  FROM bounds b JOIN log l ON l.seq <= b.boundary
  GROUP BY b.snapshot_id, b.boundary, l.file_id)
SELECT snapshot_id, boundary,
       sum(CASE WHEN op = 'add' THEN 1 ELSE 0 END)::BIGINT AS n_live,
       sum(CASE WHEN op = 'add' THEN size_bytes ELSE 0 END)::BIGINT
         AS live_bytes,
       sum(CASE WHEN op = 'remove' THEN 1 ELSE 0 END)::BIGINT
         AS n_tombstones,
       sum(CASE WHEN op = 'remove' AND seq <= boundary - 180
                THEN 1 ELSE 0 END)::BIGINT AS n_vacuumable
FROM state GROUP BY snapshot_id, boundary
"""


# --------------------------------------------------------------------------
# q297 — DTMF decoding by the GOERTZEL single-bin DFT (classic
# telephony DSP, and the audio-modality capability the existing stats/
# silence/resample kernels lack: FREQUENCY-domain feature extraction —
# power at 8 keypad frequencies in O(frames×8), the shape a scan-side
# kernel wants instead of a full FFT). Ten synthesized calls dial 8
# keys each (two-tone frames + an inter-digit silence frame, ITU
# 205-sample blocks at 8 kHz) through REAL WAV encode/decode; the
# kernel detects each frame's (row, column) pair by band-wise argmax
# and maps the 4×4 keypad including the A–D military column. The
# oracle re-synthesizes the tones and replays Goertzel in SQL trig;
# output is DECISION-LEVEL (frequencies + digit, never raw powers), so
# the compare is immune to last-ulp libm-vs-Java trig drift while the
# detected keys remain fully load-bearing.
# --------------------------------------------------------------------------

def _dtmf_media(spark: SparkSession, n: int):
    def one(mid: int) -> bytes:
        import numpy as np

        from odin_rs_spark.sources.audiocodec import encode_wav

        lows, highs = (697, 770, 852, 941), (1209, 1336, 1477, 1633)
        segs = []
        for k in range(8):
            d = (mid * 3 + k * 5) % 16
            flo, fhi = lows[d // 4], highs[d % 4]
            m = np.arange(410, dtype=np.float64)
            tone = np.floor(
                5000.0 * np.sin(2.0 * np.pi * flo * m / 8000.0)
                + 4000.0 * np.sin(2.0 * np.pi * fhi * m / 8000.0)
                + 0.5
            )
            segs.append(tone)
            segs.append(np.zeros(205))
        s = np.concatenate(segs).astype(np.int16)
        return encode_wav(s, rate=8000)

    return _executor_blobs(spark, n, content=one).select(
        F.col("id").alias("media_id"), "content"
    )


def q297_dtmf_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.operators.multimodal import dtmf_decode

    media = _dtmf_media(spark, 10)
    return dtmf_decode(media)


Q297_SQL = """
WITH calls AS (SELECT r.range AS media_id FROM range(10) r),
keys AS (
  SELECT media_id, k.range AS k, (media_id * 3 + k.range * 5) % 16 AS d
  FROM calls, range(8) k),
kf AS (
  SELECT media_id, k, d,
         [697, 770, 852, 941][d // 4 + 1] AS flo,
         [1209, 1336, 1477, 1633][d % 4 + 1] AS fhi
  FROM keys),
s AS MATERIALIZED (
  SELECT media_id, k * 3 + (mm.range // 205) AS frame_no,
         mm.range % 205 AS idx,
         floor(5000.0 * sin(2 * pi() * flo * mm.range / 8000.0)
               + 4000.0 * sin(2 * pi() * fhi * mm.range / 8000.0)
               + 0.5) AS sv
  FROM kf, range(410) mm),
fr AS (SELECT f.range AS freq_i,
              [697, 770, 852, 941, 1209, 1336, 1477, 1633][f.range + 1] AS freq
       FROM range(8) f),
g AS MATERIALIZED (
  SELECT s.media_id, s.frame_no, fr.freq, fr.freq_i,
         pow(sum(s.sv * cos(2 * pi() * fr.freq * s.idx / 8000.0)), 2)
           + pow(sum(s.sv * sin(2 * pi() * fr.freq * s.idx / 8000.0)), 2)
           AS p
  FROM s, fr GROUP BY 1, 2, 3, 4),
frames AS (
  SELECT media_id, fr2.range AS frame_no FROM calls, range(24) fr2),
mx AS (SELECT media_id, frame_no, max(p) AS pmax FROM g GROUP BY 1, 2),
lo AS (
  SELECT media_id, frame_no, freq AS f_low FROM (
    SELECT media_id, frame_no, freq,
           row_number() OVER (PARTITION BY media_id, frame_no
                              ORDER BY p DESC, freq ASC) AS rn
    FROM g WHERE freq_i < 4) WHERE rn = 1),
hi AS (
  SELECT media_id, frame_no, freq AS f_high FROM (
    SELECT media_id, frame_no, freq,
           row_number() OVER (PARTITION BY media_id, frame_no
                              ORDER BY p DESC, freq ASC) AS rn
    FROM g WHERE freq_i >= 4) WHERE rn = 1)
SELECT f.media_id, f.frame_no,
       (coalesce(m.pmax, 0) < 1000000000.0) AS silence,
       CASE WHEN m.pmax >= 1000000000.0 THEN lo.f_low END::INT AS f_low,
       CASE WHEN m.pmax >= 1000000000.0 THEN hi.f_high END::INT AS f_high,
       CASE WHEN m.pmax >= 1000000000.0 THEN
         substr('123A456B789C*0#D',
                (CASE lo.f_low WHEN 697 THEN 0 WHEN 770 THEN 1
                               WHEN 852 THEN 2 ELSE 3 END) * 4
                + (CASE hi.f_high WHEN 1209 THEN 0 WHEN 1336 THEN 1
                                  WHEN 1477 THEN 2 ELSE 3 END) + 1, 1)
       END AS digit
FROM frames f
LEFT JOIN mx m ON m.media_id = f.media_id AND m.frame_no = f.frame_no
LEFT JOIN lo ON lo.media_id = f.media_id AND lo.frame_no = f.frame_no
LEFT JOIN hi ON hi.media_id = f.media_id AND hi.frame_no = f.frame_no
"""


# --------------------------------------------------------------------------
# q298 — parquet DATA-PAGE decode + statistics honesty audit (the
# trust-but-verify layer under q290's footer scan: before file
# skipping is allowed to elide a petabyte, prove the stats describe
# the pages — decode every page and verify min/max/null_count against
# actual values). Pure-Python page walk: page-header thrift, RLE/bit-
# packed hybrid definition levels, PLAIN and RLE_DICTIONARY encodings,
# and THREE page codecs across the two fixtures — snappy (the new
# sources/snappycodec, exercised against parquet-cpp's real
# compressor), gzip, and zstd through the in-repo RFC 8878 decoder.
# The oracle never sees this parser: DuckDB reads the same files' DATA
# for per-row-group aggregates and parquet_metadata() for the stats,
# and recomputes every ok-flag independently.
# --------------------------------------------------------------------------

def _pages_plain_fixture() -> str:
    import os as _os

    import odin_rs_spark

    return _os.path.join(
        _os.path.dirname(_os.path.abspath(odin_rs_spark.__file__)),
        "sources",
        "fixtures",
        "pages_plain.parquet",
    )


def q298_parquet_page_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.sources.parquetmeta import parquet_page_audit

    files = spark.read.format("binaryFile").load(
        [_parquet_stats_fixture(), _pages_plain_fixture()]
    )
    out = parquet_page_audit(files, ["id", "val", "name"])
    return out.select(
        "file", "rg", "col_name", "n_values", "n_nulls", "stats_nulls_ok",
        "stats_min_ok", "stats_max_ok",
        F.round("sum_num", 6).alias("sum_num"),
    )


def _q298_sql() -> str:
    f1, f2 = _parquet_stats_fixture(), _pages_plain_fixture()

    def per_file(path: str, fname: str, rows: int) -> str:
        return f"""
SELECT '{fname}' AS file, id // {rows} AS rg, c.col_name,
       count(*) AS n_values,
       sum(CASE WHEN c.col_name = 'name' AND name IS NULL
                THEN 1 ELSE 0 END) AS n_nulls,
       CASE c.col_name WHEN 'id' THEN sum(id)::DOUBLE
                       WHEN 'val' THEN sum(val)::DOUBLE END AS data_sum,
       CASE c.col_name
         WHEN 'id' THEN min(id)::VARCHAR
         WHEN 'val' THEN min(val)::VARCHAR
         ELSE min(name) END AS data_min,
       CASE c.col_name
         WHEN 'id' THEN max(id)::VARCHAR
         WHEN 'val' THEN max(val)::VARCHAR
         ELSE max(name) END AS data_max
FROM read_parquet('{path}'),
     (VALUES ('id'), ('val'), ('name')) c(col_name)
GROUP BY 1, 2, 3"""

    return f"""
WITH data AS ({per_file(f1, 'stats_rowgroups.parquet', 800)}
UNION ALL {per_file(f2, 'pages_plain.parquet', 700)}),
meta AS (
  SELECT regexp_extract(file_name, '[^/]+$') AS file,
         row_group_id AS rg, path_in_schema AS col_name, type,
         stats_null_count, stats_min_value, stats_max_value
  FROM parquet_metadata('{f1}')
  UNION ALL
  SELECT regexp_extract(file_name, '[^/]+$'), row_group_id,
         path_in_schema, type, stats_null_count, stats_min_value,
         stats_max_value
  FROM parquet_metadata('{f2}'))
SELECT d.file, d.rg::BIGINT AS rg, d.col_name,
       d.n_values::BIGINT AS n_values, d.n_nulls::BIGINT AS n_nulls,
       (m.stats_null_count = d.n_nulls) AS stats_nulls_ok,
       (CASE WHEN m.type = 'BYTE_ARRAY' THEN m.stats_min_value = d.data_min
             ELSE TRY_CAST(m.stats_min_value AS DOUBLE)
                  = TRY_CAST(d.data_min AS DOUBLE) END) AS stats_min_ok,
       (CASE WHEN m.type = 'BYTE_ARRAY' THEN m.stats_max_value = d.data_max
             ELSE TRY_CAST(m.stats_max_value AS DOUBLE)
                  = TRY_CAST(d.data_max AS DOUBLE) END) AS stats_max_ok,
       round(d.data_sum, 6) AS sum_num
FROM data d JOIN meta m
  ON m.file = d.file AND m.rg = d.rg AND m.col_name = d.col_name
"""


Q298_SQL = _q298_sql()


# --------------------------------------------------------------------------
# q299 — l-diversity audit (Machanavajjhala et al. 2006 — the attack
# k-anonymity q278 does NOT stop: a QI group can be large yet
# HOMOGENEOUS in the sensitive attribute, so membership alone
# discloses it). Sensitive attribute = order priority, quasi-
# identifiers = q278's (segment, nation, balance band) carried onto
# the fact rows by a broadcast dim join; per-group l = distinct
# sensitive values; groups with l < 2 are attribute-disclosure risks
# and their row mass is the reported exposure. Completes the privacy
# trio with q278 (k-anonymity) and q281 (GDPR erasure cascade).
# --------------------------------------------------------------------------

def q299_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 250).cast("int").alias("bal_band"),
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority"
    )
    qi = orders.join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    )
    g = qi.groupBy("c_mktsegment", "c_nationkey", "bal_band").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("o_orderpriority").alias("l"),
    )
    risky = F.col("l") < 2
    return g.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum("n_rows").cast("bigint").alias("n_rows"),
        F.min("l").cast("bigint").alias("min_l"),
        F.sum(risky.cast("int")).cast("bigint").alias("n_homogeneous"),
        F.sum(F.when(risky, F.col("n_rows")).otherwise(0))
        .cast("bigint")
        .alias("rows_exposed"),
        F.round(
            F.sum(F.when(risky, F.col("n_rows")).otherwise(0))
            / F.sum("n_rows"),
            6,
        ).alias("exposed_share"),
    )


Q299_SQL = """
WITH qi AS (
  SELECT c.c_mktsegment, c.c_nationkey,
         CAST(floor(c.c_acctbal / 250) AS INT) AS bal_band,
         o.o_orderpriority
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
g AS (
  SELECT c_mktsegment, c_nationkey, bal_band,
         count(*) AS n_rows,
         count(DISTINCT o_orderpriority) AS l
  FROM qi GROUP BY 1, 2, 3)
SELECT c_mktsegment, count(*)::BIGINT AS n_groups,
       sum(n_rows)::BIGINT AS n_rows, min(l)::BIGINT AS min_l,
       sum(CASE WHEN l < 2 THEN 1 ELSE 0 END)::BIGINT AS n_homogeneous,
       sum(CASE WHEN l < 2 THEN n_rows ELSE 0 END)::BIGINT AS rows_exposed,
       round(sum(CASE WHEN l < 2 THEN n_rows ELSE 0 END)
             / sum(n_rows)::DOUBLE, 6) AS exposed_share
FROM g GROUP BY c_mktsegment
"""


# --------------------------------------------------------------------------
# q300 — geohash cells + neighbor-density rollup (Niemeyer 2008: the
# industry-standard base32 spatial STRING key — what external geo
# systems, Elasticsearch and most tile services block on, unlike the
# engine-internal Morton/Hilbert keys of operators/layout): quantize →
# MSB-first lon-leading interleave → base32, all pure column bit math
# (functions/geo.geohash_cells, pinned against the canonical
# u4pruydqqvj test vector), then a 3×3 neighbor-cell density join on
# the INTEGER cell indices — the blocking shape of a radius search.
# The oracle unrolls all 25 interleave bits and the base32 lookup in
# SQL and replays the 9-offset neighbor join.
# --------------------------------------------------------------------------

def q300_geohash_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.functions.geo import geohash_cells

    ev = _t(spark, sf_dir, "events")
    pts = ev.select(
        (F.lit(20.0) + (F.col("event_id") % 900) * 0.05).alias("lat"),
        (F.lit(-130.0) + (F.col("event_id") % 1200) * 0.05).alias("lon"),
    )
    gh, xc, yc = geohash_cells(F.col("lat"), F.col("lon"), precision=5)
    cells = (
        pts.select(gh.alias("geohash"), xc.alias("xc"), yc.alias("yc"))
        .groupBy("geohash", "xc", "yc")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    offs = spark.range(9).select(
        (F.col("id") % 3 - 1).alias("dx"), (F.col("id") / 3).cast("int").alias("dy")
    ).select("dx", (F.col("dy") - 1).alias("dy"))
    probe = cells.crossJoin(F.broadcast(offs)).select(
        "geohash",
        "xc",
        "yc",
        "n",
        (F.col("xc") + F.col("dx")).alias("nx"),
        (F.col("yc") + F.col("dy")).alias("ny"),
    )
    nbr = cells.select(
        F.col("xc").alias("nx"), F.col("yc").alias("ny"), F.col("n").alias("nn")
    )
    return (
        probe.join(nbr, ["nx", "ny"])
        .groupBy("geohash", "xc", "yc", "n")
        .agg(F.sum("nn").cast("bigint").alias("nbr_n"))
    )


def _q300_sql() -> str:
    # unroll the 25-bit lon-leading interleave exactly as the column
    # expression does (13 lon bits, 12 lat bits, MSB first)
    terms = []
    for k in range(25):
        if k % 2 == 0:
            src = f"((xq >> {13 - 1 - k // 2}) & 1)"
        else:
            src = f"((yq >> {12 - 1 - (k - 1) // 2}) & 1)"
        terms.append(f"({src} << {25 - 1 - k})")
    z = " | ".join(terms)
    b32 = "0123456789bcdefghjkmnpqrstuvwxyz"
    chars = " || ".join(
        f"substr('{b32}', (CAST((z >> {5 * (5 - 1 - g)}) AS BIGINT) & 31)"
        f"::INT + 1, 1)"
        for g in range(5)
    )
    return f"""
WITH p AS (
  SELECT 20.0 + (event_id % 900) * 0.05 AS lat,
         -130.0 + (event_id % 1200) * 0.05 AS lon
  FROM events),
q AS (
  SELECT least(CAST(floor((lon + 180.0) / 360.0 * 8192.0) AS BIGINT),
               8191) AS xq,
         least(CAST(floor((lat + 90.0) / 180.0 * 4096.0) AS BIGINT),
               4095) AS yq
  FROM p),
zc AS (SELECT xq, yq, ({z}) AS z FROM q),
cells AS (
  SELECT {chars} AS geohash, xq AS xc, yq AS yc, count(*) AS n
  FROM zc GROUP BY 1, 2, 3),
offs AS (
  SELECT o.range % 3 - 1 AS dx, o.range // 3 - 1 AS dy FROM range(9) o)
SELECT c.geohash, c.xc::BIGINT AS xc, c.yc::BIGINT AS yc, c.n::BIGINT AS n,
       sum(nb.n)::BIGINT AS nbr_n
FROM cells c
JOIN offs ON TRUE
JOIN cells nb ON nb.xc = c.xc + offs.dx AND nb.yc = c.yc + offs.dy
GROUP BY 1, 2, 3, 4
"""


Q300_SQL = _q300_sql()


# --------------------------------------------------------------------------
# q301 — STREAMING Avro ingest flagship (the Kafka-archive replay job:
# containers land in object storage and a file stream drains them into
# a live snapshot — T1 × the new S-avro source, the q273 chaining
# discipline applied to the event-feed format). Four one-codec
# containers (null/deflate/zstandard/snappy) stream one file per
# micro-batch through the avro_records walker; per-batch additive
# aggregates merge into the snapshot+delta sink, and n_batches = 4 per
# kind PINS that the result really accumulated across four
# micro-batches rather than one big read. Oracle = the q291 formula
# replay (stream-merged == batch is the assertion, the q115/q246
# discipline).
# --------------------------------------------------------------------------

@_scratch_query
def q301_avro_stream_ingest(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    import os as _os

    from odin_rs_spark.deploy import ensure_shipped
    from odin_rs_spark.sources.avrocodec import avro_records, encode_avro
    from odin_rs_spark.streaming.pipelines import (
        run_available_now,
        snapshot_delta_sink,
    )

    ensure_shipped(spark)
    adir = root + "/inbox"
    _os.makedirs(adir)
    # identical formula records to the committed q291 fixtures
    import json as _json

    schema = _json.dumps(
        {
            "type": "record",
            "name": "Event",
            "fields": [
                {"name": "id", "type": "long"},
                {"name": "ts", "type": "long"},
                {"name": "kind", "type": "string"},
                {"name": "value", "type": ["null", "double"]},
                {"name": "flag", "type": "boolean"},
                {"name": "tags",
                 "type": {"type": "array", "items": "string"}},
            ],
        }
    )
    for f, codec in enumerate(["null", "deflate", "zstandard", "snappy"]):
        recs = []
        for i in range(400):
            gid = f * 400 + i
            recs.append(
                {
                    "id": gid,
                    "ts": 1700000000 + gid * 60,
                    "kind": ["click", "view", "purchase"][gid % 3],
                    "value": None if gid % 11 == 0 else (gid % 97) * 0.25,
                    "flag": gid % 2 == 0,
                    "tags": [f"t{(gid + j) % 7}" for j in range(gid % 4)],
                }
            )
        with open(f"{adir}/events_{codec}.avro", "wb") as fh:
            fh.write(encode_avro(schema, recs, codec=codec))
    stream = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp,"
            " length bigint, content binary"
        )
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.avro")
        .load(adir)
    )

    def transform(batch_df: DataFrame) -> DataFrame:
        recs = avro_records(
            batch_df,
            {
                "id": "bigint",
                "kind": "string",
                "value": "double",
                "tags": "array<string>",
            },
        )
        return recs.groupBy("kind").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").isNull().cast("int")).alias("n_null"),
            F.sum("value").alias("sum_value"),
            F.sum(F.size("tags")).alias("sum_tags"),
        )

    def merge_totals(old: DataFrame | None, batch: DataFrame) -> DataFrame:
        both = batch if old is None else old.unionByName(batch)
        return both.groupBy("kind").agg(
            F.sum("n").alias("n"),
            F.sum("n_null").alias("n_null"),
            F.sum("sum_value").alias("sum_value"),
            F.sum("sum_tags").alias("sum_tags"),
        )

    base_sink = snapshot_delta_sink(
        root + "/snap", root + "/delta", merge_fn=merge_totals
    )

    def sink_fn(batch_df: DataFrame, batch_id: int) -> None:
        base_sink(transform(batch_df), batch_id)

    with _stream_state_parallelism(spark, 8):
        run_available_now(stream, sink_fn, root + "/ckpt",
                          output_mode="append")

    snap = spark.read.parquet(root + "/snap")
    delta = spark.read.parquet(root + "/delta")
    batches = delta.groupBy("kind").agg(
        F.countDistinct("__batch_id").cast("bigint").alias("n_batches")
    )
    return snap.join(batches, "kind").select(
        "kind",
        F.col("n").cast("bigint").alias("n"),
        F.col("n_null").cast("bigint").alias("n_null"),
        F.round("sum_value", 6).alias("sum_value"),
        F.col("sum_tags").cast("bigint").alias("sum_tags"),
        "n_batches",
    )


Q301_SQL = """
WITH ids AS (
  SELECT f.range AS f, f.range * 400 + i.range AS id
  FROM range(4) f, range(400) i),
rec AS (
  SELECT id,
         CASE id % 3 WHEN 0 THEN 'click' WHEN 1 THEN 'view'
                     ELSE 'purchase' END AS kind,
         CASE WHEN id % 11 = 0 THEN NULL
              ELSE (id % 97) * 0.25 END AS value,
         id % 4 AS n_tags
  FROM ids)
SELECT kind, count(*)::BIGINT AS n,
       sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null,
       round(sum(value::DOUBLE), 6) AS sum_value,
       sum(n_tags)::BIGINT AS sum_tags,
       4::BIGINT AS n_batches
FROM rec GROUP BY kind
"""


# --------------------------------------------------------------------------
# q302 — Benford first-digit conformance (Newcomb 1881 / Benford 1938;
# the forensic data-quality screen auditors run on financial facts:
# naturally-occurring multiplicative amounts follow P(d) = log10(1 +
# 1/d), and fabricated or truncated feeds do not). First digit is
# STRING math (no log in the extraction path); the nine expected
# shares are hardcoded literals on BOTH sides so no libm enters the
# compare; the chi-square statistic is the standard goodness-of-fit
# over the observed counts. Both TPC-H columns FAIL the screen — the
# CORRECT forensic verdict: quantity is a uniform 1..50 draw and
# extendedprice a bounded formula product, neither a naturally
# multiplicative amount — the audit fingerprints synthetic data as
# synthetic. That the statistic also ACCEPTS when it should is pinned
# in tests (log-uniform series → chi2 < 30 at n=1000 vs ~20000 here).
# --------------------------------------------------------------------------

_BENFORD = {
    1: 0.301029995663981195, 2: 0.176091259055681242,
    3: 0.124938736608299953, 4: 0.096910013008056414,
    5: 0.079181246047624776, 6: 0.066946789630613199,
    7: 0.057991946977686754, 8: 0.051152522447381288,
    9: 0.045757490560675115,
}


def q302_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    cols = {
        "l_extendedprice": F.col("l_extendedprice"),
        "l_quantity": F.col("l_quantity"),
    }
    exp_arr = F.array(*[F.lit(_BENFORD[d]) for d in range(1, 10)])
    entries = []
    for name, c in cols.items():
        s = F.substring(
            F.regexp_replace(F.abs(c).cast("string"), r"[^1-9].*$|^0+", ""),
            1,
            1,
        )
        # ANSI mode: guard the cast — an all-stripped string is NULL,
        # not a cast error (values < 1 have no significant first digit)
        d1 = F.when(s != "", s).cast("int")
        entries.append(
            F.struct(F.lit(name).alias("col_name"), d1.alias("digit"))
        )
    # ONE lineitem pass emitting both columns' digits (r12): the old
    # union-of-projections executed the scan once per column — same
    # (col_name, digit) multiset, the per-row regex count is unchanged
    # (one eval per column per row), but the fact table is read once
    digits = (
        li.select(F.explode(F.array(*entries)).alias("__e"))
        .select("__e.col_name", "__e.digit")
        .where(F.col("digit").isNotNull())
    )
    # obs is the only frame touching the lineitem scan and is
    # dim-bounded (2 columns × 9 digits); the tot/chi/final algebra
    # below re-references it pairwise — without cuts the scan replans
    # 16×. Same for the 18-row j (chi + final output).
    obs = digits.groupBy("col_name", "digit").agg(
        F.count(F.lit(1)).alias("n")
    ).localCheckpoint(eager=True)
    tot = obs.groupBy("col_name").agg(F.sum("n").alias("total"))
    j = obs.join(tot, "col_name").withColumn(
        "expected",
        F.element_at(exp_arr, F.col("digit")) * F.col("total"),
    ).localCheckpoint(eager=True)
    chi = j.groupBy("col_name").agg(
        F.round(
            F.sum(
                (F.col("n") - F.col("expected"))
                * (F.col("n") - F.col("expected"))
                / F.col("expected")
            ),
            4,
        ).alias("chi2")
    )
    return (
        j.join(chi, "col_name")
        .select(
            "col_name",
            "digit",
            F.col("n").cast("bigint").alias("n"),
            F.round(F.col("n") / F.col("total"), 6).alias("observed_share"),
            F.round(F.element_at(exp_arr, F.col("digit")), 6).alias(
                "benford_share"
            ),
            "chi2",
            # conformance gate: log-uniform data lands at chi2 < 30
            # even at n=10^6; both synthetic columns sit ~20000
            (F.col("chi2") < 3000.0).alias("conforms"),
        )
    )


def _q302_sql() -> str:
    exp = ", ".join(f"{_BENFORD[d]!r}" for d in range(1, 10))
    return f"""
WITH exp AS (
  -- ::DOUBLE on the literal: DuckDB keeps decimal literals in exact
  -- DECIMAL arithmetic (the q147 gotcha) and (n - expected)^2
  -- overflows DECIMAL(38) otherwise
  SELECT d.range + 1 AS digit, ([{exp}])[d.range + 1]::DOUBLE AS share
  FROM range(9) d),
src AS (
  SELECT 'l_extendedprice' AS col_name, l_extendedprice AS v FROM lineitem
  UNION ALL
  SELECT 'l_quantity', l_quantity FROM lineitem),
dig AS (
  SELECT col_name,
         CAST(substr(regexp_replace(abs(v)::VARCHAR,
                                    '[^1-9].*$|^0+', '', 'g'), 1, 1)
              AS INT) AS digit
  FROM src),
obs AS (
  SELECT col_name, digit, count(*) AS n FROM dig
  WHERE digit IS NOT NULL GROUP BY 1, 2),
tot AS (SELECT col_name, sum(n) AS total FROM obs GROUP BY 1),
j AS (
  SELECT o.col_name, o.digit, o.n, t.total, e.share * t.total AS expected,
         e.share
  FROM obs o JOIN tot t USING (col_name) JOIN exp e USING (digit)),
chi AS (
  SELECT col_name,
         round(sum((n - expected) * (n - expected) / expected), 4) AS chi2
  FROM j GROUP BY 1)
SELECT j.col_name, j.digit, j.n::BIGINT AS n,
       round(j.n / j.total::DOUBLE, 6) AS observed_share,
       round(j.share, 6) AS benford_share,
       chi.chi2, (chi.chi2 < 3000.0) AS conforms
FROM j JOIN chi USING (col_name)
"""


Q302_SQL = _q302_sql()


# --------------------------------------------------------------------------
# q303 — IPv4 / CIDR blocklist matching (crawl-infrastructure
# governance: datacenter and VPN ranges are dropped from crawl logs
# BEFORE corpus ingestion, and the match must be prefix math, not
# string prefixes — '10.1' the string also matches 10.100.0.0). Dotted
# quads parse to uint32 via pure column split/shift math; a CIDR block
# matches when (ip >> (32-p)) == (net >> (32-p)); the longest matching
# prefix wins (the routing-table rule, pinned by overlapping blocks in
# the dim). The oracle replays the shift math bit for bit.
# --------------------------------------------------------------------------

_Q303_BLOCKS = [
    # (cidr label, dotted net, prefix) — overlapping on purpose: the
    # /24 inside the /16 must win for ips in it
    ("dc-16", "10.32.0.0", 16),
    ("dc-24", "10.32.7.0", 24),
    ("vpn-12", "172.16.0.0", 12),
    ("cloud-20", "192.168.240.0", 20),
]


def q303_cidr_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    # formula IPs: a quarter land inside the blocks, rest outside
    e = F.col("event_id")
    ip = F.concat_ws(
        ".",
        F.when(e % 4 == 0, F.lit(10))
        .when(e % 4 == 1, F.lit(172))
        .when(e % 4 == 2, F.lit(192))
        .otherwise(F.lit(8)),
        F.when(e % 4 == 0, F.lit(32))
        .when(e % 4 == 1, (e % 16 + 10).cast("int"))
        .when(e % 4 == 2, F.lit(168))
        .otherwise(F.lit(8)),
        ((e / 4).cast("int") % 256).cast("int"),
        ((e / 7).cast("int") % 256).cast("int"),
    )
    logs = ev.select("event_id", ip.alias("ip"))
    o = F.split(F.col("ip"), r"\.")
    ip_u = (
        F.element_at(o, 1).cast("bigint") * 16777216
        + F.element_at(o, 2).cast("bigint") * 65536
        + F.element_at(o, 3).cast("bigint") * 256
        + F.element_at(o, 4).cast("bigint")
    )
    parsed = logs.withColumn("ip_u", ip_u)
    blocks = spark.createDataFrame(
        _Q303_BLOCKS, "label string, net string, prefix int"
    )
    b = F.split(F.col("net"), r"\.")
    net_u = (
        F.element_at(b, 1).cast("bigint") * 16777216
        + F.element_at(b, 2).cast("bigint") * 65536
        + F.element_at(b, 3).cast("bigint") * 256
        + F.element_at(b, 4).cast("bigint")
    )
    bdim = blocks.withColumn("net_u", net_u).selectExpr(
        "label", "prefix", "shiftright(net_u, 32 - prefix) AS hi"
    )
    cand = parsed.join(
        F.broadcast(bdim),
        F.expr("shiftright(ip_u, 32 - prefix) = hi"),
        "left",
    )
    w = Window.partitionBy("event_id").orderBy(
        F.col("prefix").desc_nulls_last()
    )
    best = (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("event_id", "label", "prefix")
    )
    return best.groupBy(
        F.coalesce(F.col("label"), F.lit("clean")).alias("verdict"),
        F.coalesce(F.col("prefix"), F.lit(0)).alias("prefix"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))


def _q303_sql() -> str:
    rows = ", ".join(
        f"('{lab}', '{net}', {p})" for lab, net, p in _Q303_BLOCKS
    )
    return f"""
WITH logs AS (
  SELECT event_id,
         (CASE event_id % 4 WHEN 0 THEN 10 WHEN 1 THEN 172
                            WHEN 2 THEN 192 ELSE 8 END)::BIGINT AS o1,
         (CASE event_id % 4 WHEN 0 THEN 32
                            WHEN 1 THEN event_id % 16 + 10
                            WHEN 2 THEN 168 ELSE 8 END)::BIGINT AS o2,
         ((event_id // 4) % 256)::BIGINT AS o3,
         ((event_id // 7) % 256)::BIGINT AS o4
  FROM events),
parsed AS (
  SELECT event_id,
         o1 * 16777216 + o2 * 65536 + o3 * 256 + o4 AS ip_u
  FROM logs),
blocks AS (
  SELECT * FROM (VALUES {rows}) b(label, net, prefix)),
bdim AS (
  SELECT label, prefix,
         (string_split(net, '.')[1]::BIGINT * 16777216
          + string_split(net, '.')[2]::BIGINT * 65536
          + string_split(net, '.')[3]::BIGINT * 256
          + string_split(net, '.')[4]::BIGINT) >> (32 - prefix) AS hi
  FROM blocks),
cand AS (
  SELECT p.event_id, b.label, b.prefix
  FROM parsed p LEFT JOIN bdim b ON (p.ip_u >> (32 - b.prefix)) = b.hi),
best AS (
  SELECT event_id, label, prefix FROM (
    SELECT event_id, label, prefix,
           row_number() OVER (PARTITION BY event_id
                              ORDER BY prefix DESC NULLS LAST) AS rn
    FROM cand) WHERE rn = 1)
SELECT coalesce(label, 'clean') AS verdict,
       coalesce(prefix, 0)::INT AS prefix,
       count(*)::BIGINT AS n_events
FROM best GROUP BY 1, 2
"""


Q303_SQL = _q303_sql()


# --------------------------------------------------------------------------
# q304 — dataset card / datasheet flagship ("Datasheets for Datasets",
# Gebru et al. 2018 — the one-row-per-source governance table a corpus
# RELEASE ships with): composes four independently-certified surfaces
# into one rollup — Gopher rule pass rate (q168 operator), TRAINED
# quality-model keep rate (q295 classifier), exact-duplicate rate
# (portable md5, q23 discipline), and the dominant declared language
# with its share (count argmax, ties → lang asc). The oracle EMBEDS
# the full Q168 and Q295 SQL as CTEs (the q235 string-surgery pattern)
# so the card's numbers cannot drift from the certified per-doc
# surfaces they summarize. The 0.0 gopher and dup rates at test scale
# are TRUE facts of the synthetic corpus (docs are sub-50-word and
# all-unique — verified, not assumed); the model-keep and language
# columns vary per source, and q23-q25/q168 carry the live dup/gopher
# testing on seeded data.
# --------------------------------------------------------------------------

def q304_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.functions.quality import quality_route
    from odin_rs_spark.operators.text import gopher_quality_flags

    docs = _t(spark, sf_dir, "documents")
    gop = gopher_quality_flags(docs.select("doc_id", "text")).select(
        "doc_id", "n_words", "gopher_pass"
    )
    qm = quality_route(docs.select("doc_id", "text")).select(
        "doc_id", (F.col("logit") >= 1.0).cast("int").alias("model_keep")
    )
    base = docs.select(
        "doc_id", "source", "lang", F.md5("text").alias("h")
    )
    per_doc = base.join(gop, "doc_id").join(qm, "doc_id")
    agg = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("n_words"),
        F.round(F.sum("gopher_pass") / F.count(F.lit(1)), 6).alias(
            "gopher_pass_rate"
        ),
        F.round(F.sum("model_keep") / F.count(F.lit(1)), 6).alias(
            "model_keep_rate"
        ),
        F.round(
            (F.count(F.lit(1)) - F.countDistinct("h"))
            / F.count(F.lit(1)),
            6,
        ).alias("dup_rate"),
    )
    lc = base.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("nl"))
    wl = Window.partitionBy("source").orderBy(
        F.col("nl").desc(), F.col("lang").asc()
    )
    dom = (
        lc.withColumn("rn", F.row_number().over(wl))
        .where(F.col("rn") == 1)
        .select(
            "source",
            F.col("lang").alias("dominant_lang"),
            F.col("nl").alias("n_dom"),
        )
    )
    return agg.join(dom, "source").select(
        "source", "n_docs", "n_words", "gopher_pass_rate",
        "model_keep_rate", "dup_rate", "dominant_lang",
        F.round(F.col("n_dom") / F.col("n_docs"), 6).alias("dominant_share"),
    )


def _q304_sql() -> str:
    return f"""
WITH g AS ({Q168_SQL}),
qm AS ({Q295_SQL}),
base AS (
  SELECT doc_id, source, lang, md5(text) AS h FROM documents),
per_doc AS (
  SELECT b.source, b.lang, b.h, g.n_words, g.gopher_pass,
         CASE WHEN qm.logit >= 1.0 THEN 1 ELSE 0 END AS model_keep
  FROM base b
  JOIN g ON g.doc_id = b.doc_id
  JOIN qm ON qm.doc_id = b.doc_id),
agg AS (
  SELECT source, count(*)::BIGINT AS n_docs,
         sum(n_words)::BIGINT AS n_words,
         round(sum(gopher_pass) / count(*)::DOUBLE, 6) AS gopher_pass_rate,
         round(sum(model_keep) / count(*)::DOUBLE, 6) AS model_keep_rate,
         round((count(*) - count(DISTINCT h)) / count(*)::DOUBLE, 6)
           AS dup_rate
  FROM per_doc GROUP BY source),
lc AS (SELECT source, lang, count(*) AS nl FROM base GROUP BY 1, 2),
dom AS (
  SELECT source, lang AS dominant_lang, nl AS n_dom FROM (
    SELECT source, lang, nl,
           row_number() OVER (PARTITION BY source
                              ORDER BY nl DESC, lang ASC) AS rn
    FROM lc) WHERE rn = 1)
SELECT a.source, a.n_docs, a.n_words, a.gopher_pass_rate,
       a.model_keep_rate, a.dup_rate, d.dominant_lang,
       round(d.n_dom / a.n_docs::DOUBLE, 6) AS dominant_share
FROM agg a JOIN dom d USING (source)
"""


Q304_SQL = _q304_sql()


# --------------------------------------------------------------------------
# q305 — A/B experiment analysis (two-proportion z-test, the pooled-
# variance form every experimentation platform computes): users hash
# into arms via the portable md5 stream (no RNG — assignment is
# deterministic and replayable), conversion = the user purchased
# within the experiment, and the z statistic is divisions + ONE sqrt —
# sqrt is correctly-rounded IEEE (unlike libm transcendentals), so the
# statistic is the bit-identical double in both engines and the
# significance verdict |z| >= 1.96 compares on the rounded value. Four
# synthetic experiments with different true effects keep both verdict
# branches live.
# --------------------------------------------------------------------------

def q305_ab_test_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.operators.dedup import portable_hash60

    ev = _t(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    # deterministic arm assignment per (experiment, user)
    exps = spark.range(4).select(F.col("id").alias("exp_id"))
    assign = users.crossJoin(F.broadcast(exps)).select(
        "user_id",
        "exp_id",
        (
            portable_hash60(
                F.concat(
                    F.col("user_id").cast("string"),
                    F.lit("_exp_"),
                    F.col("exp_id").cast("string"),
                )
            )
            % 2
        ).alias("arm"),
    )
    # base conversion must be RARE (every user purchases at least once
    # in the dense synthetic stream, which would make pooled p = 1 and
    # the z denominator zero): count only every-37th purchase event
    conv = (
        ev.where(
            (F.col("event_type") == "purchase") & (F.col("event_id") % 37 == 0)
        )
        .select("user_id")
        .distinct()
        .withColumn("base_conv", F.lit(1))
    )
    # synthetic treatment effect: arm 1 of experiment e ALSO converts
    # users whose hash clears a per-experiment threshold — effect
    # grows with exp_id so some experiments are significant, some not
    eff = (
        portable_hash60(
            F.concat(F.col("user_id").cast("string"), F.lit("_lift"))
        )
        % 100
        < F.col("exp_id") * 12
    )
    joined = (
        assign.join(conv, "user_id", "left")
        .na.fill({"base_conv": 0})
        .withColumn(
            "converted",
            F.greatest(
                F.col("base_conv"),
                ((F.col("arm") == 1) & eff).cast("int"),
            ),
        )
    )
    arms = joined.groupBy("exp_id", "arm").agg(
        F.count(F.lit(1)).alias("n"), F.sum("converted").alias("c")
    )
    a = arms.where(F.col("arm") == 0).select(
        "exp_id", F.col("n").alias("n0"), F.col("c").alias("c0")
    )
    b = arms.where(F.col("arm") == 1).select(
        "exp_id", F.col("n").alias("n1"), F.col("c").alias("c1")
    )
    j = a.join(b, "exp_id")
    p0 = F.col("c0") / F.col("n0")
    p1 = F.col("c1") / F.col("n1")
    pp = (F.col("c0") + F.col("c1")) / (F.col("n0") + F.col("n1"))
    se = F.sqrt(pp * (1.0 - pp) * (1.0 / F.col("n0") + 1.0 / F.col("n1")))
    z = F.round((p1 - p0) / se, 6)
    return j.select(
        "exp_id",
        F.col("n0").cast("bigint").alias("n0"),
        F.col("c0").cast("bigint").alias("c0"),
        F.col("n1").cast("bigint").alias("n1"),
        F.col("c1").cast("bigint").alias("c1"),
        F.round(p1 - p0, 6).alias("lift"),
        z.alias("z"),
        (F.abs(z) >= 1.96).alias("significant"),
    )


Q305_SQL = f"""
WITH users AS (SELECT DISTINCT user_id FROM events),
assign AS (
  SELECT u.user_id, e.range AS exp_id,
         {_H60.format(x="user_id::VARCHAR || '_exp_' || e.range::VARCHAR")}
           % 2 AS arm
  FROM users u, range(4) e),
conv AS (
  SELECT DISTINCT user_id, 1 AS base_conv FROM events
  WHERE event_type = 'purchase' AND event_id % 37 = 0),
j AS (
  SELECT a.exp_id, a.arm,
         greatest(coalesce(c.base_conv, 0),
           CASE WHEN a.arm = 1
                 AND {_H60.format(x="a.user_id::VARCHAR || '_lift'")}
                     % 100 < a.exp_id * 12
                THEN 1 ELSE 0 END) AS converted
  FROM assign a LEFT JOIN conv c ON c.user_id = a.user_id),
arms AS (
  SELECT exp_id, arm, count(*) AS n, sum(converted) AS c
  FROM j GROUP BY 1, 2),
w AS (
  SELECT a.exp_id, a.n AS n0, a.c AS c0, b.n AS n1, b.c AS c1
  FROM arms a JOIN arms b ON a.exp_id = b.exp_id
  WHERE a.arm = 0 AND b.arm = 1),
zc AS (
  SELECT *,
         round((c1 / n1::DOUBLE - c0 / n0::DOUBLE)
               / sqrt(((c0 + c1) / (n0 + n1)::DOUBLE)
                      * (1.0 - (c0 + c1) / (n0 + n1)::DOUBLE)
                      * (1.0 / n0::DOUBLE + 1.0 / n1::DOUBLE)), 6) AS z
  FROM w)
SELECT exp_id, n0::BIGINT AS n0, c0::BIGINT AS c0,
       n1::BIGINT AS n1, c1::BIGINT AS c1,
       round(c1 / n1::DOUBLE - c0 / n0::DOUBLE, 6) AS lift,
       z, (abs(z) >= 1.96) AS significant
FROM zc
"""


# --------------------------------------------------------------------------
# q306 — seasonal anomaly detection (the ops-analytics staple: a value
# is anomalous relative to ITS OWN SEASON — the (event_type,
# hour-of-day) baseline — not the global mean; W7's LOESS smooths a
# trend, this scores residuals against a seasonal profile). Exactness
# discipline: values quantize to integer cents (floor(v·100 + 0.5) on
# the identical input double in both engines), so sums and sums of
# squares are EXACT integers, mean/variance are identical IEEE
# divisions of exact operands, sqrt is correctly rounded, and the
# |z| ≥ 3 flag compares on the rounded z — zero float drift despite a
# two-moment computation over 10k doubles. The stats dim (types ×
# 24 hours) broadcasts back onto events for per-row scoring.
# --------------------------------------------------------------------------

def q306_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    vi = F.floor(F.col("value") * 100 + 0.5)
    base = ev.select(
        "event_type",
        F.hour("ts").cast("bigint").alias("hod"),
        vi.alias("vc"),
    )
    stats = base.groupBy("event_type", "hod").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("vc").alias("s"),
        F.sum(F.col("vc") * F.col("vc")).alias("sq"),
    )
    mean = F.col("s") / F.col("n")
    var = (F.col("sq") - F.col("s") * F.col("s") / F.col("n")) / F.col("n")
    sd = F.sqrt(var)
    sdim = stats.select(
        "event_type", "hod", "n", mean.alias("mu"), sd.alias("sd")
    )
    scored = base.join(F.broadcast(sdim), ["event_type", "hod"]).withColumn(
        "z",
        F.when(F.col("sd") > 0, F.round((F.col("vc") - F.col("mu")) / F.col("sd"), 6)),
    )
    return scored.groupBy("event_type", "hod").agg(
        F.max("n").alias("n"),
        F.round(F.max("mu"), 4).alias("mean_cents"),
        F.round(F.max("sd"), 4).alias("sd_cents"),
        F.sum((F.abs(F.col("z")) >= 3.0).cast("int")).cast("bigint").alias(
            "n_outliers"
        ),
    )


Q306_SQL = """
WITH base AS (
  SELECT event_type, extract(hour FROM ts) AS hod,
         floor(value * 100 + 0.5) AS vc
  FROM events WHERE value IS NOT NULL),
stats AS (
  SELECT event_type, hod, count(*) AS n, sum(vc) AS s, sum(vc * vc) AS sq
  FROM base GROUP BY 1, 2),
sdim AS (
  SELECT event_type, hod, n, s / n AS mu,
         sqrt((sq - s * s / n) / n) AS sd
  FROM stats),
scored AS (
  SELECT b.event_type, b.hod, d.n, d.mu, d.sd,
         CASE WHEN d.sd > 0
              THEN round((b.vc - d.mu) / d.sd, 6) END AS z
  FROM base b JOIN sdim d USING (event_type, hod))
SELECT event_type, hod::BIGINT AS hod, max(n)::BIGINT AS n,
       round(max(mu), 4) AS mean_cents, round(max(sd), 4) AS sd_cents,
       sum(CASE WHEN abs(z) >= 3.0 THEN 1 ELSE 0 END)::BIGINT AS n_outliers
FROM scored GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# q307 — MessagePack event-dump scan (Fluentd's forward protocol and
# Redis dumps ship crawl-fleet logs as CONCATENATED msgpack maps —
# the wire format of the log side-channel, next to Avro's archive
# format): hand-rolled decoder (sources/msgpackcodec.py) covering the
# full non-extension type matrix — the formula records deliberately
# hit positive/negative fixint, uint32 (bytes_sent), int8/16
# negatives (delta), float64, fixstr, bool, nil and fixmap — with
# ext/timestamp types rejected by name. Six per-host dumps are
# encoded by the twin INSIDE executors; the oracle replays every
# field formula.
# --------------------------------------------------------------------------

def _msgpack_media(spark: SparkSession, n_hosts: int):
    def one(hid: int) -> bytes:
        from odin_rs_spark.sources.msgpackcodec import encode_msgpack

        buf = bytearray()
        for i in range(200):
            gid = hid * 200 + i
            buf += encode_msgpack(
                {
                    "seq": gid,
                    "level": ["info", "warn", "error"][gid % 3],
                    "latency_ms": (gid % 173) * 0.25,
                    "ok": gid % 2 == 0,
                    "retry": None if gid % 7 == 0 else gid % 5,
                    "bytes_sent": gid * 100000,
                    "delta": 100 - gid,
                }
            )
        return bytes(buf)

    return _executor_blobs(spark, n_hosts, content=one).select(
        F.col("id").alias("media_id"), "content"
    )


def q307_msgpack_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.sources.msgpackcodec import msgpack_records

    media = _msgpack_media(spark, 6).select(
        F.col("media_id").cast("string").alias("path"), "content"
    )
    recs = msgpack_records(
        media,
        {
            "seq": "bigint",
            "level": "string",
            "latency_ms": "double",
            "ok": "boolean",
            "retry": "bigint",
            "bytes_sent": "bigint",
            "delta": "bigint",
        },
    )
    return recs.groupBy("level").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.sum("latency_ms"), 6).alias("sum_latency"),
        F.sum(F.col("ok").cast("int")).cast("bigint").alias("n_ok"),
        F.sum(F.col("retry").isNull().cast("int")).cast("bigint").alias(
            "n_null_retry"
        ),
        F.sum("bytes_sent").cast("bigint").alias("bytes_sent"),
        F.min("delta").cast("bigint").alias("min_delta"),
        F.max("seq").cast("bigint").alias("max_seq"),
    )


Q307_SQL = """
WITH ids AS (
  SELECT h.range * 200 + i.range AS gid FROM range(6) h, range(200) i),
rec AS (
  SELECT gid,
         CASE gid % 3 WHEN 0 THEN 'info' WHEN 1 THEN 'warn'
                      ELSE 'error' END AS level,
         (gid % 173) * 0.25 AS latency_ms,
         gid % 2 = 0 AS ok,
         CASE WHEN gid % 7 = 0 THEN NULL ELSE gid % 5 END AS retry,
         gid * 100000 AS bytes_sent,
         100 - gid AS delta
  FROM ids)
SELECT level, count(*)::BIGINT AS n,
       round(sum(latency_ms::DOUBLE), 6) AS sum_latency,
       sum(CASE WHEN ok THEN 1 ELSE 0 END)::BIGINT AS n_ok,
       sum(CASE WHEN retry IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null_retry,
       sum(bytes_sent)::BIGINT AS bytes_sent,
       min(delta)::BIGINT AS min_delta,
       max(gid)::BIGINT AS max_seq
FROM rec GROUP BY level
"""


# --------------------------------------------------------------------------
# q308 — TextRank keyword extraction (Mihalcea & Tarau 2004: keywords
# = PageRank over the word co-occurrence graph — the classic unsuper-
# vised extractor, and a composition proof that the integer-exact
# pagerank operator is REUSABLE off its cohort graph): tokenize (the
# Q168 normalization), drop stopwords/short tokens, connect ADJACENT
# surviving words (window 2, canonical undirected), then 4 rounds of
# integer-mass diffusion (graph.integer_pagerank — exact, so both
# engines agree bit-for-bit and the top-k has no float ties). Oracle
# unrolls the recurrence as MATERIALIZED stages (the q127 pattern)
# over the same SQL-built edge list.
# --------------------------------------------------------------------------

def q308_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.functions.quality import STOPWORDS
    from odin_rs_spark.operators.graph import integer_pagerank

    docs = _t(spark, sf_dir, "documents")
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    ws = F.split(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " "
    )
    filtered = F.filter(
        ws,
        lambda w: (F.length(w) > 2) & ~F.array_contains(stop_arr, w),
    )
    d = docs.select("doc_id", filtered.alias("f")).where(F.size("f") >= 2)
    pairs = d.select(
        F.explode(
            F.arrays_zip(
                F.slice(F.col("f"), 1, F.size("f") - 1),
                F.slice(F.col("f"), 2, F.size("f") - 1),
            )
        ).alias("p")
    ).select(F.col("p.0").alias("a"), F.col("p.1").alias("b"))
    edges = (
        pairs.where(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("src"), F.greatest("a", "b").alias("dst")
        )
        .distinct()
    )
    with _stream_state_parallelism(spark, 8):
        ranked = integer_pagerank(edges, iterations=4)
    # take the top 15 first and number only those: `node` is unique, so
    # the order is total and the window sees 15 rows, not every node
    order = [F.col("mass").desc(), F.col("node").asc()]
    top = ranked.orderBy(*order).limit(15)
    return top.withColumn("rank", F.row_number().over(Window.orderBy(*order))).select(
        "rank", F.col("node").alias("keyword"), "mass"
    )


def _q308_sql(iterations: int = 4) -> str:
    from odin_rs_spark.functions.quality import STOPWORDS

    stops = ", ".join(f"'{w}'" for w in STOPWORDS)
    head = f"""
WITH w0 AS (
  SELECT doc_id,
         list_filter(
           string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                        ' '),
           x -> length(x) > 2 AND NOT list_contains([{stops}], x)) AS f
  FROM documents),
d AS (SELECT doc_id, f FROM w0 WHERE len(f) >= 2),
pr AS (
  SELECT f[j.range + 1] AS a, f[j.range + 2] AS b
  FROM d, range(200) j WHERE j.range < len(f) - 1),
ed0 AS (
  SELECT DISTINCT least(a, b) AS src, greatest(a, b) AS dst
  FROM pr WHERE a != b),
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
SELECT rank, node AS keyword, mass FROM (
  SELECT node, mass,
         row_number() OVER (ORDER BY mass DESC, node ASC) AS rank
  FROM m{iterations})
WHERE rank <= 15
"""


Q308_SQL = _q308_sql()


# --------------------------------------------------------------------------
# q309 — .jsonl.zst corpus shard scan (THE dominant LLM-corpus shard
# format: Pile/RedPajama/Dolma ship newline-delimited JSON inside zstd
# frames): container decompression runs through the in-repo RFC 8878
# decoder inside the scan kernel (bytes never shuffle), line splitting
# is kernel-side, and JSON field extraction is JVM-side from_json —
# the Python boundary carries text lines only. Shards are twin-encoded
# in executors (zstd_compress_store); the oracle replays the record
# formulas including the nested-meta extraction.
# --------------------------------------------------------------------------

def _jsonl_zst_media(spark: SparkSession, n_shards: int):
    def one(sid: int) -> bytes:
        import json as _json

        from odin_rs_spark.sources.zstdcodec import zstd_compress_store

        lines = []
        for i in range(300):
            gid = sid * 300 + i
            lines.append(
                _json.dumps(
                    {
                        "id": gid,
                        "text": "token " * (gid % 7 + 1),
                        "meta": {
                            "source": f"src{gid % 5}",
                            "score": (gid % 89) * 0.5,
                        },
                    },
                    separators=(",", ":"),
                )
            )
        return zstd_compress_store("\n".join(lines).encode("utf-8"))

    return _executor_blobs(spark, n_shards, content=one).select(
        F.col("id").alias("media_id"), "content"
    )


def q309_jsonl_zst_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    media = _jsonl_zst_media(spark, 5)

    def fn(batches):
        from odin_rs_spark.sources.zstdcodec import zstd_decompress

        for pdf in batches:
            rows = {"shard": [], "line": []}
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                text = zstd_decompress(bytes(content)).decode("utf-8")
                for ln in text.split("\n"):
                    rows["shard"].append(int(mid))
                    rows["line"].append(ln)
            yield pd.DataFrame(rows)

    lines = media.mapInPandas(fn, "shard bigint, line string")
    parsed = lines.select(
        "shard",
        F.from_json(
            F.col("line"),
            "id bigint, text string, meta struct<source string, score double>",
        ).alias("j"),
    )
    return parsed.groupBy(F.col("j.meta.source").alias("source")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.size(F.split(F.trim(F.col("j.text")), " ")))
        .cast("bigint")
        .alias("n_tokens"),
        F.round(F.sum("j.meta.score"), 6).alias("sum_score"),
        F.min("j.id").cast("bigint").alias("min_id"),
        F.max("j.id").cast("bigint").alias("max_id"),
    )


Q309_SQL = """
WITH ids AS (
  SELECT s.range * 300 + i.range AS gid FROM range(5) s, range(300) i),
rec AS (
  SELECT gid, 'src' || (gid % 5)::VARCHAR AS source,
         gid % 7 + 1 AS n_tokens,
         (gid % 89) * 0.5 AS score
  FROM ids)
SELECT source, count(*)::BIGINT AS n,
       sum(n_tokens)::BIGINT AS n_tokens,
       round(sum(score::DOUBLE), 6) AS sum_score,
       min(gid)::BIGINT AS min_id, max(gid)::BIGINT AS max_id
FROM rec GROUP BY source
"""


# --------------------------------------------------------------------------
# q310 — last-touch marketing attribution (the revenue-allocation
# model every growth team runs: credit each conversion to the LAST
# non-direct campaign touch within a 72 h lookback, else
# 'unattributed'): a direct reuse of the J2 as-of operator — purchases
# as the left, non-direct touches as the right, tolerance = the
# lookback, event_id as the deterministic equal-ts tie-break — over
# campaign labels derived from the touch stream. Revenue quantizes to
# integer cents (the q306 discipline) so attributed sums are exact.
# The oracle replays the as-of semantics (inclusive window, max
# (ts, event_id) winner) as a correlated candidate join.
# --------------------------------------------------------------------------

def q310_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from odin_rs_spark.operators.joins import asof_join

    ev = _t(spark, sf_dir, "events")
    camp = (
        F.when(F.col("event_id") % 4 == 0, "direct")
        .when(F.col("event_id") % 4 == 1, "email")
        .when(F.col("event_id") % 4 == 2, "search")
        .otherwise("social")
    )
    touches = (
        ev.where(F.col("event_type").isin("click", "view"))
        .select("user_id", "ts", "event_id", camp.alias("campaign"))
        .where(F.col("campaign") != "direct")
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.floor(F.col("value") * 100 + 0.5).alias("vc"),
    )
    att = asof_join(
        purchases,
        touches,
        on="user_id",
        ts="ts",
        tolerance_sec=72 * 3600,
        right_order="event_id",
    )
    return att.groupBy(
        F.coalesce(F.col("campaign"), F.lit("unattributed")).alias("campaign")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_conversions"),
        F.sum("vc").cast("bigint").alias("revenue_cents"),
    )


Q310_SQL = """
WITH t AS (
  SELECT user_id, ts AS tt, event_id,
         CASE event_id % 4 WHEN 1 THEN 'email' WHEN 2 THEN 'search'
                           WHEN 3 THEN 'social' END AS campaign
  FROM events
  WHERE event_type IN ('click', 'view') AND event_id % 4 != 0),
p AS (
  SELECT event_id AS pid, user_id, ts AS pt,
         floor(value * 100 + 0.5) AS vc
  FROM events WHERE event_type = 'purchase'),
best AS (
  SELECT pid, vc, campaign FROM (
    SELECT p.pid, p.vc, t.campaign,
           row_number() OVER (PARTITION BY p.pid
                              ORDER BY t.tt DESC, t.event_id DESC) AS rn
    FROM p JOIN t ON t.user_id = p.user_id
     AND t.tt <= p.pt AND t.tt >= p.pt - INTERVAL 72 HOUR)
  WHERE rn = 1)
SELECT coalesce(b.campaign, 'unattributed') AS campaign,
       count(*)::BIGINT AS n_conversions,
       sum(coalesce(b.vc, p2.vc))::BIGINT AS revenue_cents
FROM p p2 LEFT JOIN best b ON b.pid = p2.pid
GROUP BY 1
"""


# --------------------------------------------------------------------------
# q311 — clamped running inventory balance (the warehouse state
# machine: stock cannot go negative — demand against an empty shelf is
# a LOST SALE, not a debt). The naive model is a sequential per-row
# state machine b_t = max(0, b_{t-1} + f_t); clamping at zero has a
# CLOSED WINDOW FORM (the reflection identity): b_t = c_t − min(0,
# running_min(c)_t) with c the plain cumulative flow — which turns the
# "inherently sequential" scan into two standard prefix windows over
# ONE partitioning, the algebra that keeps it one exchange at a
# billion rows instead of a stateful kernel. Cumulative lost sales
# fall out as −min(0, min(c)). Receipts = odd line numbers, shipments
# = even, per part bucket; the oracle replays both windows, and the
# sequential-state-machine equivalence is pinned in tests.
# --------------------------------------------------------------------------

def q311_clamped_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    flows = li.select(
        (F.col("l_partkey") % 50).alias("part"),
        F.col("l_shipdate").alias("d"),
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln"),
        F.when(
            F.col("l_linenumber") % 2 == 1, F.col("l_quantity").cast("long")
        )
        .otherwise(-F.col("l_quantity").cast("long"))
        .alias("flow"),
    )
    w = (
        Window.partitionBy("part")
        .orderBy("d", "ok", "ln")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = flows.withColumn("c", F.sum("flow").over(w)).withColumn(
        "m", F.min("c").over(w)
    )
    zero = F.lit(0).cast("bigint")
    bal = cum.withColumn("balance", F.col("c") - F.least(zero, F.col("m")))
    return bal.groupBy("part").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_moves"),
        F.sum("flow").cast("bigint").alias("net_flow"),
        F.max("balance").cast("bigint").alias("peak_stock"),
        F.sum((F.col("balance") == 0).cast("int")).cast("bigint").alias(
            "n_stockout_moves"
        ),
        (-F.least(zero, F.min("c"))).cast("bigint").alias("lost_sales"),
        (F.sum("flow") - F.least(zero, F.min("c")))
        .cast("bigint")
        .alias("final_balance"),
    )


Q311_SQL = """
WITH flows AS (
  SELECT l_partkey % 50 AS part, l_shipdate AS d, l_orderkey AS ok,
         l_linenumber AS ln,
         CASE WHEN l_linenumber % 2 = 1 THEN l_quantity::BIGINT
              ELSE -(l_quantity::BIGINT) END AS flow
  FROM lineitem),
cum AS (
  SELECT part, d, ok, ln, flow,
         sum(flow) OVER (PARTITION BY part ORDER BY d, ok, ln
                         ROWS UNBOUNDED PRECEDING) AS c
  FROM flows),
win AS (
  SELECT part, flow, c,
         min(c) OVER (PARTITION BY part ORDER BY d, ok, ln
                      ROWS UNBOUNDED PRECEDING) AS m
  FROM cum),
bal AS (SELECT part, flow, c, c - least(0, m) AS balance FROM win)
SELECT part, count(*)::BIGINT AS n_moves,
       sum(flow)::BIGINT AS net_flow,
       max(balance)::BIGINT AS peak_stock,
       sum(CASE WHEN balance = 0 THEN 1 ELSE 0 END)::BIGINT
         AS n_stockout_moves,
       (-least(0, min(c)))::BIGINT AS lost_sales,
       (sum(flow) - least(0, min(c)))::BIGINT AS final_balance
FROM bal GROUP BY part
"""


# --------------------------------------------------------------------------
# q312 — JSONL schema-drift audit (the silent killer of long-running
# ingestion: a producer renames a field, widens int→float, or nests a
# scalar into an object, and every downstream from_json starts
# returning NULLs without an error). Two shard GENERATIONS are
# compared field-by-field: presence counts and the dominant VALUE
# SHAPE (int / float / bool / object / string / null — sniffed on the
# stringified value, same definition both engines, quoting-invisible
# by design and documented), classified as added / removed /
# shape_changed / stable. The seeded drift: v2 renames lang→language,
# widens score int→float, and nests a new meta object — all three
# classes plus stability must surface.
# --------------------------------------------------------------------------

def q312_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    i = F.col("id")
    v1 = spark.range(400).select(
        F.lit("v1").alias("gen"),
        F.concat(
            F.lit('{"id":'), i.cast("string"),
            F.lit(',"text":"doc '), i.cast("string"),
            F.lit('","lang":"'),
            F.when(i % 3 == 0, "de").otherwise("en"),
            F.lit('","score":'), (i % 40).cast("string"),
            F.lit("}"),
        ).alias("line"),
    )
    v2 = spark.range(400).select(
        F.lit("v2").alias("gen"),
        F.concat(
            F.lit('{"id":'), i.cast("string"),
            F.lit(',"text":"doc '), i.cast("string"),
            F.lit('","language":"'),
            F.when(i % 3 == 0, "de").otherwise("en"),
            F.lit('","score":'), (i % 40).cast("string"), F.lit(".5"),
            F.lit(',"meta":{"source":"s'), (i % 5).cast("string"),
            F.lit('"}}'),
        ).alias("line"),
    )
    lines = v1.unionByName(v2)
    kv = lines.select(
        "gen",
        F.explode(F.from_json(F.col("line"), "map<string,string>")).alias(
            "field", "value"
        ),
    )
    shape = (
        F.when(F.col("value").isNull(), "null")
        .when(F.col("value").rlike(r"^-?[0-9]+$"), "int")
        .when(F.col("value").rlike(r"^-?[0-9]*\.[0-9]+$"), "float")
        .when(F.col("value").isin("true", "false"), "bool")
        .when(F.col("value").startswith("{"), "object")
        .otherwise("string")
    )
    counts = kv.select("gen", "field", shape.alias("shape")).groupBy(
        "gen", "field", "shape"
    ).agg(F.count(F.lit(1)).alias("n"))
    wd = Window.partitionBy("gen", "field").orderBy(
        F.col("n").desc(), F.col("shape").asc()
    )
    dom = (
        counts.withColumn("rn", F.row_number().over(wd))
        .where(F.col("rn") == 1)
        .select("gen", "field", "shape", "n")
    )
    tot = counts.groupBy("gen", "field").agg(F.sum("n").alias("n_present"))
    per = dom.join(tot, ["gen", "field"])
    a = per.where(F.col("gen") == "v1").select(
        "field",
        F.col("shape").alias("shape_v1"),
        F.col("n_present").alias("n_v1"),
    )
    b = per.where(F.col("gen") == "v2").select(
        "field",
        F.col("shape").alias("shape_v2"),
        F.col("n_present").alias("n_v2"),
    )
    j = a.join(b, "field", "full_outer")
    drift = (
        F.when(F.col("shape_v1").isNull(), "added")
        .when(F.col("shape_v2").isNull(), "removed")
        .when(F.col("shape_v1") != F.col("shape_v2"), "shape_changed")
        .otherwise("stable")
    )
    return j.select(
        "field",
        "shape_v1",
        "shape_v2",
        F.coalesce(F.col("n_v1"), F.lit(0)).cast("bigint").alias("n_v1"),
        F.coalesce(F.col("n_v2"), F.lit(0)).cast("bigint").alias("n_v2"),
        drift.alias("drift"),
    )


Q312_SQL = """
WITH v1 AS (
  SELECT 'v1' AS gen,
         '{"id":' || i.range || ',"text":"doc ' || i.range || '","lang":"'
         || CASE WHEN i.range % 3 = 0 THEN 'de' ELSE 'en' END
         || '","score":' || (i.range % 40) || '}' AS line
  FROM range(400) i),
v2 AS (
  SELECT 'v2' AS gen,
         '{"id":' || i.range || ',"text":"doc ' || i.range
         || '","language":"'
         || CASE WHEN i.range % 3 = 0 THEN 'de' ELSE 'en' END
         || '","score":' || (i.range % 40) || '.5'
         || ',"meta":{"source":"s' || (i.range % 5) || '"}}' AS line
  FROM range(400) i),
lines AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2),
kv AS (
  SELECT gen, k.field,
         json_extract_string(line, '$.' || k.field) AS value
  FROM lines, unnest(json_keys(line)) k(field)),
shaped AS (
  SELECT gen, field,
         CASE WHEN value IS NULL THEN 'null'
              WHEN regexp_full_match(value, '-?[0-9]+') THEN 'int'
              WHEN regexp_full_match(value, '-?[0-9]*\\.[0-9]+')
                THEN 'float'
              WHEN value IN ('true', 'false') THEN 'bool'
              WHEN value LIKE '{%' THEN 'object'
              ELSE 'string' END AS shape
  FROM kv),
counts AS (
  SELECT gen, field, shape, count(*) AS n
  FROM shaped GROUP BY 1, 2, 3),
dom AS (
  SELECT gen, field, shape FROM (
    SELECT gen, field, shape,
           row_number() OVER (PARTITION BY gen, field
                              ORDER BY n DESC, shape ASC) AS rn
    FROM counts) WHERE rn = 1),
tot AS (SELECT gen, field, sum(n) AS n_present FROM counts GROUP BY 1, 2),
per AS (
  SELECT d.gen, d.field, d.shape, t.n_present
  FROM dom d JOIN tot t ON t.gen = d.gen AND t.field = d.field),
a AS (SELECT field, shape AS shape_v1, n_present AS n_v1
      FROM per WHERE gen = 'v1'),
b AS (SELECT field, shape AS shape_v2, n_present AS n_v2
      FROM per WHERE gen = 'v2')
SELECT coalesce(a.field, b.field) AS field, a.shape_v1, b.shape_v2,
       coalesce(a.n_v1, 0)::BIGINT AS n_v1,
       coalesce(b.n_v2, 0)::BIGINT AS n_v2,
       CASE WHEN a.shape_v1 IS NULL THEN 'added'
            WHEN b.shape_v2 IS NULL THEN 'removed'
            WHEN a.shape_v1 != b.shape_v2 THEN 'shape_changed'
            ELSE 'stable' END AS drift
FROM a FULL OUTER JOIN b ON a.field = b.field
"""


# --------------------------------------------------------------------------
# q313 — dedup threshold tuning: SimHash precision/recall AGAINST the
# exact-Jaccard ground truth (the table an operator actually reads
# before picking a production hamming cutoff — q26 pins the signature
# math, q232 the MinHash estimator error; this closes the loop by
# measuring what each hamming threshold t ∈ 1..6 buys and costs
# against jaccard ≥ 0.8 relevance). Predicted pairs come from the
# pigeonhole-blocked simhash operator at max_hamming=6 (recall-1 for
# the thresholds audited); relevant pairs from the certified q24
# MinHash+verify operator; a full-outer pair join scores tp/fp/fn per
# threshold. The oracle recomputes BOTH sides all-pairs in SQL.
# --------------------------------------------------------------------------

def q313_dedup_threshold_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    par = _doc_par(spark, docs)
    ham = dedup_ops.simhash_pairs(docs, max_hamming=6, parallelism=par).select(
        "id_a", "id_b", "hamming"
    )
    rel = dedup_ops.near_dup_pairs(docs, threshold=0.8, parallelism=par).select(
        "id_a", "id_b", F.lit(1).alias("rel")
    )
    lab = ham.join(rel, ["id_a", "id_b"], "full_outer").select(
        F.col("hamming"),
        F.coalesce(F.col("rel"), F.lit(0)).alias("rel"),
    )
    ts = spark.range(1, 7).select(F.col("id").cast("int").alias("t"))
    x = lab.crossJoin(F.broadcast(ts))
    pred = F.col("hamming").isNotNull() & (F.col("hamming") <= F.col("t"))
    agg = x.groupBy("t").agg(
        F.sum(pred.cast("int")).cast("bigint").alias("n_pred"),
        F.sum("rel").cast("bigint").alias("n_rel"),
        F.sum((pred & (F.col("rel") == 1)).cast("int"))
        .cast("bigint")
        .alias("tp"),
    )
    return agg.select(
        "t",
        "n_pred",
        "n_rel",
        "tp",
        F.when(
            F.col("n_pred") > 0, F.round(F.col("tp") / F.col("n_pred"), 6)
        ).alias("precision"),
        F.when(
            F.col("n_rel") > 0, F.round(F.col("tp") / F.col("n_rel"), 6)
        ).alias("recall"),
    )


Q313_SQL = _SHINGLE_CTE + f""",
tok AS (SELECT doc_id, unnest(w) AS tk FROM d),
th AS (SELECT doc_id, {_H60.format(x="tk")} AS h FROM tok),
bc AS (
  SELECT doc_id, j.range AS j,
         CASE WHEN sum(((h >> j.range) & 1) * 2 - 1) > 0 THEN 1 ELSE 0 END AS b
  FROM th, range(60) j GROUP BY doc_id, j.range),
sig AS (
  SELECT doc_id, CAST(sum(b * (CAST(1 AS BIGINT) << j)) AS BIGINT) AS sig
  FROM bc GROUP BY doc_id),
ham AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         bit_count(xor(a.sig, b.sig)) AS hamming
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id),
lab AS (
  SELECT h.hamming, CASE WHEN p.jaccard >= 0.8 THEN 1 ELSE 0 END AS rel
  FROM ham h JOIN pairs p ON p.id_a = h.id_a AND p.id_b = h.id_b),
ts AS (SELECT tt.range + 1 AS t FROM range(6) tt),
agg AS (
  SELECT ts.t,
         sum(CASE WHEN lab.hamming <= ts.t THEN 1 ELSE 0 END) AS n_pred,
         sum(lab.rel) AS n_rel,
         sum(CASE WHEN lab.hamming <= ts.t AND lab.rel = 1
                  THEN 1 ELSE 0 END) AS tp
  FROM lab, ts GROUP BY ts.t)
SELECT t::INT AS t, n_pred::BIGINT AS n_pred, n_rel::BIGINT AS n_rel,
       tp::BIGINT AS tp,
       CASE WHEN n_pred > 0 THEN round(tp / n_pred::DOUBLE, 6) END
         AS precision,
       CASE WHEN n_rel > 0 THEN round(tp / n_rel::DOUBLE, 6) END AS recall
FROM agg
"""


# --------------------------------------------------------------------------
# q314 — Population Stability Index (the ML-ops drift metric every
# feature store monitors: PSI = Σ (p_i − q_i)·ln(p_i/q_i) between a
# baseline and a comparison window; < 0.1 stable, 0.1–0.25 watch,
# > 0.25 shifted). Binning is integer-cent math (exact both engines),
# shares use Laplace (c+1)/(n+bins) smoothing so empty bins never
# divide by zero, and the ln() terms — the one libm surface — are
# rounded at 6dp only AFTER the 10-term sum (the q288 trig
# discipline). Morning vs afternoon value distributions per event
# type; per-bin contributions ship alongside the total so the drift
# is attributable, not just scored.
# --------------------------------------------------------------------------

def q314_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    binned = ev.select(
        "event_type",
        F.when(F.hour("ts") < 12, "base").otherwise("cmp").alias("period"),
        F.least(
            F.greatest(
                (F.floor(F.col("value") * 100 + 0.5) / 2000).cast("int"),
                F.lit(0),
            ),
            F.lit(9),
        ).alias("bin"),
    )
    # counts is the only frame that touches the events scan, and the
    # dense-grid/share/PSI algebra below re-references its consumers
    # pairwise (types+dense, tot+share, p+q, per_bin+total) — without a
    # cut the scan replans 2^4 ≈ 32 times. It is dim-bounded
    # (#event_types × 2 periods × 10 bins) at any corpus scale.
    counts = binned.groupBy("event_type", "period", "bin").agg(
        F.count(F.lit(1)).alias("n")
    ).localCheckpoint(eager=True)
    # dense (type × period × bin) grid so empty bins smooth instead of
    # vanishing
    types = counts.select("event_type").distinct()
    grid = (
        types.crossJoin(
            F.broadcast(
                spark.range(10).select(F.col("id").cast("int").alias("bin"))
            )
        )
        .crossJoin(
            F.broadcast(
                spark.createDataFrame(
                    [("base",), ("cmp",)], "period string"
                )
            )
        )
    )
    dense = grid.join(counts, ["event_type", "period", "bin"], "left").na.fill(
        {"n": 0}
    )
    tot = dense.groupBy("event_type", "period").agg(
        F.sum("n").alias("tot")
    )
    share = dense.join(tot, ["event_type", "period"]).select(
        "event_type",
        "period",
        "bin",
        "n",
        ((F.col("n") + 1) / (F.col("tot") + 10)).alias("s"),
    )
    p = share.where(F.col("period") == "base").select(
        "event_type", "bin", F.col("n").alias("n_base"), F.col("s").alias("p")
    )
    q = share.where(F.col("period") == "cmp").select(
        "event_type", "bin", F.col("n").alias("n_cmp"), F.col("s").alias("q")
    )
    # p/q join feeds both the per-bin terms and the per-type total
    j = p.join(q, ["event_type", "bin"]).localCheckpoint(eager=True)
    term = (F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))
    per_bin = j.select(
        "event_type", "bin", "n_base", "n_cmp",
        F.round(term, 6).alias("psi_term"),
    )
    total = j.groupBy("event_type").agg(F.round(F.sum(term), 6).alias("psi"))
    out = per_bin.join(total, "event_type")
    verdict = (
        F.when(F.col("psi") < 0.1, "stable")
        .when(F.col("psi") < 0.25, "watch")
        .otherwise("shifted")
    )
    return out.select(
        "event_type", "bin",
        F.col("n_base").cast("bigint").alias("n_base"),
        F.col("n_cmp").cast("bigint").alias("n_cmp"),
        "psi_term", "psi", verdict.alias("verdict"),
    )


Q314_SQL = """
WITH e AS (
  SELECT event_type,
         CASE WHEN extract(hour FROM ts) < 12 THEN 'base' ELSE 'cmp' END
           AS period,
         -- floor-then-cast: DuckDB's // on DOUBLE operands does NOT
         -- truncate and ::INT ROUNDS (the q147 gotcha class)
         least(greatest(CAST(floor(floor(value * 100 + 0.5) / 2000) AS INT),
                        0), 9) AS bin
  FROM events WHERE value IS NOT NULL),
counts AS (
  SELECT event_type, period, bin, count(*) AS n FROM e GROUP BY 1, 2, 3),
grid AS (
  SELECT t.event_type, pr.period, b.range::INT AS bin
  FROM (SELECT DISTINCT event_type FROM counts) t,
       (VALUES ('base'), ('cmp')) pr(period), range(10) b),
dense AS (
  SELECT g.event_type, g.period, g.bin, coalesce(c.n, 0) AS n
  FROM grid g LEFT JOIN counts c
    ON c.event_type = g.event_type AND c.period = g.period
   AND c.bin = g.bin),
tot AS (SELECT event_type, period, sum(n) AS tot FROM dense GROUP BY 1, 2),
share AS (
  SELECT d.event_type, d.period, d.bin, d.n,
         (d.n + 1) / (t.tot + 10)::DOUBLE AS s
  FROM dense d JOIN tot t ON t.event_type = d.event_type
   AND t.period = d.period),
j AS (
  SELECT p.event_type, p.bin, p.n AS n_base, q.n AS n_cmp,
         (p.s - q.s) * ln(p.s / q.s) AS term
  FROM share p JOIN share q ON q.event_type = p.event_type
   AND q.bin = p.bin AND p.period = 'base' AND q.period = 'cmp'),
total AS (SELECT event_type, round(sum(term), 6) AS psi FROM j GROUP BY 1)
SELECT j.event_type, j.bin, j.n_base::BIGINT AS n_base,
       j.n_cmp::BIGINT AS n_cmp, round(j.term, 6) AS psi_term, t.psi,
       CASE WHEN t.psi < 0.1 THEN 'stable'
            WHEN t.psi < 0.25 THEN 'watch'
            ELSE 'shifted' END AS verdict
FROM j JOIN total t USING (event_type)
"""


# --------------------------------------------------------------------------
# q315 — bot-traffic detection by timing regularity (the crawl-
# governance signal robots.txt can't give you: automation fires on a
# CLOCK, so a client whose inter-event gaps have near-zero coefficient
# of variation is a bot regardless of its user agent — the q234 URL-
# shape screen's behavioral twin). Gaps are exact integer SECONDS
# (unix-epoch diffs), the two-moment stats are exact integer sums (the
# q306 discipline), cv = sqrt(var)/mean rounds at 6dp, and the flag
# compares on the rounded value with n >= 20 support. Three seeded
# metronome users (exact 300/600/900 s periods, cv = 0) must flag and
# every organic user must not — both branches live by construction.
# --------------------------------------------------------------------------

def q315_bot_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # integer division of exact epoch MICROS on both sides: the ns
    # timestamps have sub-second parts, and unix_timestamp-vs-
    # epoch()::BIGINT would TRUNCATE in Spark but ROUND in DuckDB
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.expr("unix_micros(ts) div 1000000").alias("t"),
        "event_id",
    )
    bots = spark.range(3).alias("b").crossJoin(
        spark.range(60).select(F.col("id").alias("k"))
    ).select(
        (F.col("b.id") + 9001).alias("user_id"),
        (
            F.lit(1700000000)
            + (F.col("b.id") + 1) * 300 * F.col("k")
        ).alias("t"),
        (F.lit(10_000_000) + F.col("b.id") * 100 + F.col("k")).alias(
            "event_id"
        ),
    )
    allev = ev.unionByName(bots)
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    gaps = (
        allev.withColumn("prev", F.lag("t").over(w))
        .where(F.col("prev").isNotNull())
        .select("user_id", (F.col("t") - F.col("prev")).alias("g"))
    )
    stats = gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("g").alias("s"),
        F.sum(F.col("g") * F.col("g")).alias("sq"),
    )
    mean = F.col("s") / F.col("n")
    var = (F.col("sq") - F.col("s") * F.col("s") / F.col("n")) / F.col("n")
    cv = F.when(mean > 0, F.round(F.sqrt(var) / mean, 6))
    out = stats.select(
        "user_id",
        F.col("n").cast("bigint").alias("n_gaps"),
        F.round(mean, 6).alias("mean_gap_s"),
        cv.alias("cv"),
    )
    return out.withColumn(
        "is_bot", (F.col("n_gaps") >= 20) & (F.col("cv") < 0.1)
    )


Q315_SQL = """
WITH ev AS (
  SELECT user_id, epoch_us(ts) // 1000000 AS t, event_id FROM events
  UNION ALL
  SELECT b.range + 9001,
         1700000000 + (b.range + 1) * 300 * k.range,
         10000000 + b.range * 100 + k.range
  FROM range(3) b, range(60) k),
gaps AS (
  SELECT user_id, t - lag(t) OVER (PARTITION BY user_id
                                   ORDER BY t, event_id) AS g
  FROM ev),
g2 AS (SELECT user_id, g FROM gaps WHERE g IS NOT NULL),
stats AS (
  SELECT user_id, count(*) AS n, sum(g) AS s, sum(g * g) AS sq
  FROM g2 GROUP BY user_id)
SELECT user_id, n::BIGINT AS n_gaps,
       round(s / n, 6) AS mean_gap_s,
       CASE WHEN s / n > 0
            THEN round(sqrt((sq - s * s / n) / n) / (s / n), 6) END AS cv,
       (n >= 20 AND
        CASE WHEN s / n > 0
             THEN round(sqrt((sq - s * s / n) / n) / (s / n), 6) END < 0.1)
         AS is_bot
FROM stats
"""


# --------------------------------------------------------------------------
# q316 — lake fsck: transaction-log live set vs physical listing (the
# audit q296's time travel implies but doesn't run: a crashed writer
# leaves ORPHAN files no snapshot references, a lost object makes a
# referenced file MISSING — silent data loss — and tombstoned files
# awaiting vacuum must be told apart from true orphans). Full-outer
# join of the q296 log's final state against a directory-listing dim:
# ok / missing / tombstoned / orphan, all four seeded and load-bearing
# (every-11th live file absent from disk; ten never-logged ids
# present). The oracle replays the arg_max state machine and the
# four-way classification.
# --------------------------------------------------------------------------

def q316_lake_fsck(spark: SparkSession, sf_dir: str) -> DataFrame:
    seqs = spark.range(360).select(F.col("id").alias("seq"))
    log = seqs.select(
        "seq",
        ((F.col("seq") * 7) % 200).alias("file_id"),
        F.when(
            (F.col("seq") >= 160) & (F.col("seq") % 5 == 0), F.lit("remove")
        ).otherwise(F.lit("add")).alias("op"),
        (F.lit(1000) + ((F.col("seq") * 7) % 200) * 37 % 5000).alias(
            "size_bytes"
        ),
    )
    state = (
        log.groupBy("file_id")
        .agg(F.max(F.struct("seq", "op", "size_bytes")).alias("m"))
        .select(
            "file_id",
            F.col("m.op").alias("op"),
            F.col("m.size_bytes").alias("size_bytes"),
        )
    )
    # physical listing: every log file except each 11th-mod-3 id, plus
    # ten ids no snapshot has ever referenced
    disk = (
        spark.range(200)
        .select(F.col("id").alias("file_id"))
        .where(F.col("file_id") % 11 != 3)
        .unionByName(
            spark.range(500, 510).select(F.col("id").alias("file_id"))
        )
        .withColumn("on_disk", F.lit(1))
    )
    j = state.join(disk, "file_id", "full_outer")
    status = (
        F.when(F.col("op") == "add",
               F.when(F.col("on_disk").isNotNull(), "ok").otherwise("missing"))
        .when(F.col("op") == "remove",
              F.when(F.col("on_disk").isNotNull(), "tombstoned").otherwise(
                  "vacuumed"))
        .otherwise("orphan")
    )
    return j.groupBy(status.alias("status")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_files"),
        F.sum(F.coalesce(F.col("size_bytes"), F.lit(0)))
        .cast("bigint")
        .alias("logged_bytes"),
    )


Q316_SQL = """
WITH log AS (
  SELECT s.range AS seq, (s.range * 7) % 200 AS file_id,
         CASE WHEN s.range >= 160 AND s.range % 5 = 0
              THEN 'remove' ELSE 'add' END AS op,
         1000 + ((s.range * 7) % 200) * 37 % 5000 AS size_bytes
  FROM range(360) s),
state AS (
  SELECT file_id, arg_max(op, seq) AS op,
         arg_max(size_bytes, seq) AS size_bytes
  FROM log GROUP BY file_id),
disk AS (
  SELECT d.range AS file_id, 1 AS on_disk FROM range(200) d
  WHERE d.range % 11 != 3
  UNION ALL
  SELECT o.range, 1 FROM range(500, 510) o),
j AS (
  SELECT coalesce(s.file_id, d.file_id) AS file_id, s.op, s.size_bytes,
         d.on_disk
  FROM state s FULL OUTER JOIN disk d ON d.file_id = s.file_id)
SELECT CASE WHEN op = 'add' AND on_disk IS NOT NULL THEN 'ok'
            WHEN op = 'add' THEN 'missing'
            WHEN op = 'remove' AND on_disk IS NOT NULL THEN 'tombstoned'
            WHEN op = 'remove' THEN 'vacuumed'
            ELSE 'orphan' END AS status,
       count(*)::BIGINT AS n_files,
       sum(coalesce(size_bytes, 0))::BIGINT AS logged_bytes
FROM j GROUP BY 1
"""


# --------------------------------------------------------------------------
# q317 — TILED + COMPRESSED GeoTIFF DEM mosaic (r11: the file shape
# real DEM tilesets actually ship — GDAL writes tiled DEFLATE/LZW with
# the horizontal predictor, and the reference reads exactly these via
# GDAL VRT mosaics, odin_dem/src/lib.rs:260-299, odin_gdal/src/
# lib.rs:578-624). Two committed column-adjacent mosaic tiles (96x64
# each on a 0.01-deg north-up lattice): tile A int16 / tiled 32x16 /
# DEFLATE / predictor 2, tile B uint16 / tiled 16x16 / TIFF6 LZW
# (early-change variant, decoded by the in-repo codec) / predictor 2.
# Both decode in-kernel (sources/geotiff.py) into the cell lattice and
# a 300-point probe set joins by INTEGER global cell index — the J1
# quantized-join discipline (integer lattice keys, broadcast the small
# side) with the probe side broadcast. Points on nodata holes survive
# as band -1 via the left join. The oracle replays both height
# formulas, the nodata masks and the probe lattice exactly — integer-
# exact end to end.
# --------------------------------------------------------------------------

def q317_tiled_dem_mosaic(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    import odin_rs_spark
    from odin_rs_spark.sources.geotiff import geotiff_grid_cells

    fixdir = _os.path.join(
        _os.path.dirname(_os.path.abspath(odin_rs_spark.__file__)),
        "sources",
        "fixtures",
    )
    files = spark.read.format("binaryFile").load(
        [_os.path.join(fixdir, "dem_tile_a.tif"),
         _os.path.join(fixdir, "dem_tile_b.tif")]
    )
    cells = geotiff_grid_cells(files).select(
        # global mosaic column: tile B sits 96 cells east of tile A
        (F.col("x") + F.when(
            F.col("path").contains("dem_tile_b"), F.lit(96)
        ).otherwise(F.lit(0))).alias("gi"),
        F.col("y").alias("gj"),
        "value",
    )
    probes = spark.range(300).select(
        ((F.col("id") * 7) % 192).cast("int").alias("gi"),
        ((F.col("id") * 11) % 64).cast("int").alias("gj"),
    )
    # keep-all-probes WITHOUT an outer join against the big side: a
    # broadcast hint on the PRESERVED side of an outer join is
    # unsatisfiable and silently ignored (r11 review) — so the big
    # cell lattice inner-joins the broadcast probe set, and the probes
    # that hit nodata holes come back via a tiny anti-join against the
    # (≤ |probes|-row) hit-key set, union'd with a NULL value
    # persist the (≤ |probes|-row) hit set so the miss branch reuses it
    # instead of decoding the mosaic a second time
    hits = cells.join(F.broadcast(probes), ["gi", "gj"]).persist()
    misses = probes.join(
        F.broadcast(hits.select("gi", "gj")), ["gi", "gj"], "left_anti"
    ).withColumn("value", F.lit(None).cast("double"))
    joined = hits.select("gi", "gj", "value").unionByName(misses)
    return joined.groupBy(
        F.when(F.col("gi") < 96, F.lit("A")).otherwise(F.lit("B")).alias("tile"),
        F.coalesce(
            F.floor(F.col("value") / 100).cast("int"), F.lit(-1)
        ).alias("band"),
    ).agg(
        F.count(F.lit(1)).alias("n_probes"),
        F.sum("value").alias("sum_height"),
        F.min("gj").cast("int").alias("min_gj"),
        F.max("gj").cast("int").alias("max_gj"),
    )


Q317_SQL = """
WITH pts AS (
  SELECT (k.range * 7) % 192 AS gi, (k.range * 11) % 64 AS gj
  FROM range(300) k),
a AS (
  SELECT i.range AS gi, j.range AS gj,
         ((i.range * 17 + j.range * 23) % 700)::DOUBLE AS v
  FROM range(96) i, range(64) j
  WHERE (i.range + 2 * j.range) % 13 != 7),
b AS (
  SELECT i.range + 96 AS gi, j.range AS gj,
         ((i.range * 29 + j.range * 31) % 900)::DOUBLE AS v
  FROM range(96) i, range(64) j
  WHERE (3 * i.range + j.range) % 11 != 4),
cells AS (SELECT * FROM a UNION ALL SELECT * FROM b),
hits AS (
  SELECT p.gi, p.gj, c.v
  FROM pts p LEFT JOIN cells c ON c.gi = p.gi AND c.gj = p.gj)
SELECT CASE WHEN gi < 96 THEN 'A' ELSE 'B' END AS tile,
       coalesce(floor(v / 100.0), -1)::INT AS band,
       count(*)::BIGINT AS n_probes,
       sum(v) AS sum_height,
       min(gj)::INT AS min_gj,
       max(gj)::INT AS max_gj
FROM hits GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# q318 — LOSSY JPEG 2000 GRIB2 decode audit (DRT 5.40 compression
# type 1, flipped r11: 9/7 irreversible wavelet + scalar-expounded
# quantization, the profile real NOAA HRRR/MRMS granules ship —
# odin_hrrr/src/lib.rs:262-498 fetches exactly these and reads them
# through GDAL's OpenJPEG path). The committed fixture packs the
# integer formula field f(i,j) = (3i² + 5j² + 7ij) mod 4096 (scale
# 2^-2) at qstep 1.0; the query decodes it in-kernel
# (sources/j2kcodec 9/7 synthesis + Annex-E bin-center
# dequantization), recomputes the exact field from the formula and
# audits the quantization error per x-band. Lossy decode is
# DETERMINISTIC given bytes (pure float64 numpy, no FMA), so the
# oracle pins the decoded aggregates as literals emitted by
# tools/gen_grib2_lossy_fixture.py against the exact same bytes —
# equality holds IFF the QCD style-2 parse, Mb = G + ε − 1 bitplane
# accounting, MQ/EBCOT decode, dequantization and 9/7 lifting are all
# unchanged bit-for-bit.
# --------------------------------------------------------------------------

def q318_grib2_lossy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    import odin_rs_spark
    from odin_rs_spark.sources.grib2 import grib2_grid_cells

    fixture = _os.path.join(
        _os.path.dirname(_os.path.abspath(odin_rs_spark.__file__)),
        "sources",
        "fixtures",
        "hrrr_lossy.grib2",
    )
    files = spark.read.format("binaryFile").load(fixture)
    cells = grib2_grid_cells(files)
    x, y = F.col("x").cast("long"), F.col("y").cast("long")
    exact = ((x * x * 3 + y * y * 5 + x * y * 7) % 4096).cast("double") * 0.25
    err = F.col("value") - exact
    return cells.select(
        (F.col("x") % 8).alias("xb"), "value",
        exact.alias("exact"), err.alias("err"),
    ).groupBy("xb").agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.round(F.sum("value"), 6).alias("sum_dec"),
        F.round(F.sum("exact"), 6).alias("sum_exact"),
        F.round(F.max(F.abs(F.col("err"))), 6).alias("max_abs_err"),
        F.round(F.sum(F.abs(F.col("err"))), 6).alias("sum_abs_err"),
    )


Q318_SQL = """
SELECT xb::INT AS xb, n_cells::BIGINT AS n_cells,
       sum_dec::DOUBLE AS sum_dec, sum_exact::DOUBLE AS sum_exact,
       max_abs_err::DOUBLE AS max_abs_err,
       sum_abs_err::DOUBLE AS sum_abs_err
FROM (VALUES
  (0, 768, 377111.5, 377120.0, 0.5, 74.5),
  (1, 768, 387764.25, 387776.0, 0.25, 55.75),
  (2, 768, 391384.25, 391392.0, 0.25, 60.75),
  (3, 768, 385913.75, 385920.0, 0.25, 61.25),
  (4, 768, 378522.0, 378528.0, 0.5, 66.5),
  (5, 768, 390711.0, 390720.0, 0.25, 61.0),
  (6, 768, 392797.0, 392800.0, 0.25, 59.0),
  (7, 768, 388856.5, 388864.0, 0.5, 66.5)
) t(xb, n_cells, sum_dec, sum_exact, max_abs_err, sum_abs_err)
"""


# --------------------------------------------------------------------------
# q319 — gpshub ingest flagship (r11: the reference's LAST deployable
# crate with no dedicated engine query — gpshub/src/handlers.rs takes
# JSON PUT position updates per device, models.rs keeps the keyed
# device store, and a staleness sweep tags devices that stopped
# reporting). ONE streaming composition of three certified pieces:
# the events table lands as a JSON position feed (dyadic lat/lon
# formulas off event_id, so the oracle replays them bit-exactly) →
# RestFeedDataSource polls it with the cursor as the SOURCE OFFSET in
# Spark's checkpoint (q118's exactly-once discipline, 2 polls + the
# empty drain) → position_store_state (native streaming-aggregate keyed
# device store, streaming/state.py) upserts into the snapshot/delta
# sink (q103's executor-side anti-join merge) → the q42 staleness
# classification against the feed clock (max ts − 30 min). The batch
# twin is latest-fix-per-device with cumulative update counts —
# equality holds IFF no poll duplicated or dropped rows AND the
# per-device state survived every micro-batch boundary.
# --------------------------------------------------------------------------

@_scratch_query
def q319_gpshub_ingest(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    import glob

    from odin_rs_spark.streaming.datasource import (
        drain_polling_source,
        register_rest_source,
    )
    from odin_rs_spark.streaming.pipelines import (
        latest_per_key_merge,
        read_sink_or_empty,
        snapshot_delta_sink,
    )
    from odin_rs_spark.streaming.state import position_store_state

    ev = _t(spark, sf_dir, "events")
    # dyadic position formulas (1/1024, 1/2048 degrees) — exact in
    # IEEE doubles on both engines
    feed = ev.select(
        F.col("event_id").alias("id"),
        F.col("user_id").cast("string").alias("device"),
        F.unix_micros("ts").alias("ts_us"),
        (F.lit(35.0) + (F.col("event_id") % 2048) * F.lit(1.0 / 1024)).alias("lat"),
        (F.lit(-100.0) + (F.col("event_id") % 4096) * F.lit(1.0 / 2048)).alias("lon"),
    )
    feed_dir = root + "/feed"
    feed.coalesce(1).write.mode("overwrite").json(feed_dir)
    feed_file = glob.glob(feed_dir + "/part-*")[0]
    # one job for both scalars the query needs from events (row count
    # for the poll budget, clock max for the staleness cutoff)
    n, max_ts = ev.agg(F.count(F.lit(1)), F.max("ts")).collect()[0]
    batch_limit = max(1, -(-n // 2))  # exactly 2 polls
    register_rest_source(spark)
    ddl = ("id BIGINT, device STRING, ts_us BIGINT, "
           "lat DOUBLE, lon DOUBLE")

    snap, delta = root + "/snapshot", root + "/delta"
    sink = snapshot_delta_sink(snap, delta, latest_per_key_merge(["key"]))

    def start_run():
        stream = (
            spark.readStream.format("odin_rest")
            .schema(ddl)
            .option("path", feed_file)
            .option("id_field", "id")
            .option("batch_limit", str(batch_limit))
            .load()
            .select(
                F.col("device").alias("key"),
                F.timestamp_micros(F.col("ts_us")).alias("ts"),
                "lat",
                "lon",
            )
        )
        store = position_store_state(stream.groupBy("key"))
        return (
            store.writeStream.foreachBatch(sink)
            .option("checkpointLocation", root + "/ckpt")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )

    with _stream_state_parallelism(spark, 8):
        drain_polling_source(start_run, expected_rows=n)
    kept = read_sink_or_empty(
        spark, snap,
        "key string, ts timestamp, lat double, lon double, "
        "n_updates bigint",
    )
    cutoff = F.lit(max_ts) - F.expr("INTERVAL 30 MINUTES")
    out = kept.select(
        "key", "ts",
        F.round("lat", 6).alias("lat"),
        F.round("lon", 6).alias("lon"),
        "n_updates",
        F.when(F.col("ts") < cutoff, F.lit("stale"))
        .otherwise(F.lit("live")).alias("status"),
    )
    return out


Q319_SQL = """
WITH pos AS (
  SELECT user_id::VARCHAR AS key, ts,
         35.0 + (event_id % 2048) * (0.0009765625::DOUBLE) AS lat,
         -100.0 + (event_id % 4096) * (0.00048828125::DOUBLE) AS lon
  FROM events),
ranked AS (
  SELECT key, ts, lat, lon,
         row_number() OVER (PARTITION BY key ORDER BY ts DESC) AS rn,
         count(*) OVER (PARTITION BY key) AS n
  FROM pos),
mx AS (SELECT max(ts) AS mt FROM events)
SELECT key, ts, round(lat, 6) AS lat, round(lon, 6) AS lon,
       n::BIGINT AS n_updates,
       CASE WHEN ts < mt - INTERVAL 30 MINUTE THEN 'stale'
            ELSE 'live' END AS status
FROM ranked, mx WHERE rn = 1
"""


# --------------------------------------------------------------------------
# q320 — PDF image XObjects (r11: the /DCTDecode seam wired — VERDICT
# r10 #5). The committed fixture mixes DCTDecode (JPEG, decoded by the
# in-repo baseline codec) and FlateDecode (raw 8-bit raster) image
# XObjects across three pages; pdf_images walks page /Resources →
# /XObject, decodes in-kernel and emits per-image pixel stats, so
# image-bearing PDF corpora keep their image modality next to the
# pdf_pages text leg. The Flate rows' means replay from the modular
# formulas in SQL (sum/12288 single-division, bit-equal to numpy);
# the JPEG rows are deterministic-given-bytes and pinned by
# tools/gen_pdf_image_fixture.py against the exact committed bytes.
# --------------------------------------------------------------------------

def q320_pdf_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    import odin_rs_spark
    from odin_rs_spark.sources.pdfcodec import pdf_images

    fixture = _os.path.join(
        _os.path.dirname(_os.path.abspath(odin_rs_spark.__file__)),
        "sources",
        "fixtures",
        "mixed_images.pdf",
    )
    files = spark.read.format("binaryFile").load(fixture)
    return pdf_images(files).select(
        "file", "page_no", "name", "width", "height", "bits",
        "colorspace",
        F.col("filter").alias("img_filter"),
        "decoded",
        F.round("mean_px", 4).alias("mean_px"),
    )


# --------------------------------------------------------------------------
# q321 — BigTIFF + floating-point-predictor DEM granule (r11b: the
# remaining real-world GeoTIFF forms driver-certified — magic-43
# 8-byte-offset headers are what >4 GB mosaics use, and predictor 3
# (TechNote-3 byte-plane shuffle + byte differencing) is what GDAL
# writes for float rasters). The committed tile is tiled 32x16 +
# DEFLATE + predictor 3 + BigTIFF with DYADIC heights (k·0.25, exact
# in f4), so the oracle replays the formula and the nodata mask
# bit-for-bit through header parse, tile walk, inflate, byte-cumsum
# un-predict and plane de-shuffle.
# --------------------------------------------------------------------------

def q321_bigtiff_dem(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    import odin_rs_spark
    from odin_rs_spark.sources.geotiff import geotiff_grid_cells

    fixture = _os.path.join(
        _os.path.dirname(_os.path.abspath(odin_rs_spark.__file__)),
        "sources",
        "fixtures",
        "dem_tile_c_big.tif",
    )
    files = spark.read.format("binaryFile").load(fixture)
    cells = geotiff_grid_cells(files, value_min=50.0)
    return cells.groupBy(F.col("y").alias("row_j")).agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.round(F.sum("value"), 6).alias("sum_height"),
        F.round(F.min("lat"), 6).alias("lat"),
        F.round(F.min("lon"), 6).alias("min_lon"),
        F.round(F.max("lon"), 6).alias("max_lon"),
    )


Q321_SQL = """
WITH g AS (
  SELECT i.range AS i, j.range AS j,
         ((i.range * 13 + j.range * 7) % 500) * 0.25 AS h
  FROM range(96) i, range(64) j
  WHERE (i.range + 3 * j.range) % 17 != 11),
c AS (
  SELECT j, h, 37.0 - j::DOUBLE * 0.01 AS lat,
         -118.08 + i::DOUBLE * 0.01 AS lon
  FROM g WHERE h >= 50.0)
SELECT j::INT AS row_j, count(*)::BIGINT AS n_cells,
       round(sum(h), 6) AS sum_height,
       round(min(lat), 6) AS lat,
       round(min(lon), 6) AS min_lon,
       round(max(lon), 6) AS max_lon
FROM c GROUP BY j
"""


# --------------------------------------------------------------------------
# q322 — modern-writer parquet decode (r11b: the page shapes
# parquet-mr 2.x / arrow actually emit TODAY — v2 data pages with
# uncompressed level blocks, DELTA_BINARY_PACKED ints,
# DELTA_BYTE_ARRAY front-coded strings, LZ4 hadoop-framed pages —
# every one a named rejection before this round). The committed
# fixture decodes through the hand-rolled page walker
# (sources/parquetmeta.parquet_column_values) inside mapInPandas; the
# oracle reads the SAME committed bytes through DuckDB's own
# independent parquet reader, so the comparison is decoder vs decoder
# on identical input — the strongest oracle form the repo has for a
# wire format.
# --------------------------------------------------------------------------

def _modern_parquet_fixture() -> str:
    import os as _os

    import odin_rs_spark

    return _os.path.join(
        _os.path.dirname(_os.path.abspath(odin_rs_spark.__file__)),
        "sources",
        "fixtures",
        "modern_lz4.parquet",
    )


def q322_modern_parquet_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from odin_rs_spark.deploy import ensure_shipped

    ensure_shipped(spark)
    files = spark.read.format("binaryFile").load(_modern_parquet_fixture())

    def decode(batches):
        from odin_rs_spark.sources.parquetmeta import (
            parquet_column_values,
            parse_parquet_footer,
        )

        for pdf in batches:
            for _, content in zip(pdf["path"], pdf["content"]):
                buf = bytes(content)
                meta = parse_parquet_footer(buf)
                for rg in range(len(meta["row_groups"])):
                    ids = parquet_column_values(buf, rg, "id")
                    names = parquet_column_values(buf, rg, "name")
                    vals = parquet_column_values(buf, rg, "val")
                    yield pd.DataFrame(
                        {"rg": rg, "id": ids, "name": names, "val": vals}
                    )

    rows = files.select("path", "content").mapInPandas(
        decode, "rg int, id bigint, name string, val double"
    )
    return rows.groupBy("rg").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("name").isNull().cast("int")).cast("bigint").alias(
            "n_null_name"
        ),
        F.sum("id").alias("sum_id"),
        F.min("name").alias("min_name"),
        F.max("name").alias("max_name"),
        F.round(F.sum("val"), 4).alias("sum_val"),
    )


def _q322_sql() -> str:
    # rg from id//300 (not row_number over an unspecified order): the
    # fixture writes sequential ids with row_group_size=300, so the
    # id-derived group IS the physical row group
    return f"""
WITH t AS (
  SELECT *, id // 300 AS rg
  FROM read_parquet('{_modern_parquet_fixture()}'))
SELECT rg::INT AS rg, count(*)::BIGINT AS n,
       sum(CASE WHEN name IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null_name,
       sum(id)::BIGINT AS sum_id,
       min(name) AS min_name,
       max(name) AS max_name,
       round(sum(val), 4) AS sum_val
FROM t GROUP BY rg
"""


Q322_SQL = _q322_sql()


# --------------------------------------------------------------------------
# q323 — ORC archive scan (r11b: the OTHER major lake columnar format
# — long-lived lakes routinely carry Hive-era ORC partitions next to
# parquet, and reading them in-kernel keeps that history on the same
# binaryFile walker path). Pure-Python ORC reader
# (sources/orccodec.py — protobuf footer/stripe walk, chunked
# compression framing over the in-repo codecs, RLEv1 + all four
# RLEv2 sub-encodings, present streams, dictionary + direct strings)
# over a committed pyarrow-written fixture (the INDEPENDENT encoder:
# a symmetric encode/decode bug cannot hide). The oracle replays the
# record formulas — equality holds IFF the protobuf parse, zstd chunk
# decode, RLEv2 and null placement are all correct.
# --------------------------------------------------------------------------

def q323_orc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    import odin_rs_spark
    from odin_rs_spark.sources.orccodec import orc_records

    fixture = _os.path.join(
        _os.path.dirname(_os.path.abspath(odin_rs_spark.__file__)),
        "sources",
        "fixtures",
        "events_archive.orc",
    )
    files = spark.read.format("binaryFile").load(fixture)
    recs = orc_records(
        files,
        {"id": "bigint", "kind": "string", "value": "double",
         "flag": "boolean"},
    )
    return recs.groupBy("kind", "compression").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").isNull().cast("int")).cast("bigint").alias(
            "n_null"
        ),
        F.round(F.sum("value"), 6).alias("sum_value"),
        F.sum(F.col("flag").cast("int")).cast("bigint").alias("n_flag"),
        F.min("id").alias("min_id"),
        F.max("id").alias("max_id"),
    )


Q323_SQL = """
WITH rec AS (
  SELECT i.range AS id,
         CASE i.range % 3 WHEN 0 THEN 'click' WHEN 1 THEN 'view'
                          ELSE 'purchase' END AS kind,
         CASE WHEN i.range % 11 = 0 THEN NULL
              ELSE (i.range % 97) * 0.25 END AS value,
         (i.range % 2 = 0) AS flag
  FROM range(600) i)
SELECT kind, 'zstd' AS compression, count(*)::BIGINT AS n,
       sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null,
       round(sum(value::DOUBLE), 6) AS sum_value,
       sum(CASE WHEN flag THEN 1 ELSE 0 END)::BIGINT AS n_flag,
       min(id)::BIGINT AS min_id,
       max(id)::BIGINT AS max_id
FROM rec GROUP BY kind
"""


Q320_SQL = """
WITH g AS (SELECT i.range AS i, j.range AS j FROM range(64) i, range(64) j),
fr AS (
  SELECT round(sum((i*3 + j*5) % 256 + (i*7 + j*11) % 256
                   + (i*13 + j*17) % 256)::DOUBLE / 12288.0, 4) AS m
  FROM g),
fg AS (
  SELECT round(sum((i*9 + j*2) % 251)::DOUBLE / 4096.0, 4) AS m FROM g)
SELECT file, page_no::INT AS page_no, name, width::INT AS width,
       height::INT AS height, bits::INT AS bits, colorspace, img_filter,
       decoded, mean_px::DOUBLE AS mean_px
FROM (
  SELECT 'mixed_images.pdf' AS file, 0 AS page_no, '/Im0' AS name,
         64 AS width, 64 AS height, 8 AS bits,
         '/DeviceGray' AS colorspace, '/DCTDecode' AS img_filter,
         true AS decoded, 127.6287 AS mean_px
  UNION ALL
  SELECT 'mixed_images.pdf', 0, '/Im1', 64, 64, 8, '/DeviceRGB',
         '/FlateDecode', true, (SELECT m FROM fr)
  UNION ALL
  SELECT 'mixed_images.pdf', 1, '/Im0', 64, 64, 8, '/DeviceRGB',
         '/DCTDecode', true, 126.1077
  UNION ALL
  SELECT 'mixed_images.pdf', 2, '/Im0', 64, 64, 8, '/DeviceGray',
         '/FlateDecode', true, (SELECT m FROM fg))
"""

# re-export EVERYTHING (incl. underscore helpers) down the part chain
__all__ = [n for n in dir() if not n.startswith("__")]
