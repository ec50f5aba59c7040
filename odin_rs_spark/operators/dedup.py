"""Deduplication operators for large-scale training-data pipelines.

Scale design (the 100 TB story):
- exact dedup: hash-groupBy on a normalized-text digest — one shuffle on
  the digest, map-side partial dedup first.
- near-dup: MinHash + LSH banding. Shingling and base hashing are JVM
  array expressions; the 128-permutation min runs as one Arrow-batched
  numpy pass per row (bit-identical values — see minhash_udf).
  Candidate generation is an equi-join on (band_id, band_hash) — the
  only shuffle keys — so the quadratic all-pairs problem becomes
  linear-ish in corpus size. Exact Jaccard verification runs only on
  candidates.
- simhash: 64-bit signature via md5-derived token hashes; near-dup =
  small hamming distance, blocked on signature chunks.

The LSH parameters (num_perm=128, bands=32, rows=4) give collision prob
≥ 1-6e-8 at J≥0.8 — effectively 100% recall at the default threshold, so
verified output matches an exact all-pairs oracle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.window import Window

from odin_rs_spark.functions.text import norm_text


def shingles_from_words(words: Column, n: int = 3) -> Column:
    """Distinct n-word shingles from a pre-materialized word array.

    IMPORTANT for performance: pass a COLUMN REFERENCE to an already
    projected word array, not an inline split expression — expressions
    embedded in a transform() lambda are re-evaluated per element (no CSE
    across lambda scopes), which turns one split per row into one split
    per shingle.
    """
    k = F.size(words)
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(k - F.lit(n), F.lit(0))),
        # try_element_at: short docs (< n words) index past the end; under
        # ANSI mode plain element_at would throw. concat_ws skips nulls.
        lambda i: F.concat_ws(
            " ", *[F.try_element_at(words, (i + F.lit(j + 1)).cast("int")) for j in range(n)]
        ),
    )
    return F.array_distinct(grams)


def _shingle_df(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, __sh) with words materialized in their own projection."""
    return (
        df.select(F.col(id_col), F.split(norm_text(F.col(text_col)), " ").alias("__w"))
        .select(F.col(id_col), shingles_from_words(F.col("__w"), n).alias("__sh"))
    )


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup on normalized text: keep the smallest id per group.

    min(id) GROUP BY norm_text is one hash-aggregate with map-side
    partials — at 100 TB, group on xxhash64(norm_text) first so the
    shuffle carries an 8-byte key instead of full documents.
    """
    keep = df.groupBy(norm_text(F.col(text_col)).alias("__norm")).agg(
        F.min(id_col).alias(id_col)
    )
    return df.join(keep.select(id_col), id_col, "left_semi")


_MERSENNE31 = (1 << 31) - 1  # prime modulus for the (a·x+b) mod p family


def _perm_coeffs(num_perm: int, seed: int = 42) -> list[tuple[int, int]]:
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, _MERSENNE31), rng.randrange(0, _MERSENNE31))
        for _ in range(num_perm)
    ]


def _perm_min(hashes: Column, a: int, b: int) -> Column:
    # (a·h32 + b) mod p over the 32-bit base hash: a < 2^31, h32 < 2^32 ⇒
    # product < 2^63, no ANSI long overflow; mod p breaks the monotonicity
    # that a plain affine map would have (which would make every
    # permutation pick the same shingle).
    h32 = F.lit(0xFFFFFFFF).cast("long")
    return F.array_min(
        F.transform(
            hashes,
            lambda h: F.pmod(
                h.bitwiseAND(h32) * F.lit(a).cast("long") + F.lit(b).cast("long"),
                F.lit(_MERSENNE31).cast("long"),
            ),
        )
    )


def minhash_signature(shingles: Column, num_perm: int = 128) -> Column:
    """Array of num_perm minhash values (pure-JVM expression form).

    Each shingle is xxhash64'd ONCE; the num_perm permutations are
    derived by multiply-add universal hashing over that base hash —
    128 long mul/adds per shingle instead of 128 string re-hashes
    (~40× cheaper, same collision statistics).

    NOTE: transform() lambdas here must stay single-argument — a 2-arg
    lambda makes Spark pass the element INDEX as the 2nd argument.
    Prefer `minhash_udf` on the hot path: 128 HOF array ops per row
    allocate an array each — the Arrow/numpy kernel computes the
    IDENTICAL values (same int64 math, no wraparound anywhere) in one
    vectorized (shingles × perms) pass per row.
    """
    base = F.transform(shingles, lambda s: F.xxhash64(s))
    coeffs = _perm_coeffs(num_perm)
    return F.array(*[_perm_min(base, a, b) for a, b in coeffs])


def minhash_udf(num_perm: int = 128):
    """pandas UDF: array<long> base shingle hashes → array<long>
    signature, bit-identical to `minhash_signature`'s permutation math:
    min over shingles of ((h & 0xFFFFFFFF)·a + b) mod p, p = 2^31-1.
    All intermediates < 2^63 → exact in int64 on both sides."""
    coeffs = _perm_coeffs(num_perm)
    A = np.array([a for a, _ in coeffs], dtype=np.int64)[None, :]
    B = np.array([b for _, b in coeffs], dtype=np.int64)[None, :]
    P = np.int64(_MERSENNE31)
    # never hit in practice (shingling emits ≥1 gram even for empty
    # text); deterministic placeholder keeps the UDF total
    empty = (B % P).ravel()

    @pandas_udf("array<long>")
    def _sig(base: pd.Series) -> pd.Series:
        out = []
        for h in base:
            if h is None or len(h) == 0:
                out.append(empty.copy())
                continue
            h32 = np.asarray(h, dtype=np.int64) & np.int64(0xFFFFFFFF)
            out.append(((h32[:, None] * A + B) % P).min(axis=0))
        return pd.Series(out)

    return _sig


def band_hash_udf(num_perm: int = 128, bands: int = 32):
    """pandas UDF: array<long> base shingle hashes → array<long> of
    `bands` band hashes (the LSH bucket keys), fusing the permutation
    mins and the banding into one numpy pass.

    Keeping the banding out of the JVM plan matters twice: at runtime
    (no 128-wide signature array crosses the Arrow boundary, only 32
    band keys) and at PLAN-COMPILE time — the expression-tree form (32
    structs × hash(4 element_at's)) costs seconds of driver-side
    analysis+Janino per fresh session, which dominated the measured
    query latency on small inputs. Band mixing is a Fibonacci-style
    iterated multiply-add on uint64; any deterministic injective-enough
    combiner works (equal 4-tuples → equal key is the only requirement
    pigeonhole blocking needs).
    """
    coeffs = _perm_coeffs(num_perm)
    A = np.array([a for a, _ in coeffs], dtype=np.int64)[None, :]
    B = np.array([b for _, b in coeffs], dtype=np.int64)[None, :]
    P = np.int64(_MERSENNE31)
    rows = num_perm // bands
    GOLD = np.uint64(0x9E3779B97F4A7C15)
    empty_sig = (B % P).ravel()

    def _bands(sig: np.ndarray) -> np.ndarray:
        g = sig.astype(np.uint64).reshape(bands, rows)
        acc = np.full(bands, GOLD, dtype=np.uint64)
        with np.errstate(over="ignore"):
            for r in range(rows):
                acc = (acc * GOLD) ^ g[:, r]
        return acc.view(np.int64)

    @pandas_udf("array<long>")
    def _bh(base: pd.Series) -> pd.Series:
        out = []
        for h in base:
            if h is None or len(h) == 0:
                out.append(_bands(empty_sig))
                continue
            h32 = np.asarray(h, dtype=np.int64) & np.int64(0xFFFFFFFF)
            sig = ((h32[:, None] * A + B) % P).min(axis=0)
            out.append(_bands(sig))
        return pd.Series(out)

    return _bh


def _banded_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int,
    num_perm: int,
    bands: int,
    parallelism: int | None,
    shingles: DataFrame | None,
) -> DataFrame:
    """(id, band, bhash) frame: the LSH bucket assignment shared by the
    candidate-pair and bucket-audit paths."""
    if parallelism:
        # shingle+hash compute is scan-bound CPU; a single-row-group
        # local parquet arrives as ONE partition — spread it first
        df = df.repartition(parallelism)
    # materialize shingles, then base hashes, each in their own projection:
    # an inline expression inside a transform() lambda is re-evaluated per
    # element (no CSE across lambda scopes) — measured 4× on this stage
    sh = shingles if shingles is not None else _shingle_df(df, id_col, text_col, shingle_n)
    base = sh.select(
        F.col(id_col),
        F.transform(F.col("__sh"), lambda s: F.xxhash64(s)).alias("__h"),
    )
    # permutation mins + banding fused in one Arrow/numpy kernel (see
    # band_hash_udf: both runtime and plan-compile-time win vs the
    # 128-HOF + 32-struct expression form)
    return base.select(
        F.col(id_col),
        F.posexplode_outer(band_hash_udf(num_perm, bands)(F.col("__h"))).alias(
            "band", "bhash"
        ),
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_perm: int = 128,
    bands: int = 32,
    parallelism: int | None = None,
    shingles: DataFrame | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """MinHash-LSH candidate pairs (id_a < id_b).

    signature → `bands` band-hashes → explode → self-join on
    (band, band_hash) → distinct pairs. The join is a plain equi-join
    Catalyst shuffles on the band bucket; distinct() dedups pairs that
    collide in several bands.

    `shingles` lets a caller share one materialized (id, __sh) frame
    across the candidate and verification stages (see near_dup_pairs).

    `max_bucket_size` is the 100 TB safety valve: in-bucket pair expansion
    is quadratic per bucket, which is fine for genuine LSH buckets (tiny by
    construction) but a corpus with millions of identical/boilerplate docs
    lands them in ONE bucket and the expansion never finishes. Buckets with
    more ids are dropped whole (their members are degenerate duplicates a
    cheap exact-dedup pass catches first — SURVEY's dedup ladder runs exact
    dedup before MinHash). Audit what was dropped with
    `lsh_oversized_buckets` on the same inputs.
    """
    banded = _banded_signatures(
        df, id_col, text_col, shingle_n, num_perm, bands, parallelism, shingles
    )
    # bucket-group instead of self-join: a self-join recomputes the whole
    # signature pipeline on BOTH sides (broadcast join defeats exchange
    # reuse); groupBy computes it once and shuffles only (band,bhash,id).
    return _bucket_pairs(banded, ["band", "bhash"], id_col, max_bucket_size)


def lsh_oversized_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_perm: int = 128,
    bands: int = 32,
    parallelism: int | None = None,
    shingles: DataFrame | None = None,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """(band, bhash, n_ids) for LSH buckets over the cap — the audit twin
    of `lsh_candidate_pairs(max_bucket_size=...)`: a pipeline that caps
    buckets silently reads as 'covered everything' when it didn't, so the
    dropped buckets get their own countable frame."""
    banded = _banded_signatures(
        df, id_col, text_col, shingle_n, num_perm, bands, parallelism, shingles
    )
    return (
        banded.groupBy("band", "bhash")
        .agg(F.count(F.lit(1)).alias("n_ids"))
        .filter(F.col("n_ids") > max_bucket_size)
    )


def _bucket_pairs(
    df: DataFrame,
    bucket_cols: list[str],
    id_col: str,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Distinct (id_a < id_b) pairs of ids sharing a bucket. One shuffle
    (the groupBy); pair expansion is a JVM array expression. Buckets above
    `max_bucket_size` (degenerate duplicates) are dropped before the
    quadratic expansion."""
    ids = F.array_sort(F.collect_set(F.col(id_col)))
    buckets = (
        df.groupBy(*bucket_cols).agg(ids.alias("__ids")).filter(F.size("__ids") > 1)
    )
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("__ids") <= max_bucket_size)
    pairs = F.flatten(
        F.transform(
            F.col("__ids"),
            lambda x, i: F.transform(
                F.slice(F.col("__ids"), i + F.lit(2), F.size(F.col("__ids"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        buckets.select(F.explode_outer(pairs).alias("__p"))
        .select("__p.id_a", "__p.id_b")
        .distinct()
    )


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.8,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard on candidate pairs; keep J >= threshold.

    jaccard = |A∩B| / |A∪B| over distinct word shingles, computed with
    array intersect/union (JVM). Output: (id_a, id_b, jaccard).
    """
    sh = shingles if shingles is not None else _shingle_df(df, id_col, text_col, shingle_n)
    out = (
        pairs.join(sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("__sh", "__sha"), "id_a")
        .join(sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("__sh", "__shb"), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("__sha", "__shb")).cast("double")
            / F.size(F.array_union("__sha", "__shb")).cast("double"),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("id_a", "id_b", "jaccard")
    )
    return out


def _jaccard_prefix_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int,
    threshold: float,
    parallelism: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Shared front of the exact-Jaccard prefix join: returns the
    persisted hashed-shingle frame (id, __sh) and the prefix inverted
    index (id, __sz, __g) under the ascending-document-frequency global
    shingle order."""
    from pyspark.storagelevel import StorageLevel

    if parallelism:
        df = df.repartition(parallelism)
    # hash shingles to 64-bit ints FIRST: every downstream stage — the
    # frequency shuffle, the per-doc ordered arrays, the prefix index,
    # and the verification intersect/union — then moves and compares
    # 8-byte longs instead of ~40-char strings (measured 7.5 s → ~3 s at
    # sf0.1). Jaccard over hashed shingles equals Jaccard over shingles
    # up to 64-bit collisions (p ≈ |sh|²/2⁶⁵ per doc ≈ 1e-14 — far below
    # fp-noise level).
    sh = (
        _shingle_df(df, id_col, text_col, shingle_n)
        .select(
            F.col(id_col),
            F.transform("__sh", lambda s: F.xxhash64(s)).alias("__sh"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    ex = sh.select(F.col(id_col), F.explode("__sh").alias("__g"))
    freq = ex.groupBy("__g").agg(F.count(F.lit(1)).alias("__f"))
    ranked = (
        ex.join(freq, "__g")
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("__f", "__g"))).alias("__ord"))
    )
    # required overlap = ceil(size·t), computed with an epsilon guard: if
    # the fp product of an exactly-integer real product rounds a hair
    # ABOVE the integer (e.g. 10*0.7 → 7.000000000000001), ceil would
    # gain 1 and the prefix would SHORTEN by one element — silently
    # losing candidate recall and breaking the exactness guarantee. The
    # guard only ever errs toward a LONGER prefix (more candidates,
    # never fewer).
    plen = (
        F.size("__ord")
        - F.ceil(F.size("__ord") * F.lit(float(threshold)) - F.lit(1e-9))
        + 1
    ).cast("int")
    prefix = ranked.select(
        F.col(id_col),
        F.size("__ord").alias("__sz"),
        F.explode(F.slice("__ord", F.lit(1), plen)).alias("__pg"),
    ).select(F.col(id_col), "__sz", F.col("__pg.__g").alias("__g"))
    return sh, prefix


def jaccard_prefix_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.8,
    min_bucket_size: int = 1000,
    parallelism: int | None = None,
) -> DataFrame:
    """(shingle_hash, n_ids, est_pairs) for prefix-index buckets at or
    above `min_bucket_size` — the audit twin of `jaccard_join_pairs`,
    mirroring `lsh_oversized_buckets`. Unlike the LSH path this operator
    must NOT cap buckets (a cap would break the exactness guarantee), so
    the audit is the safety valve: in-bucket pair expansion is quadratic
    in bucket occupancy, and a 100× corpus whose vocabulary head shifts
    (boilerplate becoming rare enough to enter prefixes) would otherwise
    go quadratic silently. est_pairs = n·(n−1)/2 per bucket is the
    expansion cost a planner would use to decide on a coarser shingle_n
    or a pre-pass exact dedup.
    """
    _, prefix = _jaccard_prefix_index(
        df, id_col, text_col, shingle_n, threshold, parallelism
    )
    return (
        prefix.groupBy("__g")
        .agg(F.count(F.lit(1)).alias("n_ids"))
        .filter(F.col("n_ids") >= min_bucket_size)
        .select(
            F.col("__g").alias("shingle_hash"),
            "n_ids",
            (F.col("n_ids") * (F.col("n_ids") - 1) / 2).cast("long").alias("est_pairs"),
        )
    )


def jaccard_join_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.8,
    parallelism: int | None = None,
) -> DataFrame:
    """EXACT n-gram Jaccard self-join (id_a < id_b, jaccard >= threshold)
    with prefix-filter blocking (the All-Pairs / PPJoin family:
    Bayardo et al. WWW'07, Xiao et al. WWW'08; MapReduce formulation in
    Vernica et al. SIGMOD'10).

    Unlike the MinHash path (probabilistic recall), this is exact. Under
    a global shingle order, J(A,B) >= t implies |A∩B| >= ceil(t·max(|A|,
    |B|)), and by the prefix-filtering lemma the two docs must then share
    one of their first |X| − ceil(t·|X|) + 1 shingles — so an inverted
    index over only those prefixes has recall 1. We order shingles by
    ascending corpus document-frequency (ties broken lexicographically),
    which pushes the boilerplate head of the vocabulary outside every
    prefix: that is what bounds bucket sizes WITHOUT the lossy
    max_bucket_size cap the LSH path needs (a cap here would break
    exactness).

    Shuffle shape at scale: explode+groupBy for document frequency
    (map-side combinable), one shuffle join attaching frequencies to the
    exploded shingle stream, one groupBy rebuilding per-doc
    frequency-sorted arrays, one groupBy over prefix shingles for
    candidates; verification then shuffles only candidate id pairs.
    Reference parity: same role as the reference's content-dedup pass but
    exact; cited for capability only (no counterpart algorithm there).
    """
    sh, prefix = _jaccard_prefix_index(df, id_col, text_col, shingle_n, threshold, parallelism)
    # pair expansion with the All-Pairs LENGTH filter fused in: members
    # sort by (set size, id), and since J >= t forces |A|/|B| >= t the
    # inner slice drops partners whose size ratio fails BEFORE the pair
    # ever materializes (division, not multiplication, so a boundary
    # ratio like 7/10 vs t=0.7 compares exactly). Exactness-preserving.
    tl = F.lit(float(threshold))
    buckets = (
        prefix.groupBy("__g")
        .agg(
            F.array_sort(
                F.collect_set(F.struct(F.col("__sz").alias("sz"), F.col(id_col).alias("id")))
            ).alias("__m")
        )
        .filter(F.size("__m") > 1)
    )
    pairs_arr = F.flatten(
        F.transform(
            F.col("__m"),
            lambda x, i: F.transform(
                F.filter(
                    F.slice(F.col("__m"), i + F.lit(2), F.size(F.col("__m"))),
                    lambda y: x["sz"].cast("double") / y["sz"] >= tl,
                ),
                lambda y: F.struct(
                    F.least(x["id"], y["id"]).alias("id_a"),
                    F.greatest(x["id"], y["id"]).alias("id_b"),
                ),
            ),
        )
    )
    cand = (
        buckets.select(F.explode(pairs_arr).alias("__p"))
        .select("__p.id_a", "__p.id_b")
        .distinct()
    )
    if parallelism:
        # same §2.5 fix as the containment path: the verification is
        # CPU-bound (array intersect/union per pair) over kilobytes of
        # shuffle, and AQE's byte-based coalescing was running it at
        # ONE task (measured 1.8 s single-task CPU at sf0.1); pin the
        # candidate frame to the caller's width
        cand = cand.repartition(parallelism)
    return jaccard_pairs(
        df, cand, id_col, text_col, shingle_n, threshold, shingles=sh
    )


def near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.8,
    num_perm: int = 128,
    bands: int = 32,
    parallelism: int | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """MinHash-LSH blocked + exactly-verified near-duplicate pairs.

    Equivalent (at ≥ 1-1e-7 recall for J≥0.8) to exact all-pairs Jaccard —
    which is what the DuckDB oracle computes — while doing
    O(corpus · bands) work instead of O(corpus²).
    """
    if parallelism:
        # one repartition feeds BOTH the candidate and the verification
        # stage (a single-row-group local scan would otherwise run both
        # single-task)
        df = df.repartition(parallelism)
    # shingling runs ONCE: the candidate stage and both join sides of the
    # verification stage share a persisted (id, __sh) frame. persist (not
    # localCheckpoint) keeps lineage, so an evicted block recomputes
    # instead of failing the stage; MEMORY_AND_DISK spills rather than
    # re-shingling the corpus twice more.
    from pyspark.storagelevel import StorageLevel

    sh = _shingle_df(df, id_col, text_col, shingle_n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    cand = lsh_candidate_pairs(
        df,
        id_col,
        text_col,
        shingle_n,
        num_perm,
        bands,
        shingles=sh,
        max_bucket_size=max_bucket_size,
    )
    return jaccard_pairs(
        df, cand, id_col, text_col, shingle_n, threshold, shingles=sh
    )


def near_dup_join(
    new: DataFrame,
    base: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.8,
    num_perm: int = 128,
    bands: int = 32,
    parallelism: int | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Asymmetric near-dup join between two corpora: (new_id, base_id,
    jaccard >= threshold) — the incremental-ingestion primitive ("is
    this crawl doc a near-dup of anything already kept?") that the
    self-join operators can't express without re-pairing history with
    itself.

    Both sides get banded MinHash signatures; candidates come from the
    (band, bhash) equi-join; exact Jaccard verifies. Scale shape: at
    100 TB the base side's banded index is computed ONCE and persisted
    bucket-partitioned (it's pure column math on the base corpus), so
    each incoming batch only signatures itself and equi-joins the index
    — incremental cost is O(batch), not O(history). `max_bucket_size`
    caps bucket occupancy on BOTH sides (a boilerplate bucket dominated
    by the incoming batch would otherwise still join every new id
    against up to `cap` base ids per band); audit what was dropped with
    `near_dup_join_oversized_buckets` on the same inputs.
    """
    from pyspark.storagelevel import StorageLevel

    if parallelism:
        new = new.repartition(parallelism)
        base = base.repartition(parallelism)
    sh_n = _shingle_df(new, id_col, text_col, shingle_n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    sh_b = _shingle_df(base, id_col, text_col, shingle_n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    bn = _banded_signatures(
        new, id_col, text_col, shingle_n, num_perm, bands, None, sh_n
    ).select(F.col(id_col).alias("new_id"), "band", "bhash")
    bb = _banded_signatures(
        base, id_col, text_col, shingle_n, num_perm, bands, None, sh_b
    ).select(F.col(id_col).alias("base_id"), "band", "bhash")
    if max_bucket_size is not None:
        bn = _cap_bucket_occupancy(bn, max_bucket_size)
        bb = _cap_bucket_occupancy(bb, max_bucket_size)
    cand = bn.join(bb, ["band", "bhash"]).select("new_id", "base_id").distinct()
    return (
        cand.join(
            sh_n.select(F.col(id_col).alias("new_id"), F.col("__sh").alias("__sha")),
            "new_id",
        )
        .join(
            sh_b.select(F.col(id_col).alias("base_id"), F.col("__sh").alias("__shb")),
            "base_id",
        )
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("__sha", "__shb")).cast("double")
            / F.size(F.array_union("__sha", "__shb")).cast("double"),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("new_id", "base_id", "jaccard")
    )


def _cap_bucket_occupancy(banded: DataFrame, max_bucket_size: int) -> DataFrame:
    """Drop whole (band, bhash) buckets whose occupancy exceeds the cap
    (degenerate boilerplate buckets; the dedup ladder's exact pass owns
    those). Window count, one shuffle on the bucket key."""
    w = Window.partitionBy("band", "bhash")
    return (
        banded.withColumn("__bn", F.count(F.lit(1)).over(w))
        .filter(F.col("__bn") <= max_bucket_size)
        .drop("__bn")
    )


def near_dup_join_oversized_buckets(
    new: DataFrame,
    base: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_perm: int = 128,
    bands: int = 32,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """(band, bhash, n_new, n_base) for buckets the capped
    `near_dup_join` drops on EITHER side — the audit twin of the join
    path, mirroring `lsh_oversized_buckets` for the self-join: silent
    truncation reads as 'covered everything' when it didn't."""
    bn = _banded_signatures(new, id_col, text_col, shingle_n, num_perm, bands, None, None)
    bb = _banded_signatures(base, id_col, text_col, shingle_n, num_perm, bands, None, None)
    cn = bn.groupBy("band", "bhash").agg(F.count(F.lit(1)).alias("n_new"))
    cb = bb.groupBy("band", "bhash").agg(F.count(F.lit(1)).alias("n_base"))
    return (
        cn.join(cb, ["band", "bhash"], "full_outer")
        .select(
            "band",
            "bhash",
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
            F.coalesce("n_base", F.lit(0)).alias("n_base"),
        )
        .filter(
            (F.col("n_new") > max_bucket_size) | (F.col("n_base") > max_bucket_size)
        )
    )


def near_dup_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.8,
    parallelism: int | None = None,
) -> DataFrame:
    """Drop near-duplicates: remove any doc that matches a smaller-id doc
    (single-linkage step; iterate for full transitive clustering)."""
    pairs = near_dup_pairs(
        df, id_col, text_col, shingle_n, threshold, parallelism=parallelism
    )
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


def repeated_substring_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window_k: int = 8,
    min_occurrences: int = 2,
    portable: bool = False,
) -> DataFrame:
    """Repeated-substring (ExactSubstr-style) duplicate span detection:
    the word-window formulation of Lee et al., *Deduplicating Training
    Data Makes Language Models Better* (ACL 2022) — any k-token window
    whose hash occurs >= min_occurrences times corpus-wide (including
    within one doc) is a duplicated window; overlapping/adjacent
    duplicated windows merge into maximal spans, the units a substring
    dedup would cut.

    Spark formulation instead of their suffix array: positional k-gram
    rolling hashes -> corpus-wide occurrence counts (map-side
    combinable groupBy on the 8-byte hash) -> join the duplicated
    hashes back (second hash shuffle) -> per-doc island merge (one
    doc-keyed window; consecutive duplicated positions with gap <= k
    belong to one span). Three narrow shuffles of (id, pos, hash)
    triples; documents themselves never shuffle.

    Output: (id, span_start, span_end_excl, n_windows) per maximal
    span — span token length = span_end_excl - span_start.

    The window hash is only a grouping key (spans are identical for any
    collision-free hash), so the default is the engine hash; portable=
    True switches to md5-derived `portable_hash60` for a cross-engine
    fingerprint store.
    """
    hfn = portable_hash60 if portable else F.xxhash64
    words = F.split(norm_text(F.col(text_col)), " ")
    base = df.select(F.col(id_col), words.alias("__w")).filter(
        F.size("__w") >= window_k
    )
    # positional (NOT distinct) k-gram hashes: pos i covers words [i, i+k)
    grams = F.transform(
        F.sequence(F.lit(0), F.size("__w") - window_k),
        lambda i: hfn(
            F.concat_ws(
                " ",
                *[
                    F.try_element_at("__w", (i + F.lit(j + 1)).cast("int"))
                    for j in range(window_k)
                ],
            )
        ),
    )
    pos = base.select(
        F.col(id_col), F.posexplode(grams).alias("pos", "__h")
    )
    dup_h = (
        pos.groupBy("__h")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= min_occurrences)
        .select("__h")
    )
    dup_pos = pos.join(dup_h, "__h").select(F.col(id_col), "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    spans = (
        dup_pos.withColumn("__prev", F.lag("pos").over(w))
        .withColumn(
            "__new",
            F.when(
                F.col("__prev").isNull()
                | (F.col("pos") - F.col("__prev") > window_k),
                1,
            ).otherwise(0),
        )
        .withColumn("__island", F.sum("__new").over(w))
        .groupBy(id_col, "__island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + window_k).alias("span_end_excl"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .drop("__island")
    )
    return spans


def scaled_parallelism(
    spark: SparkSession,
    n_rows: int,
    rows_per_task: int = 512,
    floor: int = 2,
) -> int:
    """Shuffle/repartition width scaled to DATA VOLUME instead of the
    session default. Fixed per-task latency (scheduling, codegen,
    shuffle-file setup) dominates below a few hundred corpus rows per
    task, so a 5k-doc MinHash pipeline on 32 partitions wastes ~1 s of
    pure overhead (measured: q81 3.06 s -> 2.05 s at sf0.1 by scoping
    to 8-10 tasks). Large inputs are capped at defaultParallelism —
    at 100 TB this returns the cluster width unchanged, so the scaling
    only ever trims the small end, never starves the big one."""
    import math

    hi = spark.sparkContext.defaultParallelism
    return max(floor, min(hi, math.ceil(n_rows / rows_per_task)))


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 50,
    driver_threshold: int | None = 100_000,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    (Kiveris et al., *Connected Components in MapReduce and Beyond*,
    SoCC 2014). Returns (node, component) where component is the
    minimum node id reachable — the transitive closure the single-
    linkage step in `near_dup_dedup` only approximates.

    Scale design: each half-round is ONE shuffle (a window min over the
    node key) — no joins, no driver-side graph. Converges in
    O(log² n) rounds on any graph (typically 2-3 for near-dup clusters,
    which are low-diameter). Each round materializes via eager
    localCheckpoint so lineage doesn't re-run the (expensive) edge
    producer per iteration; convergence is detected with a cheap
    order-independent aggregate fingerprint, not a collect of edges.

    Adaptive small-graph path: a near-dup edge list is tiny relative to
    its corpus (duplicates are the exception), and the iterative path
    costs ~4 fixed-latency jobs per round. When the (deduplicated) edge
    count is ≤ driver_threshold the closure runs as union-find on the
    driver instead — the same economics as a broadcast-join threshold.
    The default (100k edges ≈ a few MB of Row objects plus the
    union-find dict — comfortably inside any driver heap; VERDICT r7
    asked the old 1M default be cut an order of magnitude) bounds the
    one collect this module allows itself; raise it only with driver
    memory to match (~60-100 B/edge collected). Pass
    driver_threshold=None to force the distributed path.
    """
    w = Window.partitionBy("u")

    # iteration shuffle width, scoped to the edge volume via EXPLICIT
    # repartition on the shuffle keys (ADVICE r6: mutating the session
    # spark.sql.shuffle.partitions leaked the scoped width into any
    # concurrent query on the same session). A hash repartition on the
    # window/groupBy key satisfies the downstream ClusteredDistribution
    # at ANY partition count, so the window and the distinct's final
    # aggregate both run at `scoped` width with no extra exchange.
    scoped = 1  # overwritten after the edge count below, before any use

    def _large_star(e: DataFrame) -> DataFrame:
        # bidirect, then for every node u connect strictly-larger
        # neighbors to m = min(neighborhood ∪ {u})
        b = e.union(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).repartition(scoped, "u")
        m = F.least(F.min("v").over(w), F.col("u"))
        return (
            b.withColumn("__m", m)
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("__m").alias("v"))
            .repartition(scoped, "u", "v")
            .distinct()
        )

    def _small_star(e: DataFrame) -> DataFrame:
        # input oriented u > v (large-star output guarantees it);
        # connect u and all its smaller neighbors to the minimum
        b = e.repartition(scoped, "u").withColumn("__m", F.min("v").over(w))
        links = b.filter(F.col("v") != F.col("__m")).select(
            F.col("v").alias("u"), F.col("__m").alias("v")
        )
        self_links = b.select(F.col("u"), F.col("__m").alias("v"))
        return (
            links.union(self_links).repartition(scoped, "u", "v").distinct()
        )

    def _fingerprint(e: DataFrame) -> tuple[int, int]:
        # bit_xor: order-independent and immune to ANSI long overflow
        # (sum of 64-bit hashes would throw)
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
        ).collect()[0]
        return row["n"], row["h"]

    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_e = e.count()
    if driver_threshold is not None and n_e <= driver_threshold:
        return _union_find_components(e)
    # scope the iteration shuffles to the EDGE volume (q81 drift, r5):
    # each half-round is a window shuffle over the edge list, whose size
    # is fixed here — the session default is sized for corpus scans, and
    # 32 state-sized partitions x O(log^2 n) rounds is pure fixed-task
    # latency.
    spark = e.sparkSession
    scoped = scaled_parallelism(spark, n_e, rows_per_task=50_000, floor=8)
    prev = None
    for _ in range(max_iter):
        e = _small_star(_large_star(e)).localCheckpoint(eager=True)
        fp = _fingerprint(e)
        if fp == prev:
            break
        prev = fp
    # converged edge set is a star forest: every non-root points at its
    # component minimum; roots map to themselves
    members = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = e.select(F.col("v").alias("node"), F.col("v").alias("component"))
    return members.union(roots).distinct()


def _union_find_components(e: DataFrame) -> DataFrame:
    """Driver-side closure for small edge lists: path-compressed
    union-find, then component = min node id per root. Output schema
    matches the distributed path: (node, component) typed like u/v."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    rows = e.collect()
    for r in rows:
        u, v = r["u"], r["v"]
        for n in (u, v):
            if n not in parent:
                parent[n] = n
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
    comp_min: dict = {}
    for n in parent:
        r = find(n)
        m = comp_min.get(r)
        if m is None or n < m:
            comp_min[r] = n
    out = [(n, comp_min[find(n)]) for n in parent]
    schema = (
        f"node {e.schema['u'].dataType.simpleString()}, "
        f"component {e.schema['v'].dataType.simpleString()}"
    )
    return e.sparkSession.createDataFrame(out, schema)


def near_dup_clusters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.8,
    parallelism: int | None = None,
) -> DataFrame:
    """Transitive near-duplicate clusters: (doc_id, cluster_id) for every
    doc with at least one near-dup, cluster_id = min doc id reachable
    through the J ≥ threshold pair graph (full transitive closure, not
    just direct pairs — what a corpus dedup actually keeps one doc per)."""
    pairs = near_dup_pairs(
        df, id_col, text_col, shingle_n, threshold, parallelism=parallelism
    )
    comp = connected_components(pairs, "id_a", "id_b")
    return comp.select(
        F.col("node").alias(id_col), F.col("component").alias("cluster_id")
    )


def portable_hash60(c: Column) -> Column:
    """60-bit cross-engine hash: first 15 hex chars of md5 as an int.

    Deterministic and reproducible in any engine with md5 — DuckDB:
    CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT); Python:
    int(hashlib.md5(x).hexdigest()[:15], 16). Always ≥ 0 and < 2^60,
    so arithmetic on it never overflows int64 (ANSI-safe). Use the
    engine hash (xxhash64) instead when cross-engine stability isn't
    needed — it's ~3× cheaper.
    """
    return F.conv(F.substring(F.md5(c.cast("binary")), 1, 15), 16, 10).cast("long")


def simhash64(
    text: Column | str, token_pattern: str = r"\s+", num_bits: int = 60
) -> Column:
    """SimHash signature from word tokens (default 60 bits, portable).

    Each token hashes with `portable_hash60`; signature bit j is the
    sign of Σ_tokens (2·bit_j − 1). Expressed as a JVM aggregate over a
    num_bits-slot counter array — no Python, no shuffle. The md5-based
    token hash makes the signature engine-independent, so the DuckDB
    oracle reproduces it bit-for-bit (and fingerprints survive engine
    migrations — a real property for a dedup store, worth md5's ~3×
    cost over xxhash64).
    """
    if num_bits > 60:
        raise ValueError("num_bits > 60 would overflow signed int64 assembly")
    c = F.col(text) if isinstance(text, str) else text
    # stage tokens → hashes as separate array columns: an inline hash
    # expression inside the bit-loop lambda would re-evaluate the md5
    # once per BIT per token (no CSE across lambda scopes)
    toks = F.split(norm_text(c), token_pattern)
    hashes = F.transform(toks, portable_hash60)
    bitvec = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), num_bits),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                F.sequence(F.lit(0), F.lit(num_bits - 1)),
                lambda j: F.getbit(h, j) * 2 - 1,
            ),
            lambda a, b: a + b,
        ),
    )
    sig = F.lit(0).cast("long")
    for j in range(num_bits):
        # shiftleft needs a literal count, so assemble driver-side; with
        # num_bits ≤ 60 every bit value stays positive int64
        sig = sig.bitwiseOR(
            F.when(
                F.element_at(bitvec, j + 1) > 0, F.lit(1 << j).cast("long")
            ).otherwise(F.lit(0).cast("long"))
        )
    return sig


def simhash_udf(num_bits: int = 60):
    """pandas UDF: NORMALIZED text (norm_text output) → simhash,
    bit-identical to `simhash64`: token hash = first 15 md5 hex chars as
    int, signature bit j = sign of Σ_tokens (2·bit_j(h) − 1) > 0.

    Normalization stays a JVM expression upstream (Python str.lower and
    java lower can disagree on exotic unicode); the UDF only splits on
    the single spaces norm_text guarantees and does one (tokens × bits)
    numpy pass per doc. The expression form of simhash64 costs ~0.7 ms
    per doc (60-slot HOF counter loop per token, no codegen) — this is
    ~20× cheaper and keeps the portable-md5 property the oracle replays.
    """
    import hashlib

    shifts = np.arange(num_bits, dtype=np.int64)

    @pandas_udf("long")
    def _sh(norm: pd.Series) -> pd.Series:
        out = np.zeros(len(norm), dtype=np.int64)
        for i, t in enumerate(norm):
            toks = ("" if t is None else t).split(" ")
            hs = np.fromiter(
                (
                    int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
                    for tok in toks
                ),
                dtype=np.int64,
                count=len(toks),
            )
            counts = (((hs[:, None] >> shifts[None, :]) & np.int64(1)) * 2 - 1).sum(
                axis=0
            )
            out[i] = ((counts > 0).astype(np.int64) << shifts).sum()
        return pd.Series(out)

    return _sh


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    num_bits: int = 60,
    parallelism: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ max_hamming.

    Blocking: split the signature into max_hamming+1 chunks — by
    pigeonhole any pair within the distance shares at least one exact
    chunk, so candidates come from equi-joins on (chunk_idx, chunk_val).
    The oracle cross-check is the EXACT all-pairs hamming join, so this
    verifies the blocking recall too.
    """
    nchunks = max_hamming + 1
    width = num_bits // nchunks
    if parallelism:
        df = df.repartition(parallelism)
    sig = df.select(
        F.col(id_col), norm_text(F.col(text_col)).alias("__norm")
    ).select(F.col(id_col), simhash_udf(num_bits)(F.col("__norm")).alias("__sig"))
    chunks = sig.select(
        id_col,
        "__sig",
        F.explode_outer(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("ci"),
                        F.shiftrightunsigned(F.col("__sig"), i * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("cv"),
                    )
                    for i in range(nchunks)
                ]
            )
        ).alias("__c"),
    ).select(id_col, "__sig", "__c.ci", "__c.cv")
    # bucket-group (see _bucket_pairs): one signature computation, one
    # shuffle; pack (id, sig) into a struct so the hamming check needs
    # no join back against the signature table
    packed = F.array_sort(
        F.collect_set(F.struct(F.col(id_col).alias("id"), F.col("__sig").alias("sig")))
    )
    buckets = (
        chunks.groupBy("ci", "cv").agg(packed.alias("__e")).filter(F.size("__e") > 1)
    )
    # hamming-filter INSIDE the expansion: bucket membership is an 8-bit
    # chunk collision, so most in-bucket candidates fail the distance
    # check — testing bit_count on the packed longs first means the
    # (id_a, id_b, hamming) structs materialize only for survivors
    # (measured 4.8M candidate structs -> 14k at sf0.1, 2.5 s -> 0.7 s)
    mh = F.lit(max_hamming)
    pairs = F.flatten(
        F.transform(
            F.col("__e"),
            lambda x, i: F.transform(
                F.filter(
                    F.slice(F.col("__e"), i + F.lit(2), F.size(F.col("__e"))),
                    lambda y: F.bit_count(x["sig"].bitwiseXOR(y["sig"])) <= mh,
                ),
                lambda y: F.struct(
                    x["id"].alias("id_a"),
                    y["id"].alias("id_b"),
                    F.bit_count(x["sig"].bitwiseXOR(y["sig"])).alias("hamming"),
                ),
            ),
        )
    )
    return (
        buckets.select(F.explode_outer(pairs).alias("__p"))
        .select("__p.id_a", "__p.id_b", "__p.hamming")
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------------------------
# Bloom-filter membership (approximate contamination / dedup blocklists).
# At 100 TB the exact shingle equi-join (corpus.contamination) shuffles
# every (doc, shingle-hash) pair; a Bloom filter compresses the benchmark
# side to a fixed bitmap that BROADCASTS, so the probe is a map-side
# operation with zero shuffle of the corpus — the classic trade: a
# tunable false-positive rate (never false negatives) for a join-free
# plan. The bitmap is plain rows (word_idx, word) built with bit_or, so
# the whole structure — build and probe — replays exactly in ANSI SQL.
# ---------------------------------------------------------------------------

BLOOM_BITS_PER_WORD = 60  # masks stay < 2^60: shifting never hits the sign bit


def _bloom_positions(h: Column, m_bits: int, k: int) -> list[Column]:
    """k probe positions by double hashing (Kirsch-Mitzenmacher:
    p_i = (h1 + i*h2) mod m preserves the asymptotic FP rate of k
    independent hashes). h is a 60-bit portable hash; h1/h2 derive from
    its low/high halves (integer shift — no float step whose rounding
    could diverge between engines) so both are engine-reproducible. h2
    is forced odd so it never degenerates to a constant probe when m is
    even."""
    h1 = h % m_bits
    h2 = (F.shiftright(h, 30) % m_bits) * 2 + 1
    return [((h1 + F.lit(i) * h2) % m_bits).cast("long") for i in range(k)]


def bloom_build(
    keys: DataFrame,
    key_col: str,
    m_bits: int = 61440,
    k: int = 4,
    hashed: bool = False,
) -> DataFrame:
    """Build a Bloom bitmap from a key column (values hashed with
    `portable_hash60`; pass hashed=True when the column already holds a
    60-bit portable hash — lets callers hash long keys ONCE upstream and
    shuffle 8-byte values instead of strings). Output: (word_idx long,
    word long) rows, one per SET 60-bit word — i.e. at most
    ceil(m_bits/60) rows regardless of input size, safely broadcastable.
    m_bits=61440 (1 KiB of words) at k=4 holds ~4k keys at ~1% FP; size
    m ≈ -n·ln(p)/ln(2)² for target p.
    """
    h = F.col(key_col) if hashed else portable_hash60(F.col(key_col).cast("string"))
    pos = F.explode(F.array(*_bloom_positions(h, m_bits, k))).alias("__p")
    return (
        # NULL keys hash to NULL positions → a (word_idx=NULL) row that
        # crashes the probe's dense fill; a NULL key has no membership
        # semantics, so drop it here
        keys.filter(F.col(key_col).isNotNull())
        .select(pos)
        .select(
            F.expr(f"__p div {BLOOM_BITS_PER_WORD}").alias("word_idx"),
            # SQL expr: the Python shiftleft() API only takes literal bits
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(__p % {BLOOM_BITS_PER_WORD} AS INT))"
            ).alias("__m"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("__m").alias("word"))
    )


def bloom_probe(
    df: DataFrame,
    key_col: str,
    bloom: DataFrame,
    m_bits: int = 61440,
    k: int = 4,
    flag_col: str = "maybe_member",
    hashed: bool = False,
) -> DataFrame:
    """Probe a Bloom bitmap: adds `flag_col` — true iff ALL k probe bits
    are set (possible member; false = definitely absent).

    The bitmap is a VALUE, not a relation: by construction it has at
    most ceil(m_bits/60) rows (~8 KiB at the default m), so it collects
    once into a dense literal array — a bounded driver materialization,
    same contract as the PQ codebook (`similarity.py`) — and the probe
    compiles to a pure projection: element_at(lit_words, word_idx) plus
    k bit tests. Zero joins, zero shuffles, zero re-computation of the
    build subplan. (Earlier drafts — explode(k)→broadcast-join→groupBy,
    then k broadcast joins — either re-shuffled the probe stream or
    replicated the bitmap build per join; at 100 TB corpus-side
    zero-shuffle membership is the entire point of the Bloom screen.)
    """
    n_words = (m_bits + BLOOM_BITS_PER_WORD - 1) // BLOOM_BITS_PER_WORD
    dense = [0] * n_words
    for r in bloom.collect():  # bounded: <= n_words rows by construction
        dense[int(r["word_idx"])] = int(r["word"])
    # single array Literal (not CreateArray of ~1k children) — keeps the
    # plan tree O(1) nodes for the optimizer; see cms_query for numbers
    words_lit = F.lit([int(wv) for wv in dense])

    h = F.col(key_col) if hashed else portable_hash60(F.col(key_col).cast("string"))
    out = df.withColumn("__bloom_words", words_lit)
    hit_cols: list[Column] = []
    for i, p in enumerate(_bloom_positions(h, m_bits, k)):
        pos, widx = f"__p{i}", f"__widx{i}"
        out = (
            out.withColumn(pos, p)
            # p < m_bits << 2^53, so the fp division is exact before floor
            .withColumn(widx, (F.floor(F.col(pos) / BLOOM_BITS_PER_WORD) + 1).cast("int"))
        )
        hit_cols.append(
            F.expr(
                f"(shiftright(element_at(__bloom_words, {widx}),"
                f" CAST({pos} % {BLOOM_BITS_PER_WORD} AS INT)) & 1) = 1"
            )
        )
    flag = hit_cols[0]
    for c in hit_cols[1:]:
        flag = flag & c
    # NULL key → NULL probe positions → NULL flag, which silently drops
    # the row from BOTH filter(flag) and filter(~flag). bloom_build
    # skips NULL keys, so a NULL key was never inserted: the defined
    # answer is "definitely absent" (false)
    flag = F.coalesce(flag, F.lit(False))
    drop = ["__bloom_words"] + [c for i in range(k) for c in (f"__p{i}", f"__widx{i}")]
    return out.withColumn(flag_col, flag).drop(*drop)


def containment_join_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.6,
    parallelism: int | None = None,
) -> DataFrame:
    """EXACT directed containment self-join: pairs (a, b), a != b, with
    C(a→b) = |S(a)∩S(b)| / |S(a)| >= threshold — "most of a's n-gram set
    appears inside b". This is the asymmetric sibling of
    `jaccard_join_pairs`: Jaccard misses a short quote swallowed by a
    long document (the union is dominated by b), while containment is
    exactly the "b subsumes a" test a training pipeline runs to drop
    excerpts, quote-farms, and wrapper pages around already-kept text.

    Blocking is the asymmetric prefix filter (Xiao et al. WWW'08 §5's
    containment variant): C(a→b) >= t forces |S(a)∩S(b)| >=
    ceil(t·|S(a)|), so under ANY global shingle order a must share one
    of its first |S(a)| − ceil(t·|S(a)|) + 1 shingles with *some*
    shingle of b — the probe side (a) indexes only prefixes, the build
    side (b) indexes its FULL shingle set. Recall 1, no cap.

    Scale shape: same three narrow shuffles as the Jaccard path for the
    df-ordered prefix index, plus one equi-join of prefix postings
    against full postings. The full side is the scale risk — a
    boilerplate shingle's posting list is its document frequency, and
    the df-ascending order only keeps the head out of PREFIXES, not out
    of the full index. The join cost is Σ_g pref(g)·df(g), so hot
    shingles only hurt when they also enter someone's prefix; audit
    with `containment_postings_audit` before raising corpus size 100×.
    A length filter (|S(b)| >= ceil(t·|S(a)|)) fuses into the join.

    Output: (id_a, id_b, containment) — directed, a's set covered by b.
    """
    sh, prefix = _jaccard_prefix_index(
        df, id_col, text_col, shingle_n, threshold, parallelism
    )
    full = sh.select(
        F.col(id_col).alias("__idb"),
        F.size("__sh").alias("__szb"),
        F.explode("__sh").alias("__g"),
    )
    need = F.ceil(F.col("__sz") * F.lit(float(threshold)) - F.lit(1e-9))
    cand = (
        prefix.join(full, "__g")
        .filter(F.col(id_col) != F.col("__idb"))
        .filter(F.col("__szb") >= need)
        .select(F.col(id_col).alias("id_a"), F.col("__idb").alias("id_b"))
        .distinct()
    )
    if parallelism:
        # the verification below is CPU-bound (one array_intersect per
        # candidate pair) over kilobytes of shuffle data, so AQE's
        # byte-based coalescing runs it at a handful of tasks (measured
        # 4 tasks / 2.3 s of the query's wall at sf0.1 on 32 cores);
        # pin the pair frame to the caller's width instead — the
        # containment candidate set is orders of magnitude larger than
        # the prefix-filter survivors of the Jaccard path, so the
        # starved stage is real work, not overhead
        cand = cand.repartition(parallelism)
    out = (
        cand.join(
            sh.select(F.col(id_col).alias("id_a"), F.col("__sh").alias("__sha")),
            "id_a",
        )
        .join(
            sh.select(F.col(id_col).alias("id_b"), F.col("__sh").alias("__shb")),
            "id_b",
        )
        .withColumn(
            "containment",
            F.size(F.array_intersect("__sha", "__shb")).cast("double")
            / F.size("__sha").cast("double"),
        )
        .filter(F.col("containment") >= F.lit(float(threshold)))
        .select("id_a", "id_b", "containment")
    )
    return out


def containment_postings_audit(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.6,
    min_cost: int = 1000,
    parallelism: int | None = None,
) -> DataFrame:
    """(shingle_hash, n_prefix, n_full, est_candidates) for shingles
    whose prefix×full join cost meets `min_cost` — the audit twin of
    `containment_join_pairs`, mirroring `jaccard_prefix_buckets` /
    `lsh_oversized_buckets`. est_candidates = n_prefix·n_full is the
    exact candidate-row count the join materializes for that shingle;
    a corpus whose boilerplate starts leaking into prefixes shows up
    here before it shows up as a blown shuffle."""
    sh, prefix = _jaccard_prefix_index(
        df, id_col, text_col, shingle_n, threshold, parallelism
    )
    pc = prefix.groupBy("__g").agg(F.count(F.lit(1)).alias("n_prefix"))
    fc = (
        sh.select(F.explode("__sh").alias("__g"))
        .groupBy("__g")
        .agg(F.count(F.lit(1)).alias("n_full"))
    )
    return (
        pc.join(fc, "__g")
        .withColumn("est_candidates", F.col("n_prefix") * F.col("n_full"))
        .filter(F.col("est_candidates") >= min_cost)
        .select(F.col("__g").alias("shingle_hash"), "n_prefix", "n_full", "est_candidates")
    )


def source_signatures(
    df: DataFrame,
    num_perm: int = 64,
    source_col: str = "source",
    text_col: str = "text",
    seed: int = 42,
) -> DataFrame:
    """Corpus-LEVEL MinHash: ONE num_perm-slot signature per SOURCE —
    the element-wise minimum over every distinct shingle hash the
    source contains. Because min is associative, this sketch MERGES:
    sig(A ∪ B) = elementwise_min(sig(A), sig(B)), so per-shard /
    per-day signatures fold into corpus signatures without re-reading
    text — the property that makes whole-corpus comparison free at
    100 TB (per-source state is num_perm longs, independent of corpus
    size). Uses the portable md5 hash (not xxhash64) so the oracle
    re-derives identical signatures in SQL.

    Returns (source, pos, v). Scale shape: shingle explode → distinct
    (one shuffle, the dedup q24 family's cost) → num_perm-way
    posexplode → map-side-combinable min agg: only (source, pos, v)
    triples shuffle into an output of sources × num_perm rows."""
    from odin_rs_spark.functions.text import norm_text

    words = df.select(
        F.col(source_col).alias("source"),
        F.split(norm_text(F.col(text_col)), " ").alias("__w"),
    )
    sh = words.select(
        "source", F.explode(shingles_from_words(F.col("__w"))).alias("__s")
    )
    hashes = sh.select(
        "source", portable_hash60(F.col("__s")).alias("__h")
    ).distinct()
    h32 = F.col("__h").bitwiseAND(F.lit(0xFFFFFFFF).cast("long"))
    coeffs = _perm_coeffs(num_perm, seed=seed)
    perms = F.array(
        *[
            F.pmod(
                h32 * F.lit(a).cast("long") + F.lit(b).cast("long"),
                F.lit(_MERSENNE31).cast("long"),
            )
            for a, b in coeffs
        ]
    )
    return (
        hashes.select("source", F.posexplode(perms).alias("pos", "__v"))
        .groupBy("source", "pos")
        .agg(F.min("__v").alias("v"))
    )


def source_jaccard_matrix(
    df: DataFrame,
    num_perm: int = 64,
    source_col: str = "source",
    text_col: str = "text",
    seed: int = 42,
) -> DataFrame:
    """Pairwise corpus similarity between SOURCES: the MinHash
    agreement estimate (matching signature slots / num_perm) next to
    the exact shingle-set Jaccard — the audit a data-recipe owner
    runs to spot near-identical crawl snapshots or a source that is
    secretly a subset of another, and the place where the estimate's
    error is visible against truth. At full scale only the sketch
    side survives (the exact side exists because sf-scale truth is
    cheap and pins the estimator); sketches are sources × num_perm
    rows, so the pair join is trivially broadcastable."""
    from odin_rs_spark.functions.text import norm_text

    sig = source_signatures(df, num_perm, source_col, text_col, seed)
    a = sig.select(
        F.col("source").alias("source_a"), "pos", F.col("v").alias("va")
    )
    b = sig.select(
        F.col("source").alias("source_b"), "pos", F.col("v").alias("vb")
    )
    est = (
        a.join(b, "pos")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.sum(F.when(F.col("va") == F.col("vb"), 1).otherwise(0)).alias(
                "agree"
            )
        )
        .withColumn("jaccard_est", F.col("agree") / F.lit(float(num_perm)))
    )

    words = df.select(
        F.col(source_col).alias("source"),
        F.split(norm_text(F.col(text_col)), " ").alias("__w"),
    )
    hs = (
        words.select(
            "source", F.explode(shingles_from_words(F.col("__w"))).alias("__s")
        )
        .select("source", portable_hash60(F.col("__s")).alias("__h"))
        .distinct()
    )
    sizes = hs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        hs.alias("x")
        .join(hs.alias("y"), "__h")
        .filter(F.col("x.source") < F.col("y.source"))
        .groupBy(
            F.col("x.source").alias("source_a"),
            F.col("y.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    # full pair matrix (disjoint pairs included): sources are few, so
    # the pair base is a broadcast cross join of two size tables
    base = (
        sizes.select(F.col("source").alias("source_a"), F.col("n").alias("n_a"))
        .crossJoin(
            F.broadcast(
                sizes.select(
                    F.col("source").alias("source_b"), F.col("n").alias("n_b")
                )
            )
        )
        .filter(F.col("source_a") < F.col("source_b"))
    )
    exact = (
        base.join(inter, ["source_a", "source_b"], "left")
        .withColumn("n_inter", F.coalesce(F.col("n_inter"), F.lit(0)))
        .withColumn(
            "jaccard_exact",
            F.col("n_inter")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
        )
    )
    return exact.join(est, ["source_a", "source_b"], "left").select(
        "source_a",
        "source_b",
        "n_a",
        "n_b",
        "n_inter",
        "jaccard_exact",
        F.coalesce(F.col("agree"), F.lit(0)).alias("agree"),
        F.coalesce(F.col("jaccard_est"), F.lit(0.0)).alias("jaccard_est"),
    )


def lsh_band_plan(spark, num_perm: int = 128, j_values=(0.5, 0.7, 0.8, 0.9)):
    """MinHash-LSH banding PLANNER (Leskovec/Rajaraman/Ullman, MMDS
    ch.3): for every integer split num_perm = bands × rows, the
    S-curve facts a dedup owner needs to pick (b, r) — the curve's
    threshold J* = (1/b)^(1/r) and the candidate probability
    P(J) = 1 − (1 − J^r)^b at each requested Jaccard level. This is
    how near_dup_pairs' parameters (and their recall claims in the
    q24 oracle comments) are derived; as a DataFrame it composes into
    audit reports. Driver-free math on a range frame — one codegen
    projection, no data touched."""
    divisors = [b for b in range(1, num_perm + 1) if num_perm % b == 0]
    base = spark.createDataFrame(
        [(b, num_perm // b) for b in divisors], "bands int, rows_per_band int"
    )
    b = F.col("bands").cast("double")
    r = F.col("rows_per_band").cast("double")
    planned = base.withColumn(
        "j_threshold", F.pow(1.0 / b, 1.0 / r)
    ).select(
        "bands",
        "rows_per_band",
        "j_threshold",
        F.explode(F.array(*[F.lit(float(j)) for j in j_values])).alias("j"),
    )
    p = 1.0 - F.pow(1.0 - F.pow(F.col("j"), r), b)
    return planned.withColumn("p_candidate", p)
