"""Text-analysis operators: language ID, quality scoring, token stats,
document fingerprinting. JVM column expressions (regexp + array ops)
except where a single Arrow pass beats CodegenFallback HOFs (lang_id).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from odin_rs_spark.functions.text import norm_text, quality_features, token_count

# Tiny per-language marker lexicons for the n-gram/stopword heuristic.
# Deliberately small + deterministic so the identical rule is expressible
# as oracle SQL. Real corpora: swap in a larger lexicon or fastText via
# pandas_udf (multimodal.py pattern).
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "with"],
    "fr": ["le", "la", "les", "et", "des", "une"],
    "es": ["el", "los", "las", "es", "una", "para"],
    "de": ["der", "die", "das", "und", "ist", "mit"],
    "zh": ["de5", "shi4", "zai4", "he2", "le5", "you3"],
}


def _lang_hits_udf(markers_by_lang: dict[str, list[str]]):
    """pandas UDF: NORMALIZED text → per-language marker-hit counts in
    one pass over the words (marker → language-index lookup table in the
    closure). The expression form re-ran split(norm_text(...)) once per
    language — higher-order filters are CodegenFallback, so no
    subexpression elimination ever merged the five copies."""
    mapping: dict[str, list[int]] = {}
    for i, markers in enumerate(markers_by_lang.values()):
        for m in markers:
            mapping.setdefault(m, []).append(i)
    n_langs = len(markers_by_lang)

    @pandas_udf("array<int>")
    def _hits(norm: pd.Series) -> pd.Series:
        out = []
        for t in norm:
            counts = [0] * n_langs
            for w in ("" if t is None else t).split(" "):
                for i in mapping.get(w, ()):
                    counts[i] += 1
            out.append(counts)
        return pd.Series(out)

    return _hits


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Language ID by marker-hit-rate argmax; 'und' when no markers hit.

    Deterministic tie-break: language order as listed (first max wins),
    mirrored exactly in the SQL oracle via a CASE over GREATEST. Counts
    are exact integers from a single Arrow pass, so oracle parity is
    unaffected by the vectorization.
    """
    langs = list(LANG_MARKERS)
    scored = df.withColumn(
        "__hits", _lang_hits_udf(LANG_MARKERS)(norm_text(F.col(text_col)))
    )
    hit_cols = [F.element_at("__hits", i + 1) for i in range(len(langs))]
    best = F.greatest(*hit_cols)
    pred = F.lit("und")
    for i in range(len(langs) - 1, -1, -1):
        pred = F.when(hit_cols[i] == best, F.lit(langs[i])).otherwise(pred)
    pred = F.when(best > 0, pred).otherwise(F.lit("und"))
    return scored.withColumn("pred_lang", pred).drop("__hits")


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality score in [0,1] from length/alpha/punct/word-length
    features (C4/Gopher-style rules, closed-form)."""
    feats = quality_features(F.col(text_col))
    n_words = feats["n_words"]
    score = (
        F.lit(0.25) * F.least(n_words / F.lit(50.0), F.lit(1.0))
        + F.lit(0.25) * feats["alpha_ratio"]
        + F.lit(0.25) * (F.lit(1.0) - F.least(feats["digit_ratio"] * 4, F.lit(1.0)))
        + F.lit(0.25)
        * F.when(feats["mean_word_len"].between(3.0, 10.0), F.lit(1.0)).otherwise(F.lit(0.0))
    )
    out = df
    for name in ("n_chars", "n_words", "alpha_ratio", "digit_ratio", "mean_word_len"):
        out = out.withColumn(name, feats[name])
    return out.withColumn("quality", F.round(score, 6))


def token_stats(df: DataFrame, text_col: str = "text", keys: list[str] | None = None) -> DataFrame:
    """Corpus token statistics per group: docs, tokens, chars, avg doc len."""
    tc = token_count(F.col(text_col))
    grouped = df.groupBy(*(keys or []))
    return grouped.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(tc).alias("n_tokens"),
        F.sum(F.length(F.col(text_col))).cast("long").alias("n_chars_total"),
        F.round(F.avg(tc), 6).alias("avg_tokens_per_doc"),
    )


def fingerprint(df: DataFrame, text_col: str = "text", num_hashes: int = 8) -> DataFrame:
    """Winnowing-style document fingerprint: the num_hashes smallest
    shingle hashes (sorted) — robust to local edits, joinable for
    containment detection. Hashes with `portable_hash60` (md5-derived)
    so fingerprints are stable across engines — the DuckDB oracle
    reproduces them exactly, and a fingerprint store survives engine
    migrations."""
    from odin_rs_spark.functions.text import norm_text
    from odin_rs_spark.operators.dedup import portable_hash60, shingles_from_words

    # stage the words → shingles → hashes chain as separate projections:
    # expressions inlined into a transform() lambda re-evaluate per
    # element (no CSE across lambda scopes) — 4× on this operator
    staged = (
        df.withColumn("__w", F.split(norm_text(F.col(text_col)), " "))
        .withColumn("__sh", shingles_from_words(F.col("__w"), 3))
        .withColumn("__h", F.transform(F.col("__sh"), portable_hash60))
    )
    return staged.withColumn(
        "fingerprint", F.slice(F.array_sort(F.col("__h")), 1, num_hashes)
    ).drop("__w", "__sh", "__h")


def tf_idf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    round_to: int = 6,
) -> DataFrame:
    """Top-k characteristic terms per document by smoothed TF-IDF:
    tf(term, doc) · (ln((N+1)/(df+1)) + 1), ties broken by term text.

    Scale shape: two hash-shuffles — (doc, term) for term frequency,
    (term) for document frequency — then one equi-join back on term and
    a per-doc top-k window. The corpus size N rides in as a broadcast
    1-row cross join so the plan stays fully lazy (no driver count).
    Stop-word-heavy df rows are the skew risk at 100 TB; the (term)
    aggregation is a plain count that AQE splits fine, and the join
    side carrying documents is the one that stays partitioned.
    """
    from pyspark.sql import Window

    terms = df.select(
        F.col(id_col), F.explode(F.split(norm_text(F.col(text_col)), " ")).alias("term")
    )
    tf = terms.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * (
                    F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0))
                    + F.lit(1.0)
                ),
                round_to,
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tfidf", "rank")
    )


def unigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int = 6,
) -> DataFrame:
    """Unigram-LM average log-probability per document — the CCNet-style
    perplexity proxy used to quality-bucket crawl corpora (head/middle/
    tail by LM score). The LM is the corpus' own unigram distribution,
    ln p(w) = ln(count_w / N_tokens), so no smoothing is needed (every
    scored token is in-vocabulary by construction; to score a foreign
    corpus, train on the reference one and add add-one smoothing).

    avg_ll(doc) = (Σ_tokens ln count_w)/n_tokens − ln N.

    Shuffle shape: token counts (map-side combinable), token→count join
    (shuffles (id, word) pairs; the vocabulary side stays the small one
    at any scale — Heaps' law), then one per-doc aggregation. Documents
    themselves never move.

    Output: (id, n_tokens, avg_logprob rounded to `round_to`).
    """
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(norm_text(F.col(text_col)), " ")).alias("w"),
    )
    vocab = toks.groupBy("w").agg(F.count(F.lit(1)).alias("__c"))
    total = vocab.agg(F.sum("__c").cast("double").alias("__N"))
    return (
        toks.join(vocab, "w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.log("__c")).alias("__sll"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            F.col(id_col),
            "n_tokens",
            F.round(
                F.col("__sll") / F.col("n_tokens") - F.log("__N"), round_to
            ).alias("avg_logprob"),
        )
    )


def oov_stats(
    new: DataFrame,
    base: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Out-of-vocabulary audit of a corpus against a reference
    vocabulary — the compatibility check before reusing a tokenizer or
    LM across corpora. Vocab = distinct reference tokens (map-side
    combinable distinct); membership is a left equi-join on the token
    (the vocabulary side stays the small one at any corpus scale —
    Heaps' law); then one per-doc aggregation. Documents never shuffle.

    Output: (id, n_tokens, n_oov).
    """
    vocab = (
        base.select(F.explode(F.split(norm_text(F.col(text_col)), " ")).alias("w"))
        .distinct()
        .withColumn("__in", F.lit(1))
    )
    toks = new.select(
        F.col(id_col),
        F.explode(F.split(norm_text(F.col(text_col)), " ")).alias("w"),
    )
    return (
        toks.join(vocab, "w", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("__in").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
        )
    )


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    k: int = 20,
    round_to: int = 6,
) -> DataFrame:
    """Top-k collocations by pointwise mutual information over adjacent
    word pairs — the classic phrase/collocation extractor (and the
    scoring rule behind word2phrase-style phrase merging).

    PMI(w1,w2) = ln( (c12/Nb) / ((c1/N)·(c2/N)) ), kept when
    c12 ≥ min_count. Ranked on the ROUNDED score (ties → lexicographic)
    so a SQL replay orders identically.

    Shuffle shape: one bigram count and one unigram count (both
    map-side combinable), a join of the (already aggregated) bigram
    vocab against the unigram vocab, then orderBy+limit — Spark plans a
    distributed TakeOrdered, so no single-partition global sort of the
    vocabulary ever happens.
    """
    words = F.split(norm_text(F.col(text_col)), " ")
    base = df.select(words.alias("__w"))
    uni = (
        base.select(F.explode("__w").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bi_arr = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size("__w") - 2, F.lit(-1))),
        lambda i: F.struct(
            F.try_element_at("__w", (i + 1).cast("int")).alias("w1"),
            F.try_element_at("__w", (i + 2).cast("int")).alias("w2"),
        ),
    )
    bi_all = (
        base.filter(F.size("__w") >= 2)
        .select(F.explode(bi_arr).alias("__b"))
        .select("__b.w1", "__b.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    bi = bi_all.filter(F.col("c12") >= min_count)
    totals = uni.agg(
        F.sum("c").cast("double").alias("__N")
    ).crossJoin(
        # Nb = TOTAL corpus bigram mass, computed BEFORE the min_count
        # cut: c12/Nb must be a probability; summing only the kept
        # pairs would inflate every PMI by ln(Nb_true/Nb_kept)
        bi_all.agg(F.sum("c12").cast("double").alias("__Nb"))
    )
    scored = (
        bi.join(uni.select(F.col("w").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c").alias("c2")), "w2")
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "pmi",
            F.round(
                F.log(
                    F.col("c12")
                    * F.col("__N")
                    * F.col("__N")
                    / (F.col("__Nb") * F.col("c1") * F.col("c2"))
                ),
                round_to,
            ),
        )
    )
    top = scored.orderBy(
        F.col("pmi").desc(), F.col("w1").asc(), F.col("w2").asc()
    ).limit(k)
    # unpartitioned, but bounded: it numbers the k rows left after the limit
    w = Window.orderBy(F.col("pmi").desc(), F.col("w1").asc(), F.col("w2").asc())
    return top.withColumn("rank", F.row_number().over(w)).select(
        "rank", "w1", "w2", "c12", "pmi"
    )


# ---------------------------------------------------------------------------
# Repetition quality filters + PII detection (corpus-prep; C4/Gopher-style
# repeated-phrase rules and regex PII scrubbing — standard steps of a
# large-scale training-data pipeline)
# ---------------------------------------------------------------------------


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 2,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-doc n-gram repetition features (the C4/Gopher repeated-phrase
    family): total / top / distinct n-gram counts plus
    `top_ngram_frac` (share of the single most frequent n-gram) and
    `distinct_ngram_frac`. Docs with fewer than `ngram` words have no
    n-grams and are excluded.

    Plan shape: words materialize ONCE as a projection (HOF lambdas get
    no CSE), then explode → count per (doc, gram) → per-doc aggregate —
    two shuffles, both keyed by doc id, both map-side combinable. At
    100 TB the (doc, gram) key is high-cardinality but uniform; no skew
    (a single doc's grams bound the group).
    """
    words = F.split(norm_text(F.col(text_col)), " ")
    base = df.select(F.col(id_col), *[F.col(c) for c in extra_cols], words.alias("__w"))
    base = base.filter(F.size("__w") >= ngram)
    grams = F.transform(
        F.sequence(F.lit(0), F.size("__w") - F.lit(ngram)),
        lambda i: F.concat_ws(
            " ",
            *[F.try_element_at(F.col("__w"), (i + F.lit(j + 1)).cast("int")) for j in range(ngram)],
        ),
    )
    exploded = base.select(
        F.col(id_col), *[F.col(c) for c in extra_cols], F.explode(grams).alias("__g")
    )
    per_gram = exploded.groupBy(id_col, *extra_cols, "__g").agg(
        F.count(F.lit(1)).alias("__n")
    )
    return (
        per_gram.groupBy(id_col, *extra_cols)
        .agg(
            F.sum("__n").alias("total_ngrams"),
            F.max("__n").alias("top_ngram_count"),
            F.count(F.lit(1)).alias("distinct_ngrams"),
        )
        .withColumn(
            "top_ngram_frac",
            F.round(F.col("top_ngram_count").cast("double") / F.col("total_ngrams"), 6),
        )
        .withColumn(
            "distinct_ngram_frac",
            F.round(F.col("distinct_ngrams").cast("double") / F.col("total_ngrams"), 6),
        )
    )


# Deliberately simple, cross-engine-portable patterns (same semantics in
# Java regex and RE2/DuckDB: no lookaround, no backrefs). Real pipelines
# extend the dict; every entry must stay portable so the DuckDB oracle
# can replay detection exactly.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}",
    "ipv4": r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}",
}


def pii_count(text: Column | str, kind: str) -> Column:
    """Occurrences of one PII pattern in the text (JVM regexp, no UDF)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(PII_PATTERNS[kind]), F.lit(0)))


def redact_pii(text: Column | str, kinds: tuple[str, ...] = ("email", "phone", "ipv4")) -> Column:
    """Replace each PII match with a '[KIND]' token. Email runs before
    ipv4 so an IP-shaped mail domain is consumed by the email rule, and
    phone before ipv4 keeps separator-digit runs unambiguous."""
    c = F.col(text) if isinstance(text, str) else text
    for kind in kinds:
        c = F.regexp_replace(c, PII_PATTERNS[kind], f"[{kind.upper()}]")
    return c


def _segment_hashes(
    df: DataFrame,
    id_col: str,
    text_col: str,
    seg_words: int,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Shared segmentation front of `line_dup_stats` (the audit) and
    `remove_dup_segments` (the transform): consecutive `seg_words`-word
    segments of the normalized text, one row per segment with its
    in-doc position and portable hash. Keeping ONE implementation is a
    correctness invariant — if the audit and the transform segmented
    differently, q92's numbers would not describe what q113 removes.

    Output: (id, extra_cols..., __seg_id, __seg, __h)."""
    from odin_rs_spark.operators.dedup import portable_hash60

    # coalesce NULL text to '': under ANSI size(NULL)=NULL silently
    # DROPS the document from the explode; under legacy sizeOfNull=-1
    # the descending sequence fabricates a phantom seg_id=-1 — both
    # break the one-row-per-document contract downstream
    words = F.split(norm_text(F.coalesce(F.col(text_col), F.lit(""))), " ")
    staged = df.select(
        F.col(id_col), *[F.col(c) for c in extra_cols], words.alias("__w")
    )
    n_segs = F.floor(
        (F.size("__w") + F.lit(seg_words - 1)) / F.lit(seg_words)
    ).cast("int")
    return (
        staged.withColumn("__seg_id", F.explode(F.sequence(F.lit(0), n_segs - 1)))
        .withColumn(
            "__seg",
            F.concat_ws(
                " ",
                F.slice(F.col("__w"), F.col("__seg_id") * seg_words + 1, seg_words),
            ),
        )
        .select(
            id_col,
            *extra_cols,
            "__seg_id",
            "__seg",
            portable_hash60(F.col("__seg")).alias("__h"),
        )
    )


def line_dup_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_words: int = 10,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Segment-level duplicate audit (CCNet / RefinedWeb line-dedup
    shape): split each document into consecutive `seg_words`-word
    segments (the stand-in for "lines" — the synthetic corpus has no
    newlines), hash each segment, count how often each hash occurs
    across the WHOLE corpus, and report per document how much of it is
    corpus-duplicated boilerplate.

    Output: (id, extra_cols..., n_segs, n_dup_segs, dup_ratio) where a
    segment is "duplicated" when its hash occurs in more than one
    document (count-distinct docs > 1, so a segment repeated inside one
    doc is repetition — q74's job — not boilerplate).

    Scale shape: three narrow shuffles — segment-hash counts (8-byte
    keys, map-side combinable), hash→count join (only (id, hash) pairs
    move), one per-doc aggregation. Full documents never shuffle.
    Segment hashes use `portable_hash60` so an engine-external dedup
    list (e.g. a persisted boilerplate blocklist) replays exactly.
    """
    segs = _segment_hashes(df, id_col, text_col, seg_words, extra_cols).select(
        id_col, *extra_cols, "__h"
    )
    seg_docs = segs.groupBy("__h").agg(
        F.count_distinct(F.col(id_col)).alias("__ndocs")
    )
    return (
        segs.join(seg_docs, "__h")
        .groupBy(id_col, *extra_cols)
        .agg(
            F.count(F.lit(1)).alias("n_segs"),
            F.sum(F.when(F.col("__ndocs") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_segs"),
        )
        .withColumn(
            "dup_ratio",
            F.round(F.col("n_dup_segs") / F.col("n_segs").cast("double"), 6),
        )
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Positional winnowing fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every k-word gram at its
    position, slide a w-gram window, and select each window's minimum
    hash with ties broken by the RIGHTMOST position. Guarantee: any
    shared word run of length >= w + k - 1 between two documents yields
    at least one shared selected hash, while only ~2/(w+1) of all gram
    hashes are kept.

    This is the positional upgrade of `fingerprint` (bottom-k of the
    whole doc): winnowing spreads selections uniformly across the text,
    so LOCAL plagiarism/containment is detectable, not just whole-doc
    similarity.

    Encoding trick for one-pass selection: each gram (pos i, hash h)
    contributes to windows ending at j in [i, i+w-1]; candidate key
    enc = h*w + (j-i). min(enc) per (doc, j) simultaneously minimizes h
    and, among equal h, minimizes j-i — i.e. picks the rightmost tied
    position. h < 2^60 so h*w never overflows int64 for w <= 8.

    Docs shorter than w grams collapse to a single window at the last
    gram index (it spans every gram, so the whole doc is still covered).

    Output: distinct (id, pos, gram_hash) selections.

    Scale shape: the window-min groupBy keys on (doc, window) — narrow
    16-byte keys, min() partially aggregates map-side, and the w-fold
    row expansion happens inside the exploding projection, never as a
    join. A zero-shuffle per-doc array-HOF formulation exists but
    Spark's lambda HOFs are CodegenFallback (measured 10-20x slower on
    the lang-id path), so the exploded form wins until doc counts make
    the (doc, window) shuffle dominate.
    """
    if w < 1 or w > 8:
        # enc = h*w + (j-i) with h < 2^60: w = 8 is the largest factor
        # that provably cannot overflow int64. Silently wrapping would
        # corrupt every downstream fingerprint/match — refuse instead.
        raise ValueError(f"w must be in [1, 8] (int64 h*w encoding), got {w}")
    from odin_rs_spark.operators.dedup import portable_hash60

    words = F.split(norm_text(F.col(text_col)), " ")
    staged = df.select(F.col(id_col), words.alias("__w"))
    n_grams = F.greatest(F.size("__w") - F.lit(k - 1), F.lit(1))
    grams = (
        staged.withColumn("__i", F.explode(F.sequence(F.lit(0), n_grams - 1)))
        .withColumn(
            "__g", F.concat_ws(" ", F.slice(F.col("__w"), F.col("__i") + 1, k))
        )
        .select(
            id_col,
            F.col("__i"),
            (F.size("__w") - F.lit(k)).alias("__max_i"),
            portable_hash60(F.col("__g")).alias("__h"),
        )
        .withColumn("__max_i", F.greatest(F.col("__max_i"), F.lit(0)))
    )
    # windows this gram participates in, clamped to valid window ends
    lo = F.least(F.greatest(F.col("__i"), F.lit(w - 1)), F.col("__max_i"))
    hi = F.least(F.col("__i") + F.lit(w - 1), F.col("__max_i"))
    cand = grams.withColumn("__j", F.explode(F.sequence(lo, hi))).select(
        id_col,
        "__j",
        (F.col("__h") * w + (F.col("__j") - F.col("__i"))).alias("__enc"),
    )
    sel = cand.groupBy(id_col, "__j").agg(F.min("__enc").alias("__enc"))
    # integer div, NOT fp: enc is up to 62 bits and double's 53-bit
    # mantissa silently merges adjacent hashes (caught by oracle diff)
    return sel.select(
        F.col(id_col),
        (F.col("__j") - F.col("__enc") % w).cast("int").alias("pos"),
        F.expr(f"__enc div {w}").cast("long").alias("gram_hash"),
    ).distinct()


def winnow_matches(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
    max_docs_per_hash: int | None = None,
) -> DataFrame:
    """Cross-document containment candidates from shared winnowing
    fingerprints: pairs of docs sharing >= min_shared selected gram
    hashes, with the shared count. The join keys on the 8-byte
    gram_hash; positions are dropped first so a hash selected at many
    positions in one doc contributes once (set semantics, like MOSS's
    match counting).

    `max_docs_per_hash` drops fingerprints selected in more than N
    documents BEFORE the self-join. This is both the scale guard (an
    over-common hash makes the join quadratic in its doc count — the
    same degenerate-bucket failure the LSH/jaccard paths cap) and
    faithful MOSS semantics: fingerprints shared by many submissions
    are "base code" and carry no containment signal. The rule is a
    deterministic count filter, so a capped run stays SQL-replayable.
    """
    # persist: the frame feeds BOTH self-join sides (plus the cap
    # counts) — without it the whole gram-explode → window-min pipeline
    # recomputes per consumer (the self-join trap dedup.py documents)
    fp = winnow_fingerprints(df, id_col, text_col, k, w).select(
        F.col(id_col).alias("__id"), "gram_hash"
    ).distinct().localCheckpoint(eager=False)
    if max_docs_per_hash is not None:
        counts = fp.groupBy("gram_hash").agg(F.count(F.lit(1)).alias("__nd"))
        fp = (
            fp.join(counts, "gram_hash")
            .filter(F.col("__nd") <= max_docs_per_hash)
            .drop("__nd")
        )
    a = fp.select(F.col("__id").alias("id_a"), "gram_hash")
    b = fp.select(F.col("__id").alias("id_b"), "gram_hash")
    return (
        a.join(b, "gram_hash")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    topk: int = 20,
    round_to: int = 6,
) -> DataFrame:
    """BM25 keyword retrieval: score every document against a bag of
    query terms and return the top-k (Robertson/Sparck-Jones weighting
    with the Lucene idf form, which is always positive):

        idf(t)  = ln(1 + (N - df_t + 0.5)/(df_t + 0.5))
        score   = sum_t idf(t) * tf * (k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

    Scale shape: the term filter (isin over a literal list) prunes the
    exploded token stream BEFORE any shuffle, so only matching (doc,
    term) pairs move; doc length rides along from the pre-explode
    projection (no separate doc-length join). Corpus stats (N, avgdl)
    and per-term df are 1-row / |terms|-row frames broadcast into the
    score expression. One TakeOrdered for the top-k — no global sort.
    """
    words = F.split(norm_text(F.col(text_col)), " ")
    base = df.select(F.col(id_col), words.alias("__w")).select(
        id_col, F.col("__w"), F.size("__w").cast("double").alias("__dl")
    )
    stats = F.broadcast(
        base.agg(
            F.count(F.lit(1)).cast("double").alias("__N"),
            F.avg("__dl").alias("__avgdl"),
        )
    )
    tf = (
        base.select(id_col, "__dl", F.explode("__w").alias("__t"))
        .filter(F.col("__t").isin(query_terms))
        .groupBy(id_col, "__dl", "__t")
        .agg(F.count(F.lit(1)).cast("double").alias("__tf"))
    )
    dfreq = F.broadcast(
        tf.groupBy("__t").agg(F.count(F.lit(1)).cast("double").alias("__df"))
    )
    idf = F.log(
        F.lit(1.0) + (F.col("__N") - F.col("__df") + 0.5) / (F.col("__df") + 0.5)
    )
    denom = F.col("__tf") + k1 * (1.0 - b + b * F.col("__dl") / F.col("__avgdl"))
    scored = (
        tf.join(dfreq, "__t")
        .crossJoin(stats)
        .groupBy(id_col)
        .agg(
            F.round(F.sum(idf * F.col("__tf") * (k1 + 1.0) / denom), round_to).alias(
                "bm25"
            ),
            F.count(F.lit(1)).alias("n_terms_hit"),
        )
    )
    return scored.orderBy(F.col("bm25").desc(), F.col(id_col)).limit(topk)


def bigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lam: float = 0.7,
    round_to: int = 6,
) -> DataFrame:
    """Interpolated bigram-LM average log-probability per document — the
    order-2 upgrade of `unigram_logprob` (Jelinek-Mercer interpolation,
    the standard KenLM-lite fallback chain):

        p(w_i | w_{i-1}) = lam * c(w_{i-1} w_i)/c(w_{i-1})
                           + (1-lam) * c(w_i)/N
        first token: p(w_0) = c(w_0)/N

    The LM is the corpus' own counts, so every scored n-gram exists
    (no smoothing needed beyond the interpolation itself).

    Scale shape: bigram and unigram counts are map-side-combinable
    aggregations; the bigram table pre-joins its prefix's unigram count
    VOCABULARY-side (both frames are vocab-sized), so the token stream
    takes exactly two equi-joins — one on the bigram string, one on the
    token — and one per-doc aggregation. Documents never shuffle.
    """
    words = F.split(norm_text(F.col(text_col)), " ")
    staged = df.select(F.col(id_col), words.alias("__w"))
    # token rows with their predecessor (built in the array domain —
    # no positional self-join)
    toks = staged.select(
        id_col,
        F.posexplode("__w").alias("__i", "__t"),
        F.col("__w"),
    ).select(
        id_col,
        "__i",
        "__t",
        F.when(F.col("__i") > 0, F.try_element_at("__w", F.col("__i"))).alias("__prev"),
    )
    uni = toks.groupBy("__t").agg(F.count(F.lit(1)).alias("__cu"))
    n_total = F.broadcast(uni.agg(F.sum("__cu").cast("double").alias("__N")))
    bi = (
        toks.filter(F.col("__prev").isNotNull())
        .groupBy("__prev", "__t")
        .agg(F.count(F.lit(1)).alias("__cb"))
        .join(uni.select(F.col("__t").alias("__prev"), F.col("__cu").alias("__cprev")), "__prev")
    )
    scored = (
        toks.join(uni, "__t")
        .join(bi, ["__prev", "__t"], "left")
        .crossJoin(n_total)
        .withColumn(
            "__lp",
            F.when(
                F.col("__prev").isNull(),
                F.log(F.col("__cu") / F.col("__N")),
            ).otherwise(
                F.log(
                    F.lit(lam) * F.col("__cb") / F.col("__cprev")
                    + F.lit(1.0 - lam) * F.col("__cu") / F.col("__N")
                )
            ),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.sum("__lp") / F.count(F.lit(1)), round_to).alias("avg_logprob"),
    )


def bpe_token_stats(
    df: DataFrame,
    text_col: str = "text",
    keys: list[str] | None = None,
    round_to: int = 6,
) -> DataFrame:
    """Token accounting under a BPE-style pre-tokenizer vs whitespace:
    per group, document count, both token totals, and the mean
    tokens-per-whitespace-word inflation ratio — the number that turns
    a corpus word count into a model token budget (punctuation and
    digit runs split into their own tokens, so the ratio is >= 1).

    Pure projection + one map-side-combinable aggregate: no joins, no
    UDFs (regexp_extract_all is JVM-side), documents never shuffle.
    """
    from odin_rs_spark.functions.text import token_count, tokens

    # TOKEN_PATTERN (functions/text.py): letter runs with optional
    # contraction | digit runs | single punctuation marks — the
    # ASCII-class subset of the GPT-2/tiktoken pre-tokenizer split,
    # identical in Java regex and RE2 so a SQL oracle replays it
    nb = F.size(tokens(F.col(text_col)))

    nw = token_count(F.col(text_col))
    staged = df.select(
        *[F.col(k) for k in (keys or [])], nb.alias("__nb"), nw.alias("__nw")
    )
    return staged.groupBy(*(keys or [])).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__nb").cast("long").alias("n_bpe_tokens"),
        F.sum("__nw").cast("long").alias("n_ws_tokens"),
        F.round(
            # empty/whitespace-only docs have __nw = 0 — NULL ratio
            # (excluded from avg) instead of an ANSI DIVIDE_BY_ZERO
            F.avg(
                F.when(
                    F.col("__nw") > 0,
                    F.col("__nb").cast("double") / F.col("__nw"),
                )
            ),
            round_to
        ).alias("avg_inflation"),
    )


def remove_dup_segments(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_words: int = 10,
    max_docs: int = 1,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Boilerplate REMOVAL (the transform `line_dup_stats` audits —
    CCNet/RefinedWeb line-dedup applied): split each document into
    consecutive `seg_words`-word segments, drop every segment whose
    text occurs in more than `max_docs` distinct documents, and rebuild
    the document from the surviving segments in order.

    Output: (id, extra_cols..., clean_text, n_segs, n_removed) — one
    row per input document, clean_text possibly empty.

    Scale shape: segment-hash doc-counts are a map-side-combinable
    aggregate on 8-byte keys; the count join moves (id, seg_id, hash)
    triples. The rebuild is the one stage where text moves — but
    boilerplate segments collapse to NULL BEFORE that shuffle, so what
    moves is the OUTPUT corpus, not the input (for the boilerplate-
    heavy corpora this op exists for, that is the smaller side).
    Determinism: array_sort on (seg_id, segment) structs — seg_id is
    unique per doc, so order is total.
    """
    segs = _segment_hashes(df, id_col, text_col, seg_words, extra_cols)
    seg_docs = segs.groupBy("__h").agg(
        F.count_distinct(F.col(id_col)).alias("__ndocs")
    )
    flagged = segs.join(seg_docs, "__h").withColumn(
        "__kept",
        F.when(
            F.col("__ndocs") <= max_docs,
            F.struct(F.col("__seg_id"), F.col("__seg")),
        ),  # NULL struct for dropped segments -> skipped by collect_list
    )
    return (
        flagged.groupBy(id_col, *extra_cols)
        .agg(
            F.count(F.lit(1)).alias("n_segs"),
            F.sum(F.when(F.col("__kept").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_removed"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list("__kept")), lambda x: x["__seg"]
                ),
            ).alias("clean_text"),
        )
        .select(id_col, *extra_cols, "clean_text", "n_segs", "n_removed")
    )


def bpe_train_merges(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 8,
    min_pair_count: int = 2,
) -> DataFrame:
    """REAL byte-pair-encoding merge training (Sennrich et al. 2016 —
    the algorithm GPT-2's tokenizer is built on; the repo's
    `bpe_token_stats` counts tokens with a FIXED regex, this LEARNS the
    merge table): start from characters, repeatedly merge the most
    frequent adjacent symbol pair across the corpus, emit one row per
    learned merge (rank, left, right, pair_count).

    Scale shape (the standard trick): training runs over the DISTINCT
    word -> frequency table, not the corpus — pair counting each round
    is one shuffle over the vocabulary, and the corpus-sized explode
    happens exactly once in the word count. Re-segmentation stays
    entirely JVM-side: a word's segmentation is a STRING
    '·tok··tok··tok·' (every token wrapped in '·', so boundaries are
    matchable without regex lookarounds), and applying merge (a, b) is
    one literal replace('·a··b·' -> '·ab·') — plain left-to-right
    non-overlapping substring replacement, which IS greedy BPE merge
    order, and which any engine reproduces exactly (the DuckDB oracle
    unrolls the same stages). Words containing the separator char are
    excluded (synthetic-corpus-safe guard). Top pair ties break on
    (count DESC, left, right) deterministically; training stops early
    when the best pair drops below `min_pair_count`.

    Each round materializes the vocabulary via eager localCheckpoint —
    K rounds of replace would otherwise stack K plan layers — and the
    per-round driver traffic is ONE row (the argmax pair).
    """
    from odin_rs_spark.functions.text import norm_text
    from odin_rs_spark.operators.dedup import scaled_parallelism

    spark = df.sparkSession
    words = (
        df.select(F.explode(F.split(norm_text(F.col(text_col)), r"\s+")).alias("w"))
        .filter((F.length("w") > 0) & (~F.col("w").contains("·")))
    )
    vocab = words.groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
    seg = F.concat(
        F.lit("·"),
        F.array_join(F.filter(F.split(F.col("w"), ""), lambda c: c != ""), "··"),
        F.lit("·"),
    )
    # checkpoint FIRST, then count from the checkpoint: the corpus-sized
    # explode + groupBy runs exactly once (the old count-then-checkpoint
    # order ran it twice — once for the width probe, once to materialize
    # the vocabulary; guide §2.1 don't recompute what you already have)
    cur = vocab.select("freq", seg.alias("seg")).localCheckpoint(eager=True)
    n_words = cur.count()  # reads the checkpoint — vocabulary-cheap
    # scope the per-round pair-count shuffle to the VOCABULARY volume
    # via explicit repartition on the group keys (ADVICE r6: mutating
    # the session shuffle.partitions leaked into concurrent queries).
    # The hash repartition satisfies the groupBy's required clustering
    # at `par` width, trading the map-side combine for a scoped
    # exchange — at vocabulary scale the exploded pair list is ~tokens
    # per word x vocab rows, and at cluster scale par == session width
    # so nothing changes.
    par = scaled_parallelism(spark, n_words)
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(num_merges):
        toks = F.split(
            F.expr("substring(seg, 2, length(seg) - 2)"), "··"
        )
        pairs = F.zip_with(
            F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
            F.slice(
                toks,
                2,
                F.greatest(F.size(toks) - 1, F.lit(0)),
            ),
            lambda a, b: F.struct(a.alias("a"), b.alias("b")),
        )
        top = (
            cur.select("freq", F.explode(pairs).alias("p"))
            .select("freq", F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .repartition(par, "a", "b")
            .groupBy("a", "b")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "a", "b")
            .limit(1)
            .collect()  # bounded: exactly one row per round
        )
        if not top or top[0]["cnt"] < min_pair_count:
            break
        a, b, cnt = top[0]["a"], top[0]["b"], int(top[0]["cnt"])
        merges.append((rank, a, b, cnt))
        # LAZY checkpoint (the q142 k-center trick): the next round's
        # argmax collect materializes it inside its own job, so each
        # round costs ONE job instead of two (eager checkpoint + collect
        # was 2k+1 jobs per training run; lazy is k+2, and the final
        # round's never-consumed segmentation is never materialized at
        # all). Lineage depth is unchanged — still one replace() per
        # round on top of the previous checkpoint.
        cur = cur.withColumn(
            "seg",
            F.replace(
                F.col("seg"),
                F.lit(f"·{a}··{b}·"),
                F.lit(f"·{a}{b}·"),
            ),
        ).localCheckpoint(eager=False)
    return spark.createDataFrame(
        merges, "merge_rank int, lhs string, rhs string, pair_count bigint"
    )


def bpe_segment_words(
    words: DataFrame,
    merges: list[tuple[str, str]],
    word_col: str = "w",
) -> DataFrame:
    """Apply a learned BPE merge table (rank-ordered (lhs, rhs) pairs,
    e.g. from `bpe_train_merges`) to a word column: adds `n_tokens` =
    the word's BPE token count under those merges. Same separator-string
    mechanics as training — each merge is one literal JVM replace, so
    encoding a vocabulary is K narrow column ops with no Python in the
    path; a checkpoint every 16 merges keeps the plan shallow for
    production-sized merge tables. Words containing the separator char
    '·' are EXCLUDED, mirroring the training-side guard (ADVICE r6:
    they would corrupt the '·tok··tok·' encoding and yield a silently
    wrong n_tokens)."""
    words = words.filter(~F.col(word_col).contains("·"))
    seg = F.concat(
        F.lit("·"),
        F.array_join(
            F.filter(F.split(F.col(word_col), ""), lambda c: c != ""), "··"
        ),
        F.lit("·"),
    )
    cur = words.withColumn("__seg", seg)
    for i, (a, b) in enumerate(merges):
        cur = cur.withColumn(
            "__seg",
            F.replace(F.col("__seg"), F.lit(f"·{a}··{b}·"), F.lit(f"·{a}{b}·")),
        )
        if (i + 1) % 16 == 0:
            cur = cur.localCheckpoint(eager=True)
    toks = F.split(F.expr("substring(__seg, 2, length(__seg) - 2)"), "··")
    return cur.withColumn("n_tokens", F.size(toks)).drop("__seg")


# Unicode script ranges for script_stats. Literal BMP char-class ranges
# so the identical pattern runs in Java regex (Spark) and RE2 (DuckDB
# oracle). Letters only — digits counted separately.
SCRIPT_RANGES: dict[str, str] = {
    "latin": "A-Za-z",
    "cyrillic": "Ѐ-ӿ",
    "cjk": "一-鿿",
    "arabic": "؀-ۿ",
}


def script_stats(
    df: DataFrame, text_col: str = "text", mix_min: int = 5
) -> DataFrame:
    """Unicode-SCRIPT histogram per document — the script-mixing
    signal multilingual corpus pipelines use for spam/homoglyph
    filtering and for routing docs to per-script tokenizers (the
    cheap precursor to lang_id: script is decided by code-point
    ranges alone). Adds per-script letter counts, a digit count, the
    dominant script (deterministic tie order latin > cyrillic > cjk >
    arabic), and `mixed` = 1 when both Latin and non-Latin letters
    appear at least `mix_min` times (the homoglyph-spam shape).
    Pure regexp-length arithmetic: zero UDFs, zero shuffles, counts
    are integer-exact and SQL-replayable."""
    t = F.col(text_col)
    c = {
        name: F.length(F.regexp_replace(t, f"[^{rng}]", ""))
        for name, rng in SCRIPT_RANGES.items()
    }
    n_digit = F.length(F.regexp_replace(t, "[^0-9]", ""))
    dominant = (
        F.when(
            c["latin"] >= F.greatest(c["cyrillic"], c["cjk"], c["arabic"]),
            "latin",
        )
        .when(c["cyrillic"] >= F.greatest(c["cjk"], c["arabic"]), "cyrillic")
        .when(c["cjk"] >= c["arabic"], "cjk")
        .otherwise("arabic")
    )
    non_latin = c["cyrillic"] + c["cjk"] + c["arabic"]
    mixed = F.when(
        F.least(c["latin"], non_latin) >= mix_min, 1
    ).otherwise(0)
    return df.select(
        "*",
        F.length(t).alias("n_chars"),
        c["latin"].alias("n_latin"),
        c["cyrillic"].alias("n_cyrillic"),
        c["cjk"].alias("n_cjk"),
        c["arabic"].alias("n_arabic"),
        n_digit.alias("n_digit"),
        dominant.alias("dominant_script"),
        mixed.alias("mixed_script"),
    )


def char_entropy(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Shannon entropy (bits per character) of each document's
    character distribution — the compression-ratio quality proxy
    (boilerplate, keyword-stuffing and generator spam sit LOW;
    encrypted/binary junk sits HIGH; C4/Gopher-family pipelines gate
    on exactly this shape). H = (ln n − Σ k_c·ln k_c / n) / ln 2 over
    per-char counts k_c.

    Scale shape: a pure higher-order-function pipeline — split to a
    char array, array_distinct (bounded by the alphabet), per-char
    counts via filter/size — entirely inside the row, ZERO shuffles
    and zero Python; O(len·distinct) per doc in codegen. The naive
    alternative (explode one row per character) shuffles |corpus|
    rows×chars — never do that at 100 TB. Characters are UTF-16
    units (Java split semantics): identical to code points on BMP
    text; astral-plane corpora should pre-filter surrogates."""
    cs = F.filter(F.split(F.col(text_col), ""), lambda x: x != "")
    n = F.size(cs)
    u = F.array_distinct(cs)
    counts = F.transform(
        u, lambda ch: F.size(F.filter(cs, lambda x: x == ch))
    )
    snn = F.aggregate(
        counts,
        F.lit(0.0),
        lambda acc, k: acc + k.cast("double") * F.log(k.cast("double")),
    )
    h = (F.log(n.cast("double")) - snn / n.cast("double")) / F.log(F.lit(2.0))
    return df.select(
        "*",
        n.alias("n_chars_ent"),
        F.when(n > 0, h).otherwise(F.lit(None)).alias("entropy_bits"),
    )


# ---------------------------------------------------------------------------
# HTML → text extraction (the step a web corpus runs between the WARC
# scan and every text-quality operator: C4/CCNet/RefinedWeb all start
# from HTML response bodies). Pure regexp column expressions — the
# same patterns run in Java regex (Spark) and RE2 (DuckDB oracle);
# inline (?is) flags keep them dialect-portable.
# ---------------------------------------------------------------------------

# two separate block patterns (not one with a </\1> backreference):
# RE2 — the oracle's engine — has no backreferences, and each pattern
# closing with its own literal tag preserves the can't-cross-close
# property anyway
_HTML_DROP_COMMENT = r"(?s)<!--.*?-->"
_HTML_DROP_SCRIPT = r"(?is)<script[^>]*>.*?</script>"
_HTML_DROP_STYLE = r"(?is)<style[^>]*>.*?</style>"
_HTML_TAG = r"(?is)<[^>]*>"
_HTML_LINK_INNER = r"(?is)<a[^>]*>(.*?)</a>"

# entity decode order matters: numeric entities decode after the named
# table and &amp; LAST, or it re-creates entities (single-pass
# semantics: '&amp;#39;' stays the literal text '&#39;')
_HTML_ENTITIES = (
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&apos;", "'"),
    ("&rsquo;", "’"),
    ("&lsquo;", "‘"),
    ("&rdquo;", "”"),
    ("&ldquo;", "“"),
    ("&mdash;", "—"),
    ("&ndash;", "–"),
    ("&hellip;", "…"),
)

# &#8217; decimal and &#x2019; hex forms (HTML5 §13.5 numeric character
# reference); 7/6 digit caps keep the codepoint parse inside int range
_NUM_ENTITY_RE = "&#[0-9]{1,7};|&#[xX][0-9A-Fa-f]{1,6};"


def _utf8_char(cp: Column) -> Column:
    """Unicode codepoint (int column) → its one-character string, by
    constructing the UTF-8 byte sequence in column math (Spark's
    char() is mod-256 ASCII, useless past Latin-1): branch on the
    standard 1/2/3/4-byte ranges, hex-format each byte, unhex+decode."""

    def hx(b: Column) -> Column:
        return F.lpad(F.hex(b.cast("bigint")), 2, "0")

    def cont(b: Column) -> Column:  # 10xxxxxx continuation byte
        return hx(b.bitwiseAND(F.lit(0x3F)).bitwiseOR(F.lit(0x80)))

    one = hx(cp)
    two = F.concat(
        hx(F.shiftright(cp, 6).bitwiseOR(F.lit(0xC0))), cont(cp)
    )
    three = F.concat(
        hx(F.shiftright(cp, 12).bitwiseOR(F.lit(0xE0))),
        cont(F.shiftright(cp, 6)),
        cont(cp),
    )
    four = F.concat(
        hx(F.shiftright(cp, 18).bitwiseOR(F.lit(0xF0))),
        cont(F.shiftright(cp, 12)),
        cont(F.shiftright(cp, 6)),
        cont(cp),
    )
    hexs = (
        F.when(cp < 0x80, one)
        .when(cp < 0x800, two)
        .when(cp < 0x10000, three)
        .otherwise(four)
    )
    return F.decode(F.unhex(hexs), "UTF-8")


def decode_numeric_entities(c: Column) -> Column:
    """Decode HTML numeric character references (&#8217; / &#x2019;)
    as pure column math: extract the distinct references, map each to
    its UTF-8 character, fold replace() over them. Out-of-range
    codepoints (0, surrogates, > U+10FFFF) keep their literal token —
    malformed crawl HTML must not abort the pipeline. Zero UDFs; cost
    proportional to the distinct-reference set per document."""
    toks = F.array_distinct(F.regexp_extract_all(c, F.lit(_NUM_ENTITY_RE), 0))

    def rep(t: Column) -> Column:
        is_hex = F.lower(F.substring(t, 3, 1)) == "x"
        cp = (
            F.when(
                is_hex,
                F.conv(F.substring(t, 4, F.length(t) - 4), 16, 10),
            )
            .otherwise(F.substring(t, 3, F.length(t) - 3))
            .cast("int")
        )
        valid = cp.between(1, 0x10FFFF) & ~cp.between(0xD800, 0xDFFF)
        return F.when(valid, _utf8_char(cp)).otherwise(t)

    return F.aggregate(toks, c, lambda acc, t: F.replace(acc, t, rep(t)))


def _strip_tags(c: Column) -> Column:
    out = F.regexp_replace(c, _HTML_TAG, " ")
    for ent, rep in _HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(rep))
    out = decode_numeric_entities(out)
    out = F.replace(out, F.lit("&amp;"), F.lit("&"))
    return F.trim(F.regexp_replace(out, r"\s+", " "))


def _drop_blocks(c: Column) -> Column:
    # comments FIRST (round-8 verdict #3): real crawl HTML is full of
    # commented-out markup and IE conditional comments, and the generic
    # tag regex would otherwise terminate at the first '>' INSIDE the
    # comment, leaking ghost text plus a literal '-->' artifact
    out = F.regexp_replace(c, _HTML_DROP_COMMENT, " ")
    return F.regexp_replace(
        F.regexp_replace(out, _HTML_DROP_SCRIPT, " "), _HTML_DROP_STYLE, " "
    )


def html_to_text(c: Column | str) -> Column:
    """Visible text of an HTML document: script then style blocks
    dropped (non-greedy, each closed by its own literal tag), every
    remaining tag replaced by a space, the common named character
    entities decoded, numeric references (&#8217; / &#x2019;) decoded
    via `decode_numeric_entities` (&amp; last, so it cannot resurrect
    others — single-pass semantics), whitespace collapsed. CDATA
    stays out of scope (documented seam)."""
    col = F.col(c) if isinstance(c, str) else c
    return _strip_tags(_drop_blocks(col))


def link_density(c: Column | str) -> Column:
    """Fraction of the visible text that sits inside <a> anchors — the
    boilerplate/navigation signal readability-style extractors gate
    blocks on (nav bars and link farms ≈ 1, prose ≈ 0). NULL when the
    document has no visible text."""
    col = F.col(c) if isinstance(c, str) else c
    body = _drop_blocks(col)
    full = _strip_tags(body)
    anchors = _strip_tags(
        F.array_join(
            F.regexp_extract_all(body, F.lit(_HTML_LINK_INNER), 1), " "
        )
    )
    return F.when(
        F.length(full) > 0, F.length(anchors) / F.length(full).cast("double")
    )


# closing tags that end a content block (the readability-style
# segmentation unit)
_HTML_BLOCK_SPLIT = r"(?is)</(?:p|div|li|h[1-6]|tr|article|section)>"


def extract_main_text(
    c: Column | str, min_chars: int = 25, max_link_share: int = 3
) -> Column:
    """Readability/trafilatura-style MAIN-TEXT extraction — the
    block-level upgrade of `html_to_text`: split the document on
    closing block tags, strip each block to visible text, and keep
    only prose blocks — at least `min_chars` visible characters AND
    anchor text strictly less than 1/`max_link_share` of the block
    (the integer comparison `anchor_len * max_link_share < text_len`
    keeps the rule exact — no float division, so the oracle replays
    it verbatim). Nav bars, link farms and stub rows drop; kept
    blocks rejoin in document order.

    Returns struct(main_text, n_blocks, n_kept). Pure higher-order
    column expressions — zero Python, zero shuffle."""
    col = F.col(c) if isinstance(c, str) else c
    blocks = F.split(_drop_blocks(col), _HTML_BLOCK_SPLIT)
    t = F.transform(blocks, _strip_tags)
    a = F.transform(
        blocks,
        lambda b: _strip_tags(
            F.array_join(
                F.regexp_extract_all(b, F.lit(_HTML_LINK_INNER), 1), " "
            )
        ),
    )
    keep = F.zip_with(
        t,
        a,
        lambda tt, aa: (F.length(tt) >= min_chars)
        & (F.length(aa) * max_link_share < F.length(tt)),
    )
    kept_texts = F.filter(t, lambda tt, i: F.element_at(keep, i + 1))
    return F.struct(
        F.array_join(kept_texts, " ").alias("main_text"),
        F.size(blocks).alias("n_blocks"),
        F.size(kept_texts).alias("n_kept"),
    )


# table extraction patterns — per-tag closers (RE2 has no backrefs)
_HTML_TABLE = r"(?is)<table[^>]*>.*?</table>"
_HTML_TR = r"(?is)<tr[^>]*>.*?</tr>"
_HTML_CELL = r"(?is)<t[dh][^>]*>(.*?)</t[dh]>"


def extract_tables(c: Column | str) -> Column:
    """Separate HTML TABLES from prose — the structure-aware split a
    text corpus needs because table cells are not sentences: left in,
    they pollute tokenization, dedup shingles and quality scores;
    dropped blindly, structured data a model could use is lost.
    Returns struct(n_tables, n_rows, n_cells, cells_text — every cell
    stripped and pipe-joined in document order — and prose_text, the
    visible text with all tables REMOVED). Pure higher-order column
    expressions, zero Python, zero shuffle; the same per-tag
    non-greedy patterns as the q162 family (RE2-safe)."""
    col = F.col(c) if isinstance(c, str) else c
    body = _drop_blocks(col)
    tables = F.regexp_extract_all(body, F.lit(_HTML_TABLE), 0)
    n_rows = F.aggregate(
        tables,
        F.lit(0),
        lambda acc, t: acc + F.size(F.regexp_extract_all(t, F.lit(_HTML_TR), 0)),
    )
    cells = F.flatten(
        F.transform(
            tables, lambda t: F.regexp_extract_all(t, F.lit(_HTML_CELL), 1)
        )
    )
    cells_text = F.array_join(F.transform(cells, _strip_tags), "|")
    prose = _strip_tags(F.regexp_replace(body, _HTML_TABLE, " "))
    return F.struct(
        F.size(tables).alias("n_tables"),
        n_rows.alias("n_rows"),
        F.size(cells).alias("n_cells"),
        cells_text.alias("cells_text"),
        prose.alias("prose_text"),
    )


GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_flags(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The Gopher quality-rule table (Rae et al. 2021, arXiv:
    2112.11446 Appendix A — the rule set MassiveText filtered on, and
    the de-facto baseline every later corpus pipeline cites): word
    count in [50, 100000], mean word length in [3, 10], symbol-to-
    word ratio ('#' and '...') ≤ 0.1, ≥ 80% of words containing an
    alphabetic character, and at least 2 distinct Gopher stop words.

    Every flag is an INTEGER cross-multiplication (3·n_words ≤
    total_len, 10·n_sym ≤ n_words, 5·n_alpha ≥ 4·n_words …), so
    there is no float boundary anywhere — the oracle replays the
    rules with zero tolerance. Adds the raw counts and one int flag
    per rule plus `gopher_pass`. Zero shuffles, zero Python."""
    t = norm_text(F.col(text_col))
    words = F.split(t, " ")
    n_words = F.size(words)
    total_len = F.aggregate(
        words, F.lit(0), lambda acc, w: acc + F.length(w)
    )
    n_hash = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    n_ell = (
        F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))
    ) / 3
    n_sym = (n_hash + n_ell).cast("long")
    n_alpha = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    n_stop = F.size(
        F.array_intersect(words, F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]))
    )
    f_count = ((n_words >= 50) & (n_words <= 100000)).cast("int")
    f_wordlen = (
        (3 * n_words <= total_len) & (total_len <= 10 * n_words)
    ).cast("int")
    f_symbol = (10 * n_sym <= n_words).cast("int")
    f_alpha = (5 * n_alpha >= 4 * n_words).cast("int")
    f_stop = (n_stop >= 2).cast("int")
    return df.select(
        "*",
        n_words.alias("n_words"),
        total_len.alias("words_len"),
        n_sym.alias("n_sym"),
        n_alpha.alias("n_alpha_words"),
        n_stop.alias("n_stop_hits"),
        f_count.alias("f_wordcount"),
        f_wordlen.alias("f_wordlen"),
        f_symbol.alias("f_symbol"),
        f_alpha.alias("f_alpha"),
        f_stop.alias("f_stop"),
        (f_count * f_wordlen * f_symbol * f_alpha * f_stop).alias(
            "gopher_pass"
        ),
    )


# -- markdown ------------------------------------------------------------------

_MD_FENCE = r"(?s)```.*?```"
_MD_HEADING_MARK = r"(?m)^#{1,6}[ \t]+"
_MD_IMAGE = r"!\[([^\]]*)\]\(([^)]*)\)"
_MD_LINK = r"\[([^\]]*)\]\(([^)]*)\)"


def markdown_extract(c: Column | str) -> Column:
    """Markdown → training text (README/docs/forum corpora ship
    markdown, not HTML — the same structure-aware split as
    `extract_tables`): fenced code blocks DROPPED (code is not prose
    and pollutes shingles), heading markers stripped (the heading TEXT
    stays — it is prose), images and links collapsed to their alt/
    anchor text (URLs out, anchors in — the C4 convention), emphasis
    markers (*, `) removed, whitespace collapsed.

    Returns struct(n_headings, n_fences, n_links, prose_text). Pure
    column expressions, zero Python, zero shuffle; every pattern is
    RE2-safe (non-greedy, no backreferences) so the oracle replays
    the chain verbatim."""
    col = F.col(c) if isinstance(c, str) else c
    n_headings = F.size(F.regexp_extract_all(col, F.lit(_MD_HEADING_MARK), 0))
    n_fences = F.size(F.regexp_extract_all(col, F.lit(_MD_FENCE), 0))
    n_links = F.size(F.regexp_extract_all(col, F.lit(_MD_LINK), 0))
    s = F.regexp_replace(col, _MD_FENCE, " ")
    s = F.regexp_replace(s, _MD_HEADING_MARK, "")
    s = F.regexp_replace(s, _MD_IMAGE, "$1")
    s = F.regexp_replace(s, _MD_LINK, "$1")
    s = F.replace(s, F.lit("*"), F.lit(""))
    s = F.replace(s, F.lit("`"), F.lit(""))
    prose = F.trim(F.regexp_replace(s, r"\s+", " "))
    return F.struct(
        n_headings.alias("n_headings"),
        n_fences.alias("n_fences"),
        n_links.alias("n_links"),
        prose.alias("prose_text"),
    )


def nfc_normalize_text(c: Column | str) -> Column:
    """Unicode NFC normalization (UAX #15) — the canonical-form step a
    multilingual corpus runs before tokenization and dedup: 'café'
    spelled e+COMBINING ACUTE and precomposed é are the SAME text but
    different byte strings, so un-normalized corpora under-deduplicate
    and split tokenizer statistics. Spark has no built-in normalizer,
    so this is the sanctioned slow path: one Arrow-batched pandas UDF
    (unicodedata is C-speed); everything around it stays column math.
    The DuckDB oracle replays with nfc_normalize()."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda t: None if t is None else unicodedata.normalize("NFC", t)
        )

    col = F.col(c) if isinstance(c, str) else c
    return _nfc(col)


def c4_line_filter(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The C4 cleaning rules (Raffel et al. 2020, arXiv:1910.10683
    §2.2 — the line-granularity filter the original T5 corpus ran,
    still the first pass of most English web-corpus builds). Line
    rules: retain only lines that END in a terminal punctuation mark
    ('.', '!', '?' or '"'), carry at least five words, and do not
    contain the word 'javascript' (case-insensitive — browser-off
    boilerplate). Page rules: drop any page containing 'lorem ipsum'
    (template filler) or a '{' (leaked code), and any page whose
    RETAINED text has fewer than three sentences (terminal-mark
    count over the kept lines).

    Adds n_lines / n_kept_lines / n_sentences, one int flag per page
    rule, `c4_pass`, and `clean_text` (the kept lines re-joined in
    document order). Pure higher-order column expressions — zero
    Python, zero shuffle; every pattern is RE2-safe so the oracle
    can replay the rules verbatim."""
    lines = F.split(F.col(text_col), "\n")

    def _keep(line):
        t = F.trim(line)
        n_words = F.size(F.filter(F.split(t, "\\s+"), lambda w: w != ""))
        return (
            t.rlike('[.!?"]$')
            & (n_words >= 5)
            & ~F.lower(t).contains("javascript")
        )

    kept = F.filter(lines, _keep)
    clean = F.array_join(
        F.transform(kept, lambda line: F.trim(line)), "\n"
    )
    n_sentences = F.size(F.regexp_extract_all(clean, F.lit("[.!?]"), 0))
    low = F.lower(F.col(text_col))
    f_lorem = (~low.contains("lorem ipsum")).cast("int")
    f_brace = (~low.contains("{")).cast("int")
    f_sent = (n_sentences >= 3).cast("int")
    return df.select(
        "*",
        F.size(lines).alias("n_lines"),
        F.size(kept).alias("n_kept_lines"),
        n_sentences.alias("n_sentences"),
        f_lorem.alias("f_lorem"),
        f_brace.alias("f_brace"),
        f_sent.alias("f_sentences"),
        (f_lorem * f_brace * f_sent).alias("c4_pass"),
        clean.alias("clean_text"),
    )


def line_repetition_signals(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The duplicate-LINE repetition signals of the Gopher filter set
    (Rae et al. 2021 Appendix A — 'fraction of duplicate lines' and
    'fraction of characters in duplicate lines': boilerplate-heavy
    pages repeat nav/footer lines verbatim, and the two fractions
    catch them even when every n-gram statistic looks clean; q74
    covers the top-n-gram axis, this covers the line axis):

        dup_line_frac = (n_lines - n_distinct_lines) / n_lines
        dup_char_frac = chars in repeat occurrences / total chars

    Scale shape: lines are hashed (md5) BEFORE the per-doc groupBy, so
    the shuffle carries (doc_id, hash, len) triples — document text
    never moves; both aggregations are map-side combinable."""
    lines = df.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), "\n")).alias("__line"),
    ).select(
        id_col,
        F.md5(F.col("__line")).alias("__h"),
        F.length("__line").alias("__len"),
    )
    per_line = lines.groupBy(id_col, "__h").agg(
        F.count(F.lit(1)).alias("__cnt"), F.first("__len").alias("__len")
    )
    return per_line.groupBy(id_col).agg(
        F.sum("__cnt").cast("bigint").alias("n_lines"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct_lines"),
        F.sum(F.col("__cnt") * F.col("__len")).cast("bigint").alias(
            "total_chars"
        ),
        F.round(
            (F.sum("__cnt") - F.count(F.lit(1)))
            / F.sum("__cnt").cast("double"),
            6,
        ).alias("dup_line_frac"),
        F.round(
            F.sum((F.col("__cnt") - 1) * F.col("__len"))
            / F.sum(F.col("__cnt") * F.col("__len")).cast("double"),
            6,
        ).alias("dup_char_frac"),
    )


_CODE_LINE_RE = (
    r"(^\s{4})|(\t)|([;{}]\s*$)"
    r"|(\b(def|function|return|import|var|const)\b)"
)


def code_line_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Code-vs-prose routing (the corpus splitter that decides whether
    a document goes to the code pipeline, the prose pipeline, or a
    mixed bucket — StarCoder/The-Stack-style builds route FIRST
    because every downstream statistic differs between the two): a
    line 'looks like code' when it is 4-space/tab indented, ends in
    ';'/'{'/'}', or carries a keyword from a small fixed set
    (def/function/return/import/var/const on word boundaries).

        code_frac > 0.5  → 'code'
        code_frac > 0.1  → 'mixed'
        else             → 'prose'

    Adds n_lines / n_code_lines / code_frac / route. Zero shuffle,
    zero Python — one RE2-safe regexp per line inside a higher-order
    filter, so the oracle replays the rule verbatim."""
    lines = F.split(F.col(text_col), "\n")
    code = F.filter(lines, lambda line: line.rlike(_CODE_LINE_RE))
    n_lines = F.size(lines)
    n_code = F.size(code)
    frac = F.round(n_code / n_lines.cast("double"), 6)
    return df.select(
        "*",
        n_lines.alias("n_lines"),
        n_code.alias("n_code_lines"),
        frac.alias("code_frac"),
        F.when(2 * n_code > n_lines, F.lit("code"))
        .when(10 * n_code > n_lines, F.lit("mixed"))
        .otherwise(F.lit("prose"))
        .alias("route"),
    )


# ---------------------------------------------------------------------------
# Wikitext → plain text (the encyclopedia corpus modality: Wikipedia
# dumps ship wikitext, and every LM corpus since GPT-2 extracts it).
# Grammar per mediawiki.org/wiki/Help:Formatting — templates, tables,
# refs, file/piped/bare/external links, quote runs, heading markers.
# ---------------------------------------------------------------------------

# (pattern, Java replacement) pairs, applied IN ORDER; all patterns are
# RE2-safe (no backreferences/lookaround) so the oracle replays them in
# DuckDB with \1-style replacements. Templates are stripped innermost-
# first: each pass removes {{...}} spans with no inner braces, so
# WIKITEXT_TEMPLATE_PASSES passes handle that nesting depth (deeper
# nests degrade gracefully: the unresolved outer braces survive as
# visible text rather than eating the document).
WIKITEXT_PASSES: tuple[tuple[str, str], ...] = (
    (r"(?s)<!--.*?-->", ""),                                # HTML comments
    (r"(?is)<ref[^>]*/>|<ref[^>]*>.*?</ref>", ""),          # footnote refs
    (r"(?s)\{\|.*?\|\}", ""),                               # tables
    ("__TEMPLATES__", ""),                                  # expanded below
    (r"(?s)\[\[(?:File|Image):[^\[\]]*\]\]", ""),           # media links
    (r"\[\[[^\[\]|]*\|([^\[\]]*)\]\]", "$1"),               # piped links
    (r"\[\[([^\[\]|]*)\]\]", "$1"),                         # bare links
    (r"\[https?://[^ \]]+ ([^\]]*)\]", "$1"),               # ext labeled
    (r"\[https?://[^ \]]+\]", ""),                          # ext bare
    # quote runs, spelled \x27 so the oracle's SQL literal carries no
    # quote characters (5 first: bold-italic before bold before italic)
    (r"\x27{5}|\x27{3}|\x27{2}", ""),
    (r"(?m)^[ \t]*={2,}[ \t]*", ""),                        # heading open
    (r"(?m)[ \t]*={2,}[ \t]*$", ""),                        # heading close
    (r"\n{3,}", "\n\n"),                                    # blank collapse
)

WIKITEXT_TEMPLATE_RE = r"(?s)\{\{[^{}]*\}\}"
WIKITEXT_TEMPLATE_PASSES = 3


def wikitext_to_text(c: Column | str) -> Column:
    """Strip wikitext markup to plain text — comments, <ref> footnotes,
    {| tables |}, {{templates}} (innermost-first, bounded nesting),
    [[File:…]] media, piped/bare/external links (labels kept), quote
    runs, and == heading == markers — then collapse blank runs and
    trim. Zero UDF: a fixed chain of JVM regexp passes, replayed
    verbatim by the oracle (group references are written $1 here and
    \\1 in the RE2 oracle — same semantics, different spelling)."""
    out = F.col(c) if isinstance(c, str) else c
    for pat, rep in WIKITEXT_PASSES:
        if pat == "__TEMPLATES__":
            for _ in range(WIKITEXT_TEMPLATE_PASSES):
                out = F.regexp_replace(out, WIKITEXT_TEMPLATE_RE, "")
        else:
            out = F.regexp_replace(out, pat, rep)
    return F.trim(out)


def sentence_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Sentence segmentation + per-doc length stats (the corpus-QA
    signal behind readability scoring and Gopher's mean-words-per-
    sentence gates): sentences are the non-empty segments after
    splitting on terminal-punctuation runs ``[.!?]+`` — a deliberately
    engine-portable rule (no lookbehind, so RE2/DuckDB replays it
    verbatim). Adds n_sentences, n_words, words_per_sentence."""
    c = F.col(text_col)
    segs = F.filter(
        F.transform(F.split(c, r"[.!?]+"), lambda s: F.trim(s)),
        lambda s: s != "",
    )
    n_sent = F.size(segs)
    words = F.filter(F.split(F.trim(c), r"\s+"), lambda w: w != "")
    n_words = F.size(words)
    return df.withColumn("n_sentences", n_sent).withColumn(
        "n_words", n_words
    ).withColumn(
        "words_per_sentence",
        F.when(n_sent > 0, n_words.cast("double") / n_sent),
    )


def flesch_reading_ease(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Flesch reading ease (Flesch 1948): 206.835 − 1.015·(words/
    sentences) − 84.6·(syllables/words), with the standard vowel-group
    syllable heuristic — a syllable per maximal ``[aeiouy]+`` run in
    the lowercased text (vowel runs cannot span whitespace, so the
    per-text count equals the per-word sum; engine-portable). Docs
    with no sentences or words get NULL. The classic readability gate
    corpus-quality pipelines bucket on."""
    out = sentence_stats(df, text_col)
    syl = F.size(
        F.filter(
            F.split(F.lower(F.col(text_col)), r"[^aeiouy]+"),
            lambda s: s != "",
        )
    )
    return out.withColumn("n_syllables", syl).withColumn(
        "flesch",
        F.when(
            (F.col("n_sentences") > 0) & (F.col("n_words") > 0),
            F.lit(206.835)
            - F.lit(1.015) * F.col("n_words") / F.col("n_sentences")
            - F.lit(84.6) * syl / F.col("n_words"),
        ),
    )
