"""Incremental segment-dedup sink (q123's operator): batch-boundary
semantics, O(batch) store growth, and replay determinism."""

from __future__ import annotations

import glob
import os

from odin_rs_spark.streaming.pipelines import incremental_segment_dedup_sink


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_earlier_batch_flags_later_instances(spark, tmp_path):
    store, stats = str(tmp_path / "store"), str(tmp_path / "stats")
    sink = incremental_segment_dedup_sink(store, stats, seg_words=3)
    boiler = "the quick brown"  # one 3-word segment
    sink(_docs(spark, [(1, boiler + " alpha beta gamma")]), 0)
    sink(_docs(spark, [(2, boiler + " delta epsilon zeta")]), 1)
    rows = {r["doc_id"]: r for r in spark.read.parquet(stats).collect()}
    # batch 0: nothing seen before → no dups
    assert rows[1]["n_segs"] == 2 and rows[1]["n_dup_segs"] == 0
    # batch 1: the shared boilerplate segment is flagged, the fresh one not
    assert rows[2]["n_segs"] == 2 and rows[2]["n_dup_segs"] == 1


def test_within_batch_repeats_not_flagged(spark, tmp_path):
    """The store updates BETWEEN batches: two docs sharing a segment in
    the SAME batch are both clean (that repeat is q92's corpus audit's
    job; the incremental rule is strictly-earlier-batch)."""
    store, stats = str(tmp_path / "store"), str(tmp_path / "stats")
    sink = incremental_segment_dedup_sink(store, stats, seg_words=3)
    seg = "lorem ipsum dolor"
    sink(_docs(spark, [(1, seg), (2, seg)]), 0)
    rows = spark.read.parquet(stats).collect()
    assert all(r["n_dup_segs"] == 0 for r in rows)


def test_store_grows_by_distinct_new_only(spark, tmp_path):
    store, stats = str(tmp_path / "store"), str(tmp_path / "stats")
    sink = incremental_segment_dedup_sink(store, stats, seg_words=3)
    sink(_docs(spark, [(1, "a b c d e f")]), 0)  # 2 segments
    n0 = spark.read.parquet(store).count()
    assert n0 == 2
    files0 = set(glob.glob(os.path.join(store, "part-*")))
    # batch 1: one old segment + one new → store grows by exactly 1,
    # and strictly by APPEND (batch 0's files untouched)
    sink(_docs(spark, [(2, "a b c x y z")]), 1)
    assert spark.read.parquet(store).count() == 3
    assert files0.issubset(set(glob.glob(os.path.join(store, "part-*"))))
    assert spark.read.parquet(store).select("__h").distinct().count() == 3


def test_replay_determinism(spark, tmp_path):
    batches = [
        [(1, "p q r s t u"), (2, "p q r x y z")],
        [(3, "x y z p q r"), (4, "completely fresh words here now ok")],
    ]

    def run(root):
        sink = incremental_segment_dedup_sink(root + "/store", root + "/stats", seg_words=3)
        for i, b in enumerate(batches):
            sink(_docs(spark, b), i)
        return sorted(
            (r["doc_id"], r["n_segs"], r["n_dup_segs"])
            for r in spark.read.parquet(root + "/stats").collect()
        )

    a = run(str(tmp_path / "a"))
    b = run(str(tmp_path / "b"))
    assert a == b
    # batch 1 doc 3 shares both its segments with batch 0 docs
    assert dict((d, (n, dup)) for d, n, dup in a)[3] == (2, 2)


def test_rerun_of_uncommitted_batch_lands_once(spark, tmp_path):
    """A crash after the sink of the last batch but before its commit:
    the restarted query runs that batch again. The stats still hold each
    document once, the store each hash once, and the dup counts match a
    run that never crashed."""
    from odin_rs_spark.streaming import sources
    from odin_rs_spark.streaming.pipelines import run_available_now

    # each doc: shared boilerplate, its own segment, and the own segment
    # of the doc one batch earlier, so every batch has new and seen hashes
    df = _docs(
        spark,
        [
            (i, f"the quick brown u{i} v{i} w{i} u{i - 4} v{i - 4} w{i - 4}")
            for i in range(12)
        ],
    )
    chunks = str(tmp_path / "replay")
    sources.split_for_replay(df, chunks, n_chunks=3, order_col="doc_id")

    def drain(root):
        run_available_now(
            sources.replay_stream(spark, chunks, df.schema),
            incremental_segment_dedup_sink(root + "/store", root + "/stats", seg_words=3),
            root + "/ckpt",
            output_mode="append",
        )
        return spark.read.parquet(root + "/stats"), spark.read.parquet(root + "/store")

    clean_stats, _ = drain(str(tmp_path / "clean"))
    root = str(tmp_path / "crash")
    drain(root)
    commits = tmp_path / "crash" / "ckpt" / "commits"
    (commits / "2").unlink()
    for crc in commits.glob(".2*.crc"):
        crc.unlink()
    stats, store = drain(root)
    assert sorted(tuple(r) for r in stats.groupBy("__batch_id").count().collect()) == [
        (0, 4), (1, 4), (2, 4),
    ]
    assert stats.select("doc_id").distinct().count() == 12
    assert store.groupBy("__h").count().filter("count > 1").count() == 0

    def dups(s):
        return sorted((r.doc_id, r.n_segs, r.n_dup_segs) for r in s.collect())

    assert dups(stats) == dups(clean_stats)
    assert sum(n for _, _, n in dups(stats)) > 0
