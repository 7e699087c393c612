"""Streaming semantics tests (SURVEY §2.11): watermarked windowed aggs with
late-data drop, the J2 interval stream-stream join, stream dedup, RocksDB
state store, all under availableNow with one-file-per-microbatch so the
watermark actually advances between batches."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from near_public_lakehouse_spark.streaming import jobs

NS_H = 3_600 * 10**9
BASE = 1_700_000_000_000_000_000  # fixed ns epoch


def _write_batch(spark, path, rows, file_no):
    df = spark.createDataFrame(
        rows, "event_id long, ts long, user_id long, event_type string, value double"
    )
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(path, f"b{file_no}"))


@pytest.fixture(scope="module")
def staged_events(spark, tmp_path_factory):
    """Three files = three micro-batches:
    b0: hours 0-2; b1: hour 1 stragglers (inside watermark) + hours 8-9
    (advances watermark to ~hour 7); b2: one very-late hour-0 row (beyond
    watermark -> must drop from aggregates) + hour 10."""
    root = str(tmp_path_factory.mktemp("stream_events"))
    b0 = [
        (0, BASE + 0 * NS_H + 60 * 10**9, 1, "view", 1.0),
        (1, BASE + 0 * NS_H + 90 * 10**9, 1, "click", 1.0),
        (2, BASE + 1 * NS_H, 2, "view", 1.0),
        (3, BASE + 2 * NS_H, 1, "purchase", 5.0),
    ]
    b1 = [
        (4, BASE + 1 * NS_H + 10 * 10**9, 2, "click", 1.0),  # straggler, kept
        (5, BASE + 8 * NS_H, 1, "view", 1.0),
        (6, BASE + 9 * NS_H, 2, "purchase", 3.0),
    ]
    b2 = [
        (7, BASE + 0 * NS_H + 120 * 10**9, 3, "purchase", 9.0),  # beyond watermark
        (8, BASE + 10 * NS_H, 3, "view", 2.0),
    ]
    for i, rows in enumerate([b0, b1, b2]):
        _write_batch(spark, root, rows, i)
    return root


def _events_stream(spark, staged_events):
    # glob the per-batch subdirs; 1 file per trigger -> 3 micro-batches
    return jobs.read_events_stream(
        spark, os.path.join(staged_events, "b*"), max_files_per_trigger=1
    )


def test_hourly_agg_drops_late_beyond_watermark(spark, staged_events, tmp_path):
    ev = _events_stream(spark, staged_events)
    agg = jobs.hourly_event_counts(ev, watermark="2 hours")
    jobs.run_to_memory(agg, "hourly_test", str(tmp_path / "ck"), output_mode="append")
    rows = spark.sql("SELECT * FROM hourly_test").collect()
    by_key = {(str(r.window_start), r.event_type): r.n_events for r in rows}
    # the straggler click in hour 1 (inside watermark) is counted
    assert sum(n for (w, t), n in by_key.items() if t == "click") == 2
    # the very-late hour-0 purchase (event 7) is dropped: purchases = events 3,6
    assert sum(n for (w, t), n in by_key.items() if t == "purchase") == 2


def test_hourly_agg_batch_mode_keeps_everything(spark, staged_events):
    """Same definition run batch (no watermark effect): late row included —
    documents the watermark as the only difference."""
    df = spark.read.parquet(os.path.join(staged_events, "b*")).withColumn(
        "event_time",
        F.timestamp_micros(
            F.floor(F.col("ts").cast("decimal(38,0)") / F.lit(1000)).cast("bigint")
        ),
    )
    agg = jobs.hourly_event_counts(df)  # batch frames ignore watermarks
    total = agg.agg(F.sum("n_events")).collect()[0][0]
    assert total == 9  # all rows counted, including the very-late one


def test_interval_stream_stream_join(spark, staged_events, tmp_path):
    jobs.enable_rocksdb_state_store(spark)
    try:
        ev = _events_stream(spark, staged_events)
        joined = jobs.clicks_with_recent_views(ev, watermark="2 hours")
        jobs.run_to_memory(joined, "asof_test", str(tmp_path / "ck2"), output_mode="append")
        rows = {(r.click_id, r.view_id) for r in spark.sql("SELECT * FROM asof_test").collect()}
        # click 1 (user1, h0+90s) matches view 0 (user1, h0+60s) within 1h;
        # click 4 (user2, h1+10s) matches view 2 (user2, h1).
        assert rows == {(1, 0), (4, 2)}
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_stream_dedup_within_watermark(spark, tmp_path_factory, tmp_path):
    root = str(tmp_path_factory.mktemp("dedup_events"))
    # same event_id delivered twice across micro-batches
    _write_batch(
        spark,
        root,
        [(1, BASE, 1, "view", 1.0), (2, BASE + 10**9, 1, "click", 1.0)],
        0,
    )
    _write_batch(
        spark,
        root,
        [(1, BASE, 1, "view", 1.0), (3, BASE + 2 * 10**9, 2, "view", 1.0)],
        1,
    )
    ev = jobs.read_events_stream(spark, os.path.join(root, "b*"), max_files_per_trigger=1)
    deduped = jobs.deduped_events(ev, watermark="1 hour")
    jobs.run_to_memory(deduped, "dedup_test", str(tmp_path / "ck3"), output_mode="append")
    ids = [r.event_id for r in spark.sql("SELECT event_id FROM dedup_test").collect()]
    assert sorted(ids) == [1, 2, 3]  # the redelivered id=1 collapsed


def test_run_batch_is_true_full_refresh_for_stateful_nodes(spark, tmp_path):
    """Re-running run_batch over a populated out_dir must NOT fold the new
    change feed into old state: rows deleted upstream must disappear."""
    from near_public_lakehouse_spark.operators.scd import apply_changes
    from near_public_lakehouse_spark.streaming.runner import Pipeline

    out = str(tmp_path / "out")
    os.makedirs(out, exist_ok=True)
    pipe = Pipeline(spark, out)

    @pipe.table("accounts", deps=["changes"], partition_by=None,
                apply=lambda s, df, p: apply_changes(s, p, df, ["k"], "seq"))
    def _accounts(s, inputs):
        return inputs["changes"]

    feed1 = spark.createDataFrame([(1, "a", 10), (2, "b", 10)], "k int, v string, seq int")
    pipe.run_batch({"changes": feed1})
    assert {r.k for r in pipe.read("accounts").collect()} == {1, 2}

    # upstream deleted k=2; a FULL refresh must not retain it
    feed2 = spark.createDataFrame([(1, "a2", 20)], "k int, v string, seq int")
    pipe.run_batch({"changes": feed2})
    rows = {r.k: (r.v, r.seq) for r in pipe.read("accounts").collect()}
    assert rows == {1: ("a2", 20)}


def test_run_batch_rejects_unknown_deps_before_any_node_runs(spark, tmp_path):
    from near_public_lakehouse_spark.streaming.runner import Pipeline

    pipe = Pipeline(spark, str(tmp_path))

    @pipe.table("a", deps=["src"], partition_by=None)
    def _a(s, inputs):
        return inputs["src"]

    @pipe.table("b", deps=["a", "ghost"], partition_by=None)
    def _b(s, inputs):
        return inputs["a"]

    src = spark.createDataFrame([(1,)], "k int")
    with pytest.raises(ValueError, match="ghost"):
        pipe.run_batch({"src": src})
    assert not os.path.exists(pipe.path("a"))


def test_run_batch_failure_skips_dependents_and_finishes_siblings(spark, tmp_path):
    """A failing node's exception propagates; its dependent is never
    built; a sibling already running when it fails completes."""
    import threading

    from near_public_lakehouse_spark.streaming.runner import Pipeline

    pipe = Pipeline(spark, str(tmp_path))
    sibling_started = threading.Event()
    dependent_built = []

    @pipe.table("boom", deps=["src"], partition_by=None)
    def _boom(s, inputs):
        assert sibling_started.wait(60)
        raise RuntimeError("boom failed")

    @pipe.table("sibling", deps=["src"], partition_by=None)
    def _sibling(s, inputs):
        sibling_started.set()
        return inputs["src"]

    @pipe.table("after_boom", deps=["boom"], partition_by=None)
    def _after(s, inputs):
        dependent_built.append(True)
        return inputs["boom"]

    src = spark.createDataFrame([(i,) for i in range(100)], "k int")
    with pytest.raises(RuntimeError, match="boom failed"):
        pipe.run_batch({"src": src})
    assert dependent_built == []
    assert sorted(r.k for r in pipe.read("sibling").collect()) == list(range(100))


def test_streaming_frequent_ngrams_matches_batch(spark, tmp_path):
    """The keyed-MG stream must converge to the batch truth: with
    capacity high enough to never overflow, the final snapshot per bucket
    holds EXACT counts for every n-gram; with a tiny capacity, a hot
    phrase still survives (the per-bucket pigeonhole guarantee)."""
    import os

    root = str(tmp_path / "docs")
    hot = "alpha beta gamma delta"  # 4 tokens -> 2 trigram windows
    docs0 = [(i, f"u{i}a u{i}b u{i}c u{i}d", "en", "s", 10) for i in range(40)]
    docs1 = [(100 + i, hot, "en", "s", 10) for i in range(25)]
    for no, rows in ((0, docs0), (1, docs1)):
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        ).coalesce(1).write.mode("overwrite").parquet(os.path.join(root, f"b{no}"))

    from near_public_lakehouse_spark.streaming.jobs import (
        run_to_memory,
        streaming_frequent_ngrams,
    )

    src = os.path.join(root, "b*")
    out = streaming_frequent_ngrams(
        spark, src, n_buckets=4, capacity=4096, max_files_per_trigger=1
    )
    run_to_memory(out, "freq_ng", str(tmp_path / "ck"), output_mode="update")
    snap = spark.table("freq_ng")
    # latest snapshot per bucket = rows at that bucket's max bucket_total
    from pyspark.sql import Window as W

    latest = snap.withColumn(
        "mx", F.max("bucket_total").over(W.partitionBy("bucket"))
    ).filter(F.col("bucket_total") == F.col("mx"))
    got = {(r.ngram, r.mg_count) for r in latest.collect()}

    # batch truth over the same files with the same trigram extraction
    from near_public_lakehouse_spark.queries.text import MG_NGRAM_W

    docs = spark.read.parquet(os.path.join(root, "b*"))
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    grams = F.when(
        F.size(toks) >= MG_NGRAM_W,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - MG_NGRAM_W + 1),
            lambda i: F.array_join(F.slice(toks, i, MG_NGRAM_W), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    exact = {
        (r.ngram, r.c)
        for r in docs.select(F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    assert got == exact  # no overflow at capacity 4096 -> exact snapshot

    # tiny capacity: the hot trigrams must still be candidates
    out2 = streaming_frequent_ngrams(
        spark, src, n_buckets=2, capacity=8, max_files_per_trigger=1
    )
    run_to_memory(out2, "freq_ng2", str(tmp_path / "ck2"), output_mode="update")
    snap2 = spark.table("freq_ng2")
    latest2 = snap2.withColumn(
        "mx", F.max("bucket_total").over(W.partitionBy("bucket"))
    ).filter(F.col("bucket_total") == F.col("mx"))
    cands2 = {r.ngram for r in latest2.collect()}
    assert "alpha beta gamma" in cands2 and "beta gamma delta" in cands2


def test_streaming_substring_clean(spark, tmp_path):
    """Incremental span cleaning: one-batch run == the batch transform;
    across batches a later duplicate cleans itself against history while
    already-emitted docs stay as published; checkpoint rerun is a no-op."""
    import os

    from near_public_lakehouse_spark.queries.dedup import substring_clean_frame
    from near_public_lakehouse_spark.streaming.jobs import streaming_substring_clean

    dup = " ".join(f"w{i}" for i in range(12))  # 12 tokens -> 5 windows of 8
    uniq0 = " ".join(f"x{i}" for i in range(12))
    uniq1 = " ".join(f"y{i}" for i in range(12))
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    b0 = [(0, dup, "en", "s", 1), (1, uniq0, "en", "s", 1)]
    b1 = [(2, dup, "en", "s", 1), (3, uniq1, "en", "s", 1)]
    root = str(tmp_path / "docs")
    for no, rows in ((0, b0), (1, b1)):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(root, f"b{no}"))
    src = os.path.join(root, "b*")

    def run(tag):
        q = streaming_substring_clean(
            spark,
            src,
            str(tmp_path / "index"),
            str(tmp_path / "out"),
            str(tmp_path / "ck"),
            max_files_per_trigger=1,
        )
        q.awaitTermination(120)

    run("first")
    out = spark.read.option("basePath", str(tmp_path / "out")).parquet(
        str(tmp_path / "out") + "/batch_id=*"
    )
    got = {r.doc_id: (r.removed_toks, r.cleaned_text) for r in out.collect()}
    # batch 0: dup not yet duplicated -> untouched; batch 1: doc 2 sees doc
    # 0's windows in the index and is fully cut; uniques never touched
    assert got[0] == (0, dup) and got[1] == (0, uniq0) and got[3] == (0, uniq1)
    assert got[2] == (12, "")

    # checkpoint rerun: nothing reprocessed, outputs unchanged
    run("again")
    out2 = spark.read.option("basePath", str(tmp_path / "out")).parquet(
        str(tmp_path / "out") + "/batch_id=*"
    )
    assert {r.doc_id: (r.removed_toks, r.cleaned_text) for r in out2.collect()} == got

    # single-batch equivalence: everything in ONE batch == batch transform
    root2 = str(tmp_path / "docs_one")
    spark.createDataFrame(b0 + b1, schema).coalesce(1).write.parquet(
        os.path.join(root2, "all")
    )
    q = streaming_substring_clean(
        spark,
        os.path.join(root2, "a*"),
        str(tmp_path / "index2"),
        str(tmp_path / "out2"),
        str(tmp_path / "ck3"),
    )
    q.awaitTermination(120)
    one = spark.read.option("basePath", str(tmp_path / "out2")).parquet(
        str(tmp_path / "out2") + "/batch_id=*"
    )
    batch_truth = substring_clean_frame(spark.createDataFrame(b0 + b1, schema))
    assert sorted(map(tuple, one.drop("batch_id").collect())) == sorted(
        map(tuple, batch_truth.collect())
    )


def test_compact_substring_index(spark, tmp_path):
    """Index compaction folds batch dirs into batch_id=-1 with identical
    aggregated counts, the stream keeps cleaning correctly against the
    compacted history, and crash leftovers (absorbed dir still on disk)
    are recovered without double counting."""
    import os
    import shutil

    from near_public_lakehouse_spark.streaming.jobs import (
        compact_substring_index,
        streaming_substring_clean,
    )

    dup = " ".join(f"w{i}" for i in range(12))
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    root = str(tmp_path / "docs")
    b0 = [(0, dup, "en", "s", 1), (1, " ".join(f"x{i}" for i in range(12)), "en", "s", 1)]
    b1 = [(2, " ".join(f"y{i}" for i in range(12)), "en", "s", 1)]
    for no, rows in ((0, b0), (1, b1)):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(root, f"b{no}"))
    src = os.path.join(root, "b*")
    index, out, ck = (str(tmp_path / p) for p in ("index", "out", "ck"))

    def run():
        streaming_substring_clean(
            spark, src, index, out, ck, max_files_per_trigger=1
        ).awaitTermination(120)

    run()

    def counts():
        return {
            (r.h, r.n_docs)
            for r in spark.read.option("basePath", index)
            .parquet(f"{index}/batch_id=*")
            .groupBy("h")
            .agg(F.sum("n_docs").alias("n_docs"))
            .collect()
        }

    before = counts()
    assert compact_substring_index(spark, index, checkpoint=ck) == 2
    assert sorted(os.listdir(index)) == ["batch_id=-1"]
    assert counts() == before

    # crash leftover: an absorbed dir reappears -> recovery removes it,
    # counts unchanged (no double counting)
    shutil.copytree(
        os.path.join(index, "batch_id=-1"), os.path.join(index, "batch_id=0")
    )
    os.remove(os.path.join(index, "batch_id=0", "_FOLDED"))
    # pretend batch_id=0 was absorbed by the live fold
    import json

    with open(os.path.join(index, "batch_id=-1", "_FOLDED"), "w") as fh:
        json.dump(["batch_id=0"], fh)
    assert compact_substring_index(spark, index, checkpoint=ck) == 0
    assert sorted(os.listdir(index)) == ["batch_id=-1"]
    assert counts() == before

    # the stream continues against the compacted index: a new duplicate of
    # the batch-0 doc is fully cleaned
    spark.createDataFrame(
        [(9, dup, "en", "s", 1)], schema
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(root, "b2"))
    run()
    got = {
        r.doc_id: (r.removed_toks, r.cleaned_text)
        for r in spark.read.option("basePath", out)
        .parquet(f"{out}/batch_id=*")
        .collect()
    }
    assert got[9] == (12, "")


def test_streaming_boilerplate_decontamination_flags_from_crossing_trigger(
    spark, tmp_path
):
    """VERDICT r5 task #7: MG heavy-hitter detection fused with the
    contamination flagging. A phrase below support in batch 0 flags
    nothing; when its accumulated count crosses the threshold in batch 1,
    batch 1's docs are flagged in that same trigger (merge-before-flag)
    and every later doc containing it stays flagged — no batch round-trip
    to build a block-list."""
    import os

    from near_public_lakehouse_spark.streaming.jobs import (
        compact_substring_index,
        streaming_boilerplate_decontamination,
    )

    phrase = "free prize now"
    filler = lambda i: " ".join(f"f{i}x{j}" for j in range(6))  # noqa: E731
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    root = str(tmp_path / "docs")
    # batch 0: phrase occurs twice (below support=4) across two docs
    b0 = [
        (0, f"{phrase} {filler(0)}", "en", "s", 1),
        (1, f"{filler(1)} {phrase}", "en", "s", 1),
    ]
    # batch 1: two more occurrences -> cumulative 4 crosses support
    b1 = [
        (2, f"{phrase} {filler(2)}", "en", "s", 1),
        (3, f"{phrase} also here", "en", "s", 1),
        (4, filler(4), "en", "s", 1),
    ]
    # batch 2: a single occurrence in a fresh doc is now instantly flagged
    b2 = [(5, f"brand new {phrase} text", "en", "s", 1)]
    for no, rows in ((0, b0), (1, b1), (2, b2)):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(root, f"b{no}"))
    index, out, ck = (str(tmp_path / p) for p in ("index", "out", "ck"))

    streaming_boilerplate_decontamination(
        spark,
        os.path.join(root, "b*"),
        index,
        out,
        ck,
        support=4,
        capacity=64,
        max_files_per_trigger=1,
    ).awaitTermination(180)

    got = {
        r.doc_id: (r.n_blocked, r.is_flagged)
        for r in spark.read.option("basePath", out)
        .parquet(f"{out}/batch_id=*")
        .collect()
    }
    assert len(got) == 6
    # batch 0: phrase still below support -> nothing flagged
    assert got[0] == (0, False) and got[1] == (0, False)
    # batch 1: the crossing trigger — phrase docs flagged, filler not
    assert got[2][1] and got[3][1] and got[4] == (0, False)
    # batch 2: one occurrence suffices once the phrase is hot
    assert got[5][1]

    # the shared compaction folds this index too (key_col="ngram")
    assert compact_substring_index(spark, index, checkpoint=ck, key_col="ngram") == 3
    merged = {
        r.ngram: r.n
        for r in spark.read.option("basePath", index)
        .parquet(f"{index}/batch_id=*")
        .groupBy("ngram")
        .agg(F.sum("n_docs").alias("n"))
        .collect()
    }
    assert merged[phrase] == 5  # 2 (b0) + 2 (b1) + 1 (b2)


def test_compact_substring_index_replay_fence(spark, tmp_path):
    """Round-6 ADVICE regression: an index dir whose batch never committed
    (foreachBatch wrote it, then the stream died before the checkpoint
    commit) must NOT fold — otherwise the restarted stream's replay
    rewrites the dir and its counts exist twice, pushing single-occurrence
    windows over the >=2 duplicate threshold."""
    import json
    import os

    from near_public_lakehouse_spark.streaming.jobs import compact_substring_index

    index = str(tmp_path / "index")
    ck = str(tmp_path / "ck")
    os.makedirs(os.path.join(ck, "commits"))
    one = spark.createDataFrame([("h_committed", 1)], "h string, n_docs long")
    two = spark.createDataFrame([("h_uncommitted", 1)], "h string, n_docs long")
    one.coalesce(1).write.parquet(os.path.join(index, "batch_id=0"))
    two.coalesce(1).write.parquet(os.path.join(index, "batch_id=1"))
    # only batch 0 reached the commit log
    open(os.path.join(ck, "commits", "0"), "w").close()

    assert compact_substring_index(spark, index, checkpoint=ck) == 1
    assert sorted(os.listdir(index)) == ["batch_id=-1", "batch_id=1"]

    # the replayed batch overwrites its own dir — idempotent, no doubling
    two.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(index, "batch_id=1")
    )
    merged = {
        r.h: r.n
        for r in spark.read.option("basePath", index)
        .parquet(f"{index}/batch_id=*")
        .groupBy("h")
        .agg(F.sum("n_docs").alias("n"))
        .collect()
    }
    assert merged == {"h_committed": 1, "h_uncommitted": 1}

    # without a checkpoint, the highest batch id is fenced instead
    no_ck_index = str(tmp_path / "index2")
    one.coalesce(1).write.parquet(os.path.join(no_ck_index, "batch_id=0"))
    two.coalesce(1).write.parquet(os.path.join(no_ck_index, "batch_id=1"))
    assert compact_substring_index(spark, no_ck_index) == 1
    assert sorted(os.listdir(no_ck_index)) == ["batch_id=-1", "batch_id=1"]
    # sanity: the fold's sidecar records exactly the absorbed dir
    with open(os.path.join(no_ck_index, "batch_id=-1", "_FOLDED")) as fh:
        assert json.load(fh) == ["batch_id=0"]
