"""Structured Streaming incremental harvest: exactly-once file
processing, cross-batch content dedup, batch-parity of results, and the
windowed-rate monitor."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from gleaner_spark.sources.pages import gen_pages_spark, gen_sources_spark
from gleaner_spark.streaming.incremental import (
    stream_pipeline,
    windowed_host_rates,
)


@pytest.fixture()
def feed_dirs(tmp_path):
    pages_dir = str(tmp_path / "feed")
    out_dir = str(tmp_path / "warehouse")
    os.makedirs(pages_dir, exist_ok=True)
    return pages_dir, out_dir


def _land(spark, pages_dir, start, n, name):
    """Simulate a WARC segment landing in the feed directory; content is
    a pure function of the row index, so [start, start+n) regenerates
    exactly the same rows every time."""
    from gleaner_spark.sources.pages import PAGES_SCHEMA, gen_pages_pandas

    pdf = gen_pages_pandas(n, start=start)
    spark.createDataFrame(pdf, schema=PAGES_SCHEMA).write.mode(
        "overwrite"
    ).parquet(os.path.join(pages_dir, name))


def test_incremental_stream_matches_batch_and_dedups(spark, feed_dirs):
    pages_dir, out_dir = feed_dirs
    src = gen_sources_spark(spark)

    _land(spark, pages_dir, 0, 200, "seg0")
    q = stream_pipeline(spark, pages_dir + "/*", out_dir, src)
    q.awaitTermination(300)

    docs1 = spark.read.parquet(os.path.join(out_dir, "docs"))
    n1 = docs1.count()
    assert n1 > 0
    assert docs1.select("doc_sha1").distinct().count() == n1

    # second segment: 100 new pages + the first 50 re-crawled (dup urls,
    # same content → content dedup must drop them all)
    _land(spark, pages_dir, 200, 100, "seg1")
    _land(spark, pages_dir, 0, 50, "seg2")
    q = stream_pipeline(spark, pages_dir + "/*", out_dir, src)
    q.awaitTermination(300)

    docs2 = spark.read.parquet(os.path.join(out_dir, "docs"))
    assert docs2.select("doc_sha1").distinct().count() == docs2.count()

    # parity: streaming warehouse == one-shot batch over pages 0..300
    from gleaner_spark.operators.stages import (
        dedup_docs, extract_stage, normalize_stage, with_source,
    )

    batch_docs = dedup_docs(
        normalize_stage(
            extract_stage(with_source(gen_pages_spark(spark, 300, 4), src))
        )
    )
    stream_shas = {r["doc_sha1"] for r in docs2.select("doc_sha1").collect()}
    batch_shas = {r["doc_sha1"] for r in batch_docs.select("doc_sha1").collect()}
    assert stream_shas == batch_shas

    # restart with no new files: exactly-once → nothing reprocessed
    q = stream_pipeline(spark, pages_dir + "/*", out_dir, src)
    q.awaitTermination(300)
    assert spark.read.parquet(os.path.join(out_dir, "docs")).count() == docs2.count()


def test_batch_replay_is_idempotent(spark, feed_dirs):
    """foreachBatch is at-least-once: replaying the same batch id (same
    source files per the stream checkpoint) must leave the warehouse
    byte-for-byte equivalent — batch-scoped overwrite sinks, not appends."""
    from gleaner_spark.sources.pages import PAGES_SCHEMA, gen_pages_pandas
    from gleaner_spark.streaming.incremental import _process_batch

    _, out_dir = feed_dirs
    src = gen_sources_spark(spark)
    batch = spark.createDataFrame(gen_pages_pandas(80, start=0),
                                  schema=PAGES_SCHEMA)
    _process_batch(batch, 0, out_dir, src, "gleaner")
    docs_n = spark.read.parquet(os.path.join(out_dir, "docs")).count()
    tri_n = spark.read.parquet(os.path.join(out_dir, "triples")).count()
    assert docs_n > 0 and tri_n > 0

    # full replay of batch 0
    _process_batch(batch, 0, out_dir, src, "gleaner")
    assert spark.read.parquet(os.path.join(out_dir, "docs")).count() == docs_n
    assert spark.read.parquet(os.path.join(out_dir, "triples")).count() == tri_n

    # a LATER batch with duplicate content still content-dedups
    dup = spark.createDataFrame(gen_pages_pandas(40, start=0),
                                schema=PAGES_SCHEMA)
    _process_batch(dup, 1, out_dir, src, "gleaner")
    assert spark.read.parquet(os.path.join(out_dir, "docs")).count() == docs_n
    assert spark.read.parquet(os.path.join(out_dir, "triples")).count() == tri_n


def test_crash_between_sinks_recovers(spark, feed_dirs):
    """Round-1 ADVICE failure mode: an attempt that persisted this
    batch's docs but died before the triples write.  The replay must not
    anti-join its own half-written batch away — triples must appear."""
    from gleaner_spark.operators.stages import (
        dedup_docs, extract_stage, normalize_stage, with_source,
    )
    from gleaner_spark.sources.pages import PAGES_SCHEMA, gen_pages_pandas
    from gleaner_spark.streaming.incremental import _process_batch

    _, out_dir = feed_dirs
    src = gen_sources_spark(spark)
    batch = spark.createDataFrame(gen_pages_pandas(60, start=0),
                                  schema=PAGES_SCHEMA)
    # simulate the poisoned state: docs of batch 0 landed, triples didn't
    docs = dedup_docs(normalize_stage(extract_stage(with_source(batch, src))))
    docs.write.mode("overwrite").partitionBy("source").parquet(
        os.path.join(out_dir, "docs", "batch_id=0")
    )
    # the stream replays batch 0
    _process_batch(batch, 0, out_dir, src, "gleaner")
    tri = spark.read.parquet(os.path.join(out_dir, "triples"))
    assert tri.count() > 0
    d = spark.read.parquet(os.path.join(out_dir, "docs"))
    assert d.select("doc_sha1").distinct().count() == d.count()


def test_batch_prior_docs_missing_lands_corrupt_raises(spark, tmp_path):
    """The cross-batch dedup reads the docs sink: absent (first batch) →
    the batch lands; present but unreadable → the batch fails instead of
    silently re-ingesting history as duplicates."""
    from gleaner_spark.sources.pages import PAGES_SCHEMA, gen_pages_pandas
    from gleaner_spark.streaming.incremental import _process_batch

    src = gen_sources_spark(spark)
    batch = spark.createDataFrame(gen_pages_pandas(12, start=0),
                                  schema=PAGES_SCHEMA)

    fresh = str(tmp_path / "fresh")
    _process_batch(batch, 0, fresh, src, "gleaner")
    assert spark.read.parquet(os.path.join(fresh, "docs")).count() > 0
    assert spark.read.parquet(os.path.join(fresh, "triples")).count() > 0

    (tmp_path / "corrupt" / "docs").mkdir(parents=True)
    (tmp_path / "corrupt" / "docs" / "part-0.parquet").write_bytes(
        b"not parquet")
    with pytest.raises(Exception, match="not a Parquet file"):
        _process_batch(batch, 0, str(tmp_path / "corrupt"), src, "gleaner")


def test_stateful_sessionize_carries_state_across_batches(spark, tmp_path):
    """applyInPandasWithState: a session OPEN at the end of batch 1 must
    continue in batch 2 (state store), and the flush punctuation closes
    the final open session."""
    import shutil
    import uuid

    from gleaner_spark.streaming.stateful import (
        FLUSH_MARKER,
        run_sessionize_over_segments,
    )

    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    segs = [
        [(1, 0, "e"), (1, 100, "e"), (2, 50, "e")],
        [(1, 200, "e"), (1, 5000, "e"), (2, 10000, "e")],
        [(1, 99999, FLUSH_MARKER), (2, 99999, FLUSH_MARKER)],
    ]
    for i, rows in enumerate(segs):
        tmp = str(tmp_path / f"_t{i}")
        spark.createDataFrame(
            rows, "user_id long, t long, event_type string"
        ).coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(f for f in sorted(os.listdir(tmp))
                    if f.endswith(".parquet"))
        shutil.move(os.path.join(tmp, part),
                    os.path.join(feed, f"seg{i}.parquet"))

    out = run_sessionize_over_segments(
        spark, feed, f"sess_test_{uuid.uuid4().hex[:6]}", gap_seconds=1800
    )
    got = {
        (r.user_id, r.session_idx): (r.n_events, r.t_start, r.t_end)
        for r in out.collect()
    }
    assert got == {
        # user 1 session 0 spans batch 1+2 (0,100,200); 5000 opens a new
        # session closed by the flush
        (1, 0): (3, 0, 200),
        (1, 1): (1, 5000, 5000),
        # user 2: 50 then 10000 (> gap) → two sessions
        (2, 0): (1, 50, 50),
        (2, 1): (1, 10000, 10000),
    }


def test_windowed_host_rates(spark, feed_dirs, tmp_path):
    pages_dir, _ = feed_dirs
    _land(spark, pages_dir, 0, 300, "seg0")
    rates = windowed_host_rates(spark, pages_dir + "/*", window="1 hour")
    q = (
        rates.writeStream.format("memory")
        .queryName("host_rates")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.awaitTermination(300)
    out = spark.table("host_rates")
    total = out.agg(F.sum("pages")).collect()[0][0]
    # append mode emits only watermark-closed windows; all synthetic
    # timestamps fall in one ~5min span → total is None or ≤ 300
    assert total is None or total <= 300
    # complete-mode equivalent via direct batch read for the exact count
    batch = (
        spark.read.parquet(pages_dir + "/*")
        .groupBy(F.window("warc_ts", "1 hour"))
        .count()
        .agg(F.sum("count"))
        .collect()[0][0]
    )
    assert batch == 300
