"""Structured Streaming jobs (availableNow trigger; SURVEY.md §2.9)."""

import pytest

from ontonotes_5_parsing_spark import corpus
from ontonotes_5_parsing_spark.streaming import (  # noqa: F401
    foreach_batch_pipeline,
    stream_pages_to_triples,
    windowed_mention_counts,
)


@pytest.fixture(scope="module")
def pages_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("pages_stream")
    # two file drops = at least two micro-batches under maxFilesPerTrigger
    corpus.web_pages_df(spark, 40, partitions=2).write.mode("overwrite").parquet(
        str(d / "drop1")
    )
    corpus.web_pages_df(spark, 40).filter("url like '%doc2%'").write.mode(
        "overwrite"
    ).parquet(str(d / "drop2"))
    # streaming file source wants a flat dir of files
    flat = tmp_path_factory.mktemp("pages_flat")
    corpus.web_pages_df(spark, 60, partitions=6).write.mode("overwrite").parquet(
        str(flat)
    )
    return str(flat)


def test_stream_pages_to_triples(spark, pages_dir, tmp_path):
    out = str(tmp_path / "triples_out")
    ckpt = str(tmp_path / "ckpt1")
    q = stream_pages_to_triples(spark, pages_dir, out, ckpt)
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    # must equal the batch pipeline on the same pages
    from ontonotes_5_parsing_spark.pipeline.run import build_extraction

    batch = build_extraction(corpus.web_pages_df(spark, 60))["triples"]
    stream_set = {(r.url, r.sent_idx, r.subj, r.pred, r.obj) for r in got.collect()}
    batch_set = {(r.url, r.sent_idx, r.subj, r.pred, r.obj) for r in batch.collect()}
    assert stream_set == batch_set and len(stream_set) > 0


def test_windowed_mention_counts(spark, tmp_path):
    """Windows close and each one emitted holds the batch pipeline's
    mention count for its window and entity type. The 60 pages are one
    per minute, ten to a file, and the files' modification times follow
    the pages' order, so the stream reads them in event-time order (the
    first micro-batch takes four files) and no page arrives late. A
    10-minute window under a 5-minute watermark then closes the windows
    of the first batch's pages."""
    import os

    from pyspark.sql import functions as F

    from ontonotes_5_parsing_spark.pipeline.stages import extract_parse_stage

    pages_dir = tmp_path / "pages"
    pages = corpus.web_pages_df(spark, 60, partitions=6)
    pages.write.parquet(str(pages_dir))
    parts = sorted(pages_dir.glob("part-*.parquet"))
    assert len(parts) == 6
    for i, part in enumerate(parts):
        os.utime(part, (1_700_000_000 + i, 1_700_000_000 + i))
    q = windowed_mention_counts(spark, str(pages_dir), str(tmp_path / "ckpt2"),
                                window="10 minutes", watermark="5 minutes")
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM mention_counts").collect()
    expected = {
        (r.window_start, r.ent_type): r.n_mentions
        for r in extract_parse_stage(pages)
        .select("warc_ts", F.explode("mention_spans.ent_type").alias("ent_type"))
        .groupBy(F.window("warc_ts", "10 minutes").start.alias("window_start"), "ent_type")
        .agg(F.count(F.lit(1)).alias("n_mentions"))
        .collect()
    }
    assert rows
    assert len(rows) == len({(r.window_start, r.ent_type) for r in rows})
    for r in rows:
        assert r.n_mentions == expected[(r.window_start, r.ent_type)], r


def test_foreach_batch_resume(spark, pages_dir, tmp_path):
    work = str(tmp_path / "work")
    ckpt = str(tmp_path / "ckpt3")
    q = foreach_batch_pipeline(spark, pages_dir, work, ckpt)
    q.awaitTermination(120)
    n1 = spark.read.parquet(f"{work}/triples").count()
    assert n1 > 0
    # re-run with same checkpoint: no new files → no new rows (resume)
    q2 = foreach_batch_pipeline(spark, pages_dir, work, ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(f"{work}/triples").count() == n1


def test_stateful_entity_totals(spark, pages_dir, tmp_path):
    """applyInPandasWithState: running totals must accumulate across
    micro-batches through the state store (6 files at
    maxFilesPerTrigger=4 → ≥2 batches), and the final per-type totals
    must equal the batch pipeline's mention counts."""
    from ontonotes_5_parsing_spark.streaming import stateful_entity_totals
    from ontonotes_5_parsing_spark import corpus
    from ontonotes_5_parsing_spark.pipeline.stages import (
        extract_parse_stage,
        mentions_from_parsed,
    )

    ckpt = str(tmp_path / "ckpt_state")
    q = stateful_entity_totals(spark, pages_dir, ckpt)
    q.awaitTermination(180)
    rows = spark.sql("select * from entity_totals").collect()
    assert rows
    # update-mode memory sink keeps one row per (type, batch); the final
    # state per type is the row with the max n_batches
    final = {}
    for r in rows:
        cur = final.get(r.ent_type)
        if cur is None or r.n_batches > cur.n_batches:
            final[r.ent_type] = r
    assert any(r.n_batches >= 2 for r in final.values())
    pages = corpus.web_pages_df(spark, 60, partitions=6)
    expected = {
        r.ent_type: r.cnt
        for r in mentions_from_parsed(
            extract_parse_stage(pages)
        )
        .groupBy("ent_type")
        .count()
        .withColumnRenamed("count", "cnt")
        .collect()
    }
    got = {t: r.n_total for t, r in final.items()}
    assert got == expected
    for r in final.values():
        assert r.first_epoch <= r.last_epoch


def test_streaming_dedup_pages(spark, pages_dir, tmp_path):
    """Watermark-bounded streaming dedup must keep exactly one row per
    distinct text fingerprint (all test pages share the ingest window,
    so no horizon eviction applies) and agree with the batch keeper
    count on the same pages."""
    from pyspark.sql import functions as F

    from ontonotes_5_parsing_spark.streaming import streaming_dedup_pages

    out = str(tmp_path / "dedup_out")
    ckpt = str(tmp_path / "ckpt_dedup")
    q = streaming_dedup_pages(spark, pages_dir, out, ckpt)
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    n_out = got.count()
    assert got.select("fingerprint").distinct().count() == n_out
    batch_distinct = (
        corpus.web_pages_df(spark, 60)
        .select(F.md5("text").alias("fp"))
        .distinct()
        .count()
    )
    assert n_out == batch_distinct
    # bounded-state evidence from the operator's own metrics: the
    # dedup state holds at most one row per distinct fingerprint
    # (never one per input row) — the property that keeps state
    # horizon-bounded under continuous ingest
    state_totals = [
        so["numRowsTotal"]
        for p in q.recentProgress
        for so in p.get("stateOperators", [])
        if so.get("operatorName") == "dedupeWithinWatermark"
    ]
    assert state_totals and max(state_totals) <= batch_distinct
