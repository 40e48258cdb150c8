"""Structured Streaming jobs over web_pages feeds.

Event time is `warc_ts` (BASELINE.json:15). All jobs run with
`trigger(availableNow=True)` in tests — process everything pending,
then stop — which is also the production shape for incremental
snapshot processing (the batch-resume analog of lineage.resume_filter).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pipeline.schemas import WEB_PAGES_SCHEMA
from ..pipeline.stages import extract_parse_stage, triples_from_parsed


def read_pages_stream(spark: SparkSession, pages_dir: str) -> DataFrame:
    """File-source stream of web_pages parquet drops (new files = new
    micro-batches), schema pinned (never inferred)."""
    return (
        spark.readStream.schema(WEB_PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(pages_dir)
    )


def stream_pages_to_triples(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """pages stream → fused extract/parse/annotate → triples sink.

    The same Arrow UDF stage as batch (stateless row transform →
    streaming-safe); append-mode parquet sink with exactly-once via the
    checkpoint dir.
    """
    pages = read_pages_stream(spark, pages_dir)
    parsed = extract_parse_stage(pages)
    triples = triples_from_parsed(parsed)
    return (
        triples.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def windowed_mention_counts(
    spark: SparkSession,
    pages_dir: str,
    checkpoint_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
):
    """Watermarked tumbling-window mention counts per entity type.

    Late pages beyond the watermark are dropped; state is bounded —
    the streaming analog of A2 (entity frequencies, SURVEY.md §2.4).
    Returns a started query writing to an in-memory sink named
    'mention_counts'.
    """
    parsed = extract_parse_stage(read_pages_stream(spark, pages_dir))
    # the lean parsed schema carries warc_ts through the UDF, so each
    # mention takes its page's event time without a join
    with_ts = parsed.select("warc_ts", F.explode("mention_spans.ent_type").alias("ent_type"))
    counts = (
        with_ts.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "ent_type")
        .agg(F.count(F.lit(1)).alias("n_mentions"))
        .select(
            F.col("w.start").alias("window_start"),
            "ent_type",
            "n_mentions",
        )
    )
    return (
        counts.writeStream.format("memory")
        .queryName("mention_counts")
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


ENTITY_STATE_OUTPUT = (
    "ent_type string, n_total long, n_batches long, "
    "first_epoch long, last_epoch long"
)
ENTITY_STATE_SCHEMA = (
    "n_total long, n_batches long, first_epoch long, last_epoch long"
)


def stateful_entity_totals(
    spark: SparkSession,
    pages_dir: str,
    checkpoint_dir: str,
):
    """Custom stateful operator via `applyInPandasWithState`: running
    per-entity-type mention totals that survive micro-batch (and
    restart) boundaries through the state store — the arbitrary-state
    form that windowed aggregation can't express (the state here is a
    running (count, batches, first/last event-time) tuple updated by
    arbitrary Python, stand-in for e.g. cross-batch coref chains).
    Emits one updated row per entity type per batch; returns the
    started query (in-memory sink 'entity_totals')."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    pages = read_pages_stream(spark, pages_dir)
    # the lean parsed schema carries warc_ts through the UDF, so no
    # stream-stream join is needed (disallowed in update mode anyway)
    parsed = extract_parse_stage(pages)
    with_ts = parsed.select(
        F.explode("mention_spans").alias("m"),
        F.unix_timestamp("warc_ts").alias("epoch"),
    ).select(F.col("m.ent_type").alias("ent_type"), "epoch")

    def update(key, pdfs, state: GroupState):
        n = 0
        lo, hi = None, None
        for pdf in pdfs:
            n += len(pdf)
            if len(pdf):
                mn, mx = int(pdf["epoch"].min()), int(pdf["epoch"].max())
                lo = mn if lo is None else min(lo, mn)
                hi = mx if hi is None else max(hi, mx)
        if state.exists:
            total, batches, first, last = state.get
        else:
            total, batches, first, last = 0, 0, None, None
        total += n
        batches += 1
        first = lo if first is None else (first if lo is None else min(first, lo))
        last = hi if last is None else (last if hi is None else max(last, hi))
        state.update((total, batches, first, last))
        yield pd.DataFrame(
            {
                "ent_type": [key[0]],
                "n_total": [total],
                "n_batches": [batches],
                "first_epoch": [first],
                "last_epoch": [last],
            }
        )

    totals = with_ts.groupBy("ent_type").applyInPandasWithState(
        update,
        ENTITY_STATE_OUTPUT,
        ENTITY_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )
    return (
        totals.writeStream.format("memory")
        .queryName("entity_totals")
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )


def foreach_batch_pipeline(
    spark: SparkSession,
    pages_dir: str,
    work_dir: str,
    checkpoint_dir: str,
):
    """Micro-batch driver: every batch of new pages runs the triple
    stages and appends to the triples table — the streaming form of
    checkpoint-resumable batch (BASELINE.json:14). Linking /
    canonicalization stay periodic batch jobs over the accumulated
    table (they are global aggregations, not per-batch transforms).
    """
    pages = read_pages_stream(spark, pages_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        parsed = extract_parse_stage(batch_df)
        triples = triples_from_parsed(parsed)
        triples.write.mode("append").parquet(f"{work_dir}/triples")

    return (
        pages.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_dedup_pages(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "2 hours",
):
    """Streaming exact dedup: keep the first arrival of each page text
    within the event-time watermark horizon.

    `dropDuplicatesWithinWatermark` is the production shape for
    continuous-ingest dedup at scale: state holds one entry per distinct
    fingerprint seen inside the horizon and is EVICTED once the
    watermark passes it, so state size is bounded by the dedup horizon
    (unlike `dropDuplicates` on a stream, whose state grows without
    bound — at 10^12 docs that unbounded state is fatal). Late
    duplicates beyond the horizon are the documented recall trade —
    the same trade the batch MinHash banding makes in
    operators/dedup.py, surfaced as a watermark instead of a band count.
    The fingerprint (md5 of extracted text) matches the batch
    dedup_exact/dedup_keep_first operators, so a periodic batch sweep
    over the accumulated table catches the long tail exactly.
    """
    pages = read_pages_stream(spark, pages_dir)
    fingerprinted = pages.withColumn(
        "fingerprint", F.md5(F.col("text"))
    ).withWatermark("warc_ts", watermark)
    deduped = fingerprinted.dropDuplicatesWithinWatermark(["fingerprint"])
    return (
        deduped.select("url", "warc_ts", "fingerprint", "lang")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
