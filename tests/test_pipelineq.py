"""Unit tests for the runtime-surface queries (operators/pipelineq.py):
checkpoint-resume semantics and streaming/batch parity."""

from __future__ import annotations

import pyspark.sql.functions as F

from ontonotes_5_parsing_spark.operators.pipelineq import (
    _done_dir,
    q_resume_pending,
    q_stream_hourly_parity,
)

SF_DIR = "/root/testdata/sf0.001"


def test_resume_pending_partitions_the_input(spark):
    """pending ∪ done == all docs, disjoint — the resume invariant."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pending = q_resume_pending(spark, SF_DIR)
    done = spark.read.parquet(_done_dir(SF_DIR)).select("doc_id")
    n_all, n_pending, n_done = docs.count(), pending.count(), done.count()
    assert n_pending + n_done == n_all
    assert n_done > 0 and n_pending > 0  # the hash split picks both halves
    overlap = pending.join(done, "doc_id").count()
    assert overlap == 0


def test_resume_pending_is_deterministic(spark):
    """Second invocation resumes from the materialized done set (same
    manifest) and returns the identical pending set."""
    first = {r.doc_id for r in q_resume_pending(spark, SF_DIR).collect()}
    second = {r.doc_id for r in q_resume_pending(spark, SF_DIR).collect()}
    assert first == second


def test_resume_pending_recovers_from_stale_done_dir(spark, tmp_path, monkeypatch):
    """A crashed earlier run can leave a manifest-less done_dir. The
    rename then fails forever while resume_filter reads the stale
    parquet (round-4 ADVICE). The writer must detect the incomplete
    winner, move it aside, and install its own complete copy."""
    import os

    import ontonotes_5_parsing_spark.operators.pipelineq as pq
    from ontonotes_5_parsing_spark.pipeline.lineage import is_complete

    stale = tmp_path / "resume_done"
    stale.mkdir()
    # half-written parquet, no _lineage.json manifest → is_complete False
    (stale / "part-00000.parquet").write_bytes(b"NOT A PARQUET FILE")
    monkeypatch.setattr(pq, "_done_dir", lambda _sf: str(stale))
    assert not is_complete(str(stale))

    pending = q_resume_pending(spark, SF_DIR)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    done = spark.read.parquet(str(stale)).select("doc_id")
    assert is_complete(str(stale))  # recovered: complete copy installed
    assert not os.path.exists(str(stale) + f".tmp.{os.getpid()}")
    # the stale copy was renamed aside, then removed
    assert not os.path.exists(str(stale) + f".stale.{os.getpid()}")
    assert pending.count() + done.count() == docs.count()
    assert pending.join(done, "doc_id").count() == 0


def test_stream_hourly_matches_batch(spark):
    """The availableNow replay's final complete-mode state must equal
    the batch GROUP BY bit-for-bit (counts and id extrema are exact
    integers, the window start an epoch BIGINT)."""
    streamed = q_stream_hourly_parity(spark, SF_DIR)
    batch = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .groupBy(
            F.unix_timestamp(F.date_trunc("hour", "ts")).alias("hour_epoch"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
        )
    )
    srows = sorted(map(tuple, streamed.collect()))
    brows = sorted(map(tuple, batch.collect()))
    assert srows == brows
    assert len(srows) > 0
