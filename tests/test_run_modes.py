"""Every run mode builds the same graph from the same pages.

One page set goes through the in-memory pipeline, the checkpointed
pipeline, a checkpointed re-run that resumes after a partial run, the
streaming micro-batch driver and incremental batch ingestion; each must
give the in-memory triples/mentions/nodes/edges (or, for the streaming
and incremental modes, the part of them they build).
"""

from __future__ import annotations

import json
import os
import time
from collections import Counter

import pytest
from pyspark.sql import functions as F

from conftest import jobs_in_group
from ontonotes_5_parsing_spark import corpus
from ontonotes_5_parsing_spark.pipeline import lineage, run_pipeline
from ontonotes_5_parsing_spark.pipeline.incremental import ingest_batch, merged_counts
from ontonotes_5_parsing_spark.pipeline.schemas import NODES_SCHEMA
from ontonotes_5_parsing_spark.streaming import foreach_batch_pipeline

N_PAGES = 60
COMPARED = ("triples", "mentions", "nodes", "edges")
STAGES = ("sentences", "mentions", "triples", "linked", "nodes", "edges")


def rows(df, columns):
    """The frame's rows as a multiset, columns selected by name."""
    return Counter(tuple(r) for r in df.select(*columns).collect())


def assert_same(out, expected, names=COMPARED):
    for name in names:
        columns = expected[name].columns
        assert rows(out[name], columns) == rows(expected[name], columns), name


@pytest.fixture(scope="module")
def pages_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("run_modes") / "pages")
    corpus.web_pages_df(spark, N_PAGES, partitions=4).write.parquet(d)
    return d


@pytest.fixture(scope="module")
def in_memory(spark, pages_dir):
    out = run_pipeline(corpus.read_web_pages(spark, pages_dir))
    assert out["triples"].count() > 0 and out["edges"].count() > 0
    return out


@pytest.fixture(scope="module")
def work_dir(pages_dir):
    return os.path.join(os.path.dirname(pages_dir), "work")


def manifest_stamp(work_dir, stage):
    stage_dir = os.path.join(work_dir, stage)
    return (lineage.read_manifest(stage_dir)["finished_at"],
            os.stat(lineage.manifest_path(stage_dir)).st_mtime_ns)


def test_checkpointed_equals_in_memory(spark, in_memory, pages_dir, work_dir):
    out = run_pipeline(corpus.read_web_pages(spark, pages_dir), work_dir=work_dir)
    assert_same(out, in_memory)
    # nodes is written partitioned by ent_type; the re-read frame keeps
    # the schema's column order all the same
    assert out["nodes"].columns == in_memory["nodes"].columns == NODES_SCHEMA.fieldNames()
    for stage in STAGES:
        assert lineage.is_complete(os.path.join(work_dir, stage)), stage


def test_resume_after_partial_run(spark, in_memory, pages_dir, work_dir):
    """Runs after test_checkpointed_equals_in_memory, on its work dir."""
    kept = {stage: manifest_stamp(work_dir, stage) for stage in ("sentences", "mentions")}
    for stage in ("triples", "linked", "nodes", "edges"):
        os.remove(lineage.manifest_path(os.path.join(work_dir, stage)))
    time.sleep(1.1)  # a rebuilt stage would get a later finished_at
    out = run_pipeline(corpus.read_web_pages(spark, pages_dir), work_dir=work_dir)
    for stage, stamp in kept.items():
        assert manifest_stamp(work_dir, stage) == stamp, f"{stage} was rebuilt, not loaded"
    assert_same(out, in_memory)
    assert out["nodes"].columns == NODES_SCHEMA.fieldNames()


@pytest.mark.parametrize("stage", STAGES)
def test_resume_after_crash_before_manifest(spark, in_memory, pages_dir, tmp_path,
                                            monkeypatch, stage):
    """A run stopped between a stage's parquet write and its manifest
    write leaves that stage incomplete; the resumed run rebuilds it and
    everything after it, and ends with the uninterrupted graph."""
    work = str(tmp_path / "work")
    dump = lineage.json.dump

    def crash(obj, fh, **kw):
        if isinstance(obj, dict) and obj.get("stage") == stage:
            raise OSError(f"stopped before the {stage} manifest")
        return dump(obj, fh, **kw)

    monkeypatch.setattr(lineage.json, "dump", crash)
    with pytest.raises(OSError, match="stopped before"):
        run_pipeline(corpus.read_web_pages(spark, pages_dir), work_dir=work)
    monkeypatch.undo()
    assert os.listdir(os.path.join(work, stage)) and not lineage.is_complete(
        os.path.join(work, stage))
    out = run_pipeline(corpus.read_web_pages(spark, pages_dir), work_dir=work, resume=True)
    assert_same(out, in_memory, ("triples", "nodes", "edges"))
    for name in STAGES:
        assert lineage.is_complete(os.path.join(work, name)), name


def test_checkpointed_job_counts(spark, in_memory, tmp_path):
    """A fresh checkpointed build runs 9 jobs: the three extraction
    stage writes (the sentences write runs the fused stage), build_graph's
    three (the vocabulary collect, the mapping broadcast and the edge
    aggregation, over the materialized stages) and the three graph stage
    writes; the manifests and the re-reads start none. A fully resumed
    run loads every stage without a job."""
    # a pages dir of its own: a scan of pages_dir would hit in_memory's caches
    pages_dir = str(tmp_path / "pages")
    corpus.web_pages_df(spark, N_PAGES, partitions=4).write.parquet(pages_dir)
    work = str(tmp_path / "work")
    _, fresh = jobs_in_group(spark, "checkpointed-fresh", lambda: run_pipeline(
        corpus.read_web_pages(spark, pages_dir), work_dir=work))
    out, resumed = jobs_in_group(spark, "checkpointed-resumed", lambda: run_pipeline(
        corpus.read_web_pages(spark, pages_dir), work_dir=work, resume=True))
    assert (fresh, resumed) == (9, 0)
    assert_same(out, in_memory)


def test_streaming_triples_equal_in_memory(spark, in_memory, pages_dir, tmp_path):
    q = foreach_batch_pipeline(spark, pages_dir, str(tmp_path / "work"), str(tmp_path / "ckpt"))
    q.awaitTermination(180)
    streamed = spark.read.parquet(str(tmp_path / "work" / "triples"))
    assert_same({"triples": streamed}, in_memory, ["triples"])


def test_incremental_counts_equal_in_memory(spark, in_memory, pages_dir, tmp_path):
    pages = corpus.read_web_pages(spark, pages_dir)
    for b in (0, 1):
        ingest_batch(spark, lambda b=b: pages.filter(F.crc32("url") % 2 == b), str(tmp_path), b)
    merged = merged_counts(spark, str(tmp_path)).withColumnRenamed("n_mentions", "count")
    expected = in_memory["mentions"].groupBy("surface", "ent_type").count()
    assert_same({"counts": merged}, {"counts": expected}, ["counts"])


def test_job_work_dir_matches_in_memory(spark, tmp_path, monkeypatch, capsys):
    """`job.py --work-dir` prints the in-memory counts (300 pages: 811
    triples, 715 edges)."""
    from ontonotes_5_parsing_spark import job, session

    # run the job on the test session and keep that session alive
    monkeypatch.setattr(session, "get_spark", lambda **kw: spark)
    monkeypatch.setattr(type(spark), "stop", lambda self: None)

    def stages(*extra):
        assert job.main(["--n-pages", "300", *extra]) == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])["stages"]

    memory = stages()
    assert stages("--work-dir", str(tmp_path / "work")) == memory
    assert (memory["triples"], memory["edges"]) == (811, 715)
