"""Corpus generator invariants (FIXTURES.md §1), and reading a
materialized pages table with its declared schema."""

import pytest

from conftest import jobs_in_group
from ontonotes_5_parsing_spark import corpus
from ontonotes_5_parsing_spark.corpus import generate_page, generate_pages
from ontonotes_5_parsing_spark.kgref import extract_text, split_sentences
from ontonotes_5_parsing_spark.kgref.lexicon import HEAD_ENTITIES
from ontonotes_5_parsing_spark.pipeline.schemas import WEB_PAGES_SCHEMA


def test_deterministic_and_order_independent():
    a = generate_page(7)
    b = generate_page(7)
    assert a == b
    df1 = generate_pages(range(10))
    df2 = generate_pages(reversed(range(10)))
    assert sorted(df1["url"]) == sorted(df2["url"])


def test_extract_roundtrip_byte_identity():
    # the per-row invariant, corpus-level (BASELINE.json:15)
    for d in range(300):
        page = generate_page(d)
        assert extract_text(page["html"]) == page["text"], page["url"]


def test_languages_and_structure():
    df = generate_pages(range(300))
    langs = set(df["lang"])
    assert langs == {"english", "arabic", "chinese"}
    assert df["url"].is_unique
    for text in df["text"]:
        assert len(split_sentences(text)) >= 3


def test_head_entity_skew_planted():
    df = generate_pages(range(500))
    en = "\n".join(df[df.lang == "english"]["text"])
    head_hits = sum(en.count(h) for h in HEAD_ENTITIES)
    assert head_hits > 100  # heads are strongly over-represented


def write_arrow_pages(path, doc_ids, name="part-00000.parquet", tz="UTC"):
    """Pages as one parquet file written by pyarrow, not Spark: no Spark
    schema in the footer, so the reader converts the Arrow schema."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = generate_pages(doc_ids)
    if tz is not None:
        pdf["warc_ts"] = pdf["warc_ts"].dt.tz_localize(tz)
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                   os.path.join(path, name), coerce_timestamps="us")


def write_pages(spark, layout, path):
    if layout == "spark":
        corpus.write_web_pages_parquet(spark, 40, path)
    elif layout == "spark_partitioned":
        corpus.web_pages_df(spark, 40, partitions=2).write.partitionBy("lang").parquet(path)
    elif layout == "arrow_file":
        write_arrow_pages(path, range(40))
        path += "/part-00000.parquet"
    else:
        write_arrow_pages(path, range(40), tz="UTC" if layout == "arrow" else None)
    return path


@pytest.mark.parametrize("layout", [
    "spark",
    "arrow",
    "arrow_file",
    # inference reads a naive INT64 timestamp as TIMESTAMP_NTZ
    "arrow_naive_ts",
    # lang is not in the files, only in the key=value directory names
    "spark_partitioned",
])
def test_read_web_pages_schema_equals_inference(spark, tmp_path, layout):
    """The declared schema plans the scan without a job and reads the
    values Spark's own inference reads, whatever wrote the files."""
    path = write_pages(spark, layout, str(tmp_path / "pages"))
    pages, scan_jobs = jobs_in_group(spark, f"read-{layout}",
                                     lambda: corpus.read_web_pages(spark, path))
    assert scan_jobs == 0
    assert pages.schema == WEB_PAGES_SCHEMA.toNullable()
    columns = WEB_PAGES_SCHEMA.fieldNames()
    inferred = spark.read.parquet(path).select(*columns)
    assert sorted(map(tuple, pages.collect())) == sorted(map(tuple, inferred.collect()))
    assert pages.count() == 40


@pytest.mark.parametrize("layout", ["spark", "arrow"])
def test_scan_and_driver_graph_job_counts(spark, tmp_path, layout):
    """The fixed Spark cost of a build, pinned: the pages scan plans
    without a job, and the driver branch of build_graph runs three —
    the bounded collect of the banded vocabulary, the broadcast of the
    surface → entity mapping (Spark builds a broadcast in a job of its
    own, even from a local relation), and the edge aggregation."""
    from ontonotes_5_parsing_spark.pipeline import run

    path = write_pages(spark, layout, str(tmp_path / "pages"))
    pages, scan_jobs = jobs_in_group(spark, f"scan-{layout}",
                                     lambda: corpus.read_web_pages(spark, path))
    assert scan_jobs == 0
    out = run.build_extraction(pages)
    assert out["mentions"].count() > 0 and out["triples"].count() > 0
    graph, graph_jobs = jobs_in_group(spark, f"graph-{layout}",
                                      lambda: run.build_graph(out["mentions"], out["triples"]))
    assert graph_jobs == 3
    assert graph["edges"].count() > 0
    spark.catalog.clearCache()


def test_warm_in_memory_build_runs_three_jobs(spark, tmp_path):
    """A whole warm build from the pages files runs three jobs: the
    vocabulary collect runs the fused stage too (with the pages
    repartition in it) and fills the sentences cache, which the edge
    aggregation then reads."""
    from ontonotes_5_parsing_spark.pipeline import run

    path = write_pages(spark, "spark", str(tmp_path / "pages"))

    def build():
        out = run.build_extraction(corpus.read_web_pages(spark, path))
        out.update(run.build_graph(out["mentions"], out["triples"]))
        return out

    build()  # the first build starts the Python workers
    spark.catalog.clearCache()
    out, jobs = jobs_in_group(spark, "warm-build", build)
    assert jobs == 3
    assert out["edges"].count() > 0 and out["nodes"].count() > 0
    spark.catalog.clearCache()
