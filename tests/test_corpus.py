"""Corpus generator invariants (FIXTURES.md §1), and reading a
materialized pages table from its parquet footers."""

import pytest

from ontonotes_5_parsing_spark import corpus
from ontonotes_5_parsing_spark.corpus import generate_page, generate_pages
from ontonotes_5_parsing_spark.kgref import extract_text, split_sentences
from ontonotes_5_parsing_spark.kgref.lexicon import HEAD_ENTITIES


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


def test_footers_skip_names_spark_skips(spark, tmp_path):
    """A failed job's `_temporary` attempt dir and `.`/`_` files are
    never read by Spark, so they must not count rows either."""
    d = str(tmp_path / "pages")
    write_arrow_pages(d, range(0, 30), "part-00000.parquet")
    write_arrow_pages(d, range(30, 50), "part-00001.parquet")
    write_arrow_pages(f"{d}/_temporary/0", range(50, 90), "part-00002.parquet")
    write_arrow_pages(d, range(90, 95), ".part-00003.parquet")
    write_arrow_pages(d, range(95, 99), "_part-00004.parquet")
    assert sorted(corpus._parquet_footers(d)) == [
        f"{d}/part-00000.parquet", f"{d}/part-00001.parquet"]
    assert corpus._parquet_num_rows(d) == 50
    assert corpus.read_web_pages(spark, d).count() == 50


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


@pytest.mark.parametrize("layout, from_footers", [
    ("spark", True),
    ("arrow", True),
    ("arrow_file", True),
    # Spark infers a naive INT64 timestamp as TIMESTAMP_NTZ
    ("arrow_naive_ts", False),
    # partition columns come from directory names, not footers
    ("spark_partitioned", False),
])
def test_read_web_pages_schema_equals_inference(spark, tmp_path, layout, from_footers):
    path = write_pages(spark, layout, str(tmp_path / "pages"))
    footers = corpus._parquet_footers(path)
    assert (corpus._footer_schema(path, footers) is not None) == from_footers
    pages = corpus.read_web_pages(spark, path)
    assert pages.schema == spark.read.parquet(path).schema
    assert pages.count() == 40


def jobs_in_group(spark, group, fn):
    """fn()'s result and the number of Spark jobs it started."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc._jsc.clearJobGroup()
    # the status tracker is fed by the listener bus, behind the actions
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("layout", ["spark", "arrow"])
def test_scan_and_driver_graph_job_counts(spark, tmp_path, layout):
    """The fixed Spark cost of a build, pinned: the pages scan plans from
    the parquet footers without a job, and the driver branch of
    build_graph runs four — the vocabulary count, the collect of its
    bands, the broadcast of the surface → entity mapping (Spark builds
    a broadcast in a job of its own, even from a local relation), and
    the edge aggregation."""
    from ontonotes_5_parsing_spark.pipeline import run

    path = write_pages(spark, layout, str(tmp_path / "pages"))
    pages, scan_jobs = jobs_in_group(spark, f"scan-{layout}",
                                     lambda: corpus.read_web_pages(spark, path))
    assert scan_jobs == 0
    out = run.build_extraction(pages)
    assert out["mentions"].count() > 0 and out["triples"].count() > 0
    graph, graph_jobs = jobs_in_group(spark, f"graph-{layout}",
                                      lambda: run.build_graph(out["mentions"], out["triples"]))
    assert graph_jobs == 4
    assert graph["edges"].count() > 0
    spark.catalog.clearCache()
