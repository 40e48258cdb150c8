"""Checkpoint-resume + lineage manifests (BASELINE.json:14)."""

import json
import os

from ontonotes_5_parsing_spark import corpus
from ontonotes_5_parsing_spark.pipeline import lineage, run_pipeline


def test_materialize_writes_manifest(spark, tmp_path):
    pages = corpus.web_pages_df(spark, 20)
    stage_dir = str(tmp_path / "pages")
    out = lineage.materialize(pages, stage_dir, "pages")
    assert out.count() == 20
    m = lineage.read_manifest(stage_dir)
    assert m["stage"] == "pages"
    assert m["rows"] == 20
    assert m["n_files"] >= 1
    assert sum(m["per_file_rows"].values()) == 20


def test_resume_filter_anti_join(spark, tmp_path):
    pages = corpus.web_pages_df(spark, 30).cache()
    done_dir = str(tmp_path / "done")
    first_half = pages.filter("url like '%doc1%' or url like '%doc2%'")
    lineage.materialize(first_half, done_dir, "done")
    remaining = lineage.resume_filter(pages, done_dir, key="url")
    remaining_urls = {r.url for r in remaining.select("url").collect()}
    done_urls = {r.url for r in first_half.select("url").collect()}
    all_urls = {r.url for r in pages.select("url").collect()}
    assert remaining_urls == all_urls - done_urls


def test_pipeline_checkpoint_and_resume(spark, tmp_path):
    pages = corpus.web_pages_df(spark, 40)
    work = str(tmp_path / "work")
    out1 = run_pipeline(pages, work_dir=work)
    n_edges = out1["edges"].count()
    assert n_edges > 0
    for stage in ("sentences", "mentions", "triples", "linked", "nodes", "edges"):
        assert lineage.is_complete(os.path.join(work, stage)), stage
    # resume run: stages load from manifests, results identical
    out2 = run_pipeline(pages, work_dir=work, resume=True)
    assert out2["edges"].count() == n_edges
    m = lineage.read_manifest(os.path.join(work, "triples"))
    assert m["rows"] == out1["triples"].count()
    assert json.dumps(m["schema"])  # schema recorded


def test_iceberg_sink_gated_with_guidance(spark):
    """No Iceberg runtime in this sandbox: catalog discovery must be
    empty and the table sink must fail fast with setup guidance (the
    parquet+manifest path is the fallback, exercised above)."""
    import pytest

    from ontonotes_5_parsing_spark.pipeline import lineage

    assert lineage.iceberg_catalogs(spark) == []
    df = spark.range(3)
    with pytest.raises(RuntimeError, match="Iceberg catalog"):
        lineage.materialize_iceberg(df, "kg.db.nodes", ["id"])


def test_iceberg_catalog_detection_logic():
    """Detection keys on spark.sql.catalog.<name> entries whose value
    is an Iceberg catalog impl; nested keys (catalog OPTIONS like
    .warehouse) must not register as catalogs."""
    from ontonotes_5_parsing_spark.pipeline.lineage import _iceberg_catalogs_from

    items = [
        ("spark.sql.catalog.kg", "org.apache.iceberg.spark.SparkCatalog"),
        ("spark.sql.catalog.kg.warehouse", "/tmp/iceberg-wh"),
        ("spark.sql.catalog.hive_cat", "org.apache.spark.sql.hive.SomeCatalog"),
        ("spark.sql.shuffle.partitions", "32"),
    ]
    assert _iceberg_catalogs_from(items) == ["kg"]
