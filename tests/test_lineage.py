"""Checkpoint-resume + lineage manifests (BASELINE.json:14)."""

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from conftest import jobs_in_group
from ontonotes_5_parsing_spark import corpus
from ontonotes_5_parsing_spark.pipeline import lineage, run_pipeline


def test_materialize_writes_manifest(spark, tmp_path):
    """The write is materialize's only job: the manifest's row counts
    come from the written files' footers, keyed by their local paths."""
    pages = corpus.web_pages_df(spark, 20)
    stage_dir = str(tmp_path / "pages")
    out, jobs = jobs_in_group(spark, "materialize",
                              lambda: lineage.materialize(pages, stage_dir, "pages"))
    assert jobs == 1
    assert out.count() == 20
    m = lineage.read_manifest(stage_dir)
    assert m["stage"] == "pages"
    assert m["rows"] == 20
    assert m["n_files"] == len(m["per_file_rows"]) >= 1
    assert sum(m["per_file_rows"].values()) == 20
    assert sorted(m["per_file_rows"]) == sorted(
        os.path.join(stage_dir, f) for f in os.listdir(stage_dir) if f.startswith("part-"))
    assert m["schema"] == out.schema.jsonValue() == spark.read.parquet(stage_dir).schema.jsonValue()
    assert not os.path.exists(lineage.manifest_path(stage_dir) + ".tmp")


def test_load_stage_reads_the_stored_schema(spark, tmp_path):
    """A resumed stage plans without a job, partition column last."""
    stage_dir = str(tmp_path / "nodes")
    df = spark.createDataFrame([("a", "PERSON", 1), ("b", "ORG", 2)],
                               "surface string, ent_type string, n long")
    lineage.materialize(df, stage_dir, "nodes", ["ent_type"])
    loaded, jobs = jobs_in_group(spark, "load", lambda: lineage.load_stage(spark, stage_dir))
    assert jobs == 0
    assert loaded.schema == lineage.stage_schema(stage_dir)
    assert loaded.columns == ["surface", "n", "ent_type"]
    assert sorted(loaded.collect()) == sorted(spark.read.parquet(stage_dir).collect())


def test_materialize_refuses_unreadable_footers(spark, tmp_path, monkeypatch):
    """No manifest from a guess: without footers the stage stays
    incomplete, so a resumed run rebuilds it."""
    stage_dir = str(tmp_path / "pages")
    monkeypatch.setattr(lineage, "parquet_footers", lambda path: None)
    with pytest.raises(RuntimeError, match="pages"):
        lineage.materialize(spark.range(3), stage_dir, "pages")
    assert not lineage.is_complete(stage_dir)


def write_table(path, name, n):
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table({"x": list(range(n))}), os.path.join(path, name))


def test_footers_skip_names_spark_skips(spark, tmp_path):
    """A failed job's `_temporary` attempt dir and `.`/`_` files are
    never read by Spark, so they must not count rows either; key=value
    partition dirs are walked."""
    d = str(tmp_path / "t")
    write_table(f"{d}/k=0", "part-00000.parquet", 30)
    write_table(f"{d}/k=_1", "part-00001.parquet", 20)
    write_table(f"{d}/_temporary/0/k=0", "part-00002.parquet", 40)
    write_table(f"{d}/k=0", ".part-00003.parquet", 5)
    write_table(f"{d}/k=0", "_part-00004.parquet", 4)
    assert sorted(lineage.parquet_footers(d)) == [
        f"{d}/k=0/part-00000.parquet", f"{d}/k=_1/part-00001.parquet"]
    assert lineage.parquet_num_rows(d) == 50 == spark.read.parquet(d).count()
    assert lineage.parquet_num_rows(str(tmp_path / "missing")) is None


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
