"""The driver-side graph phase of ``build_graph`` against the
distributed one (the vocabulary gate forced to 0): identical linked,
nodes and edges on a generated corpus and on vocabularies built to hit
the exact corners of blocking — dense numbers, a hot token over
``MAX_BUCKET``, repeated tokens, case variants sharing a vertex_id —
plus the structured log line. The sf0.001 pages are compared in
``test_static_plan.test_build_graph_identical_with_gate_forced_noop``."""

import json
import logging

import pytest
from pyspark.sql import functions as F

import ontonotes_5_parsing_spark.pipeline.run as run
from ontonotes_5_parsing_spark import corpus
from ontonotes_5_parsing_spark.pipeline import linking
from ontonotes_5_parsing_spark.pipeline.schemas import NODES_SCHEMA

LOGGER = "ontonotes_5_parsing_spark.pipeline.run"


def graph_log(caplog) -> dict:
    lines = [r.getMessage() for r in caplog.records if r.name == LOGGER]
    assert len(lines) == 1, lines
    assert lines[0].startswith("build_graph ")
    return json.loads(lines[0][len("build_graph "):])


def both_branches(spark, monkeypatch, caplog, mentions, triples, forced_gate=0) -> dict:
    """build_graph with the gate forced to `forced_gate`, then on the
    default gate (which must take the driver branch); asserts identical
    outputs, returns the driver branch's log record."""
    caplog.set_level(logging.INFO, logger=LOGGER)
    results, logs = {}, {}
    gate_default = run.DRIVER_GRAPH_MAX_ROWS
    for branch, gate in (("distributed", forced_gate), ("driver", gate_default)):
        monkeypatch.setattr(run, "DRIVER_GRAPH_MAX_ROWS", gate)
        caplog.clear()
        g = run.build_graph(mentions, triples)
        logs[branch] = graph_log(caplog)
        assert logs[branch]["branch"] == branch
        results[branch] = {
            k: (g[k].columns, sorted(map(tuple, g[k].collect())))
            for k in ("linked", "nodes", "edges")
        }
        spark.catalog.clearCache()
    driver, distributed = results["driver"], results["distributed"]
    for k in ("linked", "nodes", "edges"):
        assert driver[k][0] == distributed[k][0], k
        assert driver[k][1] == distributed[k][1], k
    assert logs["driver"]["vocab_rows"] == logs["distributed"]["vocab_rows"]
    assert logs["driver"]["vocab_rows"] == len(driver["linked"][1])
    # the driver branch's counts, recounted by the Spark formulations
    banded = linking.add_minhash_bands(linking.surface_vocab(mentions))
    pairs = linking.candidate_pairs(banded).persist()
    keys = banded.select("ent_type", F.explode("bands").alias("b")).groupBy(
        "ent_type", "b.band", "b.bh"
    ).count()
    assert logs["driver"]["candidate_pairs"] == pairs.count()
    assert logs["driver"]["accepted_pairs"] == linking.score_pairs(pairs).count()
    assert logs["driver"]["dropped_keys"] == keys.filter(
        F.col("count") > linking.MAX_BUCKET
    ).count()
    pairs.unpersist()
    return logs["driver"]


def extraction(pages):
    out = run.build_extraction(pages)
    return out["mentions"], out["triples"]


def vocab_frames(spark, surfaces, triples=()):
    """mentions from (surface, ent_type, n) — n mentions each — and
    triples from (subj, pred, obj, subj_type, obj_type)."""
    mention_rows = [
        (f"https://t/{i}", j, 0, len(s), s, t)
        for i, (s, t, n) in enumerate(surfaces)
        for j in range(n)
    ]
    mentions = spark.createDataFrame(
        mention_rows,
        "url string, sent_idx int, start long, end long, surface string, ent_type string",
    )
    triple_rows = [(f"https://t/e{i}", i % 3, *t) for i, t in enumerate(triples)]
    triples_df = spark.createDataFrame(
        triple_rows,
        "url string, sent_idx int, subj string, pred string, obj string, "
        "subj_type string, obj_type string",
    )
    return mentions, triples_df


def test_lexicon_corpus(spark, monkeypatch, caplog):
    pages = corpus.web_pages_df(spark, 150, seed=7)
    counts = both_branches(spark, monkeypatch, caplog, *extraction(pages))
    assert counts["accepted_pairs"] > 0


def test_dense_numeric_vocabulary(spark, monkeypatch, caplog):
    """Open-class 5-digit CARDINAL surfaces drawn densely from a narrow
    range, the shape of the wide_vocab workload: many shared shingles,
    so most blocking work is near-duplicate Levenshtein scoring."""
    draws = 700
    mentions = spark.range(draws).select(
        F.concat(F.lit("https://n/"), (F.col("id") % 97).cast("string")).alias("url"),
        (F.col("id") % 5).cast("int").alias("sent_idx"),
        F.lit(0).cast("long").alias("start"),
        F.lit(5).cast("long").alias("end"),
        (F.lit(10_000) + F.pmod(F.xxhash64("id"), F.lit(1_800))).cast("string").alias("surface"),
        F.lit("CARDINAL").alias("ent_type"),
    )
    triples = mentions.alias("a").join(
        mentions.alias("b"),
        (F.col("a.url") == F.col("b.url"))
        & (F.col("a.sent_idx") == F.col("b.sent_idx"))
        & (F.col("a.surface") < F.col("b.surface")),
    ).select(
        F.col("a.url").alias("url"),
        F.col("a.sent_idx").alias("sent_idx"),
        F.col("a.surface").alias("subj"),
        F.lit("exceeds").alias("pred"),
        F.col("b.surface").alias("obj"),
        F.lit("CARDINAL").alias("subj_type"),
        F.lit("CARDINAL").alias("obj_type"),
    )
    counts = both_branches(spark, monkeypatch, caplog, mentions, triples)
    assert counts["vocab_rows"] > 400
    assert counts["candidate_pairs"] > counts["accepted_pairs"] > 0


def test_hot_token_over_max_bucket(spark, monkeypatch, caplog):
    """More than MAX_BUCKET surfaces share the token "holdings": its key
    is dropped on both branches; the near-duplicate pair survives on
    rarer keys."""
    n = linking.MAX_BUCKET + 20
    surfaces = [(f"q{i:03d}x{(i * 7919) % 1000:03d} holdings", "ORG", 1 + i % 3)
                for i in range(n)]
    surfaces += [("zenith systems", "ORG", 2), ("zenith system", "ORG", 1)]
    triples = [(surfaces[i][0], "owns", surfaces[i + 1][0], "ORG", "ORG")
               for i in range(0, n, 7)]
    triples.append(("zenith system", "owns", surfaces[0][0], "ORG", "ORG"))
    counts = both_branches(
        spark, monkeypatch, caplog, *vocab_frames(spark, surfaces, triples)
    )
    assert counts["dropped_keys"] >= 1
    assert counts["accepted_pairs"] >= 1


def test_repeated_tokens_count_toward_the_bucket(spark, monkeypatch, caplog):
    """"new new york" lists the token "new" twice; the window counts
    exploded rows, so it counts twice. With MAX_BUCKET = 3 the "new"
    key holds 4 entries (2 + "new york" + "new") and is dropped."""
    monkeypatch.setattr(linking, "MAX_BUCKET", 3)
    surfaces = [
        ("new new york", "GPE", 3), ("new york", "GPE", 5), ("new", "GPE", 1),
        ("york york", "GPE", 2), ("york", "GPE", 2),
    ]
    triples = [
        ("new new york", "near", "york", "GPE", "GPE"),
        ("new york", "near", "new", "GPE", "GPE"),
        ("york york", "near", "new new york", "GPE", "GPE"),
    ]
    counts = both_branches(
        spark, monkeypatch, caplog, *vocab_frames(spark, surfaces, triples)
    )
    # "new" (4 entries) and "york" (5); counting distinct rows keeps "new"
    assert counts["dropped_keys"] == 2


def test_case_variants_share_a_vertex(spark, monkeypatch, caplog):
    """"Obama"/"obama"/" Obama" normalize to one norm, so one vertex_id
    for several vocabulary rows; "Obama" and "obama" tie on mentions and
    length, so the canonical pick falls to code point order, while
    "Turing" wins its tie with "Alan Turing" on length. "Paris" under
    two entity types stays two vertices."""
    surfaces = [
        ("Obama", "PERSON", 4), ("obama", "PERSON", 4), (" Obama", "PERSON", 1),
        ("Barack Obama", "PERSON", 2), ("OBAMA", "ORG", 1),
        ("Paris", "GPE", 3), ("Paris", "PERSON", 3), ("paris", "GPE", 3),
        ("Alan Turing", "PERSON", 2), ("Turing", "PERSON", 2),
    ]
    triples = [
        ("Obama", "visited", "Paris", "PERSON", "GPE"),
        ("obama", "visited", "paris", "PERSON", "GPE"),
        ("Barack Obama", "met", "Paris", "PERSON", "PERSON"),
        ("OBAMA", "owns", "Paris", "ORG", "GPE"),
    ]
    mentions, triples_df = vocab_frames(spark, surfaces, triples)
    counts = both_branches(spark, monkeypatch, caplog, mentions, triples_df)
    assert counts["vocab_rows"] == len(surfaces)
    g = run.build_graph(mentions, triples_df)
    linked = {(r.surface, r.ent_type): r for r in g["linked"].collect()}
    assert linked[("Obama", "PERSON")].vertex_id == linked[("obama", "PERSON")].vertex_id
    assert g["nodes"].schema == NODES_SCHEMA
    canonical = {r.canonical for r in g["nodes"].collect()}
    assert {"Obama", "Turing"} <= canonical
    assert not {"obama", "Alan Turing"} & canonical


def test_empty_vocabulary(spark, monkeypatch, caplog):
    # 0 rows pass a gate of 0, so -1 forces the distributed branch
    counts = both_branches(
        spark, monkeypatch, caplog, *vocab_frames(spark, []), forced_gate=-1
    )
    assert counts == {"branch": "driver", "vocab_rows": 0, "candidate_pairs": 0,
                      "accepted_pairs": 0, "dropped_keys": 0}


def test_build_graph_logs_one_structured_line(spark, monkeypatch, caplog):
    caplog.set_level(logging.INFO, logger=LOGGER)
    mentions, triples = vocab_frames(
        spark,
        [("Obama", "PERSON", 3), ("Barack Obama", "PERSON", 1), ("France", "GPE", 2)],
        [("Obama", "visited", "France", "PERSON", "GPE")],
    )
    run.build_graph(mentions, triples)
    assert graph_log(caplog) == {
        "branch": "driver",
        "vocab_rows": 3,
        "candidate_pairs": 1,
        "accepted_pairs": 1,
        "dropped_keys": 0,
    }
    caplog.clear()
    monkeypatch.setattr(run, "DRIVER_GRAPH_MAX_ROWS", 0)
    run.build_graph(mentions, triples)
    # counts the distributed branch does not compute are null, not guessed
    assert graph_log(caplog) == {
        "branch": "distributed",
        "vocab_rows": 3,
        "candidate_pairs": None,
        "accepted_pairs": None,
        "dropped_keys": None,
    }


def cache_is_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize("gate", [None, 0], ids=["driver", "distributed"])
def test_build_graph_keeps_the_callers_caches(spark, monkeypatch, gate):
    """build_graph leaves the extraction frames it was handed cached:
    `storageLevel` asks the session's cache manager, so it reads NONE
    once something has uncached a frame's plan."""
    from pyspark import StorageLevel

    if gate is not None:
        monkeypatch.setattr(run, "DRIVER_GRAPH_MAX_ROWS", gate)
    out = run.build_extraction(corpus.web_pages_df(spark, 40, seed=3))
    levels = {k: df.storageLevel for k, df in out.items()}
    assert StorageLevel.NONE not in levels.values()
    run.build_graph(out["mentions"], out["triples"])
    assert {k: df.storageLevel for k, df in out.items()} == levels
    spark.catalog.clearCache()


@pytest.mark.parametrize("gate", [None, 0], ids=["driver", "distributed"])
def test_graph_phase_leaves_nothing_cached(spark, monkeypatch, tmp_path, gate):
    """Once the caller unpersists every frame it was handed, no cache
    is left behind: build_graph on both branches, link_entities, and a
    checkpointed run (which materializes the stages, so it keeps
    nothing)."""
    if gate is not None:
        monkeypatch.setattr(run, "DRIVER_GRAPH_MAX_ROWS", gate)
    pages = corpus.web_pages_df(spark, 60, seed=11)
    spark.catalog.clearCache()

    out = run.build_extraction(pages)
    out.update(run.build_graph(out["mentions"], out["triples"]))
    for df in out.values():
        df.unpersist()
    assert cache_is_empty(spark)

    out = run.build_extraction(pages)
    linked = linking.link_entities(out["mentions"])
    for df in (*out.values(), linked):
        df.unpersist()
    assert cache_is_empty(spark)

    run.run_pipeline(pages, work_dir=str(tmp_path / "work"))
    assert cache_is_empty(spark)
