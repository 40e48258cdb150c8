"""Contracts for static planning and the graph-phase scheduling cuts.

1. Every plan is static: ``get_spark`` turns adaptive execution off and
   no pipeline step writes session conf. The distributed branch's job
   count is pinned, so re-enabling adaptive planning shows up; a
   caller's session with AQE on still gets identical outputs.
2. ``connected_components`` returns only the remap rows on both
   branches, and the caller-side left join + coalesce reconstructs the
   complete labeling.
"""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.conf import RuntimeConfig

import ontonotes_5_parsing_spark.pipeline.run as run
from conftest import jobs_in_group
from ontonotes_5_parsing_spark import corpus
from ontonotes_5_parsing_spark.pipeline.linking import connected_components

DEFAULT_GATE = run.DRIVER_GRAPH_MAX_ROWS


def labeling(vertices, remap):
    """The complete (vertex_id, component) labeling from remap rows."""
    return {
        (r.vertex_id, r.component)
        for r in vertices.join(remap, "vertex_id", "left")
        .withColumn("component", F.coalesce("component", "vertex_id"))
        .collect()
    }


def test_mapping_only_distributed_branch_filters_identity_rows(spark):
    """Branch-consistent contract: with the driver-side gate forced off,
    the distributed loop also returns remap rows only, and left-join +
    coalesce reconstructs the complete labeling."""
    vertices = spark.createDataFrame([(i,) for i in range(1, 7)], ["vertex_id"])
    edges = spark.createDataFrame([(1, 2), (2, 3), (4, 5)], ["src", "dst"])
    remap = connected_components(vertices, edges, driver_side_max_edges=0)
    rows = {(r.vertex_id, r.component) for r in remap.collect()}
    assert rows == {(2, 1), (3, 1), (5, 4)}
    assert labeling(vertices, remap) == {(1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (6, 6)}


def test_mapping_only_matches_complete_labeling(spark):
    """The driver-side branch: the same remap rows as the distributed
    loop, and the same complete labeling after the left join."""
    # two components {1,2,3} and {4,5}; 6 is isolated
    vertices = spark.createDataFrame([(i,) for i in range(1, 7)], ["vertex_id"])
    edges = spark.createDataFrame([(1, 2), (2, 3), (4, 5)], ["src", "dst"])
    remap = connected_components(vertices, edges)
    distributed = connected_components(vertices, edges, driver_side_max_edges=0)
    # remap-only: no identity row for the isolated vertex 6
    remap_rows = {(r.vertex_id, r.component) for r in remap.collect()}
    assert remap_rows == {(r.vertex_id, r.component) for r in distributed.collect()}
    assert (6, 6) not in remap_rows
    assert labeling(vertices, remap) == {(1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (6, 6)}


def test_mapping_only_no_edges(spark):
    vertices = spark.createDataFrame([(1,), (2,)], ["vertex_id"])
    edges = spark.createDataFrame([], "src long, dst long")
    remap = connected_components(vertices, edges)
    assert remap.count() == 0
    assert remap.columns == ["vertex_id", "component"]
    assert labeling(vertices, remap) == {(1, 1), (2, 2)}


def graph_outputs_both_branches(spark, monkeypatch):
    """build_graph's linked/nodes/edges from the sf0.001 pages on the
    driver branch and with the gate forced to 0 (the distributed one)."""
    results = []
    for gate in (DEFAULT_GATE, 0):
        monkeypatch.setattr(run, "DRIVER_GRAPH_MAX_ROWS", gate)
        out = run.build_extraction(corpus.web_pages_from_documents(spark, "/root/testdata/sf0.001"))
        g = run.build_graph(out["mentions"], out["triples"])
        results.append({
            k: (g[k].columns, sorted(map(tuple, g[k].collect())))
            for k in ("linked", "nodes", "edges")
        })
        spark.catalog.clearCache()
    return results


def test_build_graph_identical_with_gate_forced_noop(spark, monkeypatch):
    """The vocabulary gate forced to 0 sends the sf0.001 pages through
    the distributed branch; linked/nodes/edges must be IDENTICAL to the
    driver branch's. Forcing the gate low on a real corpus exercises
    exactly the plan a large deployment would run. A caller's own
    session may run with AQE on: both branches still give the same
    outputs there, and the setting is left as the caller set it."""
    driver, distributed = graph_outputs_both_branches(spark, monkeypatch)
    assert driver == distributed
    assert all(len(rows) > 0 for _cols, rows in distributed.values())
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try:
        adaptive = graph_outputs_both_branches(spark, monkeypatch)
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
    assert adaptive == [driver, distributed]


def test_pipeline_writes_no_session_conf(spark, monkeypatch, tmp_path):
    """build_extraction, build_graph on both branches and a checkpointed
    run_pipeline never call ``spark.conf.set``/``unset``, and leave every
    session setting as it was."""
    writes = []
    monkeypatch.setattr(RuntimeConfig, "set", lambda self, *a: writes.append(("set", a)))
    monkeypatch.setattr(RuntimeConfig, "unset", lambda self, *a: writes.append(("unset", a)))
    before = spark.conf.getAll
    pages = corpus.web_pages_df(spark, 20, seed=5)
    for gate in (DEFAULT_GATE, 0):
        monkeypatch.setattr(run, "DRIVER_GRAPH_MAX_ROWS", gate)
        out = run.build_extraction(pages)
        run.build_graph(out["mentions"], out["triples"])
        spark.catalog.clearCache()
    run.run_pipeline(pages, work_dir=str(tmp_path / "work"))
    assert writes == []
    assert spark.conf.getAll == before


def test_distributed_branch_job_count(spark, monkeypatch):
    """The distributed branch of build_graph (gate 0, 20 pages, the
    sentences cache filled) runs 8 jobs as static plans: the bounded
    vocabulary collect, the count, the scored pairs' count and collect,
    the component mapping's broadcast, the surface → entity mapping's
    broadcast, and the edges and nodes counts (32 under AQE). The
    vocabulary is aggregated once: the collect's job fills its cache, so
    the count job runs two stages (the cached scan with its partial
    count, and the final count) instead of re-running the mentions →
    vocabulary aggregation."""
    monkeypatch.setattr(run, "DRIVER_GRAPH_MAX_ROWS", 0)
    out = run.build_extraction(corpus.web_pages_df(spark, 20, seed=5))
    assert out["mentions"].count() > 0
    graph, jobs = jobs_in_group(spark, "distributed-graph",
                                lambda: run.build_graph(out["mentions"], out["triples"]))
    assert jobs == 8
    status = spark.sparkContext.statusTracker()
    count_job = sorted(status.getJobIdsForGroup("distributed-graph"))[1]
    stages = [status.getStageInfo(s) for s in status.getJobInfo(count_job).stageIds]
    # a stage a job shares with an earlier one is skipped: it runs no task.
    # Once a session holds spark.ui.retainedStages stages, the status
    # store drops skipped stages first (they have no completion time),
    # so one may read None here
    assert sum(1 for st in stages if st is not None and st.numCompletedTasks > 0) == 2
    assert graph["edges"].count() > 0
    spark.catalog.clearCache()


def test_nodes_edges_broadcast_exchange_is_reused(spark):
    """build_nodes_edges broadcasts the surface→entity mapping on both
    endpoint joins; in the session's static plan the two
    BroadcastExchanges must dedupe via ReuseExchange so the mapping is
    built and shipped once."""
    from ontonotes_5_parsing_spark.pipeline.canonicalize import build_nodes_edges

    linked = spark.createDataFrame(
        [("alpha corp", "ORG", 3, 1, 1), ("beta", "PERSON", 2, 2, 2)],
        ["surface", "ent_type", "n_mentions", "vertex_id", "component"],
    )
    triples = spark.createDataFrame(
        [("u1", 0, "alpha corp", "met", "beta", "ORG", "PERSON")],
        ["url", "sent_idx", "subj", "pred", "obj", "subj_type", "obj_type"],
    )
    _nodes, edges = build_nodes_edges(triples, linked)
    plan = edges._jdf.queryExecution().executedPlan().toString()
    import re

    # count BroadcastExchange NODES (tree lines), not substring hits —
    # the ReusedExchange node's description quotes the exchange it reuses
    n_broadcast = len(re.findall(r"- BroadcastExchange", plan))
    assert "ReusedExchange" in plan, plan
    assert n_broadcast == 1, f"mapping broadcast built {n_broadcast}×:\n{plan}"
