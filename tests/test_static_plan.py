"""Contracts for the graph-phase scheduling cuts.

1. ``_static_plan`` disables AQE only inside the scope and always
   restores the prior setting (even on error). ``build_graph`` opens it
   for the vocabulary count and the driver branch only: the distributed
   branch runs under the session's own setting.
2. ``connected_components`` returns only the remap rows on both
   branches, and the caller-side left join + coalesce reconstructs the
   complete labeling.
"""

import pytest
from pyspark.sql import functions as F

from ontonotes_5_parsing_spark.pipeline.linking import connected_components
from ontonotes_5_parsing_spark.pipeline.run import _static_plan


def labeling(vertices, remap):
    """The complete (vertex_id, component) labeling from remap rows."""
    return {
        (r.vertex_id, r.component)
        for r in vertices.join(remap, "vertex_id", "left")
        .withColumn("component", F.coalesce("component", "vertex_id"))
        .collect()
    }


def test_static_plan_disables_and_restores_aqe(spark):
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    with _static_plan(spark):
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_static_plan_restores_on_error(spark):
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    with pytest.raises(RuntimeError):
        with _static_plan(spark):
            raise RuntimeError("boom")
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_static_plan_failing_conf_set_leaves_aqe_as_it_was(spark, monkeypatch):
    """A conf.set that raises inside the scope's set-up (after AQE was
    already switched off) must still restore both settings."""
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    parts = spark.conf.get("spark.sql.shuffle.partitions")
    conf = spark.conf
    real_set = conf.set
    failed = []

    def flaky_set(key, value):
        if key == "spark.sql.shuffle.partitions" and not failed:
            failed.append(key)
            raise RuntimeError("conf.set failed")
        real_set(key, value)

    monkeypatch.setattr(conf, "set", flaky_set)
    with pytest.raises(RuntimeError, match="conf.set failed"):
        with _static_plan(spark):
            pass
    monkeypatch.undo()
    assert failed
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.shuffle.partitions") == parts
    # the depth counter unwound too: the next scope toggles again
    with _static_plan(spark):
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"


def test_static_plan_unparsable_partitions_changes_nothing(spark, monkeypatch):
    """The partition count is parsed before the first conf.set, so a
    value int() rejects raises with the session untouched."""
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    conf = spark.conf
    real_get = conf.get

    def get(key, *default):
        if key == "spark.sql.shuffle.partitions":
            return "auto"
        return real_get(key, *default)

    monkeypatch.setattr(conf, "get", get)
    with pytest.raises(ValueError):
        with _static_plan(spark):
            pass
    monkeypatch.undo()
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_static_plan_concurrent_scopes_never_strand_aqe_off(spark):
    """Two threads opening the scope concurrently on one session must
    serialize (round-4 ADVICE: overlapping scopes could restore a
    clobbered value); afterwards AQE is back to the original setting."""
    import threading

    spark.conf.set("spark.sql.adaptive.enabled", "true")
    inside = []
    errs = []

    def worker():
        try:
            with _static_plan(spark):
                inside.append(spark.conf.get("spark.sql.adaptive.enabled"))
        except Exception as exc:  # noqa: BLE001
            errs.append(exc)

    threads = [threading.Thread(target=worker) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    assert inside == ["false"] * 4
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_static_plan_nested_scopes_same_thread(spark):
    """Nesting (run_pipeline's checkpointed path) must not deadlock and
    must restore only at the outermost exit."""
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    with _static_plan(spark):
        with _static_plan(spark):
            assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


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


def test_build_graph_identical_with_gate_forced_noop(spark, monkeypatch):
    """The vocabulary gate forced to 0 sends the sf0.001 pages through
    the distributed branch, which runs under the session's AQE setting;
    linked/nodes/edges must be IDENTICAL to the driver branch's, and
    AQE must be back on afterwards. Forcing the gate low on a real
    corpus exercises exactly the plan a large deployment would run."""
    import ontonotes_5_parsing_spark.pipeline.run as run
    from ontonotes_5_parsing_spark.corpus import web_pages_from_documents

    sf = "/root/testdata/sf0.001"

    def graph_outputs():
        pages = web_pages_from_documents(spark, sf)
        out = run.build_extraction(pages)
        g = run.build_graph(out["mentions"], out["triples"])
        return {
            k: (g[k].columns, sorted(map(tuple, g[k].collect())))
            for k in ("linked", "nodes", "edges")
        }

    spark.conf.set("spark.sql.adaptive.enabled", "true")
    driver = graph_outputs()
    monkeypatch.setattr(run, "DRIVER_GRAPH_MAX_ROWS", 0)
    spark.catalog.clearCache()
    distributed = graph_outputs()
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert driver == distributed
    assert all(len(rows) > 0 for _cols, rows in distributed.values())


@pytest.mark.parametrize(
    "gate, spied, planned",
    [(None, "link_collected", "false"), (0, "link_vocab", "true")],
    ids=["driver", "distributed"],
)
def test_build_graph_plans_each_branch_by_the_vocabulary_count(
    spark, monkeypatch, gate, spied, planned
):
    """One count picks the planning mode: the driver branch runs under
    the static plan (AQE off), the distributed branch under the
    session's own setting (on here), and the setting is restored."""
    import ontonotes_5_parsing_spark.pipeline.run as run
    from ontonotes_5_parsing_spark import corpus

    if gate is not None:
        monkeypatch.setattr(run, "DRIVER_GRAPH_MAX_ROWS", gate)
    seen = []
    real = getattr(run, spied)

    def spy(*args, **kwargs):
        seen.append(spark.conf.get("spark.sql.adaptive.enabled"))
        return real(*args, **kwargs)

    monkeypatch.setattr(run, spied, spy)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    out = run.build_extraction(corpus.web_pages_df(spark, 20, seed=5))
    run.build_graph(out["mentions"], out["triples"])
    spark.catalog.clearCache()
    assert seen == [planned]
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_nodes_edges_broadcast_exchange_is_reused(spark):
    """build_nodes_edges broadcasts the surface→entity mapping on both
    endpoint joins; under the static-plan scope (AQE off — the regime
    the graph phase actually runs in) the two BroadcastExchanges must
    dedupe via ReuseExchange so the mapping is built and shipped once."""
    from ontonotes_5_parsing_spark.pipeline.canonicalize import build_nodes_edges

    linked = spark.createDataFrame(
        [("alpha corp", "ORG", 3, 1, 1), ("beta", "PERSON", 2, 2, 2)],
        ["surface", "ent_type", "n_mentions", "vertex_id", "component"],
    )
    triples = spark.createDataFrame(
        [("u1", 0, "alpha corp", "met", "beta", "ORG", "PERSON")],
        ["url", "sent_idx", "subj", "pred", "obj", "subj_type", "obj_type"],
    )
    prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        _nodes, edges = build_nodes_edges(triples, linked)
        plan = edges._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    import re

    # count BroadcastExchange NODES (tree lines), not substring hits —
    # the ReusedExchange node's description quotes the exchange it reuses
    n_broadcast = len(re.findall(r"- BroadcastExchange", plan))
    assert "ReusedExchange" in plan, plan
    assert n_broadcast == 1, f"mapping broadcast built {n_broadcast}×:\n{plan}"
