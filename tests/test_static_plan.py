"""Contracts for the round-4 graph-phase scheduling cuts.

1. ``_static_plan_if_small`` disables AQE only inside the scope, only
   when the probe input's Catalyst size estimate is under the
   threshold, and always restores the prior setting (even on error).
2. ``connected_components(mapping_only=True)`` returns only the remap
   rows on the driver-side branch, and the caller-side left join +
   coalesce reconstructs the exact complete labeling.
"""

import pytest
from pyspark.sql import functions as F

from ontonotes_5_parsing_spark.pipeline.linking import connected_components
from ontonotes_5_parsing_spark.pipeline.run import (
    _STATIC_PLAN_MAX_BYTES,
    _plan_size_bytes,
    _static_plan_if_small,
)


def test_static_plan_disables_and_restores_aqe(spark):
    df = spark.range(10)
    assert _plan_size_bytes(df) <= _STATIC_PLAN_MAX_BYTES
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    with _static_plan_if_small(spark, df):
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_static_plan_restores_on_error(spark):
    df = spark.range(10)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    with pytest.raises(RuntimeError):
        with _static_plan_if_small(spark, df):
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
        with _static_plan_if_small(spark, spark.range(10)):
            pass
    monkeypatch.undo()
    assert failed
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.shuffle.partitions") == parts
    # the depth counter unwound too: the next scope toggles again
    with _static_plan_if_small(spark, spark.range(10)):
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
        with _static_plan_if_small(spark, spark.range(10)):
            pass
    monkeypatch.undo()
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_static_plan_noop_when_probe_is_large(spark, monkeypatch):
    import ontonotes_5_parsing_spark.pipeline.run as run

    monkeypatch.setattr(run, "_plan_size_bytes", lambda _df: 1 << 62)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    with run._static_plan_if_small(spark, spark.range(10)):
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_static_plan_concurrent_scopes_never_strand_aqe_off(spark):
    """Two threads opening the scope concurrently on one session must
    serialize (round-4 ADVICE: overlapping scopes could restore a
    clobbered value); afterwards AQE is back to the original setting."""
    import threading

    spark.conf.set("spark.sql.adaptive.enabled", "true")
    df = spark.range(10)
    inside = []
    errs = []

    def worker():
        try:
            with _static_plan_if_small(spark, df):
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
    df = spark.range(10)
    with _static_plan_if_small(spark, df):
        with _static_plan_if_small(spark, df):
            assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_mapping_only_distributed_branch_filters_identity_rows(spark):
    """Branch-consistent contract (round-4 ADVICE): with the driver-side
    gate forced off, the distributed loop must also return remap rows
    only, and left-join + coalesce reconstructs the complete labeling."""
    vertices = spark.createDataFrame([(i,) for i in range(1, 7)], ["vertex_id"])
    edges = spark.createDataFrame([(1, 2), (2, 3), (4, 5)], ["src", "dst"])
    remap = connected_components(
        vertices, edges, mapping_only=True, driver_side_max_edges=0
    )
    rows = {(r.vertex_id, r.component) for r in remap.collect()}
    assert all(v != c for v, c in rows)
    reconstructed = {
        (r.vertex_id, r.component)
        for r in vertices.join(remap, "vertex_id", "left")
        .withColumn("component", F.coalesce("component", "vertex_id"))
        .collect()
    }
    assert reconstructed == {(1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (6, 6)}


def test_mapping_only_matches_complete_labeling(spark):
    # two components {1,2,3} and {4,5}; 6 is isolated
    vertices = spark.createDataFrame(
        [(i,) for i in range(1, 7)], ["vertex_id"]
    )
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], ["src", "dst"]
    )
    complete = {
        (r.vertex_id, r.component)
        for r in connected_components(vertices, edges).collect()
    }
    remap = connected_components(vertices, edges, mapping_only=True)
    # remap-only: no identity row for the isolated vertex 6
    remap_rows = {(r.vertex_id, r.component) for r in remap.collect()}
    assert (6, 6) not in remap_rows
    reconstructed = {
        (r.vertex_id, r.component)
        for r in vertices.join(remap, "vertex_id", "left")
        .withColumn("component", F.coalesce("component", "vertex_id"))
        .collect()
    }
    assert reconstructed == complete == {
        (1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (6, 6)
    }


def test_mapping_only_no_edges(spark):
    vertices = spark.createDataFrame([(1,), (2,)], ["vertex_id"])
    edges = spark.createDataFrame([], "src long, dst long")
    remap = connected_components(vertices, edges, mapping_only=True)
    assert remap.count() == 0
    assert remap.columns == ["vertex_id", "component"]


def test_build_graph_identical_with_gate_forced_noop(spark, monkeypatch):
    """The untested half of the static-plan gate (round-4 VERDICT #3):
    above the size threshold the scope must no-op — AQE stays ON — and
    the graph phase must produce IDENTICAL linked/nodes/edges either
    way. The second run also forces the vocabulary gate to 0, so this
    compares the driver branch of the graph phase with the distributed
    one on the sf0.001 pages.
    Forcing the gate low on a real corpus exercises exactly the plan the
    5M+-page deployment would run."""
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
    with_scope = graph_outputs()
    monkeypatch.setattr(run, "_plan_size_bytes", lambda _df: 1 << 62)
    # also force the vocabulary gate to the distributed branch — the
    # large-input regime must hold end to end
    monkeypatch.setattr(run, "DRIVER_GRAPH_MAX_ROWS", 0)
    spark.catalog.clearCache()
    without_scope = graph_outputs()
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert with_scope == without_scope
    assert all(len(rows) > 0 for _cols, rows in without_scope.values())


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
