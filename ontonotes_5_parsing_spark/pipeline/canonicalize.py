"""Canonical entity selection + graph materialization (nodes/edges).

The distributed form of the reference's reduce_entities lifecycle
(/root/reference/reduce_entities.py:64-116 — global frequency agg →
top seeds → canonical per cluster → rewrite): count mentions globally
(salted two-phase, done in linking.surface_vocab), pick one canonical
surface per linked component with a *total deterministic ordering*
(SURVEY.md §7 hard part 2 — never `first()` without order), then map
every triple endpoint to its canonical entity id.

`canonical_rows` is the same pick in-process, for the driver-side graph
phase (`run.build_graph`); both paths share `aggregate_edges`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def canonical_entities(linked: DataFrame) -> DataFrame:
    """linked(surface, ent_type, n_mentions, norm, vertex_id, component)
    → one row per component with its canonical surface and entity_id.

    Canonical = the member with the most mentions; ties broken by the
    reference's rule — min (length, value) (reduce_entities.py:111-113)
    — giving a deterministic `min_by` over a composite struct. ent_type
    is the final tiebreaker so the ordering is TOTAL even when one
    component holds the same surface under two entity types (otherwise
    the pick would be engine/partitioning-dependent on exact ties).
    """
    per_component = linked.groupBy("component").agg(
        F.min_by(
            F.struct("surface", "ent_type"),
            F.struct(
                (-F.col("n_mentions")).alias("neg_freq"),
                F.length("surface").alias("len"),
                F.col("surface"),
                F.col("ent_type"),
            ),
        ).alias("canon"),
        F.sum("n_mentions").alias("n_mentions"),
        F.count(F.lit(1)).alias("n_surfaces"),
    )
    return per_component.select(
        "component",
        F.col("canon.surface").alias("canonical"),
        F.col("canon.ent_type").alias("ent_type"),
        "n_mentions",
        "n_surfaces",
        F.xxhash64(F.col("canon.surface"), F.col("canon.ent_type")).alias("entity_id"),
    )


def surface_to_entity(linked: DataFrame, canon: DataFrame) -> DataFrame:
    """(surface, ent_type) → entity_id mapping. Small relative to the
    corpus (vocabulary-sized), so downstream joins broadcast it."""
    return (
        linked.select("surface", "ent_type", "component")
        .join(canon.select("component", "entity_id"), "component")
        .select("surface", "ent_type", "entity_id")
    )


def canonical_rows(linked: list[tuple]) -> tuple[list[tuple], list[tuple]]:
    """`canonical_entities` + `surface_to_entity` in-process, over
    (surface, ent_type, n_mentions, component, entity_id) rows, where
    entity_id = xxhash64(surface, ent_type). Returns node rows in
    `NODES_SCHEMA` order and (surface, ent_type, entity_id) rows.

    Same total order as the `min_by` struct: strings compare by code
    point there and here (UTF-8 byte order is code point order)."""
    best: dict[int, tuple] = {}
    totals: dict[int, list[int]] = {}
    for surface, ent_type, n_mentions, component, entity_id in linked:
        key = (-n_mentions, len(surface), surface, ent_type)
        if component not in best or key < best[component][0]:
            best[component] = (key, entity_id, surface, ent_type)
        t = totals.setdefault(component, [0, 0])
        t[0] += n_mentions
        t[1] += 1
    nodes = [(*best[c][1:], *totals[c]) for c in best]
    mapping = [(s, e, best[c][1]) for s, e, _n, c, _id in linked]
    return nodes, mapping


def build_nodes_edges(
    triples: DataFrame, linked: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Materialize the graph: nodes(entity_id, canonical, ent_type,
    n_mentions, n_surfaces) and edges(src_entity_id, pred,
    dst_entity_id, n_evidence)."""
    canon = canonical_entities(linked)
    # persisted: the mapping is broadcast twice (src side and dst side);
    # without the persist each broadcast build would re-run the
    # canonical-entities aggregation over `linked`
    mapping = surface_to_entity(linked, canon).persist()

    nodes = canon.select(
        "entity_id", "canonical", "ent_type", "n_mentions", "n_surfaces"
    )
    return nodes, aggregate_edges(triples, mapping)


def aggregate_edges(triples: DataFrame, mapping: DataFrame) -> DataFrame:
    """triples + (surface, ent_type, entity_id) → edges(src_entity_id,
    pred, dst_entity_id, n_evidence).

    The surface→entity map is broadcast (vocabulary ≪ corpus); the edge
    count is a salted two-phase groupBy because head entities make
    (src, pred, dst) keys skewed for the same reason mention counts are.
    """
    # one SQL statement, analyzed once: spelled as DataFrame calls, the
    # growing plan is re-analyzed at each of about ten calls, ~0.15 s
    # of driver time per build. Both endpoint joins read the same
    # `mapping` relation, so Catalyst's ReuseExchange builds and ships
    # one broadcast for both
    return triples.sparkSession.sql(
        "SELECT src_entity_id, pred, dst_entity_id, sum(cnt) AS n_evidence FROM ("
        " SELECT /*+ BROADCAST(s, d) */ s.entity_id AS src_entity_id, t.pred,"
        " d.entity_id AS dst_entity_id, count(1) AS cnt"
        " FROM {triples} t"
        " JOIN {mapping} s ON t.subj = s.surface AND t.subj_type = s.ent_type"
        " JOIN {mapping} d ON t.obj = d.surface AND t.obj_type = d.ent_type"
        " GROUP BY s.entity_id, t.pred, d.entity_id, pmod(xxhash64(t.url, t.sent_idx), 32))"
        " GROUP BY src_entity_id, pred, dst_entity_id",
        triples=triples,
        mapping=mapping,
    )
