"""Physical-plan regression checks: the optimizations the engine relies
on at scale must actually appear in the plans (SURVEY.md §4) — predicate
pushdown to the parquet scan, column pruning, broadcast joins for dims,
TakeOrderedAndProject for top-k, shuffle-free mention extraction."""

import contextlib
import io
import re

import pytest

SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_and_column_pruning(spark):
    from ontonotes_5_parsing_spark.operators.relational import q_pricing_summary

    plan = plan_of(q_pricing_summary(spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    schema = re.search(r"ReadSchema: struct<([^>]*)>", plan).group(1)
    read_cols = {c.split(":")[0] for c in schema.split(",")}
    assert "l_orderkey" not in read_cols  # unused columns never scanned
    assert "l_tax" not in read_cols
    assert {"l_quantity", "l_returnflag", "l_shipdate"} <= read_cols


def test_dim_joins_broadcast_and_topk(spark):
    from ontonotes_5_parsing_spark.operators.relational import q_shipping_priority

    plan = plan_of(q_shipping_priority(spark, SF))
    assert "SortMergeJoin" not in plan  # all dims broadcast at this scale
    assert plan.count("BroadcastHashJoin") >= 2
    assert "TakeOrderedAndProject" in plan  # limit+sort fused, no full sort
    assert "EqualTo(c_mktsegment,BUILDING)" in plan  # filter reached the scan


def test_documents_scan_pruned_to_used_columns(spark):
    from ontonotes_5_parsing_spark.operators.text import q_token_stats

    plan = plan_of(q_token_stats(spark, SF))
    schema = re.search(r"ReadSchema: struct<([^>]*)>", plan).group(1)
    read_cols = {c.split(":")[0] for c in schema.split(",")}
    assert read_cols == {"doc_id", "text"}


def test_hot_path_mentions_have_no_shuffle(spark):
    from ontonotes_5_parsing_spark import corpus
    from ontonotes_5_parsing_spark.pipeline.stages import (
        extract_parse_stage,
        mentions_from_parsed,
        triples_from_parsed,
    )

    pages = corpus.web_pages_df(spark, 10)
    parsed = extract_parse_stage(pages)
    # the only Exchange allowed is the id repartition before generation —
    # mention/triple extraction themselves add none
    base_exchanges = plan_of(parsed).count("Exchange")
    assert plan_of(mentions_from_parsed(parsed)).count("Exchange") == base_exchanges
    assert plan_of(triples_from_parsed(parsed)).count("Exchange") == base_exchanges


def test_salted_two_phase_aggregation_shape(spark):
    from ontonotes_5_parsing_spark import corpus
    from ontonotes_5_parsing_spark.pipeline.linking import surface_vocab
    from ontonotes_5_parsing_spark.pipeline.run import build_extraction

    mentions = build_extraction(corpus.web_pages_df(spark, 10))["mentions"]
    plan = plan_of(surface_vocab(mentions))
    # two-phase: partial agg on (surface, ent_type, salt) then final on
    # (surface, ent_type) → exactly two Exchanges above the UDF stage
    assert plan.count("HashAggregate") >= 4
    assert "pmod(xxhash64" in plan


def test_jaccard_candidate_join_is_token_keyed(spark):
    """The near-dup candidate join must be keyed on the prefix TOKEN
    (AllPairs prefix filtering), never a within-`source`-block all-pairs
    self-join: a single hot source block would make the old shape
    quadratic at 100×. The equi-join keys of every join in the plan are
    inspected — the candidate join is the one pairing two doc_ids, and
    its key set must include token."""
    from ontonotes_5_parsing_spark.operators.dedup import (
        _docs,
        _jaccard_pairs_plan,
    )

    # inspect the lazy plan builder: the public q_jaccard_pairs
    # materializes the verified pairs (round-4 static-plan scope), which
    # collapses its executed plan to a LogicalRDD scan
    plan = (
        _jaccard_pairs_plan(spark, _docs(spark, SF))
        ._jdf.queryExecution().executedPlan().toString()
    )
    join_lines = [
        ln for ln in plan.splitlines()
        if re.search(r"\b(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)\b", ln)
    ]
    assert join_lines, "expected equi-joins in the jaccard plan"
    # the candidate join carries the doc_id < doc_id condition; its
    # equi-keys must include the prefix token, and must NOT be source-only
    cand = [ln for ln in join_lines if "doc_id" in ln and "<" in ln]
    assert cand, "candidate join (doc_id < doc_id) not found"
    for ln in cand:
        keys = re.search(r"\[([^\]]*)\], \[([^\]]*)\]", ln)
        # the prefix-token column is the hashed token `h` (xxhash64
        # dictionary encoding); `token` accepted for the string form
        assert keys and re.search(r"\b(h|token)#", keys.group(1)), (
            f"candidate join not token-keyed: {ln}"
        )


def test_lsh_candidates_pair_in_tasks(spark):
    """Candidate pairs come from the pairing kernel in Spark tasks, not
    from a self-join: the plan has no join, and exactly one hash
    exchange on the blocking key (ent_type, band, bh), right below the
    MapInArrow, so each task sees whole buckets. The distinct's own
    exchange sits above it."""
    from ontonotes_5_parsing_spark import corpus
    from ontonotes_5_parsing_spark.pipeline.linking import (
        add_minhash_bands,
        candidate_pairs,
        surface_vocab,
    )
    from ontonotes_5_parsing_spark.pipeline.run import build_extraction

    mentions = build_extraction(corpus.web_pages_df(spark, 10))["mentions"]
    cand = candidate_pairs(add_minhash_bands(surface_vocab(mentions)))
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    lines = plan.splitlines()
    key_exchanges = [i for i, ln in enumerate(lines)
                     if re.search(r"Exchange hashpartitioning\(ent_type#\d+, band#\d+, bh#\d+", ln)]
    assert len(key_exchanges) == 1, plan
    # its parent, printed on the line above
    assert "MapInArrow" in lines[key_exchanges[0] - 1], plan


def test_jaccard_tokenization_lineage_is_cut(spark):
    """Same pin for the jaccard prefix pipeline: the hashed-token arrays
    feed three branches (prefix generation + both exact-verify sides);
    the plan must scan the checkpointed tokens, not recompute the
    tokenize-hash transform per branch."""
    from ontonotes_5_parsing_spark.operators.dedup import (
        _docs,
        _jaccard_pairs_plan,
    )

    # the lazy builder, for the same reason as the candidate-join test
    plan = (
        _jaccard_pairs_plan(spark, _docs(spark, SF))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "ExistingRDD" in plan
    # the xxhash64 tokenize transform ran before the checkpoint; the
    # downstream plan must not re-derive toks from `text`
    assert "split(text" not in plan


def test_registry_wide_plan_hygiene(spark):
    """Every driver query's physical plan: no unplanned cartesian
    product, and no row-at-a-time Python UDF (BatchEvalPython) — the
    hot-path constraint of BASELINE.json:15. Broadcast nested-loop
    joins are allowed (they are the intentional tiny-side cross joins
    in vocab-reduce / ANN centroid assignment)."""
    from ontonotes_5_parsing_spark.operators.registry import ALL_QUERIES

    sf_dir = "/root/testdata/sf0.001"
    violations = []
    for name, (fn, _sql) in ALL_QUERIES.items():
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        if "CartesianProduct" in plan:
            violations.append((name, "CartesianProduct"))
        if "BatchEvalPython" in plan:
            violations.append((name, "BatchEvalPython"))
    assert not violations, violations
