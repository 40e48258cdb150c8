"""End-to-end DAG runner: web_pages → nodes/edges.

Two phases with distinct execution characters:

- `build_extraction`: pages → sentences → mentions → triples. One fused
  Arrow UDF stage, then shuffle-free explodes; each output is kept
  (persisted, or materialized in checkpointed mode) because it fans out
  to several consumers.
- `build_graph`: mentions/triples → linked → nodes/edges. Eager. The
  graph phase works on the surface vocabulary, which stays roughly
  constant as the corpus grows, so one exact gate — the row count of
  the persisted vocabulary — picks both the engine and the planning
  mode: at or below `DRIVER_GRAPH_MAX_ROWS` the vocabulary is collected
  and linked, clustered and canonicalized in-process, and only the
  corpus-sized edge aggregation runs in Spark, all under the static
  plan; above it the distributed `link_vocab`/`build_nodes_edges` path
  runs under the session's own adaptive-execution setting. Both give
  identical linked/nodes/edges. One structured log line per call
  records the branch and its counts.

`run_pipeline` composes both. Every run mode runs this one stage graph;
checkpointed mode (`work_dir` set) only changes how a stage is kept: it
materializes each stage with a lineage manifest and resumes completed
stages on re-run (BASELINE.json:14).
"""

from __future__ import annotations

import json
import logging
import threading
from contextlib import contextmanager
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import lineage
from .canonicalize import aggregate_edges, build_nodes_edges, canonical_rows
from .linking import add_minhash_bands, link_collected, link_vocab, surface_vocab, tokens
from .schemas import NODES_SCHEMA
from .stages import (
    annotations_stage,
    extract_parse_stage,
    mentions_from_parsed,
    triples_from_parsed,
)


def _persist(name: str, df: DataFrame) -> DataFrame:
    return df.persist()


def build_extraction(
    pages: DataFrame, keep: Callable[[str, DataFrame], DataFrame] = _persist
) -> dict[str, DataFrame]:
    """pages → sentences/mentions/triples (lazy).

    Uses the fused extract+parse+annotate stage (one Arrow roundtrip);
    mentions/triples are pure explodes. Each has several consumers
    (sentences feeds both explodes; mentions and triples feed the stage
    counts and `build_graph`), so each goes through `keep(name, df)`,
    which returns the frame downstream builds on: persisted by default,
    so the Python chain runs once; `run_pipeline`'s checkpointed mode
    passes a step that materializes (or resumes) the stage instead.
    """
    sentences = keep("sentences", extract_parse_stage(pages))
    mentions = keep("mentions", mentions_from_parsed(sentences))
    triples = keep("triples", triples_from_parsed(sentences))
    return {"sentences": sentences, "mentions": mentions, "triples": triples}


# Task-count right-sizing inside the static-plan scope: every shuffle
# in it is vocabulary-/postings-sized, so 32 shuffle partitions means
# mostly-empty tasks whose scheduling IS the stage cost. 8 matches what
# the CC loop picks for vocabulary-sized data (~1 partition per 100k
# vertices, min 1, here bounded by parallelism). Results are
# partition-count-invariant.
_STATIC_PLAN_SHUFFLE_PARTITIONS = 8


# The static-plan scope flips a *session-global* conf, so concurrent
# scopes on one session must serialize: an RLock (no pipeline path
# nests scopes, but a caller may wrap `build_graph`, which opens its
# own, in another) plus a depth counter so only the outermost scope
# toggles/restores. A thread that merely *plans a query* during another
# thread's scope still sees AQE off — that is the documented single-controller contract; the lock
# guarantees the stronger invariant that scopes themselves can never
# interleave and leave AQE permanently off (round-4 ADVICE / VERDICT #6).
_aqe_scope_lock = threading.RLock()
_aqe_scope_depth = 0


@contextmanager
def _static_plan(spark):
    """Run the enclosed actions without adaptive execution.

    For work the caller knows to be small: the driver branch of
    `build_graph` (an exact vocabulary count at or below
    `DRIVER_GRAPH_MAX_ROWS`) and `q_jaccard_pairs` (the `documents`
    table). Every shuffle there is vocabulary- or postings-sized by
    construction, so AQE's runtime re-planning has nothing to optimize,
    while its mechanics cost one scheduled job per query stage:
    measured on a warm crawl build, 15 jobs per build with AQE vs 6
    without, identical results."""
    global _aqe_scope_depth
    with _aqe_scope_lock:
        _aqe_scope_depth += 1
        outermost = _aqe_scope_depth == 1
        try:
            if outermost:
                prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
                prev_parts = spark.conf.get("spark.sql.shuffle.partitions", "32")
                # parsed before any conf changes, so a bad value raises
                # with the session untouched
                parts = str(min(int(prev_parts), _STATIC_PLAN_SHUFFLE_PARTITIONS))
                try:
                    spark.conf.set("spark.sql.adaptive.enabled", "false")
                    spark.conf.set("spark.sql.shuffle.partitions", parts)
                    yield
                finally:
                    spark.conf.set("spark.sql.adaptive.enabled", prev)
                    spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
            else:
                yield
        finally:
            _aqe_scope_depth -= 1


# The gate of build_graph: vocabularies of at most this many rows are
# linked on the driver. Sweep over numeric CARDINAL vocabularies shaped
# like the wide_vocab benchmark workload (5-digit numbers, dense enough
# that ~20 candidate pairs per surface need Levenshtein scoring), timing
# build_graph alone, best of 3, driver branch vs the gate forced to 0,
# local[4] on a 4-vCPU VM:
#   vocab rows       1k     2k     5k    10k  12.4k  14.9k    20k
#   driver s       1.41   1.41   2.43   3.85   7.16   6.28   9.01
#   distributed s  3.44   3.21   3.45   4.13   7.17   5.97   6.22
# The in-process scoring grows with the candidate pairs (~0.1M at 5k);
# the distributed path is mostly fixed scheduling cost until ~10k, and
# the two meet between 10k and 15k.
# Re-run at 10k-20k rows with the distributed branch under AQE, as it
# runs now (10 numbers per sentence drawn from 10,000-34,999: 25-38
# candidate pairs per surface), same host and timing:
#   vocab rows       10k    15k    20k
#   candidate pairs 254k   476k   758k
#   driver s        2.48   3.15   4.73
#   distributed s   5.30   5.88   7.26
# The driver branch has got cheaper since the first sweep and now leads
# through 20k; the gate stays where the first sweep put it until a
# workload above it is benchmarked.
DRIVER_GRAPH_MAX_ROWS = 10_000

log = logging.getLogger(__name__)


def build_graph(mentions: DataFrame, triples: DataFrame) -> dict[str, DataFrame]:
    """mentions/triples → linked/nodes/edges.

    Eager: the vocabulary is persisted and counted under the static
    plan, and that one row count picks the branch. The driver branch
    materializes edges inside the same scope; the distributed branch
    runs after it closes, under the session's adaptive-execution
    setting, and materializes linked/nodes/edges there."""
    spark = mentions.sparkSession
    with _static_plan(spark):
        vocab = surface_vocab(mentions).persist()
        n_vocab = vocab.count()
        branch = "driver" if n_vocab <= DRIVER_GRAPH_MAX_ROWS else "distributed"
        if branch == "driver":
            out, counts = _driver_graph(vocab, triples)
    if branch == "distributed":
        counts = dict.fromkeys(("candidate_pairs", "accepted_pairs", "dropped_keys"))
        linked = link_vocab(vocab).persist()
        nodes, edges = build_nodes_edges(triples, linked)
        out = {"linked": linked, "nodes": nodes.persist(), "edges": edges.persist()}
        out["edges"].count()
        out["nodes"].count()
        # counting nodes and edges filled linked's cache; the caller
        # unpersists only the frames returned
        vocab.unpersist()
    # counts the distributed branch does not compute are logged as null
    log.info("build_graph %s", json.dumps({"branch": branch, "vocab_rows": n_vocab, **counts}))
    return out


def _driver_graph(vocab: DataFrame, triples: DataFrame):
    """The graph phase of a collected vocabulary: bands, tokens and
    entity ids come from Spark in one collect; linking, clustering and
    the canonical pick run in-process; linked/nodes come back as local
    relations and the surface → entity mapping is broadcast into the
    shared edge aggregation."""
    spark = vocab.sparkSession
    # in link_collected's field order; rows are read by unpacking, as a
    # Row's attribute lookup costs a field-name search per access
    rows = (
        add_minhash_bands(vocab)
        .select(
            "vertex_id", "norm", "ent_type", "bands", tokens("norm").alias("toks"),
            "surface", "n_mentions", F.xxhash64("surface", "ent_type").alias("entity_id"),
        )
        .collect()
    )
    vocab.unpersist()
    remap, counts = link_collected(rows)
    linked, members = [], []
    for vertex_id, norm, ent_type, _bands, _toks, surface, n_mentions, entity_id in rows:
        component = remap.get(vertex_id, vertex_id)
        linked.append((vertex_id, surface, ent_type, n_mentions, norm, component))
        members.append((surface, ent_type, n_mentions, component, entity_id))
    nodes, mapping = canonical_rows(members)
    fields = {f.name: f for f in vocab.schema.fields}
    linked_schema = T.StructType(
        [fields[c] for c in ("vertex_id", "surface", "ent_type", "n_mentions", "norm")]
        + [T.StructField("component", T.LongType(), False)]
    )
    mapping_schema = T.StructType(
        [fields["surface"], fields["ent_type"], T.StructField("entity_id", T.LongType(), False)]
    )
    edges = aggregate_edges(triples, _local_frame(spark, mapping, mapping_schema))
    out = {
        "linked": _local_frame(spark, linked, linked_schema),
        "nodes": _local_frame(spark, nodes, NODES_SCHEMA),
        "edges": edges.persist(),
    }
    out["edges"].count()
    return out, counts


def _local_frame(spark, rows: list[tuple], schema: T.StructType) -> DataFrame:
    """Rows as a LocalRelation (built through Arrow): scanning or
    broadcasting it runs no Spark job, unlike `createDataFrame(list)`,
    which parallelizes an RDD."""
    import pyarrow as pa

    columns = list(zip(*rows)) if rows else [() for _ in schema.fields]
    table = pa.table({f.name: list(c) for f, c in zip(schema.fields, columns)})
    return spark.createDataFrame(table, schema)


def run_pipeline(
    pages: DataFrame,
    work_dir: str | None = None,
    resume: bool = True,
) -> dict[str, DataFrame]:
    """Run the full KG-construction DAG; returns all stage DataFrames.

    With `work_dir`, every stage is materialized under
    ``{work_dir}/{stage}`` with a lineage manifest, and with `resume` a
    stage whose manifest exists is loaded instead of rebuilt — as long
    as every stage before it was loaded too, since a rebuilt input
    invalidates what was derived from it. linked/nodes/edges come from
    one `build_graph` pass, so they resume all together or not at all.
    """
    if work_dir is None:
        out = build_extraction(pages)
        out.update(build_graph(out["mentions"], out["triples"]))
    else:
        out = _build_checkpointed(pages, work_dir, resume)
    out["annotations"] = annotations_stage(out["sentences"], out["mentions"])
    return out


def _build_checkpointed(pages: DataFrame, work_dir: str, resume: bool) -> dict[str, DataFrame]:
    spark = pages.sparkSession

    def keep(name: str, df: DataFrame, partition_by: list[str] | None = None) -> DataFrame:
        nonlocal resume
        stage_dir = f"{work_dir}/{name}"
        resume = resume and lineage.is_complete(stage_dir)
        if resume:
            return lineage.load_stage(spark, stage_dir)
        return lineage.materialize(df, stage_dir, name, partition_by)

    out = build_extraction(pages, keep)
    graph_stages = ("linked", "nodes", "edges")
    if resume and all(lineage.is_complete(f"{work_dir}/{n}") for n in graph_stages):
        graph = {n: lineage.load_stage(spark, f"{work_dir}/{n}") for n in graph_stages}
    else:
        resume = False
        built = build_graph(out["mentions"], out["triples"])
        graph = {n: keep(n, built[n], ["ent_type"] if n == "nodes" else None) for n in graph_stages}
        # downstream reads the materialized copies; drop build_graph's caches
        for df in built.values():
            df.unpersist()
    # partitionBy moves ent_type to the last column of the re-read nodes
    graph["nodes"] = graph["nodes"].select(*NODES_SCHEMA.fieldNames())
    out.update(graph)
    return out
