"""End-to-end DAG runner: web_pages → nodes/edges.

Two phases with distinct execution characters:

- `build_extraction`: pages → sentences → mentions → triples. One fused
  Arrow UDF stage, then shuffle-free explodes. In memory only
  `sentences` is kept (persisted); mentions and triples are lazy
  explodes over it. Checkpointed mode materializes all three.
- `build_graph`: mentions/triples → linked → nodes/edges. Eager. The
  graph phase works on the surface vocabulary, which stays roughly
  constant as the corpus grows, so one exact gate — the row count of
  the banded vocabulary, taken with a collect bounded at
  `DRIVER_GRAPH_MAX_ROWS + 1` rows — picks the engine: at or below the
  gate the collected Arrow table is linked (numpy over its columns),
  clustered and canonicalized in-process, and only the corpus-sized
  edge aggregation runs in Spark; above it the distributed
  `link_vocab`/`build_nodes_edges` path runs. Both give identical
  linked/nodes/edges. One structured log line per call records the
  branch and its counts.

Every plan is static (`session.get_spark` turns AQE off): each shuffle
here is salted, bounded or sized in code, and no code here writes
session conf.

A warm in-memory build runs three Spark jobs: the vocabulary collect
(which runs the fused stage and fills the `sentences` cache), the
mapping broadcast and the edge aggregation. In a caller's own session
with adaptive execution on it runs more; the log line's `adaptive`
records which mode ran.

`run_pipeline` composes both. Every run mode runs this one stage graph;
checkpointed mode (`work_dir` set) only changes how a stage is kept: it
materializes each stage with a lineage manifest and resumes completed
stages on re-run (BASELINE.json:14).
"""

from __future__ import annotations

import json
import logging
import time
from typing import Callable

import pyarrow as pa
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
    """The in-memory `keep`: caches `sentences` only. mentions and
    triples each have one consumer in `build_graph` and stay explodes
    over the cache."""
    return df.persist() if name == "sentences" else df


def build_extraction(
    pages: DataFrame, keep: Callable[[str, DataFrame], DataFrame] = _persist
) -> dict[str, DataFrame]:
    """pages → sentences/mentions/triples (lazy).

    Uses the fused extract+parse+annotate stage (one Arrow roundtrip);
    mentions/triples are pure explodes of `sentences`. Each stage goes
    through `keep(name, df)`, which returns the frame downstream builds
    on. The default persists `sentences` alone, so the Python chain runs
    once and both explodes read its cache; `run_pipeline`'s checkpointed
    mode passes a step that materializes (or resumes) every stage
    instead. The only shuffle, the pages `repartition`, runs inside the
    job that fills the cache or writes the stage.
    """
    sentences = keep("sentences", extract_parse_stage(pages))
    mentions = keep("mentions", mentions_from_parsed(sentences))
    triples = keep("triples", triples_from_parsed(sentences))
    return {"sentences": sentences, "mentions": mentions, "triples": triples}


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
# Re-run with the numpy driver branch (the same number draws on
# 1,280/2,290/4,000 pages), same host and timing; "row loop" is the
# per-pair Python linking it replaced, and each distributed row comes
# from the same sessions as the driver row above it:
#   vocab rows           10,046   15,067   20,031
#   candidate pairs        249k     497k     752k
#   driver s, numpy        1.44     1.36     1.80
#   distributed s          4.28     4.41     6.55
#   driver s, row loop     2.21     3.28     5.31
#   distributed s          5.22     5.33     7.30
# In-process linking (`link_s`) is 0.24/0.43/0.68 s of the numpy
# driver time. The driver branch now leads about 3x through 20k rows.
# Far above the gate, with every plan static: 10,000 pages of 7 numbers
# drawn from 10,000-99,999 (48,505 vocabulary rows), gate forced to 0,
# build_graph alone, warm builds 1-3 of two sessions per side: 9 jobs
# in 9.75-13.22 s static, against 29 jobs in 11.62-13.02 s under AQE
# (with the vocabulary aggregated twice, before it was cached ahead of
# the collect), at identical linked/nodes/edges.
# With pairing and scoring run by the numpy kernels in Spark tasks, the
# same protocol on another 10,000-page draw (48,779 rows): 8 jobs in
# 9.67-13.24 s, against 9 jobs in 9.10-10.50 s for the SQL self-join.
DRIVER_GRAPH_MAX_ROWS = 10_000

log = logging.getLogger(__name__)


def build_graph(mentions: DataFrame, triples: DataFrame) -> dict[str, DataFrame]:
    """mentions/triples → linked/nodes/edges.

    Eager. The vocabulary is persisted, and its banded columns are
    collected with a limit of one row over the gate, so the collect is
    bounded before it runs, its row count is the exact gate, and its job
    fills the vocabulary cache. The driver branch drops that cache, links
    the table and materializes edges. Above the gate the vocabulary is
    counted from its cache, for the log line's exact count, and the
    distributed branch materializes linked/nodes/edges from it."""
    vocab = surface_vocab(mentions).persist()
    table = _banded(vocab).limit(DRIVER_GRAPH_MAX_ROWS + 1).toArrow()
    if table.num_rows <= DRIVER_GRAPH_MAX_ROWS:
        branch, n_vocab = "driver", table.num_rows
        vocab.unpersist()
        out, counts = _driver_graph(table, vocab.schema, triples)
    else:
        branch, n_vocab = "distributed", vocab.count()
        counts = dict.fromkeys(("candidate_pairs", "accepted_pairs", "dropped_keys", "link_s"))
        linked = link_vocab(vocab).persist()
        nodes, edges = build_nodes_edges(triples, linked)
        out = {"linked": linked, "nodes": nodes.persist(), "edges": edges.persist()}
        out["edges"].count()
        out["nodes"].count()
        # counting nodes and edges filled linked's cache; the caller
        # unpersists only the frames returned
        vocab.unpersist()
    # counts the distributed branch does not compute are logged as null;
    # `adaptive` says which plan mode the session ran the jobs in
    adaptive = mentions.sparkSession.conf.get("spark.sql.adaptive.enabled") == "true"
    log.info("build_graph %s", json.dumps(
        {"branch": branch, "adaptive": adaptive, "vocab_rows": n_vocab, **counts}))
    return out


def _banded(vocab: DataFrame) -> DataFrame:
    """The vocabulary columns the driver branch works on: its blocking
    keys, the tokens of its norm and each surface's entity id."""
    return add_minhash_bands(vocab).select(
        "vertex_id", "surface", "ent_type", "n_mentions", "norm", "bands",
        tokens("norm").alias("toks"), F.xxhash64("surface", "ent_type").alias("entity_id"),
    )


def _driver_graph(table: pa.Table, vocab_schema: T.StructType, triples: DataFrame):
    """The graph phase of a collected vocabulary, `_banded`'s columns as
    one Arrow table (from `toArrow`, so no `Row` objects are built):
    linking runs on its columns in numpy, clustering and the canonical
    pick in-process; linked is the table's columns plus the component
    array, nodes come from the canonical rows, both as local relations,
    and the surface → entity mapping is broadcast into the shared edge
    aggregation. `link_s` in the returned counts is the in-process
    linking time."""
    spark = triples.sparkSession
    start = time.perf_counter()
    remap, counts = link_collected(table)
    counts["link_s"] = round(time.perf_counter() - start, 4)
    component = [remap.get(v, v) for v in table["vertex_id"].to_pylist()]
    members = zip(
        *(table[c].to_pylist() for c in ("surface", "ent_type", "n_mentions")),
        component,
        table["entity_id"].to_pylist(),
    )
    nodes, mapping = canonical_rows(list(members))
    fields = {f.name: f for f in vocab_schema.fields}
    linked_cols = ("vertex_id", "surface", "ent_type", "n_mentions", "norm")
    linked_schema = T.StructType(
        [fields[c] for c in linked_cols] + [T.StructField("component", T.LongType(), False)]
    )
    linked = pa.table([*(table[c] for c in linked_cols), pa.array(component, pa.int64())],
                      names=linked_schema.names)
    mapping_schema = T.StructType(
        [fields["surface"], fields["ent_type"], T.StructField("entity_id", T.LongType(), False)]
    )
    edges = aggregate_edges(triples, _local_frame(spark, mapping, mapping_schema))
    out = {
        "linked": spark.createDataFrame(linked, linked_schema),
        "nodes": _local_frame(spark, nodes, NODES_SCHEMA),
        "edges": edges.persist(),
    }
    out["edges"].count()
    return out, counts


def _local_frame(spark, rows: list[tuple], schema: T.StructType) -> DataFrame:
    """Rows as a LocalRelation (built through Arrow): scanning or
    broadcasting it runs no Spark job, unlike `createDataFrame(list)`,
    which parallelizes an RDD."""
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
        try:
            graph = {n: keep(n, built[n], ["ent_type"] if n == "nodes" else None)
                     for n in graph_stages}
        finally:
            # downstream reads the materialized copies; drop build_graph's caches
            for df in built.values():
                df.unpersist()
    # partitionBy moves ent_type to the last column of the re-read nodes
    graph["nodes"] = graph["nodes"].select(*NODES_SCHEMA.fieldNames())
    out.update(graph)
    return out
