"""pipeline — distributed Spark stages of the KG-construction DAG.

    web_pages → sentences (one fused extract/parse/NER/coref/triple
    mapInArrow pass) → mentions, triples (explodes, JVM-side)
    → linking (MinHash/LSH blocking + label-propagation components)
    → canonicalize (salted two-phase groupBy) → nodes/edges.

Exactly one Python stage touches row data and it is Arrow-vectorized;
everything downstream is native DataFrame ops (BASELINE.json:15 "no
per-row Python anywhere on the hot path"), except that a small surface
vocabulary is collected and linked in-process (`run.build_graph`).
"""

from .stages import extract_parse_stage, mentions_from_parsed, triples_from_parsed
from .linking import link_entities
from .canonicalize import canonical_entities, build_nodes_edges
from .run import run_pipeline
from .incremental import ingest_batch, merged_counts, merge_snapshot
