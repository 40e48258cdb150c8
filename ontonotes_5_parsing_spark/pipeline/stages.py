"""Core pipeline stages: pages → sentences → mentions → triples.

Python touches rows once: `extract_parse_stage` runs text extraction,
sentence splitting, tokenization, NER, the BIO→span scan (the
reference's W1 run-length scan, ontonotes5/utils.py:738-768),
document-level coreference and the (M, P, M) triple scan in one
Arrow-batched pass over whole pages, with the same `kgref` kernels the
single-process reference uses. Mentions and triples are then pure
explodes of the per-sentence arrays, inside whole-stage codegen.
"""

from __future__ import annotations

import sys
import zipimport
from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from ..kgref.coref import CorefState, extract_triples_with_coref
from ..kgref.extract import extract_text, split_sentences
from ..kgref.ner import bio_to_spans, tag_bio
from ..kgref.tokenize import tokenize_with_bounds
from .schemas import LEAN_PARSED_SCHEMA

# the fused stage's output batches, in the types Spark reads them with
_PARSED_ARROW = to_arrow_schema(LEAN_PARSED_SCHEMA)


def _drop_zip_importers() -> None:
    """Forget the cached zipimporters of this Python worker.

    Spark calls `importlib.invalidate_caches()` at the start of every
    task (`setup_spark_files` in pyspark's worker_util), and CPython
    3.11's `zipimporter.invalidate_caches` re-reads its archive's whole
    directory there. A reused worker holds one zipimporter per zip path
    entry it has imported from (pyspark.zip and each pyspark
    subpackage, the py4j zip, the spark-core jar, a `--py-files`
    package), so every task paid 0.26-0.30 s of re-reads (measured on
    CPython 3.11.7). `sys.path_importer_cache` refills on demand: the
    next import from a zip builds a fresh importer, which reuses
    zipimport's per-archive directory cache. Harmless where the re-read
    is lazy.
    """
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            sys.path_importer_cache.pop(path, None)


def _list_of_structs(offsets: list[int], children: list[pa.Array], field: pa.Field) -> pa.Array:
    """A list<struct> column from its flat child arrays and the int32
    offsets of each row's first element."""
    values = pa.StructArray.from_arrays(children, fields=list(field.type.value_type))
    return pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), values, type=field.type)


def _passed(batch: pa.RecordBatch, name: str, page: pa.Array) -> pa.Array:
    """Input column `name` at each output row's page index, in the
    output's type; all null where the input has no such column."""
    t = _PARSED_ARROW.field(name).type
    if name not in batch.schema.names:
        return pa.nulls(len(page), t)
    return batch.column(name).take(page).cast(t)


def _span(starts: list[int], ends: list[int], field: pa.Field) -> pa.Array:
    return pa.StructArray.from_arrays(
        [pa.array(starts, pa.int64()), pa.array(ends, pa.int64())], fields=list(field.type)
    )


# NOTE on sentence-level memoization: a per-worker {sentence →
# annotation} cache was tried here (the bench corpus repeats ~45% of
# sentences) and REVERTED — at 100k pages the resident cache (250k
# entries ≈ millions of long-lived small objects) costs more in Python
# GC pressure than the ~45% kernel hits save (measured 3523 → 1929
# pages/s single-process). Boilerplate dedup belongs UPSTREAM as a
# relational groupBy-distinct over sentence hashes, not inside the
# worker heap.
def _extract_parse_batches_impl(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """Pages (url, lang, html and optionally warc_ts) → sentence rows in
    `_PARSED_ARROW`, one output batch per input batch that has any.

    The kernels' results go into flat per-batch lists; the two array
    columns are built from offsets into them, and url, lang and warc_ts
    are taken from the input batch by each sentence's page index, so no
    per-sentence dict and no pandas frame is built."""
    mention_field = _PARSED_ARROW.field("mention_spans")
    triple_field = _PARSED_ARROW.field("triple_items")
    span_field = triple_field.type.value_type.field("subj_span")
    for batch in batches:
        page, sent_idx, texts, n_tokens = [], [], [], []
        m_offsets, m_start, m_end, m_type = [0], [], [], []
        t_offsets = [0]
        subj, pred, obj, subj_type, obj_type = [], [], [], [], []
        subj_start, subj_end, obj_start, obj_end = [], [], [], []
        for row, html in enumerate(batch.column("html").to_pylist()):
            text = extract_text(html)
            if not text:
                continue
            state = CorefState()  # per-document antecedent tracker
            for idx, sent in enumerate(split_sentences(text)):
                tokens, bounds = tokenize_with_bounds(sent)
                if not tokens:
                    continue
                bio = tag_bio(tokens)
                spans = bio_to_spans(bio, bounds)
                triples = extract_triples_with_coref(
                    sent, tokens, bounds, bio, state, mention_spans=spans
                )
                page.append(row)
                sent_idx.append(idx)
                texts.append(sent)
                n_tokens.append(len(tokens))
                for s, e, t in spans:
                    m_start.append(s)
                    m_end.append(e)
                    m_type.append(t)
                m_offsets.append(len(m_start))
                for t in triples:
                    subj.append(t["subj"])
                    pred.append(t["pred"])
                    obj.append(t["obj"])
                    subj_type.append(t["subj_type"])
                    obj_type.append(t["obj_type"])
                    subj_start.append(t["subj_span"][0])
                    subj_end.append(t["subj_span"][1])
                    obj_start.append(t["obj_span"][0])
                    obj_end.append(t["obj_span"][1])
                t_offsets.append(len(subj))
        if not page:
            continue
        rows = pa.array(page, pa.int32())
        yield pa.RecordBatch.from_arrays(
            [
                _passed(batch, "url", rows),
                _passed(batch, "warc_ts", rows),
                pa.array(sent_idx, pa.int32()),
                pa.array(texts, pa.string()),
                _passed(batch, "lang", rows),
                pa.array(n_tokens, pa.int32()),
                _list_of_structs(
                    m_offsets,
                    [pa.array(m_start, pa.int64()), pa.array(m_end, pa.int64()),
                     pa.array(m_type, pa.string())],
                    mention_field,
                ),
                _list_of_structs(
                    t_offsets,
                    [pa.array(c, pa.string()) for c in (subj, pred, obj, subj_type, obj_type)]
                    + [_span(subj_start, subj_end, span_field),
                       _span(obj_start, obj_end, span_field)],
                    triple_field,
                ),
            ],
            schema=_PARSED_ARROW,
        )
    _drop_zip_importers()


def extract_parse_stage(pages: DataFrame) -> DataFrame:
    """Fused extract+parse+annotate: html → fully-annotated sentences
    (LEAN_PARSED_SCHEMA) in ONE Arrow roundtrip. Document-level pronoun
    coreference chains merge into triple extraction (kgref.coref — the
    whole page is in hand here, so the per-document sequential state
    costs nothing extra).

    The BIO→span and triple scans are per-sentence sequential logic
    that higher-order JVM folds would run *interpreted* (no whole-stage
    codegen for lambda functions); doing them here, where the tokens are
    already in hand, is both faster and identical by construction (same
    kgref kernels). Token arrays are not shipped: nothing downstream
    reads them.
    """
    in_cols = ["url", "lang", "html"]
    if "warc_ts" in pages.columns:
        in_cols.append("warc_ts")  # event-time passthrough for streaming
    return pages.select(*in_cols).mapInArrow(
        _extract_parse_batches_impl, schema=LEAN_PARSED_SCHEMA
    )


def mentions_from_parsed(parsed: DataFrame) -> DataFrame:
    """Explode the pre-computed mention spans (hot path)."""
    return parsed.select(
        "url", "sent_idx", "text", F.explode("mention_spans").alias("m")
    ).select(
        "url",
        "sent_idx",
        F.col("m.start").alias("start"),
        F.col("m.end").alias("end"),
        F.expr(
            "substring(text, cast(m.start + 1 as int), cast(m.end - m.start as int))"
        ).alias("surface"),
        F.col("m.ent_type").alias("ent_type"),
    )


def triples_from_parsed(parsed: DataFrame) -> DataFrame:
    """Explode the pre-computed triples (hot path)."""
    return parsed.select(
        "url", "sent_idx", F.explode("triple_items").alias("t")
    ).select("url", "sent_idx", "t.*")


# --------------------------------------------------------------------------
# annotations table — the reference JSON record shape (utils.py:732-737)
# --------------------------------------------------------------------------
def annotations_stage(sentences: DataFrame, mentions: DataFrame) -> DataFrame:
    """entities map<type, array<span>> per sentence, spans sorted —
    JSON-format conformance surface (load-time checks of utils.py:1106-1257
    become testable invariants over this table).
    """
    ent_maps = (
        mentions.groupBy("url", "sent_idx", "ent_type")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("start"), F.col("end")))
            ).alias("spans")
        )
        .groupBy("url", "sent_idx")
        .agg(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("ent_type", "spans")))
            ).alias("entities")
        )
    )
    return (
        sentences.select("url", "sent_idx", "text", "lang")
        .join(ent_maps, ["url", "sent_idx"], "left")
        .withColumn(
            "entities",
            F.coalesce(
                F.col("entities"),
                F.from_json(F.lit("{}"), "map<string, array<struct<start:long,end:long>>>"),
            ),
        )
    )
