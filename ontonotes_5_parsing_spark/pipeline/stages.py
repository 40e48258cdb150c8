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

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kgref.extract import extract_text, split_sentences
from ..kgref.ner import tag_bio
from .schemas import LEAN_PARSED_SCHEMA


# NOTE on sentence-level memoization: a per-worker {sentence →
# annotation} cache was tried here (the bench corpus repeats ~45% of
# sentences) and REVERTED — at 100k pages the resident cache (250k
# entries ≈ millions of long-lived small objects) costs more in Python
# GC pressure than the ~45% kernel hits save (measured 3523 → 1929
# pages/s single-process). Boilerplate dedup belongs UPSTREAM as a
# relational groupBy-distinct over sentence hashes, not inside the
# worker heap.
def _annotate(sent: str):
    from ..kgref.ner import bio_to_spans
    from ..kgref.tokenize import tokenize_with_bounds

    tokens, bounds = tokenize_with_bounds(sent)
    if not tokens:
        return None
    bio = tag_bio(tokens)
    spans = bio_to_spans(bio, bounds)
    return tokens, bounds, bio, spans


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


def _extract_parse_batches_impl(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from ..kgref.coref import CorefState, extract_triples_with_coref

    for pdf in batches:
        out = {f.name: [] for f in LEAN_PARSED_SCHEMA.fields}
        ts_col = pdf["warc_ts"] if "warc_ts" in pdf.columns else [None] * len(pdf)
        for url, lang, html, warc_ts in zip(pdf["url"], pdf["lang"], pdf["html"], ts_col):
            text = extract_text(html)
            if not text:
                continue
            state = CorefState()  # per-document antecedent tracker
            for sent_idx, sent in enumerate(split_sentences(text)):
                annot = _annotate(sent)
                if annot is None:
                    continue
                tokens, bounds, bio, spans = annot
                triples = extract_triples_with_coref(
                    sent, tokens, bounds, bio, state, mention_spans=spans
                )
                out["url"].append(url)
                out["warc_ts"].append(warc_ts)
                out["sent_idx"].append(sent_idx)
                out["text"].append(sent)
                out["lang"].append(lang)
                out["n_tokens"].append(len(tokens))
                out["mention_spans"].append(
                    [{"start": s, "end": e, "ent_type": t} for s, e, t in spans]
                )
                out["triple_items"].append(
                    [
                        {
                            "subj": t["subj"],
                            "pred": t["pred"],
                            "obj": t["obj"],
                            "subj_type": t["subj_type"],
                            "obj_type": t["obj_type"],
                            "subj_span": {"start": t["subj_span"][0], "end": t["subj_span"][1]},
                            "obj_span": {"start": t["obj_span"][0], "end": t["obj_span"][1]},
                        }
                        for t in triples
                    ]
                )
        # a batch of empty-text pages only would make float64 columns,
        # which Arrow cannot cast to the schema's timestamp
        if out["url"]:
            yield pd.DataFrame(out)
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
    return pages.select(*in_cols).mapInPandas(
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
