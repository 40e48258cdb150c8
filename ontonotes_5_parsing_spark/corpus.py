"""Deterministic synthetic `web_pages` corpus generator (FIXTURES.md §1).

Produces the engine's input table — Common-Crawl-style pages with
columns (url, warc_ts, html binary, text, lang) per BASELINE.json:15 —
entirely from the in-repo lexicon; no external data. Analog of the
reference's tgz-of-`.onf` source (/root/reference/ontonotes5_to_json.py:81-92).

Determinism: every page is generated from `random.Random(seed ^ doc_id)`
so output is independent of generation order / partitioning — the same
doc_id always yields the same page at any scale. Head-entity skew
(~20% of fact subjects drawn from 5 head entities) is planted to
exercise salted aggregation (BASELINE.json:6).

`extract_text(html) == text` holds byte-for-byte for every generated
page — the corpus-level statement of the per-row invariant.
"""

from __future__ import annotations

import html as _html
import random
from datetime import datetime, timedelta
from typing import Iterable, List

import pandas as pd

from .kgref.lexicon import (
    ARABIC_FILLER,
    CJK_FILLER,
    FILLER_WORDS,
    GAZETTEER,
    HEAD_ENTITIES,
    PREDICATE_VERBS,
)

_BASE_TS = datetime(2025, 1, 1)

_SUBJECT_POOL = sorted(
    s for s, t in GAZETTEER.items() if t in ("PERSON", "ORG") and s.isascii()
)
_OBJECT_POOL = sorted(
    s for s, t in GAZETTEER.items() if t in ("GPE", "ORG", "PERSON") and s.isascii()
)
_CJK_ENTITIES = sorted(s for s in GAZETTEER if any("一" <= c <= "鿿" for c in s))
_ARABIC_ENTITIES = sorted(
    s for s in GAZETTEER if any("؀" <= c <= "ۿ" for c in s)
)

LANGS = ["english", "arabic", "chinese"]


def _fact_sentence(rng: random.Random, lang: str) -> tuple[str, str]:
    """Returns (sentence, subject surface)."""
    pred = rng.choice(PREDICATE_VERBS)
    if lang == "chinese" and _CJK_ENTITIES:
        subj = rng.choice(_CJK_ENTITIES)
        obj = rng.choice(_CJK_ENTITIES)
    elif lang == "arabic" and _ARABIC_ENTITIES:
        subj = rng.choice(_ARABIC_ENTITIES)
        obj = rng.choice(_ARABIC_ENTITIES)
    else:
        # head-entity skew: ~20% of subjects come from 5 head entities
        if rng.random() < 0.20:
            subj = rng.choice(HEAD_ENTITIES)
        else:
            subj = rng.choice(_SUBJECT_POOL)
        obj = rng.choice(_OBJECT_POOL)
        while obj == subj:
            obj = rng.choice(_OBJECT_POOL)
    return f"{subj} {pred} {obj}.", subj


def _pronoun_followup(rng: random.Random, subj: str) -> str:
    """A pronoun fact whose subject corefers with the previous fact's
    subject — exercises coreference-chain merging (BASELINE.json:6)."""
    pronoun = "He" if GAZETTEER.get(subj) == "PERSON" else "It"
    pred = rng.choice(PREDICATE_VERBS)
    obj = rng.choice(_OBJECT_POOL)
    while obj == subj:
        obj = rng.choice(_OBJECT_POOL)
    return f"{pronoun} {pred} {obj}."


def _filler_sentence(rng: random.Random, lang: str) -> str:
    if lang == "chinese":
        words = [rng.choice(CJK_FILLER) for _ in range(rng.randint(4, 8))]
        return "".join(words) + "。"
    if lang == "arabic":
        words = [rng.choice(ARABIC_FILLER) for _ in range(rng.randint(4, 9))]
        return " ".join(words) + "."
    words = [rng.choice(FILLER_WORDS) for _ in range(rng.randint(5, 14))]
    return " ".join(words).capitalize() + "."


def _page_html(sentences: List[str], doc_id: int, url: str) -> str:
    paragraphs = "\n".join(
        f"    <p>{_html.escape(s)}</p>" for s in sentences
    )
    return (
        "<html><head>\n"
        f"  <title>Document {doc_id}</title>\n"
        "  <script>var tracker = {'id': %d};</script>\n" % doc_id
        + "  <style>p { margin: 0; }</style>\n"
        "</head><body>\n"
        "  <nav><ul><li><a href='/'>Home</a></li><li>About</li></ul></nav>\n"
        "  <header><h1 class='x'></h1></header>\n"
        "  <article>\n"
        f"{paragraphs}\n"
        "  </article>\n"
        f"  <footer>&copy; 2025 {_html.escape(url)}</footer>\n"
        "</body></html>"
    )


def generate_page(doc_id: int, seed: int = 42) -> dict:
    """One deterministic page; independent of generation order."""
    rng = random.Random((seed << 32) ^ doc_id)
    lang = rng.choices(LANGS, weights=[0.7, 0.15, 0.15])[0]
    src = rng.randint(0, 19)
    url = f"https://src{src}.example.com/{lang}/doc{doc_id}"
    n_sentences = rng.randint(3, 10)
    n_facts = rng.randint(1, min(4, n_sentences))
    fact_positions = set(rng.sample(range(n_sentences), n_facts))
    sentences = []
    for i in range(n_sentences):
        if i in fact_positions:
            sent, subj = _fact_sentence(rng, lang)
            sentences.append(sent)
            # ~30% of english facts get a coreferent pronoun follow-up
            if lang == "english" and rng.random() < 0.30:
                sentences.append(_pronoun_followup(rng, subj))
        else:
            sentences.append(_filler_sentence(rng, lang))
    text = "\n".join(sentences)
    return {
        "url": url,
        "warc_ts": _BASE_TS + timedelta(minutes=doc_id),
        "html": _page_html(sentences, doc_id, url).encode("utf-8"),
        "text": text,
        "lang": lang,
    }


def generate_pages(doc_ids: Iterable[int], seed: int = 42) -> pd.DataFrame:
    """pandas DataFrame of pages for the given doc ids (tests/small scale)."""
    return pd.DataFrame([generate_page(d, seed) for d in doc_ids])


# Target rows per generation/parse task: ~100 ms of Python work per
# task (generation ~22k pages/s/core, fused parse ~5k pages/s/core).
# Fewer, fatter tasks amortize the per-task Python-worker roundtrip —
# at 5k docs, 128 tasks of 39 docs measured 2.6× slower end-to-end than
# 32 tasks of 156 docs, pure scheduling+Arrow overhead.
_DOCS_PER_TASK = 512


def _task_partitions(spark, n_rows: int | None) -> int:
    """clamp(rows/_DOCS_PER_TASK, cores, 4×cores): one task wave at
    small scale, bounded per-task memory + skew smoothing at large.
    4 tasks per core when the row count is unknown (unreadable
    parquet footers)."""
    if n_rows is None:
        return max(spark.sparkContext.defaultParallelism * 4, 4)
    cores = max(spark.sparkContext.defaultParallelism, 4)
    want = max(1, -(-n_rows // _DOCS_PER_TASK))
    return max(cores, min(want, cores * 4))


def web_pages_df(spark, n_pages: int, seed: int = 42, partitions: int | None = None):
    """Distributed generation: the *ids* are parallelized and each
    executor materializes its pages via `mapInPandas` — no driver-side
    page materialization, so generation itself scales with the cluster.
    """
    from pyspark.sql import functions as F  # noqa: N812
    from .pipeline.schemas import WEB_PAGES_SCHEMA

    if partitions is None:
        partitions = _task_partitions(spark, n_pages)
    ids = spark.range(0, n_pages, 1, partitions).withColumnRenamed("id", "doc_id")

    def gen(batches):
        for pdf in batches:
            if len(pdf):
                yield generate_pages(pdf["doc_id"].tolist(), seed)

    return ids.mapInPandas(gen, schema=WEB_PAGES_SCHEMA)


def write_web_pages_parquet(spark, n_pages: int, path: str, seed: int = 42) -> None:
    """Materialize the synthetic corpus as a real input table — the
    production shape (the engine reads Iceberg/parquet, it does not
    generate). Used by the scaling bench so measured throughput is
    scan→triples, not generator→triples."""
    web_pages_df(spark, n_pages, seed).write.mode("overwrite").parquet(path)


def read_web_pages(spark, path: str):
    """Read a materialized web_pages table with its declared schema,
    repartitioned for the Arrow UDF stages (html is ~3 KB/row; the
    default 128 MB scan splits give far fewer partitions than cores).
    The parquet footers give the task count (from the row count), so
    the read plans without a Spark job."""
    from .pipeline.lineage import parquet_num_rows
    from .pipeline.schemas import WEB_PAGES_SCHEMA

    return spark.read.schema(WEB_PAGES_SCHEMA).parquet(path).repartition(
        _task_partitions(spark, parquet_num_rows(path)))


def web_pages_from_documents(spark, sf_dir: str, seed: int = 42):
    """Derive a deterministic web_pages table from the driver-provided
    `documents` parquet (TESTDATA.md): each doc_id seeds one synthetic
    page. Keeps entry()/bench anchored on the driver's tables while the
    page content stays lexicon-deterministic.
    """
    from .pipeline.lineage import parquet_num_rows
    from .pipeline.schemas import WEB_PAGES_SCHEMA

    # a single parquet file scans as ONE partition — repartition the ids
    # so page materialization (and every downstream Arrow UDF stage)
    # parallelizes across the cluster; task count sized from the parquet
    # footer row count (metadata only, no extra job)
    path = f"{sf_dir}/documents.parquet"
    docs = (
        spark.read.parquet(path)
        .select("doc_id")
        .repartition(_task_partitions(spark, parquet_num_rows(path)), "doc_id")
    )

    def gen(batches):
        for pdf in batches:
            if len(pdf):
                yield generate_pages(pdf["doc_id"].tolist(), seed)

    return docs.mapInPandas(gen, schema=WEB_PAGES_SCHEMA)
