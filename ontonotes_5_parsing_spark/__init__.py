"""ontonotes_5_parsing_spark — a PySpark-native knowledge-graph
construction engine.

A from-scratch re-expression of the capabilities of
``nsu-ai/ontonotes-5-parsing`` (reference at /root/reference, read-only)
as a Spark-first pipeline over Common-Crawl-style web pages:

    web_pages → sentences (one fused extract/parse/NER/coref/triple
    mapInArrow pass) → mentions, (subj, pred, obj) triples (explodes)
    → MinHash/LSH-blocked entity linking → salted canonicalization
    → nodes/edges tables.

Subpackages:

- ``kgref``      — single-process pure-Python reference extractor: the
                   conformance oracle every Spark stage is measured
                   against (byte-identical text per url, triple P/R).
- ``pipeline``   — the distributed Spark stages (DataFrame + vectorized
                   Arrow UDFs; no per-row Python on the hot path).
- ``operators``  — the relational operator surface (SURVEY.md §2) as
                   named queries over the driver test tables, each with
                   a DuckDB oracle.
- ``corpus``     — deterministic synthetic web_pages generator
                   (FIXTURES.md §1); no external data.
- ``session``    — SparkSession factory (Arrow on, AQE off).
"""

__version__ = "0.1.0"
