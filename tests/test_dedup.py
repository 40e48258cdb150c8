"""Dedup operator family: invariants of the exact-recall
prefix-filtered Jaccard join and the hot-cell guards.

The registry forms are oracle-verified by the driver gate
(tests/test_operators_oracle.py).
"""

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_jaccard_pairs_match_bruteforce(spark):
    """The prefix-filtered join must reproduce the naive all-pairs
    result exactly (recall 1 by the prefix + positional filter
    theorems) — verified against an in-memory brute force."""
    from ontonotes_5_parsing_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        q_jaccard_pairs,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "source", "text"
    ).collect()
    toks = {r.doc_id: set(r.text.split(" ")) for r in docs}
    src = {r.doc_id: r.source for r in docs}
    expected = set()
    ids = sorted(toks)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            if src[a] != src[b]:
                continue
            inter = len(toks[a] & toks[b])
            jac = inter / (len(toks[a]) + len(toks[b]) - inter)
            if round(jac, 4) >= JACCARD_THRESHOLD:
                expected.add((a, b))
    got = {(r.doc_a, r.doc_b) for r in q_jaccard_pairs(spark, SF).collect()}
    assert got == expected


@pytest.mark.parametrize("n,expected_prefix", [(1, 1), (2, 2), (3, 2), (10, 6)])
def test_prefix_length_formula(n, expected_prefix):
    """prefix = |T| - ceil(tau·|T|) + 1 = floor(|T|/2) + 1 at tau=0.5."""
    assert n // 2 + 1 == expected_prefix


def test_embedding_cosine_hot_cell_guard(spark, tmp_path, monkeypatch):
    """A cell denser than MAX_CELL contributes NO pairs (the IVF
    hot-cell quadratic-blowup guard); bounded cells still verify."""
    from ontonotes_5_parsing_spark.operators import dedup

    from ontonotes_5_parsing_spark.operators.similarity import EMB_DIM

    unit = [1.0] + [0.0] * (EMB_DIM - 1)
    rows = [(i, "hot", unit) for i in range(6)] + [
        (100, "cold", unit),
        (101, "cold", unit),
    ]
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<double>"
    ).withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("float"))
    ).write.parquet(f"{sf_dir}/embeddings.parquet")

    monkeypatch.setattr(dedup, "MAX_CELL", 4)
    pairs = dedup.q_embedding_cosine_pairs(spark, sf_dir).collect()
    cells = {r.cell for r in pairs}
    assert "hot" not in cells, "hot cell must be dropped by the guard"
    assert {(r.vec_a, r.vec_b) for r in pairs} == {(100, 101)}

    monkeypatch.setattr(dedup, "MAX_CELL", 4096)
    pairs_all = dedup.q_embedding_cosine_pairs(spark, sf_dir).collect()
    assert {r.cell for r in pairs_all} == {"hot", "cold"}
