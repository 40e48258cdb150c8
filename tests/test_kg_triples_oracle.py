"""Contracts behind the kg_triples cross-engine oracle (round-5).

The DuckDB oracle re-derives the fused Arrow-UDF stage's triples
relationally (as-of coref pick + lead-window M-P-M scan) from the
materialized per-sentence item table. That equivalence rests on three
structural facts, each pinned here, plus a direct cross-engine
agreement check at sf0.001:

1. the predicate and pronoun lexicons are disjoint (an item is never
   both P and R);
2. within a sentence every item start is unique (ORDER BY start is a
   total order == the Python items.sort());
3. the SQL assembly over the item table reproduces the pipeline's
   triples exactly (multiset equality, both engines).
"""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from ontonotes_5_parsing_spark.kgref.coref import PRONOUN_TYPES
from ontonotes_5_parsing_spark.kgref.lexicon import FILLER_WORDS, GAZETTEER, PREDICATE_VERBS
from ontonotes_5_parsing_spark.operators.kg import (
    SQL_KG_TRIPLES,
    _ORACLE_SF,
    _materialize_for_oracle,
    _pipeline,
    _triple_items_df,
    q_kg_triples,
)

SF_DIR = "/root/testdata/sf0.001"


def test_predicate_and_pronoun_lexicons_disjoint():
    from ontonotes_5_parsing_spark.kgref.coref import PRONOUN_TYPES
    from ontonotes_5_parsing_spark.kgref.lexicon import PREDICATE_VERBS

    assert not set(PREDICATE_VERBS) & set(PRONOUN_TYPES)


def test_gazetteer_never_contains_pronoun_or_predicate_tokens():
    """A gazetteer match would tag the token non-O and silently remove a
    P/R item; keep the lexicons non-overlapping so the item classes stay
    a partition of the sentence's tokens."""
    from ontonotes_5_parsing_spark.kgref.coref import PRONOUN_TYPES
    from ontonotes_5_parsing_spark.kgref.lexicon import (
        GAZETTEER,
        PREDICATE_VERBS,
    )
    from ontonotes_5_parsing_spark.kgref.tokenize import tokenize_any_text

    reserved = set(PRONOUN_TYPES) | set(PREDICATE_VERBS)
    for surface in GAZETTEER:
        assert not set(tokenize_any_text(surface)) & reserved, surface


def test_item_starts_unique_per_sentence(spark):
    sentences = _pipeline(spark, SF_DIR)["sentences"]
    items = _triple_items_df(sentences)
    dup = (
        items.groupBy("url", "sent_idx", "start")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dup == 0
    assert items.count() > 0


@pytest.mark.parametrize("sf_dir", [SF_DIR])
def test_sql_assembly_matches_fused_stage(spark, sf_dir):
    """Multiset equality between the pipeline's fused triple stage and
    the DuckDB relational assembly over the materialized items."""
    spark_rows = sorted(
        map(tuple, q_kg_triples(spark, sf_dir).collect())
    )
    base = _materialize_for_oracle(spark, sf_dir)
    assert _ORACLE_SF in SQL_KG_TRIPLES
    sql = SQL_KG_TRIPLES.replace(
        f"/{_ORACLE_SF}/", f"/{base.rsplit('/', 1)[-1]}/"
    )
    duck_rows = sorted(duckdb.connect().execute(sql).fetchall())
    assert len(spark_rows) > 0
    assert spark_rows == duck_rows


ADVERSARIAL_DOCS = [
    # chained M-P-M-P-M: two triples sharing the middle mention
    "Einstein visited Paris and Curie joined Globex .\n\n"
    "Turing met Lovelace and praised Initech .",
    # leading pronoun (sent_idx 0, no antecedent → dropped), then a
    # resolvable one; 'They' priority: ORG over PERSON over NORP
    "He founded Globex .\n\nAcme Corp met Obama .\n\n"
    "They acquired Initech .\n\nShe visited Berlin .",
    # pronoun whose antecedent is the LATEST prior mention of the type
    # (Curie observed after Lovelace within one earlier sentence)
    "Lovelace met Curie .\n\nShe joined United Nations .",
    # predicate with no flanking mentions; unresolved 'It' (no prior
    # ORG/GPE/PRODUCT/FAC/LOC); CARDINAL/DATE single-token rules
    "Nobody founded anything here .\n\nIt owns 42 things since 1999 .",
    # duplicate triples WITHIN one sentence (same url+sent_idx+values),
    # then a same-type antecedent across sentences
    "Obama visited Tokyo and Obama visited Tokyo .\n\n"
    "He criticized Germany .",
]


def test_sql_assembly_matches_on_adversarial_docs(spark, tmp_path):
    """Synthetic edge cases through BOTH engines: overlapping M-P-M
    runs, leading/unresolved pronouns, type-priority resolution,
    latest-antecedent-wins, duplicate triples. The pipeline is fed
    pages whose extracted text is exactly these documents."""
    import duckdb

    from ontonotes_5_parsing_spark.kgref.extract import extract_text
    from ontonotes_5_parsing_spark.operators.kg import (
        _pron_types_df,
        _triple_items_df,
    )
    from ontonotes_5_parsing_spark.pipeline.run import build_extraction

    pages = spark.createDataFrame(
        [
            (f"https://t{i}.example/x", None,
             f"<html><body><p>{doc.replace(chr(10)+chr(10), '</p><p>')}"
             f"</p></body></html>".encode(), "en")
            for i, doc in enumerate(ADVERSARIAL_DOCS)
        ],
        "url string, warc_ts timestamp, html binary, lang string",
    )
    # sanity: the html roundtrip preserves the intended sentences
    # (paragraphs join with a single newline, a sentence boundary)
    assert extract_text(
        "<html><body><p>A .</p><p>B .</p></body></html>".encode()
    ) == "A .\nB ."
    out = build_extraction(pages)
    spark_rows = sorted(
        tuple(r)
        for r in out["triples"]
        .select("url", "sent_idx", "subj", "pred", "obj",
                "subj_type", "obj_type")
        .collect()
    )
    base = str(tmp_path)
    _triple_items_df(out["sentences"]).write.parquet(f"{base}/items.parquet")
    _pron_types_df(spark).write.parquet(f"{base}/pron_types.parquet")
    from ontonotes_5_parsing_spark.operators.kg import ORACLE_ROOT

    sql = SQL_KG_TRIPLES.replace(f"{ORACLE_ROOT}/{_ORACLE_SF}", base)
    duck_rows = sorted(duckdb.connect().execute(sql).fetchall())
    assert spark_rows == duck_rows
    # the cases actually fired: chained run ≥2 triples in one sentence,
    # a resolved They→ORG triple, and duplicate triples preserved
    by_key = {}
    for r in spark_rows:
        by_key[r] = by_key.get(r, 0) + 1
    assert max(by_key.values()) >= 2, "duplicate-triple case did not fire"
    assert any(r[2] == "Acme Corp" and r[3] == "acquired" for r in spark_rows), (
        "They→ORG priority resolution did not fire"
    )
    assert any(r[2] == "Curie" and r[3] == "joined" for r in spark_rows), (
        "latest-antecedent resolution did not fire"
    )
    assert not any(r[2] == "He" or r[2] == "It" for r in spark_rows)


def test_coref_triples_present_and_resolved(spark):
    """The oracle must exercise the coref path: at least one triple's
    subject is an antecedent surface while the literal sentence text at
    that position is a pronoun (i.e. resolution actually happened)."""
    triples = q_kg_triples(spark, SF_DIR)
    sentences = _pipeline(spark, SF_DIR)["sentences"].select(
        "url", "sent_idx", "text"
    )
    pronouns = ("He", "She", "It", "They", "he", "she", "it", "they")
    joined = triples.join(sentences, ["url", "sent_idx"])
    resolved = joined.filter(
        (~F.col("subj").isin(*pronouns))
        & F.col("text").rlike(r"^(He|She|It|They)\b")
        & F.expr("NOT startswith(text, subj)")
    )
    assert resolved.count() > 0


# --- randomized cross-engine check -----------------------------------

# mentions, pronouns, predicates and filler drawn evenly, so M-P-M runs,
# pronoun subjects/objects and runs broken by a stray item all occur
_tokens = st.one_of(
    st.sampled_from(sorted(GAZETTEER)),
    st.sampled_from(sorted(PRONOUN_TYPES)),
    st.sampled_from(PREDICATE_VERBS),
    st.sampled_from(FILLER_WORDS + ["42", "1999", ","]),
)
_sentences = st.builds(
    lambda toks, end: " ".join(toks) + " " + end,
    st.lists(_tokens, min_size=1, max_size=8),
    st.sampled_from([".", "!", "?"]),
)
# a paragraph holds 1-3 sentences and a page 1-4 paragraphs; pages
# whose extracted text is empty come in three spellings
_pages = st.one_of(
    st.lists(
        st.lists(_sentences, min_size=1, max_size=3).map(" ".join),
        min_size=1,
        max_size=4,
    ).map(lambda paras: "".join(f"<p>{p}</p>" for p in paras)),
    st.sampled_from(["", "   ", "<script>Obama visited Paris .</script>"]),
).map(lambda body: f"<html><body>{body}</body></html>")


def _drawn_examples(n: int) -> list[list[str]]:
    """n hypothesis examples of 1-4 pages each, drawn up front so that
    one Spark job runs them all (a Spark round trip per example costs
    about a second)."""
    drawn = []

    @given(docs=st.lists(_pages, min_size=1, max_size=4))
    @settings(max_examples=n, deadline=None, database=None)
    def draw(docs):
        drawn.append(docs)

    draw()
    return drawn


def test_fused_stage_matches_sql_assembly_on_random_documents(spark, tmp_path):
    """Random mention/pronoun/predicate interleavings through the fused
    Spark stage, against the DuckDB assembly over each example's own
    item table: equal (url, sent_idx, subj, pred, obj, subj_type,
    obj_type) multisets per example."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from ontonotes_5_parsing_spark.operators.kg import ORACLE_ROOT, _pron_types_df
    from ontonotes_5_parsing_spark.pipeline.stages import (
        extract_parse_stage,
        triples_from_parsed,
    )

    examples = _drawn_examples(200)
    assert len(examples) >= 200

    def url(ex, doc):
        return f"https://f{doc}.example/ex{ex}"

    pages = spark.createDataFrame(
        [
            (url(ex, doc), html.encode(), "en")
            for ex, docs in enumerate(examples)
            for doc, html in enumerate(docs)
        ],
        "url string, html binary, lang string",
    )
    sentences = extract_parse_stage(pages).persist()
    spark_rows = {}
    for r in (
        triples_from_parsed(sentences)
        .select("url", "sent_idx", "subj", "pred", "obj", "subj_type", "obj_type")
        .collect()
    ):
        spark_rows.setdefault(r.url.rsplit("/ex", 1)[1], []).append(tuple(r))
    items = _triple_items_df(sentences).toArrow()
    sentences.unpersist()

    oracle = f"{ORACLE_ROOT}/{_ORACLE_SF}"
    assert f"{oracle}/items.parquet/" in SQL_KG_TRIPLES
    assert f"{oracle}/pron_types.parquet/" in SQL_KG_TRIPLES
    pron = tmp_path / "pron_types.parquet"
    pron.mkdir()
    pq.write_table(_pron_types_df(spark).toArrow(), pron / "part-0.parquet")
    duck = duckdb.connect()
    n_triples, failures = 0, []
    for ex, docs in enumerate(examples):
        base = tmp_path / f"ex{ex}" / "items.parquet"
        base.mkdir(parents=True)
        ex_items = items.filter(pc.ends_with(items["url"], f"/ex{ex}"))
        pq.write_table(ex_items, base / "part-0.parquet")
        sql = SQL_KG_TRIPLES.replace(f"{oracle}/items.parquet", str(base)).replace(
            f"{oracle}/pron_types.parquet", str(pron)
        )
        got = sorted(spark_rows.get(str(ex), []))
        want = sorted(duck.execute(sql).fetchall())
        n_triples += len(got)
        if got != want:
            failures.append((docs, got, want))
    assert not failures, failures[0]
    # the examples reach the triple scan, not only empty pages
    assert n_triples > 100
