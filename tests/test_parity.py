"""Distributed ↔ single-process conformance (the correctness gate).

The fused Spark extraction stages (`run.build_extraction`) against the
kgref kernels run page by page — extract_text → split_sentences →
annotate_sentence → the per-document coref triple scan:

1. byte-identical extracted text (BASELINE.json:15-16), a pure kgref
   invariant of the generated pages;
2. sentence-set and mention-set equality Spark vs kgref;
3. (subj, pred, obj) triple-set P/R ≥ 0.95 vs kgref (BASELINE.json:2) —
   in fact asserted exact, since the Spark stage runs the same kernels.
"""

import pytest

from ontonotes_5_parsing_spark import corpus
from ontonotes_5_parsing_spark.kgref import annotate_sentence, extract_text, split_sentences
from ontonotes_5_parsing_spark.kgref.coref import CorefState, extract_triples_with_coref
from ontonotes_5_parsing_spark.kgref.ner import bio_to_spans
from ontonotes_5_parsing_spark.pipeline.run import build_extraction

N_PAGES = 120


@pytest.fixture(scope="module")
def pages(spark):
    return corpus.web_pages_df(spark, N_PAGES).cache()


@pytest.fixture(scope="module")
def stages(spark, pages):
    return build_extraction(pages)


@pytest.fixture(scope="module")
def oracle(pages):
    """kgref, page by page: sentences, mentions and triples."""
    out = {"sentences": set(), "mentions": set(), "triples": set()}
    for r in pages.select("url", "html").collect():
        state = CorefState()
        for i, sent in enumerate(split_sentences(extract_text(r.html))):
            ann = annotate_sentence(sent)
            if not ann["tokens"]:
                continue
            out["sentences"].add((r.url, i, sent))
            spans = bio_to_spans(ann["bio"], ann["bounds"])
            for start, end, etype in spans:
                out["mentions"].add((r.url, i, start, end, sent[start:end], etype))
            for t in extract_triples_with_coref(
                sent, ann["tokens"], ann["bounds"], ann["bio"], state
            ):
                out["triples"].add((r.url, i, t["subj"], t["pred"], t["obj"]))
    return out


def test_extract_byte_identity():
    for doc_id in range(N_PAGES):
        page = corpus.generate_page(doc_id)
        assert extract_text(page["html"]) == page["text"], page["url"]


def test_sentence_parity(stages, oracle):
    spark_sents = {
        (r.url, r.sent_idx, r.text)
        for r in stages["sentences"].select("url", "sent_idx", "text").collect()
    }
    assert spark_sents == oracle["sentences"]
    assert len({url for url, _, _ in spark_sents}) == N_PAGES


def test_mentions_match_oracle(stages, oracle):
    spark_mentions = {
        (r.url, r.sent_idx, r.start, r.end, r.surface, r.ent_type)
        for r in stages["mentions"].collect()
    }
    assert spark_mentions == oracle["mentions"]
    assert len(spark_mentions) > 0


def test_triples_pr_vs_oracle(stages, oracle):
    spark_triples = {
        (r.url, r.sent_idx, r.subj, r.pred, r.obj) for r in stages["triples"].collect()
    }
    oracle_triples = oracle["triples"]
    assert len(oracle_triples) > 0
    tp = len(spark_triples & oracle_triples)
    precision = tp / max(len(spark_triples), 1)
    recall = tp / max(len(oracle_triples), 1)
    assert precision >= 0.95, (precision, spark_triples - oracle_triples)
    assert recall >= 0.95, (recall, oracle_triples - spark_triples)
    # same-kernel construction ⇒ exact agreement expected
    assert spark_triples == oracle_triples


def test_coref_triples_match_oracle(stages, pages):
    """Coref-merged triples must equal the kgref per-document sequential
    oracle (CorefState over sentences in order), built here from the
    generator's text and the any-text tokenizer."""
    from ontonotes_5_parsing_spark.kgref import tokenize_any_text
    from ontonotes_5_parsing_spark.kgref.ner import tag_bio
    from ontonotes_5_parsing_spark.kgref.spans import get_token_bounds

    spark_triples = {
        (r.url, r.sent_idx, r.subj, r.pred, r.obj) for r in stages["triples"].collect()
    }
    oracle = set()
    n_pronoun_subjects = 0
    for r in pages.select("url").collect():
        doc_id = int(r.url.rsplit("doc", 1)[1])
        page = corpus.generate_page(doc_id)
        state = CorefState()
        for sent_idx, sent in enumerate(split_sentences(page["text"])):
            tokens = tokenize_any_text(sent)
            bounds = get_token_bounds(sent, tokens)
            bio = tag_bio(tokens)
            for t in extract_triples_with_coref(sent, tokens, bounds, bio, state):
                oracle.add((r.url, sent_idx, t["subj"], t["pred"], t["obj"]))
                if sent.startswith(("He ", "She ", "It ", "They ")):
                    n_pronoun_subjects += 1
    assert spark_triples == oracle
    assert n_pronoun_subjects > 0  # the corpus plants coref chains


def test_batch_of_empty_text_pages(spark):
    """An Arrow batch whose pages all extract to empty text yields no
    sentences."""
    from ontonotes_5_parsing_spark.pipeline.stages import extract_parse_stage

    pages = spark.createDataFrame(
        [(f"https://e{i}.example/x", html, "en")
         for i, html in enumerate([b"<html><body></body></html>", b"   ", b""])],
        "url string, html binary, lang string",
    ).coalesce(1)
    assert extract_parse_stage(pages).count() == 0
