"""The fused extraction stage's Arrow-built output, row for row, against
the kgref chain run page by page (extract_text → split_sentences →
annotate_sentence → the per-document coref triple scan): all eight
`LEAN_PARSED_SCHEMA` columns, in process on `RecordBatch`es and through
Spark's `mapInArrow`."""

from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pytest

from ontonotes_5_parsing_spark import corpus
from ontonotes_5_parsing_spark.kgref import annotate_sentence, extract_text, split_sentences
from ontonotes_5_parsing_spark.kgref.coref import CorefState, extract_triples_with_coref
from ontonotes_5_parsing_spark.kgref.ner import bio_to_spans
from ontonotes_5_parsing_spark.pipeline.schemas import LEAN_PARSED_SCHEMA
from ontonotes_5_parsing_spark.pipeline.stages import (
    _PARSED_ARROW,
    _extract_parse_batches_impl,
    extract_parse_stage,
)

EMPTY_HTML = [b"<html><body></body></html>", b"   ", b""]
TS0 = datetime(2025, 3, 1, 12, 30)


def _pages() -> list[dict]:
    """Generated English, Chinese and Arabic pages, a page of sentences
    without mentions or triples, and empty-text pages in between."""
    by_lang: dict[str, list[dict]] = {}
    for doc_id in range(200):
        page = corpus.generate_page(doc_id, seed=11)
        by_lang.setdefault(page["lang"], []).append(page)
    picked = [p for lang in corpus.LANGS for p in by_lang[lang][:4]]
    plain = "<html><body><p>The weather was mild . Obama smiled .</p><p>ok</p></body></html>"
    extra = [
        {"url": "https://x.example/plain", "html": plain.encode(), "lang": "english"},
        *({"url": f"https://x.example/empty{i}", "html": h, "lang": "english"}
          for i, h in enumerate(EMPTY_HTML)),
    ]
    pages = picked[:6] + extra + picked[6:]
    for i, page in enumerate(pages):
        page["warc_ts"] = TS0 + timedelta(minutes=i)
    return pages


def kgref_rows(pages: list[dict], with_ts: bool = True) -> list[dict]:
    rows = []
    for page in pages:
        text = extract_text(page["html"])
        if not text:
            continue
        state = CorefState()
        for sent_idx, sent in enumerate(split_sentences(text)):
            ann = annotate_sentence(sent)
            if not ann["tokens"]:
                continue
            spans = bio_to_spans(ann["bio"], ann["bounds"])
            triples = extract_triples_with_coref(
                sent, ann["tokens"], ann["bounds"], ann["bio"], state
            )
            rows.append({
                "url": page["url"],
                "warc_ts": page["warc_ts"] if with_ts else None,
                "sent_idx": sent_idx,
                "text": sent,
                "lang": page["lang"],
                "n_tokens": len(ann["tokens"]),
                "mention_spans": [{"start": s, "end": e, "ent_type": t} for s, e, t in spans],
                "triple_items": [
                    {
                        "subj": t["subj"], "pred": t["pred"], "obj": t["obj"],
                        "subj_type": t["subj_type"], "obj_type": t["obj_type"],
                        "subj_span": {"start": t["subj_span"][0], "end": t["subj_span"][1]},
                        "obj_span": {"start": t["obj_span"][0], "end": t["obj_span"][1]},
                    }
                    for t in triples
                ],
            })
    return rows


def record_batch(pages: list[dict], with_ts: bool, tz: str = "UTC") -> pa.RecordBatch:
    columns = {
        "url": pa.array([p["url"] for p in pages], pa.string()),
        "lang": pa.array([p["lang"] for p in pages], pa.string()),
        "html": pa.array([p["html"] for p in pages], pa.binary()),
    }
    if with_ts:
        # Spark hands timestamps over in the session's time zone
        columns["warc_ts"] = pa.array(
            [p["warc_ts"].replace(tzinfo=timezone.utc) for p in pages],
            pa.timestamp("us", tz="UTC"),
        ).cast(pa.timestamp("us", tz=tz))
    return pa.RecordBatch.from_pydict(columns)


def aware(rows: list[dict]) -> list[dict]:
    """The rows with warc_ts as the UTC instant the output column holds."""
    return [
        {**r, "warc_ts": r["warc_ts"] and r["warc_ts"].replace(tzinfo=timezone.utc)}
        for r in rows
    ]


@pytest.mark.parametrize("with_ts", [True, False], ids=["warc_ts", "no_warc_ts"])
def test_generator_matches_the_kgref_chain(with_ts):
    pages = _pages()
    batches = [record_batch(pages[:8], with_ts, "Asia/Tokyo"),
               record_batch(pages[8:], with_ts, "Asia/Tokyo")]
    out = list(_extract_parse_batches_impl(iter(batches)))
    assert len(out) == 2
    table = pa.Table.from_batches(out)
    assert table.schema == _PARSED_ARROW
    assert table.column_names == LEAN_PARSED_SCHEMA.fieldNames()
    want = kgref_rows(pages, with_ts)
    assert table.to_pylist() == aware(want)
    # the corners the pages are there for
    assert {r["lang"] for r in want} == set(corpus.LANGS)
    assert any(not r["mention_spans"] for r in want)
    assert any(r["mention_spans"] and not r["triple_items"] for r in want)
    assert any(r["triple_items"] for r in want)
    # empty lists are empty, not null
    for name in ("mention_spans", "triple_items"):
        assert table[name].null_count == 0
    assert table["warc_ts"].null_count == (0 if with_ts else len(want))


def test_batch_of_only_empty_text_pages_yields_nothing():
    pages = [{"url": f"https://e{i}.example/x", "html": h, "lang": "english",
              "warc_ts": TS0} for i, h in enumerate(EMPTY_HTML)]
    assert list(_extract_parse_batches_impl(iter([record_batch(pages, True)]))) == []


@pytest.mark.parametrize("with_ts", [True, False], ids=["warc_ts", "no_warc_ts"])
def test_spark_stage_matches_the_kgref_chain(spark, with_ts):
    """Through the JVM: Spark reads the batches with the declared
    schema, so a type the generator got wrong would fail or change a
    value here."""
    pages = _pages()
    columns = ["url", "lang", "html"] + (["warc_ts"] if with_ts else [])
    df = spark.createDataFrame(
        [tuple(p[c] for c in columns) for p in pages],
        "url string, lang string, html binary" + (", warc_ts timestamp" if with_ts else ""),
    ).repartition(3)
    got = [r.asDict(recursive=True) for r in extract_parse_stage(df).collect()]
    key = lambda r: (r["url"], r["sent_idx"])  # noqa: E731
    assert sorted(got, key=key) == sorted(kgref_rows(pages, with_ts), key=key)
