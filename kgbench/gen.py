"""Seeded page generators for the benchmark workloads.

The generators live here, not in the package, so the inputs stay fixed
while the program changes. The program only ever sees the parquet
table `write_pages` produces, with the `web_pages` columns
(url, warc_ts, html, text, lang).

- `lexicon_page`: the shape of `corpus.generate_page`. Fact sentences
  over a closed set of 44 gazetteer surfaces (subject, predicate verb,
  object), pronoun follow-ups that only coreference resolves, and
  filler sentences, in english / arabic / chinese.
- `numeric_sentences`: open-class numbers. The NER's number rule tags
  every 5-digit number CARDINAL, so each distinct number drawn becomes
  a vocabulary surface that entity linking has to block and score.
"""

from __future__ import annotations

import html
import os
import random
from datetime import datetime, timedelta, timezone

PERSON = [
    "Barack Obama", "Obama", "President Obama", "Marie Curie", "Curie",
    "Albert Einstein", "Einstein", "Ada Lovelace", "Lovelace",
    "Alan Turing", "Turing", "Grace Hopper", "Hopper", "Isaac Newton",
    "Newton",
]
ORG = [
    "United Nations", "Acme Corp", "Acme", "Globex", "Initech",
    "Stark Industries", "Wayne Enterprises", "Umbrella Corp",
]
GPE = [
    "France", "Paris", "Germany", "Berlin", "Japan", "Tokyo", "Brazil",
    "Egypt", "Cairo", "United States", "America",
]
HEAD = ["Obama", "France", "United Nations", "Einstein", "Paris"]
CJK = ["孔子", "李白", "北京", "上海", "清华大学"]
ARABIC = ["ابن سينا", "الخوارزمي", "القاهرة", "مصر", "جامعة الأزهر"]
PREDICATES = [
    "founded", "visited", "acquired", "met", "leads", "owns", "joined",
    "praised", "criticized", "advised",
]
FILLER = [
    "the", "a", "quick", "report", "shows", "that", "market", "values",
    "rose", "slightly", "while", "analysts", "expected", "steady",
    "growth", "during", "this", "quarter", "despite", "ongoing",
    "concerns", "about", "supply", "and", "demand", "levels",
]
CJK_FILLER = ["我们", "今天", "学习", "数据", "系统", "非常", "重要"]
ARABIC_FILLER = ["هذا", "تقرير", "جديد", "حول", "البيانات", "الكبيرة"]

SUBJECTS = PERSON + ORG
OBJECTS = GPE + ORG + PERSON
LANGS = ["english", "arabic", "chinese"]
_BASE_TS = datetime(2025, 1, 1, tzinfo=timezone.utc)


def _other(rng: random.Random, pool: list[str], avoid: str) -> str:
    pick = rng.choice(pool)
    while pick == avoid:
        pick = rng.choice(pool)
    return pick


def _fact(rng: random.Random, lang: str) -> tuple[str, str]:
    pred = rng.choice(PREDICATES)
    if lang == "chinese":
        subj, obj = rng.choice(CJK), rng.choice(CJK)
    elif lang == "arabic":
        subj, obj = rng.choice(ARABIC), rng.choice(ARABIC)
    else:
        subj = rng.choice(HEAD) if rng.random() < 0.2 else rng.choice(SUBJECTS)
        obj = _other(rng, OBJECTS, subj)
    return f"{subj} {pred} {obj}.", subj


def _filler(rng: random.Random, lang: str) -> str:
    if lang == "chinese":
        return "".join(rng.choice(CJK_FILLER) for _ in range(rng.randint(4, 8))) + "。"
    if lang == "arabic":
        return " ".join(rng.choice(ARABIC_FILLER) for _ in range(rng.randint(4, 9))) + "."
    words = [rng.choice(FILLER) for _ in range(rng.randint(5, 14))]
    return " ".join(words).capitalize() + "."


def lexicon_sentences(rng: random.Random, lang: str) -> list[str]:
    """3-10 sentences, 1-4 of them facts; ~30% of english facts get a
    pronoun follow-up whose subject only coreference can resolve."""
    n = rng.randint(3, 10)
    facts = set(rng.sample(range(n), rng.randint(1, min(4, n))))
    out = []
    for i in range(n):
        if i not in facts:
            out.append(_filler(rng, lang))
            continue
        sent, subj = _fact(rng, lang)
        out.append(sent)
        if lang == "english" and rng.random() < 0.3:
            pronoun = "He" if subj in PERSON else "It"
            obj = _other(rng, OBJECTS, subj)
            out.append(f"{pronoun} {rng.choice(PREDICATES)} {obj}.")
    return out


def numeric_sentences(
    rng: random.Random, n_sentences: int, per_sentence: int, lo: int, span: int
) -> list[str]:
    """Sentences carrying `per_sentence` numbers drawn uniformly from
    [lo, lo + span); no predicate verb, so they add mentions and
    vocabulary but no triples."""
    out = []
    for _ in range(n_sentences):
        nums = [str(lo + rng.randrange(span)) for _ in range(per_sentence)]
        out.append("Analysts counted " + " and ".join(nums) + " units.")
    return out


def _page_html(sentences: list[str], doc_id: int, url: str) -> bytes:
    paragraphs = "\n".join(f"    <p>{html.escape(s)}</p>" for s in sentences)
    return (
        "<html><head>\n"
        f"  <title>Document {doc_id}</title>\n"
        f"  <script>var tracker = {{'id': {doc_id}}};</script>\n"
        "  <style>p { margin: 0; }</style>\n"
        "</head><body>\n"
        "  <nav><ul><li><a href='/'>Home</a></li><li>About</li></ul></nav>\n"
        "  <article>\n"
        f"{paragraphs}\n"
        "  </article>\n"
        f"  <footer>&copy; 2025 {html.escape(url)}</footer>\n"
        "</body></html>"
    ).encode("utf-8")


def generate(spec: dict, seed: int) -> list[dict]:
    """All pages of one workload spec; the same (spec, seed) always
    gives the same pages."""
    rng = random.Random(f"kgbench:{spec['name']}:{seed}")
    pages = []
    for doc_id in range(spec["pages"]):
        lang = rng.choices(LANGS, weights=[0.7, 0.15, 0.15])[0]
        url = f"https://src{rng.randint(0, 19)}.example.com/{lang}/doc{doc_id}"
        sentences = lexicon_sentences(rng, lang)
        if spec.get("numeric_sentences"):
            sentences += numeric_sentences(
                rng,
                spec["numeric_sentences"],
                spec["numbers_per_sentence"],
                spec["number_lo"],
                spec["number_span"],
            )
        pages.append(
            {
                "url": url,
                "warc_ts": _BASE_TS + timedelta(minutes=doc_id),
                "html": _page_html(sentences, doc_id, url),
                "text": "\n".join(sentences),
                "lang": lang,
            }
        )
    return pages


def write_pages(pages: list[dict], path: str, rows_per_file: int = 1024) -> None:
    """Write the pages as a parquet directory with the `web_pages`
    schema (several files, as a crawl segment would be)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            pa.field("url", pa.string(), nullable=False),
            pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
            pa.field("html", pa.binary()),
            pa.field("text", pa.string()),
            pa.field("lang", pa.string()),
        ]
    )
    os.makedirs(path, exist_ok=True)
    for part, lo in enumerate(range(0, len(pages), rows_per_file)):
        chunk = pages[lo : lo + rows_per_file]
        table = pa.Table.from_pylist(chunk, schema=schema)
        pq.write_table(table, os.path.join(path, f"part-{part:05d}.parquet"))
