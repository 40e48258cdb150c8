"""Per-name port of the reference's test suite
(/root/reference/tests/test_utils.py, 72 tests) against the kgref
kernels — every reference test name appears here verbatim (prefixed
``test_ref_``) or is noted as covered elsewhere:

- test_parse_file            → tests/test_onf.py::
    test_golden_parse_onf_matches_reference_output (same fixture pair
    sample_of_data.onf / sample_of_res.json, same strip_bounds-based
    comparison).
- test_get_token_bounds_fuzzy_pos02 → also in tests/test_kgref.py
    (misspelling vector); re-ported here for the by-name mapping.

API adaptations (documented departures, not behavior differences):
- the reference's get_token_bounds / get_token_bounds_fuzzy take
  (token, syntax, bio) triples; kgref takes the token strings — the
  vectors pass ``[t[0] for t in tokenized]``.
- is_item_in_sequence(regex, seq) is specialized as is_trace_path
  (kgref/tree.py:91) with the identical compiled pattern
  (utils.py:505).
- split_filename_by_parts / check_onf_name power the reference's
  routing loop (utils.py:939-983); the engine's equivalent is the
  path-suffix explode + priority join in sources/onf.py:160
  (route_by_id_lists) — the same vectors are asserted through it.
- get_language_by_filename returns "unknown" instead of raising on a
  path without an 'annotations' segment (a mapInPandas kernel must not
  throw per-row; the caller surfaces unknowns relationally).
"""

import re

import pytest

from ontonotes_5_parsing_spark.kgref.align import (
    find_subword_bounds,
    get_token_bounds_fuzzy,
)
from ontonotes_5_parsing_spark.kgref.distance import label_distance
from ontonotes_5_parsing_spark.kgref.onf import (
    get_language_by_filename,
    get_plain_text,
    parse_leaves_bio,
)
from ontonotes_5_parsing_spark.kgref.spans import (
    check_bounds,
    get_token_bounds,
    insert_new_bounds,
    merge_bounds,
    strip_bounds,
    unite_overlapped_bounds,
)
from ontonotes_5_parsing_spark.kgref.tokenize import tokenize_any_text
from ontonotes_5_parsing_spark.kgref.tree import is_trace_path, parse_tree


# --- get_plain_text (test_utils.py:62-94) ----------------------------------
def test_ref_get_plain_text_pos01():
    assert get_plain_text(["123 fkj 4fkl 2"], 0, 1) == "123 fkj 4fkl 2"


def test_ref_get_plain_text_pos02():
    src = ["123 fkj 4fkl 2", " k/fs klf; 89p3k ka';", "pslok' kyhj7-0", "dfd "]
    assert get_plain_text(src, 0, 4) == (
        "123 fkj 4fkl 2 k/fs klf; 89p3k ka'; pslok' kyhj7-0 dfd"
    )


def test_ref_get_plain_text_pos03():
    src = ["123 fkj 4fkl 2", " k/fs klf; 89p3k ka';", "pslok' kyhj7-0", "dfd "]
    assert get_plain_text(src, 1, 3) == "k/fs klf; 89p3k ka'; pslok' kyhj7-0"


def test_ref_get_plain_text_pos04():
    src = ["و ص ف , رُويْتِرز , أب"]
    assert get_plain_text(src, 0, 1) == "و ص ف , رُويْتِرز , أب"


# --- strip_bounds (test_utils.py:96-136) -----------------------------------
@pytest.mark.parametrize(
    "text,src,expected",
    [
        ("123 fkj 4fkl", [(0, 4), (4, 8), (8, 12)],
         [(0, 3), (4, 7), (8, 12)]),                            # pos01
        ("123 fkj 4fkl", [(0, 5), (5, 8), (8, 12)],
         [(0, 5), (5, 7), (8, 12)]),                            # pos02
        ("123 fkj 4fkl", [(0, 3), (4, 7), (8, 12)],
         [(0, 3), (4, 7), (8, 12)]),                            # pos03
        ("123, fkj-4fkl ", [(0, 3), (3, 5), (5, 8), (8, 9), (9, 14)],
         [(0, 3), (3, 4), (5, 8), (8, 9), (9, 13)]),            # pos04
        ("123,fkj-4fkl", [(0, 3), (3, 4), (4, 7), (7, 8), (8, 12)],
         [(0, 3), (3, 4), (4, 7), (7, 8), (8, 12)]),            # pos05
        ("123 fkj 4fkl", [(0, 3), (3, 7), (8, 12)],
         [(0, 3), (4, 7), (8, 12)]),                            # pos06
    ],
)
def test_ref_strip_bounds_pos01_to_pos06(text, src, expected):
    assert strip_bounds(text, src) == expected


# --- parse_tree (test_utils.py:138-197) ------------------------------------
def test_ref_parse_tree_pos01():
    assert parse_tree("") == []


def test_ref_parse_tree_pos02():
    assert parse_tree("(DT the)") == [("the", ["DT"])]


def test_ref_parse_tree_pos03():
    tree = "(PP (IN by) (NP-LGS (DT the) (JJ Israeli) (NNP Army)))"
    assert parse_tree(tree) == [
        ("by", ["PP", "IN"]),
        ("the", ["PP", "NP-LGS", "DT"]),
        ("Israeli", ["PP", "NP-LGS", "JJ"]),
        ("Army", ["PP", "NP-LGS", "NNP"]),
    ]


def test_ref_parse_tree_pos04():
    tree = (
        "(TOP (S (PP (IN With) (NP (PRP$ their) (JJ unique) (NN charm))) "
        "(, ,) (NP-SBJ (DT these) (ADJP (RB well) (HYPH -) (VBN known)) "
        "(NN cartoon) (NNS images)) (ADVP-TMP (RB once) (RB again)) "
        "(VP (VBD caused) (S (NP-SBJ (NNP Hong) (NNP Kong)) (VP (TO to) "
        "(VP (VB be) (NP-PRD (NP (DT a) (NN focus)) (PP (IN of) "
        "(NP (JJ worldwide) (NN attention)))))))) (. .)))"
    )
    got = parse_tree(tree)
    assert [t for t, _ in got] == [
        "With", "their", "unique", "charm", ",", "these", "well", "-",
        "known", "cartoon", "images", "once", "again", "caused", "Hong",
        "Kong", "to", "be", "a", "focus", "of", "worldwide", "attention", ".",
    ]
    assert got[0] == ("With", ["TOP", "S", "PP", "IN"])
    assert got[18] == (
        "a", ["TOP", "S", "VP", "S", "VP", "VP", "NP-PRD", "NP", "DT"]
    )
    assert got[22] == (
        "attention",
        ["TOP", "S", "VP", "S", "VP", "VP", "NP-PRD", "PP", "NP", "NN"],
    )
    assert got[23] == (".", ["TOP", "S", "."])


# --- parse_named_entities_labeling (test_utils.py:199-534) -----------------
_LEAVES_TOKENS = [
    "Protesting", "Palestinians", "are", "being", "met", "*-1", "with",
    "heavier", "firepower", "by", "the", "Israeli", "Army", "as", "violence",
    "in", "the", "West", "Bank", "and", "Gaza", "Strip", "escalates", ",",
    "and", "as", "the", "tension", "grows", ",", "so", "does", "*T*-2",
    "the", "death", "toll", ".",
]
_LEAVES_BIO = [
    "O", "B-NORP", "O", "O", "O", "O", "O", "O", "O", "O", "B-ORG", "I-ORG",
    "I-ORG", "O", "O", "O", "O", "B-GPE", "I-GPE", "O", "B-GPE", "I-GPE",
    "O", "O", "O", "O", "O", "O", "O", "O", "O", "O", "O", "O", "O", "O",
    "O",
]


def _leaves_lines(indented: bool) -> list:
    pad = "    " if indented else ""
    sub = "           " if indented else ""
    subsub = "            " if indented else ""

    def tok(i, s):
        return f"{pad}{i}{'   ' if indented else ' '}{s}"

    lines = [
        tok(0, "Protesting"),
        f"{sub}prop:  protest.01" if indented else "prop: protest.01",
        f"{subsub}v          * -> 0:0,  Protesting" if indented
        else "v * -> 0:0, Protesting",
        f"{subsub}ARG0       * -> 1:0,  Palestinians" if indented
        else "ARG0 * -> 1:0, Palestinians",
        tok(1, "Palestinians"),
        f"{sub}name:  NORP               1-1    Palestinians" if indented
        else "name: NORP 1-1 Palestinians",
        tok(2, "are"),
        tok(3, "being"),
        tok(4, "met"),
        tok(5, "*-1"),
        tok(6, "with"),
        tok(7, "heavier"),
        tok(8, "firepower"),
        tok(9, "by"),
        tok(10, "the"),
        f"{sub}coref: IDENT        3     10-12  the Israeli Army" if indented
        else "coref: IDENT 3 10-12 the Israeli Army",
        f"{sub}name:  ORG                10-12  the Israeli Army" if indented
        else "name: ORG 10-12 the Israeli Army",
        tok(11, "Israeli"),
        tok(12, "Army"),
        tok(13, "as"),
        tok(14, "violence"),
        tok(15, "in"),
        tok(16, "the"),
        tok(17, "West"),
        f"{sub}name:  GPE                17-18  West Bank" if indented
        else "name: GPE 17-18 West Bank",
        tok(18, "Bank"),
        tok(19, "and"),
        tok(20, "Gaza"),
        f"{sub}name:  GPE                20-21  Gaza Strip" if indented
        else "name: GPE 20-21 Gaza Strip",
        tok(21, "Strip"),
        tok(22, "escalates"),
        tok(23, ","),
        tok(24, "and"),
        tok(25, "as"),
        tok(26, "the"),
        tok(27, "tension"),
        tok(28, "grows"),
        tok(29, ","),
        tok(30, "so"),
        tok(31, "does"),
        tok(32, "*T*-2"),
        tok(33, "the"),
        f"{sub}coref: IDENT        7     33-35  the death toll" if indented
        else "coref: IDENT 7 33-35 the death toll",
        tok(34, "death"),
        tok(35, "toll"),
        tok(36, "."),
    ]
    return lines


def test_ref_parse_named_entities_labeling_pos01():
    """Fully-indented Leaves block (the on-disk .onf shape)."""
    bio = parse_leaves_bio(_leaves_lines(indented=True), _LEAVES_TOKENS)
    assert bio == _LEAVES_BIO


def test_ref_parse_named_entities_labeling_pos02():
    lines = ["    0   Hello", "    1   ,", "    2   world", "    3   !"]
    tokens = ["Hello", ",", "world", "!"]
    assert parse_leaves_bio(lines, tokens) == ["O", "O", "O", "O"]


def test_ref_parse_named_entities_labeling_pos03():
    """Whitespace-squeezed variant — labeling must be format-robust."""
    bio = parse_leaves_bio(_leaves_lines(indented=False), _LEAVES_TOKENS)
    assert bio == _LEAVES_BIO


# --- megre_bounds [sic] (test_utils.py:536-549) ----------------------------
def test_ref_megre_bounds_pos01():
    assert merge_bounds([(68, 121), (85, 121), (88, 121)]) == [(68, 121)]


def test_ref_megre_bounds_pos02():
    src = [(0, 23), (68, 121), (85, 121), (88, 121), (121, 122)]
    assert merge_bounds(src) == [(0, 23), (68, 121), (121, 122)]


def test_ref_megre_bounds_pos03():
    src = [(18, 23), (42, 50), (93, 99), (112, 121)]
    assert merge_bounds(src) == src


# --- split_filename_by_parts / check_onf_name (test_utils.py:621-674) ------
_IDENTIFIERS = {
    "test": sorted([
        "data/english/annotations/bc/cctv/00/cctv_0005",
        "data/english/annotations/bc/cnn/00/cnn_0008",
        "data/english/annotations/bc/msnbc/00/msnbc_0007",
    ]),
    "development": sorted([
        "data/english/annotations/wb/sel/63/sel_6380",
        "data/english/annotations/pt/nt/43/nt_4320",
    ]),
    "train": sorted([
        "data/english/annotations/bc/p2.5_a2e/00/p2.5_a2e_0006",
        "data/english/annotations/bc/cnn/00/cnn_0007",
        "data/english/annotations/bn/cnn/01/cnn_0144",
    ]),
}


def _route_one(spark, source_name):
    """Engine equivalent of check_onf_name: strip .onf (_doc_key),
    explode path suffixes, priority-join the id lists
    (sources/onf.py:63,160)."""
    from ontonotes_5_parsing_spark.sources.onf import _doc_key, route_by_id_lists

    ann = spark.createDataFrame(
        [(_doc_key(source_name),)], "doc_key string"
    )
    ids = spark.createDataFrame(
        [
            (doc, split, {"train": 0, "development": 1, "test": 2}[split])
            for split, docs in _IDENTIFIERS.items()
            for doc in docs
        ],
        "doc_id string, split string, priority int",
    )
    rows = route_by_id_lists(ann, ids).collect()
    assert len(rows) == 1
    return rows[0].split


def test_ref_split_filename_by_parts_pos01_to_pos04(spark):
    """The reference splits a path into its parts to match suffixes;
    the engine's transform() expr enumerates exactly those suffix
    joins — asserted on the same shapes ('abc', 'abc.txt',
    'hahaha/abc.txt', '123/hahaha/abc.txt')."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("abc",), ("abc.txt",), ("hahaha/abc.txt",), ("123/hahaha/abc.txt",)],
        "doc_key string",
    )
    suffixes = F.expr(
        """
        transform(
          sequence(1, size(split(doc_key, '/'))),
          i -> array_join(slice(split(doc_key, '/'), i,
                                size(split(doc_key, '/')) - i + 1), '/'))
        """
    )
    got = {r.doc_key: r.sfx for r in df.select("doc_key", suffixes.alias("sfx")).collect()}
    assert got["abc"] == ["abc"]
    assert got["abc.txt"] == ["abc.txt"]
    assert got["hahaha/abc.txt"] == ["hahaha/abc.txt", "abc.txt"]
    assert got["123/hahaha/abc.txt"] == [
        "123/hahaha/abc.txt", "hahaha/abc.txt", "abc.txt"
    ]


def test_ref_check_onf_name_pos01(spark):
    name = ("ontonotes-release-5.0/data/files/data/english/annotations/"
            "bn/cnn/01/cnn_0144.onf")
    assert _route_one(spark, name) == "train"


def test_ref_check_onf_name_pos02(spark):
    name = ("ontonotes-release-5.0/data/files/data/english/annotations/"
            "pt/nt/43/nt_4320.onf")
    assert _route_one(spark, name) == "development"


def test_ref_check_onf_name_pos03(spark):
    name = ("ontonotes-release-5.0/data/files/data/english/annotations/"
            "bc/msnbc/00/msnbc_0007.onf")
    assert _route_one(spark, name) == "test"


def test_ref_check_onf_name_neg01(spark):
    """The reference raises; the engine surfaces NULL split for the
    caller to count (route_by_id_lists docstring) — same detection."""
    name = ("ontonotes-release-5.0/data/files/data/arabic/annotations/"
            "nw/ann/00/ann_0001.onf")
    assert _route_one(spark, name) is None


# --- parse_splitting (test_utils.py:676-686) -------------------------------
def test_ref_parse_splitting(spark, tmp_path):
    """Deep-nested id-list dirs (identifiers/{1,2}/all/*.id) must load
    recursively and union per split (utils.py:886-936 recursion ↔
    recursiveFileLookup in load_split_ids). The tree is the reference
    fixture's layout, written from the same vectors: each split's ids
    are spread over both dirs, one id is listed in both (the union keeps
    it once) and the files end in a blank line (dropped)."""
    from ontonotes_5_parsing_spark.sources.onf import load_split_ids

    root = tmp_path / "identifiers"
    for split, docs in _IDENTIFIERS.items():
        halves = {"1": docs[: len(docs) // 2 + 1], "2": docs[len(docs) // 2:]}
        for part, chunk in halves.items():
            d = root / part / "all"
            d.mkdir(parents=True, exist_ok=True)
            (d / f"{split}.id").write_text("\n".join(chunk) + "\n\n")

    ids = load_split_ids(spark, str(root))
    got = {
        split: sorted(r.doc_id for r in rows)
        for split, rows in (
            (s, ids.filter(ids.split == s).collect())
            for s in ("train", "validation", "test")
        )
    }
    assert got["train"] == _IDENTIFIERS["train"]
    assert got["validation"] == _IDENTIFIERS["development"]
    assert got["test"] == _IDENTIFIERS["test"]


# --- get_token_bounds (test_utils.py:688-788) ------------------------------
_HK_TEXT = (
    "With their unique charm, these well-known cartoon images once again "
    "caused Hong Kong to be a focus of worldwide attention."
)
_HK_TOKENS = [
    "With", "their", "unique", "charm", ",", "these", "well", "-", "known",
    "cartoon", "images", "once", "again", "caused", "Hong", "Kong", "to",
    "be", "a", "focus", "of", "worldwide", "attention", ".",
]
_HK_BOUNDS = [
    (0, 4), (5, 10), (11, 17), (18, 23), (23, 24), (25, 30), (31, 35),
    (35, 36), (36, 41), (42, 49), (50, 56), (57, 61), (62, 67), (68, 74),
    (75, 79), (80, 84), (85, 87), (88, 90), (91, 92), (93, 98), (99, 101),
    (102, 111), (112, 121), (121, 122),
]


def test_ref_get_token_bounds_pos01():
    assert get_token_bounds(_HK_TEXT, _HK_TOKENS) == _HK_BOUNDS


def test_ref_get_token_bounds_neg01():
    text = _HK_TEXT.replace("unique", "unque")
    with pytest.raises(ValueError):
        get_token_bounds(text, _HK_TOKENS)


# --- get_token_bounds_fuzzy (test_utils.py:790-1178) -----------------------
def test_ref_get_token_bounds_fuzzy_pos01():
    assert get_token_bounds_fuzzy(_HK_TEXT, _HK_TOKENS) == _HK_BOUNDS


def test_ref_get_token_bounds_fuzzy_pos02():
    text = _HK_TEXT.replace("unique", "unque")
    tokens = list(_HK_TOKENS)
    tokens[22] = "atention"
    expected = [
        (0, 4), (5, 10), (11, 16), (17, 22), (22, 23), (24, 29), (30, 34),
        (34, 35), (35, 40), (41, 48), (49, 55), (56, 60), (61, 66), (67, 73),
        (74, 78), (79, 83), (84, 86), (87, 89), (90, 91), (92, 97), (98, 100),
        (101, 110), (111, 120), (120, 121),
    ]
    assert get_token_bounds_fuzzy(text, tokens) == expected


def _assert_fuzzy_invariants(source_text, tokens):
    """The reference's pos03-05 assertion loop (test_utils.py:1026-1044):
    monotone non-overlapping bounds, only whitespace between them, no
    leading/trailing whitespace inside a token, full coverage."""
    bounds = get_token_bounds_fuzzy(source_text, tokens)
    assert isinstance(bounds, list)
    assert len(bounds) == len(tokens)
    prev = 0
    for s, e in bounds:
        assert s < e
        assert s >= prev
        assert e <= len(source_text)
        if s > prev:
            assert source_text[prev:s].strip() == ""
        piece = source_text[s:e]
        assert piece and piece == piece.strip()
        prev = e
    assert source_text[prev:].strip() == ""


def test_ref_get_token_bounds_fuzzy_pos03():
    source_text = (
        "بعد ما تضاربت المعلومات الاسبوع الماضي عن عدد الجنود الاميركيين "
        "الذين س يشاركون في بعثة تدريبية ل مكافحة الارهاب في الفيليبين, "
        "في إطار جهود واشنطن ل مكافحة الارهاب في العالم, أفاد أمس مسؤولون "
        "عسكريون في مانيلا ان نحو 650 جندياً اميركياً س ينضمون تباعاً الى "
        "قوات فيليبينية ل تعزيز قدرات ها الدفاعية من أجل القضاء على جماعة "
        "\" أبو سياف \" التي تربط ها صلات ب تنظيم \" القاعدة \" الذي يتزعم "
        "ه اسامة بن لادن, م ما س يتيح ل هم الانتقال الى مناطق القتال في "
        "جنوب البلاد."
    )
    tokens = [
        "بَعْدَ-", "-ما", "تَضارَبَت", "المَعْلُوماتُ", "الأُسْبُوعَ",
        "الماضِيَ", "عَن", "عَدَدِ", "الجُنُودِ", "الأَمِيرْكِيِّينَ",
        "الَّذِينَ", "سَ-", "-يُشارِكُونَ", "فِي", "بِعْثَةٍ",
        "تَدْرِيبِيَّةٍ", "لِ-", "-مُكافَحَةِ", "الإِرْهابِ",
        "الفِيلِيبِّين", ",", "فِي", "إِطارِ", "جُهُودِ", "واشِنْطُن",
        "لِ-", "-مُكافَحَةِ", "الإِرْهابِ", "فِي", "العالَمِ", ",",
        "أَفادَ", "أَمْسِ", "مَسْؤُولُونَ", "عَسْكَرِيُّونَ", "فِي",
        "مانِيلا", "أَنَّ", "نَحْوَ", "650", "جُنْدِيّاً",
        "أَمِيرْكِيّاً", "سَ-", "-يَنْضَمُّونَ", "تِباعاً", "إِلَى",
        "قُوّاتٍ", "فِلِيبِّينِيَّةٍ", "لِ-", "-تَعْزِيزِ", "قُدْراتِ-",
        "-ها", "الدِفاعِيَّةِ", "مِن", "أَجْلِ", "القَضاءِ", "عَلَى",
        "جَماعَةِ", "\"", "أَبُو", "سَيّاف", "\"", "الَّتِي",
        "تَرْبِطُ-", "-ها", "صِلاتٌ", "بِ-", "-تَنْظِيمِ", "\"",
        "القاعِدَةِ", "\"", "الَّذِي", "يَتَزَعَّمُ-", "-هُ", "أُسامَة",
        "بِن", "لادِن", ",", "مِن-", "-ما", "سَ-", "-يُتِيحُ", "لَ-",
        "-هُم", "ال{ِنْتِقالَ", "إِلَى", "مَناطِقِ", "القِتالِ", "فِي",
        "جَنُوبِ", "البِلادِ", ".",
    ]
    _assert_fuzzy_invariants(source_text, tokens)


def test_ref_get_token_bounds_fuzzy_pos04():
    source_text = (
        "و في الاجمال, س يشارك 500 جندي اميركي في عمليات \" دعم و صيانة \", "
        "بينما س يسمح ل لاخرين, و هم اعضاء في القوات الخاصة, ب مشاركة "
        "الجنود الفيليبينيين أحياناً في مطاردة المتطرفين الاسلاميين في "
        "جزيرة باسيلان في جنوب البلاد."
    )
    tokens = [
        "وَ-", "-فِي", "الإِجْمالِ", ",", "سَ-", "-يُشارِكُ", "500",
        "جُنْدِيٍّ", "أَمِيرْكِيٍّ", "فِي", "عَمَلِيّاتِ", "\"", "دَعْمٍ",
        "وَ-", "-صِيانَةٍ", "\"", ",", "بَيْنَما", "سَ-", "-يُسْمَحُ",
        "لِ-", "-الآخِرِينَ", ",", "وَ-", "-هُم", "أَعْضاءٌ", "فِي",
        "القُوّاتِ", "الخاصَّةِ", ",", "بِ-", "-مُشارَكَةِ", "الجُنُودِ",
        "الفِلِيبِّينِيِّينَ", "أَحْياناً", "فِي", "مُطارَدَةِ",
        "المُتَطَرِّفِينَ", "الإِسْلامِيِّينَ", "فِي", "جَزِيرَةِ",
        "باسِيلان", "فِي", "جَنُوبِ", "البِلادِ", ".",
    ]
    _assert_fuzzy_invariants(source_text, tokens)


def test_ref_get_token_bounds_fuzzy_pos05():
    source_text = (
        "و أضاف : \" ان هما لجنتان فنيتان س تناقشان وقفاً ل لنار في جبال "
        "النوبة فقط...ان ها ليست محادثات سلام \"."
    )
    tokens = [
        "وَ-", "-أَضافَ", ":", "\"", "إِنَّ-", "-هُما", "لَجْنَتانِ",
        "فَنِّيَّتانِ", "سَ-", "-تُناقِشانِ", "وَقْفاً", "لِ-",
        "-النارِ", "فِي", "جِبالِ", "النوبة", "فَقَط", ".", ".", ".",
        "إِنَّ-", "-ها", "لَيْسَت", "مُحادَثاتُ", "سَلامٍ", "\"", ".",
    ]
    _assert_fuzzy_invariants(source_text, tokens)


# --- get_language_by_filename (test_utils.py:1180-1195) --------------------
def test_ref_get_language_by_filename_pos01():
    name = "data/files/data/arabic/annotations/nw/ann/00/ann_0001.onf"
    assert get_language_by_filename(name) == "arabic"


def test_ref_get_language_by_filename_pos02():
    name = "english/annotations/bn/pri/01/pri_0100.onf"
    assert get_language_by_filename(name) == "english"


def test_ref_get_language_by_filename_neg01():
    """Departure: the reference raises ValueError; the kernel returns
    'unknown' (per-row kernels must not throw — callers count unknowns
    relationally)."""
    name = "data/files/data/arabic/nw/ann/00/ann_0001.onf"
    assert get_language_by_filename(name) == "unknown"


# --- is_item_in_sequence (test_utils.py:1197-1237) -------------------------
def test_ref_is_item_in_sequence_pos01():
    seq = ["-LRB-", "و", "ص", "ف", ",", "رُويْتِرز", ",", "أب", "-RRB-"]
    assert is_trace_path(seq) is True


def test_ref_is_item_in_sequence_pos02():
    seq = ["و", "ص", "ف", ",", "رُويْتِرز", ",", "أب", "-RRB-"]
    assert is_trace_path(seq) is True


def test_ref_is_item_in_sequence_pos03():
    seq = ["و", "ص", "ف", ",", "رُويْتِرز", ",", "أب"]
    assert is_trace_path(seq) is False


def test_ref_is_item_in_sequence_pattern_matches_reference():
    """The compiled pattern specialized into is_trace_path equals the
    reference's special_token_re (utils.py:505)."""
    from ontonotes_5_parsing_spark.kgref.tree import TRACE_RE

    ref_re = re.compile(r"^(\-[A-Z]+\-|EDITED)$")
    for probe in ("-LRB-", "-RRB-", "EDITED", "word", "-lrb-", "a-B-"):
        assert bool(TRACE_RE.search(probe)) == bool(ref_re.search(probe))


# --- insert_new_bounds (test_utils.py:1239-1291) ---------------------------
@pytest.mark.parametrize(
    "new,old,expected",
    [
        ((0, 5), [(7, 9), (13, 20), (27, 32)],
         [(0, 5), (7, 9), (13, 20), (27, 32)]),                 # pos01
        ((0, 7), [(7, 9), (13, 20), (27, 32)],
         [(0, 9), (13, 20), (27, 32)]),                         # pos02
        ((34, 40), [(7, 9), (13, 20), (27, 32)],
         [(7, 9), (13, 20), (27, 32), (34, 40)]),               # pos03
        ((11, 12), [(7, 9), (13, 20), (27, 32)],
         [(7, 9), (11, 12), (13, 20), (27, 32)]),               # pos04
        ((11, 13), [(7, 9), (13, 20), (27, 32)],
         [(7, 9), (11, 20), (27, 32)]),                         # pos05
        ((8, 13), [(7, 9), (13, 20), (27, 32)],
         [(7, 20), (27, 32)]),                                  # pos06
    ],
)
def test_ref_insert_new_bounds_pos01_to_pos06(new, old, expected):
    assert insert_new_bounds(new, old) == expected


def test_ref_insert_new_bounds_neg01():
    with pytest.raises(ValueError):
        insert_new_bounds((8, 13), [(7, 9), (13, 20), (27, 27)])


def test_ref_insert_new_bounds_neg02():
    with pytest.raises(ValueError):
        insert_new_bounds((8, 13), [(7, 9), (9, 20), (27, 32)])


# --- calculate_distance (test_utils.py:1293-1316) --------------------------
@pytest.mark.parametrize(
    "s1,s2,expected",
    [
        ("PV+PVSUFF_SUBJ:2MP", "PV+PVSUFF_SUBJ:2MP", 0),        # pos01
        ("PV+PVSUFF_SUBJ:2MP", "PV", 2),                        # pos02
        ("PP-TMP", "SBAR-PRD", 2 + 7 * 10),                     # pos03
        ("VBD", "WRB", 2 + 3 * 10),                             # pos04
        ("DET+NOUN+CASE_DEF_GEN", "DET+NOUN+CASE_DEF_ACC", 2 + 3),  # pos05
    ],
)
def test_ref_calculate_distance_pos01_to_pos05(s1, s2, expected):
    assert label_distance(s1, s2) == expected


# --- unite_overlapped_bounds (test_utils.py:1318-1339) ---------------------
def test_ref_unite_overlapped_bounds_pos01():
    src = [(0, 5), (6, 11), (13, 20)]
    assert unite_overlapped_bounds(src) == src


def test_ref_unite_overlapped_bounds_pos02():
    assert unite_overlapped_bounds([(0, 5), (4, 11), (13, 20)]) == [
        (0, 11), (13, 20)
    ]


def test_ref_unite_overlapped_bounds_pos03():
    assert unite_overlapped_bounds([(0, 5), (6, 11), (11, 20)]) == [
        (0, 5), (6, 20)
    ]


def test_ref_unite_overlapped_bounds_neg01():
    with pytest.raises(ValueError):
        unite_overlapped_bounds([(0, 5), (6, 11), (5, 20)])


# --- check_bounds (test_utils.py:1341-1472) --------------------------------
def test_ref_check_bounds_pos01():
    assert check_bounds(_HK_TEXT, _HK_BOUNDS) == ""


def test_ref_check_bounds_pos02():
    bad = list(_HK_BOUNDS)
    bad[-1] = (121, 132)  # runs past the text
    assert len(check_bounds(_HK_TEXT, bad)) > 0


def test_ref_check_bounds_pos03():
    bad = list(_HK_BOUNDS)
    bad[6] = (29, 35)  # overlaps the previous token
    assert len(check_bounds(_HK_TEXT, bad)) > 0


def test_ref_check_bounds_pos04():
    bad = _HK_BOUNDS[:1] + [(4, 5)] + _HK_BOUNDS[1:]  # bound on a space
    assert len(check_bounds(_HK_TEXT, bad)) > 0


# --- find_subword_bounds (test_utils.py:1474-1506) -------------------------
@pytest.mark.parametrize(
    "word,subwords,expected",
    [
        ("12345", ["1", "2", "3", "4", "5"],
         [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5)]),             # pos01
        ("12345", ["1", "2", "3", "4a", "5"],
         [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5)]),             # pos02
        ("1234a5", ["1", "2", "3", "4", "5"],
         [(0, 1), (1, 2), (2, 3), (3, 4), (4, 6)]),             # pos03
        ("1234a5", ["1", "2", "3", "4b", "5"],
         [(0, 1), (1, 2), (2, 3), (3, 5), (5, 6)]),             # pos04
    ],
)
def test_ref_find_subword_bounds_pos01_to_pos04(word, subwords, expected):
    bounds, _ = find_subword_bounds(word, subwords)
    assert bounds == expected


def test_ref_find_subword_bounds_neg01():
    with pytest.raises(ValueError):
        find_subword_bounds("1234", ["1", "2", "3", "4", "5"])


# --- tokenize_any_word [sic] (test_utils.py:1508-1522) ---------------------
def test_ref_tokenize_any_word_pos01():
    assert tokenize_any_text("Hello, world!") == ["Hello", ",", "world", "!"]


def test_ref_tokenize_any_word_pos02():
    assert tokenize_any_text("天地方益権") == ["天", "地", "方", "益", "権"]


def test_ref_tokenize_any_word_pos03():
    assert tokenize_any_text("hello?天地方3 d gh益権, world!") == [
        "hello", "?", "天", "地", "方", "3", "d", "gh", "益", "権", ",",
        "world", "!",
    ]


# --- reference-name → ported-test mapping ----------------------------------
# Every test in /root/reference/tests/test_utils.py, by its exact name.
# Enforced by test_every_reference_test_is_mapped below.
REFERENCE_TEST_MAP = {
    "test_get_plain_text_pos01":
        "test_ref_get_plain_text_pos01..04",
    "test_get_plain_text_pos02":
        "test_ref_get_plain_text_pos01..04",
    "test_get_plain_text_pos03":
        "test_ref_get_plain_text_pos01..04",
    "test_get_plain_text_pos04":
        "test_ref_get_plain_text_pos01..04",
    "test_strip_bounds_pos01":
        "test_ref_strip_bounds_pos01_to_pos06",
    "test_strip_bounds_pos02":
        "test_ref_strip_bounds_pos01_to_pos06",
    "test_strip_bounds_pos03":
        "test_ref_strip_bounds_pos01_to_pos06",
    "test_strip_bounds_pos04":
        "test_ref_strip_bounds_pos01_to_pos06",
    "test_strip_bounds_pos05":
        "test_ref_strip_bounds_pos01_to_pos06",
    "test_strip_bounds_pos06":
        "test_ref_strip_bounds_pos01_to_pos06",
    "test_parse_tree_pos01":
        "test_ref_parse_tree_pos01..04",
    "test_parse_tree_pos02":
        "test_ref_parse_tree_pos01..04",
    "test_parse_tree_pos03":
        "test_ref_parse_tree_pos01..04",
    "test_parse_tree_pos04":
        "test_ref_parse_tree_pos01..04",
    "test_parse_named_entities_labeling_pos01":
        "test_ref_parse_named_entities_labeling_pos01..03",
    "test_parse_named_entities_labeling_pos02":
        "test_ref_parse_named_entities_labeling_pos01..03",
    "test_parse_named_entities_labeling_pos03":
        "test_ref_parse_named_entities_labeling_pos01..03",
    "test_megre_bounds_pos01":
        "test_ref_megre_bounds_pos01..03",
    "test_megre_bounds_pos02":
        "test_ref_megre_bounds_pos01..03",
    "test_megre_bounds_pos03":
        "test_ref_megre_bounds_pos01..03",
    "test_parse_file":
        "test_onf.py::test_golden_parse_onf_matches_reference_output",
    "test_split_filename_by_parts_pos01":
        "test_ref_split_filename_by_parts_pos01_to_pos04",
    "test_split_filename_by_parts_pos02":
        "test_ref_split_filename_by_parts_pos01_to_pos04",
    "test_split_filename_by_parts_pos03":
        "test_ref_split_filename_by_parts_pos01_to_pos04",
    "test_split_filename_by_parts_pos04":
        "test_ref_split_filename_by_parts_pos01_to_pos04",
    "test_check_onf_name_pos01":
        "test_ref_check_onf_name_pos01..03",
    "test_check_onf_name_pos02":
        "test_ref_check_onf_name_pos01..03",
    "test_check_onf_name_pos03":
        "test_ref_check_onf_name_pos01..03",
    "test_check_onf_name_neg01":
        "test_ref_check_onf_name_neg01",
    "test_parse_splitting":
        "test_ref_parse_splitting",
    "test_get_token_bounds_pos01":
        "test_ref_get_token_bounds_pos01",
    "test_get_token_bounds_neg01":
        "test_ref_get_token_bounds_neg01",
    "test_get_token_bounds_fuzzy_pos01":
        "test_ref_get_token_bounds_fuzzy_pos01..05",
    "test_get_token_bounds_fuzzy_pos02":
        "test_ref_get_token_bounds_fuzzy_pos01..05",
    "test_get_token_bounds_fuzzy_pos03":
        "test_ref_get_token_bounds_fuzzy_pos01..05",
    "test_get_token_bounds_fuzzy_pos04":
        "test_ref_get_token_bounds_fuzzy_pos01..05",
    "test_get_token_bounds_fuzzy_pos05":
        "test_ref_get_token_bounds_fuzzy_pos01..05",
    "test_get_language_by_filename_pos01":
        "test_ref_get_language_by_filename_pos01..02",
    "test_get_language_by_filename_pos02":
        "test_ref_get_language_by_filename_pos01..02",
    "test_get_language_by_filename_neg01":
        "test_ref_get_language_by_filename_neg01 (documented departure)",
    "test_is_item_in_sequence_pos01":
        "test_ref_is_item_in_sequence_pos01..03",
    "test_is_item_in_sequence_pos02":
        "test_ref_is_item_in_sequence_pos01..03",
    "test_is_item_in_sequence_pos03":
        "test_ref_is_item_in_sequence_pos01..03",
    "test_insert_new_bounds_pos01":
        "test_ref_insert_new_bounds_pos01_to_pos06",
    "test_insert_new_bounds_pos02":
        "test_ref_insert_new_bounds_pos01_to_pos06",
    "test_insert_new_bounds_pos03":
        "test_ref_insert_new_bounds_pos01_to_pos06",
    "test_insert_new_bounds_pos04":
        "test_ref_insert_new_bounds_pos01_to_pos06",
    "test_insert_new_bounds_pos05":
        "test_ref_insert_new_bounds_pos01_to_pos06",
    "test_insert_new_bounds_pos06":
        "test_ref_insert_new_bounds_pos01_to_pos06",
    "test_insert_new_bounds_neg01":
        "test_ref_insert_new_bounds_neg01",
    "test_insert_new_bounds_neg02":
        "test_ref_insert_new_bounds_neg02",
    "test_calculate_distance_pos01":
        "test_ref_calculate_distance_pos01_to_pos05",
    "test_calculate_distance_pos02":
        "test_ref_calculate_distance_pos01_to_pos05",
    "test_calculate_distance_pos03":
        "test_ref_calculate_distance_pos01_to_pos05",
    "test_calculate_distance_pos04":
        "test_ref_calculate_distance_pos01_to_pos05",
    "test_calculate_distance_pos05":
        "test_ref_calculate_distance_pos01_to_pos05",
    "test_unite_overlapped_bounds_pos01":
        "test_ref_unite_overlapped_bounds_pos01..03",
    "test_unite_overlapped_bounds_pos02":
        "test_ref_unite_overlapped_bounds_pos01..03",
    "test_unite_overlapped_bounds_pos03":
        "test_ref_unite_overlapped_bounds_pos01..03",
    "test_unite_overlapped_bounds_neg01":
        "test_ref_unite_overlapped_bounds_neg01",
    "test_check_bounds_pos01":
        "test_ref_check_bounds_pos01..04",
    "test_check_bounds_pos02":
        "test_ref_check_bounds_pos01..04",
    "test_check_bounds_pos03":
        "test_ref_check_bounds_pos01..04",
    "test_check_bounds_pos04":
        "test_ref_check_bounds_pos01..04",
    "test_find_subword_bounds_pos01":
        "test_ref_find_subword_bounds_pos01_to_pos04",
    "test_find_subword_bounds_pos02":
        "test_ref_find_subword_bounds_pos01_to_pos04",
    "test_find_subword_bounds_pos03":
        "test_ref_find_subword_bounds_pos01_to_pos04",
    "test_find_subword_bounds_pos04":
        "test_ref_find_subword_bounds_pos01_to_pos04",
    "test_find_subword_bounds_neg01":
        "test_ref_find_subword_bounds_neg01",
    "test_tokenize_any_word_pos01":
        "test_ref_tokenize_any_word_pos01..03",
    "test_tokenize_any_word_pos02":
        "test_ref_tokenize_any_word_pos01..03",
    "test_tokenize_any_word_pos03":
        "test_ref_tokenize_any_word_pos01..03",
}


def test_every_reference_test_is_mapped():
    """Completeness gate: each `def test_*` in the reference suite has a
    mapping entry here (skips silently if the reference tree is absent,
    e.g. when the repo runs standalone)."""
    import os

    ref = "/root/reference/tests/test_utils.py"
    if not os.path.exists(ref):
        pytest.skip("reference tree not present")
    names = re.findall(r"def (test_[a-z_0-9]+)", open(ref).read())
    missing = [n for n in names if n not in REFERENCE_TEST_MAP]
    assert not missing, missing
    assert len(names) == 72
