"""Entity linking + canonicalization + graph materialization."""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from ontonotes_5_parsing_spark import corpus
from ontonotes_5_parsing_spark.kgref.lexicon import ALIAS_GROUPS, GAZETTEER
from ontonotes_5_parsing_spark.pipeline import run_pipeline
from ontonotes_5_parsing_spark.pipeline.linking import (
    add_minhash_bands,
    candidate_pairs,
    connected_components,
    link_entities,
    score_pairs,
    union_find,
)


@pytest.fixture(scope="module")
def out(spark):
    pages = corpus.web_pages_df(spark, 250)
    result = run_pipeline(pages)
    result["mentions"] = result["mentions"].cache()
    result["linked"] = result["linked"].cache()
    return result


def test_alias_groups_share_component(out):
    linked = {
        r.surface: r.component
        for r in out["linked"].select("surface", "component").collect()
    }
    for group in ALIAS_GROUPS:
        present = [s for s in group if s in linked]
        if len(present) >= 2:
            components = {linked[s] for s in present}
            assert len(components) == 1, (group, components)


def test_different_entities_not_merged(out):
    linked = {
        r.surface: r.component
        for r in out["linked"].select("surface", "component").collect()
    }
    for a, b in [("France", "Germany"), ("Paris", "Berlin"), ("Globex", "Initech")]:
        if a in linked and b in linked:
            assert linked[a] != linked[b], (a, b)


def test_canonical_is_most_frequent_then_shortest(out):
    nodes = out["nodes"].collect()
    canon_by_type = {(r.canonical, r.ent_type) for r in nodes}
    # every canonical surface is a known gazetteer/rule surface
    for canonical, ent_type in canon_by_type:
        if canonical in GAZETTEER:
            assert GAZETTEER[canonical] == ent_type


def test_edges_reference_existing_nodes(out):
    node_ids = {r.entity_id for r in out["nodes"].collect()}
    edges = out["edges"].collect()
    assert len(edges) > 0
    for e in edges:
        assert e.src_entity_id in node_ids
        assert e.dst_entity_id in node_ids
        assert e.n_evidence >= 1


def test_node_mention_mass_conserved(out):
    total_mentions = out["mentions"].count()
    node_sum = out["nodes"].agg(F.sum("n_mentions")).collect()[0][0]
    assert node_sum == total_mentions


def component_labels(vertices, edges, **kwargs) -> dict[int, int]:
    """vertex_id → component: connected_components' remap rows, left
    joined onto the vertices with a missing component coalesced to the
    vertex itself."""
    remap = connected_components(vertices, edges, **kwargs)
    return {
        r.vertex_id: r.component
        for r in vertices.join(remap, "vertex_id", "left")
        .select("vertex_id", F.coalesce("component", "vertex_id").alias("component"))
        .collect()
    }


def test_connected_components_chain(spark):
    # A-B, B-C, D alone → components {A,B,C} and {D}
    vertices = spark.createDataFrame([(1,), (2,), (3,), (4,)], ["vertex_id"])
    edges = spark.createDataFrame([(2, 1), (3, 2)], ["src", "dst"])
    labels = component_labels(vertices, edges)
    assert labels[1] == labels[2] == labels[3] == 1
    assert labels[4] == 4


def test_lsh_candidates_recall_known_aliases(spark, out):
    vocab = out["linked"]
    pairs = score_pairs(candidate_pairs(add_minhash_bands(vocab)))
    norms = {
        r.vertex_id: r.norm for r in vocab.select("vertex_id", "norm").collect()
    }
    accepted = {
        frozenset((norms[r.src], norms[r.dst])) for r in pairs.collect()
    }
    # obama aliases must be candidate-joined by at least one LSH band
    if any("barack obama" in fs for fs in accepted):
        assert frozenset(("barack obama", "obama")) in accepted


def test_distributed_label_propagation_matches_union_find(spark):
    """Force the distributed label-propagation fallback (the >2M-edge
    path) by setting the driver-side threshold to 0 and assert it
    reaches the identical component fixpoint as the union-find path on
    graphs with chains, cycles, stars, and isolated vertices."""
    edges = spark.createDataFrame(
        [
            (1, 2), (2, 3), (3, 4),          # chain
            (10, 11), (11, 12), (12, 10),    # cycle
            (20, 21), (20, 22), (20, 23),    # star
            (30, 31),
        ],
        "src long, dst long",
    )
    verts = spark.createDataFrame(
        [(v,) for v in [1, 2, 3, 4, 10, 11, 12, 20, 21, 22, 23, 30, 31, 99]],
        "vertex_id long",
    )
    uf = component_labels(verts, edges)
    lp = component_labels(verts, edges, driver_side_max_edges=0)
    assert lp == uf
    assert uf[4] == 1 and uf[12] == 10 and uf[23] == 20 and uf[99] == 99


# Vertex-id stride between examples: more than any example's vertices.
STRIDE = 16


@st.composite
def edge_sets(draw):
    """(n, edges) over vertices 0..n-1, n ≤ 12: duplicate, reversed and
    self edges may repeat, and vertices no edge touches stay isolated."""
    n = draw(st.integers(1, 12))
    vertex = st.integers(0, n - 1)
    return n, draw(st.lists(st.tuples(vertex, vertex), max_size=2 * n))


@given(st.lists(edge_sets(), min_size=100, max_size=100))
@settings(max_examples=3, deadline=None)
def test_label_propagation_matches_union_find_on_random_edge_sets(spark, examples):
    """The distributed label propagation returns the remap union_find
    computes, on 100 random edge sets at a time. Each example is
    shifted into its own vertex-id range, so one
    `connected_components(..., driver_side_max_edges=0)` call covers
    all of them. An example has at most 12 vertices, so no component's
    diameter exceeds the `max_iter=12` rounds the loop is bounded by."""
    vertices, edges = [], []
    for i, (n, pairs) in enumerate(examples):
        base = i * STRIDE
        vertices += [(base + v,) for v in range(n)]
        edges += [(base + a, base + b) for a, b in pairs]
    remap = connected_components(
        spark.createDataFrame(vertices, "vertex_id long"),
        spark.createDataFrame(edges, "src long, dst long"),
        driver_side_max_edges=0,
    )
    got = {r.vertex_id: r.component for r in remap.collect()}
    assert got == union_find(edges)


def test_salted_vocab_counts_exact_under_extreme_skew(spark):
    """90%-hot-key mention distribution: the two-phase salted aggregation
    must produce exactly the same counts as a plain groupBy (salting
    must never change results, only the shuffle layout)."""
    from pyspark.sql import functions as F

    from ontonotes_5_parsing_spark.pipeline.linking import surface_vocab

    n = 20_000
    mentions = spark.range(n).select(
        F.concat(F.lit("https://x/"), F.col("id")).alias("url"),
        (F.col("id") % 7).alias("sent_idx"),
        F.when(F.col("id") % 10 < 9, "Hot Entity")
        .otherwise(F.concat(F.lit("cold"), (F.col("id") % 50).cast("string")))
        .alias("surface"),
        F.lit("ORG").alias("ent_type"),
        F.lit(0).alias("start"),
        F.lit(10).alias("end"),
    )
    got = {
        (r.surface, r.ent_type): r.n_mentions
        for r in surface_vocab(mentions).collect()
    }
    expected = {
        (r.surface, r.ent_type): r.cnt
        for r in mentions.groupBy("surface", "ent_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert got == expected
    assert got[("Hot Entity", "ORG")] == 18_000


def test_candidate_hot_bucket_guard(spark, monkeypatch):
    """A blocking key shared by more than MAX_BUCKET surfaces is dropped
    before the self-join (quadratic-fanout guard): surfaces linked ONLY
    through the hot token produce no candidate pair, while pairs that
    also share a rarer key survive."""
    from ontonotes_5_parsing_spark.pipeline import linking

    # 6 surfaces share only the token "corp"; two extra surfaces are a
    # near-duplicate pair sharing rare shingle/token keys of their own
    surfaces = [f"{w} corp" for w in ("alpha", "bravo", "charlie", "delta", "echo", "foxtrot")]
    surfaces += ["zenith systems", "zenith system"]
    mentions = spark.createDataFrame(
        [(f"u{i}", 0, s, "ORG") for i, s in enumerate(surfaces)],
        "url string, sent_idx int, surface string, ent_type string",
    )
    def corp_pairs(max_bucket):
        monkeypatch.setattr(linking, "MAX_BUCKET", max_bucket)
        vocab = linking.surface_vocab(mentions)
        pairs = linking.candidate_pairs(linking.add_minhash_bands(vocab))
        norm_pairs = {(r.norm_a, r.norm_b) for r in pairs.collect()}
        return norm_pairs, {
            p for p in norm_pairs if p[0].endswith("corp") and p[1].endswith("corp")
        }

    all_pairs, clique = corp_pairs(4096)
    # unguarded: the shared "corp" token key yields the full 6-choose-2 clique
    assert len(clique) == 15, clique
    guarded_pairs, guarded = corp_pairs(4)
    # guarded: the 6-member "corp" bucket is dropped; only pairs that
    # also collide on a (≤4-member) minhash band bucket may remain
    assert len(guarded) < 15, "hot bucket not dropped"
    assert ("zenith system", "zenith systems") in guarded_pairs or (
        "zenith systems", "zenith system") in guarded_pairs


# Blocking keys of add_minhash_bands, pinned as literals: any rewrite of
# the banding expression must reproduce them bit for bit, since both
# graph-phase branches block on these values.
# Norms cover empty and whitespace-only strings, whitespace Java's \s
# does not match (NBSP, em space), ASCII whitespace it does (tab, \x0b),
# leading/trailing/double separators, CJK, non-BMP code points, one- and
# two-character surfaces, repeated and multiple tokens, and a null norm.
GOLDEN_BANDS = [
    ('', [
        (0, -8365402058978050547), (1, 3146257222410607212), (2, 7168467869461154232),
        (3, -8194735414967996439), (4, -4554408941333974105), (5, -5698772725619883548),
        (-1, -7444071767201028348),
    ]),
    (' ', [
        (0, -5112156756943762405), (1, 3250034910595114445), (2, -972716526408770548),
        (3, -493552833847202962), (4, -5376634363184470234), (5, -1759374597792907637),
        (-1, -7444071767201028348), (-1, -7444071767201028348),
    ]),
    ('   ', [
        (0, 3013365091582633269), (1, -8104092608975322337), (2, 3872465684324007255),
        (3, 9129513652343579208), (4, -1569174659842730414), (5, -727322395211876749),
        (-1, -7444071767201028348), (-1, -7444071767201028348),
    ]),
    ('\t', [
        (0, 8589909501024176047), (1, 1990541860575962516), (2, -7063715284038683563),
        (3, -5558310695421852989), (4, -3945584192450333485), (5, -522460429141499562),
        (-1, -7444071767201028348), (-1, -7444071767201028348),
    ]),
    ('\xa0', [
        (0, -5353226422043752828), (1, 4138932066487698549), (2, -7358219697464349924),
        (3, -7275601819372700347), (4, -3159656679702691078), (5, 7607580038943833302),
        (-1, -4524950721114054423),
    ]),
    ('\u2003', [
        (0, 3934290455849048414), (1, -6389269399055684479), (2, -4005611945681220405),
        (3, -3816045721946442811), (4, 3679125599152530378), (5, 5581818055659864261),
        (-1, -1558670960622929946),
    ]),
    (' x', [
        (0, 7909285801122233712), (1, 7502624438031049612), (2, 7015232874284939800),
        (3, 1652276645704756993), (4, 5781909042622969159), (5, -4028289603795760590),
        (-1, -7444071767201028348), (-1, -5636050478767222463),
    ]),
    ('x ', [
        (0, -3566347518633063944), (1, -5918176540424634468), (2, 8929420101042415489),
        (3, 7394805100163848007), (4, -4355385934090846600), (5, -2104707513510618277),
        (-1, -5636050478767222463), (-1, -7444071767201028348),
    ]),
    ('a  b', [
        (0, 4730555010839940564), (1, -5991681650986192369), (2, -1749766070122158867),
        (3, 700722763828890864), (4, -8637939606590373385), (5, -5219877335524845617),
        (-1, -8582455328737087284), (-1, -6391946315847899181),
    ]),
    ('a\tb', [
        (0, -6893820795954680964), (1, 2051539672019040736), (2, -4824291795525048615),
        (3, 2555908265895361297), (4, -4857195122995980424), (5, -9210952924986162893),
        (-1, -8582455328737087284), (-1, -6391946315847899181),
    ]),
    ('a\xa0b', [
        (0, 1661636170210477593), (1, -7763581597844506145), (2, 6046039641161681577),
        (3, -6594246623628332210), (4, -93946900964422365), (5, 8981927109860007097),
        (-1, 4895498045824310602),
    ]),
    ('a\u2003b', [
        (0, 465385900007503561), (1, -1619858436676184867), (2, -7964995510369192189),
        (3, -8972366884585653245), (4, -6905654295359849182), (5, 6186492863540308007),
        (-1, -3507606213609383085),
    ]),
    ('x\x0by', [
        (0, 8411176051061727722), (1, -7636813534402226741), (2, 5582193835295326793),
        (3, -1533562438980647026), (4, -6329855768982374839), (5, -119307000931582111),
        (-1, -5636050478767222463), (-1, -2901346384480684965),
    ]),
    ('a', [
        (0, 3670855048657312246), (1, -1677718157289772013), (2, -5524579042144014347),
        (3, -8601984529355378487), (4, 6895086641530482463), (5, -2537400228174422584),
        (-1, -8582455328737087284),
    ]),
    ('z', [
        (0, -1574944717946324718), (1, -6180445339356896375), (2, -4846477585445971131),
        (3, -1731634982077662650), (4, 626040722791169276), (5, 2332733810319098728),
        (-1, 6959616394252558107),
    ]),
    ('ab', [
        (0, 6494883302581219762), (1, 7957123243128782507), (2, 6312995118097530424),
        (3, 8608889268966056622), (4, -8535147356461379001), (5, 544306553316903634),
        (-1, 2710560539726725091),
    ]),
    ('abc', [
        (0, -3582414867771688932), (1, -1024019542664645543), (2, 2329917684126152595),
        (3, -2351868778051672777), (4, -1914892730230402851), (5, 9145963552224840346),
        (-1, 1423657621850124518),
    ]),
    ('obama', [
        (0, 2962969790020438340), (1, 536068792348489320), (2, -4843177998528300773),
        (3, 290048746325926622), (4, 1681820083272481175), (5, 2216955707374589112),
        (-1, 535811201825762486),
    ]),
    ('barack obama', [
        (0, -2017813409639242024), (1, 536068792348489320), (2, 5653173887773511626),
        (3, -1457513690871427986), (4, -7412704587441513500), (5, 7731417636147728803),
        (-1, -1241204132130059811), (-1, 535811201825762486),
    ]),
    ('new york city', [
        (0, -6698876687950200023), (1, 868216604818451287), (2, -7808413434454575838),
        (3, 1911384543137555218), (4, 6282487660885558328), (5, -1265340031139159640),
        (-1, 4122849048029594317), (-1, -7227311731548534729), (-1, 7471405355390935387),
    ]),
    ('12345', [
        (0, -8123538654575896589), (1, -752749827352178779), (2, -9096487898491852829),
        (3, 2268917006922767890), (4, -7877665597684294149), (5, -1646686613165926883),
        (-1, -4985319033745306281),
    ]),
    ('12346', [
        (0, -9062450096774980787), (1, 1436087392741564827), (2, 5477220948804606882),
        (3, 947320063964422611), (4, -2638534438297070412), (5, -1646686613165926883),
        (-1, -2900631447853519447),
    ]),
    ('é', [
        (0, 7176033830491634543), (1, -8267008011385100889), (2, -8202980574800077828),
        (3, 5231560502037148327), (4, 7863630055827971796), (5, 5584656423668739181),
        (-1, 2065146811275570100),
    ]),
    ('naïve café', [
        (0, 2619761329341323118), (1, 3438907114902861072), (2, -5655831737171406218),
        (3, 6634796133640336544), (4, 7741641589437730385), (5, -9082760304403671237),
        (-1, 6911616141519224023), (-1, 5061622738426082655),
    ]),
    ('日', [
        (0, -6180906649975044912), (1, -6521072996414069788), (2, 7054031854124923146),
        (3, -1588078430460135271), (4, 7606449780099885672), (5, -1443432930624156942),
        (-1, 377418268529564408),
    ]),
    ('北京', [
        (0, -8520517692344386684), (1, -5328598612200469432), (2, 7410569688207137763),
        (3, 7511195640200536546), (4, 3360202708511908590), (5, 1308942756981530151),
        (-1, -7187460129646166804),
    ]),
    ('北京 大学', [
        (0, 7644105996413478165), (1, -3487619003991236030), (2, -6433883959408700889),
        (3, -2312773611493574247), (4, -1727512275234922905), (5, -1959279211769670557),
        (-1, -7187460129646166804), (-1, -7940241283493138604),
    ]),
    ('\U0001d538', [
        (0, -988428441402696172), (1, 4288732710839512410), (2, -116063002893170781),
        (3, 4891789071819354135), (4, -6431259322787620926), (5, -6058080763043683008),
        (-1, -547260867887231970),
    ]),
    ('\U0001d538\U0001f600', [
        (0, 2023390956745283318), (1, 3230617199187136734), (2, 2080292152390686389),
        (3, -8052681426066031915), (4, 1759804452534224219), (5, 3464847088776056656),
        (-1, -1081301092857482427),
    ]),
    ("o'brien", [
        (0, -3828053937093736253), (1, -2951020557395769381), (2, -344206030239997472),
        (3, 2083132074664605833), (4, 3377966242714423006), (5, -1326790038488844318),
        (-1, 1436640831028809111),
    ]),
    ('u.s. steel', [
        (0, -1213394820587078385), (1, -791569526177984795), (2, -7928540148797022479),
        (3, 7850947287745252072), (4, 165975583540081464), (5, -6970921789925805600),
        (-1, 3346174864747838316), (-1, -563363333348368613),
    ]),
    ('the the', [
        (0, -4378303415160561186), (1, -1211107593474714213), (2, 4310619396767782856),
        (3, 4989853866695437269), (4, -2424539973880856415), (5, 2101791142792438478),
        (-1, -7881039948661331430), (-1, -7881039948661331430),
    ]),
    (None, None),
]


def test_minhash_bands_golden(spark):
    import pyarrow as pa
    from pyspark.sql import types as T

    norms = [n for n, _ in GOLDEN_BANDS]
    df = spark.createDataFrame(
        pa.table({"i": list(range(len(norms))), "norm": norms}), "i int, norm string"
    )
    banded = add_minhash_bands(df)
    assert banded.schema["bands"].dataType == T.ArrayType(
        T.StructType([
            T.StructField("band", T.IntegerType(), False),
            T.StructField("bh", T.LongType(), False),
        ]),
        containsNull=False,
    )
    got = {
        r.i: None if r.bands is None else [(b.band, b.bh) for b in r.bands]
        for r in banded.collect()
    }
    for i, (norm, bands) in enumerate(GOLDEN_BANDS):
        assert got[i] == bands, norm
