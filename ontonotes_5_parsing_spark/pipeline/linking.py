"""Blocked entity linking: MinHash/LSH candidate generation + pair
scoring + bounded label-propagation connected components.

Generalizes the reference's similarity-based label clustering
(`find_similary_item` + nearest-seed assignment,
reduce_entities.py:12-20,99-106 of the reference — a rare×topN cross
join) to web scale: instead of an O(n·k) cross join over all surface
pairs, candidate pairs are generated only inside LSH buckets of
character-shingle MinHash signatures, keyed by (ent_type, band,
band_hash).

Spark computes the blocking keys (`xxhash64` and higher-order array
functions, one SQL expression) and the tokens. Blocking and the accept
rule have one formulation, numpy over Arrow arrays: `pair_keys` and
`accepts`. The vocabulary stays roughly constant as the corpus grows,
so `run.build_graph` usually takes it to the driver (one exact
row-count gate) and runs them there, in `link_collected`, then
`union_find`. Above the gate the same two kernels run inside Spark
tasks (`candidate_pairs`, `score_pairs`), over keys hash-partitioned by
bucket, then `connected_components`; both branches give identical
links.
"""

from __future__ import annotations

import os
from functools import partial
from typing import Iterable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
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
    """Distinct candidate pairs (src < dst) inside LSH buckets.

    The blocking key (ent_type, band, bh) is the shuffle key: the
    exploded keys are hash-partitioned on it, so every bucket lands
    whole in one partition, and each task runs `pair_keys` — the
    pairing `link_collected` runs on the driver — over its partition's
    keys at once. Buckets larger than MAX_BUCKET are dropped there (the
    quadratic blow-up guard), so no bucket emits more than MAX_BUCKET²
    pairs. A pair sharing keys that landed in different partitions is
    emitted by each, hence the final distinct.
    """
    exploded = vocab_with_bands.select(
        "vertex_id",
        "norm",
        "ent_type",
        F.explode("bands").alias("b"),
    ).select("vertex_id", "norm", "ent_type", "b.band", "b.bh")
    # read here, on the driver: a worker imports this module afresh
    pair_partition = partial(_pair_partition, max_bucket=MAX_BUCKET)
    return (
        exploded.repartition("ent_type", "band", "bh")
        .mapInArrow(pair_partition, "src long, dst long, norm_a string, norm_b string")
        .distinct()
    )


def _pair_partition(batches, max_bucket: int):
    """`candidate_pairs`' task: one `pair_keys` call over all of the
    partition's exploded keys, so no bucket is split."""
    batches = list(batches)
    if not batches:
        return
    keys = pa.Table.from_batches(batches)
    vertex = keys["vertex_id"].to_numpy()
    norm = keys["norm"].combine_chunks()
    a, b, _ = pair_keys(vertex, norm, keys["ent_type"].combine_chunks(),
                        keys["band"].to_numpy(), keys["bh"].to_numpy(), max_bucket)
    yield pa.record_batch([pa.array(vertex[a]), pa.array(vertex[b]), norm.take(a), norm.take(b)],
                          names=["src", "dst", "norm_a", "norm_b"])


MAX_LEV_RATIO = 0.2


def tokens(norm: str):
    """A normalized surface's tokens as the accept rule and the token
    blocking keys split it: a Java regex, so `\\s` is ASCII whitespace
    only, and a leading separator gives an empty first token."""
    return F.split(F.col(norm), r"\s+")


def score_pairs(pairs: DataFrame) -> DataFrame:
    """Keep the alias-like pairs: `accepts`, run in Spark tasks over each
    Arrow batch of (norm_a, norm_b) and their Spark-computed tokens."""
    # read here, on the driver: a worker imports this module afresh
    accepted = partial(_accepted, max_ratio=MAX_LEV_RATIO)
    return pairs.select(
        "src", "dst", "norm_a", "norm_b",
        tokens("norm_a").alias("toks_a"), tokens("norm_b").alias("toks_b"),
    ).mapInArrow(accepted, "src long, dst long")


def _accepted(batches, max_ratio: float):
    """`score_pairs`' task: norm_a's rows, then norm_b's, so pair i is
    rows (i, n + i)."""
    for batch in batches:
        n = batch.num_rows
        norm = pa.concat_arrays([batch["norm_a"], batch["norm_b"]])
        toks = pa.concat_arrays([batch["toks_a"], batch["toks_b"]])
        ok = accepts(norm, toks, np.arange(n), np.arange(n) + n, max_ratio)
        yield batch.select(["src", "dst"]).filter(pa.array(ok))


def accepts(norm: pa.Array, toks: pa.Array, a: np.ndarray, b: np.ndarray,
            max_ratio: float) -> np.ndarray:
    """The accept rule over the pairs (norm[a[i]], norm[b[i]]) as a
    boolean mask, given each norm's Spark-computed `tokens`. A pair is
    kept when

    1. one side's tokens are contained in the other's ("obama" ⊆
       "barack obama"), the web-scale analog of the reference's
       prefix-credit rule (utils.py:1088-1096), or
    2. Levenshtein distance / longer length ≤ `max_ratio` (typos and
       variants), the analog of its Levenshtein remainder rule
       (utils.py:1097-1103). Lengths and distances count code points.

    Containment counts the distinct tokens a pair shares, one packed
    (pair, token) key per distinct token of each side, against the
    shorter token *list*. The rest is scored on code points: the length
    difference alone rejects most pairs; where two edits already fail,
    only a distance of 0 or 1 can pass, which the shared prefix and
    suffix decide; the few other pairs go through `levenshtein`."""
    n = len(a)
    n_toks = pc.fill_null(pc.list_value_length(toks), 0).to_numpy()
    tok_row = pc.list_parent_indices(toks).to_numpy().astype(np.int64)
    tok_code = pc.dictionary_encode(pc.list_flatten(toks)).indices.to_numpy().astype(np.int64)
    n_codes = int(tok_code.max()) + 1 if len(tok_code) else 1
    # distinct (row, token) keys in row order, as CSR offsets per row
    row_tok = np.unique(tok_row * n_codes + tok_code)
    offsets = np.searchsorted(row_tok // n_codes, np.arange(len(norm) + 1))
    codes = row_tok % n_codes
    side_a = _ragged_take(offsets, codes, a)
    side_b = _ragged_take(offsets, codes, b)
    common = np.intersect1d(side_a[0] * n_codes + side_a[1],
                            side_b[0] * n_codes + side_b[1], assume_unique=True)
    ok = np.bincount(common // n_codes, minlength=n) == np.minimum(n_toks[a], n_toks[b])

    length = pc.fill_null(pc.utf8_length(norm), 0).to_numpy()
    rest = np.flatnonzero(~ok)
    len_a, len_b = length[a[rest]], length[b[rest]]
    # never 0: two empty norms both split to [""], contained above
    longest = np.maximum(len_a, len_b)
    # the edit distance is at least the length difference, so this
    # rejects exactly the pairs the full distance would reject
    keep = np.abs(len_a - len_b) / longest <= max_ratio
    rest, longest, short = rest[keep], longest[keep], np.minimum(len_a, len_b)[keep]
    # where two edits already fail, only a distance of 0 or 1 can pass.
    # Without the shared affixes, the distance is at most 1 exactly when
    # neither rest is longer than 1, and then equals the longer rest's
    # length; both are 2 or more otherwise
    one_edit = 2 / longest > max_ratio
    distance = np.empty(len(rest), np.int64)
    if one_edit.any():
        near, width = rest[one_edit], int(longest[one_edit].max())
        head, tail = _code_points(norm, length, width)
        x, y = a[near], b[near]
        lo = np.minimum(_leading_true(head[x] == head[y]), short[one_edit])
        hi = np.minimum(_leading_true(tail[x] == tail[y]), short[one_edit] - lo)
        distance[one_edit] = longest[one_edit] - lo - hi
    far = rest[~one_edit]
    if len(far):
        strings = norm.to_pylist()
        distance[~one_edit] = [
            _affix_free_levenshtein(strings[i], strings[j]) for i, j in zip(a[far], b[far])
        ]
    ok[rest] = distance / longest <= max_ratio
    return ok


def _leading_true(eq: np.ndarray) -> np.ndarray:
    """The number of leading True values of each row."""
    return np.logical_and.accumulate(eq, axis=1).sum(axis=1)


def _ragged_take(offsets: np.ndarray, values: np.ndarray, rows: np.ndarray):
    """values[offsets[r]:offsets[r + 1]] for each r in rows, concatenated,
    with the position in `rows` each value came from."""
    counts = offsets[rows + 1] - offsets[rows]
    starts = np.repeat(offsets[rows] - (np.cumsum(counts) - counts), counts)
    return np.repeat(np.arange(len(rows)), counts), values[starts + np.arange(counts.sum())]


# above every code point (0x10FFFF), so padding never matches a
# character; numpy's `<U` strings would pad with (and strip) NUL
_PAD = np.uint32(0xFFFFFFFF)


def _code_points(norm: pa.Array, length: np.ndarray, width: int):
    """The first and the last `width` code points of each norm, as two
    padded uint32 matrices; the second is reversed (column k holds the
    k-th code point from the end)."""
    cps = np.frombuffer("".join(norm.fill_null("").to_pylist()).encode("utf-32-le"), "<u4")
    row = np.repeat(np.arange(len(length)), length)
    col = np.arange(len(cps)) - np.repeat(np.cumsum(length) - length, length)
    out = []
    for pos in (col, length[row] - 1 - col):
        m = np.full((len(length), width), _PAD, np.uint32)
        keep = pos < width
        m[row[keep], pos[keep]] = cps[keep]
        out.append(m)
    return out


def _affix_free_levenshtein(x: str, y: str) -> int:
    """`levenshtein` of the two strings without their shared prefix and
    suffix, which never change the distance."""
    lo = len(os.path.commonprefix((x, y)))
    x, y = x[lo:], y[lo:]
    hi = len(os.path.commonprefix((x[::-1], y[::-1])))
    return levenshtein(x[: len(x) - hi], y[: len(y) - hi])


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


def pair_keys(vertex: np.ndarray, norm: pa.Array, ent_type: pa.Array, band: np.ndarray,
              bh: np.ndarray, max_bucket: int) -> tuple[np.ndarray, np.ndarray, int]:
    """Blocking over exploded keys: row i is the blocking key (ent_type[i],
    band[i], bh[i]) of the surface (vertex[i], norm[i]). Returns the
    distinct candidate pairs as two arrays of key rows, one row standing
    for each side, with vertex[a] < vertex[b], and the number of keys
    dropped because more than `max_bucket` rows share them.

    Pairs are between distinct (vertex_id, norm) classes: rows sharing a
    vertex_id and a norm ("Obama"/"obama") are one class. The keys are
    sorted by (ent_type, band, bh), so a bucket is a run; its size
    counts rows, so a surface listing a token twice counts twice, as
    does each row of a class. Keys with a null ent_type count but never
    pair, as in an equi-join. Each bucket's pairs come from the upper
    triangle of its member classes, taken for all buckets of one size at
    once, then oriented by vertex_id and deduplicated on one packed
    int64 key."""
    _, vertex_rank = np.unique(vertex, return_inverse=True)
    norm_code = pc.fill_null(pc.dictionary_encode(norm).indices, -1).to_numpy()
    class_key = vertex_rank * (len(vertex) + 1) + norm_code + 1
    _, first, key_class = np.unique(class_key, return_index=True, return_inverse=True)
    n_classes = len(first)
    class_vertex = vertex[first]

    ent_code = pc.fill_null(pc.dictionary_encode(ent_type).indices, -1).to_numpy()
    order = np.lexsort((bh, band, ent_code))
    ent_code, band, bh = ent_code[order], band[order], bh[order]
    new = np.ones(len(order), bool)
    new[1:] = (ent_code[1:] != ent_code[:-1]) | (band[1:] != band[:-1]) | (bh[1:] != bh[:-1])
    starts = np.flatnonzero(new)
    sizes = np.diff(np.append(starts, len(order)))
    dropped = int(np.count_nonzero(sizes > max_bucket))
    pairing = (sizes > 1) & (sizes <= max_bucket) & (ent_code[starts] >= 0)
    member = key_class[order]
    src, dst = [np.empty(0, np.int64)], [np.empty(0, np.int64)]
    for size in np.unique(sizes[pairing]):
        classes = member[starts[pairing & (sizes == size)][:, None] + np.arange(size)]
        i, j = np.triu_indices(size, 1)
        src.append(classes[:, i].ravel())
        dst.append(classes[:, j].ravel())
    src, dst = np.concatenate(src), np.concatenate(dst)
    v_src, v_dst = class_vertex[src], class_vertex[dst]
    lower = v_src < v_dst
    keep = v_src != v_dst
    pair = np.unique(
        np.where(lower, src, dst)[keep] * n_classes + np.where(lower, dst, src)[keep]
    )
    return first[pair // n_classes], first[pair % n_classes], dropped


def link_collected(table: pa.Table) -> tuple[dict[int, int], dict[str, int]]:
    """The linking of a collected vocabulary with the columns vertex_id,
    norm, ent_type, bands and toks, in process: `pair_keys` over its
    exploded bands, `accepts`, then `union_find` — the kernels the
    distributed branch runs in Spark tasks. Returns the remap
    (vertex_id → component, non-identity rows only) and the counts:
    candidate and accepted pairs, and blocking keys dropped by
    `MAX_BUCKET`."""
    vertex = table["vertex_id"].to_numpy()
    norm = table["norm"].combine_chunks()
    bands = table["bands"].combine_chunks()
    keys = pc.list_flatten(bands)
    key_row = pc.list_parent_indices(bands).to_numpy()
    # dictionary-encoded first, so exploding them copies indices only
    a, b, dropped = pair_keys(
        vertex[key_row], pc.dictionary_encode(norm).take(key_row),
        pc.dictionary_encode(table["ent_type"].combine_chunks()).take(key_row),
        pc.struct_field(keys, "band").to_numpy(), pc.struct_field(keys, "bh").to_numpy(),
        MAX_BUCKET,
    )
    a, b = key_row[a], key_row[b]
    ok = accepts(norm, table["toks"].combine_chunks(), a, b, MAX_LEV_RATIO)
    remap = union_find(zip(vertex[a[ok]].tolist(), vertex[b[ok]].tolist()))
    counts = {
        "candidate_pairs": len(a),
        "accepted_pairs": int(np.count_nonzero(ok)),
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
    vocabulary it was built from (persisted, as it feeds both the
    blocking keys and the component join) can be unpersisted here. The
    caller unpersists the result.
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
    # connected_components — persist so blocking and scoring run once
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
