"""The DuckDB linking oracle: blocking, the bucket-size guard, the
accept rule and the clusters, in SQL over the banded vocabulary Spark
wrote as parquet (vertex_id, norm, ent_type, bands, toks). DuckDB has
no `xxhash64`, so the blocking keys and the tokens come from Spark, as
the `kg_triples` oracle takes its item table; Spark's tokens also keep
the Java regex's ASCII-only `\\s`.

The distance is kgref's code-point Levenshtein, registered as a DuckDB
function: DuckDB 1.0's own `levenshtein` counts bytes
(`levenshtein('é', 'e')` is 2, while `length('é')` is 1). DuckDB's
`length` counts code points, as Spark's does.
"""

from __future__ import annotations

import duckdb
from duckdb.typing import BIGINT, VARCHAR

from ontonotes_5_parsing_spark.kgref.align import levenshtein

# the accept rule over (norm_a, norm_b, toks_a, toks_b): token
# containment against the shorter token list (list_intersect, like
# Spark's array_intersect, keeps distinct elements), or distance over
# the longer length within 0.2
ACCEPTED = """
len(list_intersect(toks_a, toks_b)) = least(len(toks_a), len(toks_b))
OR kgref_levenshtein(norm_a, norm_b) / greatest(length(norm_a), length(norm_b)) <= 0.2
"""

KEYS = """
CREATE TEMP TABLE keys AS
SELECT vertex_id, norm, ent_type, toks, k.band AS band, k.bh AS bh
FROM (SELECT vertex_id, norm, ent_type, toks, unnest(bands) AS k FROM vocab)
"""
# the bucket size is a window count over the exploded rows, so a
# repeated token and each row of a (vertex_id, norm) class count; $1
# is MAX_BUCKET
PAIRS = f"""
CREATE TEMP TABLE pairs AS
WITH sized AS (
  SELECT *, count(*) OVER (PARTITION BY ent_type, band, bh) AS bucket_n FROM keys
), candidates AS (
  SELECT DISTINCT a.vertex_id AS src, b.vertex_id AS dst, a.norm AS norm_a, b.norm AS norm_b,
         a.toks AS toks_a, b.toks AS toks_b
  FROM sized a JOIN sized b
    ON a.ent_type = b.ent_type AND a.band = b.band AND a.bh = b.bh
   AND a.vertex_id < b.vertex_id
  WHERE a.bucket_n <= $1 AND b.bucket_n <= $1
)
SELECT src, dst, {ACCEPTED} AS accepted FROM candidates
"""
DROPPED = """
SELECT count(*) FROM (
  SELECT 1 FROM keys GROUP BY ent_type, band, bh HAVING count(*) > $1
)
"""
# clusters as in SQL_DEDUP_COMPONENTS: every vertex walks its
# component, whose id is the least vertex reached; remap rows only
REMAP = """
WITH RECURSIVE edges AS (
  SELECT src AS s, dst AS d FROM pairs WHERE accepted
  UNION
  SELECT dst AS s, src AS d FROM pairs WHERE accepted
), walk(v, comp) AS (
  SELECT s, s FROM (SELECT DISTINCT s FROM edges)
  UNION
  SELECT e.d, w.comp FROM walk w JOIN edges e ON e.s = w.v
)
SELECT v, min(comp) FROM walk GROUP BY v HAVING min(comp) <> v
"""


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.create_function("kgref_levenshtein", levenshtein, [VARCHAR, VARCHAR], BIGINT)
    return con


def duckdb_linking(vocab_dir: str, max_bucket: int) -> tuple[dict[int, int], dict[str, int]]:
    """The oracle's remap (vertex_id → component, non-identity rows)
    and counts (candidate and accepted pairs, dropped keys) over the
    parquet vocabulary in `vocab_dir`."""
    con = connect()
    con.execute(f"CREATE VIEW vocab AS SELECT * FROM read_parquet('{vocab_dir}/*.parquet')")
    con.execute(KEYS)
    con.execute(PAIRS, [max_bucket])
    n_pairs, n_accepted = con.execute(
        "SELECT count(*), count(*) FILTER (WHERE accepted) FROM pairs").fetchone()
    counts = {"candidate_pairs": n_pairs, "accepted_pairs": n_accepted,
              "dropped_keys": con.execute(DROPPED, [max_bucket]).fetchone()[0]}
    return dict(con.execute(REMAP).fetchall()), counts
