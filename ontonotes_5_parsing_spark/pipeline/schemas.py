"""Explicit StructTypes for every engine table (SURVEY.md §1.3).

Schemas are always declared, never inferred — the Spark mapping of the
reference's structural load-time validation
(/root/reference/ontonotes5/utils.py:1106-1257).
"""

from pyspark.sql import types as T

WEB_PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

SPAN = T.StructType(
    [
        T.StructField("start", T.LongType(), False),
        T.StructField("end", T.LongType(), False),
    ]
)

MENTION_SPAN = T.StructType(
    [
        T.StructField("start", T.LongType(), False),
        T.StructField("end", T.LongType(), False),
        T.StructField("ent_type", T.StringType(), False),
    ]
)

TRIPLE_ITEM = T.StructType(
    [
        T.StructField("subj", T.StringType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj", T.StringType(), False),
        T.StructField("subj_type", T.StringType(), True),
        T.StructField("obj_type", T.StringType(), True),
        T.StructField("subj_span", SPAN, True),
        T.StructField("obj_span", SPAN, True),
    ]
)

# the sentences stage: one row per sentence with its pre-computed
# mention spans and triples (arrays, exploded relationally downstream).
# Token arrays are not declared — they would be ~60% of the Arrow bytes
# and nothing downstream reads them (a Python UDF must materialize every
# declared column, so pruning has to happen in the schema, not in
# Catalyst)
LEAN_PARSED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("sent_idx", T.IntegerType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("lang", T.StringType(), True),
        T.StructField("n_tokens", T.IntegerType(), False),
        T.StructField("mention_spans", T.ArrayType(MENTION_SPAN), False),
        T.StructField("triple_items", T.ArrayType(TRIPLE_ITEM), False),
    ]
)

MENTIONS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("sent_idx", T.IntegerType(), False),
        T.StructField("start", T.LongType(), False),
        T.StructField("end", T.LongType(), False),
        T.StructField("surface", T.StringType(), False),
        T.StructField("ent_type", T.StringType(), False),
    ]
)

TRIPLES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("sent_idx", T.IntegerType(), False),
        T.StructField("subj", T.StringType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj", T.StringType(), False),
        T.StructField("subj_type", T.StringType(), True),
        T.StructField("obj_type", T.StringType(), True),
        T.StructField("subj_span", SPAN, True),
        T.StructField("obj_span", SPAN, True),
    ]
)

NODES_SCHEMA = T.StructType(
    [
        T.StructField("entity_id", T.LongType(), False),
        T.StructField("canonical", T.StringType(), False),
        T.StructField("ent_type", T.StringType(), False),
        T.StructField("n_mentions", T.LongType(), False),
        T.StructField("n_surfaces", T.LongType(), False),
    ]
)

EDGES_SCHEMA = T.StructType(
    [
        T.StructField("src_entity_id", T.LongType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("dst_entity_id", T.LongType(), False),
        T.StructField("n_evidence", T.LongType(), False),
    ]
)

# the reference's annotated-sentence record (utils.py:732-737) as a table
ANNOTATIONS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("sent_idx", T.IntegerType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("lang", T.StringType(), True),
        T.StructField("entities", T.MapType(T.StringType(), T.ArrayType(SPAN)), False),
    ]
)
