"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "triples_per_sec": ...}

The headline set = the full KG-construction DAG (the product) plus one
representative query per operator family. Each query is forced with a
count()/collect() so the measured time includes the full plan.
"""

from __future__ import annotations

import json
import gc
import os
import sys
import time

import pandas as pd


HEADLINE = [
    "rel_pricing_summary",
    "rel_shipping_priority",
    "rel_local_supplier_volume",
    "win_customer_running_spend",
    "txt_token_stats",
    "txt_vocab_reduce",
    "dedup_jaccard_pairs",
    "dedup_minhash_md5_buckets",
    "ann_cosine_topk",
    "evt_sessionize",
]

def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

    from ontonotes_5_parsing_spark.session import get_spark
    from ontonotes_5_parsing_spark.operators.registry import ALL_QUERIES
    from ontonotes_5_parsing_spark.corpus import web_pages_from_documents
    from ontonotes_5_parsing_spark.pipeline.run import build_extraction, build_graph

    spark = get_spark(app_name="bench")
    timings: dict[str, float] = {}

    # warm up the JVM and the Python UDF workers (package import per
    # worker) so timings measure steady-state throughput, not fork+import
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def _warm(s: pd.Series) -> pd.Series:
        import ontonotes_5_parsing_spark.kgref  # noqa: F401
        return s

    spark.range(0, 3200, 1, 32).select(_warm("id")).count()

    # --- the KG-construction DAG end-to-end (the headline metric) ---
    # The synthetic pages table is materialized ONCE as parquet before
    # the timed section (the BENCH/BASELINE.md protocol: the production
    # engine scans an Iceberg/parquet table, it does not generate its
    # input), so the timings measure scan→triples, not generator→triples.
    # min of 4 full runs: sandbox CPU-steal makes single-shot timings
    # swing ±3×; each run rebuilds the whole DAG from scratch
    # build_extraction / build_graph are timed separately so the eager
    # connected-components actions inside the link stage are attributed
    # to kg_pipeline_link_canonicalize, not to the triples stage
    from ontonotes_5_parsing_spark.corpus import read_web_pages

    # keyed by a hash of the ABSOLUTE sf_dir plus pid so concurrent runs
    # from different checkouts (or different dirs sharing a basename)
    # never overwrite each other's input mid-run
    import hashlib

    sf_tag = hashlib.md5(
        os.path.abspath(sf_dir).encode()
    ).hexdigest()[:8]
    pages_path = (
        f"/tmp/bench_pages_{os.path.basename(sf_dir.rstrip('/'))}"
        f"_{sf_tag}_{os.getpid()}.parquet"
    )
    web_pages_from_documents(spark, sf_dir).write.mode("overwrite").parquet(pages_path)

    kg_extract_sec = kg_link_sec = float("inf")
    kg_stats = {}

    def kg_rep():
        nonlocal kg_extract_sec, kg_link_sec
        spark.catalog.clearCache()
        t0 = time.time()
        pages = read_web_pages(spark, pages_path)
        out = build_extraction(pages)
        kg_stats["n_triples"] = out["triples"].count()
        kg_extract_sec = min(kg_extract_sec, time.time() - t0)
        t0 = time.time()
        graph = build_graph(out["mentions"], out["triples"])
        kg_stats["n_edges"] = graph["edges"].count()
        kg_link_sec = min(kg_link_sec, time.time() - t0)

    for _ in range(4):
        kg_rep()
    timings["kg_pipeline_triples"] = round(kg_extract_sec, 3)
    timings["kg_pipeline_link_canonicalize"] = round(kg_link_sec, 3)

    # --- one representative query per operator family ---
    # min of 3 repetitions: the sandbox shows heavy background load and
    # single-shot timings swing ±3×; min-of-n is the standard damping
    from ontonotes_5_parsing_spark.operators import dedup as _dedup

    for name in HEADLINE:
        fn, _sql = ALL_QUERIES[name]
        best = float("inf")
        reps_done = 0
        # adaptive min-of-N: cheap (sub-2s) queries get 6 samples instead
        # of 3 — their timings are scheduling-bound and a single steal
        # spike can triple a 0.2 s query (the round-2 driver run showed
        # exactly that on win_customer_running_spend / txt_token_stats)
        while reps_done < 4 or (best < 2.0 and reps_done < 6):
            # memoized queries must rebuild per repetition or min-of-N
            # would time only the cached tail; gc.collect releases the
            # py4j refs of the PREVIOUS rep's checkpointed blocks so
            # ContextCleaner can unpersist them instead of accumulating
            _dedup._JACCARD_CACHE.clear()
            gc.collect()
            t0 = time.time()
            fn(spark, sf_dir).count()
            best = min(best, time.time() - t0)
            reps_done += 1
        timings[name] = round(best, 3)

    total = round(sum(timings.values()), 3)
    kg_sec = kg_extract_sec + kg_link_sec
    n_triples = kg_stats["n_triples"]
    n_edges = kg_stats["n_edges"]
    result = {
        "metric": "kg_construct_headline_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir,
        "n_triples": n_triples,
        "n_edges": n_edges,
        "triples_per_sec": round(n_triples / kg_sec, 1),
        "master": spark.sparkContext.master,
    }
    print(json.dumps(result))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
