"""spark-submit entry point for the full KG-construction DAG.

    spark-submit --py-files <zip> ontonotes_5_parsing_spark/job.py \
        --n-pages 10000 --work-dir /data/kg_run --master local[32]

Runs web_pages → sentences (fused extract/parse/NER/coref/triples) →
mentions, triples → linking → canonicalize → nodes/edges. With
--work-dir every stage is materialized with a lineage manifest and a
re-run resumes completed stages (BASELINE.json:14); the counts are the
same either way.
Prints a one-line JSON summary with stage row counts and throughput.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__)
    parser.add_argument("--n-pages", type=int, default=1000,
                        help="synthetic corpus size (deterministic, seed 42)")
    parser.add_argument("--seed", type=int, default=42)
    parser.add_argument("--work-dir", type=str, default=None,
                        help="checkpoint dir; re-run resumes completed stages")
    parser.add_argument("--master", type=str, default=None,
                        help="override master (default local[$SPARK_GRAFT_CPUS])")
    parser.add_argument("--from-documents", type=str, default=None,
                        help="derive pages from <dir>/documents.parquet instead of --n-pages")
    parser.add_argument("--repeat", type=int, default=1,
                        help="run the DAG N times, report min wall (steady-state)")
    parser.add_argument("--pages-parquet", type=str, default=None,
                        help="read a materialized web_pages parquet instead of generating")
    args = parser.parse_args(argv)

    from ontonotes_5_parsing_spark.session import get_spark
    from ontonotes_5_parsing_spark import corpus
    from ontonotes_5_parsing_spark.pipeline import run_pipeline
    from ontonotes_5_parsing_spark.pipeline.run import build_extraction, build_graph

    spark = get_spark(app_name="kg_construct", master=args.master)
    wall = float("inf")
    triples_wall = float("inf")
    counts: dict[str, int] = {}
    for _ in range(max(args.repeat, 1)):
        spark.catalog.clearCache()
        t0 = time.time()
        if args.pages_parquet:
            pages = corpus.read_web_pages(spark, args.pages_parquet)
        elif args.from_documents:
            pages = corpus.web_pages_from_documents(spark, args.from_documents, args.seed)
        else:
            pages = corpus.web_pages_df(spark, args.n_pages, args.seed)
        if args.work_dir:
            out = run_pipeline(pages, work_dir=args.work_dir)
            counts["triples"] = out["triples"].count()
            triples_wall = min(triples_wall, time.time() - t0)
        else:
            out = build_extraction(pages)
            counts["triples"] = out["triples"].count()
            triples_wall = min(triples_wall, time.time() - t0)
            out.update(build_graph(out["mentions"], out["triples"]))
        counts.update(
            {
                name: out[name].count()
                for name in ("sentences", "mentions", "nodes", "edges")
            }
        )
        wall = min(wall, time.time() - t0)
    summary = {
        "stages": counts,
        "wall_sec": round(wall, 2),
        "triples_wall_sec": round(triples_wall, 2),
        "triples_per_sec": round(counts["triples"] / triples_wall, 1),
        "work_dir": args.work_dir,
        "master": spark.sparkContext.master,
    }
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
