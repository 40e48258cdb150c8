"""Data-size scaling evidence: per-triple cost at 100k vs 400k pages,
fixed parallelism (round-4 VERDICT ask #3).

The 100x-design claims rest on plan shapes plus a round-2 2x-corpus
check; this re-runs the full DAG on HEAD at two corpus sizes with the
SAME local[8] resources in fresh spark-submit JVMs and reports:

- per-triple wall cost at each size (flat cost == linear data scaling;
  the driver-instruction criterion is ~10%),
- the Catalyst size estimate of the mentions input at each size, and
  whether the static-plan scope engages (<= 512 MiB) or no-ops (AQE
  stays ON) — evidencing the untested half of the gate on real data.

Usage: python tools/data_scaling.py [--sizes 100000,400000] [--cores 8]
Prints one JSON line per size plus a summary line.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def materialize(n_pages: int) -> str:
    path = f"/tmp/web_pages_scale_{n_pages}.parquet"
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    sys.path.insert(0, REPO)
    from ontonotes_5_parsing_spark.corpus import write_web_pages_parquet
    from ontonotes_5_parsing_spark.session import get_spark

    spark = get_spark(app_name=f"materialize_{n_pages}")
    write_web_pages_parquet(spark, n_pages, path)
    spark.stop()
    return path


def probe_gate(pages_parquet: str) -> dict:
    """Catalyst size estimate of the mentions plan + gate decision,
    in-process (no actions run)."""
    sys.path.insert(0, REPO)
    from ontonotes_5_parsing_spark.corpus import read_web_pages
    from ontonotes_5_parsing_spark.pipeline.plansize import (
        STATIC_PLAN_MAX_BYTES,
        plan_size_bytes,
    )
    from ontonotes_5_parsing_spark.pipeline.run import build_extraction
    from ontonotes_5_parsing_spark.session import get_spark

    spark = get_spark(app_name="gate_probe", master="local[2]")
    out = build_extraction(read_web_pages(spark, pages_parquet))
    est = plan_size_bytes(out["mentions"])
    spark.stop()
    return {
        "mentions_size_estimate_bytes": est,
        "gate_bytes": STATIC_PLAN_MAX_BYTES,
        "static_plan_engages": est <= STATIC_PLAN_MAX_BYTES,
    }


def spark_run(pages_parquet: str, cores: int, repeat: int) -> dict:
    cmd = [
        "spark-submit", "--master", f"local[{cores}]",
        "--driver-memory", os.environ.get("SPARK_DRIVER_MEM", "48g"),
        os.path.join(REPO, "ontonotes_5_parsing_spark", "job.py"),
        "--pages-parquet", pages_parquet, "--repeat", str(repeat),
    ]
    env = dict(os.environ, PYTHONPATH=REPO)
    proc = subprocess.run(
        cmd, capture_output=True, text=True, cwd=REPO, env=env, timeout=2400
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        tail = "\n".join(proc.stderr.strip().splitlines()[-20:])
        raise RuntimeError(
            f"spark-submit exited {proc.returncode}; stderr tail:\n{tail}"
        )
    return json.loads(lines[-1])


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sizes", default="100000,400000")
    ap.add_argument("--cores", type=int, default=8)
    ap.add_argument("--repeat", type=int, default=2)
    args = ap.parse_args()
    sizes = [int(s) for s in args.sizes.split(",")]

    results = {}
    for n in sizes:
        path = materialize(n)
        gate = probe_gate(path)
        run = spark_run(path, args.cores, args.repeat)
        n_triples = run["stages"]["triples"]
        rec = {
            "n_pages": n,
            "cores": args.cores,
            "n_triples": n_triples,
            "triples_wall_sec": run["triples_wall_sec"],
            "usec_per_triple": round(
                1e6 * run["triples_wall_sec"] / n_triples, 3
            ),
            "stages": run["stages"],
            **gate,
        }
        results[n] = rec
        print(json.dumps(rec))

    if len(sizes) == 2:
        a, b = (results[s] for s in sizes)
        ratio = b["usec_per_triple"] / a["usec_per_triple"]
        print(json.dumps({
            "metric": "per_triple_cost_ratio_large_over_small",
            "value": round(ratio, 3),
            "flat_within_10pct": abs(ratio - 1.0) <= 0.10,
            "sizes": sizes,
        }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
