"""Per-stage lineage manifests + checkpoint-resume (BASELINE.json:14).

Every materialized stage writes parquet plus a `_lineage.json` manifest
(stage name, row count, schema, per-file row counts, wall time). The
manifest is read off what the build already knows: the frame's own
schema and the parquet footers of the files just written, so writing
it starts no Spark job, and a completed stage is re-read with the
schema it stores. This module is the package's one reader of parquet
footers. Resume is relational: the still-to-do inputs are
``input.join(done_urls, "url", "left_anti")`` — the Spark mapping of the
reference's files_with_errors bookkeeping
(/root/reference/ontonotes5_to_json.py:80,106-107,145-151) generalized
to restartable stages.

Iceberg note: on a cluster these writes become
``df.writeTo("catalog.db.<stage>").append()`` with identical schemas;
the sandbox has no Iceberg runtime jar, so the format-agnostic
`materialize` falls back to partitioned parquet (SURVEY.md §7 M0).
Iceberg keeps the same per-file record counts in its manifests.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

MANIFEST_NAME = "_lineage.json"


def manifest_path(stage_dir: str) -> str:
    return os.path.join(stage_dir, MANIFEST_NAME)


def is_complete(stage_dir: str) -> bool:
    return os.path.exists(manifest_path(stage_dir))


def _hidden(name: str) -> bool:
    """Names Spark's file listing skips: a leading `.`, or a leading `_`
    outside a key=value partition name (`_temporary`, `_SUCCESS`)."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def parquet_footers(path: str) -> dict | None:
    """Footer metadata of every parquet file Spark would read at `path`,
    by file path — driver-side, no Spark job (the Iceberg analog is a
    snapshot's manifest). None if any footer cannot be read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    try:
        if not os.path.isdir(path):
            return {path: pq.read_metadata(path)}
        footers = {}
        # os.walk, not listdir: partitioned tables nest part files
        # under key=value subdirectories
        for root, dirs, files in os.walk(path):
            dirs[:] = [d for d in dirs if not _hidden(d)]
            for f in files:
                if f.endswith(".parquet") and not _hidden(f):
                    footers[os.path.join(root, f)] = pq.read_metadata(os.path.join(root, f))
        return footers
    except (OSError, pa.ArrowException):  # callers decide what a missing footer means
        return None


def parquet_num_rows(path: str) -> int | None:
    """Row count from parquet footer metadata, without a Spark job."""
    footers = parquet_footers(path)
    return None if footers is None else sum(m.num_rows for m in footers.values())


def materialize(
    df: DataFrame,
    stage_dir: str,
    stage_name: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> DataFrame:
    """Write a stage output + lineage manifest; return the re-read frame.

    Re-reading from parquet pins the stage boundary: downstream plans
    start from a fresh scan (column pruning / predicate pushdown apply)
    instead of dragging the full upstream lineage along. The write is
    the only Spark job: the re-read takes `df`'s schema and the manifest
    takes its row counts from the written files' footers. The manifest
    is written last, and atomically, so a stage dir without one (a run
    stopped after the parquet write) is rebuilt on resume.
    """
    spark = df.sparkSession
    t0 = time.time()
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(stage_dir)
    out = spark.read.schema(df.schema).parquet(stage_dir)
    footers = parquet_footers(stage_dir)
    if footers is None:
        raise RuntimeError(f"cannot read the parquet footers under {stage_dir}; no manifest written")
    per_file = {f: m.num_rows for f, m in footers.items()}
    manifest = {
        "stage": stage_name,
        "rows": sum(per_file.values()),
        "n_files": len(per_file),
        "per_file_rows": per_file,
        "schema": out.schema.jsonValue(),
        "partition_by": partition_by or [],
        "wall_sec": round(time.time() - t0, 3),
        "finished_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    tmp = manifest_path(stage_dir) + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, indent=2, sort_keys=True)
    os.replace(tmp, manifest_path(stage_dir))
    return out


def stage_schema(stage_dir: str) -> T.StructType:
    """The schema a completed stage's manifest stores."""
    return T.StructType.fromJson(read_manifest(stage_dir)["schema"])


def load_stage(spark: SparkSession, stage_dir: str) -> DataFrame:
    """A completed stage, read with its stored schema: no Spark job."""
    return spark.read.schema(stage_schema(stage_dir)).parquet(stage_dir)


# --- Iceberg table sink (cluster path; parquet fallback in-sandbox) --------
def _iceberg_catalogs_from(conf_items) -> list[str]:
    """Catalog names among (key, value) conf pairs: a catalog is a
    ``spark.sql.catalog.<name>`` entry (no deeper nesting — those are
    catalog OPTIONS) whose value is an Iceberg catalog impl."""
    out = []
    for k, v in conf_items:
        if (
            k.startswith("spark.sql.catalog.")
            and k.count(".") == 3
            and "iceberg" in str(v).lower()
        ):
            out.append(k.rsplit(".", 1)[1])
    return out


def iceberg_catalogs(spark: SparkSession) -> list[str]:
    """Names of configured Iceberg catalogs (spark.sql.catalog.<name> =
    org.apache.iceberg.spark.SparkCatalog), read from the launch conf —
    catalogs must be configured before the session starts. Empty in
    this sandbox (no Iceberg runtime jar on the classpath)."""
    return _iceberg_catalogs_from(spark.sparkContext.getConf().getAll())


def materialize_iceberg(
    df: DataFrame,
    table: str,
    partition_by: list[str] | None = None,
    mode: str = "replace",
) -> None:
    """Materialize a stage as a partitioned Iceberg table — the
    production sink of the north rule ("nodes/edges as partitioned
    Iceberg tables"). `table` is a catalog-qualified name
    (``catalog.db.stage``); per-partition lineage then comes from
    Iceberg's own snapshot/manifest metadata instead of
    ``_lineage.json``.

    Raises RuntimeError with setup guidance when no Iceberg catalog is
    configured. No pipeline code calls this sink: `run_pipeline`'s
    checkpointed mode writes parquet + manifest with `materialize`.
    """
    spark = df.sparkSession
    catalog = table.split(".", 1)[0]
    if catalog not in iceberg_catalogs(spark):
        raise RuntimeError(
            f"No Iceberg catalog {catalog!r} configured. Launch with "
            "--packages org.apache.iceberg:iceberg-spark-runtime-..., "
            f"--conf spark.sql.catalog.{catalog}="
            "org.apache.iceberg.spark.SparkCatalog and a warehouse conf; "
            "in this sandbox use lineage.materialize (parquet + manifest)."
        )
    writer = df.writeTo(table).using("iceberg")
    if partition_by:
        from pyspark.sql import functions as F

        writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
    if mode == "replace":
        writer.createOrReplace()
    elif mode == "append":
        writer.append()
    else:
        raise ValueError(f"unknown mode {mode!r}")


def resume_filter(input_df: DataFrame, done_dir: str, key: str = "url") -> DataFrame:
    """Rows of `input_df` not yet present in a completed stage output —
    the anti-join resume primitive (SURVEY.md §2.3)."""
    if not is_complete(done_dir):
        return input_df
    done_keys = load_stage(input_df.sparkSession, done_dir).select(key).distinct()
    return input_df.join(done_keys, key, "left_anti")


def read_manifest(stage_dir: str) -> dict:
    with open(manifest_path(stage_dir)) as fh:
        return json.load(fh)
