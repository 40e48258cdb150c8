"""Steady-state knowledge-graph build benchmark.

    python3 kgbench/run.py --workload crawl --seed 1 --seconds 15 --trace 0 \
        --master 'local[4]' --driver-mem 1g --java-opts=-XX:CompileThresholdScaling=0.1

Run from the repository root. One process: it starts a Spark session,
writes the workload's seeded pages as parquet, computes the
single-process `kgref` reference, warms up with a few full builds, then
repeats full builds (pages parquet -> triples, nodes, edges) for
`--seconds` seconds. Every build is checked; the last stdout line is
one JSON object with `correct`, `attempted`, `failed` and `metrics`.

`--trace 0` reports the end-to-end metrics (`setup_s`, `build_s.p50`,
`pages_per_s`, `peak_rss_mb`). `--trace 1` alternates plain builds with
traced ones that call each layer's public functions in turn under a
job group of their own, and reports the per-layer metrics. DESIGN.md
says why each workload and metric exists.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "ontonotes_5_parsing_spark"

# Full builds run inside set-up, before timing: the first is cold (JVM,
# Python workers); after the second, builds are near their plateau.
WARMUP_BUILDS = 2

WORKLOADS = {
    "crawl": {"name": "crawl", "pages": 2000, "mode": "memory"},
    "wide_vocab": {
        "name": "wide_vocab",
        "pages": 1000,
        "numeric_sentences": 1,
        "numbers_per_sentence": 2,
        "number_lo": 10_000,
        "number_span": 5_000,
        "mode": "memory",
    },
    # `run_pipeline(work_dir=...)`. Not listed in BENCHMARK.json: its
    # triples miss the coreference triples, so every build fails the
    # check (see DESIGN.md). Kept runnable to show that failure.
    "checkpointed": {"name": "checkpointed", "pages": 2000, "mode": "checkpointed"},
}

TRIPLE_COLS = ["url", "sent_idx", "subj", "pred", "obj", "subj_type", "obj_type",
               "subj_span.start", "subj_span.end", "obj_span.start", "obj_span.end"]
MENTION_COLS = ["url", "sent_idx", "start", "end", "surface", "ent_type"]
LINEAGE_STAGES = ["sentences", "mentions", "triples", "linked", "nodes", "edges"]


class TreeMemory(threading.Thread):
    """Peak resident memory of this process and all its descendants
    (the JVM and the Python workers), read from /proc. Each process
    counts its proportional set size, so pages that forked Python
    workers share are counted once, not once per worker."""

    def __init__(self, interval: float = 0.25):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_bytes = 0
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.is_set():
            self.peak_bytes = max(self.peak_bytes, self.sample())
            self._halt.wait(self.interval)

    def stop(self) -> None:
        self._halt.set()
        self.join()

    @staticmethod
    def sample() -> int:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            children.setdefault(ppid, []).append(int(entry))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    total += next(int(line.split()[1]) * 1024
                                  for line in fh if line.startswith("Pss:"))
            except (OSError, StopIteration):
                continue
        return total


def reference(pages: list[dict]) -> tuple[list[tuple], list[tuple]]:
    """Triples and mentions of the pages, computed single-process by
    the `kgref` kernels: extract_text -> split_sentences ->
    annotate_sentence -> extract_triples_with_coref."""
    from ontonotes_5_parsing_spark.kgref import annotate_sentence, extract_text, split_sentences
    from ontonotes_5_parsing_spark.kgref.coref import CorefState, extract_triples_with_coref

    triples, mentions = [], []
    for page in pages:
        text = extract_text(page["html"])
        if not text:
            continue
        state = CorefState()
        for sent_idx, sent in enumerate(split_sentences(text)):
            ann = annotate_sentence(sent)
            if not ann["tokens"]:
                continue
            for etype, spans in ann["entities"].items():
                for start, end in spans:
                    mentions.append((page["url"], sent_idx, start, end, sent[start:end], etype))
            for t in extract_triples_with_coref(
                sent, ann["tokens"], ann["bounds"], ann["bio"], state
            ):
                triples.append((page["url"], sent_idx, t["subj"], t["pred"], t["obj"],
                                t["subj_type"], t["obj_type"], *t["subj_span"], *t["obj_span"]))
    return triples, mentions


def digest(rows) -> tuple[int, int, int]:
    """Order-insensitive digest of rows of plain values: row count and
    two sums of 60-bit slices of each row string's md5."""
    n = h1 = h2 = 0
    for row in rows:
        text = "\u001f".join("\u0000" if v is None else str(v) for v in row)
        d = hashlib.md5(text.encode("utf-8")).hexdigest()
        n, h1, h2 = n + 1, h1 + int(d[:15], 16), h2 + int(d[15:30], 16)
    return n, h1, h2


def spark_digests(tables: dict) -> dict:
    """`digest` of each table, computed by Spark in one job. `tables`
    maps a name to (DataFrame, columns)."""
    from functools import reduce

    from pyspark.sql import functions as F

    parts = []
    for name, (df, cols) in tables.items():
        row = F.concat_ws("\u001f", *[F.coalesce(F.col(c).cast("string"), F.lit("\u0000"))
                                       for c in cols])
        parts.append(df.select(F.lit(name).alias("t"), F.md5(row).alias("d")))

    def hex_sum(lo: int):
        return F.sum(F.conv(F.substring("d", lo, 15), 16, 10).cast("decimal(38,0)"))

    agg = (
        reduce(lambda a, b: a.unionByName(b), parts)
        .groupBy("t")
        .agg(F.count(F.lit(1)), hex_sum(1), hex_sum(16))
        .collect()
    )
    found = {r[0]: (int(r[1]), int(r[2]), int(r[3])) for r in agg}
    return {name: found.get(name, (0, 0, 0)) for name in tables}


def timing_summary(values: list[float]) -> dict:
    """Median, and the highest percentile with at least ten samples
    beyond it (none below twenty samples), with the sample count."""
    n = len(values)
    out = {"n": n, "p50": statistics.median(values)}
    if n >= 20:
        p = math.floor(100 * (1 - 10 / n))
        out[f"p{p}"] = statistics.quantiles(values, n=100, method="inclusive")[p - 1]
    return out


class Bench:
    def __init__(self, args, spec: dict, run_dir: Path, bounds: dict):
        self.args = args
        self.spec = spec
        self.run_dir = run_dir
        self.bounds = bounds
        self.pages_path = str(run_dir / "pages")
        self.builds: list[dict] = []  # time series, warm-up included
        self.graph_hashes: tuple | None = None
        self.failures: list[str] = []
        self.n_builds = 0
        self.last_traced: dict | None = None  # outputs of the last good traced build

    # -- session --------------------------------------------------------
    def start_session(self):
        from ontonotes_5_parsing_spark.session import get_spark

        conf = {
            "spark.driver.memory": self.args.driver_mem,
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": str(self.run_dir / "warehouse"),
            # a fixed-size heap, so resident memory does not depend on
            # when the collector chose to grow it
            "spark.driver.extraJavaOptions": (
                f"-Xms{self.args.driver_mem} {self.args.java_opts} "
                f"-Djava.io.tmpdir={self.run_dir / 'tmp'}"),
            "spark.ui.showConsoleProgress": "false",
        }
        return get_spark(app_name=f"kgbench-{self.spec['name']}", master=self.args.master,
                         extra_conf=conf)

    # -- builds ---------------------------------------------------------
    def build(self, spark) -> dict:
        """One full build through the public API; returns the outputs,
        materialized."""
        from ontonotes_5_parsing_spark import corpus
        from ontonotes_5_parsing_spark.pipeline.run import (
            build_extraction,
            build_graph,
            run_pipeline,
        )

        pages = corpus.read_web_pages(spark, self.pages_path)
        if self.spec["mode"] == "checkpointed":
            return run_pipeline(pages, work_dir=str(self.run_dir / f"work-{self.n_builds}"))
        out = build_extraction(pages)
        out.update(build_graph(out["mentions"], out["triples"]))
        return out

    def traced_build(self, spark, tracer, parent: str) -> tuple[dict, dict]:
        """The layers one by one, each forced to materialize inside its
        own span: corpus scan, fused extraction stages, entity linking,
        canonical nodes/edges, then lineage materialization of the stage
        outputs. Returns the outputs and the lineage re-reads."""
        from ontonotes_5_parsing_spark import corpus
        from ontonotes_5_parsing_spark.pipeline import lineage
        from ontonotes_5_parsing_spark.pipeline.canonicalize import build_nodes_edges
        from ontonotes_5_parsing_spark.pipeline.linking import link_entities
        from ontonotes_5_parsing_spark.pipeline.run import build_extraction

        with tracer.span("corpus", parent) as s:
            pages = corpus.read_web_pages(spark, self.pages_path).persist()
            s["rows"] = pages.count()
        s["partitions"] = pages.rdd.getNumPartitions()
        with tracer.span("stages", parent) as s:
            out = build_extraction(pages)
            for name in ("sentences", "mentions", "triples"):
                s[name] = out[name].count()
        with tracer.span("linking", parent) as s:
            out["linked"] = link_entities(out["mentions"]).persist()
            s["vocab"] = out["linked"].count()
        with tracer.span("canonicalize", parent) as s:
            nodes, edges = build_nodes_edges(out["triples"], out["linked"])
            out["nodes"], out["edges"] = nodes.persist(), edges.persist()
            s["edges"] = out["edges"].count()
            s["nodes"] = out["nodes"].count()
        reread = {}
        base = self.run_dir / f"lineage-{self.n_builds}"
        with tracer.span("lineage", parent) as s:
            for name in LINEAGE_STAGES:
                reread[name] = lineage.materialize(out[name], str(base / name), name)
        s["files"] = sum(lineage.read_manifest(str(base / n))["n_files"] for n in LINEAGE_STAGES)
        s["bytes_written"] = sum(f.stat().st_size for f in base.rglob("*.parquet"))
        return out, reread

    # -- checks ---------------------------------------------------------
    def check(self, out: dict) -> str | None:
        """None if the build's outputs are right, else the reason."""
        got = spark_digests({
            "triples": (out["triples"], TRIPLE_COLS),
            "mentions": (out["mentions"], MENTION_COLS),
            "nodes": (out["nodes"], out["nodes"].columns),
            "edges": (out["edges"], out["edges"].columns),
        })
        for name in ("triples", "mentions"):
            if got[name] != self.reference[name]:
                return (f"{name}: {got[name][0]} rows, reference {self.reference[name][0]}; "
                        "hash differs")
        graph = (got["nodes"], got["edges"])
        if self.graph_hashes is None:
            self.graph_hashes = graph
        elif graph != self.graph_hashes:
            return "nodes/edges differ from the run's first build"
        return None

    def record(self, phase: str, seconds: float, problem: str | None) -> None:
        self.n_builds += 1
        self.builds.append({"phase": phase, "s": seconds, "ok": problem is None})
        if problem is not None:
            self.failures.append(f"build {self.n_builds} ({phase}): {problem}")

    def timed_build(self, spark, phase: str, tracer=None) -> float:
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        try:
            if tracer is None:
                out = self.build(spark)
                seconds = time.perf_counter() - t0
            else:
                with tracer.span("run", f"build-{self.n_builds}") as span:
                    out = self.build(spark)
                seconds = span["s"]
            problem = self.check(out)
        except Exception as exc:  # noqa: BLE001 — a failed build is counted, not fatal
            seconds = time.perf_counter() - t0
            problem = f"{type(exc).__name__}: {exc}"
        self.record(phase, seconds, problem)
        return seconds

    def traced(self, spark, tracer) -> float | None:
        spark.catalog.clearCache()
        parent = f"build-{self.n_builds}"
        first_span = len(tracer.spans)
        try:
            out, reread = self.traced_build(spark, tracer, parent)
            problem = self.check(out) or self.check(reread)
        except Exception as exc:  # noqa: BLE001
            problem = f"{type(exc).__name__}: {exc}"
        seconds = sum(s["s"] for s in tracer.spans[first_span:] if s["name"] != "lineage")
        self.record("traced", seconds, problem)
        if problem is not None:
            return None
        self.last_traced = out
        return seconds

    # -- the run --------------------------------------------------------
    def run(self, t_start: float) -> dict:
        import gen

        detail: dict = {"workload": self.spec["name"], "seed": self.args.seed}
        setup = detail["setup_parts_s"] = {}
        t0 = time.perf_counter()
        spark = self.start_session()
        session_start_s = setup["session"] = time.perf_counter() - t0
        try:
            t0 = time.perf_counter()
            pages = gen.generate(self.spec, self.args.seed)
            gen.write_pages(pages, self.pages_path)
            setup["input"] = time.perf_counter() - t0
            t0 = time.perf_counter()
            ref_triples, ref_mentions = reference(pages)
            kernel_s = setup["reference"] = time.perf_counter() - t0
            detail["input"] = {"pages": len(pages), "ref_triples": len(ref_triples),
                               "ref_mentions": len(ref_mentions)}
            del pages
            t0 = time.perf_counter()
            self.reference = {"triples": digest(ref_triples), "mentions": digest(ref_mentions)}
            del ref_triples, ref_mentions
            setup["digest"] = time.perf_counter() - t0
            t0 = time.perf_counter()
            for _ in range(WARMUP_BUILDS):
                self.timed_build(spark, "warmup")
            setup["warmup"] = time.perf_counter() - t0
            setup_s = setup["total"] = time.perf_counter() - t_start

            if self.args.trace:
                metrics = self.run_traced(spark, session_start_s, kernel_s, detail)
            else:
                metrics = self.run_plain(spark, setup_s, detail)
        finally:
            t0 = time.perf_counter()
            stop_spark(spark)
            detail["stop_s"] = time.perf_counter() - t0
        detail["builds"] = self.builds
        detail["failures"] = self.failures
        return {"metrics": metrics, "detail": detail}

    def run_plain(self, spark, setup_s: float, detail: dict) -> dict:
        timed: list[float] = []
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < self.args.seconds or len(timed) < 2:
            timed.append(self.timed_build(spark, "timed"))
        half = len(timed) // 2
        first, second = statistics.median(timed[:half]), statistics.median(timed[-half:])
        bound = self.bounds["build_s.p50"]
        detail["build_s"] = timing_summary(timed)
        detail["steady_check"] = {
            "first_half_p50": first, "second_half_p50": second,
            "drop_share": 1 - second / first, "bound": bound,
            "ok": 1 - second / first <= bound,
        }
        return {
            "setup_s": {"value": setup_s, "unit": "s"},
            "build_s.p50": {"value": statistics.median(timed), "unit": "s"},
            "pages_per_s": {"value": self.spec["pages"] * len(timed) / sum(timed),
                            "unit": "1/s"},
        }

    def run_traced(self, spark, session_start_s: float, kernel_s: float, detail: dict) -> dict:
        from spans import Tracer

        tracer = Tracer(spark)
        plain: list[float] = []
        traced: list[float] = []
        # a plain and a traced build per round; no round is started
        # that the last one says would end past --seconds
        t0 = time.perf_counter()
        elapsed = last_round = 0.0
        while not traced or elapsed + last_round <= self.args.seconds:
            plain.append(self.timed_build(spark, "plain", tracer))
            seconds = self.traced(spark, tracer)
            if seconds is None:
                break
            traced.append(seconds)
            last_round = time.perf_counter() - t0 - elapsed
            elapsed += last_round
        detail["spans"] = tracer.spans
        return self.layer_metrics(spark, tracer, plain, traced, session_start_s, kernel_s,
                                  detail)

    def layer_metrics(self, spark, tracer, plain, traced, session_start_s, kernel_s, detail):
        from ontonotes_5_parsing_spark.pipeline.linking import (
            add_minhash_bands,
            candidate_pairs,
            score_pairs,
            surface_vocab,
        )
        from pyspark.sql import functions as F

        slots = spark.sparkContext.defaultParallelism
        metrics: dict = {}
        absent: list[str] = []

        def put(name, value, unit):
            if value is None:
                absent.append(name)
            else:
                metrics[name] = {"value": value, "unit": unit}

        def spans(name):
            return [s for s in tracer.spans if s["name"] == name and s["parent"].startswith("build-")]

        def med_s(name):
            return statistics.median(s["s"] for s in spans(name))

        def count(name, key):
            """A count from the span; the same in every traced build,
            else reported absent (and listed under count_drift)."""
            values = {s.get(key) for s in spans(name)}
            if len(values) != 1 or None in values:
                detail.setdefault("count_drift", {})[f"{name}.{key}"] = sorted(
                    values, key=lambda v: (v is None, v))
                return None
            return values.pop()

        put("session.start_s", session_start_s, "s")
        put("corpus.s", med_s("corpus"), "s")
        put("corpus.partitions", count("corpus", "partitions"), "count")
        put("corpus.tasks", count("corpus", "tasks"), "count")

        stages_s = med_s("stages")
        cpu = [s.get("executor_cpu_ns") for s in spans("stages")]
        put("stages.s", stages_s, "s")
        for key in ("jobs", "tasks", "sentences", "mentions", "triples"):
            put(f"stages.{key}", count("stages", key), "count")
        put("stages.executor_cpu_s",
            None if None in cpu else statistics.median(cpu) / 1e9, "s")
        put("stages.kernel_s", kernel_s, "s")
        put("stages.kernel_share", kernel_s / (stages_s * slots), "ratio")

        put("linking.s", med_s("linking"), "s")
        for key in ("jobs", "stages", "tasks", "vocab"):
            put(f"linking.{key}", count("linking", key), "count")
        put("linking.shuffle_write_bytes", count("linking", "shuffle_write_bytes"), "bytes")
        put("linking.spill_bytes", count("linking", "spill_bytes"), "bytes")

        out = self.last_traced
        with tracer.span("linking-pairs", "probe") as s:
            if out is not None:
                pairs = candidate_pairs(add_minhash_bands(surface_vocab(out["mentions"])))
                pairs = pairs.persist()
                s["candidate_pairs"] = pairs.count()
                s["accepted_pairs"] = score_pairs(pairs).count()
                s["largest_component"] = (out["linked"].groupBy("component").count()
                                          .agg(F.max("count")).first()[0])
        candidates, accepted = s.get("candidate_pairs"), s.get("accepted_pairs")
        put("linking.candidate_pairs", candidates, "count")
        put("linking.accepted_pairs", accepted, "count")
        put("linking.accept_ratio", accepted / candidates if candidates else None, "ratio")
        detail["largest_component"] = s.get("largest_component")

        put("canonicalize.s", med_s("canonicalize"), "s")
        for key in ("jobs", "tasks", "nodes", "edges"):
            put(f"canonicalize.{key}", count("canonicalize", key), "count")
        put("canonicalize.shuffle_write_bytes", count("canonicalize", "shuffle_write_bytes"),
            "bytes")

        put("lineage.s", med_s("lineage"), "s")
        put("lineage.jobs", count("lineage", "jobs"), "count")
        put("lineage.bytes_written", count("lineage", "bytes_written"), "bytes")
        put("lineage.files", count("lineage", "files"), "count")

        for key in ("jobs", "stages", "tasks"):
            put(f"run.{key}", count("run", key), "count")
        plain_p50 = statistics.median(plain)
        put("run.build_s.p50", plain_p50, "s")
        traced_p50 = statistics.median(traced) if traced else None
        put("trace.build_s.p50", traced_p50, "s")
        put("trace.overhead_share", None if traced_p50 is None else traced_p50 / plain_p50 - 1,
            "ratio")
        detail["absent"] = absent
        return metrics


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers) to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--master", default="local[4]")
    ap.add_argument("--driver-mem", default="1g")
    ap.add_argument("--java-opts", default="", help="extra driver JVM options")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    if args.trace and WORKLOADS[args.workload]["mode"] == "checkpointed":
        print("kgbench: the checkpointed workload has no traced run", file=sys.stderr)
        return 2
    if not (ROOT / PACKAGE).is_dir():
        print(f"kgbench: no {PACKAGE}/ next to {HERE.name}/; run from a full checkout",
              file=sys.stderr)
        return 2
    with open(ROOT / "BENCHMARK.json") as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}-{time.time_ns()}"
    run_dir = ROOT / ".kgbench" / "runs" / run_id
    for sub in ("spark-local", "tmp"):
        (run_dir / sub).mkdir(parents=True)
    os.environ.update({
        "SPARK_LOCAL_DIRS": str(run_dir / "spark-local"),
        "SPARK_DRIVER_MEM": args.driver_mem,
        "TMPDIR": str(run_dir / "tmp"),
        # every JVM, spark-submit's launcher too, would otherwise write
        # an hsperfdata file under /tmp whatever the temp dir
        "JAVA_TOOL_OPTIONS": " ".join(
            o for o in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData") if o),
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p),
    })
    os.environ.pop("MASTER", None)
    sys.path[:0] = [str(ROOT), str(HERE)]

    memory = TreeMemory()
    memory.start()
    try:
        result = Bench(args, WORKLOADS[args.workload], run_dir, bounds).run(t_start)
    finally:
        memory.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
    detail, metrics = result["detail"], result["metrics"]
    if not args.trace:
        metrics["peak_rss_mb"] = {"value": memory.peak_bytes / 2**20, "unit": "MB"}
    detail["env"] = {"master": args.master, "driver_mem": args.driver_mem,
                     "java_opts": args.java_opts,
                     "nproc": os.cpu_count(), "spark_local_dirs": "<run dir>/spark-local"}

    results_dir = ROOT / ".kgbench" / "results"
    results_dir.mkdir(parents=True, exist_ok=True)
    with open(results_dir / f"{run_id}.json", "w") as fh:
        json.dump({"metrics": metrics, **detail}, fh, indent=1)
    summary = {k: v for k, v in detail.items() if k not in ("spans", "builds")}
    summary["build_series_s"] = [round(b["s"], 4) for b in detail["builds"]]
    print(json.dumps(summary))

    steady = detail.get("steady_check")
    if steady is not None and not steady["ok"]:
        print(f"kgbench: steady check failed: timed builds sped up {steady['drop_share']:.1%} "
              "from the first half to the second, more than the build_s.p50 bound",
              file=sys.stderr)
    attempted = len(detail["builds"])
    failed = len(detail["failures"])
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
