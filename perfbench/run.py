"""The repository benchmark.

    python3 perfbench/run.py --workload kg-small-pages --seed 1 \
        --seconds 1 --trace 0

Runs one workload at local[nproc / 2] from the root of a checkout, checks
the outputs, prints one `name value unit` line per metric and, as the
last line, one JSON object {correct, attempted, failed, metrics}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 they
are the per-layer ones.  perfbench/README.md defines every metric.

All files go under .perfbench_runs/ in the checkout and are removed at
the end.  The JVM and its Python workers are stopped and waited for.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from checks import (digest, extracted_text, golden_triples,  # noqa: E402
                    read_rows, same_tables)
from kernels import KERNELS, time_curation_kernels, time_kg_kernels  # noqa: E402
from procs import PeakRss, steal_ticks, stop_jvm  # noqa: E402
from stagetrace import (MB, STAGE_METRICS, StageTracer,  # noqa: E402
                        fold, read_event_log)

# inputs repeat every SEED_RANGE seeds: perfbench/expected.json holds
# the curated/ranks digests of each of them
SEED_RANGE = 32
KERNEL_SAMPLE = 200

KG_STAGES = {"docs": "html_text", "ner_model": "mentions",
             "mentions": "mentions", "links": "linker",
             "canon": "canonicalize", "triples_raw": "relations",
             "triples": "materialize"}
CURATION_STAGES = {"dedup": "dedup", "signals": "curation",
                   "curated": "datapipeline", "links": "webgraph",
                   "host_graph": "webgraph", "ranks": "webgraph"}

WORKLOADS = {
    "kg-small-pages": {"entry": "pipeline", "docs": 500, "heavy": 1,
                       "stages": KG_STAGES,
                       "resumed": ["links", "canon", "triples_raw",
                                   "triples"]},
    "curation": {"entry": "datapipeline", "docs": 500, "heavy": 1,
                 "stages": CURATION_STAGES,
                 "resumed": ["signals", "curated", "links", "host_graph",
                             "ranks"]},
}

END_TO_END = {"wall_s": "s", "pages_per_s": "pages/s", "setup_s": "s",
              "resume_s": "s"}
STAGE_UNITS = {"wall_s": "s", "rows": "count", "jobs": "count",
               "tasks": "count", "task_s": "s", "task_skew": "ratio",
               "python_s": "s", "shuffle_mb": "MB"}


def per_layer_units() -> dict[str, str]:
    units = {}
    for stages in (KG_STAGES, CURATION_STAGES):
        for stage, module in stages.items():
            for m in STAGE_METRICS:
                units[f"{module}.{stage}.{m}"] = STAGE_UNITS[m]
    units.update({"peak_rss_mb": "MB", "peak_rss.java_mb": "MB",
                  "peak_rss.python_mb": "MB",
                  "driver.jobs": "count", "driver.s": "s",
                  "materialize.footer_manifest_ms": "ms",
                  "spark.spill_mb": "MB", "spark.gc_s": "s"})
    units.update({k: "us" for k in KERNELS})
    units.update({"trace.wall_s": "s", "trace.overhead_s": "s",
                  "trace.gap_s": "s"})
    return units


EXPECTED = os.path.join(HERE, "expected.json")
# Spark task slots: half the CPUs this process may use.  The driver
# JVM's own threads (JIT compiler, GC, scheduler), the Python driver and
# worker start-up need the rest; at local[<every CPU>] they contend with
# the tasks and the timings spread with the machine's load (see
# perfbench/README.md, "Cores")
CORES = max(1, len(os.sched_getaffinity(0)) // 2)


class Bench:
    def __init__(self, workload: str, seed: int, run_dir: str):
        self.name = workload
        self.w = WORKLOADS[workload]
        self.seed = seed
        self.run_dir = run_dir
        self.sf_dir = os.path.join(run_dir, "sf")
        self.input_dir = os.path.join(run_dir, "input")
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.n_outs = 0
        self.rss_mb: list[dict] = []
        self.stage_walls: list[dict] = []
        self.doc_ids: list[int] = []
        self.pages: list[dict] = []

    # ------------------------------------------------------------ inputs
    def write_documents(self) -> None:
        """documents.parquet with every doc_id shifted by
        (seed mod SEED_RANGE) * REPLICA_OFFSET, the shift
        synth_pages(replicate=...) uses, so every golden stays valid."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from kgp.corpus import REPLICA_OFFSET

        t = pq.read_table(os.path.join(HERE, "data", "documents.parquet"))
        t = t.slice(0, self.w["docs"])
        shift = (self.seed % SEED_RANGE) * REPLICA_OFFSET
        ids = pc.add(t.column("doc_id"), pa.scalar(shift, pa.int64()))
        os.makedirs(self.sf_dir)
        pq.write_table(t.set_column(0, "doc_id", ids),
                       os.path.join(self.sf_dir, "documents.parquet"))
        self.doc_ids = ids.to_pylist()

    def write_pages(self, spark) -> None:
        """Commit the input `pages` table, outside every timed wall."""
        import pyarrow.parquet as pq
        from kgp import corpus, materialize, skew

        pages = corpus.synth_pages(
            spark, self.sf_dir, heavy=self.w["heavy"],
            with_doc_id=self.w["entry"] == "datapipeline")
        materialize.write_stage(
            spark, skew.spread(pages, ["url"],
                               spark.sparkContext.defaultParallelism),
            self.input_dir, "pages")
        self.pages = pq.read_table(os.path.join(self.input_dir, "pages"),
                                   columns=["url", "html", "text"]
                                   ).to_pylist()

    # -------------------------------------------------------------- runs
    def fresh_out(self) -> str:
        """A run directory holding only the committed `pages` table."""
        self.n_outs += 1
        out = os.path.join(self.run_dir, f"run{self.n_outs}")
        shutil.copytree(self.input_dir, out)
        return out

    def call(self, spark, out: str) -> float | None:
        """One call of the entry point: wall seconds, or None when it
        raised."""
        if self.w["entry"] == "pipeline":
            from kgp.pipeline import run_pipeline as entry
        else:
            from kgp.datapipeline import run_data_pipeline as entry
        t0 = time.time()
        try:
            stages = entry(spark, self.sf_dir, out, heavy=self.w["heavy"])
        except Exception:
            self.problems.append(traceback.format_exc(limit=3))
            return None
        wall = time.time() - t0
        self.stage_walls.append({k: v["wall_s"] for k, v in stages.items()
                                 if isinstance(v, dict) and "wall_s" in v})
        return wall

    def outcome(self, wall: float | None, problems: list) -> float | None:
        """Count one attempted run; it fails on an exception or on any
        output-check problem."""
        problems = [p for p in problems if p]
        self.attempted += 1
        self.problems += problems
        if wall is None or problems:
            self.failed += 1
            return None
        return wall

    def checked_run(self, spark, out: str) -> float | None:
        with PeakRss() as rss:
            wall = self.call(spark, out)
        self.rss_mb.append({k: v / MB for k, v in rss.peak_by_comm.items()})
        if wall is None:
            return self.outcome(None, [])
        if self.w["entry"] == "pipeline":
            problems = [golden_triples(out, self.doc_ids),
                        extracted_text(out, self.pages, self.seed)]
        else:
            problems = [self.recorded_digests(out)]
        return self.outcome(wall, problems)

    def recorded_digests(self, out: str) -> str | None:
        """curated and ranks equal the digests recorded for this seed's
        inputs."""
        key = str(self.seed % SEED_RANGE)
        with open(EXPECTED) as f:
            recorded = json.load(f).get(self.name, {}).get(key)
        if recorded is None:
            return f"no recorded digests for seed {key}"
        got = {t: digest(out, t) for t in ("curated", "ranks")}
        return same_tables(recorded, got, f"recorded digests, seed {key}")

    def resumed_run(self, spark, out: str, full: dict) -> float | None:
        """Delete the _SUCCESS marker of every stage after the crash
        point, time the re-run, and require the tables of the full run
        (`full`: their digests)."""
        for t in self.w["resumed"]:
            os.remove(os.path.join(out, t, "_SUCCESS"))
        wall = self.call(spark, out)
        if wall is None:
            return self.outcome(None, [])
        after = {t: digest(out, t) for t in self.w["resumed"]}
        return self.outcome(wall, [same_tables(full, after, "resume")])


def spark_conf(event_dir: str | None = None) -> dict:
    conf = {"spark.ui.showConsoleProgress": "false"}
    if event_dir:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": event_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    return conf


def calibration_ms() -> float:
    """Best of three timings of a fixed pure-Python loop: a rough probe
    of the machine's speed at this moment."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        sum(i * i for i in range(1_000_000))
        best = min(best, time.perf_counter() - t0)
    return best * 1000.0


def git_commit() -> str:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                       capture_output=True, text=True)
    return r.stdout.strip() or "unknown"


def measure(bench: Bench, seconds: float, trace: bool) -> dict:
    """Set up, run the workload, and return the metrics: end-to-end
    ones, or with `trace` the per-layer ones."""
    from kgp.session import get_spark

    bench.write_documents()
    calib_ms = calibration_ms()
    steal0 = steal_ticks()
    t0 = time.time()
    spark = get_spark("perfbench", cores=CORES,
                      extra_conf=spark_conf())
    setup_s = time.time() - t0
    diag = {"nproc": os.cpu_count(), "cores": CORES,
            "pyspark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty(
                "java.version"),
            "commit": git_commit(), "calibration_ms": round(calib_ms, 1)}
    metrics: dict[str, float] = {}
    resumes: list[float] = []
    try:
        spark.sparkContext.setLogLevel("ERROR")
        t_gen = time.time()
        bench.write_pages(spark)
        diag["generate_s"] = round(time.time() - t_gen, 2)
        # the timed run is the first pipeline run in this JVM, as for
        # a batch job started with spark-submit
        out = bench.fresh_out()
        wall = bench.checked_run(spark, out)
        if wall is not None and trace:
            spark.stop()
            metrics = traced_run(bench)
        elif wall is not None:
            # resumed runs until --seconds have passed since the first
            # one started, at least one
            full = {t: digest(out, t) for t in bench.w["resumed"]}
            t_resume = time.time()
            while not resumes or time.time() - t_resume < seconds:
                resume_s = bench.resumed_run(spark, out, full)
                if resume_s is None:
                    break
                resumes.append(resume_s)
        if resumes:
            metrics = {"wall_s": wall,
                       "pages_per_s": len(bench.pages) / wall,
                       "setup_s": setup_s,
                       "resume_s": statistics.median(resumes)}
    finally:
        diag["steal_ticks"] = steal_ticks() - steal0
        spark.stop()
        stop_jvm()
    diag["resumed_runs"] = len(resumes)
    diag["stage_walls_s"] = bench.stage_walls
    diag["peak_rss_mb_by_command"] = [{k: round(v) for k, v in r.items()}
                                      for r in bench.rss_mb]
    diag["total_s"] = round(time.time() - t0, 2)
    print("diagnostics " + json.dumps(diag))
    return metrics


def traced_run(bench: Bench) -> dict:
    """Per-layer metrics.  Called after the first (cold) run, so that
    the JVM is warm: a traced run in a new SparkContext that writes the
    event log, then an untraced run in another one.  The JVM still
    speeds up from run to run, so their difference is an upper bound
    on the tracing overhead."""
    from kgp.session import get_spark

    event_dir = os.path.join(bench.run_dir, "events")
    os.makedirs(event_dir)
    spark = get_spark("perfbench-traced", cores=CORES,
                      extra_conf=spark_conf(event_dir))
    traced_out = bench.fresh_out()
    try:
        spark.sparkContext.setLogLevel("ERROR")
        with StageTracer(spark) as tracer:
            traced = bench.checked_run(spark, traced_out)
    finally:
        spark.stop()
    spark = get_spark("perfbench-untraced", cores=CORES,
                      extra_conf=spark_conf())
    try:
        spark.sparkContext.setLogLevel("ERROR")
        untraced = bench.checked_run(spark, bench.fresh_out())
    finally:
        spark.stop()
    if traced is None or untraced is None:
        return {}
    metrics = dict.fromkeys(per_layer_units(), 0.0)
    metrics.update(fold(read_event_log(event_dir), tracer.writes,
                        bench.w["stages"], bench.w["entry"]))
    metrics["materialize.footer_manifest_ms"] = tracer.footer_s * 1000.0
    cold = bench.rss_mb[0]
    metrics["peak_rss_mb"] = sum(cold.values())
    metrics["peak_rss.java_mb"] = cold.get("java", 0.0)
    metrics["peak_rss.python_mb"] = sum(v for k, v in cold.items()
                                        if k.startswith("python"))
    stage_walls = sum(metrics[f"{m}.{s}.wall_s"]
                      for s, m in bench.w["stages"].items())
    metrics["trace.wall_s"] = traced
    metrics["trace.overhead_s"] = traced - untraced
    metrics["trace.gap_s"] = traced - stage_walls - metrics["driver.s"]
    sample = random.Random(bench.seed).sample(
        bench.pages, min(KERNEL_SAMPLE, len(bench.pages)))
    if bench.w["entry"] == "pipeline":
        ner_rows = [(r["kind"], r["key"], r["tag"], r["count"])
                    for r in read_rows(traced_out, "ner_model")]
        metrics.update(time_kg_kernels(sample, ner_rows))
    else:
        metrics.update(time_curation_kernels([p["text"] for p in sample]))
    return metrics


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "kgp")):
        print(f"perfbench: no kgp package under {ROOT}; run from the root "
              "of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    run_dir = os.path.join(ROOT, ".perfbench_runs",
                           f"{args.workload}-s{args.seed}-{os.getpid()}")
    # every file Spark, the JVMs (the launcher's too) and Python write
    # stays in the run directory; PerfDisableSharedMem: no hsperfdata
    # file under /tmp
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-XX:+PerfDisableSharedMem -Djava.io.tmpdir={tmp}",
    })
    bench = Bench(args.workload, args.seed, run_dir)
    try:
        metrics = measure(bench, args.seconds, bool(args.trace))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(run_dir))

    units = per_layer_units() if args.trace else END_TO_END
    correct = bench.failed == 0 and set(metrics) == set(units)
    for p in bench.problems:
        print("FAILED " + p.strip().replace("\n", " | "))
    for name, unit in units.items():
        print(f"{name} {metrics.get(name, float('nan')):.6g} {unit}")
    if bench.rss_mb and not args.trace:
        print(f"peak_rss_mb {sum(bench.rss_mb[0].values()):.6g} MB")
    print(f"failed_frac {bench.failed / max(1, bench.attempted):.6g} ratio")
    print(json.dumps({
        "correct": correct,
        "attempted": max(1, bench.attempted),
        "failed": bench.failed,
        "metrics": {n: {"value": metrics[n], "unit": u}
                    for n, u in units.items() if n in metrics},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
