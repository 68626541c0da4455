"""Per-stage tracing from outside the program.

`StageTracer` wraps the public `kgp.materialize.write_stage` and
`kgp.materialize.footer_manifest` for the duration of one pipeline run.
Each `write_stage` call runs under the Spark job group `stage:<name>`;
the interval after the k-th call runs under `gap:<k>`.  `fold` reads the
Spark event log of the run and turns it into the per-stage metrics.

A job in a gap belongs to the next stage: it runs while that stage's
DataFrame is built, before `write_stage` is called (for example the
connected-components collects of `canonicalize.canonical_mapping` or
the PageRank iterations).  Two kinds of gap job are driver jobs
instead: jobs whose call site is the entry module itself (the seed
collect, `load_ner_model`), and parquet schema reads without a call
site (`read_stage` of a finished or resumed stage).  Jobs after the
last `write_stage` (such as the final count) are driver jobs too.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time

STAGE_METRICS = ("wall_s", "rows", "jobs", "tasks", "task_s", "task_skew",
                 "python_s", "shuffle_mb")

MB = 1024.0 * 1024.0


class StageTracer:
    """Context manager: job groups and timings around one pipeline run."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.writes: list[dict] = []
        self.footer_s = 0.0

    def __enter__(self):
        from kgp import materialize
        self._materialize = materialize
        self._write_stage = materialize.write_stage
        self._footer_manifest = materialize.footer_manifest
        materialize.write_stage = self._traced_write_stage
        materialize.footer_manifest = self._timed_footer_manifest
        self.sc.setJobGroup("gap:0", "gap:0")
        return self

    def __exit__(self, *exc):
        self._materialize.write_stage = self._write_stage
        self._materialize.footer_manifest = self._footer_manifest
        self.sc.setJobGroup("bench", "bench")
        return False

    def _traced_write_stage(self, spark, df, out_dir, stage, *a, **kw):
        self.sc.setJobGroup(f"stage:{stage}", stage)
        t0 = time.time()
        try:
            out, rows = self._write_stage(spark, df, out_dir, stage, *a, **kw)
        finally:
            t1 = time.time()
            self.writes.append({"stage": stage, "t0": t0, "t1": t1})
            gap = f"gap:{len(self.writes)}"
            self.sc.setJobGroup(gap, gap)
        self.writes[-1]["rows"] = rows
        return out, rows

    def _timed_footer_manifest(self, path, stage):
        t0 = time.perf_counter()
        try:
            return self._footer_manifest(path, stage)
        finally:
            self.footer_s += time.perf_counter() - t0


def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isfile(path) and not os.path.basename(path).startswith("."):
            with open(path) as f:
                events += [json.loads(line) for line in f if line.strip()]
    return events


def _jobs_and_tasks(events: list[dict]):
    """jobs: id -> {group, callsite, t0, t1, stages}; tasks per Spark
    stage; Spark stage durations."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_span: dict[int, tuple[float, float]] = {}
    tasks: dict[int, list[dict]] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            result = max(e["Stage Infos"], key=lambda s: s["Stage ID"],
                         default={})
            jobs[e["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "callsite": props.get("callSite.short") or "",
                "name": result.get("Stage Name", ""),
                "t0": e["Submission Time"] / 1000.0,
                "t1": e["Submission Time"] / 1000.0,
                "stages": set(e.get("Stage IDs", [])),
            }
        elif kind == "SparkListenerJobEnd":
            jobs[e["Job ID"]]["t1"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            sid = e["Stage Info"]["Stage ID"]
            owners = [j for j, v in jobs.items() if sid in v["stages"]]
            if owners:
                stage_job.setdefault(sid, max(owners))
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            stage_span[info["Stage ID"]] = (
                info.get("Submission Time", 0) / 1000.0,
                info.get("Completion Time", 0) / 1000.0)
        elif kind == "SparkListenerTaskEnd":
            ti, tm = e["Task Info"], e.get("Task Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            tasks.setdefault(e["Stage ID"], []).append({
                "dur": (ti["Finish Time"] - ti["Launch Time"]) / 1000.0,
                "run": tm.get("Executor Run Time", 0) / 1000.0,
                "cpu": tm.get("Executor CPU Time", 0) / 1e9,
                "gc": tm.get("JVM GC Time", 0) / 1000.0,
                "shuffle": sw.get("Shuffle Bytes Written", 0),
                "spill": tm.get("Disk Bytes Spilled", 0),
            })
    return jobs, stage_job, stage_span, tasks


def _owner(job: dict, writes: list[dict], entry_module: str) -> str | None:
    """Stage name a job belongs to, or None for a driver job."""
    group = job["group"] or ""
    if group.startswith("stage:"):
        return group[len("stage:"):]
    if group.startswith("gap:"):
        k = int(group[len("gap:"):])
        driver_side = (f"/kgp/{entry_module}.py" in job["callsite"]
                       or (not job["callsite"]
                           and job["name"].startswith("parquet at")))
        if k < len(writes) and not driver_side:
            return writes[k]["stage"]
    return None


def fold(events: list[dict], writes: list[dict], stage_modules: dict,
         entry_module: str) -> dict:
    """Per-stage metrics named `<module>.<stage>.<metric>`, plus
    `driver.jobs`, `driver.s`, `spark.spill_mb` and `spark.gc_s`."""
    jobs, stage_job, stage_span, tasks = _jobs_and_tasks(events)
    traced = {j: v for j, v in jobs.items()
              if (v["group"] or "").startswith(("stage:", "gap:"))}
    by_stage: dict[str, list[int]] = {}
    driver_jobs = []
    for j, v in sorted(traced.items()):
        owner = _owner(v, writes, entry_module)
        if owner is None:
            driver_jobs.append(j)
        else:
            by_stage.setdefault(owner, []).append(j)

    out: dict[str, float] = {}
    for w in writes:
        name = w["stage"]
        if name not in stage_modules:
            continue
        ids = by_stage.get(name, [])
        sids = [s for s, j in stage_job.items() if j in ids]
        ts = [t for s in sids for t in tasks.get(s, [])]
        start = min([w["t0"]] + [jobs[j]["t0"] for j in ids])
        skew = 0.0
        ran = [s for s in sids if tasks.get(s)]
        if ran:
            longest = max(ran, key=lambda s: stage_span.get(s, (0, 0))[1]
                          - stage_span.get(s, (0, 0))[0])
            durs = [t["dur"] for t in tasks[longest]]
            skew = max(durs) / max(statistics.median(durs), 1e-3)
        task_s = sum(t["run"] for t in ts)
        prefix = f"{stage_modules[name]}.{name}."
        out.update({
            prefix + "wall_s": w["t1"] - start,
            prefix + "rows": float(w.get("rows", 0)),
            prefix + "jobs": float(len(ids)),
            prefix + "tasks": float(len(ts)),
            prefix + "task_s": task_s,
            prefix + "task_skew": skew,
            prefix + "python_s": max(0.0, task_s - sum(t["cpu"] + t["gc"]
                                                       for t in ts)),
            prefix + "shuffle_mb": sum(t["shuffle"] for t in ts) / MB,
        })
    all_tasks = [t for s, j in stage_job.items() if j in traced
                 for t in tasks.get(s, [])]
    out["driver.jobs"] = float(len(driver_jobs))
    out["driver.s"] = sum(jobs[j]["t1"] - jobs[j]["t0"] for j in driver_jobs)
    out["spark.spill_mb"] = sum(t["spill"] for t in all_tasks) / MB
    out["spark.gc_s"] = sum(t["gc"] for t in all_tasks)
    return out
