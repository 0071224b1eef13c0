"""Spans, Spark event-log aggregation and per-module attribution.

Pure functions over plain data: nothing here imports Spark, so the unit
tests in ``perfbench/tests`` run without a session.

Span tree of a traced run::

    pass -> query -> build | final -> job -> stage
            query -> batch            (one per streaming micro-batch)

A span's *self time* is its duration minus the part of it that its child
spans cover. For a build span whose children are the Spark jobs fired
while the DataFrame was built, the self time is the construction time
(Python and py4j expression building) and the covered part is the
eager-job time, so ``construct_s + eager_job_s == build_s`` holds by
definition.
"""

from __future__ import annotations

import json
import re
import statistics
from dataclasses import dataclass, field

#: metric names accepted in BENCHMARK.json and in the result line
METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

#: the package's modules that queries are attributed to
MODULES = ("sources", "operators", "multimodal", "ml", "streaming")

#: benchmark wrappers that live in ``bench.py`` but drive one module's verbs
WRAPPER_MODULES = {
    "_train_epoch_bench": "ml",
    "_stream_tumbling_bench": "streaming",
}

#: counters every module reports, in the order they are printed
MODULE_COUNTERS = (
    "build_s", "eager_jobs", "eager_job_s", "construct_s", "final_s",
    "final_jobs", "stages", "stages_skipped", "tasks", "task_s",
    "task_wait_s", "shuffle_write_mb", "spill_mb", "failed_tasks",
)

#: per-layer metrics that are not one of a module's counters
LAYER_EXTRAS = (
    "engine.session_s", "engine.jvm_gc_s", "engine.busy_frac",
    "engine.cached_relations", "engine.cached_mb",
    "sources.fixture_s", "sources.input_mb", "sources.input_rows",
    "sources.output_mb", "sources.tmp_mb",
    "streaming.batches", "streaming.batch_ms", "streaming.state_rows",
    "streaming.state_update_ms", "streaming.state_commit_ms",
    "streaming.watermark_dropped", "streaming.state_partitions",
    "ml.train_samples_per_s",
    "trace.pass_s", "trace.overhead_s",
)

MB = 1024 * 1024


def layer_metric_names() -> list[str]:
    """Every metric a traced run reports, in BENCHMARK.json order."""
    return [f"{m}.{k}" for m in MODULES for k in MODULE_COUNTERS] + list(LAYER_EXTRAS)


def layer_unit(name: str) -> str:
    tail = name.rsplit(".", 1)[-1]
    for suffix, unit in (("_per_s", "1/s"), ("_ms", "ms"), ("_s", "s"),
                         ("_mb", "MB"), ("_frac", "fraction")):
        if tail.endswith(suffix):
            return unit
    return "count"


def valid_metric_name(name: str) -> bool:
    return METRIC_NAME.fullmatch(name) is not None


def module_of(fn_module: str, fn_name: str) -> str:
    """Package module a query function belongs to, e.g.
    ``caffeonspark_spark.operators.dedup`` -> ``operators``."""
    if fn_module == "bench" and fn_name in WRAPPER_MODULES:
        return WRAPPER_MODULES[fn_name]
    parts = fn_module.split(".")
    if len(parts) >= 2 and parts[0] == "caffeonspark_spark" and parts[1] in MODULES:
        return parts[1]
    raise ValueError(f"no module attribution for {fn_module}.{fn_name}")


# --- spans -----------------------------------------------------------------

@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start

    def to_json(self) -> str:
        return json.dumps(
            {"id": self.id, "parent": self.parent, "name": self.name,
             "start": self.start, "end": self.end, **self.attrs},
            sort_keys=True,
        )


def covered(intervals, lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: Span, children) -> float:
    return span.duration - covered(
        ((c.start, c.end) for c in children), span.start, span.end
    )


# --- event log ---------------------------------------------------------------

@dataclass
class StageRun:
    """One stage attempt and the totals of its tasks."""
    stage_id: int
    attempt: int
    submit: float
    end: float
    tasks: int = 0
    task_s: float = 0.0
    task_wait_s: float = 0.0
    failed_tasks: int = 0
    shuffle_write: int = 0
    spill: int = 0
    input_bytes: int = 0
    input_rows: int = 0
    output_bytes: int = 0


@dataclass
class Job:
    job_id: int
    group: str | None
    start: float
    end: float
    stage_ids: list[int]
    stages: list[StageRun] = field(default_factory=list)

    @property
    def stages_skipped(self) -> int:
        return len(set(self.stage_ids) - {s.stage_id for s in self.stages})


def parse_event_log(lines) -> list[Job]:
    """Jobs of a Spark JSON event log, each with the stage attempts it
    ran and their task totals. Times are epoch seconds."""
    jobs: dict[int, Job] = {}
    stages: dict[tuple[int, int], StageRun] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = Job(
                ev["Job ID"],
                (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                ev["Submission Time"] / 1000.0,
                ev["Submission Time"] / 1000.0,
                list(ev.get("Stage IDs", [])),
            )
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job is not None:
                job.end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            t = info.get("Submission Time", 0) / 1000.0
            stages[(info["Stage ID"], info["Stage Attempt ID"])] = StageRun(
                info["Stage ID"], info["Stage Attempt ID"], t, t
            )
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = stages.get((info["Stage ID"], info["Stage Attempt ID"]))
            if st is not None and "Completion Time" in info:
                st.end = info["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            st = stages.get((ev["Stage ID"], ev["Stage Attempt ID"]))
            if st is None:
                continue
            info = ev["Task Info"]
            m = ev.get("Task Metrics") or {}
            st.tasks += 1
            st.task_s += m.get("Executor Run Time", 0) / 1000.0
            st.task_wait_s += max(0.0, info["Launch Time"] / 1000.0 - st.submit)
            reason = (ev.get("Task End Reason") or {}).get("Reason")
            if info.get("Failed") or info.get("Killed") or reason not in (None, "Success"):
                st.failed_tasks += 1
            st.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            st.spill += m.get("Disk Bytes Spilled", 0)
            inp = m.get("Input Metrics") or {}
            st.input_bytes += inp.get("Bytes Read", 0)
            st.input_rows += inp.get("Records Read", 0)
            st.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    # a stage run belongs to the latest job, submitted no later than the
    # stage, whose stage list names it (shuffle map stages can be shared)
    by_stage: dict[int, list[Job]] = {}
    for job in sorted(jobs.values(), key=lambda j: j.job_id):
        for sid in job.stage_ids:
            by_stage.setdefault(sid, []).append(job)
    for st in sorted(stages.values(), key=lambda s: s.submit):
        owners = [j for j in by_stage.get(st.stage_id, ()) if j.start <= st.submit]
        if owners:
            owners[-1].stages.append(st)
    return sorted(jobs.values(), key=lambda j: j.job_id)


# --- per-query records -------------------------------------------------------

def group_id(pass_idx: int, row: str, phase: str) -> str:
    """Spark job group the benchmark sets around one phase of one query."""
    return f"perfbench|{pass_idx}|{row}|{phase}"


@dataclass
class Batch:
    """One streaming micro-batch, as reported by the query listener."""
    start: float
    trigger_ms: float
    state_rows: int = 0
    state_update_ms: float = 0.0
    state_commit_ms: float = 0.0
    watermark_dropped: int = 0
    state_partitions: int = 0
    run_id: str = ""


def build_tree(phase_spans: list[Span], jobs: list[Job], batches: list[Batch],
               next_id: int) -> list[Span]:
    """Attach job, stage and batch spans under the benchmark's phase
    spans (``build``/``final``, whose parent is a ``query`` span).

    A job is placed by its job group when the benchmark set it; jobs run
    on another thread (streaming micro-batches carry the stream's run id
    as their group) are placed by the phase span that contains their
    submission. Returns the new spans."""
    out: list[Span] = []
    by_group = {s.attrs["group"]: s for s in phase_spans}

    def containing(t: float, spans) -> Span | None:
        for s in spans:
            if s.start <= t <= s.end:
                return s
        return None

    for job in jobs:
        parent = by_group.get(job.group) if job.group else None
        if parent is None:
            parent = containing(job.start, phase_spans)
        if parent is None:
            continue
        js = Span(next_id, parent.id, f"job {job.job_id}", job.start, job.end,
                  {"kind": "job", "job_id": job.job_id,
                   "stages_skipped": job.stages_skipped})
        next_id += 1
        out.append(js)
        for st in job.stages:
            out.append(Span(
                next_id, js.id, f"stage {st.stage_id}.{st.attempt}", st.submit, st.end,
                {"kind": "stage", "tasks": st.tasks, "task_s": st.task_s,
                 "task_wait_s": st.task_wait_s, "failed_tasks": st.failed_tasks,
                 "shuffle_write": st.shuffle_write, "spill": st.spill,
                 "input_bytes": st.input_bytes, "input_rows": st.input_rows,
                 "output_bytes": st.output_bytes},
            ))
            next_id += 1
    for b in batches:
        phase = containing(b.start, phase_spans)
        if phase is None:
            continue
        out.append(Span(
            next_id, phase.parent, "batch", b.start, b.start + b.trigger_ms / 1000.0,
            {"kind": "batch", "run_id": b.run_id, "trigger_ms": b.trigger_ms,
             "state_rows": b.state_rows, "state_update_ms": b.state_update_ms,
             "state_commit_ms": b.state_commit_ms,
             "watermark_dropped": b.watermark_dropped,
             "state_partitions": b.state_partitions},
        ))
        next_id += 1
    return out


def query_records(spans: list[Span]) -> list[dict]:
    """One record per (pass, query) from a full span tree: phase times,
    eager and final jobs, stage and task totals, micro-batch totals."""
    children: dict[int | None, list[Span]] = {}
    for s in spans:
        children.setdefault(s.parent, []).append(s)
    records = []
    for q in (s for s in spans if s.attrs.get("kind") == "query"):
        rec = {"pass": q.attrs["pass"], "row": q.name, "module": q.attrs["module"],
               "wall_s": q.duration}
        rec.update({k: 0 for k in MODULE_COUNTERS})
        rec.update(input_bytes=0, input_rows=0, output_bytes=0, batches=0,
                   batch_ms=0.0, state_rows=0, state_update_ms=0.0,
                   state_commit_ms=0.0, watermark_dropped=0, state_partitions=0)
        for ph in children.get(q.id, ()):
            kind = ph.attrs.get("kind")
            if kind == "batch":
                rec["batches"] += 1
                rec["batch_ms"] += ph.attrs["trigger_ms"]
                rec["state_update_ms"] += ph.attrs["state_update_ms"]
                rec["state_commit_ms"] += ph.attrs["state_commit_ms"]
                rec["watermark_dropped"] += ph.attrs["watermark_dropped"]
                # rows held after the query's last batch
                rec["state_rows"] = ph.attrs["state_rows"]
                rec["state_partitions"] = max(
                    rec["state_partitions"], ph.attrs["state_partitions"]
                )
                continue
            if kind != "phase":
                continue
            job_spans = [c for c in children.get(ph.id, ()) if c.attrs.get("kind") == "job"]
            if ph.name == "build":
                rec["build_s"] = ph.duration
                rec["eager_jobs"] = len(job_spans)
                rec["construct_s"] = self_time(ph, job_spans)
                rec["eager_job_s"] = ph.duration - rec["construct_s"]
            else:
                rec["final_s"] = ph.duration
                rec["final_jobs"] = len(job_spans)
            for js in job_spans:
                rec["stages_skipped"] += js.attrs["stages_skipped"]
                for st in children.get(js.id, ()):
                    a = st.attrs
                    rec["stages"] += 1
                    rec["tasks"] += a["tasks"]
                    rec["task_s"] += a["task_s"]
                    rec["task_wait_s"] += a["task_wait_s"]
                    rec["failed_tasks"] += a["failed_tasks"]
                    rec["shuffle_write_mb"] += a["shuffle_write"] / MB
                    rec["spill_mb"] += a["spill"] / MB
                    rec["input_bytes"] += a["input_bytes"]
                    rec["input_rows"] += a["input_rows"]
                    rec["output_bytes"] += a["output_bytes"]
        records.append(rec)
    return records


def module_metrics(records: list[dict], passes: list[int]) -> dict[str, float]:
    """Per-module totals of each pass, reported as the median over
    ``passes``. Modules with no query in the workload report zeros."""
    out: dict[str, float] = {}

    def med(mod: str, key: str) -> float:
        per_pass = [
            sum(r[key] for r in records if r["module"] == mod and r["pass"] == p)
            for p in passes
        ]
        return statistics.median(per_pass) if per_pass else 0.0

    for mod in MODULES:
        for key in MODULE_COUNTERS:
            out[f"{mod}.{key}"] = med(mod, key)
    out["sources.input_mb"] = med("sources", "input_bytes") / MB
    out["sources.input_rows"] = med("sources", "input_rows")
    out["sources.output_mb"] = med("sources", "output_bytes") / MB
    batches = med("streaming", "batches")
    out["streaming.batches"] = batches
    out["streaming.batch_ms"] = med("streaming", "batch_ms") / batches if batches else 0.0
    for key in ("state_rows", "state_update_ms", "state_commit_ms", "watermark_dropped"):
        out[f"streaming.{key}"] = med("streaming", key)
    out["streaming.state_partitions"] = max(
        (r["state_partitions"] for r in records if r["module"] == "streaming"),
        default=0,
    )
    return out
