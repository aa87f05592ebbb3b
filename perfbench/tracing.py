"""Spans around the package's public calls, and the fold of Spark's event
log into per-layer numbers.

A traced run sets a Spark job group named after each span it opens, so
every job Spark starts inside the span carries that name in its
properties. After the session stops, :func:`fold_event_log` sums the
``SparkListenerTaskEnd`` metrics of each group, and :func:`layer_metrics`
adds the spans' wall-clock times and sums spans into layers (one layer per
package module). Nothing here imports Spark: the tests feed it a recorded
log.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# StageRunner stage names, in pipeline order
STAGES = (
    "s1_text", "s2_mentions", "s3_links", "s3_triples", "s4_nodes",
    "s4_edges", "s5_struct_features", "s5_char_sets", "s6_concepts",
    "s6_assignments",
)

# layer (package module) -> the span names whose jobs it owns
LAYER_SPANS: dict[str, tuple[str, ...]] = {
    "sources.tables": ("read_pages",),
    "functions.text": ("s1_text",),
    "functions.mentions": ("s2_mentions",),
    "operators.triples": ("s3_links", "s3_triples"),
    "operators.graph": ("s4_nodes", "s4_edges"),
    "operators.features": ("s5_struct_features", "s5_char_sets"),
    "operators.concepts": ("s6_concepts", "s6_assignments",
                           "hierarchy_from_state_dir"),
    "operators.streaming": ("merge_batch_into_state",),
}

# the standard per-layer set, with units
M = {
    "wall_s": "s", "jobs": "count", "tasks": "count", "executor_run_s": "s",
    "gc_s": "s", "shuffle_write_mb": "MB", "spill_mb": "MB",
    "task_skew": "ratio", "core_idle_s": "s",
}

QUERIES = (
    "dd_lsh_near_dup_capped", "sim_lsh_ann", "dd_embedding_near_dup",
    "kg_pagerank", "tx_vocab_sketch", "tx_quality_scores", "ev_sessions",
    "kg_concept_hierarchy",
)

# the only table S1 reads is the pages table, so its tasks' input records
# are the page scan that ``read_pages`` plans and S1 runs
SCAN_SPAN = "s1_text"

# layer metrics outside M, each with its unit
EXTRA = {
    "sources.tables.input_records": "count",
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.cold_pipeline_s": "s",
    "session.peak_rss_mb": "MB",
    "operators.concepts.distributed_branch": "count",
    "operators.concepts.concepts_out": "count",
    "operators.streaming.state_mb": "MB",
    "plans.checkpoint.driver_s": "s",
    "plans.checkpoint.snapshot_mb": "MB",
    "plans.checkpoint.stages_resumed": "count",
    "plans.checkpoint.span_share": "ratio",
    "queries.cold_sweep_s": "s",
    "run.op_s": "s",
}

OUTSIDE = "-"  # job group of jobs started outside every span


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name the benchmark prints, with its unit."""
    out: dict[str, str] = {}
    for layer in LAYER_SPANS:
        for m, unit in M.items():
            out[f"{layer}.{m}"] = unit
    for q in QUERIES:
        out[f"queries.{q}.wall_s"] = "s"
        out[f"queries.{q}.jobs"] = "count"
    out.update(EXTRA)
    return out


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Opens spans; while one is open, Spark jobs run in its job group.

    Spans nest: closing an inner span restores the outer span's group. A
    disabled tracer opens no spans and touches no Spark state, so the
    untraced run measures the program alone."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._open: list[str] = []
        if sc is not None:
            sc.setJobGroup(OUTSIDE, OUTSIDE)

    @property
    def enabled(self) -> bool:
        return self.sc is not None

    @contextmanager
    def span(self, name: str):
        if self.sc is None:
            yield
            return
        self._open.append(name)
        self.sc.setJobGroup(name, name)
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append(Span(name, t0, time.time()))
            self._open.pop()
            outer = self._open[-1] if self._open else OUTSIDE
            self.sc.setJobGroup(outer, outer)


@dataclass
class Group:
    """Event-log totals of one job group."""
    jobs: int = 0
    tasks: int = 0
    run_ms: int = 0
    gc_ms: int = 0
    shuffle_write_b: int = 0
    spill_b: int = 0
    input_records: int = 0
    task_ms: list[int] = field(default_factory=list)
    job_ms: list[tuple[int, int]] = field(default_factory=list)


def fold_event_log(lines) -> dict[str, Group]:
    """Job group -> totals, from the JSON lines of one Spark event log.

    Tasks are attributed through their stage: a stage belongs to the group
    of the job that submitted it (``SparkListenerStageSubmitted``
    properties), which also covers stages shared with later jobs."""
    groups: dict[str, Group] = {}
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}

    def group(name: str | None) -> Group:
        return groups.setdefault(name or OUTSIDE, Group())

    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or OUTSIDE
            job_group[ev["Job ID"]] = g
            job_start[ev["Job ID"]] = ev["Submission Time"]
            group(g).jobs += 1
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_start:
                group(job_group[jid]).job_ms.append(
                    (job_start[jid], ev["Completion Time"]))
        elif kind == "SparkListenerStageSubmitted":
            props = ev.get("Properties") or {}
            stage_group[ev["Stage Info"]["Stage ID"]] = (
                props.get("spark.jobGroup.id") or OUTSIDE)
        elif kind == "SparkListenerTaskEnd":
            g = group(stage_group.get(ev["Stage ID"], OUTSIDE))
            info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
            g.tasks += 1
            g.task_ms.append(info["Finish Time"] - info["Launch Time"])
            g.run_ms += tm.get("Executor Run Time", 0)
            g.gc_ms += tm.get("JVM GC Time", 0)
            g.shuffle_write_b += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            g.spill_b += tm.get("Disk Bytes Spilled", 0)
            g.input_records += (tm.get("Input Metrics") or {}).get(
                "Records Read", 0)
    return groups


def read_event_log(log_dir: str) -> dict[str, Group]:
    """Fold the single application log Spark wrote under ``log_dir``."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    with open(os.path.join(log_dir, names[0])) as f:
        return fold_event_log(f)


def _covered_s(intervals_ms, start: float, end: float) -> float:
    """Seconds of [start, end] covered by the union of job intervals."""
    clipped = sorted(
        (max(a / 1000, start), min(b / 1000, end)) for a, b in intervals_ms
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _skew(task_ms: list[int]) -> float:
    if not task_ms:
        return 0.0
    p50 = statistics.median(task_ms)
    return max(task_ms) / p50 if p50 > 0 else float(max(task_ms) > 0)


def layer_metrics(groups: dict[str, Group], spans: list[Span], cores: int,
                  rounds: int) -> dict[str, float]:
    """Per-layer M metrics, per round of the workload's timed loop.

    Counts and seconds are totals over the traced region divided by
    ``rounds``; ``task_skew`` is max ÷ p50 task time over the layer's
    tasks. ``core_idle_s`` is wall × cores − executor run time: the time
    the layer's cores waited. ``driver_s`` of ``plans.checkpoint`` is the
    stage spans' time outside every Spark job.

    ``read_pages`` only plans the scan (Spark reads lazily), so the M set
    of ``sources.tables`` is planning; the records the scan reads are
    ``input_records``, taken from the tasks of S1, whose time they share.
    (Spark's bytes-read counter is not used: on a local file system it
    misses the column chunks the Parquet reader reads into buffers.)"""
    out: dict[str, float] = {}
    by_name: dict[str, list[Span]] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)

    def add(layer: str, names) -> None:
        gs = [groups[n] for n in names if n in groups]
        wall = sum(s.wall for n in names for s in by_name.get(n, ()))
        run_s = sum(g.run_ms for g in gs) / 1000
        vals = {
            "wall_s": wall,
            "jobs": sum(g.jobs for g in gs),
            "tasks": sum(g.tasks for g in gs),
            "executor_run_s": run_s,
            "gc_s": sum(g.gc_ms for g in gs) / 1000,
            "shuffle_write_mb": sum(g.shuffle_write_b for g in gs) / 2**20,
            "spill_mb": sum(g.spill_b for g in gs) / 2**20,
            "core_idle_s": wall * cores - run_s,
        }
        for m, v in vals.items():
            out[f"{layer}.{m}"] = v / rounds
        out[f"{layer}.task_skew"] = _skew([t for g in gs for t in g.task_ms])

    for layer, names in LAYER_SPANS.items():
        add(layer, names)
    scan = groups.get(SCAN_SPAN, Group())
    out["sources.tables.input_records"] = scan.input_records / rounds

    driver = 0.0
    for name in STAGES:
        g = groups.get(name, Group())
        for s in by_name.get(name, ()):
            driver += s.wall - _covered_s(g.job_ms, s.start, s.end)
    out["plans.checkpoint.driver_s"] = driver / rounds
    return out


def query_metrics(groups: dict[str, Group], spans: list[Span]) -> dict[str, float]:
    """``queries.<query>.wall_s`` and ``.jobs`` of one sweep, whose spans
    are named after the queries."""
    out: dict[str, float] = {}
    for q in QUERIES:
        out[f"queries.{q}.wall_s"] = sum(s.wall for s in spans if s.name == q)
        out[f"queries.{q}.jobs"] = groups.get(q, Group()).jobs
    return out


def stage_span_share(spans: list[Span], op_name: str) -> float:
    """Σ stage-span wall inside the ``op_name`` spans ÷ Σ their wall."""
    ops = [s for s in spans if s.name == op_name]
    inner = sum(
        s.wall for s in spans if s.name in STAGES
        and any(o.start <= s.start and s.end <= o.end for o in ops)
    )
    total = sum(o.wall for o in ops)
    return inner / total if total else 0.0
