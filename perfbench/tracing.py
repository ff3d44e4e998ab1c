"""Spans and Spark job tags around the ER pipeline's layers, from outside.

``Tracer.patched()`` wraps, for the duration of one traced run, the calls
``plans.er_pipeline`` makes into each layer's public functions and its
stage commits. Each wrapper records a span (start, end, Python-worker CPU
delta) and tags every Spark job started inside it with a job group named
after the stage, so that ``harvest()`` can read each stage's Spark metrics
from the status store afterwards.

PySpark runs in pinned-thread mode: a job group set on the main thread does
not reach the lineage-metrics pump thread, so jobs submitted to
``_MetricsPump`` are re-tagged ``metrics`` on the pump thread itself.
Nothing here reads ``YAMS_TIMING``.

A wrapped name that the pipeline no longer has is skipped; its work then
shows up as ``pipeline.unattributed_s`` instead of failing the run.
"""

from __future__ import annotations

import contextlib
import statistics
import time
from dataclasses import dataclass

import procstat
import statusstore
from spec import STAGES

ROOT_GROUP = "pipeline"

# er_pipeline's module-level names for each layer's public entry points
_LAYER_CALLS = {
    "signatures_stage": "sign",
    "blocks_stage": "block",
    "salt_blocks": "block",
    "candidate_pairs_stage": "pair",
    "attach_pair_features": "score",
    "scored_pairs_stage": "score",
    "clusters_stage": "cluster",
}
# stage commits: _commit_stage(spark, cfg, <stage>, df)
_COMMIT_STAGE = {"cluster_groups": "cluster", "cluster_members": "cluster"}

_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    stage: str
    start: float
    end: float
    py_cpu_s: float
    parent: str


class Tracer:
    def __init__(self, spark, run_id: str) -> None:
        self.spark = spark
        self.run_id = run_id
        self.spans: list[Span] = []

    # -- spans ------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, stage: str, name: str, parent: str = ROOT_GROUP):
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty(_GROUP)
        sc.setLocalProperty(_GROUP, stage)
        # the /proc reads sit inside the span, so their cost is traced time
        t0 = time.perf_counter()
        py0 = procstat.sample().py_worker_cpu_s
        try:
            yield
        finally:
            py1 = procstat.sample().py_worker_cpu_s
            t1 = time.perf_counter()
            sc.setLocalProperty(_GROUP, prev)
            self.spans.append(Span(name, stage, t0, t1, py1 - py0, parent))

    def run_span(self):
        """The root span of one traced pipeline run."""
        return self.span(ROOT_GROUP, "run_pipeline", parent="")

    def _wrap(self, fn, stage_of):
        def wrapper(*args, **kwargs):
            stage = stage_of(args, kwargs)
            with self.span(stage, fn.__name__):
                return fn(*args, **kwargs)

        return wrapper

    def _tag_pump_job(self, fn):
        sc = self.spark.sparkContext

        def tagged():
            sc.setLocalProperty(_GROUP, "metrics")  # on the pump thread
            return fn()

        return tagged

    @contextlib.contextmanager
    def patched(self, er_module):
        saved: list[tuple[object, str, object]] = []

        def patch(owner, name, make):
            orig = getattr(owner, name, None)
            if orig is None:
                return
            saved.append((owner, name, orig))
            setattr(owner, name, make(orig))

        for name, stage in _LAYER_CALLS.items():
            patch(er_module, name, lambda f, s=stage: self._wrap(f, lambda a, k: s))

        def commit_stage(args, kwargs):
            stage = kwargs.get("stage", args[2] if len(args) > 2 else "")
            return _COMMIT_STAGE.get(stage, stage)

        patch(er_module, "_commit_stage", lambda f: self._wrap(f, commit_stage))
        pump = getattr(er_module, "_MetricsPump", None)
        if pump is not None:
            patch(pump, "submit", lambda f: lambda obj, fn: f(obj, self._tag_pump_job(fn)))
            # the main thread waiting on the side jobs is the metrics stage's
            # share of the critical path
            patch(pump, "close", lambda f: self._wrap(f, lambda a, k: "metrics"))
        try:
            yield
        finally:
            for owner, name, orig in reversed(saved):
                setattr(owner, name, orig)

    # -- harvest ----------------------------------------------------------
    def span_totals(self) -> tuple[dict[str, float], dict[str, float]]:
        """(span seconds, Python-worker CPU seconds) per stage."""
        walls = dict.fromkeys(STAGES, 0.0)
        py_cpu = dict.fromkeys(STAGES, 0.0)
        for sp in self.spans:
            if sp.stage in walls:
                walls[sp.stage] += sp.end - sp.start
                py_cpu[sp.stage] += sp.py_cpu_s
        return walls, py_cpu

    def harvest(self, first_job: int) -> tuple[dict[str, dict[str, float]], dict[str, float]]:
        """Per-stage Spark metrics of the traced run's jobs after ``first_job``.

        Jobs with no group ran outside the traced run. Returns (per-stage
        metrics, totals) where totals carries the job count and the share
        of executor run time in named stages.
        """
        statusstore.drain(self.spark)
        jobs = [j for j in statusstore.jobs_after(self.spark, first_job) if j[1] is not None]
        owner: dict[int, str] = {}
        for _jid, group, stage_ids in jobs:  # earliest job that lists a stage owns it
            for sid in stage_ids:
                owner.setdefault(sid, group)
        first_stage = min(owner, default=0) - 1
        rows = [r for r in statusstore.stages_after(self.spark, first_stage)
                if r.stage_id in owner and r.status == "COMPLETE"]

        out = {s: dict.fromkeys(
            ("task_s", "jvm_cpu_s", "shuffle_read_mb", "shuffle_write_mb",
             "spill_mb", "peak_exec_mb", "task_max_over_median", "rows_out",
             "spark_stages"), 0.0) for s in STAGES}
        heaviest: dict[str, tuple[float, int]] = {}  # stage -> (max/median, run ms)
        run_all = run_named = 0
        for r in rows:
            run_all += r.run_ms
            stage = owner[r.stage_id]
            if stage not in out:
                continue
            run_named += r.run_ms
            m = out[stage]
            m["task_s"] += r.run_ms / 1e3
            m["jvm_cpu_s"] += r.cpu_ns / 1e9
            m["shuffle_read_mb"] += r.shuffle_read / 1e6
            m["shuffle_write_mb"] += r.shuffle_write / 1e6
            m["spill_mb"] += r.spill / 1e6
            m["rows_out"] += r.output_records
            m["spark_stages"] += 1
            med, mx, peak = statusstore.task_spread(self.spark, r.stage_id)
            m["peak_exec_mb"] = max(m["peak_exec_mb"], peak / 1e6)
            if r.num_tasks > 1 and r.run_ms > heaviest.get(stage, (0, -1))[1]:
                heaviest[stage] = (mx / med if med > 0 else 1.0, r.run_ms)
        for stage, (ratio, _ms) in heaviest.items():
            out[stage]["task_max_over_median"] = ratio
        totals = {
            "spark_jobs": float(len(jobs)),
            "task_attributed_ratio": run_named / run_all if run_all else 0.0,
        }
        return out, totals

    def to_json(self) -> list[dict]:
        t0 = min((s.start for s in self.spans), default=0.0)
        return [
            {"trace_id": self.run_id, "name": s.name, "stage": s.stage,
             "parent": s.parent, "start_s": round(s.start - t0, 6),
             "end_s": round(s.end - t0, 6), "py_cpu_s": round(s.py_cpu_s, 4)}
            for s in self.spans
        ]


def max_over_median(values: list[float]) -> float:
    values = [v for v in values if v is not None]
    if not values:
        return 0.0
    med = statistics.median(values)
    return max(values) / med if med > 0 else 0.0
