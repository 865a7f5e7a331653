"""Span recorder for the traced run.

Spans are recorded from the benchmark's side only: ``Recorder.install``
wraps the program's public calls (module attributes and the
``ParquetLake.read``/``write`` methods) for the duration of a run and puts
the originals back afterwards. Each span holds its name, layer, start,
end and parent, and runs its Spark jobs under a job group of its own, so
the status store can attribute executor time, tasks, shuffle and spill to
the innermost span that submitted them. Spans stay in memory until
``Recorder.dump``.

A layer's numbers come from its outermost spans (their whole subtree),
plus the ``lake.write:<table>`` spans of the tables it produces: plans are
lazy, so a transform's executor work runs inside the write of its output.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field

LAYERS = [
    "session", "merge", "raw_to_staging", "dimensions", "facts", "validation",
    "lake", "views", "dedup", "similarity", "bpe",
]
MEASURES = [
    "wall_s", "self_s", "jobs", "tasks", "exec_run_s", "exec_cpu_s",
    "shuffle_write_mb", "spill_mb", "driver_share",
]
LAKE_MEASURES = ["bytes_written_mb", "files_written", "write_amp"]
# output tables whose lake.write span carries a layer's executor work
OUTPUT_TABLES = {
    "merge": {"raw_jobs"},
    "raw_to_staging": {"staging_jobs"},
    "dimensions": {"dim_job", "dim_company", "dim_location", "dim_date"},
    "facts": {"fact_job_posting_daily", "fact_job_location_bridge"},
}
# (module, attribute, layer): the public calls wrapped in the traced run.
# Names are patched where the caller looks them up, e.g. the pipeline
# module's own binding of ``upsert_by_key``.
_PKG = "jobinsight_data_pipeline_spark"
WRAPPED = [
    ("plans.pipeline", "ingest_raw", "pipeline"),
    ("plans.pipeline", "run_raw_to_staging", "pipeline"),
    ("plans.pipeline", "run_staging_to_dwh", "pipeline"),
    ("plans.pipeline", "upsert_by_key", "merge"),
    ("plans.pipeline", "raw_to_staging", "raw_to_staging"),
    ("plans.raw_to_staging", "extract_location_info", "raw_to_staging"),
    ("plans.raw_to_staging", "refine_location", "raw_to_staging"),
    ("plans.raw_to_staging", "clean_title", "raw_to_staging"),
    ("plans.raw_to_staging", "clean_company_name_udf", "raw_to_staging"),
    ("plans.raw_to_staging", "with_salary_columns", "raw_to_staging"),
    ("plans.raw_to_staging", "due_date_from_deadline", "raw_to_staging"),
    ("plans.raw_to_staging", "time_remaining", "raw_to_staging"),
    ("plans.pipeline", "build_dim_job", "dimensions"),
    ("plans.pipeline", "build_dim_company", "dimensions"),
    ("plans.pipeline", "build_dim_location", "dimensions"),
    ("plans.pipeline", "build_dim_date", "dimensions"),
    ("plans.dimensions", "scd2_merge", "dimensions"),
    ("plans.dimensions", "insert_only_merge", "dimensions"),
    ("operators.scd2", "assign_surrogate_keys", "dimensions"),
    ("plans.facts", "build_fact_batch", "facts"),
    ("plans.facts", "merge_facts", "facts"),
    ("plans.facts", "build_bridge", "facts"),
    ("plans.facts", "assign_surrogate_keys", "facts"),
    ("plans.validation", "validate_warehouse", "validation"),
]


@dataclass
class Span:
    name: str
    layer: str
    parent: int | None
    start: float
    end: float = 0.0
    group: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = []
    for i, s in enumerate(spans):
        covered, cursor = 0.0, s.start
        for c in sorted(children.get(i, []), key=lambda c: c.start):
            lo, hi = max(c.start, cursor), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out.append(s.dur - covered)
    return out


class Recorder:
    """Collects spans in memory; one job group per span."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        idx = len(self.spans)
        s = Span(name, layer, self._stack[-1] if self._stack else None, 0.0, attrs=attrs)
        s.group = f"pb-{idx}-{uuid.uuid4().hex[:6]}"
        self.spans.append(s)
        props = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
        prev = {k: self.sc.getLocalProperty(k) for k in props}
        self.sc.setJobGroup(s.group, name)
        self._stack.append(idx)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            for k, v in prev.items():
                self.sc.setLocalProperty(k, v)

    def _wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return traced

    def _patch(self, owner, attr: str, new) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    @contextmanager
    def install(self, on_write=None):
        """Wrap the program's public calls; ``on_write(span, path)`` is
        called after each lake write, outside the write's span."""
        from jobinsight_data_pipeline_spark.sources.lake import ParquetLake

        for mod, attr, layer in WRAPPED:
            m = importlib.import_module(f"{_PKG}.{mod}")
            self._patch(m, attr, self._wrap(getattr(m, attr), attr, layer))
        read, write = ParquetLake.read, ParquetLake.write
        rec = self

        def traced_read(lake, spark, table, *a, **kw):
            with rec.span(f"lake.read:{table}", "lake", table=table):
                return read(lake, spark, table, *a, **kw)

        def traced_write(lake, df, table, *a, **kw):
            with rec.span(f"lake.write:{table}", "lake", table=table) as s:
                path = write(lake, df, table, *a, **kw)
            s.attrs["path"] = path
            if on_write is not None:
                on_write(s, path)
            return path

        self._patch(ParquetLake, "read", traced_read)
        self._patch(ParquetLake, "write", traced_write)
        try:
            yield self
        finally:
            while self._patched:
                owner, attr, orig = self._patched.pop()
                setattr(owner, attr, orig)

    # -- Spark status store ------------------------------------------------
    def stage_metrics(self) -> dict[str, dict]:
        """Per span group: jobs, tasks, executor run/CPU seconds, shuffle
        write and spill bytes, summed over the group's completed stages."""
        store = self.sc._jsc.sc().statusStore()
        seq = store.stageList(None, False, False, self.sc._gateway.new_array(self.sc._jvm.double, 0), None)
        stages: dict[int, tuple] = {}
        for i in range(seq.size()):
            d = seq.apply(i)
            if str(d.status()) != "COMPLETE":
                continue
            prev = stages.get(d.stageId(), (0, 0, 0, 0, 0))
            cur = (
                d.numCompleteTasks(), d.executorRunTime() / 1e3, d.executorCpuTime() / 1e9,
                d.shuffleWriteBytes(), d.memoryBytesSpilled() + d.diskBytesSpilled(),
            )
            stages[d.stageId()] = tuple(a + b for a, b in zip(prev, cur))
        tracker = self.sc.statusTracker()
        out = {}
        for s in self.spans:
            jobs = list(tracker.getJobIdsForGroup(s.group))
            acc = [0, 0.0, 0.0, 0, 0]
            for j in jobs:
                info = tracker.getJobInfo(j)
                for st in (info.stageIds if info else []):
                    for k, v in enumerate(stages.get(st, (0, 0, 0, 0, 0))):
                        acc[k] += v
            out[s.group] = {
                "jobs": len(jobs), "tasks": acc[0], "exec_run_s": acc[1],
                "exec_cpu_s": acc[2], "shuffle_write_b": acc[3], "spill_b": acc[4],
            }
        return out

    def dump(self, path: str, extra: dict | None = None) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        selfs = self_times(self.spans)
        t0 = self.spans[0].start if self.spans else 0.0
        rows = [
            {"id": i, "name": s.name, "layer": s.layer, "parent": s.parent,
             "start": s.start - t0, "end": s.end - t0, "self": selfs[i],
             **{k: v for k, v in s.attrs.items() if isinstance(v, (int, float, str))}}
            for i, s in enumerate(self.spans)
        ]
        with open(path, "w") as fh:
            json.dump({"spans": rows, **(extra or {})}, fh)


def layer_metrics(spans: list[Span], stage: dict[str, dict], cores: int, raw_bytes: int) -> dict:
    """``<layer>.<measure>`` for every layer in ``LAYERS`` (0 where a
    workload never calls into the layer)."""
    selfs = self_times(spans)
    members: dict[str, set[int]] = {layer: set() for layer in LAYERS}
    for i, s in enumerate(spans):
        if s.layer in members:
            members[s.layer].add(i)
        table = s.attrs.get("table")
        if s.name.startswith("lake.write:"):
            for layer, tables in OUTPUT_TABLES.items():
                if table in tables:
                    members[layer].add(i)
    kids: dict[int, list[int]] = {}
    for i, s in enumerate(spans):
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(i)

    def subtree(i: int) -> list[int]:
        out, todo = [], [i]
        while todo:
            j = todo.pop()
            out.append(j)
            todo.extend(kids.get(j, []))
        return out

    def has_ancestor_in(i: int, ids: set[int]) -> bool:
        p = spans[i].parent
        while p is not None:
            if p in ids:
                return True
            p = spans[p].parent
        return False

    out: dict[str, float] = {}
    for layer, ids in members.items():
        top = [i for i in ids if not has_ancestor_in(i, ids)]
        covered = {j for i in top for j in subtree(i)}
        acc = {"jobs": 0, "tasks": 0, "exec_run_s": 0.0, "exec_cpu_s": 0.0,
               "shuffle_write_b": 0, "spill_b": 0}
        for j in covered:
            for k in acc:
                acc[k] += stage.get(spans[j].group, {}).get(k, 0)
        wall = sum(spans[i].dur for i in top)
        m = {
            "wall_s": wall,
            # time in the layer's own calls, less what other layers' spans
            # inside them took; the attributed output writes are excluded
            "self_s": sum(selfs[i] for i in ids if spans[i].layer == layer),
            "jobs": acc["jobs"],
            "tasks": acc["tasks"],
            "exec_run_s": acc["exec_run_s"],
            "exec_cpu_s": acc["exec_cpu_s"],
            "shuffle_write_mb": acc["shuffle_write_b"] / 2**20,
            "spill_mb": acc["spill_b"] / 2**20,
            "driver_share": 1 - acc["exec_run_s"] / (cores * wall) if wall > 0 else 0.0,
        }
        for k, v in m.items():
            out[f"{layer}.{k}"] = v
    written = [s for s in spans if s.name.startswith("lake.write:")]
    bytes_written = sum(s.attrs.get("bytes", 0) for s in written)
    out["lake.bytes_written_mb"] = bytes_written / 2**20
    out["lake.files_written"] = sum(s.attrs.get("files", 0) for s in written)
    out["lake.write_amp"] = bytes_written / raw_bytes if raw_bytes else 0.0
    return out
