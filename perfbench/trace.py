"""Tracing for the per-layer run: spans around the runner's layer calls,
and a stage-ID diff of Spark's status store around each run.

Spans are recorded from this file only, by swapping wrappers in for the
public functions ``run_incremental`` calls and for the two Spark actions it
issues (``DataFrame.localCheckpoint`` and ``DataFrameWriter.parquet``). The
program itself is not edited. Spans are kept in memory; the caller writes
them out when the benchmark ends.
"""

from __future__ import annotations

import functools
import itertools
import os
import threading
import time
from dataclasses import dataclass, field

# Builder function -> destination table it feeds.
BUILDERS = {
    "build_revisions": "revisions",
    "build_diffs": "diffs",
    "build_changesets": "changesets",
    "build_comments": "comments",
    "build_review_requests": "review_requests",
    "build_transactions": "transactions",
    "build_review_groups": "review_groups",
    "build_project_transactions": "project_transactions",
}
RUNNER_FUNCTIONS = (
    "read_watermark",
    "filter_changed_revisions",
    "expand_by_stack_component",
    "dedup_latest",
    "merge_upsert",
)
PIPELINE_FUNCTIONS = (
    "stack_components",
    "stack_sizes_from_components",
    "dim_users",
    "dim_projects",
    "dim_repositories",
    *BUILDERS,
)


@dataclass
class Span:
    id: int
    parent: int | None
    run: int
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans. A span's parent is the innermost open span of the
    same thread; spans opened on the runner's pool threads, which have none,
    hang off the run's root span."""

    def __init__(self):
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._root: Span | None = None
        self._runs = itertools.count(1)
        # Results handed back by traced calls, for counting after the run.
        self.captured: dict[str, list] = {}

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else self._root
        with self._lock:
            span = Span(
                next(self._ids),
                parent.id if parent else None,
                self._root.run if self._root else 0,
                name,
                time.perf_counter(),
            )
            self.spans.append(span)
        stack.append(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        self._stack().pop()

    def begin_run(self, name: str) -> Span:
        self.captured = {}
        with self._lock:
            root = Span(next(self._ids), None, next(self._runs), name, time.perf_counter())
            self.spans.append(root)
        self._root = root
        return root

    def end_run(self) -> Span:
        root, self._root = self._root, None
        root.end = time.perf_counter()
        return root

    def capture(self, key: str, value) -> None:
        with self._lock:
            self.captured.setdefault(key, []).append(value)

    def wrap(self, fn, name: str, on_call=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = self.open(name)
            try:
                result = fn(*args, **kwargs)
            finally:
                self.close(span)
            if on_call is not None:
                on_call(span, args, kwargs, result)
            return result

        return traced


class Instrumentation:
    """Swaps traced wrappers in for the runner's layer calls while active."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self._saved: list[tuple[object, str, object]] = []

    def _patch(self, owner, attr: str, name: str, on_call=None) -> None:
        original = getattr(owner, attr)
        self._saved.append((owner, attr, original))
        setattr(owner, attr, self.tracer.wrap(original, name, on_call))

    def __enter__(self):
        from pyspark.sql import DataFrameWriter
        from pyspark.sql.classic.dataframe import DataFrame  # the class sessions hand out

        from phabricator_etl_spark.operators import graph
        from phabricator_etl_spark.plans import incremental_runner as R
        from phabricator_etl_spark.plans import phab_pipelines as P

        tr = self.tracer

        def keep(key, pick=lambda args, result: result):
            return lambda span, args, kwargs, result: tr.capture(key, pick(args, result))

        def tag_revision(span, args, kwargs, result):
            span.attrs["revision_df"] = id(result.revision)
            tr.capture("expand_by_stack_component", result.revision)

        runner_calls = {
            "filter_changed_revisions": keep("filter_changed_revisions", lambda a, r: r.revision),
            "expand_by_stack_component": tag_revision,
            "dedup_latest": keep("dedup_latest"),
        }
        for fn in RUNNER_FUNCTIONS:
            self._patch(R, fn, f"incremental_runner.{fn}", runner_calls.get(fn))
        for fn in PIPELINE_FUNCTIONS:
            self._patch(P, fn, f"phab_pipelines.{fn}")
        def cc_inputs(span, args, kwargs, result):
            vertices, edges = args[:2]
            tr.capture("connected_components.vertices", vertices)
            tr.capture("connected_components.edges", edges)

        # phab_pipelines holds its own reference to connected_components
        self._patch(graph, "connected_components", "graph.connected_components", cc_inputs)
        self._patch(P, "connected_components", "graph.connected_components", cc_inputs)

        def on_checkpoint(span, args, kwargs, result):
            span.attrs["df"] = id(args[0])

        def on_write(span, args, kwargs, result):
            path = args[1] if len(args) > 1 else kwargs["path"]
            span.attrs["table"] = os.path.basename(os.path.normpath(path)).removesuffix("__stage")

        self._patch(DataFrame, "localCheckpoint", "spark.localCheckpoint", on_checkpoint)
        self._patch(DataFrameWriter, "parquet", "spark.write.parquet", on_write)
        return self

    def __exit__(self, *exc):
        while self._saved:
            owner, attr, original = self._saved.pop()
            setattr(owner, attr, original)
        return False


# --- span arithmetic ---------------------------------------------------------


def union_seconds(intervals, lo: float = float("-inf"), hi: float = float("inf")) -> float:
    """Length of the union of (start, end) intervals, clipped to [lo, hi]."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if end <= start:
            continue
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_seconds(span: Span, spans: list[Span]) -> float:
    """The span's duration minus the part of it its children cover. Children
    on the runner's pool threads overlap, so their union is subtracted."""
    children = [(s.start, s.end) for s in spans if s.parent == span.id]
    return span.seconds - union_seconds(children, span.start, span.end)


def layer_metrics(root: Span, spans: list[Span]) -> dict[str, float]:
    """Per-layer times in ms for one run, from that run's spans."""
    run = [s for s in spans if s.run == root.run and s is not root]
    direct = [s for s in run if s.parent == root.id]

    def total(name: str) -> float:
        return sum(s.seconds for s in run if s.name == name)

    expand_ids = {
        s.attrs["revision_df"] for s in run if s.name == "incremental_runner.expand_by_stack_component"
    }
    pins = [s for s in direct if s.name == "spark.localCheckpoint"]
    out = {
        "incremental_runner.read_watermark_ms": total("incremental_runner.read_watermark"),
        "incremental_runner.pin_ms": union_seconds((s.start, s.end) for s in pins),
        "incremental_runner.self_ms": self_seconds(root, spans),
        # the expansion is lazy; its cost lands where the runner pins it
        "incremental_runner.expand_ms": total("incremental_runner.expand_by_stack_component")
        + sum(s.seconds for s in pins if s.attrs.get("df") in expand_ids),
        "phab_pipelines.dims_ms": sum(
            s.seconds for s in run if s.name.startswith("phab_pipelines.dim_")
        ),
        "graph.cc_ms": sum(
            s.seconds for s in run
            if s.name == "graph.connected_components"
            and not any(p.id == s.parent and p.name == s.name for p in run)
        ),
    }
    for fn, table in BUILDERS.items():
        out[f"phab_pipelines.build_ms.{table}"] = total(f"phab_pipelines.{fn}")
        out[f"incremental_runner.write_ms.{table}"] = sum(
            s.seconds for s in run if s.name == "spark.write.parquet" and s.attrs["table"] == table
        )
    return {k: v * 1000.0 for k, v in out.items()}


# --- Spark status store --------------------------------------------------------

STAGE_FIELDS = {
    "tasks": "numCompleteTasks",
    "run_ms": "executorRunTime",
    "cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "input_b": "inputBytes",
    "output_b": "outputBytes",
    "shuffle_write_b": "shuffleWriteBytes",
    "spill_b": "diskBytesSpilled",
}


class SparkStatus:
    """Spark's own status store (AppStatusStore, kept with the UI off) and
    two JVM counters, read through py4j."""

    def __init__(self, spark):
        jvm, gateway = spark._jvm, spark.sparkContext._gateway
        self._jvm = jvm
        self._store = spark.sparkContext._jsc.sc().statusStore()
        # stageList(statuses, details, withSummaries, quantiles, taskStatuses)
        self._stage_args = (
            jvm.java.util.ArrayList(), False, False, gateway.new_array(jvm.double, 0),
            jvm.java.util.ArrayList(),
        )

    def _list(self, seq):
        return self._jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq)

    def stages(self):
        return self._list(self._store.stageList(*self._stage_args))

    def jobs(self):
        return self._list(self._store.jobsList(self._jvm.java.util.ArrayList()))

    def counters(self) -> dict[str, float]:
        """Whole-stage-codegen compilations and HotSpot JIT milliseconds so
        far; both fall from run to run while the process warms up."""
        codegen = self._jvm.org.apache.spark.metrics.source.CodegenMetrics
        jit = self._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
        return {
            "codegen_compiles": codegen.METRIC_COMPILATION_TIME().getCount(),
            "jit_ms": jit.getTotalCompilationTime(),
        }


def status_ids(status) -> tuple[set, set]:
    """(stage (id, attempt) pairs, job ids) the status store holds now."""
    stages = {(s.stageId(), s.attemptId()) for s in status.stages()}
    jobs = {j.jobId() for j in status.jobs()}
    return stages, jobs


def stage_diff(status, before: tuple[set, set]) -> dict[str, float]:
    """Jobs, stages and task totals of everything the store gained since
    ``before``. Stage IDs are global, so the diff also holds the jobs the
    runner's thread pool submits, which a job group would miss. A stage the
    scheduler found already computed ends SKIPPED and runs no tasks; it is
    counted apart from the stages that ran."""
    stages_before, jobs_before = before
    out = {k: 0 for k in STAGE_FIELDS}
    out.update(jobs=0, stages=0, stages_skipped=0, stages_failed=0)
    for s in status.stages():
        if (s.stageId(), s.attemptId()) in stages_before:
            continue
        state = str(s.status())
        if state == "SKIPPED":
            out["stages_skipped"] += 1
            continue
        out["stages"] += 1
        out["stages_failed"] += state != "COMPLETE"
        for key, getter in STAGE_FIELDS.items():
            out[key] += getattr(s, getter)()
    out["jobs"] = sum(1 for j in status.jobs() if j.jobId() not in jobs_before)
    return out
