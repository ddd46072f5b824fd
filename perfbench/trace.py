"""Spans around the calls into the engine's layers, from outside the engine.

A traced run swaps each layer's public function (module attribute) for a
wrapper that records a span (name, start, end, parent) and runs the call
under its own Spark job group, so every Spark job the call launches can
be tied back to the layer. Driver-side checks are wrapped one by one in
the suite ``compile_suite`` returns. Nothing in the engine changes; the
originals are put back by :meth:`Tracer.uninstall`.
"""

from __future__ import annotations

import contextlib
import dataclasses
import importlib
import time

PKG = "mlcast_sourcedata_validator_spark"

#: (module, attribute, span name). ``checkpoint`` imports ``run_suite`` and
#: ``list_date_partitions`` by name, so its copies are wrapped too.
LAYER_FUNCS = (
    ("suite", "get_suite", "suite.get_suite"),
    ("compiler", "compile_suite", "compiler.compile_suite"),
    ("compiler", "build_suite_plan", "compiler.build_suite_plan"),
    ("compiler", "run_suite", "compiler.run_suite"),
    ("checkpoint", "run_suite", "compiler.run_suite"),
    ("compiler", "quarantine", "compiler.quarantine"),
    ("checkpoint", "run_partitioned", "checkpoint.run_partitioned"),
    ("sources.tables", "list_date_partitions", "sources.list_date_partitions"),
    ("checkpoint", "list_date_partitions", "sources.list_date_partitions"),
)

#: driver-side check kind -> span name; other kinds get "operators.other"
DRIVER_CHECK_SPANS = {
    "roundtrip": "operators.roundtrip",
    "storage_codec": "operators.storage",
    "storage_format": "operators.storage",
    "storage_partitioning": "operators.storage",
    "required_columns": "operators.schema",
    "schema_drift": "operators.schema",
}
DRIVER_CHECK_PREFIX = "operators."

_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description",
                "spark.job.interruptOnCancel")


@dataclasses.dataclass
class Span:
    id: int
    name: str
    parent: int | None
    t0: float
    t1: float = 0.0
    #: Spark job ids launched under this span's own job group
    jobs: list[int] = dataclasses.field(default_factory=list)

    @property
    def group(self) -> str:
        return f"perfbench-span-{self.id}"

    @property
    def wall(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """Records spans in memory; one tracer per traced SparkSession."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._saved: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        s = Span(len(self.spans), name, self._stack[-1] if self._stack else None,
                 time.time())
        self.spans.append(s)
        self._stack.append(s.id)
        saved = {k: self.sc.getLocalProperty(k) for k in _GROUP_PROPS}
        self.sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.t1 = time.time()
            self._stack.pop()
            for k, v in saved.items():
                self.sc.setLocalProperty(k, v)
            s.jobs = list(self.sc.statusTracker().getJobIdsForGroup(s.group))

    def _wrap(self, fn, name: str):
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        wrapper.__wrapped__ = fn
        return wrapper

    def _wrap_compile(self, fn):
        def compile_suite(suite, *args, **kwargs):
            with self.span("compiler.compile_suite"):
                cs = fn(suite, *args, **kwargs)
            kinds = {spec.check_id: spec.kind for spec in suite.checks}
            cs.driver_checks = [
                (cid, dataclasses.replace(dc, fn=self._wrap(
                    dc.fn, DRIVER_CHECK_SPANS.get(kinds.get(cid), "operators.other"))))
                for cid, dc in cs.driver_checks
            ]
            return cs

        compile_suite.__wrapped__ = fn
        return compile_suite

    def install(self) -> None:
        for mod_name, attr, name in LAYER_FUNCS:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            fn = getattr(mod, attr)
            self._saved.append((mod, attr, fn))
            setattr(mod, attr, self._wrap_compile(fn) if attr == "compile_suite"
                    else self._wrap(fn, name))

    def uninstall(self) -> None:
        for mod, attr, fn in reversed(self._saved):
            setattr(mod, attr, fn)
        self._saved.clear()

    def subtree(self, root: Span) -> list[Span]:
        """``root`` and every span below it (spans are recorded in start
        order, so a descendant always follows its ancestors)."""
        ids = {root.id}
        out = [root]
        for s in self.spans[root.id + 1:]:
            if s.parent in ids:
                ids.add(s.id)
                out.append(s)
        return out

    def job_stats(self, spans: list[Span]) -> dict[str, int]:
        """Exact job, stage and task counts of the spans' own job groups,
        from the status tracker. A stage counts when it ran tasks; stages
        a job reused from an earlier job's shuffle are skipped."""
        st = self.sc.statusTracker()
        jobs = [j for s in spans for j in s.jobs]
        stages: set[int] = set()
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in (info.stageIds if info else ()):
                si = st.getStageInfo(sid)
                if si is not None and si.numCompletedTasks and sid not in stages:
                    stages.add(sid)
                    tasks += si.numCompletedTasks
        return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks}
