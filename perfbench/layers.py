"""Per-layer metrics from a traced run.

The traced run repeats the closed loop in a SparkSession with Spark's
event log on and every layer's public function wrapped in a span
(trace.py). Each measured unit (one partition, or one query sweep) is
one root span; a layer metric is its value within one unit, and the
reported value is its median over the units. Times come from
the spans, exact job/stage/task counts from the status tracker, bytes
and executor times from the event log parsed after the session stops.
"""

from __future__ import annotations

import statistics

import eventlog
import trace
from workloads import OperatorQueries

#: span name -> metric (seconds per unit)
SPAN_TIMES = {
    "suite.get_suite": "suite.get_suite_s",
    "compiler.compile_suite": "compiler.compile_suite_s",
    "compiler.build_suite_plan": "compiler.build_suite_plan_s",
    "compiler.run_suite": "compiler.run_suite_s",
    "operators.roundtrip": "operators.roundtrip_s",
    "operators.storage": "operators.storage_s",
    "operators.schema": "operators.schema_s",
    "compiler.quarantine": "compiler.quarantine_s",
    "sources.list_date_partitions": "sources.list_date_partitions_s",
    **{f"functions.q.{q}": f"functions.q.{q}_s" for q in OperatorQueries.QUERIES},
}

#: (name, unit, better) of every per-layer metric, in report order
PER_LAYER = (
    [(m, "s", "lower") for m in SPAN_TIMES.values() if not m.startswith("functions.")]
    + [("operators.driver_checks_s", "s", "lower"),
       ("compiler.run_suite.jobs", "count", "lower"),
       ("compiler.run_suite.stages", "count", "lower"),
       ("compiler.run_suite.tasks", "count", "lower"),
       ("compiler.quarantine.jobs", "count", "lower"),
       ("compiler.violations_rows_written", "rows", "lower"),
       ("checkpoint.write_jobs", "count", "lower"),
       ("checkpoint.bytes_written", "bytes", "lower"),
       ("spark.jobs", "count", "lower"),
       ("spark.unattributed_jobs", "count", "lower"),
       ("spark.driver_gap_s", "s", "lower"),
       ("spark.input_bytes", "bytes", "lower"),
       ("spark.shuffle_write_bytes", "bytes", "lower"),
       ("spark.shuffle_read_bytes", "bytes", "lower"),
       ("spark.spill_bytes", "bytes", "lower"),
       ("spark.executor_run_s", "s", "lower"),
       ("spark.jvm_gc_s", "s", "lower"),
       ("trace.latency_s", "s", "lower"),
       ("trace.overhead_s", "s", "lower"),
       ("process.peak_rss_mb", "MB", "lower")]
    + [(m, "s", "lower") for m in SPAN_TIMES.values() if m.startswith("functions.")]
)


def traced(wl, spark, seconds: float, tally, untraced_units, loop, work: str,
           log_dir: str) -> dict:
    """Run ``wl`` traced in ``spark`` (whose event log goes to
    ``log_dir``); stops ``spark``; returns every per-layer metric."""
    tracer = trace.Tracer(spark)
    tracer.install()
    try:
        wl.load(spark, work)
        # one warm-up unit, outside any unit span: the JVM is already warm
        tally.add(wl.unit(spark, tracer.span))
        units = loop(wl, spark, seconds, tally, tracer.span, root_span=tracer.span)
        counts = [_status_counts(tracer, u.span) for u in units]
    finally:
        tracer.uninstall()
        spark.stop()
    jobs, stages = eventlog.parse(log_dir)
    owner = eventlog.attribute(jobs, tracer.spans)
    stage_job: dict[int, int] = {}
    for j in sorted(jobs):
        for sid in jobs[j].stages:
            stage_job.setdefault(sid, j)
    job_stages: dict[int, list[int]] = {}
    for sid, j in stage_job.items():
        job_stages.setdefault(j, []).append(sid)

    per_unit = []
    for u, c in zip(units, counts):
        sub = tracer.subtree(u.span)
        m = dict.fromkeys((name for name, _, _ in PER_LAYER), 0.0)
        for s in sub:
            if s.name in SPAN_TIMES:
                m[SPAN_TIMES[s.name]] += s.wall
            if s.name.startswith(trace.DRIVER_CHECK_PREFIX):
                m["operators.driver_checks_s"] += s.wall
        m.update(c)
        m["compiler.violations_rows_written"] = u.violations_rows

        ids = {s.id for s in sub}
        unit_jobs = [j for j, sid in owner.items() if sid in ids]
        m["spark.jobs"] = len(unit_jobs)
        m["spark.unattributed_jobs"] = sum(
            1 for j in unit_jobs if not eventlog.attributed(jobs[j].callsite))
        for j in unit_jobs:
            for sid in job_stages.get(j, ()):
                for key, v in stages.get(sid, {}).items():
                    if f"spark.{key}" in m:
                        m[f"spark.{key}"] += v
        by_span: dict[int, list[int]] = {}
        for j in unit_jobs:
            by_span.setdefault(owner[j], []).append(j)
        for s in sub:
            if s.name == "compiler.run_suite":
                inner = {x.id for x in tracer.subtree(s)}
                spans_jobs = [jobs[j] for i in inner for j in by_span.get(i, ())]
                busy = eventlog.union_seconds(
                    [(max(j.submit, s.t0), min(j.end or s.t1, s.t1)) for j in spans_jobs])
                m["spark.driver_gap_s"] += s.wall - busy
            elif s.name == "checkpoint.run_partitioned":
                own = by_span.get(s.id, ())
                m["checkpoint.write_jobs"] += len(own)
                m["checkpoint.bytes_written"] += sum(
                    stages.get(sid, {}).get("output_bytes", 0)
                    for j in own for sid in job_stages.get(j, ()))
        per_unit.append(m)

    metrics = {name: {"value": statistics.median(p[name] for p in per_unit), "unit": unit}
               for name, unit, _ in PER_LAYER}
    lat = statistics.median(u.latency for u in units)
    base = statistics.median(u.latency for u in untraced_units)
    metrics["trace.latency_s"]["value"] = lat
    metrics["trace.overhead_s"]["value"] = lat - base
    return metrics


def _status_counts(tracer, root) -> dict[str, float]:
    """Exact counts for the run_suite and quarantine calls in one unit."""
    sub = tracer.subtree(root)
    suite_spans = [x for s in sub if s.name == "compiler.run_suite"
                   for x in tracer.subtree(s)]
    quarantine_spans = [x for s in sub if s.name.startswith("compiler.quarantine")
                        for x in tracer.subtree(s)]
    rs = tracer.job_stats(suite_spans)
    return {"compiler.run_suite.jobs": rs["jobs"],
            "compiler.run_suite.stages": rs["stages"],
            "compiler.run_suite.tasks": rs["tasks"],
            "compiler.quarantine.jobs": tracer.job_stats(quarantine_spans)["jobs"]}
