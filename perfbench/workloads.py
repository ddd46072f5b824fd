"""The benchmark's workloads: one closed-loop unit of work each.

A workload prepares its seeded inputs (cached, untimed), loads them into
a SparkSession (timed as set-up), and runs units: each unit is one call a
user of the engine would make, timed end to end, whose outputs are then
checked against answers computed independently of the engine.

``unit(spark, span, root)`` takes two span factories (trace.Tracer.span
in a traced run, :func:`no_span` otherwise): ``root("unit")`` wraps the
timed section only, so the jobs of the checks after it are never counted
as the engine's, and ``span(name)`` wraps a step inside it.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field

import data

SUITE = "transcripts_v1"


@dataclass
class Unit:
    #: wall of the unit (s)
    latency: float
    attempted: int = 0
    failed: int = 0
    #: what was wrong, one entry per wrong output
    errors: list[str] = field(default_factory=list)
    #: rows in the violations sink after the unit
    violations_rows: int = 0
    #: the unit's root span, in a traced run
    span: object = None

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)


def no_span(name):
    """A span factory that records nothing."""
    return contextlib.nullcontext()


def _engine():
    """The engine modules, looked up per call so a traced run's wrappers
    (module attributes swapped by trace.Tracer) are the ones called."""
    import mlcast_sourcedata_validator_spark.checkpoint as checkpoint
    import mlcast_sourcedata_validator_spark.compiler as compiler
    import mlcast_sourcedata_validator_spark.suite as suite
    return suite, compiler, checkpoint


class IncrementalQuarantine:
    """One date partition of a table with a few percent of planted
    violations, as an incremental pipeline handles a newly landed
    partition: ``checkpoint.run_partitioned`` validates and commits it
    into a fresh results path (so resume skips nothing) with a capped
    violations sink, then ``compiler.quarantine`` splits it and both
    outputs are written. Per-partition fixed cost dominates (recompile,
    driver checks, job launches, result writes, lineage commit), and the
    unit loads the violation sink: the example cap, the violations write
    and the semi/anti-join split."""

    name = "incremental_quarantine"
    parts = ("base", "tables")
    #: example rows kept per check in the violations sink; below the
    #: duplicate-key rows planted in a partition (5-52 over 56 seeds), so
    #: the cap cuts on every seed
    VIOLATIONS_LIMIT = 2

    def prepare(self, cache: data.DataCache) -> None:
        self.meta = cache.meta("tables")
        self.base = cache.meta("base")["dir"]
        self.table = os.path.join(self.meta["dir"], "table")

    def load(self, spark, work: str) -> None:
        self.work = work
        self.registry = spark.read.parquet(os.path.join(self.base, "registry"))
        self.baseline = spark.read.parquet(os.path.join(self.base, "baseline"))
        self.planted_keys = spark.read.parquet(
            os.path.join(self.meta["dir"], "planted_keys.parquet"))

    def unit(self, spark, span, root=no_span) -> Unit:
        from mlcast_sourcedata_validator_spark.suite import RunContext

        suite_mod, compiler, checkpoint = _engine()
        out = os.path.join(self.work, f"unit-{uuid.uuid4().hex[:8]}")
        results = os.path.join(out, "results")
        with root("unit") as root_span:
            t0 = time.time()
            suite = suite_mod.get_suite(SUITE)
            summary = checkpoint.run_partitioned(
                spark, suite, self.table, results, registry_df=self.registry,
                baseline_df=self.baseline, max_partitions=1,
                violations_limit=self.VIOLATIONS_LIMIT)
            (p,) = summary.processed
            batch = spark.read.option("basePath", self.table) \
                .parquet(os.path.join(self.table, f"date={p}")).drop("date")
            clean, flagged = compiler.quarantine(RunContext(
                spark=spark, df=batch, suite=suite, run_id=summary.run_id, partition_id=p,
                registry_df=self.registry, baseline_df=self.baseline,
                table_path=self.table))
            with span("compiler.quarantine.write"):
                clean.write.parquet(os.path.join(out, "clean"))
                flagged.write.parquet(os.path.join(out, "flagged"))
            wall = time.time() - t0

        expected = self.meta["partitions"][p]
        n = expected["n_rows"]
        u = Unit(wall, span=root_span)
        lineage = checkpoint.read_lineage(spark, results).collect()
        u.check([(r["partition_id"], r["status"], r["n_input_rows"]) for r in lineage]
                == [(p, "COMMITTED", n)], "partition committed with every row")
        metrics = summary.results[p].metrics
        for cls, key in data.PLANTED.items():
            u.check(metrics.get(key) == expected["planted"][cls], f"{cls} count")
        read = spark.read.parquet
        flagged_df = read(os.path.join(out, "flagged"))
        u.check(read(os.path.join(out, "clean")).count() + flagged_df.count() == n,
                "clean + flagged = input")
        missed = self.planted_keys.where(self.planted_keys["date"] == p) \
            .join(flagged_df, ["conv_id", "turn_idx"], "left_anti").count()
        u.check(missed == 0, "every planted row flagged")
        sink = {r["check_id"]: r["count"] for r in
                checkpoint.read_violations(spark, results).groupBy("check_id").count()
                .collect()}
        u.violations_rows = sum(sink.values())
        for cls, cid in data.SINK_CHECKS.items():
            u.check(sink.get(cid, 0) == min(expected["planted"][cls], self.VIOLATIONS_LIMIT),
                    f"{cid} rows in the violations sink")
        u.check(max(sink.values(), default=0) <= self.VIOLATIONS_LIMIT,
                "violations sink capped per check")
        shutil.rmtree(out, ignore_errors=True)
        return u


class OperatorQueries:
    """A fixed sweep of ``__spark_entry__`` queries that run the
    ``functions/*`` operators (Misra-Gries sketch, MinHash, dedup, Gopher
    quality, streaming sessions, volume anomaly), each counted and
    compared with its DuckDB oracle's row count. No suite code runs."""

    name = "operator_queries"
    parts = ("queries",)
    #: the sweep, in order; each reads one of the ``events`` and
    #: ``documents`` tables
    QUERIES = (
        "heavy_hitters_documents",
        "minhash_signatures_documents",
        "dedup_keep_min_documents",
        "gopher_quality_documents",
        "streaming_sessions_events",
        "volume_anomaly_events",
    )

    def prepare(self, cache: data.DataCache) -> None:
        import __spark_entry__ as entry

        qs = dict(entry.queries())
        qs.update(entry.extra_queries())
        self.fns = {q: qs[q] for q in self.QUERIES}
        self.meta = cache.meta("queries")

    def load(self, spark, work: str) -> None:
        pass

    def unit(self, spark, span, root=no_span) -> Unit:
        d = self.meta["dir"]
        counts = {}
        with root("unit") as root_span:
            t0 = time.time()
            for q, fn in self.fns.items():
                with span(f"functions.q.{q}"):
                    counts[q] = fn(spark, d).count()
            wall = time.time() - t0
        u = Unit(wall, span=root_span)
        for q, n in counts.items():
            u.check(n == self.meta["oracle_rows"][q], f"{q} rows")
        return u


WORKLOADS = {w.name: w for w in (IncrementalQuarantine, OperatorQueries)}
