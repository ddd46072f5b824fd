"""Process environment and SparkSession for the benchmark's processes."""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "mlcast_sourcedata_validator_spark"
#: everything the benchmark writes lives under this directory
STATE = os.path.join(ROOT, ".perfbench")

#: fixed so plans do not depend on the machine
SHUFFLE_PARTITIONS = 8
#: fits a 4-core, 15 GB machine shared with other work
DRIVER_MEMORY = "2g"


def engine_present() -> bool:
    return (os.path.isfile(os.path.join(ROOT, PKG, "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")))


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_process(run_dir: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``run_dir``,
    size the driver for a small machine, and put the engine on the path
    of this process and of the Python workers Spark starts."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # -XX:-UsePerfData: HotSpot's hsperfdata file always goes to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    for p in (HERE, ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def session(run_dir: str, event_log: str | None = None):
    """SparkSession at ``local[nproc]`` through the engine's own factory;
    ``event_log`` turns on Spark's event log into that directory."""
    from mlcast_sourcedata_validator_spark.session import get_spark

    conf = {"spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the engine's own JVM log options, plus a heap that starts at
            # its maximum: grown from the JVM's small default, the heap
            # kept resizing through the first ~8 units, and unit latency
            # fell from ~8.2 to ~6.5 s partway through a run
            "spark.driver.extraJavaOptions":
                f"-Xlog:disable -Xlog:all=warning:stderr -Xms{DRIVER_MEMORY}"}
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + event_log,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    return get_spark(app_name="perfbench", cores=cores(),
                     shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)


def stop_jvm(timeout: float = 60) -> None:
    """Stop the JVM PySpark launched for this process, and its Python
    workers, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    SparkContext._gateway = SparkContext._jvm = None
    gateway.shutdown()
    gateway.proc.stdin.close()  # the gateway server exits on EOF
    gateway.proc.wait(timeout)
