"""The Spark session the benchmark drives, and the bookkeeping of timed
units: wall, process-tree CPU, failed Spark tasks.

Every path Spark, the JVM and the Python workers write to is placed under
the run's work directory, which lives inside the checkout."""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from . import procstat

# Driver heap: set explicitly, far below the host's memory, so the run
# never inherits the package default sized for a large server.
DRIVER_MEM = "3g"
MAX_CORES = 4


def cores() -> int:
    return max(1, min(MAX_CORES, len(os.sched_getaffinity(0))))


def prepare_env(work: str) -> None:
    """Point every temporary path of Python, Spark and the JVM into
    `work`. Must run before pyspark launches the JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


@dataclass
class Unit:
    index: int
    kind: str
    wall_s: float
    cpu_s: float
    failed_tasks: int = 0
    error: str | None = None
    start: float = 0.0  # epoch seconds, the event log's clock
    end: float = 0.0
    extra: dict = field(default_factory=dict)


class Engine:
    """Owns the SparkSession of one benchmark run."""

    def __init__(self, work: str, event_log: bool):
        self.work = work
        self.event_log_dir = os.path.join(work, "events") if event_log else None
        self.spark = None
        self.setup_s = None

    def start(self):
        from pelinker_spark.session import get_spark

        n = cores()
        tmp = os.environ["TMPDIR"]
        conf = {
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM}",
        }
        if self.event_log_dir:
            os.makedirs(self.event_log_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.monotonic()
        self.spark = get_spark("perfbench", cores=n, shuffle_partitions=n, extra_conf=conf)
        self.setup_s = time.monotonic() - t0
        return self.spark

    def stop(self) -> None:
        """Stop Spark, then end the JVM and wait for it: the gateway JVM
        exits when its stdin closes."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gw = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                proc.wait(timeout=120)
            SparkContext._gateway = None
            SparkContext._jvm = None

    def event_log_path(self) -> str | None:
        if not self.event_log_dir:
            return None
        files = [f for f in os.listdir(self.event_log_dir) if not f.startswith(".")]
        return os.path.join(self.event_log_dir, files[0]) if files else None

    def failed_tasks(self, group: str) -> int:
        """Failed task attempts of the jobs run under a job group, from the
        status tracker."""
        tr = self.spark.sparkContext.statusTracker()
        n = 0
        for jid in tr.getJobIdsForGroup(group):
            job = tr.getJobInfo(jid)
            for sid in job.stageIds if job else []:
                st = tr.getStageInfo(sid)
                if st is not None:
                    n += st.numFailedTasks
        return n

    def timed(self, index: int, kind: str, fn) -> tuple[Unit, object]:
        """Run fn() as one timed unit under its own job group. A unit that
        raises is recorded with its error and returns None."""
        sc = self.spark.sparkContext
        group = f"unit-{kind}-{index}"
        sc.setLocalProperty("spark.jobGroup.id", group)
        c0 = procstat.tree_cpu_s()
        e0 = time.time()
        t0 = time.monotonic()
        out, err = None, None
        try:
            out = fn()
        except Exception as e:  # a failing unit is counted, not fatal
            err = f"{type(e).__name__}: {str(e)[:500]}"
        wall = time.monotonic() - t0
        cpu = procstat.tree_cpu_s() - c0
        sc.setLocalProperty("spark.jobGroup.id", None)
        unit = Unit(index, kind, wall, cpu, self.failed_tasks(group), err,
                    start=e0, end=e0 + wall)
        return unit, out
