"""Fold a Spark event log (uncompressed JSON lines) into per-layer figures.

The log is written by the session itself (``spark.eventLog.*`` passed
through ``get_spark(extra_conf=...)``); nothing here talks to Spark.
Times in the log are epoch milliseconds from the JVM clock, the same
wall clock as ``time.time()`` in the driver.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"


def conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


@dataclass
class Task:
    stage: int
    launch_s: float
    finish_s: float
    run_s: float
    gc_s: float
    shuffle_write_bytes: int
    python_sent: int | None  # None: not a mapInArrow (Python) task
    python_received: int | None


@dataclass
class Sql:
    id: int
    start_s: float
    end_s: float
    plan: str


@dataclass
class Log:
    tasks: list[Task] = field(default_factory=list)
    sqls: list[Sql] = field(default_factory=list)
    jobs: list[tuple[float, float]] = field(default_factory=list)

    def window(self, t0: float, t1: float) -> "Log":
        """The part of the log that started inside [t0, t1]."""
        return Log(
            [t for t in self.tasks if t0 <= t.launch_s <= t1],
            [s for s in self.sqls if t0 <= s.start_s <= t1],
            [j for j in self.jobs if t0 <= j[0] <= t1],
        )

    @property
    def python_tasks(self) -> list[Task]:
        return [t for t in self.tasks if t.python_sent is not None]


def _acc(info: dict, name: str) -> int | None:
    for a in info.get("Accumulables", []):
        if a.get("Name") == name:
            return int(a["Update"])
    return None


def read(log_dir: str) -> Log:
    """Parse every application log in ``log_dir``."""
    log = Log()
    sql_start: dict[int, tuple[float, str]] = {}
    job_start: dict[int, float] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.basename(path).startswith(".") or path.endswith(".inprogress"):
            continue
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerTaskEnd":
                    info, m = e["Task Info"], e.get("Task Metrics") or {}
                    if e["Task End Reason"]["Reason"] != "Success":
                        continue
                    sw = m.get("Shuffle Write Metrics") or {}
                    log.tasks.append(
                        Task(
                            stage=e["Stage ID"],
                            launch_s=info["Launch Time"] / 1000.0,
                            finish_s=info["Finish Time"] / 1000.0,
                            run_s=m.get("Executor Run Time", 0) / 1000.0,
                            gc_s=m.get("JVM GC Time", 0) / 1000.0,
                            shuffle_write_bytes=sw.get("Shuffle Bytes Written", 0),
                            python_sent=_acc(info, "data sent to Python workers"),
                            python_received=_acc(
                                info, "data returned from Python workers"
                            ),
                        )
                    )
                elif kind == SQL_START:
                    sql_start[e["executionId"]] = (
                        e["time"] / 1000.0,
                        e.get("physicalPlanDescription", ""),
                    )
                elif kind == SQL_END and e["executionId"] in sql_start:
                    t0, plan = sql_start.pop(e["executionId"])
                    log.sqls.append(Sql(e["executionId"], t0, e["time"] / 1000.0, plan))
                elif kind == "SparkListenerJobStart":
                    job_start[e["Job ID"]] = e["Submission Time"] / 1000.0
                elif kind == "SparkListenerJobEnd" and e["Job ID"] in job_start:
                    log.jobs.append(
                        (job_start.pop(e["Job ID"]), e["Completion Time"] / 1000.0)
                    )
    return log
