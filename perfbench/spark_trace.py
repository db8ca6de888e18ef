"""Spark-layer metrics read from a local event log, enabled from outside.

``enable_event_log`` sets the event-log confs as JVM system properties,
which every SparkContext created afterwards in that JVM picks up as
defaults -- the session factory (``ocr_spark/session.py``) is not
touched.  ``count_kernel_calls`` does the same for the Python workers'
environment, so that ``worker_hook/sitecustomize.py`` counts kernel calls.
The benchmark tags each phase with a job group; after the session stops,
``JobGroups`` reads the log back and sums stage and task metrics per
group.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict

_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"
_PY_BOOT = "time to start Python workers"
_PY_INIT = "time to initialize Python workers"
_PY_RUN = "time to run Python workers"
_HOOK_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "worker_hook")


def enable_event_log(spark, log_dir: str) -> None:
    """Turn the event log on for the *next* SparkContext in this JVM."""
    os.makedirs(log_dir, exist_ok=True)
    system = spark._jvm.java.lang.System
    for key, value in {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }.items():
        system.setProperty(key, value)


def count_kernel_calls(spark, counter: str) -> None:
    """Make the Python workers of the *next* SparkContext in this JVM count
    their ``ocr_media_ref`` calls into the file ``counter``."""
    system = spark._jvm.java.lang.System
    system.setProperty("spark.executorEnv.PYTHONPATH", _HOOK_DIR)
    system.setProperty("spark.executorEnv.PERFBENCH_KERNEL_CALLS", os.path.abspath(counter))


def kernel_calls(counter: str) -> int:
    return os.path.getsize(counter) if os.path.exists(counter) else 0


class _Stage:
    def __init__(self, info: dict):
        self.id = info["Stage ID"]
        self.wall_s = (info["Completion Time"] - info["Submission Time"]) / 1e3
        self.acc: dict[str, float] = defaultdict(float)
        for a in info.get("Accumulables", []):
            try:
                self.acc[a["Name"]] += float(a["Value"])
            except (TypeError, ValueError):
                pass
        self.task_s: list[float] = []
        self.run_s = 0.0
        self.gc_s = 0.0
        self.spill = 0.0

    @property
    def kind(self) -> str:
        if _PY_SENT in self.acc:
            return "udf"
        if "scan time" in self.acc:
            return "scan"
        if "records read" in self.acc:
            return "reassembly"
        return "other"


class JobGroups:
    """Jobs and stages of one application's event log, by job group."""

    def __init__(self, log_dir: str):
        paths = sorted(glob.glob(os.path.join(log_dir, "*")))
        if not paths:
            raise FileNotFoundError(f"no event log in {log_dir}")
        self.jobs: dict[str, list[int]] = defaultdict(list)
        job_stages: dict[int, list[int]] = {}
        self._job_span: dict[int, list[float]] = {}  # job -> [submitted, completed] ms
        self._job_sql: dict[int, str] = {}  # job -> SQL execution id
        self._sql_plan: dict[str, str] = {}  # SQL execution id -> physical plan
        stages: dict[int, _Stage] = {}
        tasks: list[dict] = []
        with open(paths[-1]) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id")
                    self.jobs[group].append(ev["Job ID"])
                    job_stages[ev["Job ID"]] = ev["Stage IDs"]
                    self._job_span[ev["Job ID"]] = [ev["Submission Time"], ev["Submission Time"]]
                    self._job_sql[ev["Job ID"]] = props.get("spark.sql.execution.id")
                elif kind == "SparkListenerJobEnd":
                    self._job_span[ev["Job ID"]][1] = ev["Completion Time"]
                elif kind.endswith("SQLExecutionStart"):
                    self._sql_plan[str(ev["executionId"])] = ev.get("physicalPlanDescription", "")
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if "Completion Time" in info and "Submission Time" in info:
                        stages[info["Stage ID"]] = _Stage(info)
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
        for ev in tasks:
            st = stages.get(ev["Stage ID"])
            if st is None:
                continue
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            st.task_s.append((info["Finish Time"] - info["Launch Time"]) / 1e3)
            st.run_s += m.get("Executor Run Time", 0) / 1e3
            st.gc_s += m.get("JVM GC Time", 0) / 1e3
            st.spill += m.get("Disk Bytes Spilled", 0)
        self._job_stages = job_stages
        self._stages = stages

    def stages(self, group: str) -> list[_Stage]:
        ids = {s for j in self.jobs.get(group, []) for s in self._job_stages[j]}
        return [self._stages[s] for s in sorted(ids) if s in self._stages]

    def n_jobs(self, group: str) -> int:
        return len(self.jobs.get(group, []))

    def write_s(self, group: str, runs: str) -> float:
        """Summed wall of the group's jobs that belong to a file write whose
        physical plan contains ``runs`` (e.g. the extraction's
        ``MapInPandas``)."""
        total = 0.0
        for job in self.jobs.get(group, []):
            plan = self._sql_plan.get(self._job_sql.get(job) or "", "")
            if "InsertIntoHadoopFsRelationCommand" in plan and runs in plan:
                start, end = self._job_span[job]
                total += (end - start) / 1e3
        return total

    def shuffle_bytes(self, group: str) -> float:
        return sum(s.acc["shuffle bytes written"] for s in self.stages(group))

    def pipeline(self, group: str, wall_s: float, cores: int) -> dict[str, float]:
        """Layer split of one extraction rep: scan + explode + round-robin
        exchange, the mapInPandas stage, and the groupBy reassembly."""
        st = self.stages(group)
        by = defaultdict(list)
        for s in st:
            by[s.kind].append(s)

        def total(kind: str, name: str) -> float:
            return sum(s.acc[name] for s in by[kind])

        scan_s = sum(s.wall_s for s in by["scan"])
        udf_s = sum(s.wall_s for s in by["udf"])
        reasm_s = sum(s.wall_s for s in by["reassembly"])
        udf_tasks = [t for s in by["udf"] for t in s.task_s]
        return {
            "pipeline.jobs": self.n_jobs(group),
            "pipeline.scan_explode_s": scan_s,
            "pipeline.exchange_bytes": total("scan", "shuffle bytes written"),
            "pipeline.udf_stage_s": udf_s,
            "pipeline.python_boot_s": total("udf", _PY_BOOT) / 1e3,
            "pipeline.python_init_s": total("udf", _PY_INIT) / 1e3,
            "pipeline.python_total_s": total("udf", _PY_RUN) / 1e3,
            "pipeline.arrow_sent_bytes": total("udf", _PY_SENT),
            "pipeline.arrow_received_bytes": total("udf", _PY_RECV),
            "pipeline.udf_task_skew": (
                max(udf_tasks) / statistics.median(udf_tasks)
                if udf_tasks and statistics.median(udf_tasks) > 0
                else 0.0
            ),
            "pipeline.reassembly_s": reasm_s,
            "pipeline.reassembly_bytes": total("udf", "shuffle bytes written"),
            "pipeline.spill_bytes": sum(s.spill for s in st),
            "pipeline.gc_s": sum(s.gc_s for s in st),
            "pipeline.core_busy_frac": sum(s.run_s for s in st) / (wall_s * cores),
            "pipeline.residual_s": wall_s - scan_s - udf_s - reasm_s,
        }
