"""The benchmark's Spark session and Spark's own record of what it ran.

``Session`` builds a host-sized local session through the library's
``get_spark``; ``Session.shutdown_jvm()`` tears it down completely: the JVM
and the Python workers it forked have exited when it returns.

``EventLog`` reads the session's event log (written only in traced runs)
after the session stops: per-stage task metrics, SQL plan nodes and their
SQL metrics, grouped by the job description the benchmark set before each
action.
"""

from __future__ import annotations

import json
import os
import subprocess
import time
from collections import defaultdict

from . import host


class Session:
    def __init__(self, work: str, app: str, event_log: bool = False):
        from image_ocr_spark.session import get_spark

        self.cpus = host.cpus()
        self.heap_gb = host.heap_gb()
        self.events_dir = os.path.join(work, "events")
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        heap = f"{self.heap_gb}g"
        conf = {
            "spark.driver.memory": heap,
            # The library's JVM flags (G1, -Xms pinned to the heap) with
            # the default tiered JIT; the warm-up jobs absorb C2
            # compilation.  -XX:-UsePerfData keeps the JVM from writing
            # its counters file under /tmp, outside the checkout.
            "spark.driver.extraJavaOptions": (
                f"-Xms{heap} -XX:+UseG1GC -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
            ),
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log:
            os.makedirs(self.events_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.events_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        self.spark = get_spark(
            f"local[{self.cpus}]",
            app_name=app,
            shuffle_partitions=self.cpus,
            extra_conf=conf,
        )
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        self.sc.setCheckpointDir(os.path.join(work, "checkpoints"))
        self.app_id = self.sc.applicationId

    def label(self, text: str) -> None:
        """Tag every Spark job started from here on (event-log grouping)."""
        self.current = text
        self.sc.setJobDescription(text)

    @staticmethod
    def shutdown_jvm(timeout_s: float = 60) -> None:
        """End the gateway JVM and wait for it (and every process below
        this one) to exit."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()  # the JVM exits on EOF of its stdin
                try:
                    proc.wait(timeout_s)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout_s)
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.monotonic() + timeout_s
        while host.descendants(os.getpid()) and time.monotonic() < deadline:
            time.sleep(0.1)
        left = host.descendants(os.getpid())
        for pid in left:
            try:
                os.kill(pid, 9)
            except OSError:
                pass
        for pid in left:
            try:
                os.waitpid(pid, 0)
            except ChildProcessError:
                pass  # not our direct child; init reaps it


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

_SQL = "org.apache.spark.sql.execution.ui."
_PY_NODES = ("MapInArrow", "MapInPandas", "ArrowEvalPython", "BatchEvalPython",
             "FlatMapGroupsIn", "FlatMapCoGroupsIn", "AggregateInPandas",
             "WindowInPandas", "PythonMapInArrow", "ArrowWindowPython",
             "ArrowAggregatePython")


def _walk(plan: dict):
    yield plan
    for child in plan.get("children", ()):
        yield from _walk(child)


class EventLog:
    def __init__(self, events_dir: str, app_id: str):
        path = os.path.join(events_dir, app_id)
        self.jobs: dict = {}
        self.stages: dict = defaultdict(
            lambda: {"run_ms": 0, "cpu_ns": 0, "gc_ms": 0, "sw_bytes": 0,
                     "sr_bytes": 0, "task_sr": [], "done": False}
        )
        self.exec_desc: dict = {}
        self.exec_ms: dict = {}
        self.plans: dict = defaultdict(list)  # exec id -> plan infos, in order
        self.acc_meta: dict = {}  # accumulator id -> (node name, metric, type)
        self.acc_exec: dict = {}  # accumulator id -> exec id
        self.acc: dict = defaultdict(int)
        with open(path) as fh:
            for line in fh:
                self._event(json.loads(line))

    def _add_metrics(self, eid, node_name, metrics) -> None:
        for m in metrics:
            self.acc_meta[m["accumulatorId"]] = (node_name, m["name"], m["metricType"])
            self.acc_exec[m["accumulatorId"]] = eid

    def _add_plan(self, eid, plan: dict) -> None:
        self.plans[eid].append(plan)
        for node in _walk(plan):
            self._add_metrics(eid, node["nodeName"], node.get("metrics", ()))

    def _event(self, ev: dict) -> None:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            self.jobs[ev["Job ID"]] = {
                "desc": props.get("spark.job.description"),
                "exec": props.get("spark.sql.execution.id"),
                "stages": ev["Stage IDs"],
            }
        elif kind == "SparkListenerTaskEnd":
            st = self.stages[ev["Stage ID"]]
            tm = ev.get("Task Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            read = sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            st["run_ms"] += tm.get("Executor Run Time", 0)
            st["cpu_ns"] += tm.get("Executor CPU Time", 0)
            st["gc_ms"] += tm.get("JVM GC Time", 0)
            st["sw_bytes"] += sw.get("Shuffle Bytes Written", 0)
            st["sr_bytes"] += read
            st["task_sr"].append(read)
            for a in (ev.get("Task Info") or {}).get("Accumulables", ()):
                # SQL metric updates are logged as decimal strings
                if str(a.get("Update", "")).lstrip("-").isdigit():
                    self.acc[a["ID"]] += int(a["Update"])
        elif kind == "SparkListenerStageCompleted":
            self.stages[ev["Stage Info"]["Stage ID"]]["done"] = True
        elif kind == _SQL + "SparkListenerSQLExecutionStart":
            self.exec_desc[ev["executionId"]] = ev.get("description")
            self.exec_ms[ev["executionId"]] = -ev["time"]
            self._add_plan(ev["executionId"], ev["sparkPlanInfo"])
        elif kind == _SQL + "SparkListenerSQLExecutionEnd":
            self.exec_ms[ev["executionId"]] = self.exec_ms.get(ev["executionId"], 0) + ev["time"]
        elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
            self._add_plan(ev["executionId"], ev["sparkPlanInfo"])
        elif kind == _SQL + "SparkListenerSQLAdaptiveSQLMetricUpdates":
            for m in ev["sqlPlanMetrics"]:
                self.acc_meta.setdefault(m["accumulatorId"], ("?", m["name"], m["metricType"]))
                self.acc_exec[m["accumulatorId"]] = ev["executionId"]
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            for acc_id, value in ev["accumUpdates"]:
                self.acc[acc_id] += value

    # -- selection by job description ------------------------------------

    def execs(self, label: str) -> list:
        return [e for e, d in self.exec_desc.items() if d == label]

    def stage_ids(self, label: str) -> list:
        ids = set()
        for job in self.jobs.values():
            if job["desc"] == label:
                ids.update(s for s in job["stages"] if self.stages[s]["done"])
        return sorted(ids)

    def totals(self, label: str) -> dict:
        """Task metrics summed over every completed stage of ``label``."""
        sts = [self.stages[s] for s in self.stage_ids(label)]
        return {
            "stages": len(sts),
            "task_run_s": sum(s["run_ms"] for s in sts) / 1e3,
            "task_cpu_s": sum(s["cpu_ns"] for s in sts) / 1e9,
            "gc_s": sum(s["gc_ms"] for s in sts) / 1e3,
            "shuffle_bytes": sum(s["sw_bytes"] for s in sts),
        }

    def stages_of(self, label: str) -> list:
        return [self.stages[s] for s in self.stage_ids(label)]

    def metric(self, label: str, node_prefix: str, name: str) -> float:
        """SQL metric ``name`` summed over plan nodes of ``label`` whose name
        starts with ``node_prefix``, in base units (bytes, rows, seconds)."""
        execs = set(self.execs(label))
        total = 0.0
        for acc_id, (node, metric, mtype) in self.acc_meta.items():
            if self.acc_exec.get(acc_id) in execs and node.startswith(node_prefix) and metric == name:
                v = self.acc.get(acc_id, 0)
                total += v / 1e3 if mtype == "timing" else v / 1e9 if mtype == "nsTiming" else v
        return total

    def final_nodes(self, label: str) -> list:
        """Node names of the last (adaptive) plan of every execution."""
        return [n["nodeName"] for e in self.execs(label) for n in _walk(self.plans[e][-1])]

    def summary(self) -> dict:
        """Spark's own record per label: SQL execution wall, jobs, stage
        task totals."""
        out = {}
        for label in sorted({d for d in self.exec_desc.values() if d} |
                            {j["desc"] for j in self.jobs.values() if j["desc"]}):
            out[label] = dict(
                self.totals(label),
                sql_s=sum(self.exec_ms.get(e, 0) for e in self.execs(label)) / 1e3,
                jobs=sum(j["desc"] == label for j in self.jobs.values()),
            )
        return out

    @staticmethod
    def is_python_node(name: str) -> bool:
        return name.startswith(_PY_NODES)
